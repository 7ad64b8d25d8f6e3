package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(Stats.median(Seq(1.0, 9.0, 2.0)) == 2.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("rates and recall") {
    assert(Stats.perSecond(300, 1.5) == 200.0)
    assertThrows[IllegalArgumentException](Stats.perSecond(1, 0))
    val truth = Map(1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(5L, 6L))
    assert(Stats.recall(truth, truth) == 1.0)
    assert(Stats.recall(truth, Map(1L -> Seq(1L, 2L, 9L, 8L))) == 0.25)
  }

  test("interval unions count overlapping time once") {
    assert(Spans.union(Nil) == 0)
    assert(Spans.union(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Spans.union(Seq((3L, 3L), (4L, 2L))) == 0)
  }

  test("a job belongs to the family whose file appears first in its call site") {
    val details =
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:100)
        |graft.ext.IndexStore$.publishAppend(IndexStore.scala:210)
        |graft.ext.KnnGraphIndex$.insert(KnnGraphIndex.scala:360)
        |graft.ext.CorpusStore$.append(CorpusStore.scala:170)""".stripMargin
    assert(Layers.familyOf(details).contains("graph"))
    assert(Layers.familyOf("graft.ext.Ingest$.admit(Ingest.scala:90)").isEmpty)
  }

  test("the result line has exactly the contract's keys") {
    val line = Report.json(correct = true, 3, 0,
      Seq(Report.Metric("setup_s", 1.25, "s"), Report.Metric("x", Double.NaN, "ms")))
    assert(line == """{"correct": true, "attempted": 3, "failed": 0, "metrics": """ +
      """{"setup_s": {"value": 1.25, "unit": "s"}, "x": {"value": 0, "unit": "ms"}}}""")
  }

  test("store listing separates live, retired and metadata bytes") {
    val root = Files.createTempDirectory("scan")
    val table = Files.createDirectories(root.resolve("t"))
    Files.createDirectories(table.resolve("_manifest"))
    Files.createDirectories(table.resolve("seg-a"))
    Files.createDirectories(table.resolve("seg-b"))
    Files.write(table.resolve("seg-a/part-0"), Array.fill[Byte](10)(1))
    Files.write(table.resolve("seg-b/part-0"), Array.fill[Byte](7)(1))
    Files.write(table.resolve("_manifest/v000000000001"), "seg-a\n".getBytes)
    Files.write(table.resolve("_manifest/v000000000002"), "#op=append\nseg-b\n".getBytes)
    val u = StoreScan.usage(Seq(root))
    assert(u.versions == 2)
    assert(u.liveFiles == 1)
    assert(u.retiredBytes == 10)
    assert(u.diskBytes == 10 + 7 + 6 + 17)
  }
}
