package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans the benchmark opens around its own calls into the engine. One
  * client issues every call, so spans never overlap and a Spark job
  * belongs to the span whose interval holds its submission time.
  */
final class Spans {
  import Spans.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  @volatile var recording = true

  def apply[A](name: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f
    finally if (recording) done += Span(name, t0, System.currentTimeMillis())
  }

  def all: Seq[Span] = done.toSeq
}

/** Per-job Spark counters, collected by a listener the benchmark
  * registers only for a traced run, and kept in memory until the end.
  */
final class JobListener extends SparkListener {
  import JobListener.{Job, Stage}

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val failed = new ConcurrentHashMap[Int, Long]()
  private val queries = new ConcurrentHashMap[Long, (String, Option[Long])]()

  /** A SQL query's call site, taken on the thread that ran the query. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: SparkListenerSQLExecutionStart =>
      queries.put(q.executionId, (q.details,
        q.rootExecutionId.map(_.asInstanceOf[Long])))
      ()
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // every stage of a job carries the job's call site; the result
    // stage (highest id) is never one shared with an earlier job
    val own = e.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details).getOrElse("")
    // jobs that adaptive execution and broadcasts launch from Spark's
    // own thread pools keep only pool frames: append the call site of
    // the query (and its root query) they belong to
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val query = exec.flatMap(id => Option(queries.get(id))).toSeq.flatMap {
      case (details, root) =>
        details +: root.flatMap(r => Option(queries.get(r))).map(_._1).toSeq
    }
    jobs.put(e.jobId, Job(e.jobId, e.time, (own +: query).mkString("\n")))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnd.put(e.jobId, e.time); ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages.put((si.stageId, si.attemptNumber()), Stage(
      si.numTasks, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) failed.merge(e.stageId, 1L, _ + _)

  /** Counters summed over the jobs `keep` selects. `intervals` are the
    * span windows whose time not covered by any selected job is driver
    * time.
    */
  def counters(keep: Job => Boolean,
      intervals: Seq[(Long, Long)]): Map[String, Double] = {
    val sel = jobs.values.asScala.filter(keep).toSeq
    val ids = sel.map(_.id).toSet
    val owned = stages.asScala.toSeq.filter { case ((s, _), _) =>
      Option(stageOwner.get(s)).exists(ids)
    }
    val st = owned.map(_._2)
    val covered = intervals.map { case (lo, hi) =>
      Spans.union(sel.map(j => (math.max(lo, j.startMs),
        math.min(hi, Option(jobEnd.get(j.id)).map(_.longValue).getOrElse(hi)))))
    }.sum
    val wall = intervals.map { case (lo, hi) => hi - lo }.sum
    Map(
      "jobs" -> sel.size.toDouble,
      "stages" -> st.size.toDouble,
      "tasks" -> st.map(_.tasks.toLong).sum.toDouble,
      "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "input_records" -> st.map(_.inputRecords).sum.toDouble,
      "output_bytes" -> st.map(_.outputBytes).sum.toDouble,
      "failed_tasks" -> owned.map(_._1._1).distinct
        .map(s => failed.getOrDefault(s, 0L).longValue).sum.toDouble,
      "driver_s" -> math.max(0L, wall - covered) / 1000.0)
  }
}

object JobListener {
  final case class Job(id: Int, startMs: Long, details: String)
  final case class Stage(tasks: Int, cpuNs: Long, shuffleWrite: Long,
      shuffleRead: Long, inputRecords: Long, outputBytes: Long)
}

object Spans {
  final case class Span(name: String, startMs: Long, endMs: Long)

  /** Total length of the union of `[lo, hi)` intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }
}

/** Turns spans and job counters into the per-layer metrics. */
object Layers {

  /** Engine source files that identify an ingest surface family, in the
    * order they are tried against each call-site line.
    */
  val families: Seq[(String, String)] = Seq(
    "store" -> "CorpusStore.scala", "bm25" -> "TextSearch.scala",
    "dedup" -> "DedupIndex.scala", "ivf" -> "IvfIndex.scala",
    "graph" -> "KnnGraphIndex.scala")

  /** The family whose source file appears first (innermost frame first)
    * in a job's call-site details; None for the intent write and the
    * liveness probes, which no single family owns.
    */
  def familyOf(details: String): Option[String] =
    details.linesIterator.map(line =>
      families.find { case (_, file) => line.contains(s"($file:") }.map(_._1))
      .collectFirst { case Some(f) => f }

  val spanNames: Seq[String] = Seq("billing.append", "billing.rollups",
    "billing.report", "billing.read", "ext.admit", "ext.bm25.search",
    "ext.ivf.search", "ext.graph.search", "ext.exact.search")

  val spanCounters: Seq[(String, String)] = Seq(
    "calls" -> "count", "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "task_cpu_s" -> "s",
    "shuffle_write_bytes" -> "B", "shuffle_read_bytes" -> "B",
    "input_records" -> "count", "output_bytes" -> "B")

  val familyCounters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "task_cpu_s" -> "s")

  /** Per-call values for every span (zeros for a span the workload does
    * not open) and per-admit values for every ingest family.
    */
  def metrics(spans: Seq[Spans.Span], jl: JobListener): Seq[Report.Metric] = {
    val bySpan = spans.groupBy(_.name)
    def owner(j: JobListener.Job): Option[Spans.Span] =
      spans.find(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
    val spanMetrics = spanNames.flatMap { name =>
      val ss = bySpan.getOrElse(name, Nil)
      val calls = ss.size
      val iv = ss.map(s => (s.startMs, s.endMs))
      val c = if (calls == 0) Map.empty[String, Double]
        else jl.counters(j => owner(j).exists(_.name == name), iv)
      val wall = iv.map { case (a, b) => b - a }.sum / 1000.0
      spanCounters.map { case (k, unit) =>
        val v = k match {
          case "calls" => calls.toDouble
          case "wall_s" => if (calls == 0) 0.0 else wall / calls
          case other => if (calls == 0) 0.0 else c(other) / calls
        }
        Report.Metric(s"$name.$k", v, unit)
      }
    }
    val admits = bySpan.getOrElse("ext.admit", Nil)
    val familyMetrics = (families.map(_._1) :+ "other").flatMap { f =>
      val c = if (admits.isEmpty) Map.empty[String, Double]
        else jl.counters(j => owner(j).exists(_.name == "ext.admit") &&
          familyOf(j.details).getOrElse("other") == f, Nil)
      familyCounters.map { case (k, unit) =>
        Report.Metric(s"ext.admit.$f.$k",
          if (admits.isEmpty) 0.0 else c(k) / admits.size, unit)
      }
    }
    spanMetrics ++ familyMetrics :+ Report.Metric("spark.failed_tasks",
      jl.counters(_ => true, Nil)("failed_tasks"), "count")
  }
}

/** Bytes and versions under the benchmark's store roots, by listing. A
  * manifest directory (`_manifest` or `_raw_manifest`) marks a table;
  * its newest version lists the table's live entries (files or segment
  * dirs). Anything else under a table that is not metadata is retired:
  * kept on disk for older readers until GC reclaims it.
  */
object StoreScan {
  import java.nio.file.{Files, Path}

  final case class Usage(versions: Long, liveFiles: Long, diskBytes: Long,
      retiredBytes: Long)

  private val manifestDirs = Set("_manifest", "_raw_manifest")

  private def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else if (Files.isRegularFile(p)) Seq(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  private def isMeta(rel: Path): Boolean =
    rel.iterator().asScala.exists { part =>
      val n = part.toString; n.startsWith("_") || n.startsWith(".")
    }

  def metrics(u: Usage): Seq[Report.Metric] = Seq(
    Report.Metric("store.versions", u.versions.toDouble, "count"),
    Report.Metric("store.live_files", u.liveFiles.toDouble, "count"),
    Report.Metric("store.disk_bytes", u.diskBytes.toDouble, "B"),
    Report.Metric("store.retired_bytes", u.retiredBytes.toDouble, "B"))

  def usage(roots: Seq[Path]): Usage = {
    val all = roots.flatMap(filesUnder)
    val tables = roots.flatMap { r =>
      if (!Files.exists(r)) Nil
      else {
        val s = Files.walk(r)
        try s.iterator().asScala.filter(p =>
          Files.isDirectory(p) && manifestDirs(p.getFileName.toString)).toVector
        finally s.close()
      }
    }
    var versions = 0L; var live = 0L; var retired = 0L
    tables.foreach { mdir =>
      val table = mdir.getParent
      val vs = Files.list(mdir)
      val vfiles = try vs.iterator().asScala
          .filter(_.getFileName.toString.matches("v\\d{12}")).toVector.sorted
        finally vs.close()
      versions += vfiles.size
      val liveSet = vfiles.lastOption.toSeq.flatMap { v =>
        Files.readAllLines(v).asScala.map(_.trim).filter(l =>
          l.nonEmpty && !l.startsWith("#"))
          .flatMap(l => filesUnder(table.resolve(l)))
      }.toSet
      live += liveSet.size
      retired += filesUnder(table).filter { f =>
        val rel = table.relativize(f)
        !liveSet(f) && !isMeta(rel) && !nestedTable(table, f, tables)
      }.map(Files.size).sum
    }
    Usage(versions, live, all.map(Files.size).sum, retired)
  }

  /** Files under a nested table belong to that table, not the outer one. */
  private def nestedTable(table: Path, f: Path, tables: Seq[Path]): Boolean =
    tables.exists { m =>
      val t = m.getParent
      t != table && t.startsWith(table) && f.startsWith(t)
    }
}
