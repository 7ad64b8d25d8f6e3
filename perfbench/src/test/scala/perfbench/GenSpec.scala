package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
      root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def billingTree(seed: Long): Map[String, Seq[Byte]] = {
    val gen = BillingGen(seed, rowsPerDay = 300)
    val root = Files.createTempDirectory("gen-billing")
    (0 until 4).foreach(d => gen.writeDelivery(root, d,
      gen.delivery(d, redeliver = if (d == 3) Some(0) else None)))
    tree(root)
  }

  private def corpusBytes(seed: Long): Seq[Byte] = {
    val gen = CorpusGen(seed)
    val p = Files.createTempDirectory("gen-corpus").resolve("docs.jsonl")
    gen.write(p, (0L until 50L).map(gen.doc(_)) :+ gen.doc(50L, Some(7L)))
    Files.readAllBytes(p).toSeq
  }

  test("the same seed writes byte-identical inputs") {
    assert(billingTree(7) == billingTree(7))
    assert(corpusBytes(7) == corpusBytes(7))
  }

  test("another seed writes other inputs") {
    assert(billingTree(7) != billingTree(8))
    assert(corpusBytes(7) != corpusBytes(8))
  }

  test("a delivery carries fresh rows, re-sent rows and NULL keys as planned") {
    val gen = BillingGen(3, rowsPerDay = 1000, resendShare = 0.1, nullKeyRows = 5)
    val parts = gen.delivery(2).toMap
    assert(parts.keySet == Set(1, 2))
    assert(parts(2) == gen.fresh(2))
    assert(parts(2).count(_.resource == null) == 5)
    val resent = parts(1)
    assert(resent.forall(gen.fresh(1).contains))
    assert(resent.size > 50 && resent.size < 150, resent.size)
    val redo = gen.delivery(4, redeliver = Some(0)).toMap
    assert(redo(0) == gen.fresh(0))
  }

  test("the tally follows the store's dedup-append semantics") {
    val gen = BillingGen(5, rowsPerDay = 500, nullKeyRows = 4)
    val t = new BillingGen.Tally
    assert(t.append(gen.delivery(0)) == 500)
    // day 1 re-sends part of day 0: only its NULL-key rows land again
    val parts = gen.delivery(1).toMap
    val resentNulls = parts(0).count(_.resource == null)
    assert(t.append(gen.delivery(1)) == 500 + resentNulls)
    // a full re-delivery of day 0 adds exactly day 0's NULL-key rows
    assert(t.append(Seq(0 -> gen.fresh(0))) == 4)
    assert(t.rows == 1000 + resentNulls + 4)
    assert(t.userIds.map(t.forUser).sum == t.rows)
  }

  test("a near-duplicate differs from its source in one word") {
    val gen = CorpusGen(11)
    val src = gen.doc(3)
    val dup = gen.doc(99, Some(3))
    val diff = src.text.split(' ').zip(dup.text.split(' ')).count { case (a, b) => a != b }
    assert(diff <= 1)
    assert(CorpusGen.cosine(src.emb, dup.emb) > 0.99)
  }

  test("exact top-k ranks a document's own vector first") {
    val gen = CorpusGen(13)
    val docs = (0L until 200L).map(gen.doc(_))
    docs.take(20).foreach(d => assert(CorpusGen.exactTopK(docs, d.emb, 5).head == d.id))
  }

  test("BM25 query terms come from the vocabulary") {
    val gen = CorpusGen(17)
    val vocab = gen.vocabulary.toSet
    assert(gen.vocabulary.size == 2000)
    gen.termQueries(0, 8).foreach { case (_, ts) => assert(ts.nonEmpty && ts.forall(vocab)) }
  }
}
