package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{CorpusStore, DedupIndex, EmbeddingSearch, IndexStore,
  Ingest, IvfIndex, KnnGraphIndex, Takedown, TextSearch}

/** A base corpus under the five surfaces `Ingest.admit` drives: the store
  * of record, BM25, dedup, IVF and the kNN graph, all registered under
  * one root.
  */
final class Surfaces(docs: Int) {
  val cells = 16
  var gen: CorpusGen = _
  var corpus: mutable.ArrayBuffer[CorpusGen.Doc] = _
  var root, inputs: Path = _
  var dirs: Map[String, Path] = Map.empty
  var inputBytes = 0L

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    gen = CorpusGen(ctx.seed)
    corpus = mutable.ArrayBuffer.from((0 until docs).map(i => gen.doc(i.toLong)))
    inputs = ctx.freshDir("corpus/in")
    inputBytes = gen.write(inputs.resolve("base.jsonl"), corpus.toSeq)
    root = ctx.freshDir("corpus/root")
    dirs = Surfaces.kinds.map(k => k -> ctx.freshDir(s"corpus/$k")).toMap
    val base = Surfaces.read(spark, inputs.resolve("base.jsonl")).cache()
    try {
      val text = base.select(col("id").as("doc_id"), col("text"))
      val embs = base.select(col("id").as("vec_id"), col("emb").as("embedding"))
      CorpusStore.build(base, col("id"), dir("store"))
      TextSearch.buildAndSave(text, col("doc_id"), col("text"), dir("bm25"),
        buckets = 8)
      DedupIndex.build(text, col("doc_id"), col("text"), dir("dedup"))
      IvfIndex.save(IvfIndex.build(embs, k = cells), dir("ivf"))
      KnnGraphIndex.build(embs, dir("graph"), k = 16, iters = 2)
    } finally { base.unpersist(); () }
    Surfaces.kinds.foreach(k =>
      Takedown.register(spark, root.toString, Takedown.Surface(k, dir(k))))
  }

  def dir(kind: String): String = dirs(kind).toString

  /** The live store of record as (vec_id, embedding). */
  def embeddings(spark: SparkSession): DataFrame =
    CorpusStore.read(spark, dir("store"))
      .select(col("id").as("vec_id"), col("emb").as("embedding"))

  def versions(spark: SparkSession): Map[String, Long] =
    Surfaces.kinds.map(k => k -> IndexStore.snapshot(spark, dir(k)).version).toMap

  def roots: Seq[Path] = root +: Surfaces.kinds.map(dirs)
}

object Surfaces {
  val kinds: Seq[String] = Seq("store", "bm25", "dedup", "ivf", "graph")

  def read(spark: SparkSession, path: Path): DataFrame =
    spark.read.schema("id BIGINT, text STRING, emb ARRAY<DOUBLE>")
      .json(path.toString)

  def vectors(spark: SparkSession, qs: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    qs.toDF("vec_id", "embedding")
  }

  /** `query_id -> ids by rank` from a (query_id, <id col>, <rank col>) frame. */
  def ranked(df: DataFrame, id: String, rank: String): Map[Long, Seq[Long]] =
    df.select(col("query_id").cast("long"), col(id).cast("long"),
        col(rank).cast("long")).collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getLong(2)).map(_.getLong(1)) }
}

/** The corpus curation loop: deliveries of ~100 documents through
  * `Ingest.admit`, the write path of every index family under one
  * durable intent, each followed by one round of fixed-size query
  * batches against BM25, IVF and the graph, with an exact scan as the
  * reference every ANN answer is scored against.
  *
  * Each delivery plants near-duplicates of earlier documents. The
  * first delivery is sent twice; the replay must admit nothing. Query
  * ground truth is computed in plain Scala from the generated vectors of
  * the live corpus.
  */
final class CorpusAdmitSearch extends Workload {
  private val baseDocs = 500
  private val deliveryDocs = 100
  private val nearDups = 5
  private val batch = 32
  private val k = 10
  private val nProbe = 4
  val name = "corpus_admit_search"
  val setupRepeats = 2
  private val s = new Surfaces(baseDocs)
  // per-query exact and ANN answers of the current run, for recall
  private val truth = mutable.HashMap.empty[Long, Seq[Long]]
  private val ivfHits = mutable.HashMap.empty[Long, Seq[Long]]
  private val graphHits = mutable.HashMap.empty[Long, Seq[Long]]

  def setup(ctx: Ctx): Unit = s.setup(ctx)

  def probe(ctx: Ctx, i: Int): Double = exactBatch(ctx, 10000 + i)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rnd = new java.util.SplittableRandom(BillingGen.mix(ctx.seed, 91L))
    val admitS = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    Seq(truth, ivfHits, graphHits).foreach(_.clear())
    var delivered, admitted, fresh = 0L
    var inputBytes = s.inputBytes
    var nextId = baseDocs.toLong
    var storeRows = baseDocs.toLong
    var opSeconds = 0.0

    def admit(name: String, path: Path, docs: Seq[CorpusGen.Doc],
        replay: Boolean): Double = {
      val before = s.versions(spark)
      delivered += docs.size
      // the replay's jobs stay out of the ext.admit span: its per-call
      // counters describe admits that land rows
      def call() = Ingest.admit(spark, s.root.toString, Surfaces.read(spark, path),
        col("id"))
      ctx.op(name)(if (replay) call() else ctx.spans("ext.admit")(call())) { (c, _) =>
        val rows = CorpusStore.read(spark, s.dir("store")).count()
        admitted += rows - storeRows
        c.equal("store rows after admit", rows,
          storeRows + (if (replay) 0 else docs.size))
        storeRows = rows
        val after = s.versions(spark)
        Surfaces.kinds.foreach(k => c.equal(s"$k version after admit", after(k),
          before(k) + (if (replay) 0 else 1)))
        if (!replay) {
          // the delivery reads back from the store of record
          val d = docs(rnd.nextInt(docs.size))
          val text = CorpusStore.read(spark, s.dir("store"))
            .filter(col("id") === d.id).select("text").collect().map(_.getString(0))
          c.equal(s"store text of ${d.id}", text.toSeq, Seq(d.text))
        }
      }
    }

    Harness.loop(ctx.seconds, minOps = 1) { i =>
      val docs = (0 until deliveryDocs).map { j =>
        val id = nextId + j
        if (j < nearDups) s.gen.doc(id, Some(rnd.nextLong(nextId)))
        else s.gen.doc(id)
      }
      nextId += deliveryDocs
      val path = s.inputs.resolve(f"delivery-$i%04d.jsonl")
      inputBytes += s.gen.write(path, docs)
      val dt = admit(s"admit $i", path, docs, replay = false)
      admitS += dt; opSeconds += dt
      fresh += docs.size; s.corpus ++= docs
      // the first delivery is sent again and must admit nothing
      if (i == 0) opSeconds += admit("replay 0", path, docs, replay = true)
      val reads = queryRound(ctx, i)
      readMs ++= reads.map(_ * 1000); opSeconds += reads.sum
    }
    val usage = StoreScan.usage(s.roots)
    Outcome(
      endToEnd = Seq(
        Report.Metric("op_s_p50", Stats.median(admitS.toSeq), "s"),
        Report.Metric("items_per_s", Stats.perSecond(fresh, opSeconds), "1/s"),
        Report.Metric("read_ms_p50", Stats.percentile(readMs.toSeq, 50), "ms"),
        Report.Metric("read_ms_p90", Stats.percentile(readMs.toSeq, 90), "ms"),
        Report.Metric("stored_bytes_per_input_byte",
          usage.diskBytes.toDouble / inputBytes, "B/B")),
      layers = Seq(
        Report.Metric("ext.admit.admitted_per_delivered_row",
          admitted.toDouble / delivered, "ratio"),
        Report.Metric("ext.ivf.recall_at_10", Stats.recall(truth.toMap, ivfHits.toMap), "ratio"),
        Report.Metric("ext.graph.recall_at_10", Stats.recall(truth.toMap, graphHits.toMap), "ratio")) ++
        StoreScan.metrics(usage))
  }

  private def answers(c: Checks, what: String, got: Map[Long, Seq[Long]],
      want: Seq[Long]): Unit = {
    val ids = s.corpus.indices.map(_.toLong).toSet
    c.equal(s"$what queries answered", got.keySet, want.toSet)
    got.foreach { case (q, hits) =>
      c.equal(s"$what hits for query $q", hits.size, k)
      c.that(s"$what query $q returned ids outside the corpus", hits.forall(ids))
    }
  }

  /** One batch per family; returns each batch's seconds. */
  private def queryRound(ctx: Ctx, r: Int): Seq[Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val vecs = s.gen.queries(r, batch)
    val terms = s.gen.termQueries(r, batch)
    val qids = vecs.map(_._1)
    val embs = s.embeddings(spark)
    Seq(
      ctx.op(s"bm25 batch $r")(ctx.spans("ext.bm25.search")(Surfaces.ranked(
        TextSearch.searchSaved(spark, s.dir("bm25"), terms.toDF("qid", "qterms"),
          col("qid"), col("qterms"), k = k), "id", "rn"))) { (c, got) =>
        answers(c, "bm25", got, terms.map(_._1))
      },
      ctx.op(s"ivf batch $r")(ctx.spans("ext.ivf.search")(Surfaces.ranked(
        IvfIndex.searchVectors(IvfIndex.load(spark, s.dir("ivf"), embs),
          Surfaces.vectors(spark, vecs), k = k, nProbe = nProbe),
        "neighbor_id", "rank"))) { (c, got) =>
        answers(c, "ivf", got, qids); ivfHits ++= got
      },
      ctx.op(s"graph batch $r")(ctx.spans("ext.graph.search")(Surfaces.ranked(
        KnnGraphIndex.search(spark, s.dir("graph"), Surfaces.vectors(spark, vecs),
          k = k), "neighbor_id", "rank"))) { (c, got) =>
        answers(c, "graph", got, qids); graphHits ++= got
      },
      exactBatch(ctx, r))
  }

  /** The exact scan over batch `r`'s query vectors, checked score by
    * score against cosines computed in plain Scala; returns its seconds.
    */
  private def exactBatch(ctx: Ctx, r: Int): Double = {
    val spark = ctx.spark
    val vecs = s.gen.queries(r, batch)
    val exact = vecs.map { case (q, v) => q -> CorpusGen.exactTopK(s.corpus.toSeq, v, k) }.toMap
    truth ++= exact
    ctx.op(s"exact batch $r")(ctx.spans("ext.exact.search")(
      EmbeddingSearch.bruteForceTopKFor(s.embeddings(spark),
        Surfaces.vectors(spark, vecs), k)
        .select("query_id", "neighbor_id", "cos", "rank").collect().toSeq)) {
      (c, got) =>
        val byQ = got.groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(3)) }
        answers(c, "exact", byQ.map { case (q, rs) => q -> rs.map(_.getLong(1)) },
          vecs.map(_._1))
        // scores must match rank by rank (near-duplicates make tied ids
        // ambiguous, not scores)
        vecs.foreach { case (q, v) =>
          val want = exact(q).map(id => CorpusGen.cosine(v, s.corpus(id.toInt).emb))
          val have = byQ.getOrElse(q, Nil).map(_.getDouble(2))
          c.that(s"exact scores for query $q", have.size == want.size &&
            have.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-5 })
        }
    }
  }
}
