package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  *
  * {{{
  * perfbench.Main --workload <billing_daily|corpus_admit_search>
  *   --seed <n> --seconds <s> --trace <0|1> --state <dir>
  * }}}
  *
  * One local Spark session, one closed-loop client. Set-up runs
  * `setupRepeats` times, each from empty directories, and `setup_s` is
  * their median. With `--trace 0` the last stdout line carries the
  * end-to-end metrics; with
  * `--trace 1` the workload runs with the job listener attached, and the
  * line carries the per-layer metrics; `trace.overhead_s` is the median
  * time of one short read with a listener attached minus without, over
  * alternating pairs. Every failed output check is listed on stderr.
  */
object Main {

  val workloads: Seq[String] = Seq("billing_daily", "corpus_admit_search")

  def workload(name: String): Workload = name match {
    case "billing_daily" => new BillingDaily
    case "corpus_admit_search" => new CorpusAdmitSearch
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${workloads.mkString(", ")})")
  }

  val perLayer: Seq[(String, String)] =
    Layers.spanNames.flatMap(n => Layers.spanCounters.map { case (k, u) => s"$n.$k" -> u }) ++
    (Layers.families.map(_._1) :+ "other").flatMap(f =>
      Layers.familyCounters.map { case (k, u) => s"ext.admit.$f.$k" -> u }) ++
    Seq("spark.failed_tasks" -> "count",
      "billing.append.new_per_staged_row" -> "ratio",
      "billing.read.rows_scanned_per_row_returned" -> "ratio",
      "ext.admit.admitted_per_delivered_row" -> "ratio",
      "ext.ivf.recall_at_10" -> "ratio", "ext.graph.recall_at_10" -> "ratio",
      "store.versions" -> "count", "store.live_files" -> "count",
      "store.disk_bytes" -> "B", "store.retired_bytes" -> "B",
      "trace.overhead_s" -> "s")

  /** Listener-on/listener-off pairs timed for `trace.overhead_s`. */
  val overheadPairs = 8

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, state: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", Paths.get(get("--state")).toAbsolutePath)
  }

  def session(state: Path): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", state.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", state.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workload(a.workload)
    Harness.sweep(a.state)
    Files.createDirectories(a.state)
    val spark = session(a.state)
    val line =
      try measure(spark, w, a)
      finally spark.stop()
    println(line)
    // the engine's commit pool threads must not keep the JVM alive
    System.exit(0)
  }

  /** Runs the workload; returns the result line. */
  def measure(spark: SparkSession, w: Workload, a: Args): String = {
    // JVM, codegen and parquet/json reader start-up, outside every timing
    spark.range(1000).selectExpr("sum(id)").collect()
    val ctx = new Ctx(spark, a.state.resolve("data"), a.seed, a.seconds)
    // a traced run reports no set-up time, so it sets up once
    val setups = (1 to (if (a.trace) 1 else w.setupRepeats)).map { i =>
      val t0 = System.nanoTime(); w.setup(ctx)
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"setup $i: $dt%.2f s"); dt
    }
    val metrics =
      if (!a.trace) {
        val out = timed("run")(w.run(ctx))
        Report.Metric("setup_s", Stats.median(setups), "s") +: out.endToEnd
      } else {
        val sc = spark.sparkContext
        val jl = new JobListener
        sc.addSparkListener(jl)
        val out = try timed("traced run")(w.run(ctx)) finally {
          ListenerDrain(sc)
          sc.removeSparkListener(jl)
        }
        // the overhead: the same short read, alternately with and
        // without a listener attached, outside every span
        ctx.spans.recording = false
        val (on, off) = (0 until 2 * overheadPairs).map { i =>
          val traced = (i / 2 + i) % 2 == 0
          val l = new JobListener
          if (traced) sc.addSparkListener(l)
          val dt = try w.probe(ctx, i) finally if (traced) {
            ListenerDrain(sc); sc.removeSparkListener(l)
          }
          (traced, dt)
        }.partition(_._1)
        val overhead = Stats.median(on.map(_._2)) - Stats.median(off.map(_._2))
        layerMetrics(ctx, jl, out, overhead)
      }
    val (attempted, failed) = (ctx.attempted, ctx.failed)
    ctx.failureLog.foreach(f => System.err.println(s"CHECK FAILED $f"))
    val finite = metrics.forall(m => !m.value.isNaN && !m.value.isInfinite)
    val correct = failed == 0 && finite && attempted > 0
    Report.json(correct, attempted, failed, metrics)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def timed[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally log(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private def layerMetrics(ctx: Ctx, jl: JobListener, out: Outcome,
      overhead: Double): Seq[Report.Metric] = {
    val measured = (Layers.metrics(ctx.spans.all, jl) ++ out.layers)
      .map(m => m.name -> m.value).toMap
    val derived = Map(
      "billing.read.rows_scanned_per_row_returned" -> {
        val returned = measured.getOrElse("billing.read.rows_returned", 0.0)
        if (returned == 0) 0.0
        else measured("billing.read.input_records") * measured("billing.read.calls") / returned
      },
      "trace.overhead_s" -> overhead)
    perLayer.map { case (n, u) =>
      Report.Metric(n, derived.getOrElse(n, measured.getOrElse(n, 0.0)), u)
    }
  }
}
