package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one closed-loop run shares across workloads: the session, the
  * state directory, the spans, and the op/check bookkeeping.
  */
final class Ctx(val spark: SparkSession, val state: Path, val seed: Long,
    val seconds: Double) {
  val spans = new Spans
  private var attemptedOps = 0L
  private var failedOps = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Set while a run tampers with its own outputs (tests only). */
  var tamper: Option[String] = None

  def attempted: Long = attemptedOps
  def failed: Long = failedOps
  def failureLog: Seq[String] = failures.toSeq

  /** One user-visible operation: counted as attempted, and as failed if
    * `body` throws or `check` finds its output wrong. Returns the wall
    * seconds of `body` alone; the checks run after the clock stops.
    */
  def op[A](name: String)(body: => A)(check: (Checks, A) => Unit): Double = {
    attemptedOps += 1
    val checks = new Checks
    val t0 = System.nanoTime()
    var dt = 0.0
    try {
      val out = body
      dt = (System.nanoTime() - t0) / 1e9
      check(checks, out)
    } catch {
      case e: Exception =>
        if (dt == 0.0) dt = (System.nanoTime() - t0) / 1e9
        checks.fail(s"threw ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
    }
    if (checks.errors.nonEmpty) {
      failedOps += 1
      failures ++= checks.errors.map(e => s"$name: $e")
    }
    dt
  }

  /** A fresh, empty directory under the run's state. */
  def freshDir(name: String): Path = {
    val p = state.resolve(name)
    Files.createDirectories(p.getParent)
    Harness.sweep(p)
    Files.createDirectories(p)
    p
  }
}

/** Output checks of one op. A check that fails does not stop the op;
  * it marks it failed.
  */
final class Checks {
  val errors = mutable.ArrayBuffer.empty[String]
  def fail(msg: String): Unit = errors += msg
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) fail(s"$what: got $got, want $want")
  def close(what: String, got: Double, want: Double, tol: Double = 1e-6): Unit =
    if (!(math.abs(got - want) <= tol * math.max(1.0, math.abs(want))))
      fail(s"$what: got $got, want $want")
  def that(what: String, ok: Boolean): Unit = if (!ok) fail(what)
}

/** The outcome of one workload run. `endToEnd` are the untraced
  * user-facing metrics; `layers` are extra per-layer values the workload
  * measured itself (ratios, store listing).
  */
final case class Outcome(endToEnd: Seq[Report.Metric],
    layers: Seq[Report.Metric])

trait Workload {
  def name: String
  /** How many times a run sets up; `setup_s` is their median. */
  def setupRepeats: Int
  /** Build the starting state in empty directories. Called several
    * times; the last call's state is what [[run]] uses.
    */
  def setup(ctx: Ctx): Unit
  /** The closed loop: issue ops until `ctx.seconds` have passed. */
  def run(ctx: Ctx): Outcome
  /** One short checked read against the state [[run]] left; returns its
    * seconds. Timed with and without the job listener to measure the
    * tracing overhead.
    */
  def probe(ctx: Ctx, i: Int): Double
}

object Harness {
  def sweep(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Run closed-loop iterations until `seconds` have elapsed and at
    * least `minOps` iterations ran.
    */
  def loop(seconds: Double, minOps: Int)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) { op(i); i += 1 }
  }
}
