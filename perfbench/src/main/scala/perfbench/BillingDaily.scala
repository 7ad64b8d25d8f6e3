package perfbench

import java.nio.file.Path
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.billing.{BillingStore, Ingest, Insights}

import BillingDaily.{Read, ReportOut}

/** The reference's own daily job, day after day: land a Hive-partitioned
  * CSV delivery idempotently, recompute the four rollups in full, render
  * the insights report, then serve a burst of dashboard reads.
  *
  * Setup lands `historyDays` deliveries as one backfill. Every run then
  * re-delivers day 0 in full inside its second delivery.
  */
final class BillingDaily(rowsPerDay: Int = 2000, historyDays: Int = 6,
    readsPerDelivery: Int = 50) extends Workload {
  val name = "billing_daily"
  val setupRepeats = 2

  private var gen: BillingGen = _
  private var tally: BillingGen.Tally = _
  private var store: BillingStore = _
  private var inputs: Path = _
  private var storeDir: Path = _
  private var inputBytes = 0L
  private var stagedRows = 0L
  private var appendedRows = 0L
  private var rowsReturned = 0L
  private var lastDay = 0
  private lazy val probeRnd = new java.util.SplittableRandom(BillingGen.mix(0L, 78L))

  def setup(ctx: Ctx): Unit = {
    gen = BillingGen(ctx.seed, rowsPerDay)
    tally = new BillingGen.Tally
    inputs = ctx.freshDir("billing/in")
    storeDir = ctx.freshDir("billing/store")
    store = BillingStore(storeDir.toString)
    inputBytes = 0L; stagedRows = 0L; appendedRows = 0L; rowsReturned = 0L
    lastDay = historyDays - 1
    val deliveries = (0 until historyDays).map(d => d -> gen.delivery(d))
    val dir = inputs.resolve("history")
    deliveries.foreach { case (d, ps) => inputBytes += gen.writeDelivery(dir, d, ps) }
    val want = tally.append(deliveries.flatMap(_._2))
    val got = land(ctx, dir, 0, historyDays - 1)
    require(got == want, s"history landed $got rows, want $want")
    store.rebuildAggregates(ctx.spark)
  }

  /** Land one Hive-tree delivery: backfill window, then dedup-append. */
  private def land(ctx: Ctx, dir: Path, from: Int, to: Int): Long =
    store.appendDedup(ctx.spark, Ingest.backfill(
      Ingest.readHiveTree(ctx.spark, dir.toString),
      gen.date(from).toString, gen.date(to).toString))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rnd = new java.util.SplittableRandom(BillingGen.mix(ctx.seed, 77L))
    val deliveryS = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    var generated = 0L
    Harness.loop(ctx.seconds, minOps = 2) { i =>
      val day = historyDays + i
      lastDay = day
      val parts = gen.delivery(day, redeliver = if (i == 1) Some(0) else None)
      val dir = inputs.resolve(f"delivery-$day%04d")
      inputBytes += gen.writeDelivery(dir, day, parts)
      val rows = parts.map(_._2.size.toLong).sum
      generated += rows
      val want = tally.append(parts)
      deliveryS += ctx.op(s"delivery $day") {
        val n = ctx.spans("billing.append") {
          val first = parts.head._1
          val n = land(ctx, dir, first, day)
          if (ctx.tamper.contains("double_delivery")) {
            // a second landing that the natural key cannot catch
            val again = Ingest.backfill(Ingest.readHiveTree(spark, dir.toString),
              gen.date(first).toString, gen.date(day).toString)
              .withColumn("invoice_id", concat(col("invoice_id"), lit("-again")))
            store.appendDedup(spark, again)
          }
          n
        }
        ctx.spans("billing.rollups")(store.rebuildAggregates(spark))
        (n, ctx.spans("billing.report")(report(ctx)))
      } { case (c, (n, out)) =>
        stagedRows += rows; appendedRows += n
        c.equal("rows appended", n, want)
        checkReport(c, out)
      }
      (0 until readsPerDelivery).foreach { _ =>
        val read = dashboardRead(rnd, day)
        readMs += 1000 * ctx.op("dashboard read")(
          ctx.spans("billing.read")(read.run(ctx)))(read.check)
      }
    }
    val usage = StoreScan.usage(Seq(storeDir))
    Outcome(
      endToEnd = Seq(
        Report.Metric("op_s_p50", Stats.median(deliveryS.toSeq), "s"),
        Report.Metric("items_per_s", Stats.perSecond(generated,
          deliveryS.sum + readMs.sum / 1000), "1/s"),
        Report.Metric("read_ms_p50", Stats.percentile(readMs.toSeq, 50), "ms"),
        Report.Metric("read_ms_p90", Stats.percentile(readMs.toSeq, 90), "ms"),
        Report.Metric("stored_bytes_per_input_byte",
          usage.diskBytes.toDouble / inputBytes, "B/B")),
      layers = Seq(
        Report.Metric("billing.append.new_per_staged_row",
          appendedRows.toDouble / stagedRows, "ratio"),
        Report.Metric("billing.read.rows_returned", rowsReturned.toDouble, "count")) ++
        StoreScan.metrics(usage))
  }

  def probe(ctx: Ctx, i: Int): Double = {
    val read = dashboardRead(probeRnd, lastDay)
    ctx.op("dashboard read")(read.run(ctx))(read.check)
  }

  /** The insights report: the reference's queries over the store and its
    * rollups, rendered to markdown.
    */
  private def report(ctx: Ctx): ReportOut = {
    val spark = ctx.spark
    val raw = store.raw(spark)
    val total = Option(Insights.totalCreditUsage(raw).collect()(0).get(0))
      .map(_.asInstanceOf[Double])
      .map(t => if (ctx.tamper.contains("report_total")) t + 1.0 else t)
    val topUsers = Insights.topUsers(store.agg(spark, "user")).collect().toSeq
    val topRegions = Insights.topRegions(store.agg(spark, "region")).collect().toSeq
    val opFreq = Insights.operationFrequency(raw).collect().toSeq
    val rates = Insights.successRates(raw).collect().toSeq
    val files = Insights.ledgerSummary(store.ledger(spark)).collect()(0).getLong(0)
    val records = raw.count()
    ReportOut(total, topUsers, opFreq, rates, files, records,
      Insights.renderReport(total, topUsers, topRegions, opFreq, rates, files,
        records))
  }

  /** The report against the generator's tallies. */
  private def checkReport(c: Checks, r: ReportOut): Unit = {
    c.close("report total credit usage", r.total.getOrElse(0.0), tally.totalUsage)
    c.equal("report records", r.records, tally.rows)
    c.equal("operation counts sum", r.opFreq.map(_.getLong(1)).sum, tally.rows)
    c.equal("success-rate totals sum", r.rates.map(_.getLong(2)).sum, tally.rows)
    val best = tally.userIds.map(u => (-tally.forUser(u), u)).min
    c.equal("top user", r.topUsers.headOption.map(u => (u.getString(0), u.getLong(1))),
      Some((best._2, -best._1)))
    c.that("report renders the total",
      r.text.contains(f"${r.total.getOrElse(0.0)}%.2f"))
  }

  /** One seeded dashboard read, checked against the tallies. */
  private def dashboardRead(rnd: java.util.SplittableRandom, lastDay: Int): Read = {
    def epoch(d: LocalDate) = d.atStartOfDay().toEpochSecond(ZoneOffset.UTC)
    def counted(what: String, want: Long)(f: Ctx => Long) = Read(f, { (c, got) =>
      rowsReturned += got.asInstanceOf[Long]
      c.equal(what, got, want)
    })
    rnd.nextInt(3) match {
      case 0 =>
        val lo = epoch(gen.date(0)) + 3600L * rnd.nextInt(24 * (lastDay + 1))
        val hi = lo + 6 * 3600L
        counted(s"rawBetween($lo, $hi) rows", tally.between(lo, hi))(ctx =>
          store.rawBetween(ctx.spark, java.time.Instant.ofEpochSecond(lo),
            java.time.Instant.ofEpochSecond(hi)).count())
      case 1 =>
        val users = tally.userIds
        val u = users(rnd.nextInt(users.size))
        counted(s"rawForUser($u) rows", tally.forUser(u))(ctx =>
          store.rawForUser(ctx.spark, u).count())
      case _ =>
        val d0 = rnd.nextInt(lastDay + 1)
        val d1 = math.min(lastDay, d0 + rnd.nextInt(7))
        val want = (d0 to d1).map(d => gen.date(d) -> tally.forDay(gen.date(d))).toMap
        Read(ctx => dailyRows(store.agg(ctx.spark, "daily"), gen.date(d0), gen.date(d1)),
          { (c, got) =>
            rowsReturned += got.asInstanceOf[Map[_, _]].size
            c.equal(s"daily rollup days $d0..$d1", got, want)
          })
    }
  }

  private def dailyRows(daily: DataFrame, lo: LocalDate,
      hi: LocalDate): Map[LocalDate, Long] =
    daily.filter(make_date(col("year"), col("month"), col("day"))
        .between(lit(lo.toString).cast("date"), lit(hi.toString).cast("date")))
      .select("year", "month", "day", "transaction_count").collect()
      .map(r => LocalDate.of(r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
}

object BillingDaily {
  final case class ReportOut(total: Option[Double], topUsers: Seq[Row],
      opFreq: Seq[Row], rates: Seq[Row], files: Long, records: Long, text: String)

  /** A dashboard read: the engine call, and the check of its answer. */
  final case class Read(run: Ctx => Any, check: (Checks, Any) => Unit)
}
