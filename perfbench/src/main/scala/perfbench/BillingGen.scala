package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

/** Seeded billing deliveries in the reference's Hive layout
  * (`year=Y/month=M/day=D` directories of CSV files holding the 11 payload columns of
  * `Schemas.billingNoPartitionCols` under a header row).
  *
  * Day `d`'s fresh rows depend only on `(seed, d)`. Delivery `d` carries
  * day `d`'s fresh rows, a seeded share of day `d-1`'s rows re-sent
  * verbatim, and — for the one delivery named `redeliver` — every row of
  * an earlier day again. A few fresh rows per day have a NULL
  * `resource_id`: the reference's anti-join never matches them, so they
  * are re-inserted whenever they are re-sent.
  *
  * [[Tally]] replays the store's dedup-append semantics in plain Scala
  * (distinct natural key within a batch, NULL keys never match the
  * store), which gives every expected count and total the workload
  * checks the engine's answers against.
  */
final case class BillingGen(seed: Long, rowsPerDay: Int = 2000,
    resendShare: Double = 0.1, nullKeyRows: Int = 5) {
  import BillingGen._

  val firstDay: LocalDate = LocalDate.of(2025, 1, 1)
  def date(d: Int): LocalDate = firstDay.plusDays(d.toLong)

  /** The fresh rows of day `d`, sorted by timestamp. */
  def fresh(d: Int): Vector[Row] = {
    val rnd = new java.util.SplittableRandom(mix(seed, d.toLong))
    val dayStart = date(d).atStartOfDay().toEpochSecond(ZoneOffset.UTC)
    val rows = Vector.tabulate(rowsPerDay) { i =>
      val user = f"u${zipf(rnd, users)}%04d"
      Row(
        ts = dayStart + rnd.nextInt(86400),
        resource = if (i < nullKeyRows) null else f"r${rnd.nextInt(resources)}%05d",
        user = user,
        cents = 1L + rnd.nextInt(5000),
        region = regions(rnd.nextInt(regions.length)),
        tier = tiers(rnd.nextInt(tiers.length)),
        op = ops(rnd.nextInt(ops.length)),
        ok = rnd.nextInt(10) != 0,
        rtype = rtypes(rnd.nextInt(rtypes.length)),
        invoice = s"inv-$d-$i")
    }
    rows.sortBy(r => (r.ts, r.invoice))
  }

  /** The rows of delivery `d`, grouped by the day partition they belong
    * to. `redeliver` re-sends that whole earlier day inside this
    * delivery.
    */
  def delivery(d: Int, redeliver: Option[Int] = None): Seq[(Int, Vector[Row])] = {
    val resent =
      if (d == 0) Vector.empty
      else {
        val rnd = new java.util.SplittableRandom(mix(seed ^ 0x5eedL, d.toLong))
        fresh(d - 1).filter(_ => rnd.nextDouble() < resendShare)
      }
    val parts = mutable.LinkedHashMap[Int, Vector[Row]](d -> fresh(d))
    if (resent.nonEmpty) parts(d - 1) = resent
    redeliver.foreach { e =>
      require(e < d, s"re-delivery of day $e must precede delivery $d")
      parts(e) = parts.getOrElse(e, Vector.empty) ++ fresh(e)
    }
    parts.toSeq.sortBy(_._1)
  }

  /** Write one delivery under `root` as a Hive tree; returns the bytes
    * written. The file name carries the delivery index, so a re-sent
    * day lands as a new file next to nothing else in its tree.
    */
  def writeDelivery(root: Path, d: Int, parts: Seq[(Int, Vector[Row])]): Long =
    parts.map { case (day, rows) =>
      val dt = date(day)
      val dir = root.resolve(
        s"year=${dt.getYear}/month=${dt.getMonthValue}/day=${dt.getDayOfMonth}")
      Files.createDirectories(dir)
      val body = (header +: rows.map(_.csv)).mkString("", "\n", "\n")
        .getBytes(UTF_8)
      Files.write(dir.resolve(f"delivery-$d%04d.csv"), body)
      body.length.toLong
    }.sum
}

object BillingGen {
  val header: String = "timestamp,resource_id,user_id,credit_usage,region," +
    "service_tier,operation_type,success,resource_type,invoice_id,currency"

  private val regions = Array("us-east-1", "us-west-2", "eu-west-1",
    "eu-central-1", "ap-south-1", "ap-northeast-1")
  private val tiers = Array("free", "standard", "enterprise")
  private val ops = Array("read", "write", "delete", "list", "invoke")
  private val rtypes = Array("compute", "storage", "network", "database")
  private val users = 200
  private val resources = 500

  final case class Row(ts: Long, resource: String, user: String, cents: Long,
      region: String, tier: String, op: String, ok: Boolean, rtype: String,
      invoice: String) {
    /** The natural dedup key; None when a key column is NULL. */
    def key: Option[String] =
      Option(resource).map(r => s"$ts|$r|$user|$invoice")
    /** Batch-dedup identity: NULLs compare equal inside one batch. */
    def batchKey: String = s"$ts|$resource|$user|$invoice"
    def csv: String = {
      val t = java.time.LocalDateTime.ofEpochSecond(ts, 0, ZoneOffset.UTC)
        .toString.replace('T', ' ')
      val tsText = if (t.length == 16) t + ":00" else t
      s"$tsText,${Option(resource).getOrElse("")},$user,${cents / 100}." +
        f"${cents % 100}%02d,$region,$tier,$op,$ok,$rtype,$invoice,USD"
    }
  }

  /** SplitMix-style mixing so neighbouring (seed, d) pairs give
    * unrelated streams.
    */
  def mix(seed: Long, d: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + d * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A skewed draw from [0, n): a few heavy users, a long tail. */
  private def zipf(rnd: java.util.SplittableRandom, n: Int): Int = {
    val u = rnd.nextDouble()
    math.min(n - 1, (n * u * u * u).toInt)
  }

  /** The store's expected content, maintained row by row with the
    * engine's dedup-append semantics.
    */
  final class Tally {
    private val keys = mutable.HashSet.empty[String]
    private val perUser = mutable.HashMap.empty[String, Long]
    private val perDay = mutable.HashMap.empty[LocalDate, Long]
    private val stamps = mutable.ArrayBuffer.empty[Long]
    var rows = 0L
    var cents = 0L

    /** Apply one delivery; returns the rows the append must add. */
    def append(parts: Seq[(Int, Vector[Row])]): Long = {
      val batch = mutable.LinkedHashMap.empty[String, Row]
      parts.foreach(_._2.foreach(r => batch.getOrElseUpdate(r.batchKey, r)))
      val added = batch.valuesIterator.filter(r => r.key.forall(k => !keys(k))).toVector
      added.foreach { r =>
        r.key.foreach(keys += _)
        perUser(r.user) = perUser.getOrElse(r.user, 0L) + 1
        val day = java.time.LocalDateTime.ofEpochSecond(r.ts, 0, ZoneOffset.UTC)
          .toLocalDate
        perDay(day) = perDay.getOrElse(day, 0L) + 1
        stamps += r.ts
        cents += r.cents
      }
      rows += added.size
      added.size.toLong
    }

    def totalUsage: Double = cents / 100.0
    def forUser(u: String): Long = perUser.getOrElse(u, 0L)
    def forDay(d: LocalDate): Long = perDay.getOrElse(d, 0L)
    /** Stored rows with `lo <= ts < hi` (epoch seconds). */
    def between(lo: Long, hi: Long): Long = stamps.count(t => t >= lo && t < hi).toLong
    def userIds: Seq[String] = perUser.keys.toSeq.sorted
  }
}
