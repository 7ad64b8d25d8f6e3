package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** A seeded text-plus-embedding corpus: Zipf-distributed words from a
  * fixed pseudo-word vocabulary, and `dim`-d embeddings drawn around
  * `clusters` random centres, so ANN indexes see the clustered geometry
  * they are built for.
  *
  * Document `id`'s text and vector depend only on `(seed, id)`. A
  * planted near-duplicate copies an earlier document's text with one
  * word swapped and nudges its vector. Exact top-k is computed here in
  * plain Scala, from the generated vectors alone, as the reference the
  * ANN answers are scored against.
  */
final case class CorpusGen(seed: Long) {
  import CorpusGen._

  /** Pseudo-words: distinct consonant-vowel syllable strings. */
  val vocabulary: IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val syl = for (c <- cons; v <- vows) yield s"$c$v"
    (0 until vocab).map { i =>
      val a = syl(i % syl.size)
      val b = syl((i / syl.size) % syl.size)
      val c = syl((i * 7 + 3) % syl.size)
      s"$a$b$c"
    }.distinct
  }

  private val centres: Array[Array[Double]] = {
    val rnd = new java.util.SplittableRandom(BillingGen.mix(seed, -1L))
    Array.fill(clusters)(unit(Array.fill(dim)(gauss(rnd))))
  }

  /** Document `id`, or a near-duplicate of `dupOf` when given. */
  def doc(id: Long, dupOf: Option[Long] = None): Doc = dupOf match {
    case Some(src) =>
      val base = doc(src)
      val rnd = new java.util.SplittableRandom(BillingGen.mix(seed ^ 0xd0bL, id))
      val toks = base.text.split(' ')
      toks(rnd.nextInt(toks.length)) = vocabulary(rnd.nextInt(vocabulary.size))
      Doc(id, toks.mkString(" "),
        unit(base.emb.map(x => x + 0.01 * gauss(rnd))).map(_.toFloat)
          .map(_.toDouble))
    case None =>
      val rnd = new java.util.SplittableRandom(BillingGen.mix(seed, id))
      val text = Seq.fill(words) {
        val u = rnd.nextDouble()
        vocabulary(math.min(vocabulary.size - 1,
          (vocabulary.size * u * u).toInt))
      }.mkString(" ")
      val c = centres(rnd.nextInt(clusters))
      val v = unit(c.map(x => x + spread * gauss(rnd) / math.sqrt(dim)))
      // stored as float32 by the writer; keep the in-memory copy equal
      Doc(id, text, v.map(_.toFloat.toDouble))
  }

  /** Query vectors: fresh points around the same centres. */
  def queries(batch: Int, n: Int): Vector[(Long, Array[Double])] = {
    val rnd = new java.util.SplittableRandom(BillingGen.mix(seed ^ 0x9e7L, batch.toLong))
    Vector.tabulate(n) { i =>
      val c = centres(rnd.nextInt(clusters))
      (batch.toLong * 1000 + i,
        unit(c.map(x => x + spread * gauss(rnd) / math.sqrt(dim)))
          .map(_.toFloat.toDouble))
    }
  }

  /** BM25 query terms: two to four words drawn from the vocabulary's
    * mid-frequency band, where scores discriminate.
    */
  def termQueries(batch: Int, n: Int): Vector[(Long, Seq[String])] = {
    val rnd = new java.util.SplittableRandom(BillingGen.mix(seed ^ 0x7e4L, batch.toLong))
    Vector.tabulate(n) { i =>
      val m = 2 + rnd.nextInt(3)
      (batch.toLong * 1000 + i, Seq.fill(m)(
        vocabulary(20 + rnd.nextInt(vocabulary.size / 4))).distinct)
    }
  }

  /** Write docs as JSON lines; returns the bytes written. */
  def write(path: Path, docs: Seq[Doc]): Long = {
    Files.createDirectories(path.getParent)
    val body = docs.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(path, body)
    body.length.toLong
  }
}

object CorpusGen {
  val dim = 64
  val clusters = 16
  val vocab = 2000
  /** Words per document. */
  val words = 40
  /** Spread of a vector around its cluster centre. */
  val spread = 0.35

  final case class Doc(id: Long, text: String, emb: Array[Double]) {
    def json: String =
      s"""{"id":$id,"text":"$text","emb":[${emb.map(x => x.toFloat.toString).mkString(",")}]}"""
  }

  private def gauss(rnd: java.util.SplittableRandom): Double = {
    // Box-Muller on the splittable stream (java.util.Random's gaussian
    // would need a second generator)
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    val u2 = rnd.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine (ties by id), the ANN reference. */
  def exactTopK(corpus: Seq[Doc], q: Array[Double], k: Int): Seq[Long] =
    corpus.map(d => (-cosine(q, d.emb), d.id)).sorted.take(k).map(_._2)
}
