package perfbench

/** Counter-based random numbers (SplitMix64): value `i` of stream `s` is a
  * pure function of (seed, s, i), so a row can be generated on any thread
  * or executor, in any order, and come out bit-identical.
  */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def long(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)
  def unit(seed: Long, stream: Long, i: Long): Double =
    (long(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def gauss(seed: Long, stream: Long, i: Long): Double = {
    val u1 = math.max(unit(seed, stream, 2 * i), 1e-300)
    val u2 = unit(seed, stream, 2 * i + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}

/** One panel row: an entity observed in a period, as published in data
  * vintage `snapshot`. `y` is null for a small share of (entity, period).
  */
final case class PanelRow(
    entity: Int, period: Int, snapshot: Int,
    x1: Double, x2: Double, x3: Double, y: Option[Double])

/** A seeded panel: `entities` × periods 0..p for every vintage p in
  * `vintages` (a vintage publishes every period up to itself). Row index
  * order is vintage-major, then period, then entity.
  *
  * y = entity effect + 1.5·x1 − 2·x2 + 0.5·x3 + trend + noise, plus a
  * per-vintage revision, so vintages of one (entity, period) differ.
  */
final case class PanelSpec(seed: Long, entities: Int, periods: Int, vintages: Seq[Int],
    nullShare: Double = 0.02) {
  require(vintages.forall(v => v >= 0 && v < periods), s"vintages $vintages outside 0..${periods - 1}")
  private val sizes = vintages.map(v => (v + 1).toLong * entities)
  private val offsets = sizes.scanLeft(0L)(_ + _)
  val rows: Long = offsets.last

  def row(i: Long): PanelRow = {
    val k = offsets.lastIndexWhere(_ <= i)
    val v = vintages(k)
    val local = i - offsets(k)
    val period = (local / entities).toInt
    val entity = (local % entities).toInt
    val cell = entity.toLong * periods + period
    val x1 = Rng.gauss(seed, 1, cell)
    val x2 = Rng.gauss(seed, 2, cell)
    val x3 = Rng.gauss(seed, 3, cell)
    val effect = 2.0 * Rng.gauss(seed, 4, entity)
    val revision = if (v == periods - 1) 0.0 else 0.1 * Rng.gauss(seed, 5, i)
    val y = effect + 1.5 * x1 - 2.0 * x2 + 0.5 * x3 + 0.05 * period +
      0.3 * Rng.gauss(seed, 6, cell) + revision
    val isNull = Rng.unit(seed, 7, cell) < nullShare
    PanelRow(entity, period, v, x1, x2, x3, if (isNull) None else Some(y))
  }

  def iterator: Iterator[PanelRow] = Iterator.range(0L, rows).map(row)

  /** SHA-256 over every row's fields: equal for equal generated bytes. */
  def fingerprint: String = Digest.of(d => iterator.foreach(PanelSpec.digest(d, _)))
}

object PanelSpec {
  def digest(d: Digest, r: PanelRow): Unit = {
    d.int(r.entity); d.int(r.period); d.int(r.snapshot)
    d.double(r.x1); d.double(r.x2); d.double(r.x3)
    d.double(r.y.getOrElse(Double.NaN))
  }
}

final case class Doc(doc_id: Long, text: String)

/** A seeded corpus with planted near-duplicate clusters.
  *
  * Each cluster has a base text of distinct tokens; member j replaces token
  * j of the base with a fresh token, so members sit at Jaccard ≥ 0.95 from
  * each other while unrelated texts, drawn from a large vocabulary, sit
  * near 0 — far on both sides of a 0.9 threshold. Every doc id is a random
  * permutation position, so members spread across ingest chunks; a share
  * of documents has a null text.
  */
final case class CorpusSpec(seed: Long, docs: Int, clusters: Int, minSize: Int = 2,
    maxSize: Int = 6, minLen: Int = 80, maxLen: Int = 140, vocab: Int = 50000,
    nullShare: Double = 0.01) {

  def generate(): Vector[Doc] = {
    val rng = new scala.util.Random(seed)
    def tokens(n: Int): Vector[Int] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (seen.size < n) seen += rng.nextInt(vocab)
      seen.toVector
    }
    def text(ts: Seq[Int]): String = ts.map(t => s"w$t").mkString(" ")
    val texts = Vector.newBuilder[String]
    for (_ <- 0 until clusters) {
      val base = tokens(minLen + rng.nextInt(maxLen - minLen + 1))
      val size = minSize + rng.nextInt(maxSize - minSize + 1)
      for (j <- 0 until size) {
        if (j == 0) texts += text(base)
        else {
          var fresh = rng.nextInt(vocab)
          while (base.contains(fresh)) fresh = rng.nextInt(vocab)
          texts += text(base.updated(j - 1, fresh))
        }
      }
    }
    val members = texts.result()
    require(members.size <= docs, s"${members.size} cluster members exceed $docs docs")
    val nulls = math.round(docs * nullShare).toInt
    val rest = docs - members.size - nulls
    require(rest >= 0, "corpus too small for its clusters and nulls")
    val all = members ++ Vector.fill(nulls)(null: String) ++
      Vector.fill(rest)(text(tokens(minLen + rng.nextInt(maxLen - minLen + 1))))
    val ids = rng.shuffle((0L until docs.toLong).toVector)
    all.zip(ids).map { case (t, id) => Doc(id, t) }.sortBy(_.doc_id)
  }
}

object CorpusSpec {
  def fingerprint(docs: Seq[Doc]): String = Digest.of { d =>
    docs.foreach { doc => d.long(doc.doc_id); d.string(Option(doc.text).getOrElse("\u0000")) }
  }
}

/** Incremental SHA-256 over primitive fields. */
final class Digest private () {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private val buf = java.nio.ByteBuffer.allocate(8)
  def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array(), 0, 8) }
  def int(v: Int): Unit = long(v.toLong)
  def double(v: Double): Unit = long(java.lang.Double.doubleToRawLongBits(v))
  def string(s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    int(b.length); md.update(b)
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

object Digest {
  def of(body: Digest => Unit): String = { val d = new Digest(); body(d); d.hex }
}
