package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one banded candidate join behind every near-duplicate head: split
  * each signature into `nBands` bands, give each band a key, let two
  * documents meet when they share a band key, and keep the pair only on
  * the FIRST band whose signature parts agree exactly. This is filter and
  * verify over one shared index ("Highly Efficient String Similarity
  * Search and Join over Compressed Indexes", ICDE 2022, PAPERS.md).
  *
  * A banded frame has one row per (signature, band): (id, sig, bk) with
  * bk = band · 2^keyBits + key, one `bigint`, so a broadcast side builds a
  * `LongHashedRelation` and a pinned exchange hashes one long. The heads
  * differ only in `key` and `matches` (see the companion constructors). A
  * key wider than the bits left free in bk is masked. `matches` is tested
  * on the joined band too, so a masked or hashed key that collides never
  * becomes a candidate.
  *
  * Keeping only the first matching band emits each (pair, orientation)
  * once (measured on the sf0.1 clusters head before the filter: 28.9M
  * rows shuffled into `distinct` for 1.2M out). Recall is unchanged: the
  * band a qualifying pair shares always matches, so a first one exists.
  *
  * @param width   bits of the natural band key before masking
  * @param key     the band key of a signature, given the band index column
  * @param matches exact test that band j agrees between two signatures
  */
private[dedup] final class BandedJoin(nBands: Int, width: Int,
    key: (Column, Column) => Column, matches: (Int, Column, Column) => Column) {
  import BandedJoin._

  private val bandBits = bitWidth(nBands - 1)

  /** Key bits left in bk when `spare` more bits are shifted in below it. */
  private def keyBits(spare: Int): Int = {
    require(bandBits + spare < 63,
      s"packed band key needs ${bandBits + spare + 1} bits before its key; a bigint holds 63")
    math.min(width, 63 - bandBits - spare)
  }

  /** One row per (signature, band) of `sigs` (id, sig): (id, sig, bk),
    * with bk leaving `spare` low bits free in a bigint.
    */
  def frame(sigs: DataFrame, spare: Int = 0): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val kb = keyBits(spare)
    sigs.crossJoin(broadcast((0 until nBands).toDF("band")))
      .select(col("id"), col("sig"), (shiftleft(col("band").cast("long"), kb) +
        key(col("sig"), col("band")).bitwiseAND(lit(lowBits(kb)))).as("bk"))
  }

  /** The band index of a packed key bk built by [[frame]] with no spare bits. */
  def band(bk: Column): Column = shiftright(bk, keyBits(0))

  /** [[frame]] pinned on bk ([[graft.ops.Par.pinned]]): the index or probe
    * side of a [[probe]] join.
    */
  def index(sigs: DataFrame): DataFrame = graft.ops.Par.pinned(frame(sigs), col("bk"))

  /** TRUE iff `band` is the first band where the two signatures match. */
  private def firstMatch(band: Column, sigA: Column, sigB: Column): Column =
    (0 until nBands).map(j => band < lit(j) || matches(j, sigA, sigB) === (band === lit(j)))
      .reduce(_ && _)

  /** Self-join of `sigs` (id, sig): (id_a, sig_a, id_b, sig_b) for
    * id_a < id_b sharing a band, once per pair.
    *
    * Triangle split: each side is salted with a deterministic pmod(id, g)
    * grid cell (side a fixes ga = id_a mod g and enumerates gb, side b the
    * reverse), so every pair joins in EXACTLY ONE of the g² cells and a hot
    * bucket's quadratic expansion spreads over g² tasks instead of one
    * straggler (measured: a 92 s taskMax on the sf0.1 flagship without
    * it). (bk, ga, gb) is packed into the one join key, and each side is
    * pinned on it, which also keeps AQE from coalescing the tiny
    * pre-expansion exchanges into a single partition.
    */
  def self(sigs: DataFrame): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val gBits = bitWidth(SelfJoinSplit - 1)
    val banded = frame(sigs, 2 * gBits)
    val cells = (0 until SelfJoinSplit).map(_.toLong).toList
    def side(id: String, sig: String, own: String, other: String) = {
      val salted = banded.select(col("id").as(id), col("sig").as(sig), col("bk"))
        .withColumn(own, pmod(col(id), lit(SelfJoinSplit.toLong)))
        .crossJoin(broadcast(cells.toDF(other)))
      graft.ops.Par.pinned(
        salted.select(col(id), col(sig), (shiftleft(col("bk"), 2 * gBits) +
          shiftleft(col("ga"), gBits) + col("gb")).as("key")),
        col("key"))
    }
    side("id_a", "sig_a", "ga", "gb").join(side("id_b", "sig_b", "gb", "ga"), "key")
      .filter(col("id_a") < col("id_b"))
      .filter(firstMatch(shiftright(col("key"), keyBits(2 * gBits) + 2 * gBits),
        col("sig_a"), col("sig_b")))
      .select(col("id_a"), col("sig_a"), col("id_b"), col("sig_b"))
  }

  /** Probe join of two [[frame]]s (id, sig, bk) on bk: (id_x, sig_x, id_y,
    * sig_y) for every probe row x and index row y sharing a band, once per
    * ordered pair. Distribution is the caller's: [[index]] pins both sides,
    * a bucketed table brings its own.
    */
  def probe(probe: DataFrame, index: DataFrame): DataFrame =
    probe.select(col("id").as("id_x"), col("sig").as("sig_x"), col("bk"))
      .join(index.select(col("id").as("id_y"), col("sig").as("sig_y"), col("bk")), "bk")
      .filter(firstMatch(band(col("bk")), col("sig_x"), col("sig_y")))
      .select(col("id_x"), col("sig_x"), col("id_y"), col("sig_y"))
}

private[dedup] object BandedJoin {

  /** Narrow SimHash, a `bigint` signature cut into `bandBits`-bit bands:
    * the key is the band's bits.
    */
  def narrow(bandBits: Int, nBands: Int): BandedJoin =
    new BandedJoin(nBands, bandBits,
      (sig, band) => call_function("shiftright", sig, band * lit(bandBits)),
      (j, a, b) => shiftright(a.bitwiseXOR(b), j * bandBits).bitwiseAND(lit(lowBits(bandBits))) === lit(0L))

  /** Wide SimHash, an `array<bigint>` of one `bandBits`-bit word per band:
    * the key is word j.
    */
  def wide(bandBits: Int, nBands: Int): BandedJoin =
    new BandedJoin(nBands, bandBits,
      (sig, band) => element_at(sig, band + 1),
      (j, a, b) => element_at(a, j + 1) === element_at(b, j + 1))

  /** MinHash, an `array<bigint>` of k minima in bands of `rows`: the key is
    * a 64-bit hash of the band's minima.
    */
  def minhash(rows: Int, nBands: Int): BandedJoin =
    new BandedJoin(nBands, 64,
      (sig, band) => xxhash64(minima(sig, band, rows)),
      (j, a, b) => (0 until rows).map(t =>
        element_at(a, j * rows + t + 1) === element_at(b, j * rows + t + 1)).reduce(_ && _))

  /** The minima of band `band` of a MinHash signature. */
  def minima(sig: Column, band: Column, rows: Int): Column =
    slice(sig, band * rows + 1, lit(rows))

  /** Grid size of the salted self-join split: hot-bucket work divides by
    * g², input rows multiply by g (tiny frames). 8 splits the worst
    * measured bucket ~64× while keeping the enumerated side trivial.
    */
  private val SelfJoinSplit = 8

  /** Bits needed to hold `maxValue` (0 for 0). */
  private def bitWidth(maxValue: Int): Int = 32 - Integer.numberOfLeadingZeros(maxValue)

  /** A mask of the low `n` bits (all 64 for n ≥ 64). */
  private def lowBits(n: Int): Long = if (n >= 64) -1L else (1L << n) - 1
}
