package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's one Bloom filter layout, shared by
  * [[Dedup.decontaminateBloom]] and the per-file skip index of
  * queries.Analytics.qBloomSkipIndex: k = 4 affine hashes
  * ((a·key + b) mod P) mod m of a non-negative long key, and an m-bit
  * filter packed into 32-bit words held in longs (32, not 64: DuckDB's
  * BIGINT `<<` range-checks bit 63, and the skip-index oracle builds
  * the same words). Position p lands in word p >> 5 at bit p & 31.
  * Bits are set and tested with integer shifts: exact for every word,
  * where the dyadic double form (2^bit, w·2^-bit) is exact only while
  * words stay below 2^53, and one shift is cheaper than a pow, a floor
  * and two casts. The DuckDB twin of the family and the positions is
  * queries.TextSql.bloomHashes / bloomPos.
  */
private[graft] object Bloom {

  private val P = 1000000007L

  /** The hash family's (a, b) pairs. */
  val Family: Seq[(Long, Long)] =
    Seq((31L, 1L), (131L, 9177L), (1009L, 18353L), (65537L, 27529L))

  /** The k positions of `key` in an `mBits` filter, one per hash. */
  def positions(key: Column, mBits: Long): Seq[Column] = Family.map {
    case (a, b) => pmod(pmod(key * lit(a) + lit(b), lit(P)), lit(mBits))
  }

  /** The word index of position `p`. */
  def word(p: Column): Column = shiftright(p, 5).cast("int")

  /** The bit of position `p` within its word. */
  def bit(p: Column): Column = p.bitwiseAND(lit(31L)).cast("int")

  /** One (`by`..., word, bit) row per position of each row's `key`. */
  def probes(df: DataFrame, key: String, mBits: Long,
             by: Seq[String]): DataFrame =
    df.select(by.map(col) :+
        explode(array(positions(col(key), mBits): _*)).as("p"): _*)
      .select(by.map(col) ++ Seq(word(col("p")).as("word"),
        bit(col("p")).as("bit")): _*)

  /** The filter of `df`'s keys as (`by`..., word, bits) rows: one bit_or
    * over the positions that land in each word. */
  def words(df: DataFrame, key: String, mBits: Long,
            by: Seq[String]): DataFrame =
    probes(df, key, mBits, by).groupBy((by :+ "word").map(col): _*)
      .agg(bit_or(call_function("shiftleft", lit(1L), col("bit")))
        .as("bits"))

  /** Whether `bit` is set in the word `w`. */
  def isSet(w: Column, bit: Column): Column =
    call_function("shiftright", w, bit).bitwiseAND(lit(1L)) === lit(1L)

  /** Whether every position of `key` is set in `filter`, the words as
    * an array column. */
  def mightContain(filter: Column, key: Column, mBits: Long): Column =
    positions(key, mBits)
      .map(p => isSet(element_at(filter, word(p) + 1), bit(p))).reduce(_ && _)
}
