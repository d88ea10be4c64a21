package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared kernel for the native minhash signature — called by BOTH the
  * interpreted and the codegen path of [[MinHashSig]] (one code path, no
  * divergence; same pattern as geom.GeneralClip).
  *
  * Arithmetic is IDENTICAL to the shuffle-based signature pipeline
  * (`graft.StreamingSpec.minhashSignatures`, asserted bit-equal): `lower(text)` via UTF8String.toLowerCase
  * (the exact implementation behind Spark's `lower`), shingle hash =
  * fold `(acc * 31 + codeUnit) % P` over k UTF-16 code units (matching
  * `split(text, "")` + `ascii` on BMP text), universal hashes
  * `(a_i * h + b_i) % P` with `StreamingSpec.coef`'s constants — all products stay
  * under 2^62 because P = 2^31 - 1. Min over ALL positions equals min
  * over the distinct shingle set.
  *
  * Cost: one tight loop of ~len * (k + numHashes) modular ops per
  * document — no shingle rows, no exchange, no per-row array allocation.
  * (The higher-order-function form of the same math was measured 60x
  * slower than the shuffle pipeline; this kernel beats both.)
  */
object MinHashKernel {
  private val P = 2147483647L

  /** graft.StreamingSpec.coef, replicated (kept in sync by the
    * bit-equality spec). */
  private def coefA(i: Int): Long = ((i * 2654435761L + 1) % P) | 1L
  private def coefB(i: Int): Long = (i * 40503L * 104729L + 12345L) % P

  /** Signature array, or null when the text has no k-shingle. */
  def sig(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val t = text.toLowerCase.toString
    val n = t.length
    if (n < k) return null
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) { as(j) = coefA(j); bs(j) = coefB(j); j += 1 }
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var c = 0
      while (c < k) {
        h = (h * 31L + t.charAt(i + c).toLong) % P
        c += 1
      }
      j = 0
      while (j < numHashes) {
        val v = (as(j) * h + bs(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native codegen'd minhash signature: array<long> of numHashes minima,
  * NULL for texts shorter than k chars (they have no shingles — the
  * shuffle pipeline drops them the same way). */
case class MinHashSig(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSig = copy(child = newChild)

  // null for short texts even when the input is non-null
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.sig(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    // codegen calls the SAME kernel as the interpreted path; a short
    // text yields null (same contract as HausdorffDistance's epilogue)
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |${ev.value} = graft.functions.MinHashKernel.sig($t, $k, $numHashes);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
}

object MinHashSig {
  /** Column API: native minhash signature of a text column. */
  def apply(text: Column, k: Int, numHashes: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(text), k,
      numHashes))
}

/** Shared kernel for the per-candidate-pair LSH verification — called by
  * BOTH paths of [[MinHashPairEval]]. Replicates, in one compiled pass
  * over the two signatures:
  *
  * - the band hashes `fold (acc * 33 + m) % P` of both sigs and the
  *   FIRST band index where they agree (-1 if none) — exactly
  *   `array_position(zip_with(bandHashes(a), bandHashes(b), ==), true)-1`;
  * - the signature agreement estimate `round(nAgree / numHashes, 4)`
  *   (Spark round = BigDecimal HALF_UP).
  *
  * Why a native expression: these ran as higher-order functions
  * (2 x bands aggregate-folds + two zip_withs + array_position) which
  * are CodegenFallback — interpreted allocation-heavy evaluation once
  * per JOINED ROW, i.e. per band-bucket candidate, the hot row count of
  * the whole minhash pipeline. */
object MinHashKernel2 {
  private val P = 2147483647L

  def pairEval(siga: ArrayData, sigb: ArrayData, numHashes: Int,
               bands: Int): InternalRow = {
    val a = siga.toLongArray()
    val b = sigb.toLongArray()
    val rows = numHashes / bands
    var firstBand = -1L
    var j = 0
    while (j < bands && firstBand < 0) {
      val base = j * rows
      var ha = 0L
      var hb = 0L
      var i = 0
      while (i < rows) {
        ha = (ha * 33L + a(base + i)) % P
        hb = (hb * 33L + b(base + i)) % P
        i += 1
      }
      if (ha == hb) firstBand = j
      j += 1
    }
    var agree = 0
    var i = 0
    while (i < numHashes) {
      if (a(i) == b(i)) agree += 1
      i += 1
    }
    val est = java.math.BigDecimal.valueOf(agree.toDouble / numHashes)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    InternalRow(firstBand, est)
  }
}

/** Native codegen'd LSH pair verification:
  * struct<first_band: long, est: double> of two minhash signatures. */
case class MinHashPairEval(left: Expression, right: Expression,
                           numHashes: Int, bands: Int)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("first_band", LongType, nullable = false),
    StructField("est", DoubleType, nullable = false)))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashPairEval =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashKernel2.pairEval(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.MinHashKernel2.pairEval(
         |  $a, $b, $numHashes, $bands);""".stripMargin)
}

object MinHashPairEval {
  /** Column API: band-match index + agreement estimate of two sigs. */
  def apply(siga: Column, sigb: Column, numHashes: Int,
            bands: Int): Column =
    ColumnBridge.column(MinHashPairEval(ColumnBridge.expression(siga),
      ColumnBridge.expression(sigb), numHashes, bands))
}
