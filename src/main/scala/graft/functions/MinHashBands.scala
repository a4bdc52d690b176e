package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The MinHash-LSH band signatures of one document, computed in one pass
  * over its bytes — the candidate substrate of every near-duplicate path
  * (d03 and its incremental, indexed and streaming forms).
  *
  * Bit for bit the Spark SQL derivation below (MinHashBandsSpec runs it
  * relationally as the oracle):
  *   - tokens are `split(text, ' ')` (empty tokens kept), and a gram is
  *     three consecutive tokens joined by one space;
  *   - `h0` = `xxhash64(gram)`: XXH64 of the gram's UTF-8 bytes, seed 42;
  *   - minhash k = min over the grams of `xxhash64(k, h0)`, k < 128 — min
  *     is idempotent, so repeated grams need no distinct;
  *   - band b = `xxhash64(b, mh[4b], mh[4b+1], mh[4b+2], mh[4b+3])`,
  *     b < 32: the `hashLong` chain seeded with `hashInt(b, 42)`;
  *   - null for a null text or one of fewer than three tokens.
  *
  * Tokens are separated by single 0x20 bytes, which never occur inside a
  * multi-byte UTF-8 sequence, so a gram is the contiguous byte range from
  * its first token's start to its third token's end: it is hashed in
  * place, with no token or gram string built. The per-hash seeds
  * `hashInt(k, 42)` are computed once, not per gram.
  */
object MinHashBands {
  private val NumHashes = 128
  private val Bands = 32
  private val RowsPerBand = NumHashes / Bands

  /** Spark SQL's `xxhash64` seed. */
  private val Seed = 42L
  private val hashSeeds = Array.tabulate(NumHashes)(k => XXH64.hashInt(k, Seed))
  private val bandSeeds = Array.tabulate(Bands)(b => XXH64.hashInt(b, Seed))

  /** Folds the 3-grams of `text` into the running minima `mh`; returns
    * whether the text has a 3-gram at all.
    */
  private def fold(text: UTF8String, mh: Array[Long]): Boolean = {
    // `split` decodes the text to a Java string, which replaces malformed
    // UTF-8; hash the bytes of that same string
    val t = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val n = t.numBytes
    var a = -1 // start of token j-2
    var b = -1 // start of token j-1
    var c = 0 // start of token j
    var seen = false
    var p = 0
    while (p <= n) {
      if (p == n || Platform.getByte(base, off + p) == ' ') { // token j ends at p
        if (a >= 0) {
          val h0 = XXH64.hashUnsafeBytes(base, off + a, p - a, Seed)
          var k = 0
          while (k < NumHashes) {
            val h = XXH64.hashLong(h0, hashSeeds(k))
            if (h < mh(k)) mh(k) = h
            k += 1
          }
          seen = true
        }
        a = b; b = c; c = p + 1
      }
      p += 1
    }
    seen
  }

  private def bands(mh: Array[Long]): ArrayData = {
    val out = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var h = bandSeeds(b)
      var r = 0
      while (r < RowsPerBand) {
        h = XXH64.hashLong(mh(b * RowsPerBand + r), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Band signatures of one text, or null (see the contract above). */
  def bandsOrNull(text: UTF8String): ArrayData = {
    val mh = Array.fill(NumHashes)(Long.MaxValue)
    if (fold(text, mh)) bands(mh) else null
  }

  /** Band signatures of the union of several texts' grams — the element-
    * wise min of their minhashes — or null when none has a 3-gram. Null
    * elements contribute nothing.
    */
  def mergedBandsOrNull(texts: ArrayData): ArrayData = {
    val mh = Array.fill(NumHashes)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < texts.numElements()) {
      if (!texts.isNullAt(i) && fold(texts.getUTF8String(i), mh)) seen = true
      i += 1
    }
    if (seen) bands(mh) else null
  }

  /** Column of `array<bigint>`, the 32 band signatures, over a `string`
    * column (one document per row) or an `array<string>` column (one
    * document per row, split over several texts whose grams are merged).
    */
  def of(text: Column): Column =
    GraftExpressionBridge.toColumn(
      MinHashBands(GraftExpressionBridge.toExpression(text)))
}

case class MinHashBands(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def merged: Boolean = child.dataType.isInstanceOf[ArrayType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash bands require STRING or ARRAY<STRING> input, got $other")
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    if (merged) MinHashBands.mergedBandsOrNull(v.asInstanceOf[ArrayData])
    else MinHashBands.bandsOrNull(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("bands")
      val fn = if (merged) "mergedBandsOrNull" else "bandsOrNull"
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.MinHashBands.$fn($v);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}
