package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Native Catalyst expression for the 64-bit perceptual difference
  * hash (dHash) of an opaque binary payload — the image analog of
  * SimHash: near-identical renditions of the same content land within
  * a small Hamming distance, so a banded Hamming self-join (the q105
  * pigeonhole machinery) dedups re-encoded images without any
  * pairwise scan.
  *
  * Two tiers, one code path (the q54 decode-stub contract):
  *  - payloads that decode as one of the pure-JVM image formats
  *    (PPM/BMP/PNG, [[graft.ops.MultimodalOps]])
  *    hash their PIXELS: an 8×9 grid of integer luma strip sums
  *    (BT.709 weights ×10000 — exact integer arithmetic, no float
  *    rounding in the bits) accumulated inside the decoder's existing
  *    single pixel pass;
  *  - everything else hashes its BYTES: the payload split into 72
  *    contiguous strips (strip k = bytes [⌊kL/72⌋, ⌊(k+1)L/72⌋)),
  *    each strip's byte-value sum standing in for a cell's luma.
  *
  * Bit (r, c) for r ∈ [0,8), c ∈ [0,8) is set iff the mean of cell
  * (r, c+1) exceeds the mean of cell (r, c) — compared exactly via
  * cross-multiplication of (sum, count), never a float division. The
  * cross-products stay inside Long for payloads to ~13 GB (byte tier:
  * 255·(L/72)·(L/72) < 2⁶³ ⇒ L < 1.3·10¹⁰) and images to ~16k×16k
  * (pixel tier: 2.55M·(wh/72)² bound), far past anything a row-sized
  * payload can hold.
  *
  * Empty-cell convention: a strip with zero members compares as sum 0
  * over count 0, so 0·cnt > sum·0 is false and the bit clears — the
  * same NULL-free convention the SQL twin's COALESCE(…, 0) yields.
  *
  * 100 TB note: the hash is a scan-side scalar (one pass, no state
  * beyond 144 longs); payloads never reach a shuffle — only the
  * (id, 8-byte hash) projection does, exactly like [[MinhashHex]].
  */
case class DHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_dhash64 expects a binary payload, got $t")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_dhash64"

  override protected def nullSafeEval(a: Any): Any =
    DHash64.hash(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.DHash64.hash($a);")

  override protected def withNewChildInternal(newChild: Expression): DHash64 =
    copy(child = newChild)
}

object DHash64 {

  /** Static worker shared by eval and the generated code: pixel tier
    * when the payload decodes, byte tier otherwise. */
  def hash(payload: Array[Byte]): Long = {
    val grid = new Array[Long](144) // sums 0..71, counts 72..143
    if (!graft.ops.MultimodalOps.decodeGrid(payload, grid))
      byteStrips(payload, grid)
    fromGrid(grid)
  }

  /** Byte tier: 72 contiguous strips with the exact ⌊kL/72⌋ boundary
    * the SQL twin's list_slice uses. */
  private[graft] def byteStrips(p: Array[Byte], grid: Array[Long]): Unit = {
    java.util.Arrays.fill(grid, 0L)
    val n = p.length.toLong
    var k = 0
    while (k < 72) {
      val lo = (k * n / 72).toInt
      val hi = ((k + 1) * n / 72).toInt
      var s = 0L
      var j = lo
      while (j < hi) { s += p(j) & 0xff; j += 1 }
      grid(k) = s
      grid(72 + k) = hi - lo
      k += 1
    }
  }

  /** 64 gradient bits over the 8×9 (sum, count) grid; exact
    * cross-multiplied mean comparison. */
  private[graft] def fromGrid(grid: Array[Long]): Long = {
    var h = 0L
    var i = 0
    while (i < 64) {
      val cell = (i >> 3) * 9 + (i & 7)
      if (grid(cell + 1) * grid(72 + cell) > grid(cell) * grid(72 + cell + 1))
        h |= 1L << i
      i += 1
    }
    h
  }
}
