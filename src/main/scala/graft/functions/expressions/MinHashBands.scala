package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused MinHash signature + LSH banding over a document's own shingle
  * array — the whole per-document signature in ONE compiled projection.
  *
  * The prior shape ([[graft.functions.Dedup]] `signatures`) exploded the
  * shingles and ran a groupBy(doc) with k = bands·rowsPerBand
  * `min(xxhash64(xxhash64(shingle), i))` aggregates: per exploded row it
  * paid k agg-buffer updates, and the aggregation cost one Exchange of
  * |docs|·k columns plus the hash-aggregate machinery. (The r15 attempt
  * at a projection form — k separate `array_min(transform(...))`
  * columns — overflowed the codegen method-size limit and fell back to
  * interpreted eval, measured 1.7× SLOWER; ONE kernel call has no such
  * blowup.) This expression computes the identical k minima and band
  * hashes in a single pass, REMOVING the signature Exchange outright
  * (guide §2.4) and the per-row agg-buffer churn (guide §4).
  *
  * Hash identity with the old aggregate chain, term for term:
  *   base(s)  = xxhash64(xxhash64(s))    — string hash seed 42, then
  *                                         hashLong(·, 42);
  *   m_i      = min over shingles of hashInt(i, base(s)) — xxhash64's
  *                                         multi-arg chaining;
  *   band_b   = xxhash64(m_{b·r}, …, m_{b·r+r−1}) — hashLong chain from
  *                                         seed 42.
  * A NULL shingle element hashes like the builtin: null children leave
  * the running hash at its seed, so base = hashLong(42, 42).
  *
  * EMPTY array → NULL (the old explode emitted no rows, so the doc was
  * absent from the aggregated signatures; `posexplode(NULL)` emits no
  * rows, which is the same absence). [[graft.functions.Dedup.shingleCol]]
  * never returns an empty array, so this is defensive only.
  */
object MinHashBands {

  def minhash_bands(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    GraftColumnBridge.column(MinHashBandsExpr(
      GraftColumnBridge.expression(shingles), bands, rowsPerBand))
}

case class MinHashBandsExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1,
    s"bands/rowsPerBand must be >= 1, got $bands/$rowsPerBand")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  /** Per shingle, the base its permutation hashes chain from:
    * xxhash64(xxhash64(shingle)). */
  def bases(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var si = 0
    while (si < n) {
      // __h = xxhash64(shingle): seed 42 over the UTF-8 bytes (binary
      // collation), null element leaves the seed. XXH64 is called
      // directly: the generic XxHash64Function.hash boxes its value and
      // walks the data type for collations on every call
      val h =
        if (arr.isNullAt(si)) 42L
        else {
          val s = arr.getUTF8String(si)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        }
      // xxhash64(__h, i) = hashInt(i, hashLong(__h, 42))
      out(si) = XXH64.hashLong(h, 42L)
      si += 1
    }
    out
  }

  /** Band `b`'s hash over a document's [[bases]]: xxhash64(m_0, …,
    * m_{r-1}), a hashLong chain from seed 42 over the minima of its
    * `rowsPerBand` permutations. A band can be computed without the
    * others, so a caller that needs only the first few pays for those. */
  def bandHash(bases: Array[Long], b: Int): Long = {
    var hb = 42L
    var j = 0
    while (j < rowsPerBand) {
      val i = b * rowsPerBand + j
      var m = Long.MaxValue
      var si = 0
      while (si < bases.length) {
        val v = XXH64.hashInt(i, bases(si))
        if (v < m) m = v
        si += 1
      }
      hb = XXH64.hashLong(m, hb)
      j += 1
    }
    hb
  }

  def compute(arr: ArrayData): ArrayData = {
    if (arr.numElements() == 0) return null
    val bs = bases(arr)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      out(b) = bandHash(bs, b)
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = {
    val r = compute(v.asInstanceOf[ArrayData])
    if (r == null) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashBands", this)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.util.ArrayData $r =
        (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r; }
    """)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashBandsExpr =
    copy(child = newChild)
}
