package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled vector kernels for the sign-LSH and IVF-PQ families.
  *
  * [[LshPostingsExpr]] is the compiled form of
  * [[graft.functions.Similarity.lshPostings]]'s per-(table, bit)
  * interpreted folds:
  * {{{
  *   array(for t <- 0 until tables:
  *     struct(lit(t) as t,
  *       OR over b of when(aggregate(zip_with(vec, sequence(0, size-1),
  *         (x, i) => x.cast(double) * xxhash64(lit(t*bits+b), i).cast(double)
  *                     / Long.MaxValue),
  *         0.0, _ + _) > 0, 1L << b).otherwise(0L)) as b)
  * }}}
  * Each of the tables·bits projections re-walked the vector through an
  * interpreted lambda (HigherOrderFunction is CodegenFallback) and
  * materialized a zip_with array per (row, bit). This kernel computes
  * every projection in ONE pass over the vector — identical hash chain
  * (xxhash64(lit(k), i) = hashInt(i, hashInt(k, 42))), identical
  * left-to-right double fold per (table, bit), identical strict `> 0`
  * bit rule — so buckets are bit-identical (guide §4).
  *
  * Null/degenerate semantics mirror the HOF original exactly, which
  * collapses every failure to bucket 0: a NULL vector, an EMPTY vector
  * (sequence(0, -1) yields [0, -1] and zip_with null-pads, so the fold
  * goes NULL), or ANY NULL element (the null product poisons the fold)
  * all make each per-bit projection NULL, and
  * `when(NULL > 0, …).otherwise(0L)` contributes no bit. The output is
  * therefore never NULL and the struct fields never NULL.
  *
  * [[VecResidual]] is the compiled form of
  * `zip_with(v, cvec, (x, c) => x.cast(double) - c)` — the IVF-PQ
  * residual. Besides the interpreted per-element lambda, the HOF form
  * re-evaluated the CAPTURED centroid lookup (element_at(__cents, cell)
  * .getField) once PER ELEMENT (captured non-attribute expressions get
  * no CSE inside lambdas — the r16/r17 lesson); the call site now binds
  * the centroid vector once per row and this kernel does the exact
  * zip_with arithmetic: shorter side null-padded, NULL element → NULL
  * element, NULL either array → NULL.
  */
object LshVec {

  def lsh_postings(vec: Column, bits: Int, tables: Int): Column =
    GraftColumnBridge.column(
      LshPostingsExpr(GraftColumnBridge.expression(vec), bits, tables))

  def vec_residual(vec: Column, cent: Column): Column =
    GraftColumnBridge.column(VecResidual(
      GraftColumnBridge.expression(vec), GraftColumnBridge.expression(cent)))

  def any_nonzero(vec: Column): Column =
    GraftColumnBridge.column(AnyNonZero(GraftColumnBridge.expression(vec)))
}

case class LshPostingsExpr(child: Expression, bits: Int, tables: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 63 && tables >= 1,
    s"need 1 <= bits <= 63 and tables >= 1, got $bits/$tables")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("t", IntegerType, nullable = false),
    StructField("b", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  private lazy val elemFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"lsh_postings takes array<float|double>, got $other")
  }
  // seed(k) = xxhash64's running hash after the first child lit(k):
  // hashInt(k, 42); the per-element component is then hashInt(i, seed(k))
  private lazy val seeds: Array[Long] = {
    val k = tables * bits
    val s = new Array[Long](k)
    var j = 0
    while (j < k) {
      s(j) = XXH64.hashInt(j, 42L)
      j += 1
    }
    s
  }
  private val lMaxD = Long.MaxValue.toDouble

  def compute(arr: ArrayData): ArrayData = {
    val k = tables * bits
    val accs = new Array[Double](k)
    // NULL vector / any NULL element → every per-bit fold is NULL in the
    // HOF form → no bit set; modeled by the poisoned flag
    var poisoned = arr == null
    if (!poisoned) {
      val n = arr.numElements()
      var i = 0
      while (i < n && !poisoned) {
        if (arr.isNullAt(i)) poisoned = true
        else {
          val x =
            if (elemFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          var j = 0
          while (j < k) {
            accs(j) += x * (XXH64.hashInt(i, seeds(j)).toDouble / lMaxD)
            j += 1
          }
        }
        i += 1
      }
    }
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      if (!poisoned) {
        var b = 0
        while (b < bits) {
          // Spark GreaterThan on doubles treats NaN as GREATEST, so a
          // NaN projection (NaN vector element) sets the bit — Java's
          // `NaN > 0` is false, hence the explicit isNaN arm
          val p = accs(t * bits + b)
          if (p > 0 || java.lang.Double.isNaN(p)) bucket |= (1L << b)
          b += 1
        }
      }
      out(t) = new GenericInternalRow(Array[Any](t, bucket))
      t += 1
    }
    new GenericArrayData(out)
  }

  // result is defined for a NULL child (all-zero buckets), so eval must
  // not take UnaryExpression's null-intolerant shortcut
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    compute(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("lshPostings", this)
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute(
            ${c.isNull} ? null :
              (org.apache.spark.sql.catalyst.util.ArrayData) ${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): LshPostingsExpr =
    copy(child = newChild)
}

/** (double)v(i) − cent(i), zip_with padding semantics: the longer side
  * wins, missing/NULL partner → NULL element. */
case class VecResidual(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = left.nullable || right.nullable
  private lazy val leftFloat = ArrayFold.isFloatElem(left)
  private lazy val rightFloat = ArrayFold.isFloatElem(right)

  def compute(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) null
        else {
          val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
          val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
          java.lang.Double.valueOf(x - y)
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecResidual", this)
    defineCodeGen(ctx, ev, (a, b) =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecResidual =
    copy(left = newLeft, right = newRight)
}

/** TRUE iff any element differs from 0.0f — the compiled form of
  * `exists(vec, x => x =!= lit(0.0f))` (the degenerate-embedding gate).
  * Exists semantics preserved exactly: any non-zero element → TRUE
  * (NaN counts — Spark's EqualTo never equates NaN with 0, and -0.0
  * equals 0.0 in both engines' float semantics); otherwise NULL if any
  * element was NULL, else FALSE; NULL array → NULL. */
case class AnyNonZero(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  // NULL also when only NULL elements remain, so even a non-nullable
  // child (an array under `isnotnull` in a Filter) gives a nullable
  // result, and the generated code keeps an assignable null flag
  override def nullable: Boolean = true

  private lazy val elemFloat = ArrayFold.isFloatElem(child)

  def compute(arr: ArrayData): java.lang.Boolean = {
    val n = arr.numElements()
    var sawNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) sawNull = true
      else {
        val x = if (elemFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        // x != 0.0 is true for NaN and false for -0.0 — both match the
        // builtin comparison
        if (x != 0.0) return java.lang.Boolean.TRUE
      }
      i += 1
    }
    if (sawNull) null else java.lang.Boolean.FALSE
  }

  override def nullSafeEval(v: Any): Any = {
    val r = compute(v.asInstanceOf[ArrayData])
    if (r == null) null else r.booleanValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("anyNonZero", this)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Boolean $r = $ref.compute($c);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.booleanValue(); }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): AnyNonZero =
    copy(child = newChild)
}
