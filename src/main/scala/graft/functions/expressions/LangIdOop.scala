package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.LangIdNgram.ProfileEntry

/** Cavnar–Trenkle out-of-place language ID of one document, as one
  * compiled per-row pass ([[graft.functions.LangIdNgram.classify]]).
  *
  * Counts the document's character n-grams (code-point positions, the
  * same offsets as [[CharNgrams]]), ranks them (count desc, gram
  * ascending in binary UTF8 order, 1-based, at most k) and scores every
  * language as k·|doc grams| − Σ(k − |doc_rank − lang_rank|) over the
  * doc grams present in that language's profile. The result is
  * struct(pred_lang, oop_score) for the minimum score, ties to the
  * lexically smallest language; NULL text or fewer than n chars → NULL.
  *
  * The profile is a constant of the expression: at most k·|langs|
  * entries, kept out of the plan string by `stringArgs`.
  */
object LangIdOop {
  def lang_id_oop(text: Column, profile: Seq[ProfileEntry], n: Int,
      k: Int): Column =
    GraftColumnBridge.column(LangIdOopExpr(
      GraftColumnBridge.expression(text), profile, n, k))
}

case class LangIdOopExpr(child: Expression, profile: Seq[ProfileEntry],
    n: Int, k: Int) extends UnaryExpression {
  require(n >= 1 && k >= 1, s"n and k must be >= 1, got n=$n k=$k")
  require(profile.nonEmpty, "empty profile set")
  require(profile.forall(_.lang != null), "profile language must not be NULL")
  override def dataType: DataType = StructType(Seq(
    StructField("pred_lang", StringType, nullable = false),
    StructField("oop_score", LongType, nullable = false)))
  override def nullable: Boolean = true
  override protected def stringArgs: Iterator[Any] = Iterator(child, n, k)

  // languages in binary UTF8 order, so the first minimum is the tie winner
  @transient private lazy val langs: IndexedSeq[UTF8String] =
    profile.map(p => UTF8String.fromString(p.lang)).distinct.sorted.toIndexedSeq
  // gram → (language index, language rank) for every profile entry
  @transient private lazy val byGram: Map[UTF8String, Seq[(Int, Int)]] = {
    val idx = langs.zipWithIndex.toMap
    profile.groupBy(p => UTF8String.fromString(p.gram)).map { case (g, ps) =>
      g -> ps.map(p => (idx(UTF8String.fromString(p.lang)), p.rank)) }
  }

  def compute(t: UTF8String): InternalRow = {
    val bytes = t.getBytes
    val offs = TextGrams.charOffsets(bytes)
    val chars = offs.length - 1
    if (chars < n) return null
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    var w = 0
    while (w <= chars - n) {
      val g = UTF8String.fromBytes(bytes, offs(w), offs(w + n) - offs(w))
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1)) else c(0) += 1
      w += 1
    }
    val entries = counts.entrySet().toArray(
      new Array[java.util.Map.Entry[UTF8String, Array[Int]]](0))
    java.util.Arrays.sort(entries,
      (a: java.util.Map.Entry[UTF8String, Array[Int]],
       b: java.util.Map.Entry[UTF8String, Array[Int]]) => {
        val c = Integer.compare(b.getValue()(0), a.getValue()(0))
        if (c != 0) c else a.getKey.compareTo(b.getKey)
      })
    val m = math.min(k, entries.length)
    val scores = Array.fill(langs.length)(k.toLong * m)
    var r = 0
    while (r < m) {
      byGram.getOrElse(entries(r).getKey, Nil).foreach { case (li, lr) =>
        scores(li) -= k - math.abs(r + 1 - lr) }
      r += 1
    }
    var best = 0
    var li = 1
    while (li < scores.length) {
      if (scores(li) < scores(best)) best = li
      li += 1
    }
    new GenericInternalRow(Array[Any](langs(best), scores(best)))
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langIdOop", this)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.InternalRow $r = $ref.compute($c);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): LangIdOopExpr =
    copy(child = newChild)
}
