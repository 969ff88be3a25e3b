package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-pipeline hot paths.
  *
  * Every one of these replaces a higher-order-function form
  * (transform/aggregate/filter/zip_with) that Catalyst evaluates
  * INTERPRETED (HigherOrderFunction is CodegenFallback): each element
  * paid lambda binding plus an interpreted expression tree, and
  * window-building forms (`slice` + `concat_ws` per position) were
  * quadratic in tokens per row. Each expression runs the identical
  * computation as one compiled pass — same values, same null semantics,
  * same ordering/tie-break rules — so declared-query output is
  * bit-identical while the scan cost drops by the interpreter overhead
  * (guide §4: prefer codegen-friendly expressions in hot paths).
  */
object TextGrams {

  def char_ngrams(text: Column, n: Int): Column =
    GraftColumnBridge.column(CharNgrams(GraftColumnBridge.expression(text), n))

  def sliding_join(units: Column, n: Int, sep: String): Column =
    GraftColumnBridge.column(
      SlidingJoin(GraftColumnBridge.expression(units), n, sep))

  def sliding_join_hash(units: Column, n: Int, sep: String): Column =
    GraftColumnBridge.column(
      SlidingJoinHash(GraftColumnBridge.expression(units), n, sep))

  def shingles(text: Column, n: Int): Column =
    GraftColumnBridge.column(Shingles(GraftColumnBridge.expression(text), n))

  def run_top_uniq(grams: Column): Column =
    GraftColumnBridge.column(RunTopUniq(GraftColumnBridge.expression(grams)))

  def ws_tokens(text: Column): Column =
    GraftColumnBridge.column(WsTokens(GraftColumnBridge.expression(text)))

  def unigrams_bigrams(tokens: Column): Column =
    GraftColumnBridge.column(
      UnigramsBigrams(GraftColumnBridge.expression(tokens)))

  def bigram_pairs(tokens: Column): Column =
    GraftColumnBridge.column(
      BigramPairs(GraftColumnBridge.expression(tokens)))

  def count_in(tokens: Column, set: Seq[String]): Column =
    GraftColumnBridge.column(
      CountInSet(GraftColumnBridge.expression(tokens), set))

  def marker_best_lang(text: Column,
      markers: Seq[(String, Seq[String])]): Column =
    GraftColumnBridge.column(
      MarkerBestLang(GraftColumnBridge.expression(text), markers))

  def join_excluding_indices(units: Column, rm: Column, sep: String): Column =
    GraftColumnBridge.column(JoinExcludingIndices(
      GraftColumnBridge.expression(units), GraftColumnBridge.expression(rm),
      sep))

  def sum_char_len(tokens: Column): Column =
    GraftColumnBridge.column(SumCharLen(GraftColumnBridge.expression(tokens)))

  private[expressions] val EmptyStringArray =
    new GenericArrayData(Array.empty[Any])

  /** Byte offsets of each character start (plus the terminal offset) —
    * one linear pass, so n-gram slicing is O(len) total instead of the
    * O(len²) that per-position `substr` walks cost. */
  private[expressions] def charOffsets(bytes: Array[Byte]): Array[Int] = {
    var cnt = 0
    var i = 0
    while (i < bytes.length) {
      i += UTF8String.numBytesForFirstByte(bytes(i)); cnt += 1
    }
    val offs = new Array[Int](cnt + 1)
    i = 0
    var k = 0
    while (i < bytes.length) {
      offs(k) = i; i += UTF8String.numBytesForFirstByte(bytes(i)); k += 1
    }
    offs(cnt) = bytes.length
    offs
  }
}

/** Sliding character n-grams: the compiled form of
  * `transform(sequence(1, length − n + 1), i => text.substr(i, n))`.
  * Fewer than n characters → empty array; NULL text → NULL (call sites
  * coalesce to the original `when` guard's empty-array branch). */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val offs = TextGrams.charOffsets(bytes)
    val chars = offs.length - 1
    if (chars < n) return TextGrams.EmptyStringArray
    val out = new Array[Any](chars - n + 1)
    var k = 0
    while (k <= chars - n) {
      out(k) = UTF8String.fromBytes(bytes, offs(k), offs(k + n) - offs(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charNgrams", this)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** Sliding n-unit windows joined with `sep`: the compiled form of
  * `transform(sequence(0, size − n), i => concat_ws(sep, slice(units,
  * i + 1, n)))` — concat_ws semantics (null elements skipped, separator
  * not doubled). Fewer than n units → empty array; NULL input → NULL. */
case class SlidingJoin(child: Expression, n: Int, sep: String)
    extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val sepBytes =
    UTF8String.fromString(sep).getBytes

  def compute(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    if (len < n) return TextGrams.EmptyStringArray
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](len - n + 1)
    var w = 0
    while (w <= len - n) {
      var total = 0
      var cnt = 0
      var j = w
      while (j < w + n) {
        val t = toks(j)
        if (t != null) { total += t.numBytes; cnt += 1 }
        j += 1
      }
      if (cnt > 1) total += sepBytes.length * (cnt - 1)
      val buf = new Array[Byte](total)
      var pos = 0
      var first = true
      j = w
      while (j < w + n) {
        val t = toks(j)
        if (t != null) {
          if (!first) {
            System.arraycopy(sepBytes, 0, buf, pos, sepBytes.length)
            pos += sepBytes.length
          }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += t.numBytes
          first = false
        }
        j += 1
      }
      out(w) = UTF8String.fromBytes(buf)
      w += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("slidingJoin", this)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): SlidingJoin =
    copy(child = newChild)
}

/** [[SlidingJoin]] fused with `xxhash64` (seed 42, identical to the
  * builtin over the joined string): emits `array<bigint>` of window
  * hashes without materializing the window strings. */
case class SlidingJoinHash(child: Expression, n: Int, sep: String)
    extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val sepBytes =
    UTF8String.fromString(sep).getBytes

  def compute(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val toks = new Array[UTF8String](len)
    var maxWin = 0
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    i = 0
    var runBytes = 0L
    while (i < len) { // upper bound for the reusable window buffer
      if (toks(i) != null) runBytes += toks(i).numBytes
      i += 1
    }
    maxWin = math.min(Int.MaxValue.toLong,
      runBytes + sepBytes.length.toLong * math.max(n - 1, 0)).toInt
    val buf = new Array[Byte](maxWin)
    val out = new Array[Long](len - n + 1)
    var w = 0
    while (w <= len - n) {
      var pos = 0
      var first = true
      var j = w
      while (j < w + n) {
        val t = toks(j)
        if (t != null) {
          if (!first) {
            System.arraycopy(sepBytes, 0, buf, pos, sepBytes.length)
            pos += sepBytes.length
          }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += t.numBytes
          first = false
        }
        j += 1
      }
      out(w) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      w += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("slidingJoinHash", this)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): SlidingJoinHash =
    copy(child = newChild)
}

/** [[Dedup.shingleCol]] compiled: distinct space-joined token n-grams of
  * a single-space-split text, whole-text single-element fallback below n
  * tokens (including the NULL-text → [NULL] case — identical to
  * `when(size(toks) >= n, array_distinct(transform(...)))
  * .otherwise(array(text))`). First-occurrence order like
  * array_distinct. Never NULL itself. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  private def fallback(t: UTF8String): ArrayData =
    new GenericArrayData(Array[Any](t))

  def compute(t: UTF8String): ArrayData = {
    if (t == null) return fallback(null)
    // split(text, " ") semantics: single-space delimiter, empty tokens
    // kept (they join into grams like any token)
    val bytes = t.getBytes
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    var segStart = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == 0x20) {
        starts.add(segStart); ends.add(i); segStart = i + 1
      }
      i += 1
    }
    val nTok = starts.size()
    if (nTok < n) return fallback(t)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var w = 0
    while (w <= nTok - n) {
      // join tokens w..w+n-1 with a single space; tokens are contiguous
      // byte ranges of the original text separated by single 0x20 bytes,
      // so the joined gram is exactly the byte range [starts(w), ends(w+n-1))
      seen.add(UTF8String.fromBytes(bytes, starts.get(w),
        ends.get(w + n - 1) - starts.get(w)))
      w += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    compute(v.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("shingles", this)
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute(
            ${c.isNull} ? null : ${c.value});
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** The sorted-run statistics of a gram array — the compiled form of
  * [[graft.functions.TextAnalysis]]'s runStats `aggregate` over
  * `array_sort(grams)`: struct(top = max run length, uniq = count of
  * exactly-once grams). Binary sort order and null-safe run equality
  * identical to array_sort + `<=>`. NULL array → NULL. */
case class RunTopUniq(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("top", IntegerType, nullable = false),
    StructField("uniq", IntegerType, nullable = false)))

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val a = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      a(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    // array_sort default order: ascending, nulls last
    java.util.Arrays.sort(a, (x: UTF8String, y: UTF8String) =>
      if (x == null && y == null) 0
      else if (x == null) 1
      else if (y == null) -1
      else x.compareTo(y))
    // the fold: prev starts NULL, same = prev <=> g (null-safe)
    var prev: UTF8String = null
    var cur = 0
    var top = 0
    var uniq = 0
    i = 0
    while (i < n) {
      val g = a(i)
      val same =
        if (prev == null) g == null else g != null && prev.equals(g)
      val cur2 = if (same) cur + 1 else 1
      if (cur2 > top) top = cur2
      if (!same && cur == 1) uniq += 1
      prev = g
      cur = cur2
      i += 1
    }
    if (cur == 1) uniq += 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](top, uniq))
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("runTopUniq", this)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.InternalRow) $ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): RunTopUniq =
    copy(child = newChild)
}

/** Whitespace-run tokenization — the compiled form of
  * `filter(split(text, "[ \\t\\n\\x0B\\f\\r]+"), t => t =!= "")`:
  * maximal runs of non-whitespace bytes (the six ASCII whitespace
  * chars never occur inside a UTF-8 multibyte sequence). NULL → NULL. */
case class WsTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0a || b == 0x0b || b == 0x0c || b == 0x0d

  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[Any]()
    var i = 0
    val nb = bytes.length
    while (i < nb) {
      while (i < nb && isWs(bytes(i))) i += 1
      val start = i
      while (i < nb && !isWs(bytes(i))) i += 1
      if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wsTokens", this)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): WsTokens =
    copy(child = newChild)
}

/** DSIR's unigram+bigram occurrence bag — the compiled form of
  * `concat(toks, zip_with(slice(toks, 1, max(n−1, 0)), slice(toks, 2,
  * …), (a, b) => concat(a, " ", b)))`. A NULL token yields a NULL
  * bigram element (concat semantics); NULL input → NULL. */
case class UnigramsBigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val m = if (n >= 1) n - 1 else 0
    val out = new Array[Any](n + m)
    i = 0
    while (i < n) { out(i) = toks(i); i += 1 }
    i = 0
    while (i < m) {
      val a = toks(i)
      val b = toks(i + 1)
      out(n + i) =
        if (a == null || b == null) null
        else {
          val buf = new Array[Byte](a.numBytes + 1 + b.numBytes)
          a.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
          buf(a.numBytes) = 0x20
          b.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + a.numBytes + 1)
          UTF8String.fromBytes(buf)
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramsBigrams", this)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }
  override protected def withNewChildInternal(
      newChild: Expression): UnigramsBigrams =
    copy(child = newChild)
}

/** Marker-word language ID in one pass — the compiled form of
  * [[graft.functions.TextAnalysis.langId]]'s five `size(filter(split(
  * text, " "), t => array_contains(markers, t)))` scores folded through
  * the strictly-greater argmax chain (ties keep the earlier language).
  * NULL text → NULL (call sites coalesce to the first language, which
  * is what the original's null-blind `when` chain produced). */
case class MarkerBestLang(child: Expression,
    markers: Seq[(String, Seq[String])]) extends UnaryExpression {
  require(markers.nonEmpty, "markers must be non-empty")
  override def dataType: DataType = StringType

  @transient private lazy val langsU: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    markers.map { m =>
      val s = new java.util.HashSet[UTF8String]()
      m._2.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray

  def compute(text: UTF8String): UTF8String = {
    val bytes = text.getBytes
    val counts = new Array[Int](sets.length)
    val nb = bytes.length
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == 0x20) {
        if (i > start) { // empty tokens can never match a marker
          val tok = UTF8String.fromBytes(bytes, start, i - start)
          var j = 0
          while (j < sets.length) {
            if (sets(j).contains(tok)) counts(j) += 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var best = 0
    var j = 1
    while (j < counts.length) {
      if (counts(j) > counts(best)) best = j
      j += 1
    }
    langsU(best)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markerBestLang", this)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.unsafe.types.UTF8String) $ref.compute($c)")
  }
  override protected def withNewChildInternal(
      newChild: Expression): MarkerBestLang =
    copy(child = newChild)
}

/** `array_join(filter(units, (_, i) => !array_contains(rm, i)), sep)`
  * compiled: joins the units whose index is NOT in `rm` (array_join
  * semantics — null elements skipped without doubling the separator).
  * O(units + rm) instead of O(units · rm). Both children must be
  * non-null (call sites coalesce `rm`). */
case class JoinExcludingIndices(left: Expression, right: Expression,
    sep: String) extends BinaryExpression {
  override def dataType: DataType = StringType
  @transient private lazy val sepBytes =
    UTF8String.fromString(sep).getBytes

  def compute(units: ArrayData, rm: ArrayData): UTF8String = {
    val nRm = rm.numElements()
    val excl = new java.util.HashSet[Integer](math.max(16, nRm * 2))
    var i = 0
    while (i < nRm) {
      if (!rm.isNullAt(i)) excl.add(Integer.valueOf(rm.getInt(i)))
      i += 1
    }
    val n = units.numElements()
    var total = 0
    var cnt = 0
    i = 0
    while (i < n) {
      if (!units.isNullAt(i) && !excl.contains(Integer.valueOf(i))) {
        total += units.getUTF8String(i).numBytes
        cnt += 1
      }
      i += 1
    }
    if (cnt > 1) total += sepBytes.length * (cnt - 1)
    val buf = new Array[Byte](total)
    var pos = 0
    var first = true
    i = 0
    while (i < n) {
      if (!units.isNullAt(i) && !excl.contains(Integer.valueOf(i))) {
        if (!first) {
          System.arraycopy(sepBytes, 0, buf, pos, sepBytes.length)
          pos += sepBytes.length
        }
        val t = units.getUTF8String(i)
        t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes
        first = false
      }
      i += 1
    }
    UTF8String.fromBytes(buf)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("joinExcl", this)
    defineCodeGen(ctx, ev, (a, b) =>
      s"(org.apache.spark.unsafe.types.UTF8String) $ref.compute($a, $b)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JoinExcludingIndices =
    copy(left = newLeft, right = newRight)
}

/** `aggregate(toks, 0, (acc, t) => acc + length(t))` compiled: the sum
  * of character lengths. A NULL element poisons the sum to NULL, like
  * the original fold; NULL input → NULL. */
case class SumCharLen(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  def compute(arr: ArrayData): Integer = {
    val n = arr.numElements()
    var acc = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc += arr.getUTF8String(i).numChars()
      i += 1
    }
    Integer.valueOf(acc)
  }

  override def nullSafeEval(v: Any): Any = {
    val r = compute(v.asInstanceOf[ArrayData])
    if (r == null) null else r.intValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sumCharLen", this)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Integer $r = $ref.compute($c);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.intValue(); }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): SumCharLen =
    copy(child = newChild)
}

/** The bigram-transition pair list of a token array — the compiled form
  * of [[graft.functions.NgramLm]]'s
  * {{{
  *   when(size(tk) >= 2, transform(sequence(1, size(tk) - 1),
  *     i => struct(element_at(tk, i) as __w1, element_at(tk, i + 1) as __w2)))
  *     .otherwise(array().cast("array<struct<__w1:string,__w2:string>>"))
  * }}}
  * The transform evaluated interpreted per transition. Identical output:
  * (tk(i), tk(i+1)) pairs in order; fewer than 2 tokens OR a NULL token
  * array → EMPTY array (size(NULL) is NULL, so the `when` fell through
  * to the empty branch) — hence never NULL. NULL token elements pass
  * through as NULL struct fields like element_at did. */
case class BigramPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("__w1", StringType), StructField("__w2", StringType))),
    containsNull = false)
  override def nullable: Boolean = false

  def compute(arr: ArrayData): ArrayData = {
    if (arr == null) return TextGrams.EmptyStringArray
    val n = arr.numElements()
    if (n < 2) return TextGrams.EmptyStringArray
    val out = new Array[Any](n - 1)
    var prev = if (arr.isNullAt(0)) null else arr.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      out(i - 1) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  // result is defined (empty) for a NULL child — no null-intolerant
  // shortcut
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    compute(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("bigramPairs", this)
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
  override protected def withNewChildInternal(newChild: Expression): BigramPairs =
    copy(child = newChild)
}

/** Count of array elements contained in a fixed string set — the
  * compiled form of `size(filter(toks, t => array_contains(set, t)))`.
  * The filter HOF walked every token through an interpreted
  * array_contains of the literal array. Identical semantics: NULL
  * array → NULL (size(NULL) with legacy sizeOfNull off); NULL elements
  * never match (array_contains yields NULL, filter keeps only true). */
case class CountInSet(child: Expression, set: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType

  private lazy val lookup: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](set.size * 2)
    set.foreach(x => s.add(UTF8String.fromString(x)))
    s
  }

  def compute(arr: ArrayData): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && lookup.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("countInSet", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}
