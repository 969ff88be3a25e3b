package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.{BigramPairs, CharNgrams, GramBucket, UnigramsBigrams, WsTokens}

/** The count pass the bounded-state model fits share
  * ([[LangIdNgram.fitProfiles]], [[NgramLm.fit]],
  * [[QualityModel.fitLogOddsMicro]], [[Dsir.importanceWeights]] and the
  * fused [[CcNet.fit]]). Every fit counts tagged `(tag, a, b, n)` rows, and
  * [[count]] is the one place that says which rows a document gives.
  *
  * Scale shape: one `mapPartitions` pass per input frame. Each document is
  * tokenized once; its bigram transitions and its unigram+bigram bag come
  * from that token array, and its character n-grams from its text, all
  * through the kernels' `compute` methods. A per-task hash map sums the
  * rows, and is emitted whenever it holds [[MaxEntries]] keys and at the
  * end of the partition, so a task holds at most that many keys (plus one
  * document's) at any corpus size. One `groupBy(tag, a, b)` then merges
  * the partial sums of every task, and one collect returns the bounded
  * part of the result. Fits that read the same corpus therefore share a
  * scan, an aggregate and a collect instead of running a job chain each.
  */
private[graft] object TaggedCounts {
  val Tag = "__tag"
  val A = "__a"
  val B = "__b"
  val N = "__n"
  /** Rank of a row within its `a` group; 0 on unranked tags. */
  val Rank = "__r"

  /** Distinct keys a task sums before it emits them. */
  private[graft] val MaxEntries = 1 << 16

  /** The rows one document gives:
    *   - `profile`: one [[LangIdNgram.ProfileTag]] row per character n-gram
    *     occurrence, `a` = language, `b` = gram; a NULL language gives none;
    *   - `lm`: one [[NgramLm.UniTag]] row per token (`a` = w), one
    *     [[NgramLm.BiTag]] row per token transition (`a` = w1, `b` = w2)
    *     and one [[NgramLm.TokTag]] row weighted by its token count (0 for
    *     a NULL text);
    *   - `buckets`: under that tag, the md5 bucket ([[Dsir.gramBucket]]) of
    *     every unigram and bigram occurrence ([[Dsir.grams]]) as `a`. */
  final case class Emit(profile: Boolean = false, lm: Boolean = false,
      buckets: Option[String] = None)

  /** One input frame: its text column, its language column (without one,
    * every language is NULL), and the rows a document of a language gives
    * (the language cast to string; NULL as null). */
  final case class Docs(df: DataFrame, textCol: String,
      langCol: Option[String], emit: String => Emit)

  private val Schema = StructType(Seq(StructField(Tag, StringType),
    StructField(A, StringType), StructField(B, StringType),
    StructField(N, LongType, nullable = false)))

  /** The count table of `docs`: `n` summed per (tag, a, b), before it is
    * materialized. `n` is the character n-gram size of profile rows and
    * `nBuckets` the bucket count of bucket rows; each is read only if some
    * document gives such rows. */
  def count(docs: Seq[Docs], n: Int = 0, nBuckets: Int = 0): DataFrame =
    docs.map { d =>
      val lang = d.langCol.fold(lit(null))(col)
      val emit = d.emit
      d.df.select(lang.cast("string"), col(d.textCol))
        .mapPartitions(combine(_, emit, n, nBuckets))(Encoders.row(Schema))
    }.reduce(_ unionByName _).groupBy(Tag, A, B).agg(sum(N).as(N))

  /** One task's documents (language, text) as summed count rows. */
  private def combine(rows: Iterator[Row], emit: String => Emit, n: Int,
      nBuckets: Int): Iterator[Row] = {
    import NgramLm.{BiTag, TokTag, UniTag}
    lazy val charGrams = CharNgrams(Literal(null, StringType), n)
    val tokenizer = WsTokens(Literal(null, StringType))
    val pairs = BigramPairs(Literal(null, ArrayType(StringType)))
    val bag = UnigramsBigrams(Literal(null, ArrayType(StringType)))
    lazy val bucket = GramBucket(Literal(null, StringType), nBuckets)
    lazy val bucketIds = Array.tabulate(nBuckets)(b => UTF8String.fromString(b.toString))
    // the keys keep their own bytes: a kernel's strings point into the
    // whole document
    val acc = new java.util.HashMap[(String, UTF8String, UTF8String), Array[Long]]()
    def add(tag: String, a: UTF8String, b: UTF8String, w: Long): Unit = {
      val sum = acc.get((tag, a, b))
      if (sum != null) sum(0) += w
      else acc.put((tag, if (a == null) null else a.clone(),
        if (b == null) null else b.clone()), Array(w))
    }
    def document(r: Row): Unit = {
      val lang = r.getString(0)
      val e = emit(lang)
      val text = if (r.isNullAt(1)) null else UTF8String.fromString(r.getString(1))
      if (e.profile && lang != null && text != null) {
        val l = UTF8String.fromString(lang)
        val gs = charGrams.compute(text)
        for (i <- 0 until gs.numElements())
          add(LangIdNgram.ProfileTag, l, gs.getUTF8String(i), 1L)
      }
      if (e.lm || e.buckets.isDefined) {
        val toks = if (text == null) null else tokenizer.compute(text)
        if (e.lm) {
          if (toks != null) {
            for (i <- 0 until toks.numElements())
              add(UniTag, toks.getUTF8String(i), null, 1L)
            val ps = pairs.compute(toks)
            for (i <- 0 until ps.numElements()) {
              val p = ps.getStruct(i, 2)
              add(BiTag, p.getUTF8String(0), p.getUTF8String(1), 1L)
            }
          }
          add(TokTag, null, null, if (toks == null) 0L else toks.numElements())
        }
        for (tag <- e.buckets if toks != null) {
          val gs = bag.compute(toks)
          for (i <- 0 until gs.numElements())
            add(tag, bucketIds(bucket.compute(gs.getUTF8String(i))), null, 1L)
        }
      }
    }
    def drain(): Iterator[Row] = {
      val out = new ArrayBuffer[Row](acc.size)
      acc.forEach { case ((tag, a, b), sum) =>
        out += Row(tag, if (a == null) null else a.toString,
          if (b == null) null else b.toString, sum(0))
      }
      acc.clear()
      out.iterator
    }
    Iterator.continually(rows).takeWhile(_.hasNext).flatMap { _ =>
      while (rows.hasNext && acc.size < MaxEntries) document(rows.next())
      drain()
    }
  }

  /** The bounded state of `counts` in one collect: per `a` under
    * `rankTag`, the top `k` rows ranked (n desc, b asc) from 1; and every
    * row under `wholeTags`, at rank 0. Output rows: (tag, a, b, n, rank). */
  def collect(counts: DataFrame, ranked: Option[(String, Int)],
      wholeTags: Seq[String]): Seq[Row] = {
    val top = ranked.map { case (tag, k) =>
      counts.filter(col(Tag) === tag)
        .withColumn(Rank, row_number().over(
          Window.partitionBy(A).orderBy(col(N).desc, col(B))))
        .filter(col(Rank) <= k)
    }
    val whole = Option.when(wholeTags.nonEmpty)(
      counts.filter(col(Tag).isin(wholeTags: _*)).withColumn(Rank, lit(0)))
    (top.toSeq ++ whole).reduce(_ unionByName _).collect().toSeq
  }

  /** The rows of `state` under `tag`. */
  def tagged(state: Seq[Row], tag: String): Seq[Row] =
    state.filter(_.getString(0) == tag)
}
