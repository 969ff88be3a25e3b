package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The count pass the bounded-state model fits share
  * ([[LangIdNgram.fitProfiles]], [[NgramLm.fit]],
  * [[QualityModel.fitLogOddsMicro]], [[Dsir.importanceWeights]] and the
  * fused [[CcNet.fit]]). Each fit turns its input into tagged
  * `(tag, a, b, n)` rows; a `groupBy(tag, a, b)` sums `n` over the union
  * of the fits' rows (map-side combinable), and one collect returns the
  * bounded part of the result. Fits that read the same corpus therefore
  * share an aggregate and a collect instead of running a job chain each.
  */
private[graft] object TaggedCounts {
  val Tag = "__tag"
  val A = "__a"
  val B = "__b"
  val N = "__n"
  /** Rank of a row within its `a` group; 0 on unranked tags. */
  val Rank = "__r"

  /** `df`'s rows as count rows under `tag`. `n` is the row's weight: one
    * occurrence unless given. */
  def rows(df: DataFrame, tag: String, a: Column, b: Column,
      n: Column = lit(1L)): DataFrame =
    df.select(lit(tag).as(Tag), a.cast("string").as(A),
      b.cast("string").as(B), n.cast("long").as(N))

  /** One aggregate over the union of `parts`: `n` summed per (tag, a, b). */
  def count(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_ unionByName _).groupBy(Tag, A, B).agg(sum(N).as(N))

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
