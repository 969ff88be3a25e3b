package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.expressions.LangIdOop

/** Character-n-gram language identification — Cavnar & Trenkle 1994
  * ("N-Gram-Based Text Categorization"): each language is a RANK-ORDERED
  * profile of its most frequent character n-grams; a document is scored
  * against each profile by the out-of-place measure (sum over the
  * document's own top-k grams of the rank displacement, with a fixed
  * k penalty for grams absent from the language profile) and classified
  * to the minimum. Marker-word language ID ([[TextAnalysis.langId]])
  * misclassifies short and noisy documents — the majority of web-crawl
  * text; character n-grams degrade gracefully because every substring
  * votes.
  *
  * Deterministic and engine-replayable by construction: gram extraction
  * is plain substring arithmetic, ranking ties break (count desc, gram
  * asc) on binary UTF-8 order, and the out-of-place score is an exact
  * integer sum — no floats anywhere, so identical ranking and argmin in
  * any engine.
  *
  * Scale shape: the FIT is one [[TaggedCounts.count]] pass of per-language
  * gram counts, summed per task and merged by one aggregate (output
  * bounded by k·|langs| after the rank filter — only THAT is collected).
  * CLASSIFICATION is a per-row map: one compiled kernel ([[LangIdOop]])
  * counts, ranks and scores each document's own grams against the
  * k·|langs|-entry profile held as a constant — no shuffle, no join, no
  * corpus-scale collect.
  */
object LangIdNgram {

  /** Sliding character n-grams of `text` (character-based positions, so
    * multi-byte code points count as one). Empty array below n chars or
    * for NULL text. One compiled pass
    * ([[graft.functions.expressions.TextGrams.char_ngrams]]). */
  def charGrams(text: Column, n: Int): Column =
    coalesce(
      graft.functions.expressions.TextGrams.char_ngrams(text, n),
      array().cast("array<string>"))

  /** One language profile row: gram + its 1-based frequency rank. */
  final case class ProfileEntry(lang: String, gram: String, rank: Int)

  private[functions] val ProfileTag = "lid"

  /** The profiles in a [[TaggedCounts.collect]] result ranked on
    * [[ProfileTag]]. */
  private[functions] def profiles(state: Seq[Row]): Seq[ProfileEntry] =
    TaggedCounts.tagged(state, ProfileTag)
      .map(r => ProfileEntry(r.getString(1), r.getString(2), r.getInt(4)))

  /** Fit rank-order profiles from a labeled corpus: per language, the
    * top-`k` character n-grams by count, ranked (count desc, gram asc).
    * Rows with a NULL language are skipped. Only the bounded k·|langs|
    * profile is collected. */
  def fitProfiles(df: DataFrame, langCol: String, textCol: String,
      n: Int = 3, k: Int = 40): Seq[ProfileEntry] =
    profiles(TaggedCounts.collect(
      TaggedCounts.count(Seq(TaggedCounts.Docs(df, textCol, Some(langCol),
        _ => TaggedCounts.Emit(profile = true))), n = n),
      Some(ProfileTag -> k), Nil))

  /** Classify each document against the fitted profiles, one row out
    * per row in: oop(doc, lang) = Σ over the doc's top-k grams of
    * |doc_rank − lang_rank|, or k when the gram is absent from the
    * language profile. Prediction = argmin score, ties to the lexically
    * smallest language. Documents with no grams (NULL or shorter than n
    * chars) predict NULL with score NULL.
    * Output: (idCol, pred_lang, oop_score).
    */
  def classify(df: DataFrame, idCol: String, textCol: String,
      profiles: Seq[ProfileEntry], n: Int = 3, k: Int = 40): DataFrame =
    df.select(col(idCol),
        LangIdOop.lang_id_oop(col(textCol), profiles, n, k).as("__lid"))
      .select(col(idCol), col("__lid.pred_lang"), col("__lid.oop_score"))
}
