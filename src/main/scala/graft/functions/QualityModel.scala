package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Hashed bag-of-grams linear quality classifier — the fastText-shaped
  * document gate every public pre-training pipeline runs (Joulin et al.
  * 2016 "Bag of Tricks for Efficient Text Classification"; the CCNet
  * quality filter, Wenzek et al. 2019; the GPT-3 data recipe, Brown et
  * al. 2020 §A). The model is linear over hashed unigram+bigram
  * features; fitting uses per-bucket log-odds (the closed-form Naive
  * Bayes weights) instead of SGD, which keeps the SAME w·x scoring form
  * while making the fit deterministic and replayable in any engine —
  * no optimizer state, no iteration order, no float accumulation.
  *
  * Everything reuses [[Dsir]]'s engine-portable machinery: md5-derived
  * gram buckets ([[Dsir.gramBucket]]), integer micro-unit weights
  * ([[Dsir.logRatioMicro]] — weight_b = 1e6·ln of the add-0.5-smoothed
  * positive/negative bucket-count ratio), and integer-exact document
  * scores (sums of 64-bit micro-units, so partial-aggregation order and
  * engine cannot change a keep/drop decision).
  *
  * Scale shape: the FIT is one [[TaggedCounts.count]] pass per class
  * sample: each document's bucket rows, summed in a per-task hash map of at
  * most [[TaggedCounts.MaxEntries]] keys, then ONE bounded aggregate over
  * both classes (groupBy (class, bucket), output ≤ 2·nBuckets rows, one
  * collect — the sample is small by contract, the 100 TB corpus never
  * enters the fit; in [[CcNet.fit]] the same rows come out of the one
  * language-ID and LM count pass, from the same tokenization). SCORING is
  * a zero-shuffle fold of each document's own gram array against the
  * broadcast weight table, linear in corpus bytes, in one projection that
  * other per-row columns can ride ([[withScore]]).
  */
object QualityModel {

  /** Fit the classifier: integer-micro log-odds weights per hash bucket
    * from a labeled sample (`pos` = keep-class texts, `neg` =
    * reject-class). Output index = bucket id; buckets unseen in both
    * classes get the smoothing-only prior (≈ ln(negTotal/posTotal)). */
  def fitLogOddsMicro(pos: DataFrame, neg: DataFrame, textCol: String,
      nBuckets: Int = 8192): Array[Long] =
    weights(TaggedCounts.collect(
      TaggedCounts.count(Seq(PosTag -> pos, NegTag -> neg).map {
        case (tag, df) => TaggedCounts.Docs(df, textCol, None,
          _ => TaggedCounts.Emit(buckets = Some(tag)))
      }, nBuckets = nBuckets),
      None, Tags), nBuckets)

  private[functions] val PosTag = "pos"
  private[functions] val NegTag = "neg"
  private[functions] val Tags = Seq(PosTag, NegTag)

  /** The weights from a collected count state holding the [[Tags]] rows. */
  private[functions] def weights(state: Seq[Row],
      nBuckets: Int): Array[Long] =
    Dsir.logRatioMicro(Dsir.bucketArray(state, PosTag, nBuckets),
      Dsir.bucketArray(state, NegTag, nBuckets))

  /** Score every document: score_micro = Σ over the doc's grams of
    * their bucket weights; keep ⟺ score_micro >= thresholdMicroPerGram
    * · n_grams (a per-gram mean threshold expressed as an exact integer
    * cross-multiply — no division, no float). Threshold 0 = the plain
    * "more positive-class-like than negative" decision.
    *
    * The weight table rides a 1-row broadcast ([[Similarity]]'s
    * plan-size rationale) and each row folds its own gram array in one
    * codegen projection — zero corpus shuffle.
    *
    * The contract is TOTAL and two-valued: NULL-text documents score
    * (0 grams, 0 micro) and keep follows the same exact comparison
    * (trivially true at threshold <= 0) — never a NULL keep that both
    * `filter(keep)` and `filter(!keep)` would drop. Run a length/
    * emptiness gate ahead of this one if empty documents should not
    * pass by default. Output: (idCol, n_grams, score_micro, keep).
    */
  def score(df: DataFrame, idCol: String, textCol: String,
      weightsMicro: Array[Long], nBuckets: Int,
      thresholdMicroPerGram: Long = 0L): DataFrame =
    withScore(df.select(col(idCol), col(textCol)), Dsir.tokens(col(textCol)),
        weightsMicro, nBuckets, thresholdMicroPerGram)
      .select(idCol, "n_grams", "score_micro", "keep")

  /** [[score]]'s (n_grams, score_micro, keep) appended to every column of
    * `df`, in the same projection pass, so other per-row columns computed
    * over `df` share it instead of a join by id. `tokens` is the document's
    * token array ([[Dsir.tokens]] of its text) over `df`'s columns; a caller
    * that needs the tokens for more than the score passes a column of `df`
    * that holds them, so the text is tokenized once. */
  private[graft] def withScore(df: DataFrame, tokens: Column,
      weightsMicro: Array[Long], nBuckets: Int,
      thresholdMicroPerGram: Long = 0L): DataFrame = {
    require(weightsMicro.length == nBuckets,
      s"weight table size ${weightsMicro.length} != nBuckets $nBuckets")
    val spark = df.sparkSession
    import spark.implicits._
    val wRow = broadcast(Seq(Tuple1(weightsMicro.toSeq)).toDF("__w"))
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    df.crossJoin(wRow)
      .select(cols :+ graft.functions.expressions.TextGrams
        .unigrams_bigrams(tokens).as("__gs") :+ col("__w"): _*)
      .select(cols ++ Seq(
        coalesce(size(col("__gs")).cast("long"), lit(0L)).as("n_grams"),
        // compiled md5-bucket weight fold (same kernel as
        // [[Dsir.importanceWeights]]'s scoring pass) — identical buckets,
        // integer sum, and null semantics as the old interpreted
        // aggregate(transform(...)) chain (guide §4)
        coalesce(graft.functions.expressions.GramBuckets
          .bucket_weight_sum(col("__gs"), col("__w"), nBuckets),
          lit(0L)).as("score_micro")): _*)
      .withColumn("keep",
        col("score_micro") >= col("n_grams") * lit(thresholdMicroPerGram))
  }
}
