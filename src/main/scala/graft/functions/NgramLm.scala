package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** N-gram language-model perplexity scoring — the CCNet-style quality
  * gate (Wenzek et al. 2019 trains a KenLM on curated text and buckets
  * the crawl into head/middle/tail by perplexity; the same gate appears
  * in the LLaMA and GPT-3 data recipes). The model here is a bigram LM
  * with Stupid Backoff smoothing (Brants et al. 2007, "Large Language
  * Models in Machine Translation" — the web-scale smoothing choice
  * precisely because it is count-arithmetic only, no discounting
  * state):
  *
  *   P(w2|w1) = c(w1 w2)/c(w1)      when the bigram was seen,
  *            = 0.4 · c(w2)/N       backoff to the unigram,
  *            = 0.4 · 1/(N+1)       OOV floor,
  *
  * with per-token log-probs quantized to integer MICRO-units
  * (floor(1e6·ln P + 0.5)) BEFORE any summation — document scores are
  * exact integer sums, so partial-aggregation order and engine cannot
  * flip a bucket decision ([[Dsir]]'s determinism rules; the same libm
  * ulp caveat applies to the ln itself, see [[Dsir.logRatioMicro]]).
  *
  * Scale shape — deliberately DIFFERENT from [[QualityModel]]: an LM
  * vocabulary is corpus-sized, so the count tables are NOT collected
  * or broadcast. The fit is ONE [[TaggedCounts.count]] pass: each document
  * is tokenized once, its unigram, bigram and token-total rows are summed
  * in a per-task hash map of at most [[TaggedCounts.MaxEntries]] keys, and
  * one groupBy merges the tasks' sums; the table is materialized once.
  * `uni` and `bi` STAY distributed as tag-filtered views of that table,
  * and only the one-row token total reaches the driver. The same rows come
  * out of [[CcNet.fit]]'s count pass with the language-ID and
  * quality-model rows. Scoring explodes the corpus into token
  * transitions and attaches c(w1 w2), c(w1), c(w2) via three keyed
  * equi-joins (AQE picks broadcast automatically when a fitted table
  * is actually small), then one per-doc aggregation. Everything is
  * corpus-linear keyed shuffles; nothing pairwise, nothing
  * driver-side.
  */
object NgramLm {

  /** Fitted model: distributed unigram/bigram count tables + the total
    * token count. Persist the tables (bucketed by gram) to reuse one
    * fit across many scoring runs. */
  final case class Model(uni: DataFrame, bi: DataFrame, totalTokens: Long)

  // tokens = maximal non-whitespace runs ([[Dsir.tokens]] — the shared
  // CCNet-recipe tokenization: `\s+` split, empty fragments dropped)
  private def tokens(text: Column): Column = Dsir.tokens(text)

  private[functions] val UniTag = "uni"
  private[functions] val BiTag = "bi"
  private[functions] val TokTag = "tok"

  /** The model over a (checkpointed) count table that holds the LM's
    * [[TaggedCounts.count]] rows, with the [[TokTag]] rows of its bounded
    * state. The count tables stay distributed, as tag-filtered views of
    * `counts`. A target with no tokens has no [[TokTag]] row or one of
    * weight 0: totalTokens is 0 and every transition scores at the OOV
    * floor. */
  private[functions] def model(counts: DataFrame, state: Seq[Row]): Model =
    Model(
      counts.filter(col(TaggedCounts.Tag) === UniTag)
        .select(col(TaggedCounts.A).as("__w"), col(TaggedCounts.N).as("__c1")),
      counts.filter(col(TaggedCounts.Tag) === BiTag)
        .select(col(TaggedCounts.A).as("__w1"), col(TaggedCounts.B).as("__w2"),
          col(TaggedCounts.N).as("__c12")),
      TaggedCounts.tagged(state, TokTag).map(_.getLong(3)).sum)

  /** The fit's count pass over `target`, before it is materialized. */
  private[graft] def counts(target: DataFrame, textCol: String): DataFrame =
    TaggedCounts.count(Seq(TaggedCounts.Docs(target, textCol, None,
      _ => TaggedCounts.Emit(lm = true))))

  /** Fit the LM on a target corpus (the curated side — e.g. the same
    * labeled sample the [[QualityModel]] fit uses). One pass tokenizes each
    * document once and one aggregate counts unigrams, bigrams and tokens
    * together; it is materialized once (`localCheckpoint`), because every
    * [[score]] call joins it three times, and the total is read from it by
    * one more job. For cross-job
    * reuse at scale, persist the tables bucketed by gram instead (see
    * [[Model]]). */
  def fit(target: DataFrame, textCol: String): Model = {
    val ck = counts(target, textCol).localCheckpoint()
    model(ck, ck.filter(col(TaggedCounts.Tag) === TokTag).collect().toSeq)
  }

  /** Per-token integer-micro log-prob under Stupid Backoff. Split out
    * so the scoring plan and specs share one definition. */
  private def logPMicro(c12: Column, c1: Column, c2: Column,
      totalTokens: Long): Column = {
    val p = when(c12.isNotNull, c12.cast("double") / c1.cast("double"))
      .otherwise(when(c2.isNotNull,
        lit(0.4) * c2.cast("double") / lit(totalTokens.toDouble))
        .otherwise(lit(0.4) / lit(totalTokens.toDouble + 1.0)))
    floor(log(p) * lit(1e6) + lit(0.5)).cast("long")
  }

  /** Score every document: explode its token transitions, attach the
    * three counts by equi-join, quantize per transition, aggregate per
    * document. Output: (idCol, n_scored, logprob_micro,
    * avg_logprob_micro) — n_scored = token transitions (tokens − 1);
    * docs with fewer than 2 tokens score 0 transitions with NULL
    * average. avg = floor(sum/n) in micro-units (exact: |sum| stays
    * far under 2^53, so the double division is lossless). Higher avg =
    * more target-like; CCNet's head/middle/tail split is two
    * thresholds on this column ([[pplBucket]]).
    */
  def score(df: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    df.select(col(idCol))
      .join(transitionScores(df, idCol, textCol, model), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"),
        avgLogProbMicro(col("n_scored"), col("logprob_micro"))
          .as("avg_logprob_micro"))

  /** [[score]]'s (idCol, n_scored, logprob_micro) for the documents that
    * have at least one token transition, one row per distinct id. */
  private[graft] def transitionScores(df: DataFrame, idCol: String,
      textCol: String, model: Model): DataFrame = {
    // compiled transition kernel — identical pair stream to the old
    // `when(size >= 2, transform(...)).otherwise(empty)` (the kernel's
    // empty-array result covers both the < 2-token and NULL-token-array
    // branches)
    val trans = df
      .select(col(idCol).as("__id"), explode(
        graft.functions.expressions.TextGrams.bigram_pairs(
          tokens(col(textCol)))).as("__b"))
      .select(col("__id"), col("__b.__w1").as("__w1"),
        col("__b.__w2").as("__w2"))
    withLogProb(trans, model)
      .groupBy("__id")
      .agg(count(lit(1)).as("n_scored"), sum("__lp").as("logprob_micro"))
      .withColumnRenamed("__id", idCol)
  }

  /** `trans`, which holds token transitions (`__w1`, `__w2`), with the
    * three counts attached by left equi-joins and `__lp`, the
    * transition's integer-micro log-prob. A row whose `__w1` is NULL is no
    * transition (a document without any, kept by an outer explode) and
    * has a NULL `__lp`. */
  private[graft] def withLogProb(trans: DataFrame, model: Model): DataFrame =
    trans
      .join(model.bi, Seq("__w1", "__w2"), "left")
      .join(model.uni.select(col("__w").as("__w1"), col("__c1")),
        Seq("__w1"), "left")
      .join(model.uni.select(col("__w").as("__w2"), col("__c1").as("__c2")),
        Seq("__w2"), "left")
      .withColumn("__lp", when(col("__w1").isNotNull,
        logPMicro(col("__c12"), col("__c1"), col("__c2"), model.totalTokens)))

  /** avg_logprob_micro from [[transitionScores]]' columns: floor(sum/n),
    * NULL without transitions (n 0 or NULL). */
  private[graft] def avgLogProbMicro(nScored: Column,
      logProbMicro: Column): Column =
    when(nScored > 0,
      floor(logProbMicro.cast("double") / nScored.cast("double")).cast("long"))

  /** CCNet's head/middle/tail bucket from the per-token average
    * log-prob (micro-units; HIGHER = more target-like = lower
    * perplexity). `headMin` and `tailMax` are the two cut points:
    * avg >= headMin → "head", avg < tailMax → "tail", else "middle";
    * unscored docs (NULL avg) → "tail" (the conservative crawl
    * default). Exact integer comparisons — engine-portable. */
  def pplBucket(avgLogProbMicro: Column, headMin: Long,
      tailMax: Long): Column = {
    require(headMin >= tailMax,
      s"headMin ($headMin) must be >= tailMax ($tailMax): buckets are " +
        "head >= headMin > middle >= tailMax > tail on the avg log-prob " +
        "axis — swapped cut points would silently empty the middle bucket")
    when(avgLogProbMicro.isNull, lit("tail"))
      .when(avgLogProbMicro >= headMin, lit("head"))
      .when(avgLogProbMicro < tailMax, lit("tail"))
      .otherwise(lit("middle"))
  }
}
