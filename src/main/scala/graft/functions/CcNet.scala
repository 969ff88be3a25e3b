package graft.functions

import org.apache.spark.sql.DataFrame

import graft.functions.TaggedCounts.{Docs, Emit}

/** The three models of the CCNet gate (Wenzek et al. 2019) fit together
  * over one labeled corpus: rank-order language-ID profiles
  * ([[LangIdNgram.fitProfiles]]), the bigram LM on the keep-language
  * documents ([[NgramLm.fit]]) and the quality model's log-odds weights,
  * keep language against every other labeled document
  * ([[QualityModel.fitLogOddsMicro]]).
  *
  * Scale shape: one [[TaggedCounts.count]] pass reads the corpus once. Each
  * labeled document gives its profile rows; a keep-language document also
  * gives the LM's rows and the positive bucket rows, any other labeled one
  * the negative bucket rows, all from one tokenization. Each task sums its
  * rows in a hash map of at most [[TaggedCounts.MaxEntries]] keys, and one
  * aggregate merges the tasks' sums; the table is materialized once. One
  * collect returns the bounded state (the top-k profile per language, both
  * bucket-count arrays and the LM's token total); the LM's `uni`/`bi`
  * tables stay distributed as tag-filtered views of the same materialized
  * table. The results equal the three separate fits' exactly.
  */
object CcNet {

  final case class Fit(profiles: Seq[LangIdNgram.ProfileEntry],
      lm: NgramLm.Model, weightsMicro: Array[Long])

  /** The fused count pass over `docs`, before it is materialized. */
  private[graft] def counts(docs: DataFrame, langCol: String, textCol: String,
      keepLang: String, n: Int, nBuckets: Int): DataFrame = {
    val keep = Emit(profile = true, lm = true, buckets = Some(QualityModel.PosTag))
    val rest = Emit(profile = true, buckets = Some(QualityModel.NegTag))
    val unlabeled = Emit()
    TaggedCounts.count(Seq(Docs(docs, textCol, Some(langCol), lang =>
        if (lang == null) unlabeled else if (lang == keepLang) keep else rest)),
      n, nBuckets)
  }

  def fit(docs: DataFrame, langCol: String, textCol: String,
      keepLang: String = "en", n: Int = 3, k: Int = 40,
      nBuckets: Int = 1024): Fit = {
    val ck = counts(docs, langCol, textCol, keepLang, n, nBuckets)
      .localCheckpoint()
    val state = TaggedCounts.collect(ck, Some(LangIdNgram.ProfileTag -> k),
      NgramLm.TokTag +: QualityModel.Tags)
    Fit(LangIdNgram.profiles(state), NgramLm.model(ck, state),
      QualityModel.weights(state, nBuckets))
  }
}
