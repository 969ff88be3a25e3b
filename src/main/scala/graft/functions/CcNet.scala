package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three models of the CCNet gate (Wenzek et al. 2019) fit together
  * over one labeled corpus: rank-order language-ID profiles
  * ([[LangIdNgram.fitProfiles]]), the bigram LM on the keep-language
  * documents ([[NgramLm.fit]]) and the quality model's log-odds weights,
  * keep language against every other labeled document
  * ([[QualityModel.fitLogOddsMicro]]).
  *
  * Scale shape: the three fits' count rows go through two
  * [[TaggedCounts]] aggregates (the language-ID rows, and the rest) whose
  * shuffle stages run side by side, materialized together once. One collect returns the
  * bounded state (the top-k profile per language, both bucket-count
  * arrays and the LM's token total); the LM's `uni`/`bi` tables stay
  * distributed as tag-filtered views of the same materialized table. The
  * results equal the three separate fits' exactly.
  */
object CcNet {

  final case class Fit(profiles: Seq[LangIdNgram.ProfileEntry],
      lm: NgramLm.Model, weightsMicro: Array[Long])

  /** The fused count pass over `docs`, before it is materialized. */
  private[graft] def counts(docs: DataFrame, langCol: String, textCol: String,
      keepLang: String, n: Int, nBuckets: Int): DataFrame = {
    val keep = docs.filter(col(langCol) === keepLang)
    val rest = docs.filter(col(langCol) =!= keepLang)
    // two aggregates, not one: the char-gram rows outnumber all the others
    // several times over, and in an aggregate of their own the partial
    // aggregation runs in their generator's codegen stage instead of
    // reading them row by row out of a Union (measured ~25% less
    // wall time per ccnet pass on 4 cores)
    TaggedCounts.count(Seq(LangIdNgram.profileRows(docs, langCol, textCol, n)))
      .unionByName(TaggedCounts.count(NgramLm.countRows(keep, textCol) ++
        QualityModel.countRows(keep, rest, textCol, nBuckets)))
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
