package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling", arXiv:2302.03169): score
  * every raw-corpus document by the log-likelihood ratio of a TARGET
  * distribution vs the RAW distribution over hashed n-gram buckets, so a
  * 100 TB web crawl can be re-weighted toward a curated target domain
  * (the paper's hashed unigram+bigram feature space).
  *
  * Engine-portable by construction, like [[Sampling]]:
  *
  *   - the bucket hash is the first 4 hex chars of md5(gram) parsed as a
  *     16-bit integer mod `nBuckets` — md5 is bit-identical everywhere
  *     and the per-char ascii() arithmetic replays in any engine (no
  *     xxhash/murmur divergence, no hex-cast dialect differences);
  *   - per-bucket log ratios are quantized to integer MICRO-units
  *     (floor(lr·1e6 + 0.5)) before any summation, so document weights
  *     are exact 64-bit integer sums — no float fold-order dependence
  *     between partial aggregates or engines. The residual cross-engine
  *     exposure is the ln/−ln(−ln u) calls feeding the quantizer (libm
  *     transcendentals are not correctly rounded; see [[logRatioMicro]]) —
  *     inject the computed tables when bit-exact replay on another
  *     engine matters.
  *
  * Scale shape: one [[TaggedCounts.count]] pass per corpus, whose tasks
  * sum their bucket rows in a bounded hash map, and one fit aggregate over
  * both (groupBy (corpus, bucket), output bounded by 2·`nBuckets` rows —
  * THAT is what gets collected, never the corpus), a driver-computed
  * log-ratio table broadcast as one row, and a ZERO-SHUFFLE scoring pass:
  * each document folds its own gram array against the broadcast table
  * inside one projection.
  */
object Dsir {

  /** Tokens = maximal non-whitespace runs: split on ASCII-whitespace
    * runs and drop the empty fragments a leading/trailing run produces.
    * This matches the published CCNet/DSIR recipes on crawl text —
    * splitting on a single space would glue newline-separated words
    * into one pseudo-token and admit empty tokens between consecutive
    * spaces, skewing the bucket distributions. The class is spelled out
    * instead of `\s` because the ENGINES DISAGREE on `\s`: Java's
    * (Spark) includes vertical tab 0x0B, RE2's (the DuckDB oracles)
    * does not — an explicit `[ \t\n\x0B\f\r]` means both engines
    * tokenize VT-bearing crawl text identically. NULL text stays NULL
    * (split and filter propagate).
    */
  private[functions] def tokens(text: Column): Column =
    // compiled whitespace-run tokenizer ([[expressions.WsTokens]]) —
    // byte-level maximal runs over the same six ASCII whitespace chars,
    // identical to the regex split + interpreted filter() it replaces
    // (the five class chars never occur inside a UTF-8 multibyte
    // sequence); NULL stays NULL (guide §4)
    graft.functions.expressions.TextGrams.ws_tokens(text)

  /** Unigrams + bigrams of whitespace tokens, as one array (occurrence
    * bag, not a set — DSIR counts occurrences).
    *
    * Shape matters here: the bigrams are built with `zip_with` over two
    * `slice`s of the token array instead of a `transform(sequence(...),
    * i => element_at(toks, i)...)` index loop. Inside a lambda Catalyst
    * re-evaluates a captured expression PER ELEMENT (no common-
    * subexpression elimination crosses the lambda boundary), so the
    * index-loop form re-ran the whole `\s+` split + filter once per
    * token — O(tokens) regex splits per row, measured 2.4x on the
    * md5-bound fold queries when the run-splitting tokenizer landed.
    * With every `toks` reference outside a lambda, codegen CSE computes
    * the split once per row.
    */
  def grams(text: Column): Column =
    // compiled unigram+bigram bag ([[expressions.UnigramsBigrams]]) — one
    // pass over the token array, identical output to the r16 zip_with-of-
    // slices form (n unigrams then n−1 single-space-joined bigrams; NULL
    // input → NULL) without the per-element interpreted-lambda cost
    // (guide §4)
    graft.functions.expressions.TextGrams.unigrams_bigrams(tokens(text))

  /** Hash bucket for a gram: first 4 hex chars of md5 as a 16-bit value,
    * mod `nBuckets` (so nBuckets <= 65536; non-power-of-two sizes get the
    * usual negligible mod bias). ONE md5 + one base-16 `conv` per gram —
    * inside `transform` lambdas there is no common-subexpression
    * elimination, so a per-char parse would recompute md5 four times.
    * Engines without `conv` replay it as per-char ascii arithmetic on
    * the same md5 prefix (see the td_dsir_weights oracle) — the VALUE is
    * the contract, not the expression shape.
    */
  def gramBucket(gram: Column, nBuckets: Int): Column =
    // compiled kernel ([[expressions.GramBuckets.gram_bucket]]): reads
    // the two digest bytes directly instead of rendering the 32-char hex
    // string, substringing, and re-parsing base-16 per gram — the VALUE
    // (pmod(conv(substring(md5(g),1,4),16,10),n)) is unchanged and stays
    // the cross-engine contract (guide §4)
    graft.functions.expressions.GramBuckets.gram_bucket(gram, nBuckets)

  /** The per-bucket counts under `tag` in a collected count state, as an
    * array indexed by bucket id. */
  private[functions] def bucketArray(state: Seq[Row], tag: String,
      nBuckets: Int): Array[Long] = {
    val arr = new Array[Long](nBuckets)
    TaggedCounts.tagged(state, tag)
      .foreach(r => arr(r.getString(1).toInt) = r.getLong(3))
    arr
  }

  /** Quantized log-likelihood-ratio table: for each bucket b,
    * floor(1e6 · ln(p_target(b) / p_raw(b)) + 0.5) with add-0.5
    * smoothing, i.e. ln(((t_b+0.5)·(R+0.5·n)) / ((r_b+0.5)·(T+0.5·n)))
    * computed as ONE ln call (halves the cross-engine ulp exposure vs
    * subtracting two logs). The micro-unit quantization makes downstream
    * SUMS integer-exact (no float fold-order dependence), but the
    * quantization itself is only as portable as ln: IEEE 754 does not
    * require correctly-rounded transcendentals, so when lr·1e6 lands
    * within an ulp of a .5 boundary, floor(·+0.5) can differ by one
    * micro-unit between libm implementations (JVM Math.log vs another
    * engine's ln). Same-engine reruns are exactly reproducible; for
    * bit-exact CROSS-engine replay, export this table and inject the
    * constants into the other engine rather than recomputing ln there.
    */
  def logRatioMicro(target: Array[Long], raw: Array[Long]): Array[Long] = {
    require(target.length == raw.length, "bucket tables must align")
    val n = target.length
    val tTot = target.sum.toDouble + 0.5 * n
    val rTot = raw.sum.toDouble + 0.5 * n
    target.indices.map { b =>
      val lr = math.log(((target(b) + 0.5) * rTot) / ((raw(b) + 0.5) * tTot))
      math.floor(lr * 1e6 + 0.5).toLong
    }.toArray
  }

  /** Gumbel-top-k selection over importance weights (the paper's
    * sampling-without-replacement trick: adding Gumbel(0,1) noise to the
    * log-weights and taking the top k draws k documents with probability
    * proportional to their softmax weights). The noise is DETERMINISTIC —
    * u = (16-bit md5 prefix of the key + 0.5) / 65536, g = −ln(−ln u) —
    * so the same corpus re-selects the same rows on any engine and any
    * rerun, like everything else in this module. `temperatureMicro`
    * scales the weight→noise balance (1e6 ≡ the paper's temperature 1).
    *
    * The k-selection is a TakeOrderedAndProject-shaped global top-k
    * (partial per-partition top-k, then one bounded merge), never a full
    * sort of the corpus.
    */
  def gumbelTopK(weighted: DataFrame, idCol: String, weightMicroCol: String,
      k: Int, temperatureMicro: Long = 1000000L): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("double") + lit(0.5)) / lit(65536.0)
    // the noise quantizes to micro-units like the weights, so the
    // selection key is an exact integer and ordering can't flip on a
    // float fold; ties (same score) break on the id
    val gMicro = floor(-log(-log(u)) * lit(1e6) + lit(0.5)).cast("long")
    val scaledW = floor(col(weightMicroCol).cast("double") * lit(1e6) /
      lit(temperatureMicro.toDouble) + lit(0.5)).cast("long")
    weighted.withColumn("gumbel_micro", scaledW + gMicro)
      .orderBy(col("gumbel_micro").desc, col(idCol))
      .limit(k)
  }

  /** DSIR importance weights: fit target/raw bucket distributions, then
    * score every raw document as the integer-micro sum of its grams'
    * log ratios. Output: (idCol, n_grams, weight_micro) — weight_micro =
    * 1e6 · estimated ln(p_target(doc)/p_raw(doc)). Selection is
    * [[gumbelTopK]] or a plain threshold on weight_micro.
    *
    * The scoring pass attaches the (bounded) log-ratio table via a 1-row
    * broadcast and folds each document's own gram array in a single
    * projection — zero shuffle over the corpus, plan size flat in
    * nBuckets ([[Similarity]]'s broadcast-not-literal rationale).
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 8192): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    // both distributions from one aggregate and one collect
    val state = TaggedCounts.collect(TaggedCounts.count(
      Seq("target" -> target, "raw" -> raw).map { case (tag, df) =>
        TaggedCounts.Docs(df, textCol, None,
          _ => TaggedCounts.Emit(buckets = Some(tag)))
      }, nBuckets = nBuckets),
      None, Seq("target", "raw"))
    val lrm = logRatioMicro(bucketArray(state, "target", nBuckets),
      bucketArray(state, "raw", nBuckets))
    val lrRow = broadcast(Seq(Tuple1(lrm.toSeq)).toDF("__lrm"))
    // grams materialize once per row (two projections; CollapseProject
    // keeps them apart rather than duplicate a non-cheap expression)
    raw.crossJoin(lrRow)
      .select(col(idCol), grams(col(textCol)).as("__gs"), col("__lrm"))
      .select(col(idCol),
        size(col("__gs")).cast("long").as("n_grams"),
        // compiled md5-bucket weight fold ([[expressions.GramBuckets
        // .bucket_weight_sum]]) — the old aggregate(transform(...)) HOF
        // re-ran the interpreted md5→substring→conv→pmod chain per gram;
        // same buckets, same integer sum, same null semantics (guide §4)
        graft.functions.expressions.GramBuckets
          .bucket_weight_sum(col("__gs"), col("__lrm"), nBuckets)
          .as("weight_micro"))
  }
}
