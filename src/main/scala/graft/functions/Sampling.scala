package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and splitting for corpus curation:
  * domain-mixture downsampling (keep each stratum at its target rate —
  * the knob behind every public pre-training data recipe's "X% web, Y%
  * code" mixture) and train/holdout splits that are stable across runs,
  * machines, and engines.
  *
  * The uniform variate is the first 8 hex chars of md5(key): fixed-width
  * lowercase hex compares lexicographically exactly like the 32-bit
  * number it encodes, and md5 is bit-identical everywhere — so the SAME
  * rows are kept by any engine that can compute md5 (the DuckDB oracle
  * replays the predicate verbatim), and re-running a 100 TB job after a
  * failure reselects the identical sample. No RNG state, no seed
  * plumbing, no shuffle: a pure codegen projection/filter, linear scan at
  * any scale.
  */
object Sampling {

  /** Zero-padded 8-hex-digit keep threshold for `rate` (clamped to
    * [0,1]): keys whose md5 prefix sorts strictly below it are kept.
    * rate >= 1 returns "g" — above every hex digit, so everything keeps
    * (0xffffffff would need 9 digits and break the width invariant).
    */
  def hexThreshold(rate: Double): String = {
    val clamped = math.max(0.0, math.min(1.0, rate))
    // rates within ~1.2e-10 of 1 round UP to 2^32, which would format as
    // the 9-char "100000000" and break the fixed-width compare (most md5
    // prefixes sort above "1...") — cap at the largest 8-digit value
    val scaled = math.min(math.round(clamped * 4294967296.0), 0xFFFFFFFFL)
    if (clamped >= 1.0) "g"
    else f"$scaled%08x"
  }

  /** The uniform-in-[0,1) variate for a key, as comparable hex. */
  def uniformHex(key: Column): Column =
    substring(md5(key.cast("string")), 1, 8)

  /** Keep predicate for a single flat rate. */
  def sampleKeep(key: Column, rate: Double): Column =
    uniformHex(key) < lit(hexThreshold(rate))

  /** Stratified keep predicate: each stratum keeps at its own target
    * rate (strata absent from `rates` keep at `default`). One when-chain
    * over the stratum column — stays in whole-stage codegen.
    */
  def stratifiedKeep(key: Column, stratum: Column,
      rates: Map[String, Double], default: Double = 1.0): Column = {
    val thr = rates.toSeq.sortBy(_._1).foldLeft(lit(hexThreshold(default))) {
      case (acc, (s, r)) => when(stratum === s, lit(hexThreshold(r))).otherwise(acc)
    }
    uniformHex(key) < thr
  }

  /** Deterministic token-budget corpus cut: shuffle the corpus into the
    * engine-portable training order (ascending md5(id) — the global
    * deterministic shuffle every pre-training run applies before
    * packing; uncorrelated with ingestion order, identical on any
    * engine and any rerun) and keep every document whose inclusion
    * keeps the running token total within `budgetTokens` ("give me
    * exactly ~B tokens of this corpus"). The cut point is a pure
    * function of the ids, so a failed 100 TB job reselects the
    * identical documents.
    *
    * Scale shape: the running total is [[Packing.prefixSum]]'s two-pass
    * distributed scan — one range shuffle on the md5 key (which IS the
    * training-order shuffle, so it's work the pipeline owes anyway),
    * two partition-wise passes over its reused map output, and a
    * codegen filter. Never a single-task global window. Token counts
    * are non-negative, so the running total is monotone and the filter
    * IS the order prefix (zero-token documents at the boundary ride
    * along — they add nothing).
    *
    * Output: (idCol, tokensCol, shuffle_key, cum_tokens) for the
    * selected documents — shuffle_key orders them for downstream
    * packing, cum_tokens is the running total through each document.
    */
  def budgetSelect(df: DataFrame, idCol: String, tokensCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    val keyed = df.select(col(idCol), col(tokensCol),
      md5(col(idCol).cast("string")).as("shuffle_key"))
    Packing.prefixSum(keyed, "shuffle_key", tokensCol, "cum_tokens")
      .filter(col("cum_tokens") <= budgetTokens)
      .select(idCol, tokensCol, "shuffle_key", "cum_tokens")
  }

  /** Deterministic per-key document cap — the anti-domination stage
    * (C4 keeps at most N pages per domain; Dolma and RefinedWeb run
    * equivalents): within each `keyCol` group (typically
    * [[Urls.urlHost]]) keep the `cap` documents with the SMALLEST
    * md5(id) — a pure function of the ids, so reruns and engines agree,
    * and uncorrelated with crawl order (which would bias toward a
    * site's oldest pages).
    *
    * Scale shape: one `row_number()` window on `keyCol` itself, ordered
    * by (md5 prefix, id) and filtered to `<= cap`. Spark pushes that
    * filter below the window exchange as a Partial `WindowGroupLimit`,
    * so each map task ships at most `cap` rows per key: the shuffle is
    * bounded by keys × tasks × cap, not by the corpus. `key_docs` comes
    * from a map-side-combinable count aggregate and is joined onto the
    * survivors only. The corpus is scanned twice (the count and the
    * window). A single-domain crawl still funnels that domain's
    * per-task top-`cap` rows through one window partition; cap it
    * upstream with a rate-based [[sampleKeep]] pre-pass if one domain
    * is a meaningful fraction of the corpus.
    *
    * Output: the input columns + `key_docs` (the key's total document
    * count); over-cap keys keep exactly `cap` rows.
    *
    * NULL handling: NULL keys form one group like any other (one window
    * partition, and a null-safe join for `key_docs`). Rows with a NULL
    * id stay in their key's group; within an over-cap key they sort
    * first (md5 of NULL is NULL) and ties among multiple NULL-id rows are
    * arbitrary — ids are the determinism contract, so give documents
    * ids.
    */
  def capPerKey(df: DataFrame, idCol: String, keyCol: String,
      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val clash = df.columns.toSet.intersect(Set("key_docs", "__k", "__rk"))
    require(clash.isEmpty,
      s"capPerKey appends key_docs (and uses __k/__rk internally); " +
        s"the input already carries ${clash.mkString(", ")} — rename first")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("key_docs"))
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(col(keyCol))
          .orderBy(uniformHex(col(idCol)), col(idCol))))
      .filter(col("__rk") <= cap).drop("__rk")
      .join(counts, col(keyCol) <=> col("__k")).drop("__k")
  }

  /** Deterministic split assignment by cumulative rate bands, e.g.
    * Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)) — every key gets
    * exactly one label, the bands tile [0,1), and membership depends only
    * on the key (adding rows never moves an existing row between splits).
    */
  def splitAssign(key: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty, "splits must be non-empty")
    val u = uniformHex(key)
    val cums = splits.scanLeft(0.0)(_ + _._2).tail
    val banded = splits.map(_._1).zip(cums)
    val chain = banded.init.foldLeft(Option.empty[Column]) {
      case (acc, (name, c)) =>
        val cond = u < lit(hexThreshold(c))
        Some(acc.fold(when(cond, lit(name)))(_.when(cond, lit(name))))
    }
    chain.fold(lit(banded.last._1): Column)(_.otherwise(lit(banded.last._1)))
  }
}
