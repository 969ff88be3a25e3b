package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL-level deduplication — the stage every crawl pipeline runs BEFORE
  * text dedup (RefinedWeb, Penedo et al. 2023 §3.1: strict per-URL
  * dedup of the fetched corpus; the same normalization underlies C4's
  * and Gopher's URL filters). Two copies of one page usually differ in
  * URL spelling only (scheme case, www, default port, fragment, query
  * order), so exact dedup on the RAW url misses most re-fetches.
  *
  * Everything is codegen string expressions (regexp_extract /
  * regexp_replace / array_sort) — no UDF, no shuffle for the
  * normalization itself, replayable in any engine with the same
  * regexes. The dedup is one hash-groupBy + one keyed join, exactly
  * [[Dedup.exact]]'s scale shape; skewed URLs (one page fetched
  * millions of times) are AQE-split like any skewed join key.
  */
object Urls {

  /** Canonical form of a URL. The rule set (each a published
    * crawl-pipeline normalization; all are equivalence-preserving for
    * HTTP semantics except the www/query rules, which encode the crawl
    * convention that those variants serve the same page):
    *
    *   1. trim surrounding whitespace;
    *   2. scheme and host[:port] lowercase (RFC 3986 §6.2.2.1 — path,
    *      query, and userinfo stay case-sensitive);
    *   3. leading `www.` stripped from the HOST (never from userinfo),
    *      and only when a dotted domain remains — `www.example.com` →
    *      `example.com`, but the real site `www.com` keeps its host
    *      (spelled as a conditional match, not a lookahead, because RE2
    *      — the DuckDB oracles — has no lookahead);
    *   4. default port stripped (`:80` for http, `:443` for https);
    *   5. fragment dropped (never sent to the server);
    *   6. query parameters sorted bytewise (`?b=2&a=1` ≡ `?a=1&b=2`);
    *      an EMPTY query (`...?`) drops its `?`;
    *   7. trailing slashes stripped from the path (so `/dir/` ≡ `/dir`
    *      and `https://h/` ≡ `https://h`).
    *
    * Strings that don't parse as scheme://... URLs pass through
    * trimmed-only (a relative path or a bare host is not rewritten);
    * NULL stays NULL. The RFC pattern and the per-rule regexes live in
    * [[graft.functions.expressions.UrlKernels]]; the old pure-Column
    * form is preserved verbatim in KernelEquivalenceSpec as the
    * equivalence reference.
    */
  def normalizeUrl(url: Column): Column =
    // compiled single-pass kernel ([[graft.functions.expressions
    // .UrlKernels]]) since r18: the Column form matched the RFC pattern
    // four times (one regexp_extract per group) plus userinfo/www/port/
    // path/query passes — ~11 regex executions and as many
    // UTF8String→String decodes per row. The kernel runs the SAME
    // java.util.regex Patterns, UTF8String.toLowerCase/trim, and
    // binary-order query sort once each, so every rule (userinfo
    // case-sensitivity, conditional www strip, default-port strip,
    // fragment drop, bytewise query sort, trailing-slash strip,
    // trimmed passthrough for non-URLs, NULL → NULL) is inherited
    // verbatim (guide §4).
    graft.functions.expressions.UrlKernels.normalize_url(url)

  /** The host of a URL, normalized like [[normalizeUrl]]'s authority
    * rules (lowercase, userinfo and port dropped, conditional www
    * strip) — the key for blocklists and per-domain caps. Non-URL
    * strings yield the empty string; NULL stays NULL. */
  def urlHost(url: Column): Column =
    // compiled single-pass kernel — same Patterns and rule chain as the
    // old Column form (see [[normalizeUrl]]); NULL → NULL, non-URL → ""
    graft.functions.expressions.UrlKernels.url_host(url)

  /** URL filtering — the stage crawl pipelines run BEFORE URL dedup
    * (RefinedWeb §3.1.1's three-part filter; C4 and Dolma run
    * equivalents): an exact domain blocklist plus a soft word score
    * over the URL string. Appends three columns:
    *
    *   - `url_host`: the normalized host ([[urlHost]]);
    *   - `url_word_score`: Σ weight over `scoredWords` whose word
    *     occurs (case-insensitive substring) in the URL — the
    *     RefinedWeb soft score that catches adult/spam URLs whose
    *     domain isn't blocklisted;
    *   - `url_keep`: host not on the blocklist (exact match OR a
    *     subdomain of a blocked domain) AND word score < `maxScore`.
    *     TOTAL: a NULL url scores 0 and is kept=false (no NULL keep).
    *
    * The blocklist and word table ride the PLAN as literals — both are
    * bounded by contract (thousands of entries; the published UT1-style
    * lists are host SETS, for which a broadcast join on url_host is the
    * 100 TB shape — use that form when the list outgrows a literal:
    * `df.join(broadcast(blocked), Seq("url_host"), "left_anti")`). The
    * scoring itself is pure codegen string expressions, zero shuffle.
    */
  def urlFilter(df: DataFrame, urlCol: String,
      blockedDomains: Seq[String], scoredWords: Seq[(String, Int)],
      maxScore: Int): DataFrame = {
    require(blockedDomains.nonEmpty || scoredWords.nonEmpty,
      "urlFilter with no blocklist and no scored words keeps everything")
    val clash = df.columns.toSet
      .intersect(Set("url_host", "url_word_score", "url_keep"))
    require(clash.isEmpty,
      s"urlFilter appends url_host/url_word_score/url_keep; the input " +
        s"already carries ${clash.mkString(", ")} — rename before filtering")
    // Locale.ROOT: a Turkish-locale JVM lowercases "CASINO" to "casıno"
    // (dotless ı) under the default toLowerCase, silently un-matching it
    // against Spark's locale-agnostic lower() — list entries must
    // lowercase the same way the columns do
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val lowered = lower(coalesce(trim(col(urlCol)), lit("")))
    val score = scoredWords
      .map { case (w, wt) =>
        when(lowered.contains(lc(w)), lit(wt)).otherwise(lit(0)) }
      .reduceOption(_ + _).getOrElse(lit(0))
    // blocklist and keep reference the APPENDED url_host column, not a
    // fresh urlHost(...) expression per comparison: the host tree is
    // ~50 nodes, and a thousand-domain blocklist would otherwise embed
    // thousands of copies of it in one projection (analyzer blowup +
    // codegen fallback)
    def blockedOf(host: Column) = blockedDomains
      .map(b => host === lc(b) || host.endsWith("." + lc(b)))
      .reduceOption(_ || _).getOrElse(lit(false))
    df.withColumn("url_host", urlHost(col(urlCol)))
      .withColumn("url_word_score", score)
      .withColumn("url_keep",
        coalesce(!blockedOf(col("url_host")) &&
          col("url_word_score") < maxScore, lit(false)))
  }

  /** Exact dedup keyed on the NORMALIZED URL: every row gets its
    * group's canonical (min-id) row and the group size. Output: the
    * input columns + (url_norm, canonical_id, n_copies); a row is the
    * keeper iff idCol == canonical_id. One window partitioned by
    * url_norm — one shuffle, corpus-linear, no pairwise work. NULL urls
    * form one group like any other (a window partition on a NULL key is
    * one group), matching [[Dedup.collapseByKey]]'s policy; `min` skips
    * NULL ids, so a group of only NULL ids has a NULL canonical_id.
    */
  def dedupByUrl(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val clash = df.columns.toSet
      .intersect(Set("url_norm", "canonical_id", "n_copies"))
    require(clash.isEmpty,
      s"dedupByUrl appends url_norm/canonical_id/n_copies; the input " +
        s"already carries ${clash.mkString(", ")} — rename before deduping " +
        "(silently overwriting a prior stage's columns hides real data)")
    val group = Window.partitionBy(col("url_norm"))
    df.withColumn("url_norm", normalizeUrl(col(urlCol)))
      .withColumn("canonical_id", min(col(idCol)).over(group))
      .withColumn("n_copies", count(lit(1)).over(group))
  }
}
