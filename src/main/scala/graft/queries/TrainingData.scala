package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Dsir, Multimodal, Packing, Sampling, Similarity, TextAnalysis => TA}
import graft.sources.Tables

/** Beyond-reference operators for LLM training-data pipelines: text analysis,
  * dedup (exact, MinHash-LSH near-dup, SimHash), embedding similarity search,
  * multimodal binary plumbing. See graft.functions.* for the engine pieces.
  */
object TrainingData {

  private val stops = Seq("the", "a", "of", "and", "is")
  private val stopsSql = "('the','a','of','and','is')"

  def queries: Seq[Q] = Seq(

    Q("td_text_stats",
      (s, dir) => Tables(s, dir, "documents").select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.distinctTokenCount(col("text")).as("n_distinct"),
        length(col("text")).as("n_chars_calc"),
        TA.stopwordCount(col("text"), stops).as("stop_cnt"),
        (TA.distinctTokenCount(col("text")).cast("double") /
          TA.tokenCount(col("text"))).as("ttr"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
        CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
        CAST(len(list_distinct(string_split(text,' '))) AS INT) AS n_distinct,
        CAST(length(text) AS INT) AS n_chars_calc,
        CAST(len(list_filter(string_split(text,' '), t -> t IN $stopsSql)) AS INT) AS stop_cnt,
        CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
          len(string_split(text,' ')) AS ttr
        FROM documents ORDER BY doc_id""")),

    // whitespace + BPE-ish regex token counting
    Q("td_token_regex",
      (s, dir) => Tables(s, dir, "documents").select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("re_tokens"),
        size(array_distinct(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))))
          .as("re_vocab"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        CAST(len(string_split(text,' ')) AS INT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS re_tokens,
        CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS INT) AS re_vocab
        FROM documents ORDER BY doc_id""")),

    // REAL merge-ranks byte-level BPE (GPT-2-style algorithm): the fixture
    // text plants merge CHAINS keyed by doc_id — a run of k 'a's under
    // merges (a,a)->(aa), (aa,aa)->(aaaa) tokenizes to exactly
    // k/4 + (k/2)%2 + k%2 pieces, so the DuckDB oracle derives every
    // count arithmetically; byte_tokens (empty vocab) pins the no-merge
    // base case. The " xé" suffix plants a UNICODE merge chain: é is
    // bytes C3 A9, and the (x, C3) merge only fires because the \p{L}
    // pre-tokenizer keeps " xé" as ONE word — an ASCII-class
    // pre-tokenizer would split x|é and count 4, not 3 (boundary blocks
    // the merge). The encode-decode roundtrip property is spec-pinned
    // in BpeSpec.
    Q("td_token_bpe",
      (s, dir) => {
        import graft.functions.Bpe
        val vocab = Bpe.Vocab(Seq(
          ("a", "a"), ("aa", "aa"), ("b", "c"), ("x", "Ã")))
        val fixture = concat(
          repeat(lit("a"), (lit(1) + col("doc_id") % 9).cast("int")),
          lit(" bc "),
          repeat(lit("d"), (lit(1) + col("doc_id") % 3).cast("int")),
          lit(" xé"))
        val base = Tables(s, dir, "documents")
          .select(col("doc_id"), fixture.as("__t"))
        val counted = Bpe.tokenCount(
          Bpe.tokenCount(base, "__t", vocab, "bpe_tokens"),
          "__t", Bpe.Vocab(Seq.empty), "byte_tokens")
        counted.select(col("doc_id"), col("bpe_tokens"), col("byte_tokens"))
          .orderBy("doc_id")
      },
      // " xé" = 4 bytes (20 78 C3 A9): one (x,C3) merge → 3 bpe tokens,
      // 4 byte tokens
      Some("""SELECT doc_id,
        CAST((k1 // 4) + ((k1 // 2) % 2) + (k1 % 2) + k3 + 6 AS INT) AS bpe_tokens,
        CAST(k1 + k3 + 8 AS INT) AS byte_tokens
        FROM (SELECT doc_id, 1 + doc_id % 9 AS k1, 1 + doc_id % 3 AS k3
              FROM documents) ORDER BY doc_id""")),

    // DISTRIBUTED BPE merge learning: the corpus is 'a'-runs of length
    // 1 + doc_id % 9, so every learned merge and its winning pair count
    // is an integer function of the run-length histogram n_k. Round 1
    // has one candidate, (a,a) with count sum n_k(k-1); after that merge
    // a k-run segments as floor(k/2) 'aa' + (k%2) 'a', so round 2 pits
    // (aa,aa) = sum_{k>=4} n_k(floor(k/2)-1) against (aa,a) = n3+n5+n7+n9
    // — (aa,aa) wins for ANY near-uniform histogram (n4+2n6+n7+3n8+2n9 >
    // n3); round 3's four candidates after the (aa,aa) merge are close
    // races decided by the exact n_k, so the oracle derives all four
    // counts from the data and replays the argmax with learn()'s
    // tie-break (count desc, then lexicographically smallest pair). A
    // wrong pair count, a wrong left-to-right re-segmentation, or a
    // wrong tie-break order all hash-mismatch.
    Q("td_token_bpe_learn",
      (s, dir) => {
        import graft.functions.Bpe
        import s.implicits._
        val fixture = Tables(s, dir, "documents").select(
          repeat(lit("a"), (lit(1) + col("doc_id") % 9).cast("int")).as("__t"))
        val learned = Bpe.learnDistributed(fixture, "__t", numMerges = 3)
        learned.zipWithIndex
          .map { case ((l, r, c), i) => (i, l, r, c) }
          .toDF("merge_rank", "lhs", "rhs", "pair_count")
          .orderBy("merge_rank")
      },
      Some("""WITH nk AS (SELECT 1 + doc_id % 9 AS k, count(*) AS n
          FROM documents GROUP BY 1 + doc_id % 9),
        r2 AS (SELECT l, r, cnt FROM (VALUES
            ('aa', 'aa', (SELECT CAST(coalesce(sum(CASE WHEN k >= 4
                THEN n * (k // 2 - 1) END), 0) AS BIGINT) FROM nk)),
            ('aa', 'a', (SELECT CAST(coalesce(sum(CASE WHEN k % 2 = 1
                AND k >= 3 THEN n END), 0) AS BIGINT) FROM nk))
          ) AS t(l, r, cnt) ORDER BY cnt DESC, l, r LIMIT 1),
        r3 AS (SELECT l, r, cnt FROM (VALUES
            ('aa', 'a', (SELECT CAST(coalesce(sum(CASE WHEN k IN (3, 7)
                THEN n END), 0) AS BIGINT) FROM nk)),
            ('aaaa', 'a', (SELECT CAST(coalesce(sum(CASE WHEN k IN (5, 9)
                THEN n END), 0) AS BIGINT) FROM nk)),
            ('aaaa', 'aa', (SELECT CAST(coalesce(sum(CASE WHEN k IN (6, 7)
                THEN n END), 0) AS BIGINT) FROM nk)),
            ('aaaa', 'aaaa', (SELECT CAST(coalesce(sum(CASE WHEN k IN (8, 9)
                THEN n END), 0) AS BIGINT) FROM nk))
          ) AS t(l, r, cnt) ORDER BY cnt DESC, l, r LIMIT 1)
        SELECT * FROM (
          SELECT CAST(0 AS INT) AS merge_rank, 'a' AS lhs, 'a' AS rhs,
            (SELECT CAST(sum(n * (k - 1)) AS BIGINT) FROM nk) AS pair_count
          UNION ALL
          SELECT CAST(1 AS INT), l, r, cnt FROM r2
          UNION ALL
          -- r3's candidate set is derived assuming r2's winner is
          -- (aa,aa); if a histogram change ever flips that race the
          -- guard poisons the row so the gate FAILS instead of silently
          -- modeling the wrong round-3 state
          SELECT CAST(2 AS INT),
            CASE WHEN (SELECT l FROM r2) = 'aa' AND (SELECT r FROM r2) = 'aa'
                 THEN l ELSE 'ORACLE-R2-ASSUMPTION-VIOLATED' END, r, cnt
          FROM r3)
        ORDER BY merge_rank""")),

    Q("td_quality_langid",
      (s, dir) => Tables(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TA.langId(col("text")).as("pred_lang"),
        TA.qualityScore(col("text"), stops).as("quality"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, lang, string_split(text,' ') tk, text FROM documents),
        sc AS (SELECT doc_id, lang,
          len(list_filter(tk, x -> x IN $stopsSql)) s_en,
          len(list_filter(tk, x -> x IN ('le','la','et','les','des'))) s_fr,
          len(list_filter(tk, x -> x IN ('el','los','las','una','y'))) s_es,
          len(list_filter(tk, x -> x IN ('der','die','das','und','ein'))) s_de,
          len(list_filter(tk, x -> x IN ('的','是','了','在','和'))) s_zh,
          CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) ttr,
          CAST(len(list_filter(tk, x -> x IN $stopsSql)) AS DOUBLE) / len(tk) stopr,
          CAST(length(text) - (len(tk) - 1) AS DOUBLE) / len(tk) meanlen
        FROM t)
        SELECT doc_id, lang,
          CASE WHEN s_zh > greatest(s_en,s_fr,s_es,s_de) THEN 'zh'
               WHEN s_de > greatest(s_en,s_fr,s_es) THEN 'de'
               WHEN s_es > greatest(s_en,s_fr) THEN 'es'
               WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS pred_lang,
          (ttr * 0.4) + (stopr * 0.3) +
            (CASE WHEN meanlen >= 3.0 AND meanlen <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3) AS quality
        FROM sc ORDER BY doc_id""")),

    // Cavnar–Trenkle 1994 rank-order character-trigram language ID:
    // profiles fit per labeled language (top-40 grams by count, ties on
    // binary gram order), docs scored by the out-of-place measure.
    // Everything is exact integer arithmetic, so the oracle replays the
    // FIT and the CLASSIFICATION and must agree doc-for-doc — a ranking
    // tie-break divergence, a gram-extraction off-by-one, or a wrong
    // absent-gram penalty all hash-mismatch.
    Q("td_quality_langid_ngram",
      (s, dir) => {
        import graft.functions.LangIdNgram
        val docs = Tables(s, dir, "documents")
        val profiles = LangIdNgram.fitProfiles(docs, "lang", "text",
          n = 3, k = 40)
        LangIdNgram.classify(docs.select("doc_id", "text"),
            "doc_id", "text", profiles, n = 3, k = 40)
          .orderBy("doc_id")
      },
      Some("""WITH g0 AS (SELECT doc_id, lang, unnest(
            [substr(text, i, 3) for i in range(1, length(text) - 1)]) AS g
          FROM documents),
        lc AS (SELECT lang, g, count(*) c FROM g0 GROUP BY lang, g),
        lp AS (SELECT lang, g, row_number() OVER
            (PARTITION BY lang ORDER BY c DESC, g) AS lr
          FROM lc QUALIFY lr <= 40),
        dc AS (SELECT doc_id, g, count(*) c FROM g0 GROUP BY doc_id, g),
        dp AS (SELECT doc_id, g, row_number() OVER
            (PARTITION BY doc_id ORDER BY c DESC, g) AS dr
          FROM dc QUALIFY dr <= 40),
        nd AS (SELECT doc_id, count(*) ng FROM dp GROUP BY doc_id),
        bon AS (SELECT dp.doc_id, lp.lang, sum(40 - abs(dp.dr - lp.lr)) AS b
          FROM dp JOIN lp ON dp.g = lp.g GROUP BY dp.doc_id, lp.lang),
        langs AS (SELECT DISTINCT lang FROM documents),
        sc AS (SELECT nd.doc_id, langs.lang,
            40 * nd.ng - coalesce(bon.b, 0) AS score
          FROM nd CROSS JOIN langs
          LEFT JOIN bon ON bon.doc_id = nd.doc_id AND bon.lang = langs.lang),
        best AS (SELECT doc_id, lang, score, row_number() OVER
            (PARTITION BY doc_id ORDER BY score, lang) rk
          FROM sc QUALIFY rk = 1)
        SELECT d.doc_id, best.lang AS pred_lang,
          CAST(best.score AS BIGINT) AS oop_score
        FROM documents d LEFT JOIN best ON best.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // Hashed bag-of-grams linear quality classifier (the fastText-shaped
    // gate of CCNet/GPT-3 data recipes), fit as closed-form per-bucket
    // log-odds on the labeled sample (en = keep class) and scored as an
    // integer micro-unit w·x fold — DSIR's portable machinery, so the
    // oracle replays buckets, WEIGHTS, and every per-doc score/keep
    // decision exactly.
    Q("td_quality_model",
      (s, dir) => {
        import graft.functions.QualityModel
        val docs = Tables(s, dir, "documents")
        val w = QualityModel.fitLogOddsMicro(
          docs.filter(col("lang") === "en").select("text"),
          docs.filter(col("lang") =!= "en").select("text"),
          "text", nBuckets = 1024)
        QualityModel.score(docs.select("doc_id", "text"), "doc_id", "text",
            w, nBuckets = 1024, thresholdMicroPerGram = 0L)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
            list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS t
          FROM documents),
        g AS (SELECT doc_id, lang, unnest(t ||
          CASE WHEN len(t) >= 2
            THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
            ELSE []::VARCHAR[] END) AS gram FROM toks),
        b AS (SELECT doc_id, lang,
          ((ascii(substr(md5(gram),1,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),1,1)) >= 97 THEN 39 ELSE 0 END) * 4096
         + (ascii(substr(md5(gram),2,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),2,1)) >= 97 THEN 39 ELSE 0 END) * 256
         + (ascii(substr(md5(gram),3,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),3,1)) >= 97 THEN 39 ELSE 0 END) * 16
         + (ascii(substr(md5(gram),4,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),4,1)) >= 97 THEN 39 ELSE 0 END))
          % 1024 AS bkt FROM g),
        pc AS (SELECT bkt, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bkt),
        nc AS (SELECT bkt, count(*) AS c FROM b WHERE lang <> 'en' GROUP BY bkt),
        tot AS (SELECT (SELECT count(*) FROM b WHERE lang = 'en') AS pt,
                       (SELECT count(*) FROM b WHERE lang <> 'en') AS nt),
        ub AS (SELECT DISTINCT bkt FROM b),
        w AS (SELECT ub.bkt,
          CAST(floor(ln(((coalesce(pc.c, 0) + 0.5) * (tot.nt + 512.0)) /
                        ((coalesce(nc.c, 0) + 0.5) * (tot.pt + 512.0)))
            * 1000000 + 0.5) AS BIGINT) AS wm
          FROM ub LEFT JOIN pc ON ub.bkt = pc.bkt
                  LEFT JOIN nc ON ub.bkt = nc.bkt, tot),
        agg AS (SELECT b.doc_id, count(*) AS ng,
            CAST(sum(w.wm) AS BIGINT) AS sm
          FROM b JOIN w ON b.bkt = w.bkt GROUP BY b.doc_id)
        SELECT d.doc_id, coalesce(agg.ng, 0) AS n_grams,
          coalesce(agg.sm, 0) AS score_micro,
          coalesce(agg.sm, 0) >= 0 AS keep
        FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // CCNet-style LM-perplexity gate (Wenzek 2019): Stupid-Backoff
    // bigram LM (Brants 2007 — count arithmetic only) fit on the en
    // documents, every document scored by its integer-micro per-token
    // average log-prob and bucketed head/middle/tail (cut points sit
    // inside this corpus's observed -3.77..-3.23 nats/token range so
    // all three buckets are populated and oracle-checked). The LM tables
    // stay DISTRIBUTED (vocab is corpus-sized — three keyed joins, no
    // broadcast/collect); the oracle replays counts, all three backoff
    // tiers, the micro quantization, and both bucket cut points.
    Q("td_quality_ppl",
      (s, dir) => {
        import graft.functions.NgramLm
        val docs = Tables(s, dir, "documents")
        val lm = NgramLm.fit(
          docs.filter(col("lang") === "en").select("text"), "text")
        NgramLm.score(docs.select("doc_id", "text"), "doc_id", "text", lm)
          .withColumn("ppl_bucket", NgramLm.pplBucket(
            col("avg_logprob_micro"), -3400000L, -3600000L))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang,
            list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') tk
          FROM documents),
        big AS (SELECT doc_id, lang,
            unnest([{'w1': tk[i], 'w2': tk[i+1]}
                    for i in range(1, len(tk))]) AS b
          FROM t),
        uni AS (SELECT w, count(*) AS c1 FROM
            (SELECT unnest(tk) AS w FROM t WHERE lang = 'en') GROUP BY w),
        n AS (SELECT CAST(sum(c1) AS DOUBLE) AS nn FROM uni),
        bi AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c12
          FROM big WHERE lang = 'en' GROUP BY b.w1, b.w2),
        j AS (SELECT big.doc_id,
            CAST(floor(ln(
              CASE WHEN bi.c12 IS NOT NULL THEN bi.c12::DOUBLE / u1.c1
                   WHEN u2.c1 IS NOT NULL THEN 0.4 * u2.c1 / n.nn
                   ELSE 0.4 / (n.nn + 1) END) * 1000000 + 0.5) AS BIGINT)
              AS lp
          FROM big
          LEFT JOIN bi ON big.b.w1 = bi.w1 AND big.b.w2 = bi.w2
          LEFT JOIN uni u1 ON big.b.w1 = u1.w
          LEFT JOIN uni u2 ON big.b.w2 = u2.w, n),
        agg AS (SELECT doc_id, count(*) AS ns, sum(lp) AS lpm
          FROM j GROUP BY doc_id),
        res AS (SELECT d.doc_id,
            coalesce(agg.ns, 0) AS n_scored,
            CAST(coalesce(agg.lpm, 0) AS BIGINT) AS logprob_micro,
            CAST(floor(agg.lpm::DOUBLE / agg.ns) AS BIGINT)
              AS avg_logprob_micro
          FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id)
        SELECT doc_id, n_scored, logprob_micro, avg_logprob_micro,
          CASE WHEN avg_logprob_micro IS NULL THEN 'tail'
               WHEN avg_logprob_micro >= -3400000 THEN 'head'
               WHEN avg_logprob_micro < -3600000 THEN 'tail'
               ELSE 'middle' END AS ppl_bucket
        FROM res ORDER BY doc_id""")),

    Q("td_fingerprint",
      (s, dir) => Tables(s, dir, "documents").select(
        col("doc_id"),
        TA.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        FROM documents ORDER BY doc_id""")),

    // Gopher-style repetition gates (Rae et al. 2021): pure codegen
    // expressions, exact INT/INT divisions so the oracle matches bitwise
    Q("td_quality_gopher",
      (s, dir) => Tables(s, dir, "documents").select(
        col("doc_id"),
        TA.topNgramFraction(col("text"), 2).as("top_bigram_frac"),
        TA.dupNgramFraction(col("text"), 3).as("dup_trigram_frac"),
        TA.meanWordLength(col("text")).as("mean_word_len"),
        (TA.topNgramFraction(col("text"), 2) < 0.18 &&
          TA.dupNgramFraction(col("text"), 3) < 0.30).as("keep"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') tk FROM documents),
        g AS (SELECT doc_id, tk,
          [tk[i]||' '||tk[i+1] for i in range(1, len(tk))] bg,
          [tk[i]||' '||tk[i+1]||' '||tk[i+2] for i in range(1, len(tk)-1)] tg
          FROM t),
        m AS (SELECT doc_id,
          CASE WHEN len(bg) > 0 THEN
            CAST(list_max(list_transform(list_distinct(bg),
              x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
              / CAST(len(bg) AS DOUBLE) ELSE 0.0 END top_bigram_frac,
          CASE WHEN len(tg) > 0 THEN
            CAST(len(list_filter(tg,
              x -> len(list_filter(tg, y -> y = x)) > 1)) AS DOUBLE)
              / CAST(len(tg) AS DOUBLE) ELSE 0.0 END dup_trigram_frac,
          CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
            / CAST(len(tk) AS DOUBLE) mean_word_len
          FROM g)
        SELECT doc_id, top_bigram_frac, dup_trigram_frac, mean_word_len,
          (top_bigram_frac < 0.18 AND dup_trigram_frac < 0.30) AS keep
        FROM m ORDER BY doc_id""")),

    // Same Gopher gates through the scale-safe aggregation plan (explode →
    // groupBy(doc, gram) → per-doc agg; linear in occurrences — the form
    // for long-document corpora where the expression path's per-row
    // O(distinct·total) blows up). Same oracle as td_quality_gopher: the
    // two plans must agree bitwise.
    Q("td_quality_gopher_agg",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val m = TA.gopherMetrics(docs, "doc_id", "text", topN = 2, dupN = 3)
        docs.select(col("doc_id"),
            TA.meanWordLength(col("text")).as("mean_word_len"))
          .join(m, "doc_id")
          .select(col("doc_id"),
            col("top_ngram_frac").as("top_bigram_frac"),
            col("dup_ngram_frac").as("dup_trigram_frac"),
            col("mean_word_len"),
            (col("top_ngram_frac") < 0.18 && col("dup_ngram_frac") < 0.30)
              .as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') tk FROM documents),
        g AS (SELECT doc_id, tk,
          [tk[i]||' '||tk[i+1] for i in range(1, len(tk))] bg,
          [tk[i]||' '||tk[i+1]||' '||tk[i+2] for i in range(1, len(tk)-1)] tg
          FROM t),
        m AS (SELECT doc_id,
          CASE WHEN len(bg) > 0 THEN
            CAST(list_max(list_transform(list_distinct(bg),
              x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
              / CAST(len(bg) AS DOUBLE) ELSE 0.0 END top_bigram_frac,
          CASE WHEN len(tg) > 0 THEN
            CAST(len(list_filter(tg,
              x -> len(list_filter(tg, y -> y = x)) > 1)) AS DOUBLE)
              / CAST(len(tg) AS DOUBLE) ELSE 0.0 END dup_trigram_frac,
          CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
            / CAST(len(tk) AS DOUBLE) mean_word_len
          FROM g)
        SELECT doc_id, top_bigram_frac, dup_trigram_frac, mean_word_len,
          (top_bigram_frac < 0.18 AND dup_trigram_frac < 0.30) AS keep
        FROM m ORDER BY doc_id""")),

    // PII scrub: the corpus is synthetic word soup with no PII, so both
    // sides append the same deterministic contact block before redacting —
    // the scrub itself (not the planting) is what the hash compare pins
    Q("td_pii_redact",
      (s, dir) => {
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-01"),
          (col("doc_id") % 100).cast("string"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
        // planted pseudo-phones ("555-01…") are fixture-shaped, so this
        // query scrubs with an explicit TEST registry; the general
        // default registry is exercised by td_pii_general below
        val testRegistry = Seq(
          TA.PiiPattern("email", TA.EmailRe, "<EMAIL>"),
          TA.PiiPattern("phone", TA.TestPhoneRe, "<PHONE>"),
          TA.PiiPattern("ipv4", TA.Ipv4Re, "<IP>"))
        Tables(s, dir, "documents").select(
          col("doc_id"),
          TA.piiCount(planted, TA.EmailRe).as("n_emails"),
          TA.piiCount(planted, TA.TestPhoneRe).as("n_phones"),
          TA.piiCount(planted, TA.Ipv4Re).as("n_ips"),
          TA.piiRedact(planted, testRegistry).as("redacted"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
          text || ' contact user' || doc_id || '@example.com or 555-01' ||
            (doc_id % 100) || ' from 10.0.' || (doc_id % 256) || '.7' t
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) n_emails,
          CAST(len(regexp_extract_all(t, '\b555-[0-9]{2,8}\b')) AS INT) n_phones,
          CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) n_ips,
          regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b555-[0-9]{2,8}\b', '<PHONE>', 'g'),
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') redacted
        FROM p ORDER BY doc_id""")),

    // General-registry PII scrub: plants REAL-format contact data (NANP
    // paren + dashed forms, E.164, SSN, IPv4, email) and redacts with the
    // DEFAULT registry — proves the general patterns, not fixture shapes,
    // do the scrubbing. Patterns stay in the Java∩RE2 subset so the
    // DuckDB oracle re-runs them verbatim.
    Q("td_pii_general",
      (s, dir) => {
        val planted = concat(col("text"),
          lit(" call (415) 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" or +1 212-555-"),
          lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
          lit(" intl +4479"),
          lpad((col("doc_id") % 100000).cast("string"), 5, "0"),
          lit(" ssn 078-05-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ip 10.1."), (col("doc_id") % 256).cast("string"), lit(".9"),
          lit(" mail a"), col("doc_id"), lit("@test.org"))
        Tables(s, dir, "documents").select(
          col("doc_id"),
          TA.piiCount(planted, TA.EmailRe).as("n_emails"),
          TA.piiCount(planted, TA.PhoneRe).as("n_phones"),
          TA.piiCount(planted, TA.SsnRe).as("n_ssns"),
          TA.piiCount(planted, TA.Ipv4Re).as("n_ips"),
          TA.piiRedact(planted).as("redacted"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
          text || ' call (415) 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
            ' or +1 212-555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ||
            ' intl +4479' || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0') ||
            ' ssn 078-05-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
            ' ip 10.1.' || (doc_id % 256) || '.9' ||
            ' mail a' || doc_id || '@test.org' t
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) n_emails,
          CAST(len(regexp_extract_all(t, '(?:\+?1[-. ])?(?:\([0-9]{3}\)[-. ]?|\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b|\+[0-9]{8,15}\b')) AS INT) n_phones,
          CAST(len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INT) n_ssns,
          CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) n_ips,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '(?:\+?1[-. ])?(?:\([0-9]{3}\)[-. ]?|\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b|\+[0-9]{8,15}\b', '<PHONE>', 'g'),
            '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') redacted
        FROM p ORDER BY doc_id""")),

    // pairs → clusters: hash-to-min connected components over the exact
    // n-gram-Jaccard pairs; the oracle closes the same edge set with a
    // recursive CTE. Canonical doc per cluster = min doc_id.
    Q("td_dedup_clusters",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          threshold = 0.7)
        Dedup.connectedComponents(pairs, docs, "doc_id")
          .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text,' ') t FROM documents),
        g AS (SELECT doc_id,
          list_distinct([t[i]||' '||t[i+1]||' '||t[i+2] for i in range(1, len(t)-1)]) sh
          FROM toks),
        pairs AS (SELECT a.doc_id ia, b.doc_id ib
          FROM g a JOIN g b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
        edges AS (SELECT ia u, ib v FROM pairs
          UNION ALL SELECT ib, ia FROM pairs),
        reach(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id)
        SELECT id AS doc_id, MIN(lbl) AS cluster_id,
          (id = MIN(lbl)) AS is_canonical
        FROM reach GROUP BY id ORDER BY doc_id""")),

    Q("td_dedup_exact",
      (s, dir) => Dedup.exact(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
        count(*) AS n_copies FROM documents GROUP BY md5(text)
        ORDER BY content_hash""")),

    // MinHash-LSH candidates, exact-Jaccard verified — oracle is the full
    // O(n^2) exact computation over the identical-text REPRESENTATIVES
    // (min doc_id per md5(text); members emit (rep, member, 1.0) star
    // edges instead of C(N,2) intra-group pairs), so this checks LSH
    // recall AND the collapse contract. This corpus has no exact-dup
    // texts (star is empty here; the collapse's star path is
    // fixture-exercised by td_mm_imagedup/audiodup/videodup, whose
    // families ARE identical-hash groups). The pairs are ordered in one
    // partition: they are far fewer than the documents, and an orderBy's
    // range partitioner would run the verify pass once more for its sample.
    Q("td_dedup_near",
      (s, dir) => Dedup.nearDupPairs(Tables(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .repartition(1).sortWithinPartitions("id_a", "id_b"),
      Some("""WITH grp AS (SELECT doc_id, text,
          min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents),
        toks AS (SELECT doc_id, string_split(text,' ') t FROM grp
          WHERE doc_id = rep),
        g AS (SELECT doc_id,
          list_distinct([t[i]||' '||t[i+1]||' '||t[i+2] for i in range(1, len(t)-1)]) sh
          FROM toks)
        SELECT * FROM (
          SELECT rep AS id_a, doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
          FROM grp WHERE doc_id <> rep
          UNION ALL
          SELECT a.doc_id, b.doc_id,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(list_concat(a.sh, b.sh)))
          FROM g a JOIN g b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
        ORDER BY id_a, id_b""")),

    // Paragraph-granularity fuzzy dedup (RefinedWeb/Dolma dedup at doc
    // AND paragraph level). Fixture paragraphs per doc: a corpus-wide
    // identical boilerplate header (500-member collapse group → star
    // edges), an id-prefixed slice of the doc's own text (background
    // jaccard provably <= ~0.73, below the 0.8 threshold), an EMPTY
    // paragraph for doc_id%13==0 (dropped, but later indices keep their
    // raw split offsets), and two planted cross-doc duplicate families
    // (doc_id%10==0 / ==5) whose representatives pair at J = 10/11 —
    // high enough that 16x4 LSH recall is ~1-1e-8, so the exact-jaccard
    // oracle must match pair-for-pair.
    Q("td_dedup_para",
      (s, dir) => {
        val id = col("doc_id")
        val p0 = lit("common boilerplate license header shared across this crawl corpus")
        val p1 = concat(lit("p"), id.cast("string"), lit(" "),
          array_join(slice(split(col("text"), " "), 1, 10), " "))
        val gap = when(pmod(id, lit(13)) === 0, lit(""))
          .otherwise(lit(null).cast("string"))
        val planted = when(pmod(id, lit(10)) === 0,
            lit("planted near duplicate paragraph alpha beta gamma delta epsilon zeta eta theta"))
          .when(pmod(id, lit(10)) === 5,
            lit("planted near duplicate paragraph alpha beta gamma delta epsilon zeta eta theta iota"))
          .otherwise(lit(null).cast("string"))
        val docs = Tables(s, dir, "documents")
          .select(id, concat_ws("\n", p0, gap, p1, planted).as("__t"))
        // ordered in one partition, as td_dedup_near's pairs
        Dedup.paraNearDupPairs(docs, "doc_id", "__t", threshold = 0.8)
          .repartition(1)
          .sortWithinPartitions("doc_a", "para_a", "doc_b", "para_b")
      },
      Some("""WITH base AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        par AS (SELECT doc_id,
          (CASE WHEN doc_id % 13 = 0
            THEN ['common boilerplate license header shared across this crawl corpus',
                  '',
                  'p' || CAST(doc_id AS VARCHAR) || ' ' || array_to_string(t[1:10], ' ')]
            ELSE ['common boilerplate license header shared across this crawl corpus',
                  'p' || CAST(doc_id AS VARCHAR) || ' ' || array_to_string(t[1:10], ' ')]
           END) ||
          (CASE doc_id % 10
            WHEN 0 THEN ['planted near duplicate paragraph alpha beta gamma delta epsilon zeta eta theta']
            WHEN 5 THEN ['planted near duplicate paragraph alpha beta gamma delta epsilon zeta eta theta iota']
            ELSE []::VARCHAR[] END) AS ps
          FROM base),
        u0 AS (SELECT doc_id,
            unnest([{'i': i - 1, 'p': ps[i]} for i in range(1, len(ps) + 1)]) AS e
          FROM par),
        pid AS (SELECT doc_id * 1048576 + e.i AS pid, e.p AS p
          FROM u0 WHERE e.p <> ''),
        grp AS (SELECT pid, p, min(pid) OVER (PARTITION BY p) AS rep FROM pid),
        sh AS (SELECT pid,
            list_distinct([tt[i]||' '||tt[i+1]||' '||tt[i+2]
              for i in range(1, len(tt) - 1)]) AS s
          FROM (SELECT pid, string_split(p, ' ') AS tt
                FROM grp WHERE pid = rep)),
        pairs AS (SELECT a.pid AS pa, b.pid AS pb,
            CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              len(list_distinct(list_concat(a.s, b.s))) AS j
          FROM sh a JOIN sh b ON a.pid < b.pid
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        allp AS (
          SELECT rep AS pa, pid AS pb, CAST(1.0 AS DOUBLE) AS j
          FROM grp WHERE pid <> rep
          UNION ALL
          SELECT pa, pb, j FROM pairs)
        SELECT pa // 1048576 AS doc_a, CAST(pa % 1048576 AS INT) AS para_a,
          pb // 1048576 AS doc_b, CAST(pb % 1048576 AS INT) AS para_b,
          j AS jaccard
        FROM allp ORDER BY doc_a, para_a, doc_b, para_b""")),

    // n-gram Jaccard dedup, EXACT: prefix-filtered set-similarity join
    // (All-Pairs/PPJoin principle) — complete recall by construction, so
    // the O(n²) oracle must match pair-for-pair. Lower threshold than
    // td_dedup_near to exercise a different candidate frontier.
    Q("td_dedup_ngram",
      (s, dir) => Dedup.ngramJaccardPairs(Tables(s, dir, "documents"),
          "doc_id", "text", threshold = 0.7)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') t FROM documents),
        g AS (SELECT doc_id,
          list_distinct([t[i]||' '||t[i+1]||' '||t[i+2] for i in range(1, len(t)-1)]) sh
          FROM toks)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
        ORDER BY id_a, id_b""")),

    // embedding-cosine near-dup: the corpus has no natural near-dups (max
    // background cosine 0.51), so plant copies of the first 100 vectors and
    // find pairs >= 0.95. Bit-identical vectors collapse to their min-id
    // representative (star edges at cosine 1.0 — each planted copy is a
    // 2-member group), reps verify through the LSH buckets, and the
    // oracle replays the collapse plus ALL rep pairs exactly — a missed
    // true pair or a C(N,2) blowup both hash-mismatch. cosine =
    // dot/(sqrt*sqrt) folds identically in both engines (see
    // graft-determinism rules).
    Q("td_dedup_embed",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val planted = e.filter(col("vec_id") < 100)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
        Dedup.embedNearDupPairs(
            e.select("vec_id", "embedding").unionByName(planted),
            "vec_id", "embedding", threshold = 0.95)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH av AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 100),
        grp AS (SELECT vec_id, embedding,
          min(vec_id) OVER (PARTITION BY embedding) AS rep FROM av),
        reps AS (SELECT vec_id, embedding FROM grp WHERE vec_id = rep),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
          (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
           sqrt(list_sum(list_transform(range(1, len(b.embedding)+1),
            i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS cosine
          FROM reps a JOIN reps b ON a.vec_id < b.vec_id)
        SELECT * FROM (
          SELECT rep AS id_a, vec_id AS id_b, CAST(1.0 AS DOUBLE) AS cosine
          FROM grp WHERE vec_id <> rep
          UNION ALL
          SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.95)
        ORDER BY id_a, id_b""")),

    // SimHash, oracle-gated via derived deterministic properties on planted
    // pairs (the 64-bit hash family itself is engine-specific, so the gate
    // checks behavior, not values). The id-shift pairing used first was a
    // trap: the synthetic corpus has planted near-dup families (94/500
    // id-shift pairs had hamming < 10, some with identical token SETS), so
    // the "unrelated" doc is instead DERIVED per doc by rewriting every
    // token (t -> t+"zzz": a fully disjoint token set, hamming ~ Bin(64,.5)).
    //  - dup_invariant: duplicating an existing token leaves the signature
    //    unchanged (SimHash is a function of the distinct token set);
    //  - near_ok: hamming to a 1-token-append neighbor <= 30 (measured max
    //    15 across sf0.001-0.1; ~4 sigma above);
    //  - far_ok: hamming to the token-rewritten doc >= 5 (mean 32, sigma 4);
    //  - sep_ok: >= 95% of docs rank the 1-token neighbor strictly closer
    //    than the rewritten doc.
    Q("td_dedup_simhash",
      (s, dir) => {
        val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        val near = d.select(col("doc_id"),
          concat(col("text"), lit(" zzznearzzz")).as("text"))
        val dup = d.select(col("doc_id"),
          concat(col("text"), lit(" "), split(col("text"), " ").getItem(0)).as("text"))
        val far = d.select(col("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("zzz"))), " ").as("text"))
        val sig = Dedup.simhash(d, "doc_id", "text")
        val sigNear = Dedup.simhash(near, "doc_id", "text")
          .withColumnRenamed("simhash", "sig_near")
        val sigDup = Dedup.simhash(dup, "doc_id", "text")
          .withColumnRenamed("simhash", "sig_dup")
        val sigFar = Dedup.simhash(far, "doc_id", "text")
          .withColumnRenamed("simhash", "sig_far")
        val j = sig.join(sigNear, "id").join(sigDup, "id").join(sigFar, "id")
          .withColumn("near_ham",
            bit_count(col("simhash").bitwiseXOR(col("sig_near"))))
          .withColumn("far_ham",
            bit_count(col("simhash").bitwiseXOR(col("sig_far"))))
        val sepFrac = j.agg(
          avg(when(col("near_ham") < col("far_ham"), 1.0).otherwise(0.0)))
          .head.getDouble(0)
        j.select(col("id"),
            (col("sig_dup") === col("simhash")).as("dup_invariant"),
            (col("near_ham") <= 30).as("near_ok"),
            (col("far_ham") >= 5).as("far_ok"),
            lit(sepFrac >= 0.95).as("sep_ok"))
          .orderBy("id")
      },
      Some("""SELECT doc_id AS id, true AS dup_invariant, true AS near_ok,
        true AS far_ok, true AS sep_ok FROM documents ORDER BY id""")),

    Q("td_sim_topk",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e,
            "vec_id", "embedding", k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH p AS (
        SELECT a.vec_id query_id, b.vec_id neighbor_id,
          list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, len(a.embedding)+1)]) /
          (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                    for i in range(1, len(a.embedding)+1)])) *
           sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, len(b.embedding)+1)]))) AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
        rk AS (SELECT query_id, neighbor_id, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM p)
        SELECT query_id, neighbor_id, cosine, rank FROM rk WHERE rank <= 5
        ORDER BY query_id, rank""")),

    // LSH ANN, oracle-gated via derived deterministic properties (the bucket
    // family is engine-specific; the gate checks retrieval behavior):
    //  - planted_hit: an exact copy of each query vector planted in the
    //    corpus shares every LSH bucket, so it MUST come back at rank 1
    //    (background max cosine is 0.51 — no tie is possible);
    //  - recall_ok: recall@5 vs brute force over the same corpus stays above
    //    a floor (measured 0.88-0.90 across sf0.001-0.1; floor 0.7 leaves
    //    >= 18pp margin).
    Q("td_sim_ann",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20).select("vec_id", "embedding")
        val planted = qs.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
        val corpus = e.select("vec_id", "embedding").unionByName(planted)
        val ann = Similarity.annTopK(qs, corpus, "vec_id", "embedding",
          k = 5, bits = 4, tables = 16)
        val bf = Similarity.bruteForceTopK(qs, corpus, "vec_id", "embedding", k = 5)
        val recall = ann.select("query_id", "neighbor_id")
          .join(bf.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count().toDouble /
          bf.count()
        ann.filter(col("rank") === 1)
          .select(col("query_id"),
            (col("neighbor_id") === col("query_id") + 10000).as("planted_hit"),
            lit(recall >= 0.7).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""SELECT vec_id AS query_id, true AS planted_hit, true AS recall_ok
        FROM embeddings WHERE vec_id < 20 ORDER BY query_id""")),

    // IVF ANN, same derived gate: the planted exact copy lands in the same
    // coarse cell as its query (identical vector => identical argmax cell),
    // the query always probes its own best cell, so rank 1 is guaranteed.
    // Recall measured 0.91-0.96 across sf0.001-0.1; floor 0.7.
    Q("td_sim_ivf",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20).select("vec_id", "embedding")
        val planted = qs.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
        val corpus = e.select("vec_id", "embedding").unionByName(planted)
        val ivf = Similarity.ivfTopK(qs, corpus, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4, kmeansIters = 2)
        val bf = Similarity.bruteForceTopK(qs, corpus, "vec_id", "embedding", k = 5)
        val recall = ivf.select("query_id", "neighbor_id")
          .join(bf.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count().toDouble /
          bf.count()
        ivf.filter(col("rank") === 1)
          .select(col("query_id"),
            (col("neighbor_id") === col("query_id") + 10000).as("planted_hit"),
            lit(recall >= 0.7).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""SELECT vec_id AS query_id, true AS planted_hit, true AS recall_ok
        FROM embeddings WHERE vec_id < 20 ORDER BY query_id""")),

    // C4-style cleaning (Raffel et al. 2020 heuristics, public): both
    // sides build the SAME multi-line page from the doc (planted
    // boilerplate lines keyed by doc_id), then each INDEPENDENTLY
    // implements the C4 rules — terminal-punctuation + >=5-word +
    // no-javascript line gates, lorem-ipsum / curly-brace page gates —
    // Spark with codegen built-ins, the oracle with DuckDB list ops.
    Q("td_quality_c4",
      (s, dir) => {
        val multi = concat_ws("\n",
          concat(col("text"), lit(".")),
          lit("too short."),
          lit("this line has five words."),
          when(col("doc_id") % 7 === 0,
            lit("please enable javascript to continue."))
            .otherwise(lit("a perfectly fine closing sentence.")),
          when(col("doc_id") % 11 === 0,
            lit("lorem ipsum dolor sit amet."))
            .otherwise(lit("another good line with enough words.")),
          when(col("doc_id") % 13 === 0, lit("var x = {1};"))
            .otherwise(lit("the final line ends properly.")))
        Tables(s, dir, "documents")
          .select(col("doc_id"), multi.as("__t"))
          .select(col("doc_id"),
            TA.c4DocKeep(col("__t")).as("doc_keep"),
            TA.c4KeptLines(col("__t")).as("kept_lines"),
            TA.c4DroppedLines(col("__t")).as("dropped_lines"),
            length(TA.c4CleanedText(col("__t"))).as("cleaned_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH built AS (SELECT doc_id,
        |  text || '.' || chr(10) ||
        |  'too short.' || chr(10) ||
        |  'this line has five words.' || chr(10) ||
        |  CASE WHEN doc_id % 7 = 0 THEN 'please enable javascript to continue.'
        |       ELSE 'a perfectly fine closing sentence.' END || chr(10) ||
        |  CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.'
        |       ELSE 'another good line with enough words.' END || chr(10) ||
        |  CASE WHEN doc_id % 13 = 0 THEN 'var x = {1};'
        |       ELSE 'the final line ends properly.' END AS t
        |  FROM documents),
        |k AS (SELECT doc_id, t,
        |  list_filter(string_split(t, chr(10)),
        |    l -> regexp_matches(l, '[.!?"]$')
        |      AND len(string_split(l, ' ')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) kept,
        |  len(string_split(t, chr(10))) total
        |  FROM built)
        |SELECT doc_id,
        |  (NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{'))
        |    AS doc_keep,
        |  CAST(len(kept) AS INT) AS kept_lines,
        |  CAST(total - len(kept) AS INT) AS dropped_lines,
        |  CAST(length(array_to_string(kept, chr(10))) AS INT) AS cleaned_chars
        |FROM k ORDER BY doc_id""".stripMargin)),

    // C4 §2.2 cross-document span dedup: every doc carries the SAME
    // 3-line boilerplate block between two unique lines, so exactly one
    // 3-line span per doc is a global duplicate — kept only by the
    // lowest doc_id. The oracle derives kept text, span counts, and
    // removed-line counts arithmetically from that construction (a
    // dedup that kept the wrong occurrence, miscounted spans, or removed
    // the wrong lines hash-mismatches).
    Q("td_quality_c4_spans",
      (s, dir) => {
        val multi = concat_ws("\n",
          concat(lit("unique opening line "), col("doc_id")),
          lit("shared boilerplate alpha"),
          lit("shared boilerplate beta"),
          lit("shared boilerplate gamma"),
          concat(lit("unique closing line "), col("doc_id")))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), multi.as("__t"))
        TA.c4SpanDedup(docs, "doc_id", "__t", n = 3)
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT min(doc_id) AS mn FROM documents)
        SELECT doc_id,
          CASE WHEN doc_id = m.mn THEN
            'unique opening line ' || doc_id || chr(10) ||
            'shared boilerplate alpha' || chr(10) ||
            'shared boilerplate beta' || chr(10) ||
            'shared boilerplate gamma' || chr(10) ||
            'unique closing line ' || doc_id
          ELSE
            'unique opening line ' || doc_id || chr(10) ||
            'unique closing line ' || doc_id
          END AS kept_text,
          CAST(3 AS BIGINT) AS n_spans,
          CAST(CASE WHEN doc_id = m.mn THEN 0 ELSE 1 END AS BIGINT) AS dup_spans,
          CAST(CASE WHEN doc_id = m.mn THEN 0 ELSE 3 END AS INT) AS removed_lines
        FROM documents, m ORDER BY doc_id""")),

    // Benchmark decontamination: every doc whose doc_id % 50 == 0 plays
    // the eval set VERBATIM, so each eval doc is guaranteed to flag its
    // own corpus copy (full shingle overlap) alongside any organic
    // overlap; the oracle recomputes the distinct-shingle intersection
    // with DuckDB list ops. Eval side broadcast — the corpus is the
    // scaling side and is never reshuffled.
    Q("td_decontaminate",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val evalSet = docs.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("eval_id"), col("text"))
        Dedup.contaminationPairs(docs, evalSet, "doc_id", "text",
          "eval_id", "text", n = 3, minShared = 5)
          .orderBy("doc_id", "eval_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') t FROM documents),
        g AS (SELECT doc_id,
          list_distinct([t[i]||' '||t[i+1]||' '||t[i+2] for i in range(1, len(t)-1)]) sh
          FROM toks),
        ev AS (SELECT doc_id AS eval_id, sh FROM g WHERE doc_id % 50 = 0)
        SELECT c.doc_id, e.eval_id,
          CAST(len(list_intersect(c.sh, e.sh)) AS BIGINT) AS shared_grams
        FROM g c JOIN ev e ON len(list_intersect(c.sh, e.sh)) >= 5
        ORDER BY doc_id, eval_id""")),

    // Product-quantization ANN, same derived gate: the planted exact copy
    // encodes to the query's own PQ code (identical vector => identical
    // argmin per subspace), so its ADC score ties the maximum for that
    // code and the exact refine ranks it 1 by true cosine. Recall vs
    // brute force asserted with the family's 0.7 floor.
    Q("td_sim_pq",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20).select("vec_id", "embedding")
        val planted = qs.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
        val corpus = e.select("vec_id", "embedding").unionByName(planted)
        val pq = Similarity.pqTopK(qs, corpus, "vec_id", "embedding",
          k = 5, m = 8, ksub = 32, kmeansIters = 3, refine = 16)
        val bf = Similarity.bruteForceTopK(qs, corpus, "vec_id", "embedding", k = 5)
        val recall = pq.select("query_id", "neighbor_id")
          .join(bf.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count().toDouble /
          bf.count()
        pq.filter(col("rank") === 1)
          .select(col("query_id"),
            (col("neighbor_id") === col("query_id") + 10000).as("planted_hit"),
            lit(recall >= 0.7).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""SELECT vec_id AS query_id, true AS planted_hit, true AS recall_ok
        FROM embeddings WHERE vec_id < 20 ORDER BY query_id""")),

    // IVF-PQ ANN (coarse quantizer pruning + residual product codes —
    // the 100 TB composition of td_sim_ivf and td_sim_pq), same derived
    // gate: the planted exact copy lands in the query's own first-probe
    // cell under the shared cosine-argmax rule and encodes to the
    // residual code nearest its own residual, so it survives the ADC cut
    // and the exact refine ranks it 1 by true cosine. Recall vs brute
    // force asserted with the family's 0.7 floor, and the scan-bound
    // property (ADC rows == probed posting lists only) is spec-pinned in
    // OperatorSpec.
    Q("td_sim_ivfpq",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 20).select("vec_id", "embedding")
        val planted = qs.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
        val corpus = e.select("vec_id", "embedding").unionByName(planted)
        val ivfpq = Similarity.ivfpqTopK(qs, corpus, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 6, m = 8, ksub = 32,
          kmeansIters = 3, refine = 16)
        val bf = Similarity.bruteForceTopK(qs, corpus, "vec_id", "embedding", k = 5)
        val recall = ivfpq.select("query_id", "neighbor_id")
          .join(bf.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count().toDouble /
          bf.count()
        ivfpq.filter(col("rank") === 1)
          .select(col("query_id"),
            (col("neighbor_id") === col("query_id") + 10000).as("planted_hit"),
            lit(recall >= 0.7).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""SELECT vec_id AS query_id, true AS planted_hit, true AS recall_ok
        FROM embeddings WHERE vec_id < 20 ORDER BY query_id""")),

    // binary decode plumbing with a REAL pure-JVM header decoder: each doc
    // gets a planted PNG/JPEG/GIF header whose dimensions derive from
    // doc_id; the partition-wise decoder must sniff the format and recover
    // width×height from the IHDR/SOFn/logical-screen headers, and the
    // oracle recomputes the expected values arithmetically — so a decoder
    // that ignores the bytes cannot pass
    Q("td_multimodal",
      (s, dir) => {
        val bin = Tables(s, dir, "documents")
          .select(col("doc_id"), mmPayload(col("doc_id")).as("payload"))
        Multimodal.extractFeatures(bin, "payload")
          .select(col("doc_id"), col("format"), col("width"), col("height"),
            col("byte_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        CAST(16 + doc_id % 1024 AS INT) AS width,
        CAST(16 + doc_id % 768 AS INT) AS height,
        CAST(CASE doc_id % 3 WHEN 0 THEN 29 WHEN 1 THEN 23 ELSE 13 END AS BIGINT) AS byte_len
        FROM documents ORDER BY doc_id""")),

    // REAL pixel resize (javax.imageio decode → bilinear resample →
    // same-format re-encode): fixtures are real solid-fill rasters whose
    // color derives from doc_id, the check DECODES the resized payload's
    // pixels (decoded dims + channel means — resample-invariant for a
    // constant image), and the oracle computes both independently from
    // the planted-color arithmetic. A codec that only patches headers
    // fails: the pixel decode sees the true raster, not the header.
    // Lossless formats only here (png/gif/bmp) so the means are exact;
    // jpeg resize is spec-asserted with tolerance in MultimodalSpec.
    Q("td_mm_resize",
      (s, dir) => {
        val bin = Tables(s, dir, "documents")
          .select(col("doc_id"), mmRaster(col("doc_id")).as("payload"))
        val resized = Multimodal.resize(bin, "payload", 24, 16)
        Multimodal.pixelStats(resized, "payload")
          .select(col("doc_id"), mmSniff(col("payload")).as("format"),
            col("decoded_width").as("width"), col("decoded_height").as("height"),
            col("mean_r"), col("mean_g"), col("mean_b"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'bmp' END AS format,
        CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
        CAST((doc_id * 3 + 17) % 256 AS INT) AS mean_r,
        CAST((doc_id * 7 + 31) % 256 AS INT) AS mean_g,
        CAST((doc_id * 13 + 101) % 256 AS INT) AS mean_b
        FROM documents ORDER BY doc_id""")),

    // REAL GIF frame demux (ImageIO reader, frame compositing, GCE
    // delays): fixtures are real animated GIFs with 1 + doc_id % 5
    // solid-gray frames at 40 ms each, every 2nd frame is emitted
    // executor-side (flatMap fan-out, no shuffle) re-encoded as PNG, and
    // the check decodes each emitted frame's pixels — frame count, pts,
    // and per-frame gray all verified against independent arithmetic.
    Q("td_mm_frames",
      (s, dir) => {
        val bin = Tables(s, dir, "documents")
          .select(col("doc_id"), mmClip(col("doc_id")).as("payload"))
        val frames = Multimodal.frameSample(bin, "payload", every = 2)
        Multimodal.pixelStats(frames, "frame")
          .select(col("doc_id"), col("frame_idx"), col("pts_ms"),
            col("mean_r").as("mean_gray"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""SELECT d.doc_id, CAST(s.i AS INT) AS frame_idx,
        CAST(s.i * 40 AS BIGINT) AS pts_ms,
        CAST((d.doc_id * 31 + s.i * 47) % 256 AS INT) AS mean_gray
        FROM documents d JOIN (VALUES (0),(1),(2),(3),(4)) s(i)
          ON s.i < 1 + d.doc_id % 5 AND s.i % 2 = 0
        ORDER BY d.doc_id, frame_idx""")),

    // REAL audio decode (RIFF chunk walk + every PCM16 sample): fixtures
    // are real WAVs carrying a ±amplitude square wave whose parameters
    // derive from doc_id; the operator decodes the WAVEFORM (rms/peak
    // come from the samples, not the header — a square wave's RMS is
    // exactly its amplitude), and the oracle computes every output
    // column arithmetically. A header-only reader can't produce rms.
    Q("td_mm_audio",
      (s, dir) => {
        val bin = Tables(s, dir, "documents")
          .select(col("doc_id"), mmWav(col("doc_id")).as("payload"))
        Multimodal.audioFeatures(bin, "payload")
          .select(col("doc_id"), col("sample_rate"), col("channels"),
            col("frames"), col("duration_ms"), col("rms"), col("peak"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        CAST(8000 AS INT) AS sample_rate,
        CAST(1 + doc_id % 2 AS INT) AS channels,
        CAST(800 + (doc_id % 5) * 80 AS BIGINT) AS frames,
        CAST(100 + (doc_id % 5) * 10 AS BIGINT) AS duration_ms,
        CAST(1000 + (doc_id % 100) * 10 AS DOUBLE) AS rms,
        CAST(1000 + (doc_id % 100) * 10 AS DOUBLE) AS peak
        FROM documents ORDER BY doc_id""")),

    // Audio decode across sample formats (WAVE format 1 PCM at 8/24 bits
    // and format 3 IEEE float32, cycled by doc_id): square-wave fixtures
    // make rms == peak == |amplitude| exactly in each depth's NATIVE
    // units — 8-bit after the unsigned-128 offset, 24-bit signed, float
    // in [-1,1] (amplitudes k/1024 so every value is dyadic-exact in
    // both engines). The float fixture carries the canonical fmt-18 +
    // fact chunk layout, so a 44-byte-header assumption fails here.
    Q("td_mm_audio_depths",
      (s, dir) => {
        val bin = Tables(s, dir, "documents")
          .select(col("doc_id"), mmWavDepth(col("doc_id")).as("payload"))
        Multimodal.audioFeatures(bin, "payload")
          .select(col("doc_id"), col("sample_rate"), col("channels"),
            col("frames"), col("duration_ms"), col("rms"), col("peak"),
            col("bits"), col("codec"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        CAST(8000 AS INT) AS sample_rate,
        CAST(1 + doc_id % 2 AS INT) AS channels,
        CAST(800 + (doc_id % 5) * 80 AS BIGINT) AS frames,
        CAST(100 + (doc_id % 5) * 10 AS BIGINT) AS duration_ms,
        CAST(CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 127
             WHEN 1 THEN (1 + doc_id % 100) * 1000
             ELSE (1 + doc_id % 1024) / 1024.0 END AS DOUBLE) AS rms,
        CAST(CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 127
             WHEN 1 THEN (1 + doc_id % 100) * 1000
             ELSE (1 + doc_id % 1024) / 1024.0 END AS DOUBLE) AS peak,
        CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 24 ELSE 32 END AS INT) AS bits,
        CASE WHEN doc_id % 3 = 2 THEN 'float' ELSE 'pcm' END AS codec
        FROM documents ORDER BY doc_id""")),

    // Exact-substring dedup (Lee et al. 2021, arXiv:2107.06499): every
    // doc carries the SAME 6-token boilerplate run between unique prefix
    // (1 + doc_id % 3 tokens) and suffix (1 + doc_id % 2 tokens) tokens,
    // so with w = 4 exactly the 3 windows fully inside the run are global
    // duplicates — kept only by the lowest doc_id, whose copy survives
    // intact; every other doc loses the full 6-token run. The oracle
    // rebuilds kept text and all counts arithmetically from that
    // construction (keeping the wrong occurrence, removing the wrong
    // tokens, or miscounting windows hash-mismatches).
    Q("td_dedup_substr",
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val pre = transform(
          sequence(lit(1), (lit(1) + col("doc_id") % 3).cast("int")),
          j => concat(lit("u"), id, lit("x"), j.cast("string")))
        val bl = array(lit("b1"), lit("b2"), lit("b3"),
          lit("b4"), lit("b5"), lit("b6"))
        val suf = transform(
          sequence(lit(1), (lit(1) + col("doc_id") % 2).cast("int")),
          j => concat(lit("v"), id, lit("x"), j.cast("string")))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), array_join(concat(pre, bl, suf), " ").as("__t"))
        Dedup.exactSubstrDedup(docs, "doc_id", "__t", w = 4)
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT min(doc_id) AS mn FROM documents),
        f AS (SELECT doc_id, 1 + doc_id % 3 AS p, 1 + doc_id % 2 AS q
              FROM documents),
        tk AS (SELECT doc_id, p, q,
          [concat('u', doc_id, 'x', j) for j in range(1, p + 1)] AS pre,
          ['b1','b2','b3','b4','b5','b6'] AS bl,
          [concat('v', doc_id, 'x', j) for j in range(1, q + 1)] AS suf
          FROM f)
        SELECT tk.doc_id,
          CASE WHEN tk.doc_id = m.mn
            THEN array_to_string(pre || bl || suf, ' ')
            ELSE array_to_string(pre || suf, ' ') END AS kept_text,
          CAST(p + q + 3 AS BIGINT) AS n_windows,
          CAST(CASE WHEN tk.doc_id = m.mn THEN 0 ELSE 3 END AS BIGINT)
            AS dup_windows,
          CAST(CASE WHEN tk.doc_id = m.mn THEN 0 ELSE 6 END AS INT)
            AS removed_tokens
        FROM tk, m ORDER BY doc_id""")),

    // Concat-and-chunk sequence packing over the DISTRIBUTED prefix sum
    // (a single-task `sum() over (order by)` global window is the one
    // shape that cannot survive 100 TB — Packing.prefixSum is the
    // two-pass scan instead). ctx = 512 whitespace tokens. The oracle
    // replays the identical layout with DuckDB's window sum, so every
    // stream offset and sequence index must match exactly.
    Q("td_pack_sequences",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_toks"))
        Packing.packChunks(docs, "doc_id", "n_toks", ctx = 512)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (SELECT doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
        SELECT doc_id, n_tokens,
          cum - n_tokens AS start_off,
          (cum - n_tokens) // 512 AS first_seq,
          (cum - 1) // 512 AS last_seq,
          ((cum - 1) // 512) - ((cum - n_tokens) // 512) + 1 AS n_seqs
        FROM c ORDER BY doc_id""")),

    // Deterministic stratified sampling (domain mixing): per-lang keep
    // rates as md5-prefix thresholds. The DuckDB oracle replays the
    // predicate verbatim from the SAME hexThreshold constants, so both
    // engines must keep the identical row set — any RNG, seed, or hash
    // divergence hash-mismatches.
    Q("td_sample_stratified",
      (s, dir) => {
        val rates = Map("en" -> 0.75, "fr" -> 0.5, "es" -> 0.5,
          "de" -> 0.25, "zh" -> 0.25)
        Tables(s, dir, "documents")
          .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"), rates))
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, source FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE lang WHEN 'en' THEN '${Sampling.hexThreshold(0.75)}'
            WHEN 'fr' THEN '${Sampling.hexThreshold(0.5)}'
            WHEN 'es' THEN '${Sampling.hexThreshold(0.5)}'
            WHEN 'de' THEN '${Sampling.hexThreshold(0.25)}'
            WHEN 'zh' THEN '${Sampling.hexThreshold(0.25)}'
            ELSE 'g' END
        ORDER BY doc_id""")),

    // Deterministic train/valid/test split by cumulative md5-threshold
    // bands — stable across runs and engines, membership depends only on
    // the key. Oracle replays the same band predicate per row.
    Q("td_sample_split",
      (s, dir) => Tables(s, dir, "documents").select(col("doc_id"),
          Sampling.splitAssign(col("doc_id"),
            Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1))).as("split"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
               '${Sampling.hexThreshold(0.8)}' THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
               '${Sampling.hexThreshold(0.8 + 0.1)}' THEN 'valid'
             ELSE 'test' END AS split
        FROM documents ORDER BY doc_id""")),

    // SemDeDup (Abbas et al. 2023): cluster-then-dedup in embedding
    // space. The corpus has no natural near-dups (max background cosine
    // 0.51), so at eps = 0.95 the ONLY duplicate pairs are the planted
    // exact copies (cosine 1), and exact copies always share a k-means
    // cell (assignment is a function of the vector) — so the clustered
    // operator must agree with the oracle's ALL-PAIRS rule exactly: a
    // vector drops iff a lower-id vector at >= eps exists anywhere.
    // Missing a planted copy (recall) or dropping a non-dup (precision)
    // both hash-mismatch.
    Q("td_dedup_semantic",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val planted = e.filter(col("vec_id") < 100)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
        Dedup.semDedup(
            e.select("vec_id", "embedding").unionByName(planted),
            "vec_id", "embedding", eps = 0.95, nlist = 8, kmeansIters = 2)
          .orderBy("vec_id")
      },
      Some("""WITH av AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 100),
        d AS (SELECT b.vec_id FROM av a JOIN av b ON a.vec_id < b.vec_id
          WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
          (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1),
            i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
           sqrt(list_sum(list_transform(range(1, len(b.embedding)+1),
            i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) >= 0.95)
        SELECT av.vec_id, av.vec_id NOT IN (SELECT vec_id FROM d) AS kept
        FROM av ORDER BY vec_id""")),

    // DSIR importance weights (Xie et al. 2023): raw = all documents,
    // target = the English slice; 1024 hashed unigram+bigram buckets.
    // The DuckDB oracle REPLAYS the entire computation — gram
    // extraction, md5-hex bucket hash, both fit distributions, the
    // single-ln log ratio, micro-unit quantization, and the per-doc
    // integer sum — so the engines must agree bucket-for-bucket and
    // micro-for-micro.
    Q("td_dsir_weights",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dsir.importanceWeights(
            docs.select("doc_id", "text"),
            docs.filter(col("lang") === "en").select("doc_id", "text"),
            "doc_id", "text", nBuckets = 1024)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
            list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS t
          FROM documents),
        g AS (SELECT doc_id, lang, unnest(t ||
          CASE WHEN len(t) >= 2
            THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
            ELSE []::VARCHAR[] END) AS gram FROM toks),
        b AS (SELECT doc_id, lang,
          ((ascii(substr(md5(gram),1,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),1,1)) >= 97 THEN 39 ELSE 0 END) * 4096
         + (ascii(substr(md5(gram),2,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),2,1)) >= 97 THEN 39 ELSE 0 END) * 256
         + (ascii(substr(md5(gram),3,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),3,1)) >= 97 THEN 39 ELSE 0 END) * 16
         + (ascii(substr(md5(gram),4,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),4,1)) >= 97 THEN 39 ELSE 0 END))
          % 1024 AS bkt FROM g),
        tc AS (SELECT bkt, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bkt),
        rc AS (SELECT bkt, count(*) AS c FROM b GROUP BY bkt),
        tot AS (SELECT (SELECT count(*) FROM b WHERE lang = 'en') AS tt,
                       (SELECT count(*) FROM b) AS rt),
        lr AS (SELECT rc.bkt,
          CAST(floor(ln(((coalesce(tc.c, 0) + 0.5) * (tot.rt + 512.0)) /
                        ((rc.c + 0.5) * (tot.tt + 512.0))) * 1000000 + 0.5)
            AS BIGINT) AS lrm
          FROM rc LEFT JOIN tc ON rc.bkt = tc.bkt, tot)
        SELECT b.doc_id, count(*) AS n_grams,
          CAST(sum(lr.lrm) AS BIGINT) AS weight_micro
        FROM b JOIN lr ON b.bkt = lr.bkt
        GROUP BY b.doc_id ORDER BY doc_id""")),

    // Image near-dup by perceptual hash: docs < 50 carry REAL 8x8 gray
    // PNGs — even doc_ids a descending vertical gradient, odd a
    // descending horizontal one. Every same-family pair hashes
    // identically (the +0 perturbation-free gradients make aHash an
    // exact integer function of the pattern), cross-family Hamming is
    // 32 — far over the threshold. The oracle recomputes the hash from
    // the planted pixel arithmetic (value*64 > sum bit test, bit
    // weights as exact BIGINT shifts) and replays the identical-hash
    // representative collapse: each 25-member family emits 24 star
    // edges (min-id rep → member, hamming 0) and only the two reps
    // enter the pair join (cross-family Hamming 32 → no rep pair).
    // Wrong grayscale math, wrong bit order, a recall hole in the
    // banded join, or a C(N,2) blowup of an identical group all
    // hash-mismatch.
    Q("td_mm_imagedup",
      (s, dir) => {
        val enc = udf { (d: Long) =>
          val vals = (0 until 64).map { i =>
            val (r, c) = (i / 8, i % 8)
            if (d % 2 == 0) (7 - r) * 30 else (7 - c) * 30
          }
          Multimodal.encodeGray8x8("png", vals)
        }
        val imgs = Tables(s, dir, "documents").filter(col("doc_id") < 50)
          .select(col("doc_id"), enc(col("doc_id")).as("payload"))
        Multimodal.imageNearDupPairs(imgs, "doc_id", "payload",
            maxHamming = 3, nBands = 4)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        px AS (SELECT doc_id, t1.r, t2.c,
            CASE WHEN doc_id % 2 = 0 THEN (7 - t1.r) * 30
                 ELSE (7 - t2.c) * 30 END AS v
          FROM ids, range(0, 8) t1(r), range(0, 8) t2(c)),
        tot AS (SELECT doc_id, sum(v) AS s FROM px GROUP BY doc_id),
        h AS (SELECT px.doc_id,
            sum(CASE WHEN px.v * 64 > tot.s
              THEN (CAST(1 AS BIGINT) << CAST(px.r * 8 + px.c AS INT))
              ELSE 0 END) AS ahash
          FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id),
        g AS (SELECT doc_id, ahash,
            min(doc_id) OVER (PARTITION BY ahash) AS rep FROM h),
        reps AS (SELECT doc_id, ahash FROM g WHERE doc_id = rep)
        SELECT * FROM (
          SELECT rep AS id_a, doc_id AS id_b, CAST(0 AS INT) AS hamming
          FROM g WHERE doc_id <> rep
          UNION ALL
          SELECT a.doc_id, b.doc_id,
            CAST(bit_count(xor(a.ahash, b.ahash)) AS INT)
          FROM reps a JOIN reps b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.ahash, b.ahash)) <= 3)
        ORDER BY id_a, id_b""")),

    // Image near-dup by DCT pHash: docs < 60 carry REAL 8x8 gray PNGs in
    // four variants — vertical/horizontal gradient (doc_id % 2) crossed
    // with identity/gamma tone curve (doc_id % 4 >= 2, the exact integer
    // curve v -> (2v^2+255)//510 ~ gamma 2). The gamma shift moves
    // pixels across the image mean, so aHash lands at Hamming 8 from
    // its identity sibling (provably missed at threshold 3 — spec-pinned
    // in MultimodalSpec), while the low-frequency DCT structure
    // survives: pHash pairs identity~gamma at Hamming 3 and keeps the
    // two axes apart (>= 8). The oracle re-derives the ENTIRE integer
    // pipeline — the planted pixels, the Q14 cosine table (floor
    // rounding is safe: no entry within 0.01 of a .5 boundary), the
    // separable DCT as exact integer sums, the lower-median bit
    // threshold — plus the identical-hash collapse (4 families x 14
    // star edges) and the banded rep join (exactly two pairs).
    Q("td_mm_imagedup_phash",
      (s, dir) => {
        val enc = udf { (d: Long) =>
          val vals = (0 until 64).map { i =>
            val (r, c) = (i / 8, i % 8)
            val v0 = (7 - (if (d % 2 == 0) r else c)) * 30
            if (d % 4 >= 2) (2 * v0 * v0 + 255) / 510 else v0
          }
          Multimodal.encodeGray8x8("png", vals)
        }
        val imgs = Tables(s, dir, "documents").filter(col("doc_id") < 60)
          .select(col("doc_id"), enc(col("doc_id")).as("payload"))
        Multimodal.imageNearDupPairsPhash(imgs, "doc_id", "payload",
            maxHamming = 3, nBands = 4)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        px0 AS (SELECT doc_id, t1.r, t2.c,
            (7 - CASE WHEN doc_id % 2 = 0 THEN t1.r ELSE t2.c END) * 30 AS v0
          FROM ids, range(0, 8) t1(r), range(0, 8) t2(c)),
        px AS (SELECT doc_id, r, c,
            CASE WHEN doc_id % 4 >= 2 THEN (2 * v0 * v0 + 255) // 510
                 ELSE v0 END AS v
          FROM px0),
        tb AS (SELECT kk.k, yy.y,
            CAST(floor(cos(pi() * (2 * yy.y + 1) * kk.k / 64) * 16384 + 0.5)
              AS BIGINT) AS t
          FROM range(0, 8) kk(k), range(0, 32) yy(y)),
        s AS (SELECT k, y // 4 AS r, CAST(sum(t) AS BIGINT) AS sv
          FROM tb GROUP BY k, y // 4),
        coef AS (SELECT px.doc_id, sk.k AS k, sl.k AS l,
            CAST(sum(px.v * sk.sv * sl.sv) AS BIGINT) AS cv
          FROM px JOIN s sk ON sk.r = px.r JOIN s sl ON sl.r = px.c
          GROUP BY px.doc_id, sk.k, sl.k),
        med AS (SELECT doc_id, cv AS m FROM (
            SELECT doc_id, cv,
              row_number() OVER (PARTITION BY doc_id ORDER BY cv) rn
            FROM coef) WHERE rn = 32),
        h AS (SELECT coef.doc_id,
            CAST(sum(CASE WHEN coef.cv > med.m
              THEN (CAST(1 AS BIGINT) << CAST(coef.k * 8 + coef.l AS INT))
              ELSE 0 END) AS BIGINT) AS ph
          FROM coef JOIN med USING (doc_id) GROUP BY coef.doc_id),
        g AS (SELECT doc_id, ph,
            min(doc_id) OVER (PARTITION BY ph) AS rep FROM h),
        reps AS (SELECT doc_id, ph FROM g WHERE doc_id = rep)
        SELECT * FROM (
          SELECT rep AS id_a, doc_id AS id_b, CAST(0 AS INT) AS hamming
          FROM g WHERE doc_id <> rep
          UNION ALL
          SELECT a.doc_id, b.doc_id,
            CAST(bit_count(xor(a.ph, b.ph)) AS INT)
          FROM reps a JOIN reps b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.ph, b.ph)) <= 3)
        ORDER BY id_a, id_b""")),

    // Video near-dup by aligned per-frame perceptual hashes: docs < 30
    // carry REAL 3-frame animated GIFs whose frame-j raster is a
    // vertical gradient when (doc_id + j) is even, horizontal when odd
    // — so same-parity videos match on EVERY aligned frame and
    // opposite-parity videos match on NONE (each aligned pair differs
    // by Hamming 32). An unaligned matcher would find cross-parity
    // matches at shifted indices, so the fixture exercises the
    // alignment for real. The oracle re-derives every frame hash from
    // the planted pixel arithmetic and replays the identical-SEQUENCE
    // representative collapse (each 15-member parity family → 14
    // full-match star edges + one rep) plus the aligned match +
    // majority threshold over the two reps.
    Q("td_mm_videodup",
      (s, dir) => {
        val enc = udf { (d: Long) =>
          val frames = (0 until 3).map { j =>
            (0 until 64).map { i =>
              val (r, c) = (i / 8, i % 8)
              if ((d + j) % 2 == 0) (7 - r) * 30 else (7 - c) * 30
            }
          }
          Multimodal.encodeAnimatedGifRasters(8, 8, frames)
        }
        val vids = Tables(s, dir, "documents").filter(col("doc_id") < 30)
          .select(col("doc_id"), enc(col("doc_id")).as("payload"))
        Multimodal.videoNearDupPairs(vids, "doc_id", "payload",
            every = 1, maxHamming = 3, nBands = 4, minMatchFrac = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 30),
        fr AS (SELECT doc_id, f.j FROM ids, range(0, 3) f(j)),
        px AS (SELECT doc_id, j, t1.r, t2.c,
            CASE WHEN (doc_id + j) % 2 = 0 THEN (7 - t1.r) * 30
                 ELSE (7 - t2.c) * 30 END AS v
          FROM fr, range(0, 8) t1(r), range(0, 8) t2(c)),
        tot AS (SELECT doc_id, j, sum(v) AS s FROM px GROUP BY doc_id, j),
        h AS (SELECT px.doc_id, px.j,
            sum(CASE WHEN px.v * 64 > tot.s
              THEN (CAST(1 AS BIGINT) << CAST(px.r * 8 + px.c AS INT))
              ELSE 0 END) AS fh
          FROM px JOIN tot USING (doc_id, j) GROUP BY px.doc_id, px.j),
        seqs AS (SELECT doc_id, list(fh ORDER BY j) AS sq,
            count(*) AS nf FROM h GROUP BY doc_id),
        g AS (SELECT doc_id, nf,
            min(doc_id) OVER (PARTITION BY sq) AS rep FROM seqs),
        reps AS (SELECT doc_id, nf FROM g WHERE doc_id = rep),
        fp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.j
          FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.j = b.j
          JOIN reps ra ON ra.doc_id = a.doc_id
          JOIN reps rb ON rb.doc_id = b.doc_id
          WHERE bit_count(xor(a.fh, b.fh)) <= 3),
        m AS (SELECT id_a, id_b, count(*) AS matched_frames
          FROM fp GROUP BY id_a, id_b)
        SELECT * FROM (
          SELECT rep AS id_a, doc_id AS id_b, nf AS matched_frames,
            nf AS frames_a, nf AS frames_b
          FROM g WHERE doc_id <> rep
          UNION ALL
          SELECT m.id_a, m.id_b, m.matched_frames, ra.nf, rb.nf
          FROM m JOIN reps ra ON ra.doc_id = m.id_a
                 JOIN reps rb ON rb.doc_id = m.id_b
          WHERE m.matched_frames >= 0.5 * least(ra.nf, rb.nf))
        ORDER BY id_a, id_b""")),

    // Trim-robust video near-dup (offset vote): docs < 24 carry REAL
    // animated GIFs; frame p's raster is a ROTATED gradient ((7-axis+p)
    // mod 8)*30, axis = row for even doc_ids / column for odd, so every
    // frame of a clip hashes differently and cross-parity frames never
    // match. Docs 0-11 are 4-frame originals (p = 0..3); docs 12-23 are
    // TRIMMED copies of the same-parity original (first frame dropped,
    // p = 1..3). The ALIGNED matcher finds nothing between original and
    // trim (frame j vs j never matches); the offset vote recovers them
    // at offset -1 with all 3 remaining frames voting. The oracle
    // re-derives frame hashes from the planted arithmetic and replays
    // the sequence collapse (four 6-member identical groups → 5 star
    // rows each), the offset vote, the (votes desc, offset asc)
    // tie-break, and the majority threshold.
    Q("td_mm_videodup_trim",
      (s, dir) => {
        val enc = udf { (d: Long) =>
          val (nF, jOff) = if (d < 12) (4, 0) else (3, 1)
          val frames = (0 until nF).map { j =>
            val p = j + jOff
            (0 until 64).map { i =>
              val axis = if (d % 2 == 0) i / 8 else i % 8
              ((7 - axis + p) % 8) * 30
            }
          }
          Multimodal.encodeAnimatedGifRasters(8, 8, frames)
        }
        val vids = Tables(s, dir, "documents").filter(col("doc_id") < 24)
          .select(col("doc_id"), enc(col("doc_id")).as("payload"))
        Multimodal.videoNearDupPairsOffset(vids, "doc_id", "payload",
            every = 1, maxHamming = 3, nBands = 4, minMatchFrac = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 24),
        fr AS (SELECT doc_id, f.j,
            CASE WHEN doc_id < 12 THEN f.j ELSE f.j + 1 END AS p
          FROM ids, range(0, 4) f(j) WHERE doc_id < 12 OR f.j < 3),
        px AS (SELECT doc_id, j, t1.r, t2.c,
            ((7 - CASE WHEN doc_id % 2 = 0 THEN t1.r ELSE t2.c END + p) % 8)
              * 30 AS v
          FROM fr, range(0, 8) t1(r), range(0, 8) t2(c)),
        tot AS (SELECT doc_id, j, sum(v) AS s FROM px GROUP BY doc_id, j),
        h AS (SELECT px.doc_id, px.j,
            sum(CASE WHEN px.v * 64 > tot.s
              THEN (CAST(1 AS BIGINT) << CAST(px.r * 8 + px.c AS INT))
              ELSE 0 END) AS fh
          FROM px JOIN tot USING (doc_id, j) GROUP BY px.doc_id, px.j),
        seqs AS (SELECT doc_id, list(fh ORDER BY j) AS sq,
            count(*) AS nf FROM h GROUP BY doc_id),
        g AS (SELECT doc_id, nf,
            min(doc_id) OVER (PARTITION BY sq) AS rep FROM seqs),
        reps AS (SELECT doc_id, nf FROM g WHERE doc_id = rep),
        fp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(b.j - a.j AS INT) AS off
          FROM h a JOIN h b ON a.doc_id < b.doc_id
          JOIN reps ra ON ra.doc_id = a.doc_id
          JOIN reps rb ON rb.doc_id = b.doc_id
          WHERE bit_count(xor(a.fh, b.fh)) <= 3),
        v AS (SELECT id_a, id_b, off, count(*) AS m
          FROM fp GROUP BY id_a, id_b, off),
        bestv AS (SELECT id_a, id_b, off, m, row_number() OVER
            (PARTITION BY id_a, id_b ORDER BY m DESC, off) AS rk
          FROM v QUALIFY rk = 1)
        SELECT * FROM (
          SELECT rep AS id_a, doc_id AS id_b, CAST(0 AS INT) AS best_offset,
            nf AS matched_frames, nf AS frames_a, nf AS frames_b
          FROM g WHERE doc_id <> rep
          UNION ALL
          SELECT bestv.id_a, bestv.id_b, bestv.off, bestv.m, ra.nf, rb.nf
          FROM bestv JOIN reps ra ON ra.doc_id = bestv.id_a
                     JOIN reps rb ON rb.doc_id = bestv.id_b
          WHERE bestv.m >= 0.5 * least(ra.nf, rb.nf))
        ORDER BY id_a, id_b""")),

    // Audio near-dup by envelope fingerprint: docs < 50 carry REAL
    // PCM16 WAVs whose square-wave amplitude steps per 64-window plan —
    // even doc_ids loud in the first half, odd loud in every 8-window
    // cycle's first 4. Within a family every fingerprint is identical
    // (bits reduce to amps(k)*64 > sum(amps), pure integer arithmetic);
    // across families Hamming is 32. Oracle recomputes fingerprints
    // from the planted amplitude arithmetic and replays the
    // identical-hash representative collapse (24 star edges per family,
    // reps-only pair join).
    Q("td_mm_audiodup",
      (s, dir) => {
        val enc = udf { (d: Long) =>
          val amps = (0 until 64).map { k =>
            val loud = if (d % 2 == 0) k < 32 else k % 8 < 4
            if (loud) 1000 else 100
          }
          Multimodal.encodeWavPcm16Amps(8000, 50, amps)
        }
        val wavs = Tables(s, dir, "documents").filter(col("doc_id") < 50)
          .select(col("doc_id"), enc(col("doc_id")).as("payload"))
        Multimodal.audioNearDupPairs(wavs, "doc_id", "payload",
            maxHamming = 3, nBands = 4)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        wnd AS (SELECT doc_id, t.k,
            CASE WHEN doc_id % 2 = 0
              THEN CASE WHEN t.k < 32 THEN 1000 ELSE 100 END
              ELSE CASE WHEN t.k % 8 < 4 THEN 1000 ELSE 100 END
            END AS amp
          FROM ids, range(0, 64) t(k)),
        tot AS (SELECT doc_id, sum(amp) AS s FROM wnd GROUP BY doc_id),
        h AS (SELECT wnd.doc_id,
            sum(CASE WHEN wnd.amp * 64 > tot.s
              THEN (CAST(1 AS BIGINT) << CAST(wnd.k AS INT)) ELSE 0 END)
              AS afp
          FROM wnd JOIN tot USING (doc_id) GROUP BY wnd.doc_id),
        g AS (SELECT doc_id, afp,
            min(doc_id) OVER (PARTITION BY afp) AS rep FROM h),
        reps AS (SELECT doc_id, afp FROM g WHERE doc_id = rep)
        SELECT * FROM (
          SELECT rep AS id_a, doc_id AS id_b, CAST(0 AS INT) AS hamming
          FROM g WHERE doc_id <> rep
          UNION ALL
          SELECT a.doc_id, b.doc_id,
            CAST(bit_count(xor(a.afp, b.afp)) AS INT)
          FROM reps a JOIN reps b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.afp, b.afp)) <= 3)
        ORDER BY id_a, id_b""")),

    // Incremental dedup against a historical corpus: history = every
    // 7th document's text; the new batch = all documents. The Bloom
    // prefilter + broadcast exact verify must produce EXACT anti-join
    // semantics (the bloom is invisible in the result), so the DuckDB
    // oracle is the plain text-membership test — a false negative
    // (escaped dup) or an unverified false positive both hash-mismatch.
    Q("td_dedup_incremental",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val history = docs.filter(col("doc_id") % 7 === 0)
          .select(col("text"))
        Dedup.dedupAgainstHistory(docs.select("doc_id", "text"), history,
            "doc_id", "text", expectedItems = 10000L, fpp = 0.01)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          text NOT IN (SELECT text FROM documents WHERE doc_id % 7 = 0)
            AS kept
        FROM documents ORDER BY doc_id""")),

    // URL-level dedup (RefinedWeb §3.1 — the stage crawl pipelines run
    // BEFORE text dedup): doc_ids map to five URL spellings of the same
    // page in rotation (host case, www + trailing slash, default port +
    // fragment, scheme case + unsorted query, sorted query), so each
    // base page forms two normalized groups — {0,1,2} (no query) and
    // {3,4} (query). The oracle replays the whole normalization with
    // the same regexes (RE2/Java agree on these patterns) plus the
    // min-id grouping; a wrong rule (unsorted query, kept fragment,
    // surviving www/port, over-stripped path case) hash-mismatches.
    Q("td_dedup_url",
      (s, dir) => {
        import graft.functions.Urls
        val k = floor(col("doc_id") / 5).cast("long").cast("string")
        val v = pmod(col("doc_id"), lit(5))
        val url = when(v === 0, concat(lit("https://Example.COM/P"), k))
          .when(v === 1, concat(lit("https://www.example.com/P"), k, lit("/")))
          .when(v === 2, concat(lit("https://example.com:443/P"), k, lit("#sec")))
          .when(v === 3, concat(lit("HTTPS://example.com/P"), k, lit("?b=2&a=1")))
          .otherwise(concat(lit("https://example.com/P"), k, lit("?a=1&b=2")))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
        Urls.dedupByUrl(docs, "doc_id", "url")
          .select("doc_id", "url", "url_norm", "canonical_id", "n_copies")
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
          CASE doc_id % 5
            WHEN 0 THEN 'https://Example.COM/P' || CAST(doc_id // 5 AS VARCHAR)
            WHEN 1 THEN 'https://www.example.com/P' || CAST(doc_id // 5 AS VARCHAR) || '/'
            WHEN 2 THEN 'https://example.com:443/P' || CAST(doc_id // 5 AS VARCHAR) || '#sec'
            WHEN 3 THEN 'HTTPS://example.com/P' || CAST(doc_id // 5 AS VARCHAR) || '?b=2&a=1'
            ELSE 'https://example.com/P' || CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2'
          END AS url FROM documents),
        n AS (SELECT doc_id, url,
          lower(regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 1)) AS sch,
          regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2) AS a0,
          regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 3) AS p0,
          regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 4) AS q0
          FROM u),
        m1 AS (SELECT doc_id, url, sch, p0, q0,
          regexp_extract(a0, '^([^@]*@)', 1) AS ui,
          lower(regexp_replace(a0, '^[^@]*@', '')) AS hp FROM n),
        m2 AS (SELECT doc_id, url, sch, p0, q0, ui,
          CASE WHEN regexp_matches(hp, '^www\..+\.')
               THEN regexp_replace(hp, '^www\.', '') ELSE hp END AS hw
          FROM m1),
        m AS (SELECT doc_id, url, sch,
          ui || CASE WHEN sch = 'http' THEN regexp_replace(hw, ':80$', '')
                     WHEN sch = 'https' THEN regexp_replace(hw, ':443$', '')
                     ELSE hw END AS auth,
          regexp_replace(p0, '/+$', '') AS path,
          CASE WHEN q0 = '' THEN ''
               ELSE '?' || array_to_string(list_sort(string_split(q0, '&')), '&')
          END AS qp FROM m2),
        norm AS (SELECT doc_id, url,
          CASE WHEN sch = '' THEN trim(url)
               ELSE sch || '://' || auth || path || qp END AS url_norm
          FROM m),
        g AS (SELECT url_norm, min(doc_id) AS canonical_id,
            count(*) AS n_copies
          FROM norm GROUP BY url_norm)
        SELECT norm.doc_id, norm.url, norm.url_norm, g.canonical_id,
          g.n_copies
        FROM norm JOIN g USING (url_norm) ORDER BY doc_id""")),

    // URL filtering (RefinedWeb §3.1.1 — runs BEFORE URL dedup): exact
    // domain blocklist (including subdomains) + a soft word score over
    // the URL string, with a TOTAL keep (NULL-free). Fixture rotates
    // clean / blocked-subdomain / over-score / under-score URLs; the
    // oracle replays host extraction, the subdomain test, the word
    // weights, and the keep decision.
    Q("td_filter_url",
      (s, dir) => {
        import graft.functions.Urls
        val k = floor(col("doc_id") / 4).cast("long").cast("string")
        val v = pmod(col("doc_id"), lit(4))
        val url = when(v === 0, concat(lit("https://good.example.org/page"), k))
          .when(v === 1, concat(lit("https://ads.tracker.net/x"), k))
          .when(v === 2, concat(lit("https://example.com/free-casino-"), k))
          .otherwise(concat(lit("https://example.com/article-"), k,
            lit("?ref=free")))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
        Urls.urlFilter(docs, "url",
            blockedDomains = Seq("tracker.net", "spam.example"),
            scoredWords = Seq(("casino", 60), ("free", 30)), maxScore = 50)
          .select("doc_id", "url", "url_host", "url_word_score", "url_keep")
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
          CASE doc_id % 4
            WHEN 0 THEN 'https://good.example.org/page' || CAST(doc_id // 4 AS VARCHAR)
            WHEN 1 THEN 'https://ads.tracker.net/x' || CAST(doc_id // 4 AS VARCHAR)
            WHEN 2 THEN 'https://example.com/free-casino-' || CAST(doc_id // 4 AS VARCHAR)
            ELSE 'https://example.com/article-' || CAST(doc_id // 4 AS VARCHAR) || '?ref=free'
          END AS url FROM documents),
        h0 AS (SELECT doc_id, url,
          lower(regexp_replace(regexp_replace(regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2),
            '^[^@]*@', ''), ':[0-9]*$', '')) AS hp FROM u),
        h AS (SELECT doc_id, url,
          CASE WHEN regexp_matches(hp, '^www\..+\.')
               THEN regexp_replace(hp, '^www\.', '') ELSE hp END AS url_host
          FROM h0),
        sc AS (SELECT doc_id, url, url_host,
          (CASE WHEN contains(lower(url), 'casino') THEN 60 ELSE 0 END +
           CASE WHEN contains(lower(url), 'free') THEN 30 ELSE 0 END)
            AS url_word_score FROM h)
        SELECT doc_id, url, url_host, url_word_score,
          (NOT (url_host = 'tracker.net' OR url_host LIKE '%.tracker.net'
             OR url_host = 'spam.example' OR url_host LIKE '%.spam.example')
           AND url_word_score < 50) AS url_keep
        FROM sc ORDER BY doc_id""")),

    // Deterministic per-domain document cap (C4's anti-domination
    // stage): solo-{id} keys (one doc each, always under cap) rank 1 in
    // their own window partition and pass; 'big.com' carries 3/4 of the
    // corpus and keeps exactly its 10 smallest-md5(id) docs. The oracle
    // replays the count, the md5 order and the id tie-break — a wrong
    // order, an off-by-one cap, or a lost under-cap row all
    // hash-mismatch.
    Q("td_sample_domain_cap",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("solo-"), col("doc_id").cast("string")))
            .otherwise(lit("big.com")).as("host"))
        Sampling.capPerKey(docs, "doc_id", "host", cap = 10)
          .select("doc_id", "host", "key_docs")
          .orderBy("doc_id")
      },
      Some("""WITH k AS (SELECT doc_id,
          CASE WHEN doc_id % 4 = 0 THEN 'solo-' || CAST(doc_id AS VARCHAR)
               ELSE 'big.com' END AS host FROM documents),
        c AS (SELECT host, count(*) AS key_docs FROM k GROUP BY host),
        r AS (SELECT k.doc_id, k.host, c.key_docs,
            row_number() OVER (PARTITION BY k.host
              ORDER BY substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8),
                k.doc_id) AS rk
          FROM k JOIN c USING (host))
        SELECT doc_id, host, key_docs FROM r
        WHERE key_docs <= 10 OR rk <= 10 ORDER BY doc_id""")),

    // Deterministic token-budget cut: md5(id) IS the training-order
    // shuffle, the running total is the two-pass distributed prefix
    // sum, and the cut is a pure function of the ids — the oracle
    // replays shuffle order, running totals, and the exact boundary
    // (budget 15000 bites at sf0.01: ~190 of 500 docs selected).
    Q("td_sample_budget",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        Sampling.budgetSelect(docs, "doc_id", "n_tokens",
            budgetTokens = 15000L)
          .orderBy("doc_id")
      },
      Some("""WITH k AS (SELECT doc_id,
          CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
          md5(CAST(doc_id AS VARCHAR)) AS shuffle_key FROM documents),
        c AS (SELECT doc_id, n_tokens, shuffle_key,
          CAST(sum(n_tokens) OVER (ORDER BY shuffle_key) AS BIGINT)
            AS cum_tokens FROM k)
        SELECT doc_id, n_tokens, shuffle_key, cum_tokens
        FROM c WHERE cum_tokens <= 15000 ORDER BY doc_id""")),

    // DSIR selection: Gumbel-top-k over the importance weights (the
    // paper's without-replacement resampling, made deterministic —
    // md5-derived uniform → quantized Gumbel noise → integer selection
    // key). temperature = 1e6 micro ≡ 1.0, k = 50. The oracle replays
    // weights AND noise and must select the identical 50 documents.
    Q("td_dsir_select",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val w = Dsir.importanceWeights(
          docs.select("doc_id", "text"),
          docs.filter(col("lang") === "en").select("doc_id", "text"),
          "doc_id", "text", nBuckets = 1024)
        Dsir.gumbelTopK(w, "doc_id", "weight_micro", k = 50)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
            list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS t
          FROM documents),
        g AS (SELECT doc_id, lang, unnest(t ||
          CASE WHEN len(t) >= 2
            THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
            ELSE []::VARCHAR[] END) AS gram FROM toks),
        b AS (SELECT doc_id, lang,
          ((ascii(substr(md5(gram),1,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),1,1)) >= 97 THEN 39 ELSE 0 END) * 4096
         + (ascii(substr(md5(gram),2,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),2,1)) >= 97 THEN 39 ELSE 0 END) * 256
         + (ascii(substr(md5(gram),3,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),3,1)) >= 97 THEN 39 ELSE 0 END) * 16
         + (ascii(substr(md5(gram),4,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),4,1)) >= 97 THEN 39 ELSE 0 END))
          % 1024 AS bkt FROM g),
        tc AS (SELECT bkt, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bkt),
        rc AS (SELECT bkt, count(*) AS c FROM b GROUP BY bkt),
        tot AS (SELECT (SELECT count(*) FROM b WHERE lang = 'en') AS tt,
                       (SELECT count(*) FROM b) AS rt),
        lr AS (SELECT rc.bkt,
          CAST(floor(ln(((coalesce(tc.c, 0) + 0.5) * (tot.rt + 512.0)) /
                        ((rc.c + 0.5) * (tot.tt + 512.0))) * 1000000 + 0.5)
            AS BIGINT) AS lrm
          FROM rc LEFT JOIN tc ON rc.bkt = tc.bkt, tot),
        w AS (SELECT b.doc_id, count(*) AS n_grams,
            CAST(sum(lr.lrm) AS BIGINT) AS weight_micro
          FROM b JOIN lr ON b.bkt = lr.bkt GROUP BY b.doc_id),
        hm AS (SELECT doc_id, n_grams, weight_micro, md5(CAST(doc_id AS VARCHAR)) AS h
          FROM w),
        sc AS (SELECT doc_id, n_grams, weight_micro,
          weight_micro +
          CAST(floor(-ln(-ln((
            ((ascii(substr(h,1,1)) - 48 -
                CASE WHEN ascii(substr(h,1,1)) >= 97 THEN 39 ELSE 0 END) * 4096
           + (ascii(substr(h,2,1)) - 48 -
                CASE WHEN ascii(substr(h,2,1)) >= 97 THEN 39 ELSE 0 END) * 256
           + (ascii(substr(h,3,1)) - 48 -
                CASE WHEN ascii(substr(h,3,1)) >= 97 THEN 39 ELSE 0 END) * 16
           + (ascii(substr(h,4,1)) - 48 -
                CASE WHEN ascii(substr(h,4,1)) >= 97 THEN 39 ELSE 0 END))
            + 0.5) / 65536.0)) * 1000000 + 0.5) AS BIGINT) AS gumbel_micro
          FROM hm),
        sel AS (SELECT * FROM sc ORDER BY gumbel_micro DESC, doc_id LIMIT 50)
        SELECT doc_id, n_grams, weight_micro, gumbel_micro
        FROM sel ORDER BY doc_id""")),

    // Composed CCNet-style pipeline (Wenzek 2019's full gate order) as
    // ONE hash-gated row: rank-order n-gram language ID → LM-perplexity
    // head/middle/tail bucket → quality-model keep, with a total
    // keep_final = (pred 'en') AND (bucket not tail) AND (model keep).
    // The three stages are individually oracle-verified
    // (td_quality_langid_ngram / td_quality_ppl / td_quality_model);
    // THIS row pins their interactions — null pred_lang on gram-less
    // docs folded through coalesce, the always-total bucket, and the
    // two-valued keep — so a stage contract change that breaks the
    // composition hash-mismatches even if each stage row stays green.
    Q("td_pipeline_ccnet",
      (s, dir) => ccnetPipeline(Tables(s, dir, "documents")).orderBy("doc_id"),
      Some("""WITH l_g0 AS (SELECT doc_id, lang, unnest(
            [substr(text, i, 3) for i in range(1, length(text) - 1)]) AS g
          FROM documents),
        l_lc AS (SELECT lang, g, count(*) c FROM l_g0 GROUP BY lang, g),
        l_lp AS (SELECT lang, g, row_number() OVER
            (PARTITION BY lang ORDER BY c DESC, g) AS lr
          FROM l_lc QUALIFY lr <= 40),
        l_dc AS (SELECT doc_id, g, count(*) c FROM l_g0 GROUP BY doc_id, g),
        l_dp AS (SELECT doc_id, g, row_number() OVER
            (PARTITION BY doc_id ORDER BY c DESC, g) AS dr
          FROM l_dc QUALIFY dr <= 40),
        l_nd AS (SELECT doc_id, count(*) ng FROM l_dp GROUP BY doc_id),
        l_bon AS (SELECT l_dp.doc_id, l_lp.lang, sum(40 - abs(l_dp.dr - l_lp.lr)) AS b
          FROM l_dp JOIN l_lp ON l_dp.g = l_lp.g GROUP BY l_dp.doc_id, l_lp.lang),
        l_langs AS (SELECT DISTINCT lang FROM documents),
        l_sc AS (SELECT l_nd.doc_id, l_langs.lang,
            40 * l_nd.ng - coalesce(l_bon.b, 0) AS score
          FROM l_nd CROSS JOIN l_langs
          LEFT JOIN l_bon ON l_bon.doc_id = l_nd.doc_id
            AND l_bon.lang = l_langs.lang),
        l_best AS (SELECT doc_id, lang, row_number() OVER
            (PARTITION BY doc_id ORDER BY score, lang) rk
          FROM l_sc QUALIFY rk = 1),
        tk AS (SELECT doc_id, lang,
            list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') t
          FROM documents),
        p_big AS (SELECT doc_id, lang,
            unnest([{'w1': t[i], 'w2': t[i+1]}
                    for i in range(1, len(t))]) AS b
          FROM tk),
        p_uni AS (SELECT w, count(*) AS c1 FROM
            (SELECT unnest(t) AS w FROM tk WHERE lang = 'en') GROUP BY w),
        p_n AS (SELECT CAST(sum(c1) AS DOUBLE) AS nn FROM p_uni),
        p_bi AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c12
          FROM p_big WHERE lang = 'en' GROUP BY b.w1, b.w2),
        p_j AS (SELECT p_big.doc_id,
            CAST(floor(ln(
              CASE WHEN p_bi.c12 IS NOT NULL THEN p_bi.c12::DOUBLE / u1.c1
                   WHEN u2.c1 IS NOT NULL THEN 0.4 * u2.c1 / p_n.nn
                   ELSE 0.4 / (p_n.nn + 1) END) * 1000000 + 0.5) AS BIGINT)
              AS lp
          FROM p_big
          LEFT JOIN p_bi ON p_big.b.w1 = p_bi.w1 AND p_big.b.w2 = p_bi.w2
          LEFT JOIN p_uni u1 ON p_big.b.w1 = u1.w
          LEFT JOIN p_uni u2 ON p_big.b.w2 = u2.w, p_n),
        p_agg AS (SELECT doc_id, count(*) AS ns, sum(lp) AS lpm
          FROM p_j GROUP BY doc_id),
        p_res AS (SELECT d.doc_id,
            CASE WHEN p_agg.ns IS NULL THEN 'tail'
                 WHEN CAST(floor(p_agg.lpm::DOUBLE / p_agg.ns) AS BIGINT)
                   >= -3400000 THEN 'head'
                 WHEN CAST(floor(p_agg.lpm::DOUBLE / p_agg.ns) AS BIGINT)
                   < -3600000 THEN 'tail'
                 ELSE 'middle' END AS ppl_bucket
          FROM documents d LEFT JOIN p_agg ON p_agg.doc_id = d.doc_id),
        q_g AS (SELECT doc_id, lang, unnest(t ||
          CASE WHEN len(t) >= 2
            THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
            ELSE []::VARCHAR[] END) AS gram FROM tk),
        q_b AS (SELECT doc_id, lang,
          ((ascii(substr(md5(gram),1,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),1,1)) >= 97 THEN 39 ELSE 0 END) * 4096
         + (ascii(substr(md5(gram),2,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),2,1)) >= 97 THEN 39 ELSE 0 END) * 256
         + (ascii(substr(md5(gram),3,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),3,1)) >= 97 THEN 39 ELSE 0 END) * 16
         + (ascii(substr(md5(gram),4,1)) - 48 -
              CASE WHEN ascii(substr(md5(gram),4,1)) >= 97 THEN 39 ELSE 0 END))
          % 1024 AS bkt FROM q_g),
        q_pc AS (SELECT bkt, count(*) AS c FROM q_b WHERE lang = 'en' GROUP BY bkt),
        q_nc AS (SELECT bkt, count(*) AS c FROM q_b WHERE lang <> 'en' GROUP BY bkt),
        q_tot AS (SELECT (SELECT count(*) FROM q_b WHERE lang = 'en') AS pt,
                         (SELECT count(*) FROM q_b WHERE lang <> 'en') AS nt),
        q_ub AS (SELECT DISTINCT bkt FROM q_b),
        q_w AS (SELECT q_ub.bkt,
          CAST(floor(ln(((coalesce(q_pc.c, 0) + 0.5) * (q_tot.nt + 512.0)) /
                        ((coalesce(q_nc.c, 0) + 0.5) * (q_tot.pt + 512.0)))
            * 1000000 + 0.5) AS BIGINT) AS wm
          FROM q_ub LEFT JOIN q_pc ON q_ub.bkt = q_pc.bkt
                    LEFT JOIN q_nc ON q_ub.bkt = q_nc.bkt, q_tot),
        q_agg AS (SELECT q_b.doc_id, CAST(sum(q_w.wm) AS BIGINT) AS sm
          FROM q_b JOIN q_w ON q_b.bkt = q_w.bkt GROUP BY q_b.doc_id),
        q_res AS (SELECT d.doc_id, coalesce(q_agg.sm, 0) >= 0 AS keep
          FROM documents d LEFT JOIN q_agg ON q_agg.doc_id = d.doc_id)
        SELECT d.doc_id, l_best.lang AS pred_lang, p_res.ppl_bucket,
          q_res.keep,
          (coalesce(l_best.lang = 'en', FALSE)
            AND p_res.ppl_bucket <> 'tail' AND q_res.keep) AS keep_final
        FROM documents d
        LEFT JOIN l_best ON l_best.doc_id = d.doc_id
        LEFT JOIN p_res ON p_res.doc_id = d.doc_id
        LEFT JOIN q_res ON q_res.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // Full RefinedWeb-order crawl-curation macro-pipeline (Penedo et al.
    // 2023 §3, stage for stage) as ONE hash-gated row: URL filter
    // (blocklist + word score) → URL dedup (normalized, min-id
    // canonical) → language ID → repetition/quality rails (Gopher top-
    // bigram/dup-trigram + C4 doc gate) → document-level fuzzy dedup
    // (MinHash-LSH, drop the larger id of every qualifying pair) →
    // exact-substring dedup (w=8 token windows, first occurrence keeps)
    // → per-domain cap (8 docs/host by md5 order) → token-budget cut
    // (5000-token md5-order prefix). Every stage is individually
    // oracle-verified elsewhere; THIS row pins the composition — which
    // survivor set each stage sees, column interactions between the
    // appended stage outputs, and flag totality (every input doc gets a
    // row with total booleans; substr stats stay NULL for docs that
    // never reach that stage). The fixture plants URL threats/variant
    // groups, non-en marker prefixes, repetition spam, lorem-ipsum,
    // exact+near duplicate families, and a cross-doc verbatim sentence,
    // so EVERY stage drops or rewrites someone at sf0.001 AND sf0.01.
    // Fuzzy dedup runs at bands=32 so LSH recall at the J=0.8 boundary
    // is 1-5e-8 — the exact-jaccard oracle must match pair-for-pair.
    Q("td_pipeline_refinedweb",
      (s, dir) => refinedWebPipeline(
        refinedWebFixture(Tables(s, dir, "documents"))).orderBy("doc_id"),
      Some("""WITH fx AS (SELECT doc_id,
          CASE doc_id % 10
            WHEN 0 THEN 'https://ads.tracker.net/x' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN 'https://example.com/casino-free-' || CAST(doc_id AS VARCHAR)
            WHEN 2 THEN 'https://Big.example.com/page' || CAST(doc_id // 10 AS VARCHAR)
            WHEN 3 THEN 'https://big.example.com:443/page' || CAST(doc_id // 10 AS VARCHAR) || '/'
            WHEN 4 THEN 'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/a' || CAST(doc_id AS VARCHAR)
            WHEN 5 THEN 'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/a' || CAST(doc_id AS VARCHAR)
            WHEN 6 THEN 'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/a' || CAST(doc_id AS VARCHAR)
            ELSE 'https://s' || CAST(doc_id AS VARCHAR) || '.example.net/a' || CAST(doc_id AS VARCHAR)
          END AS url,
          (CASE WHEN doc_id % 11 = 3 THEN 'le la et les des le la et les des ' ELSE '' END) ||
          (CASE WHEN doc_id % 23 = 7 THEN 'identical duplicate page body repeated verbatim across many crawled mirrors tonight'
                WHEN doc_id % 23 = 8 THEN 'nearly identical mirrored article body token01 token02 token03 token04 token05 token06 token07 token08 token09 token10 token11 token12 token13 token14 token15 token16 token17 token18'
                WHEN doc_id % 23 = 9 THEN 'nearly identical mirrored article body token01 token02 token03 token04 token05 token06 token07 token08 token09 token10 token11 token12 token13 token14 token15 token16 token17 token18 extratoken'
                ELSE text END) ||
          (CASE WHEN doc_id % 9 = 4 THEN repeat(' buy now', 40) ELSE '' END) ||
          (CASE WHEN doc_id % 17 = 6 THEN ' lorem ipsum' ELSE '' END) ||
          (CASE WHEN doc_id % 13 = 11 THEN ' shared verbatim boilerplate sentence spanning twelve whole tokens for substring dedup' ELSE '' END)
            AS txt
        FROM documents),
        uf AS (SELECT doc_id, url, txt,
          (CASE WHEN regexp_matches(hp, '^www\..+\.')
                THEN regexp_replace(hp, '^www\.', '') ELSE hp END) AS url_host,
          (CASE WHEN contains(lower(url), 'casino') THEN 30 ELSE 0 END +
           CASE WHEN contains(lower(url), 'free') THEN 25 ELSE 0 END) AS url_word_score
          FROM (SELECT *, lower(regexp_replace(regexp_replace(regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2),
            '^[^@]*@', ''), ':[0-9]*$', '')) AS hp FROM fx)),
        ufk AS (SELECT *,
          (NOT (url_host = 'tracker.net' OR url_host LIKE '%.tracker.net')
           AND url_word_score < 50) AS url_keep
          FROM uf),
        s1 AS (SELECT * FROM ufk WHERE url_keep),
        un0 AS (SELECT doc_id, url,
          lower(regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 1)) AS sch,
          regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2) AS a0,
          regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 3) AS p0,
          regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 4) AS q0
          FROM s1),
        un1 AS (SELECT doc_id, url, sch, p0, q0,
          regexp_extract(a0, '^([^@]*@)', 1) AS ui,
          lower(regexp_replace(a0, '^[^@]*@', '')) AS hp FROM un0),
        un2 AS (SELECT doc_id, sch, p0, q0, ui,
          CASE WHEN regexp_matches(hp, '^www\..+\.')
               THEN regexp_replace(hp, '^www\.', '') ELSE hp END AS hw FROM un1),
        un AS (SELECT un0.doc_id,
          CASE WHEN un0.sch = '' THEN trim(un0.url)
               ELSE un0.sch || '://' ||
                 un2.ui || (CASE WHEN un0.sch = 'http' THEN regexp_replace(un2.hw, ':80$', '')
                            WHEN un0.sch = 'https' THEN regexp_replace(un2.hw, ':443$', '')
                            ELSE un2.hw END) ||
                 regexp_replace(un0.p0, '/+$', '') ||
                 (CASE WHEN un0.q0 = '' THEN ''
                       ELSE '?' || array_to_string(list_sort(string_split(un0.q0, '&')), '&') END)
          END AS url_norm
          FROM un0 JOIN un2 ON un0.doc_id = un2.doc_id),
        ucan AS (SELECT url_norm, min(doc_id) AS canonical_id FROM un GROUP BY url_norm),
        s2 AS (SELECT s1.doc_id FROM s1
          JOIN un USING (doc_id) JOIN ucan USING (url_norm)
          WHERE canonical_id = doc_id),
        lid AS (SELECT doc_id,
          CASE WHEN s_zh > greatest(s_en, s_fr, s_es, s_de) THEN 'zh'
               WHEN s_de > greatest(s_en, s_fr, s_es) THEN 'de'
               WHEN s_es > greatest(s_en, s_fr) THEN 'es'
               WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS pred_lang
          FROM (SELECT doc_id,
              len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) s_en,
              len(list_filter(tk, x -> x IN ('le','la','et','les','des'))) s_fr,
              len(list_filter(tk, x -> x IN ('el','los','las','una','y'))) s_es,
              len(list_filter(tk, x -> x IN ('der','die','das','und','ein'))) s_de,
              len(list_filter(tk, x -> x IN ('的','是','了','在','和'))) s_zh
            FROM (SELECT doc_id, string_split(txt, ' ') tk FROM fx))),
        gq AS (SELECT doc_id,
          (CASE WHEN len(bg) > 0 THEN
              CAST(list_max(list_transform(list_distinct(bg),
                x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)
            ELSE 0.0 END < 0.18
           AND
           CASE WHEN len(tg) > 0 THEN
              CAST(len(list_filter(tg, x -> len(list_filter(tg, y -> y = x)) > 1))
                AS DOUBLE) / len(tg)
            ELSE 0.0 END < 0.30
           AND NOT contains(lower(txt), 'lorem ipsum')
           AND NOT contains(txt, '{')) AS qual_ok
          FROM (SELECT doc_id, txt,
              [tk[i]||' '||tk[i+1] for i in range(1, len(tk))] bg,
              [tk[i]||' '||tk[i+1]||' '||tk[i+2] for i in range(1, len(tk)-1)] tg
            FROM (SELECT doc_id, txt, string_split(txt, ' ') tk FROM fx))),
        s4 AS (SELECT s2.doc_id, fx.txt FROM s2
          JOIN fx USING (doc_id) JOIN lid USING (doc_id) JOIN gq USING (doc_id)
          WHERE pred_lang = 'en' AND qual_ok),
        ndg AS (SELECT doc_id, txt, min(doc_id) OVER (PARTITION BY md5(txt)) AS rep
          FROM s4),
        ndsh AS (SELECT doc_id,
            list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
              for i in range(1, len(t) - 1)]) sh
          FROM (SELECT doc_id, string_split(txt, ' ') t FROM ndg WHERE doc_id = rep)),
        nddrop AS (
          SELECT doc_id AS d FROM ndg WHERE doc_id <> rep
          UNION
          SELECT b.doc_id FROM ndsh a JOIN ndsh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT d FROM nddrop)),
        sdu AS (SELECT doc_id, tk, len(tk) AS nt FROM
          (SELECT doc_id, string_split(txt, ' ') tk FROM s5)),
        sdw AS (SELECT doc_id, e.pos AS pos, e.w AS w FROM
          (SELECT doc_id, unnest(CASE WHEN nt >= 8 THEN
              [{'pos': i - 1, 'w': array_to_string(tk[i:i+7], ' ')}
               for i in range(1, nt - 6)]
            ELSE [] END) AS e FROM sdu)),
        sdf AS (SELECT doc_id, pos,
            row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
          FROM sdw),
        sdd AS (SELECT doc_id,
            CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
            list_distinct(flatten(list(CASE WHEN rn > 1
              THEN [j for j in range(pos, pos + 8)] ELSE [] END))) AS rm
          FROM sdf GROUP BY doc_id),
        s6 AS (SELECT sdu.doc_id,
            coalesce(sdd.dup_windows, 0) AS dup_windows,
            CAST(coalesce(len(sdd.rm), 0) AS INT) AS removed_tokens,
            CAST(len([x for x in range(0, sdu.nt)
              if NOT list_contains(coalesce(sdd.rm, []), x)]) AS INT) AS n_tokens
          FROM sdu LEFT JOIN sdd USING (doc_id)),
        cp0 AS (SELECT s6.doc_id, s6.n_tokens, ufk.url_host,
            count(*) OVER (PARTITION BY ufk.url_host) AS key_docs
          FROM s6 JOIN ufk USING (doc_id)),
        cpr AS (SELECT *, row_number() OVER (PARTITION BY url_host
            ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
          FROM cp0),
        s7 AS (SELECT doc_id, n_tokens FROM cpr WHERE key_docs <= 8 OR rk <= 8),
        b0 AS (SELECT doc_id,
            sum(n_tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS cum
          FROM s7),
        s8 AS (SELECT doc_id FROM b0 WHERE cum <= 5000)
        SELECT d.doc_id, ufk.url_keep,
          (ufk.url_keep AND s2.doc_id IS NOT NULL) AS canon_ok,
          lid.pred_lang, gq.qual_ok,
          (s5.doc_id IS NOT NULL) AS neardup_ok,
          s6.dup_windows, s6.removed_tokens, s6.n_tokens,
          (s7.doc_id IS NOT NULL) AS cap_ok,
          (s8.doc_id IS NOT NULL) AS budget_ok,
          (s8.doc_id IS NOT NULL) AS keep_final
        FROM documents d
        JOIN ufk ON ufk.doc_id = d.doc_id
        LEFT JOIN s2 ON s2.doc_id = d.doc_id
        JOIN lid ON lid.doc_id = d.doc_id
        JOIN gq ON gq.doc_id = d.doc_id
        LEFT JOIN s5 ON s5.doc_id = d.doc_id
        LEFT JOIN s6 ON s6.doc_id = d.doc_id
        LEFT JOIN s7 ON s7.doc_id = d.doc_id
        LEFT JOIN s8 ON s8.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // End-to-end curation pipeline — the composition a real pre-training
    // data run executes, as ONE hash-gated row: C4 doc gate + min-length
    // filter → exact dedup (keep lowest doc_id per md5(text) group) →
    // deterministic train split (md5-threshold band) → concat-and-chunk
    // packing of the survivors. Every stage is engine-replayable, so the
    // DuckDB oracle runs the identical four-stage recipe; a divergence in
    // ANY stage (wrong survivor, wrong split membership, wrong stream
    // offset) shifts every downstream row and hash-mismatches.
    Q("td_pipeline_curate",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val quality = docs.filter(TA.c4DocKeep(col("text")) &&
          size(split(col("text"), " ")) >= 10)
        val firstIds = quality
          .select(col("doc_id"), md5(col("text")).as("__h"))
          .groupBy("__h").agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val deduped = quality.join(firstIds, Seq("doc_id"), "left_semi")
        val train = deduped.filter(Sampling.splitAssign(col("doc_id"),
          Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1))) === "train")
        Packing.packChunks(
            train.select(col("doc_id"),
              size(split(col("text"), " ")).as("n_toks")),
            "doc_id", "n_toks", ctx = 256)
          .orderBy("doc_id")
      },
      Some(s"""WITH q AS (SELECT doc_id, text FROM documents
          WHERE len(string_split(text, ' ')) >= 10
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')),
        d AS (SELECT doc_id, text FROM q
          WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY md5(text))),
        t AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM d
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
            '${Sampling.hexThreshold(0.8)}'),
        c AS (SELECT doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
        SELECT doc_id, n_tokens,
          cum - n_tokens AS start_off,
          (cum - n_tokens) // 256 AS first_seq,
          (cum - 1) // 256 AS last_seq,
          ((cum - 1) // 256) - ((cum - n_tokens) // 256) + 1 AS n_seqs
        FROM c ORDER BY doc_id"""))
  )

  /** The td_pipeline_refinedweb fixture. Plants URL threats/variant
    * groups, non-en marker prefixes, repetition spam, lorem-ipsum,
    * exact+near duplicate families, and a cross-document verbatim
    * sentence, keyed on doc_id mods. */
  private def refinedWebFixture(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val constA = "nearly identical mirrored article body token01 " +
      "token02 token03 token04 token05 token06 token07 token08 " +
      "token09 token10 token11 token12 token13 token14 token15 " +
      "token16 token17 token18"
    val k10 = floor(id / 10).cast("long").cast("string")
    val v = pmod(id, lit(10))
    val url = when(v === 0,
        concat(lit("https://ads.tracker.net/x"), id.cast("string")))
      .when(v === 1,
        concat(lit("https://example.com/casino-free-"), id.cast("string")))
      .when(v === 2, concat(lit("https://Big.example.com/page"), k10))
      .when(v === 3,
        concat(lit("https://big.example.com:443/page"), k10, lit("/")))
      .when(v.isin(4, 5, 6),
        concat(lit("https://w"), pmod(id, lit(7)).cast("string"),
          lit(".example.org/a"), id.cast("string")))
      .otherwise(concat(lit("https://s"), id.cast("string"),
        lit(".example.net/a"), id.cast("string")))
    val txt = concat(
      when(pmod(id, lit(11)) === 3,
        lit("le la et les des le la et les des ")).otherwise(lit("")),
      when(pmod(id, lit(23)) === 7,
        lit("identical duplicate page body repeated verbatim across many crawled mirrors tonight"))
        .when(pmod(id, lit(23)) === 8, lit(constA))
        .when(pmod(id, lit(23)) === 9, lit(constA + " extratoken"))
        .otherwise(col("text")),
      when(pmod(id, lit(9)) === 4, repeat(lit(" buy now"), 40))
        .otherwise(lit("")),
      when(pmod(id, lit(17)) === 6, lit(" lorem ipsum")).otherwise(lit("")),
      when(pmod(id, lit(13)) === 11,
        lit(" shared verbatim boilerplate sentence spanning twelve whole tokens for substring dedup"))
        .otherwise(lit("")))
    documents.select(id, url.as("url"), txt.as("txt"))
  }

  /** The CCNet gate over a (doc_id, lang, text) frame, one row per
    * document id: (doc_id, pred_lang, ppl_bucket, keep, keep_final). Each
    * phase reads `docs` once. The fit is one count pass ([[CcNet.fit]]).
    * Scoring is one projection that tokenizes each document once and
    * yields its predicted language, its quality keep and, by an outer
    * explode, its LM transitions; the LM's count joins follow and one
    * aggregate per (id, language, keep) sums the transitions' log-probs.
    *
    * Ids are unique in the documents contract. Documents that repeat an id
    * (NULL included) and agree on pred_lang and keep give ONE row, their
    * transitions scored together; each distinct (pred_lang, keep) among
    * them gives its own row. */
  private[graft] def ccnetPipeline(docs: DataFrame): DataFrame = {
    import graft.functions.{CcNet, NgramLm, QualityModel}
    import graft.functions.expressions.{LangIdOop, TextGrams}
    val fit = CcNet.fit(docs, "lang", "text", keepLang = "en",
      n = 3, k = 40, nBuckets = 1024)
    val trans = QualityModel.withScore(
        docs.select(col("doc_id"),
          LangIdOop.lang_id_oop(col("text"), fit.profiles, 3, 40)
            .getField("pred_lang").as("pred_lang"),
          TextGrams.ws_tokens(col("text")).as("__tk")),
        col("__tk"), fit.weightsMicro, nBuckets = 1024)
      .select(col("doc_id"), col("pred_lang"), col("keep"),
        explode_outer(TextGrams.bigram_pairs(col("__tk"))).as("__b"))
      .select(col("doc_id"), col("pred_lang"), col("keep"),
        col("__b.__w1").as("__w1"), col("__b.__w2").as("__w2"))
    // the per-document columns are grouping keys, not first(): an
    // aggregate buffer of a string makes the aggregate sort-based
    NgramLm.withLogProb(trans, fit.lm)
      .groupBy("doc_id", "pred_lang", "keep")
      .agg(count(col("__lp")).as("n_scored"), sum("__lp").as("logprob_micro"))
      .withColumn("ppl_bucket", NgramLm.pplBucket(
        NgramLm.avgLogProbMicro(col("n_scored"), col("logprob_micro")),
        -3400000L, -3600000L))
      .select(col("doc_id"), col("pred_lang"), col("ppl_bucket"),
        col("keep"),
        (coalesce(col("pred_lang") === "en", lit(false)) &&
          col("ppl_bucket") =!= "tail" && col("keep")).as("keep_final"))
  }

  /** The eight-stage RefinedWeb composition over a (doc_id, url, txt)
    * frame. Every stage output is localCheckpoint-materialized: each
    * feeds 2-3 downstream subtrees (the next stage plus the final
    * membership flags), and a real curation run persists stage outputs
    * between passes too — without the cut, the audit row's plan
    * re-derived the whole upstream funnel once per consumer (53 corpus
    * scans at the first uncut EXPLAIN). */
  private def refinedWebPipeline(docs: DataFrame): DataFrame = {
    import graft.functions.Urls
    val enriched = Urls.urlFilter(docs, "url",
        blockedDomains = Seq("tracker.net"),
        scoredWords = Seq(("casino", 30), ("free", 25)), maxScore = 50)
      .withColumn("pred_lang", TA.langId(col("txt")))
      .withColumn("qual_ok",
        TA.topNgramFraction(col("txt"), 2) < 0.18 &&
          TA.dupNgramFraction(col("txt"), 3) < 0.30 &&
          TA.c4DocKeep(col("txt")))
      .localCheckpoint()
    val s2 = Urls.dedupByUrl(enriched.filter(col("url_keep")), "doc_id", "url")
      .filter(col("canonical_id") === col("doc_id"))
      .localCheckpoint()
    val s4 = s2.filter(col("pred_lang") === "en" && col("qual_ok"))
    val pairs = Dedup.nearDupPairs(s4.select(col("doc_id"), col("txt")),
      "doc_id", "txt", threshold = 0.8, bands = 32)
    val s5 = s4.join(pairs.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val sub = Dedup.exactSubstrDedup(s5.select(col("doc_id"), col("txt")),
        "doc_id", "txt", w = 8)
      .select(col("doc_id"), col("dup_windows"), col("removed_tokens"),
        when(col("kept_text") === "", lit(0))
          .otherwise(size(split(col("kept_text"), " ")))
          .cast("int").as("n_tokens"))
      .localCheckpoint()
    val s7 = Sampling.capPerKey(
        s5.select("doc_id", "url_host").join(sub, "doc_id"),
        "doc_id", "url_host", cap = 8)
      .localCheckpoint()
    val s8 = Sampling.budgetSelect(s7.select(col("doc_id"), col("n_tokens")),
      "doc_id", "n_tokens", budgetTokens = 5000L)
    // Final membership assembly, restructured in r19 (guide §2.4 — fewer
    // shuffles): the old shape LEFT-JOINED enriched against five
    // doc-keyed frames (four membership flags + the substr columns) —
    // five sort-merge joins, each with its own Exchange+Sort. Every
    // source frame carries at most ONE row per doc_id (s2 keeps only
    // canonical rows, s5/s7/s8 are row subsets of the unique-doc s4/s5
    // funnel, sub emits one row per doc), so a LEFT join is row-for-row
    // a tag-union + per-doc fold: union the five frames with a source
    // tag (sub's payload columns null-padded on the flag frames), ONE
    // map-side-combinable groupBy(doc_id), ONE join back to enriched.
    // max(__src = tag) reproduces join-hit-or-NULL→coalesce(false);
    // the when/max over sub's columns reproduces sub's LEFT-join payload
    // (at most one "sub" row per doc, so the fold is deterministic).
    val subPayload = sub.schema.fields.filter(_.name != "doc_id")
    def memberRow(dfm: DataFrame, tag: String) =
      dfm.select(col("doc_id") +:
        subPayload.map(f => lit(null).cast(f.dataType).as(f.name)) :+
        lit(tag).as("__src"): _*)
    val folded = memberRow(s2, "canon")
      .unionByName(memberRow(s5, "nd"))
      .unionByName(memberRow(s7, "cap"))
      .unionByName(memberRow(s8, "bud"))
      .unionByName(sub.withColumn("__src", lit("sub")))
      .groupBy("doc_id")
      .agg(
        max(col("__src") === "canon").as("__canon"),
        max(col("__src") === "nd").as("__nd"),
        max(col("__src") === "cap").as("__cap"),
        max(col("__src") === "bud").as("__bud"),
        first(when(col("__src") === "sub", col("dup_windows")),
          ignoreNulls = true).as("dup_windows"),
        first(when(col("__src") === "sub", col("removed_tokens")),
          ignoreNulls = true).as("removed_tokens"),
        first(when(col("__src") === "sub", col("n_tokens")),
          ignoreNulls = true).as("n_tokens"))
    enriched
      .select(col("doc_id"), col("url_keep"), col("pred_lang"),
        col("qual_ok"))
      .join(folded, Seq("doc_id"), "left")
      .select(col("doc_id"), col("url_keep"),
        (col("url_keep") && coalesce(col("__canon"), lit(false)))
          .as("canon_ok"),
        col("pred_lang"), col("qual_ok"),
        coalesce(col("__nd"), lit(false)).as("neardup_ok"),
        col("dup_windows"), col("removed_tokens"), col("n_tokens"),
        coalesce(col("__cap"), lit(false)).as("cap_ok"),
        coalesce(col("__bud"), lit(false)).as("budget_ok"),
        coalesce(col("__bud"), lit(false)).as("keep_final"))
  }

  /** Square-wave WAVs cycling the sample format by doc_id: 8-bit PCM,
    * 24-bit PCM, float32 — amplitudes chosen so rms/peak are exact in
    * double on both engines. */
  private val mmWavDepth = udf { (d: Long) =>
    val ch = 1 + (d % 2).toInt
    val fr = 800 + (d % 5).toInt * 80
    (d % 3) match {
      case 0 => Multimodal.encodeWavPcm(8000, ch, fr, (1 + d % 127).toInt, 8)
      case 1 => Multimodal.encodeWavPcm(8000, ch, fr,
        (1 + d % 100).toInt * 1000, 24)
      case _ => Multimodal.encodeWavFloat32(8000, ch, fr,
        (1 + d % 1024).toInt / 1024.0f)
    }
  }

  /** Real solid-fill rasters keyed by doc_id (png/gif/bmp — lossless, so
    * pixel means are exactly the planted color): fixtures for the
    * pixel-level resize row. */
  private val mmRaster = udf { (d: Long) =>
    val fmt = (d % 3) match { case 0 => "png"; case 1 => "gif"; case _ => "bmp" }
    Multimodal.encodeSolid(fmt, 8 + (d % 24).toInt, 8 + (d % 16).toInt,
      (((d * 3 + 17) % 256).toInt, ((d * 7 + 31) % 256).toInt,
        ((d * 13 + 101) % 256).toInt))
  }

  /** Real animated GIFs keyed by doc_id: 1 + doc_id % 5 solid-gray
    * frames ((doc_id·31 + f·47) mod 256) at 4 cs each. */
  private val mmClip = udf { (d: Long) =>
    Multimodal.encodeAnimatedGif(16, 10,
      (0 until (1 + (d % 5).toInt)).map(f => ((d * 31 + f * 47) % 256).toInt))
  }

  /** Container sniff as a column (format of the RESIZED bytes — must
    * match the source container, not just decode). */
  private val mmSniff = udf { (b: Array[Byte]) => Multimodal.sniffFormat(b) }

  /** Real PCM16 WAVs keyed by doc_id: 8 kHz, 1 + doc_id % 2 channels,
    * 800 + (doc_id % 5)·80 frames of a ±(1000 + (doc_id % 100)·10)
    * square wave — RMS == peak == amplitude exactly. */
  private val mmWav = udf { (d: Long) =>
    Multimodal.encodeWavPcm16(8000, 1 + (d % 2).toInt,
      800 + (d % 5).toInt * 80, 1000 + (d % 100).toInt * 10)
  }

  /** Deterministic minimal media payloads keyed by doc_id (PNG / JPEG /
    * GIF headers whose dimensions derive from the id) — used by the
    * td_multimodal header-decode oracle, which recomputes
    * the expected values arithmetically. */
  private val mmPayload = {
        def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
        def be32(v: Int) = Array((v >> 24).toByte, ((v >> 16) & 0xff).toByte,
          ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
        def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
        udf { (d: Long) =>
          val w = 16 + (d % 1024).toInt
          val h = 16 + (d % 768).toInt
          (d % 3) match {
            case 0 => // PNG: sig + IHDR(len 13) + bitdepth/color/... = 29 B
              Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
                0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte) ++
                be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++
                Array[Byte](8, 2, 0, 0, 0)
            case 1 => // JPEG: SOI + APP0 + SOF0(1 component) + EOI = 23 B
              Array(0xff.toByte, 0xd8.toByte,
                0xff.toByte, 0xe0.toByte) ++ be16(4) ++ Array[Byte](0, 0) ++
                Array(0xff.toByte, 0xc0.toByte) ++ be16(11) ++
                Array[Byte](8) ++ be16(h) ++ be16(w) ++
                Array[Byte](1, 1, 0x11, 0) ++ Array(0xff.toByte, 0xd9.toByte)
            case _ => // GIF89a logical screen = 13 B
              "GIF89a".getBytes ++ le16(w) ++ le16(h) ++ Array[Byte](0, 0, 0)
          }
        }
  }
}
