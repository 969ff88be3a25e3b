package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, Similarity, TextAnalysis}
import graft.operators.{AsOfJoin, ChunkedRead}
import graft.streaming.EventStream
import graft.write.{ChangeCapture, Modes, ParquetTarget}

/** Operator-level correctness tests on crafted micro-data (the DuckDB oracle
  * covers the full-table scenarios; these pin the edge semantics).
  */
class OperatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asof join picks latest right row <= left time, inclusive, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 12:00:00")),
      (2L, ts("2024-01-01 09:00:00"))).toDF("k", "t")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), "r1"),   // equal ts → included
      (1L, ts("2024-01-01 11:30:00"), "r2"),
      (3L, ts("2024-01-01 00:00:00"), "r3")).toDF("rk", "rt", "payload")
    val out = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt")
      .orderBy("k", "t").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "r1"), (1L, "r2"), (2L, null)))
  }

  test("asof join keeps NULL payload fields from the matched row intact") {
    import spark.implicits._
    // r2 (the matched row) has a NULL in `a` — the joined output must NOT
    // leak r1's `a` into it (payload must be row-atomic)
    val left = Seq((1L, ts("2024-01-01 12:00:00"))).toDF("k", "t")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Option("a1"), Option("b1")),
      (1L, ts("2024-01-01 11:00:00"), Option.empty[String], Option("b2")))
      .toDF("rk", "rt", "a", "b")
    val out = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("a") == null)
    assert(out(0).getAs[String]("b") == "b2")
  }

  test("ivf with k-means centroids keeps decent recall vs brute force") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5))
    val ivf = pairs(Similarity.ivfTopK(q, e, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 4, kmeansIters = 2))
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("decontamination flags docs by distinct shared n-grams only") {
    import spark.implicits._
    import graft.functions.Dedup
    // doc 1 contains the eval text verbatim (plus noise), doc 2 shares
    // a REPEATED trigram (distinct count 1 — must not inflate), doc 3
    // is clean
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("eval_id", "text")
    val corpus = Seq(
      (1L, "prefix words the quick brown fox jumps over the lazy dog suffix"),
      (2L, "quick brown fox and quick brown fox and quick brown fox"),
      (3L, "completely different content with nothing shared at all here"))
      .toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(corpus, evalSet, "doc_id", "text",
      "eval_id", "text", n = 3, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 shares all 7 eval trigrams; doc 2's distinct overlap is just
    // "quick brown fox" (1 < 3); doc 3 shares none
    assert(out.toSeq == Seq((1L, 100L, 7L)))
    // lowering the bar to 1 admits doc 2 with its DISTINCT count of 1
    val loose = Dedup.contaminationPairs(corpus, evalSet, "doc_id", "text",
      "eval_id", "text", n = 3, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(loose.toSeq == Seq((1L, 7L), (2L, 1L)))
  }

  test("decontamination high-DF rail bounds stop-phrase candidate blowup") {
    import spark.implicits._
    import graft.functions.Dedup
    // the stop phrase rides EVERY doc on both sides; each eval doc also
    // carries a unique marker phrase, and corpus doc i verbatim-contains
    // eval doc i%4's text (true contamination) plus noise
    val stop = "as a matter of fact"
    val evalSet = (0 until 4).map(i =>
      (100L + i, s"$stop unique marker phrase number $i here")).toDF("eval_id", "text")
    val corpus = (0 until 40).map { i =>
      val leaked = s"$stop unique marker phrase number ${i % 4} here"
      (i.toLong, s"prefix noise $i $leaked suffix noise")
    }.toDF("doc_id", "text")
    // without the rail the stop-phrase trigrams alone contribute
    // |corpus| x |eval| rows per shared gram; with it, candidates are
    // bounded by the true (doc, eval) gram overlaps of RARE grams only
    val unrailed = Dedup.contaminationCandidates(corpus, evalSet,
      "doc_id", "text", "eval_id", "text", n = 3, maxEvalDocFrac = 1.0).count()
    val railed = Dedup.contaminationCandidates(corpus, evalSet,
      "doc_id", "text", "eval_id", "text", n = 3, maxEvalDocFrac = 0.5).count()
    // 7 trigrams ("as a matter" … "marker phrase number") live in all 4
    // eval docs (DF 4 > cap 2) and all 40 corpus docs: 7 x 40 x 4 = 1120
    // candidate rows the rail must remove; the per-doc "phrase number {i}"
    // / "number {i} here" grams (DF 1) survive
    assert(unrailed - railed == 1120, s"unrailed=$unrailed railed=$railed")
    // the rail keeps every TRUE contamination pair flaggable: rare marker
    // grams still carry each corpus doc to its leaked eval doc
    val pairs = Dedup.contaminationPairs(corpus, evalSet, "doc_id", "text",
      "eval_id", "text", n = 3, minShared = 2, maxEvalDocFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0 until 40).map(i => (i.toLong, 100L + i % 4)).toSet)
  }

  test("c4 span dedup keeps first occurrence, handles overlap and short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A\nB\nC\nD"),      // spans [A,B,C],[B,C,D] — both first
      (2L, "A\nB\nC"),          // [A,B,C] duplicates doc 1 pos 0 → all removed
      (3L, "short\nonly"),      // < 3 lines → no spans, passes through
      (4L, "X\nX\nX\nX\nX"))    // within-doc: pos 0 first, pos 1/2 dup
      .toDF("doc_id", "text")
    val out = graft.functions.TextAnalysis
      .c4SpanDedup(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(out(1L) == (("A\nB\nC\nD", 2L, 0L, 0)))
    assert(out(2L) == (("", 1L, 1L, 3)))
    assert(out(3L) == (("short\nonly", 0L, 0L, 0)))
    // doc 4: dup spans at pos 1,2 cover line indices 1..4 → one line kept
    assert(out(4L) == (("X", 3L, 2L, 4)))
  }

  test("exact-substring dedup removes later window occurrences, token unit") {
    import spark.implicits._
    val docs = Seq(
      (1L, "p q r s t"),          // windows [pqrs],[qrst] — both first
      (2L, "a b p q r s t z"),    // both doc-1 windows recur → p..t removed
      (3L, "x y z"),              // < w tokens → no windows, passes through
      (4L, "k k k k k k"))        // within-doc: pos 0 first, pos 1/2 dup
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(out(1L) == (("p q r s t", 2L, 0L, 0)))
    // doc 2: dup windows at pos 2,3 cover token indices 2..6 → a b z kept
    assert(out(2L) == (("a b z", 5L, 2L, 5)))
    assert(out(3L) == (("x y z", 0L, 0L, 0)))
    // doc 4: dup windows at pos 1,2 cover indices 1..5 → one token kept
    assert(out(4L) == (("k", 3L, 2L, 5)))
  }

  test("exact-substring dedup keeps the lowest (doc, pos) across docs") {
    import spark.implicits._
    // the shared run sits at different positions; doc 5 has the LOWER id
    // but the higher position is irrelevant — first key is doc id
    val docs = Seq(
      (5L, "n1 n2 n3 c1 c2 c3 c4"),
      (9L, "c1 c2 c3 c4 m1"))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(5L) == "n1 n2 n3 c1 c2 c3 c4")
    assert(out(9L) == "m1")
  }

  test("imageNearDupPairs: banded hash join finds planted twins only") {
    import spark.implicits._
    import graft.functions.Multimodal
    val vert = (0 until 64).map(i => (7 - i / 8) * 30)
    val horiz = (0 until 64).map(i => (7 - i % 8) * 30)
    val rows = Seq(
      (1L, Multimodal.encodeGray8x8("png", vert)),
      (2L, Multimodal.encodeGray8x8("png", horiz)),
      (3L, Multimodal.encodeGray8x8("bmp", vert)),   // same raster, other container
      (4L, Array[Byte](9, 9, 9)))                    // undecodable → excluded
      .toDF("doc_id", "payload")
    val out = Multimodal.imageNearDupPairs(rows, "doc_id", "payload",
        maxHamming = 3, nBands = 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 3L, 0)))
    val plan = Multimodal.imageNearDupPairs(rows, "doc_id", "payload")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("videoNearDupPairs: aligned frame hashes, majority threshold") {
    import spark.implicits._
    import graft.functions.Multimodal
    val vert = (0 until 64).map(i => (7 - i / 8) * 30)
    val horiz = (0 until 64).map(i => (7 - i % 8) * 30)
    val rows = Seq(
      (1L, Multimodal.encodeAnimatedGifRasters(8, 8, Seq(vert, horiz, vert))),
      (2L, Multimodal.encodeAnimatedGifRasters(8, 8, Seq(vert, horiz, vert))),
      // same frames SHIFTED by one: aligned matches are 0/3 — an
      // unaligned matcher would report 2 or 3
      (3L, Multimodal.encodeAnimatedGifRasters(8, 8, Seq(horiz, vert, horiz))),
      // matches 1 and 2 on frames 0 and 2 only → 2/3 >= 0.5 passes
      (4L, Multimodal.encodeAnimatedGifRasters(8, 8, Seq(vert, vert, vert))))
      .toDF("doc_id", "payload")
    val out = Multimodal.videoNearDupPairs(rows, "doc_id", "payload",
        minMatchFrac = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 1 and 2 have IDENTICAL frame sequences → one full-match star edge
    // (1,2,3) and only rep 1 enters the pair join; 2's relation to 4
    // rides through its representative (connected components unchanged)
    assert(out.toSeq == Seq((1L, 2L, 3L), (1L, 4L, 2L)))
  }

  test("videoNearDupPairsOffset: offset vote recovers trimmed clips") {
    import spark.implicits._
    import graft.functions.Multimodal
    // rotated gradients: frame p hashes differently for each p mod 8
    def f(p: Int) = (0 until 64).map(i => ((7 - i / 8 + p) % 8) * 30)
    def g(p: Int) = (0 until 64).map(i => ((7 - i % 8 + p) % 8) * 30)
    val rows = Seq(
      (1L, Multimodal.encodeAnimatedGifRasters(8, 8, Seq(f(0), f(1), f(2), f(3)))),
      // first frame trimmed → every aligned index mismatches, but all 3
      // remaining frames vote offset -1
      (2L, Multimodal.encodeAnimatedGifRasters(8, 8, Seq(f(1), f(2), f(3)))),
      // unrelated axis → no frame matches at any offset
      (3L, Multimodal.encodeAnimatedGifRasters(8, 8, Seq(g(0), g(1), g(2)))))
      .toDF("doc_id", "payload")
    // the aligned matcher misses the trimmed copy entirely
    val aligned = Multimodal.videoNearDupPairs(rows, "doc_id", "payload")
      .collect()
    assert(aligned.isEmpty, aligned.mkString(","))
    val out = Multimodal.videoNearDupPairsOffset(rows, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq((1L, 2L, -1, 3L, 4L, 3L)))
  }

  test("near-dup identical groups cost O(N) output, not C(N,2)") {
    import spark.implicits._
    import graft.functions.Multimodal
    val vert = (0 until 64).map(i => (7 - i / 8) * 30)
    val horiz = (0 until 64).map(i => (7 - i % 8) * 30)
    val n = 40
    // N identical payloads + one far (Hamming 32) outlier
    val rows = ((1L to n.toLong).map(i =>
        (i, Multimodal.encodeGray8x8("png", vert))) :+
      (100L, Multimodal.encodeGray8x8("png", horiz)))
      .toDF("doc_id", "payload")
    val out = Multimodal.imageNearDupPairs(rows, "doc_id", "payload",
        maxHamming = 3, nBands = 4)
      .orderBy("id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // output: exactly N-1 star edges from the min-id representative —
    // the full-pair contract would have emitted C(40,2) = 780 rows
    assert(out.toSeq == (2L to n.toLong).map(i => (1L, i, 0)))
    // candidate bound: the banded join sees ONE row per distinct hash,
    // so candidate generation is independent of the group size
    val hashed = Multimodal.imageHash(rows, "payload")
      .filter(col("ahash").isNotNull)
      .select(col("doc_id").as("__id"), col("ahash").as("__hash"))
    val tagged = Dedup.collapseByKey(hashed, "__hash")
    assert(tagged.filter(col("__id") === col("__rep")).count() == 2)
    assert(tagged.filter(col("__id") =!= col("__rep")).count() == n - 1)
    // downstream keep/drop is unchanged: the star spans the clique
    val cc = Dedup.connectedComponents(
      Multimodal.imageNearDupPairs(rows, "doc_id", "payload"),
      rows.select("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to n.toLong).forall(cc(_) == 1L) && cc(100L) == 100L)
  }

  test("near-dup null texts star-collapse instead of vanishing; degenerate vectors are excluded") {
    import spark.implicits._
    // null texts are one identical group (one collapse-window partition) —
    // an equi-join would silently drop them from the pair universe
    val docs = Seq((1L, null: String), (2L, null: String),
      (3L, null: String), (9L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val out = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set((1L, 2L, 1.0), (1L, 3L, 1.0)))
    // zero/null vectors: cosine is undefined — they neither pair nor
    // collapse (star-collapsing them would fabricate 1.0 similarities
    // between unrelated failed-to-embed docs)
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, null: Seq[Float]),
      (4L, Seq(1.0f, 0.0f)), (5L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embedNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((4L, 5L, 1.0)))
  }

  test("embed near-dup collapses bit-identical vectors to star edges") {
    import spark.implicits._
    val n = 25
    val v = Seq(1.0f, 0.5f, -0.25f, 0.125f)
    val w = Seq(-1.0f, 0.5f, 0.25f, 0.125f)  // cosine(v,w) well below 0.9
    val rows = ((1L to n.toLong).map(i => (i, v)) :+ (99L, w))
      .toDF("vec_id", "embedding")
    val out = graft.functions.Dedup.embedNearDupPairs(rows,
        "vec_id", "embedding", threshold = 0.9)
      .orderBy("id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // N identical vectors → N-1 star edges at exactly 1.0, not C(25,2)
    assert(out.toSeq == (2L to n.toLong).map(i => (1L, i, 1.0)))
  }

  test("minhash near-dup collapses identical texts to star edges") {
    import spark.implicits._
    val n = 30
    // N identical docs, one true near-dup of them, one unrelated doc
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val docs = ((1L to n.toLong).map(i => (i, base)) ++ Seq(
      (50L, base + " w13"),   // high-Jaccard neighbor of the group
      (99L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val star = (2L to n.toLong).map(i => (1L, i, 1.0)).toSet
    // the group emits N-1 star edges; its NEIGHBOR pairs only with the
    // representative (one verified pair, not one per member)
    val repPair = out -- star
    assert(out.size == n - 1 + 1, s"got ${out.size} rows")
    assert(repPair.map(p => (p._1, p._2)) == Set((1L, 50L)))
    assert(repPair.head._3 > 0.7)
  }

  test("paragraph near-dup: cross-doc duplicate paragraphs pair; empty " +
      "paragraphs drop but indices keep raw split offsets") {
    import spark.implicits._
    val boiler = "common header one two three four five six seven"
    val uniq = (d: Long) => s"unique$d a$d b$d c$d d$d e$d f$d g$d"
    // doc 1: boiler, empty (doubled delimiter), own para
    // doc 2: own para, boiler           doc 3: own para only
    val docs = Seq(
      (1L, s"$boiler\n\n${uniq(1)}"),
      (2L, s"${uniq(2)}\n$boiler"),
      (3L, uniq(3))).toDF("doc_id", "text")
    val out = Dedup.paraNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSet
    // the boilerplate paragraph collapses to (doc1, para0); doc2's copy
    // sits at raw index 1 — the dropped empty paragraph in doc 1 does
    // NOT shift doc 1's own para away from index 2
    assert(out == Set((1L, 0, 2L, 1, 1.0)), out.toString)
    // the surviving unit universe keeps raw offsets: rerun with doc 1's
    // own para duplicated into doc 3 to see index 2 appear
    val docs2 = Seq(
      (1L, s"$boiler\n\n${uniq(1)}"),
      (3L, s"${uniq(3)}\n${uniq(1)}")).toDF("doc_id", "text")
    val out2 = Dedup.paraNearDupPairs(docs2, "doc_id", "text", 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(out2 == Set((1L, 2, 3L, 1)), out2.toString)
    // range guard: a negative doc id must fail loudly, not wrap into
    // another document's packed id space
    val bad = Seq((-1L, "a b c d")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.paraNearDupPairs(bad, "doc_id", "text", 0.8).collect()
    }
    // pin the GUARD's raise, not just any exception from collect()
    assert(ex.getMessage.contains("paraNearDupPairs"), ex.getMessage)
    // NULL ids raise too — the long cast nulls them, and a NULL packed
    // id would otherwise make the collapse silently drop every
    // paragraph and report an empty pair list
    val nullId = Seq((Option.empty[Long], "a b c d"),
      (Some(1L), "a b c d")).toDF("doc_id", "text")
    val ex2 = intercept[Exception] {
      Dedup.paraNearDupPairs(nullId, "doc_id", "text", 0.8).collect()
    }
    assert(ex2.getMessage.contains("paraNearDupPairs"), ex2.getMessage)
    // the delimiter is a LITERAL, not a regex: '|' as a separator must
    // split on pipes, not on the empty match at every position
    val piped = Seq((1L, s"$boiler|${uniq(1)}"),
      (2L, s"${uniq(2)}|$boiler")).toDF("doc_id", "text")
    val out3 = Dedup.paraNearDupPairs(piped, "doc_id", "text", 0.8,
        paraDelim = "|")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(out3 == Set((1L, 0, 2L, 1)), out3.toString)
  }

  test("dedupAgainstHistory: exact anti-join result, bloom-bounded verify") {
    import spark.implicits._
    val history = Seq("seen one", "seen two").toDF("text")
    val batch = Seq(
      (1L, "seen one"),   // true dup → dropped
      (2L, "fresh a"),
      (3L, "seen two"),   // true dup → dropped
      (4L, "fresh b"),
      (5L, "seen one"))   // dup text repeated in batch → dropped too
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainstHistory(batch, history, "doc_id", "text",
        expectedItems = 100L, fpp = 0.01)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false,
      4L -> true, 5L -> false))
  }

  test("dedupAgainstHistory: history side joins only via broadcast") {
    import spark.implicits._
    val history = (1L to 200L).map(i => s"hist $i").toDF("text")
    val batch = (1L to 50L).map(i =>
      (i, if (i % 10 == 0) s"hist $i" else s"new $i")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstHistory(batch, history, "doc_id", "text",
      expectedItems = 1000L, fpp = 0.01)
    val plan = out.queryExecution.executedPlan.toString
    // both verify joins must build on the broadcast (small) side: no
    // sort-merge or shuffled-hash join may touch the history scan
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    out.collect()
  }

  test("semDedup drops higher-id in-cluster near-dups, keeps the rest") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.7, 0.7)),    // cos 0.707 to both axes — no dup partner
      (11L, Seq(2.0, 0.0)),   // same direction as 1 → cosine 1 → drops
      (12L, Seq(0.0, 3.0)))   // same direction as 2 → drops
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "vec_id", "embedding",
        eps = 0.99, nlist = 2, kmeansIters = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> true,
      11L -> false, 12L -> false))
  }

  test("semDedup's pairwise work is cell-bounded: equi-join, no cartesian") {
    import spark.implicits._
    val vecs = (1L to 40L).map(i =>
      (i, Seq(math.cos(i * 0.1), math.sin(i * 0.1)))).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "vec_id", "embedding",
      eps = 0.999, nlist = 4, kmeansIters = 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the cell pairs are verified in one run pass keyed on the cell: no
    // self-join and no join back. The one nested-loop join attaches the
    // one-row centroid broadcast
    assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .forall(j => !plan.contains(j)), plan)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1, plan)
    out.collect() // and it executes
  }

  test("pq ADC scan + exact refine: planted copy ranks 1, decent recall") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val planted = q.select((col("vec_id") + 10000).as("vec_id"),
      col("embedding"))
    val corpus = e.unionByName(planted)
    val pq = Similarity.pqTopK(q, corpus, "vec_id", "embedding", 5,
      m = 8, ksub = 32, kmeansIters = 3, refine = 16)
    // an identical vector encodes to the query's own code, maxes the ADC
    // score for that code, and wins the exact refine at cosine 1.0
    val top1 = pq.filter(col("rank") === 1)
      .select("query_id", "neighbor_id", "cosine").collect()
    assert(top1.length == 10)
    top1.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 10000, r)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9, r)
    }
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairSet(Similarity.bruteForceTopK(q, corpus,
      "vec_id", "embedding", 5))
    val recall = (bf intersect pairSet(pq)).size.toDouble / bf.size
    assert(recall >= 0.7, s"recall $recall too low")
  }

  test("ivf-pq: planted copy ranks 1, ADC scan bounded by probed lists") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val planted = q.select((col("vec_id") + 10000).as("vec_id"),
      col("embedding"))
    val corpus = e.unionByName(planted)
    val parts = Similarity.ivfpqParts(q, corpus, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 3, m = 8, ksub = 16, sampleN = 1024,
      kmeansIters = 2, refine = 16)
    // identical vector => same coarse cell (shared argmax rule) => probed
    // first by its own query; residual code survives the ADC cut; exact
    // refine ranks it 1 at cosine 1.0
    val top1 = parts.topK.filter(col("rank") === 1)
      .select("query_id", "neighbor_id", "cosine").collect()
    assert(top1.length == 10)
    top1.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 10000, r)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9, r)
    }
    // SCAN BOUND: the ADC candidate frame carries exactly the probed
    // posting lists (minus query-self rows) — the pruning that makes
    // IVF-PQ the 100 TB shape, vs pqTopK's exhaustive query×corpus scan
    val cellSizes = parts.coded.groupBy("__cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val codedCells = parts.coded.select("neighbor_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probePairs = parts.probes.select("query_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val expected = probePairs.map { case (qid, c) =>
      cellSizes.getOrElse(c, 0L) -
        (if (codedCells.get(qid).contains(c)) 1L else 0L)
    }.sum
    assert(parts.adc.count() == expected,
      s"adc rows ${parts.adc.count()} != probed-list bound $expected")
    assert(expected < q.count() * (corpus.count() - 1),
      "ADC scan did not prune below the exhaustive pair count")
    // the scan is an equi-join on the probed cell (hash, never nested-loop)
    val plan = parts.adc.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // recall floor vs brute force, same gate as the rest of the family
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairSet(Similarity.bruteForceTopK(q, corpus,
      "vec_id", "embedding", 5))
    val recall = (bf intersect pairSet(parts.topK)).size.toDouble / bf.size
    assert(recall >= 0.7, s"recall $recall too low")
  }

  test("exact checksum aggregator wraps like uint64 addition") {
    import spark.implicits._
    import graft.functions.expressions.ExactChecksum
    // two near-max values force a 64-bit wrap; compare against BigInt mod 2^64
    val vals = Seq(Long.MaxValue - 3, Long.MaxValue - 5, 42L)
    val expected = (vals.map(BigInt(_)).sum.mod(BigInt(2).pow(64))).toString
    val out = vals.toDF("v")
      .agg(ExactChecksum.asUnsigned(
        org.apache.spark.sql.functions.udaf(ExactChecksum.wrapSum).apply($"v")).as("ck"))
      .head.getDecimal(0).toBigInteger.toString
    assert(out == expected)
    // per-type value checksums: bool=len(true/false), double truncates
    val r = Seq((true, -2.7, "ab cd"))
      .toDF("b", "x", "s")
      .select(
        ExactChecksum.valueChecksum($"b", org.apache.spark.sql.types.BooleanType),
        ExactChecksum.valueChecksum($"x", org.apache.spark.sql.types.DoubleType),
        ExactChecksum.valueChecksum($"s", org.apache.spark.sql.types.StringType))
      .head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 5L)
    // a NULL boolean contributes NOTHING to the sum (not the false=5
    // branch) — nulls must propagate so wrapSum skips them
    val nullBool = Seq((Some(true), 1), (None: Option[Boolean], 2))
      .toDF("b", "i")
      .select(ExactChecksum.valueChecksum($"b",
        org.apache.spark.sql.types.BooleanType).as("c"))
      .collect().map(row => if (row.isNullAt(0)) -1L else row.getLong(0))
    assert(nullBool.toSeq == Seq(4L, -1L))
    // string checksums are UTF-8 BYTE lengths (Go len(), stream_processor
    // .go:771): 2-byte é must count as 2, not 1
    val nb = Seq("héllo").toDF("s")
      .select(ExactChecksum.valueChecksum($"s", org.apache.spark.sql.types.StringType))
      .head.getLong(0)
    assert(nb == 6L, s"expected UTF-8 byte length 6, got $nb")
  }

  test("chunked read covers every row exactly once") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("k")
    val chunks = ChunkedRead.ranges(df, "k", 7)
    assert(chunks.map(_.count()).sum == 1000L)
    assert(ChunkedRead.unionAll(df, "k", 7).distinct.count() == 1000L)
  }

  test("chunked read handles negative fractional keys") {
    import spark.implicits._
    val df = Seq(-2.5, -2.1, -0.5, 0.0, 3.7).toDF("k")
    assert(ChunkedRead.unionAll(df, "k", 3).count() == 5)
  }

  test("empty-stream guard aborts destructive loads unless allowed") {
    import spark.implicits._
    val empty = Seq.empty[(Int, String)].toDF("id", "v")
    intercept[IllegalStateException] { Modes.guardEmpty(empty) }
    assert(Modes.guardEmpty(empty, allowEmpty = true).count() == 0)
    assert(Modes.guardEmpty(Seq((1, "a")).toDF("id", "v")).count() == 1)
  }

  test("replication streams honor per-stream select/where/transforms") {
    val yaml =
      """defaults:
        |  mode: full-refresh
        |streams:
        |  nation:
        |    select: [n_nationkey, n_name]
        |    where: "n_nationkey < 10"
        |    transforms:
        |      n_name: "lower(n_name)"
        |""".stripMargin
    val compiled = graft.repl.Replication.parse(yaml, Seq("nation"))
    val dir = java.nio.file.Files.createTempDirectory("graft_repl").toString
    val out = graft.repl.Replication.run(spark, "/root/testdata/sf0.001",
      compiled, dir)
    assert(out.head._3 == 10)
    val t = spark.read.parquet(s"$dir/nation")
    assert(t.columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(t.collect().forall(r => r.getString(1) == r.getString(1).toLowerCase))
  }

  test("replication streams coerce declared columns") {
    val yaml =
      """streams:
        |  nation:
        |    mode: full-refresh
        |    columns:
        |      n_nationkey: decimal(12,3)
        |""".stripMargin
    val compiled = graft.repl.Replication.parse(yaml, Seq("nation"))
    assert(compiled.streams.head.columns == Seq("n_nationkey" -> "decimal(12,3)"))
    val dir = java.nio.file.Files.createTempDirectory("graft_repl_cols").toString
    graft.repl.Replication.run(spark, "/root/testdata/sf0.001", compiled, dir)
    assert(spark.read.parquet(s"$dir/nation").schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 3))
  }

  test("upsertEvolve adjustTypes widens a changed column on both sides") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_adjust").toString
    val t = ParquetTarget(spark, s"$dir/t")
    Modes.fullRefresh(t, Seq((1, 10), (2, 20)).toDF("id", "v"))  // v: int
    // source's v became long and gained a column
    val src = Seq((2L, 99L, "x"), (3L, 30L, "y")).toDF("id", "v", "tag")
      .select(org.apache.spark.sql.functions.col("id").cast("int").as("id"),
        org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("tag"))
    Modes.upsertEvolve(t, src, Seq("id"), adjustTypes = true)
    val out = t.read
    assert(out.schema("v").dataType == org.apache.spark.sql.types.LongType)
    val rows = out.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq((1, 10L), (2, 99L), (3, 30L)))
    // widening rules
    import org.apache.spark.sql.types._
    assert(Modes.widenType(IntegerType, DoubleType) == DoubleType)
    assert(Modes.widenType(DecimalType(10, 2), DecimalType(6, 4)) ==
      DecimalType(12, 4))
    assert(Modes.widenType(DateType, TimestampType) == TimestampType)
    assert(Modes.widenType(BooleanType, IntegerType) == StringType)
  }

  test("upsert keeps unmatched target rows and overwrites matched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_test").toString
    val t = ParquetTarget(spark, s"$dir/t")
    Modes.fullRefresh(t, Seq((1, "old"), (2, "keep")).toDF("id", "v"))
    Modes.upsert(t, Seq((1, "new"), (3, "ins")).toDF("id", "v"), Seq("id"))
    val out = t.read.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(out == Seq((1, "new"), (2, "keep"), (3, "ins")))
  }

  test("cdc apply: latest-per-pk wins; D deletes; I inserts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_test").toString
    val t = ParquetTarget(spark, s"$dir/t")
    Modes.fullRefresh(t, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val cdc = Seq(
      (1, "decoy", "U", 1L), (1, "final", "U", 2L),
      (2, "b", "D", 1L),
      (9, "new", "I", 1L))
      .toDF("id", "v", "_sling_synced_op", "_sling_cdc_seq")
    ChangeCapture(t, cdc, Seq("id"))
    val out = t.read.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(out == Seq((1, "final"), (9, "new")))
  }

  test("cdc applySoft is re-runnable and keeps earlier soft-delete flags") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_test").toString
    val t = ParquetTarget(spark, s"$dir/t")
    Modes.fullRefresh(t, Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    def cdcFor(id: Int, op: String) =
      Seq((id, "x", op, 1L)).toDF("id", "v", "_sling_synced_op", "_sling_cdc_seq")
    ChangeCapture.applySoft(t, cdcFor(2, "D"), Seq("id"))
    // second batch deletes a DIFFERENT row: row 2's flag must survive
    ChangeCapture.applySoft(t, cdcFor(3, "D"), Seq("id"))
    val flags = t.read.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getAs[Boolean]("_sling_deleted"))).toSeq
    assert(flags == Seq((1, false), (2, true), (3, true)))
  }

  test("backfill keeps target rows whose update key is NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("graft_test").toString
    val t = ParquetTarget(spark, s"$dir/t")
    val rows = Seq((1, Some(10)), (2, None), (3, Some(50))).toDF("id", "k")
    Modes.fullRefresh(t, rows)
    // backfill range [40, 60]: row 3 replaced from source, rows 1 AND the
    // null-key row 2 must survive (a bare !inRange filter drops NULLs)
    Modes.backfill(t, rows, "k", lit(40), lit(60))
    assert(t.read.count() == 3)
  }

  test("near-dup pairs finds crafted near-duplicates and skips distinct docs") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("chunked reads stay complete with NULL keys, empty inputs, odd buckets") {
    import spark.implicits._
    val df = Seq((Some(1), "a"), (None: Option[Int], "b"), (Some(50), "c"))
      .toDF("k", "v")
    // null-key row must land in exactly one range chunk
    assert(ChunkedRead.unionAll(df, "k", 4).count() == 3)
    // empty input: no NPE, zero rows
    assert(ChunkedRead.ranges(df.filter(lit(false)), "k", 4)
      .map(_.count()).sum == 0)
    // byExpr: null/out-of-range buckets fall into chunk 0
    val byE = ChunkedRead.byExpr(df, "k % 2", 2)
    assert(byE.map(_.count()).sum == 3)
  }

  test("as-of join ignores right rows with NULL timestamps") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:03"))).toDF("k", "t")
    val right = Seq(
      (1L, null.asInstanceOf[java.sql.Timestamp], 9.0),
      (1L, ts("2024-01-01 10:00:10"), 5.0)).toDF("k", "rt", "v")
    val out = AsOfJoin.leftAsOf(left, right, "k", "k", "t", "rt").collect()
    // left time 3 precedes every real right time: no match, not the NULL row
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("v")))
  }

  test("scoped delete_missing never resurrects out-of-scope soft flags") {
    import spark.implicits._
    val dir = "/tmp/graft-test/scoped_dm"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val t = ParquetTarget(spark, s"$dir/t")
    val all = (1 to 10).map(i => (i, if (i <= 5) 1994 else 1995)).toDF("id", "yr")
    Modes.fullRefresh(t, all)
    // run 1: scope = 1994; ids 1-3 missing there -> flagged
    Modes.deleteMissingScoped(t, all.filter($"id" > 3), Seq("id"),
      None, Some("yr = 1994"), soft = true)
    val r1 = t.read.filter("_sling_deleted").select("id").as[Int].collect().sorted
    assert(r1.toSeq == Seq(1, 2, 3))
    // run 2: scope = 1995; id 10 missing there. The 1994 flags are out of
    // scope and MUST survive untouched
    Modes.deleteMissingScoped(t, all.filter($"id" < 10), Seq("id"),
      None, Some("yr = 1995"), soft = true)
    val r2 = t.read.filter("_sling_deleted").select("id").as[Int].collect().sorted
    assert(r2.toSeq == Seq(1, 2, 3, 10))
    // a flagged in-scope row that reappears in the source is cleared
    Modes.deleteMissingScoped(t, all, Seq("id"), None, Some("yr = 1995"), soft = true)
    val r3 = t.read.filter("_sling_deleted").select("id").as[Int].collect().sorted
    assert(r3.toSeq == Seq(1, 2, 3))
  }

  test("ngram Jaccard FP boundary: integral threshold*size keeps the pair") {
    import spark.implicits._
    // J(A,B) exactly 0.07 with |A|=100: 0.07*100 = 7.000...001 in doubles;
    // a naive ceil would demand |B| >= 8 and drop the qualifying pair.
    // |B| = 7 trigrams, all shared; |A| = 100 trigrams including those 7.
    val wordsB = (1 to 9).map(i => s"w$i") // 9 words -> 7 trigrams
    val wordsA = wordsB ++ (1 to 93).map(i => s"za$i")
    val docs = Seq((1L, wordsA.mkString(" ")), (2L, wordsB.mkString(" ")))
      .toDF("doc_id", "text")
    val szs = docs.select(size(Dedup.shingleCol(col("text"), 3))).as[Int].collect()
    assert(szs.toSeq == Seq(100, 7)) // preconditions for the 0.07 boundary
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.07)
      .collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 0.07)
  }

  test("ngram Jaccard join is exact: finds every pair a brute-force scan finds") {
    import spark.implicits._
    // base doc + variants mutated at increasing depth: Jaccard spans both
    // sides of the threshold, so the prefix filter's frontier is exercised
    val base = (1 to 30).map(i => s"tok$i")
    val docs = ((1L to 10L).map { d =>
      val words = base.zipWithIndex.map { case (w, i) =>
        if (i % 10 < d - 1) s"mut${d}_$i" else w }
      (d, words.mkString(" "))
    } :+ (99L, (100 to 130).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force over the same shingle definition
    val sets = docs.select(col("doc_id"),
        Dedup.shingleCol(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= 0.3
    } yield (a, b, j)).toSet
    assert(want.nonEmpty, "test corpus produced no similar pairs; lower the threshold")
    assert(got == want)
  }

  test("simhash of identical texts is identical, near texts are close") {
    import spark.implicits._
    val a = (1 to 60).map(i => s"tok$i").mkString(" ")
    val b = (1 to 60).map(i => if (i == 60) "x" else s"tok$i").mkString(" ")
    val out = Dedup.simhash(Seq((1L, a), (2L, a), (3L, b)).toDF("id", "t"), "id", "t")
      .orderBy("id").collect().map(_.getLong(1))
    assert(out(0) == out(1))
    assert(java.lang.Long.bitCount(out(0) ^ out(2)) <= 12)
  }

  test("ann recall@5 vs brute force on real embeddings") {
    val e = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(q, e, "vec_id", "embedding", 5, bits = 4, tables = 16)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall") // 16 tables x 4-bit buckets
  }

  test("ivf recall@5 vs brute force on real embeddings") {
    val e = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", 5, nlist = 16, nprobe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall") // probing 4/16 cells
  }

  test("langId prefers the language with more marker hits") {
    import spark.implicits._
    val out = Seq(
      ("the cat and the dog is a pet", "en"),
      ("le chat et la mer et les gens", "fr"),
      ("der hund und die katze und ein haus", "de"))
      .toDF("text", "expected")
      .withColumn("pred", TextAnalysis.langId(col("text")))
      .collect()
    out.foreach(r => assert(r.getString(2) == r.getString(1), r.toString))
  }

  test("hooks: query/check/log with on_failure policies") {
    import graft.repl.Hooks
    import graft.repl.Hooks.Hook
    graft.sources.Tables(spark, "/root/testdata/sf0.001", "region")
      .createOrReplaceTempView("hooks_region")
    val results = Hooks.run(spark, Seq(
      Hook("query", "SELECT count(*) FROM hooks_region"),
      Hook("check", "(SELECT count(*) FROM hooks_region) = 5"),
      Hook("check", "(SELECT count(*) FROM hooks_region) = 999", onFailure = "warn"),
      Hook("log", "loaded region")))
    assert(results.map(_.ok) == Seq(true, true, false, true))
    intercept[IllegalStateException] {
      Hooks.run(spark, Seq(Hook("check", "1 = 2", onFailure = "abort")))
    }
  }

  test("pipeline file runs ordered steps with policies") {
    graft.sources.Tables(spark, "/root/testdata/sf0.001", "nation")
      .createOrReplaceTempView("pipe_nation")
    val yaml =
      """steps:
        |  - type: log
        |    message: starting
        |  - type: query
        |    sql: SELECT count(*) FROM pipe_nation
        |  - type: check
        |    expression: (SELECT count(*) FROM pipe_nation) = 25
        |  - type: check
        |    expression: 1 = 2
        |    on_failure: warn
        |""".stripMargin
    val results = graft.repl.Pipeline.run(spark, yaml)
    assert(results.map(_.ok) == Seq(true, true, true, false))
  }

  test("pipeline: write/list/loop-copy keeps exact destinations (id=82)") {
    val base = "/tmp/graft-test/p82_unit"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val yaml =
      s"""steps:
         |  - type: write
         |    to: local/$base/a.csv
         |    content: "id\\n1\\n"
         |  - type: copy
         |    from: local/$base/a.csv
         |    to: local/$base/remote/a.csv
         |  - type: list
         |    id: found
         |    location: local/$base/remote/*.csv
         |    only: files
         |  - type: group
         |    loop: state.found.result
         |    steps:
         |      - type: copy
         |        from: "{loop.value.location}"
         |        to: local/$base/out/{loop.value.name}
         |        single_file: true
         |  - type: list
         |    id: verify
         |    location: local/$base/out/
         |    only: files
         |  - type: log
         |    message: "Output files: {state.verify.result}"
         |""".stripMargin
    val results = graft.repl.Pipeline.run(spark, yaml)
    assert(results.forall(_.ok), results.filterNot(_.ok).map(_.detail).mkString)
    val out = results.last.detail
    assert(out.contains(s"$base/out/a.csv"), out)
    // the duplicated-filename bug: out/a.csv must be a FILE, not a dir
    assert(fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$base/out/a.csv")).isFile)
  }

  test("identity clause renders per dialect, only for flagged columns") {
    import graft.model.{ColumnModifiers, NativeTypes}
    val schema = ColumnModifiers.parseAll(Seq(
      "id" -> "integer primary_key identity(100,5)",
      "name" -> "string(100) not_null",
      "n" -> "integer"))
    val derby = NativeTypes.createTable("derby", "t", schema)
    assert(derby.contains(
      "id integer generated by default as identity (start with 100, increment by 5)"))
    assert(!derby.contains("name varchar(100) generated"))
    assert(derby.split("identity").length == 2, s"one identity clause only: $derby")
    val mssql = NativeTypes.createTable("sqlserver", "t", schema)
    assert(mssql.contains("id integer identity(100,5)"))
    val pg = NativeTypes.createTable("postgres", "t", schema)
    assert(pg.contains("generated by default as identity (start with 100 increment by 5)"))
  }

  test("schema migration carries identity/pk to the target (id=189)") {
    val srcUrl = "jdbc:derby:memory:graft_sm_unit;create=true"
    val tgtUrl = "jdbc:derby:memory:graft_sm_unit_t;create=true"
    graft.sources.Jdbc.execute(srcUrl,
      """create table SMU_SRC (
        | id integer generated by default as identity (start with 7, increment by 3) not null,
        | v varchar(20), n integer, primary key (id))""".stripMargin)
    graft.sources.Jdbc.execute(srcUrl,
      "insert into SMU_SRC (v, n) values ('a', 1), ('b', 2)")
    val r = graft.repl.SchemaMigration.migrate(spark, srcUrl, "SMU_SRC",
      tgtUrl, "SMU_TGT")
    assert(r.identityCols == Seq("ID"), r.identityCols)
    assert(r.nonIdentityCols.size == 2)
    assert(r.rowsCopied == 2L)
    assert(r.ddl.contains("start with 7, increment by 3"), r.ddl)
    // target: exactly one identity column, rows present, next generated id
    // respects the seed chain
    val conn = java.sql.DriverManager.getConnection(tgtUrl)
    try {
      val st = conn.createStatement()
      val rs = st.executeQuery(
        """select count(*) from SYS.SYSCOLUMNS c
          | join SYS.SYSTABLES t on c.REFERENCEID = t.TABLEID
          | where t.TABLENAME = 'SMU_TGT'
          |   and c.AUTOINCREMENTSTART is not null""".stripMargin)
      rs.next(); assert(rs.getInt(1) == 1); rs.close()
      val rc = st.executeQuery("select count(*) from SMU_TGT")
      rc.next(); assert(rc.getInt(1) == 2); rc.close()
      st.close()
    } finally conn.close()
  }

  test("typing rules cap strings and int-ify booleans") {
    import spark.implicits._
    import graft.transform.Typing
    val df = Seq(("abcdefghij", true)).toDF("s", "b")
    val out = Typing(df, Typing.Rules(stringMaxLength = Some(4), booleanAsInt = true)).head
    assert(out.getString(0) == "abcd")
    assert(out.getInt(1) == 1)
  }

  test("sessionize splits on gaps > threshold only") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 10:10:00")),  // same session
      (3L, 10L, ts("2024-01-01 11:00:00")),  // 50 min gap → new session
      (4L, 11L, ts("2024-01-01 10:00:00"))). // other user
      toDF("event_id", "user_id", "ts")
    val out = EventStream.sessionize(ev, gapMinutes = 30)
      .orderBy("event_id").collect().map(_.getAs[Long]("session_num")).toSeq
    assert(out == Seq(1L, 1L, 2L, 1L))
  }

  test("connected components: chain, clique, and singletons label to min id") {
    import spark.implicits._
    import graft.functions.Dedup
    // 1-2-3 chain (diameter > 1 forces a second propagation round),
    // 10-11 pair, 20 isolated
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val got = Dedup.connectedComponents(edges, ids, "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L)))
  }

  test("gopher repetition fractions count occurrences, not distinct grams") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    // "a b a b a" → bigrams: [a b, b a, a b, b a] → top frac 2/4;
    // trigrams: [a b a, b a b, a b a] → dup occurrences 2/3
    val df = Seq((1L, "a b a b a"), (2L, "x y")).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
      TextAnalysis.topNgramFraction(col("text"), 2).as("top2"),
      TextAnalysis.dupNgramFraction(col("text"), 3).as("dup3"))
      .orderBy("doc_id").collect()
    assert(r(0).getDouble(1) == 0.5 && math.abs(r(0).getDouble(2) - 2.0 / 3) < 1e-12)
    assert(r(1).getDouble(1) == 1.0 && r(1).getDouble(2) == 0.0) // single bigram; no trigram
  }

  test("pii redaction replaces emails, phones, ssns, and ipv4s with placeholders") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    val df = Seq("mail jo.doe+x@test.org call (415) 555-2671 ssn 078-05-1120 via 192.168.0.1 ok")
      .toDF("text")
    val out = df.select(TextAnalysis.piiRedact(col("text"))).head.getString(0)
    assert(out == "mail <EMAIL> call <PHONE> ssn <SSN> via <IP> ok")
    // test-only planted form still redacts when passed as an override
    val planted = Seq("or 555-0199 here").toDF("text")
    val outPlanted = planted.select(TextAnalysis.piiRedact(col("text"),
      Seq(TextAnalysis.PiiPattern("phone", TextAnalysis.TestPhoneRe, "<PHONE>"))))
      .head.getString(0)
    assert(outPlanted == "or <PHONE> here")
  }

  test("general phone pattern: true/false positive table") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    // (input, should-match) — the pattern must catch real phone forms and
    // leave dates, part numbers, IPs, and 7-digit local forms alone
    val cases = Seq(
      ("(415) 555-2671", true),       // NANP, parenthesized area code
      ("415-555-2671", true),         // NANP dashed
      ("415.555.2671", true),         // NANP dotted
      ("415 555 2671", true),         // NANP spaced
      ("+1 415-555-2671", true),      // +1 country prefix
      ("1-415-555-2671", true),       // bare 1 prefix
      ("+447911123456", true),        // E.164 international
      ("2026-08-14", false),          // ISO date
      ("14-08-2026", false),          // little-endian date
      ("555-0199", false),            // 7-digit local: excluded by design
      ("192.168.0.1", false),         // IPv4
      ("123-45-6789", false),         // SSN shape (3-2-4, not 3-3-4)
      ("order 1234-5678 shipped", false), // part/order number
      ("x 12345678901234567 y", false))   // long digit run, no '+'
    val df = cases.toDF("text", "expected")
    val got = df.select(col("text"), col("expected"),
      (TextAnalysis.piiCount(col("text"), TextAnalysis.PhoneRe) > 0).as("matched"))
      .collect()
    got.foreach { r =>
      assert(r.getBoolean(2) == r.getBoolean(1),
        s"phone pattern on '${r.getString(0)}': got ${r.getBoolean(2)}, want ${r.getBoolean(1)}")
    }
  }

  test("gopher aggregation plan matches the expression form") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    val df = Seq((1L, "a b a b a"), (2L, "x y"), (3L, "q"),
      (4L, "r r r r r r")).toDF("doc_id", "text")
    val expr = df.select(col("doc_id"),
      TextAnalysis.topNgramFraction(col("text"), 2).as("top2"),
      TextAnalysis.dupNgramFraction(col("text"), 3).as("dup3"))
      .orderBy("doc_id").collect()
    val agg = TextAnalysis.gopherMetrics(df, "doc_id", "text", 2, 3)
      .orderBy("doc_id").collect()
    assert(expr.length == agg.length)
    expr.zip(agg).foreach { case (e, a) =>
      assert(e.getLong(0) == a.getLong(0))
      assert(e.getDouble(1) == a.getDouble(1), s"top frac doc ${e.getLong(0)}")
      assert(e.getDouble(2) == a.getDouble(2), s"dup frac doc ${e.getLong(0)}")
    }
  }

  test("gopher aggregation plan is linear on long documents") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    // 50k-token documents with heavy repetition — the regime where the
    // expression form's per-row O(distinct·total) is intractable. The
    // assertion is correctness at this length plus a generous wall bound;
    // growth-rate checks are too noisy for CI, the bound alone already
    // rules out quadratic behavior (quadratic would be minutes).
    def doc(seed: Int, n: Int): String =
      (0 until n).map(i => s"w${(i * 2654435761L + seed) % 997}").mkString(" ")
    val df = (1 to 8).map(i => (i.toLong, doc(i, 50000))).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val r = TextAnalysis.gopherMetrics(df, "doc_id", "text", 2, 3)
      .orderBy("doc_id").collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.length == 8)
    // 997 distinct words → every bigram repeats; dup fraction near 1
    assert(r.forall(_.getDouble(2) > 0.9))
    assert(r.forall(x => x.getDouble(1) > 0.0 && x.getDouble(1) <= 1.0))
    assert(sec < 60.0, s"8x50k-token gopher metrics took ${sec}s")
  }

  test("gopherAuto dispatches by document length and agrees on both") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    // short docs -> expression form: a single project, no join/shuffle
    val short = Seq((1L, "a b a b a"), (2L, "x y z")).toDF("doc_id", "text")
    val autoShort = TextAnalysis.gopherAuto(short, "doc_id", "text")
    assert(!hasJoin(autoShort), "short-doc corpus must take the expression plan")
    // long docs -> aggregation form (gopherMetrics joins top+dup aggs)
    def doc(seed: Int, n: Int): String =
      (0 until n).map(i => s"w${(i * 31L + seed) % 97}").mkString(" ")
    val long = Seq((1L, doc(1, 3000)), (2L, doc(2, 3000))).toDF("doc_id", "text")
    val autoLong = TextAnalysis.gopherAuto(long, "doc_id", "text")
    assert(hasJoin(autoLong), "long-doc corpus must take the aggregation plan")
    // both branches produce the same numbers on the same input
    val viaExpr = TextAnalysis.gopherAuto(short, "doc_id", "text")
      .orderBy("doc_id").collect()
    val viaAgg = TextAnalysis.gopherMetrics(short, "doc_id", "text", 2, 3)
      .orderBy("doc_id").collect()
    viaExpr.zip(viaAgg).foreach { case (e, a) =>
      assert(e.getDouble(1) == a.getDouble(1) && e.getDouble(2) == a.getDouble(2))
    }
  }
}
