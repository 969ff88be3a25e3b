package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NgramLm

/** Stupid-Backoff bigram LM: hand-computed log-probs on a planted
  * corpus, backoff tiers, short-doc null, bucket cut points.
  */
class NgramLmSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("score hits all three backoff tiers with hand-computed micro values") {
    import spark.implicits._
    // target: uni a:2 b:2, N=4; bigrams (a,b):2, (b,a):1
    val target = Seq("a b a b").toDF("text")
    val lm = NgramLm.fit(target, "text")
    assert(lm.totalTokens == 4)
    val docs = Seq(
      (1L, "a b"),   // seen bigram: P = 2/2 = 1 → 0 micro
      (2L, "b b"),   // backoff: P = 0.4·2/4 = 0.2 → ln = -1.6094379…
      (3L, "z q"),   // OOV floor: P = 0.4/5 = 0.08 → ln = -2.5257286…
      (4L, "a"))     // no transitions
      .toDF("doc_id", "text")
    val out = NgramLm.score(docs, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out(1L) == ((1L, 0L, Some(0L))))
    assert(out(2L) == ((1L, -1609438L, Some(-1609438L))))
    assert(out(3L) == ((1L, -2525729L, Some(-2525729L))))
    assert(out(4L) == ((0L, 0L, None)))
    // bucket cut points are exact integer comparisons; NULL → tail
    val buckets = NgramLm.score(docs, "doc_id", "text", lm)
      .withColumn("b", NgramLm.pplBucket(col("avg_logprob_micro"),
        headMin = -100L, tailMax = -2000000L))
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(buckets == Map(1L -> "head", 2L -> "middle",
      3L -> "tail", 4L -> "tail"))
  }

  test("whitespace runs tokenize like single spaces (fit AND score)") {
    import spark.implicits._
    // crawl text: the target carries a newline and a double space — the
    // fitted counts must equal the single-space spelling's (no empty or
    // glued tokens entering the vocab), and scoring a doc with embedded
    // runs must equal scoring its normalized spelling
    val messy = NgramLm.fit(Seq("a b\na  b").toDF("text"), "text")
    val clean = NgramLm.fit(Seq("a b a b").toDF("text"), "text")
    assert(messy.totalTokens == clean.totalTokens)
    assert(messy.uni.orderBy("__w").collect().toSeq ==
      clean.uni.orderBy("__w").collect().toSeq)
    assert(messy.bi.orderBy("__w1", "__w2").collect().toSeq ==
      clean.bi.orderBy("__w1", "__w2").collect().toSeq)
    val docs = Seq((1L, " a\tb\n"), (2L, "a b")).toDF("doc_id", "text")
    val out = NgramLm.score(docs, "doc_id", "text", clean)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == out(2L))
  }

  test("pplBucket rejects swapped cut points at plan build") {
    intercept[IllegalArgumentException] {
      NgramLm.pplBucket(lit(0L), headMin = -100L, tailMax = -50L)
    }
  }

  test("per-doc sums are exact integer aggregates of per-token quanta") {
    import spark.implicits._
    val target = Seq("x y x y x z").toDF("text")
    val lm = NgramLm.fit(target, "text")
    // a longer doc's sum equals the sum of its per-transition scores
    val single = Seq((1L, "x y"), (2L, "y x"), (3L, "x z"))
      .toDF("doc_id", "text")
    val parts = NgramLm.score(single, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val whole = NgramLm.score(
        Seq((9L, "x y x z")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(whole == ((3L, parts(1L) + parts(2L) + parts(3L))))
  }

  test("a target with no tokens fits totalTokens 0; every transition scores at the OOV floor") {
    import spark.implicits._
    // empty, whitespace-only and NULL targets: a sum over zero rows is
    // NULL, which the fit must not read as a count
    val targets = Seq(
      Seq.empty[String].toDF("text"),
      Seq(" \t\n ", "   ").toDF("text"),
      Seq(Option.empty[String]).toDF("text"))
    val docs = Seq((1L, "a b"), (2L, "a b c"), (3L, "a")).toDF("doc_id", "text")
    // OOV floor with N = 0: P = 0.4 / 1 → floor(1e6·ln 0.4 + 0.5)
    val floor = -916291L
    for (t <- targets) {
      val lm = NgramLm.fit(t, "text")
      assert(lm.totalTokens == 0L)
      assert(lm.uni.count() == 0 && lm.bi.count() == 0)
      val out = NgramLm.score(docs, "doc_id", "text", lm)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      assert(out == Map(1L -> ((1L, floor, Some(floor))),
        2L -> ((2L, 2 * floor, Some(floor))), 3L -> ((0L, 0L, None))))
    }
  }
}
