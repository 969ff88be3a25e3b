package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CcNet, NgramLm}
import graft.functions.expressions.{BigramPairs, BucketWeightSum, LangIdOopExpr, LshPostingsExpr, MinHashBandsExpr, Shingles, WsTokens}
import graft.sources.Tables

/** Plan invariants of the training-data queries and of the eager fits'
  * count passes, pinned on the no-AQE physical plan at sf0.001 (with AQE
  * off, exchange reuse is decided at planning time and shows as
  * ReusedExchange). A count pass is materialized before any query plan
  * reads it, so its own plan is pinned separately.
  *
  * Per query: the count of each operator below, and how many times each
  * compiled kernel occurs in the plan's expressions. A kernel that shows
  * up twice is evaluated twice per row; an extra Exchange is an extra
  * corpus shuffle.
  *
  * Every pinned plan is also executed into a no-op sink with codegen
  * fallback off, so a kernel whose generated Java does not compile fails
  * here instead of silently dropping its stage to interpreted eval.
  */
class PlanInvariantSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val SfDir = "/root/testdata/sf0.001"

  // plan shape depends on these; other suites in the same JVM change them.
  // With fallback off, a whole-stage codegen compile error throws.
  private val Confs = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
    "spark.sql.codegen.fallback" -> "false")

  private val Operators = Seq("Exchange", "ReusedExchange", "SortMergeJoin",
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "Window")

  private val Kernels: Seq[(String, PartialFunction[Expression, Unit])] = Seq(
    "langidoopexpr" -> { case _: LangIdOopExpr => () },
    "minhashbandsexpr" -> { case _: MinHashBandsExpr => () },
    "bigrampairs" -> { case _: BigramPairs => () },
    "lshpostingsexpr" -> { case _: LshPostingsExpr => () },
    "shingles" -> { case _: Shingles => () },
    "bucketweightsum" -> { case _: BucketWeightSum => () },
    "wstokens" -> { case _: WsTokens => () })

  private def query(name: String): SparkSession => DataFrame =
    spark => SparkEntry.queries(name)(spark, SfDir)

  private def documents(spark: SparkSession): DataFrame =
    Tables(spark, SfDir, "documents")

  /** plan → (operator counts in `Operators` order, kernel → count; an
    * unlisted kernel must not occur). */
  private val Expected: Seq[(String, SparkSession => DataFrame, Seq[Int],
      Map[String, Int])] = Seq(
    // classification is a per-row map: only the final orderBy shuffles
    ("td_quality_langid_ngram", query("td_quality_langid_ngram"),
      Seq(1, 0, 0, 0, 0, 0), Map("langidoopexpr" -> 1)),
    // one projection over one read of the documents yields language ID,
    // the quality keep and the LM transitions from one tokenization
    // (wstokens 2 → 1); the LM's three count joins are broadcast and one
    // aggregate per document follows, so the second read of the documents,
    // its aggregate and the sort-merge join on doc_id are gone (Exchange
    // 3 → 2: that aggregate and the orderBy; SortMergeJoin 1 → 0). The
    // two unigram joins each broadcast their own copy of the table
    // (ReusedExchange 1 → 0)
    ("td_pipeline_ccnet", query("td_pipeline_ccnet"),
      Seq(2, 0, 0, 3, 1, 0),
      Map("langidoopexpr" -> 1, "bigrampairs" -> 1, "bucketweightsum" -> 1,
        "wstokens" -> 1)),
    // one banded pass: the md5 shuffle under the collapse window, the
    // band shuffle and the shuffle into the one partition that orders the
    // pairs (Exchange 6 → 3). Candidates are verified inside each band
    // run, so the band self-join and the two verify joins are gone
    // (SortMergeJoin 3 → 0, ReusedExchange 2 → 0) and the shingles run
    // once, under the signature kernel (2 → 1)
    ("td_dedup_near", query("td_dedup_near"), Seq(3, 0, 0, 0, 0, 1),
      Map("minhashbandsexpr" -> 1, "shingles" -> 1)),
    // the same pass over paragraph units
    ("td_dedup_para", query("td_dedup_para"), Seq(3, 0, 0, 0, 0, 1),
      Map("minhashbandsexpr" -> 1, "shingles" -> 1)),
    // uni and bi are tag-filtered views of one materialized count table
    ("td_quality_ppl", query("td_quality_ppl"), Seq(3, 0, 1, 3, 0, 0),
      Map("bigrampairs" -> 1, "wstokens" -> 1)),
    // the weight fold is one projection over the weight broadcast; only
    // the final orderBy shuffles
    ("td_quality_model", query("td_quality_model"), Seq(1, 0, 0, 0, 1, 0),
      Map("bucketweightsum" -> 1, "wstokens" -> 1)),
    ("td_sim_topk", query("td_sim_topk"), Seq(2, 0, 0, 0, 1, 1), Map.empty),
    // postings once per side: the broadcast queries and the corpus
    ("td_sim_ann", query("td_sim_ann"), Seq(3, 0, 0, 1, 0, 1),
      Map("lshpostingsexpr" -> 2)),
    // the shingle sets are recomputed per consuming subtree, not
    // materialized (a checkpoint there benched slower)
    ("td_dedup_ngram", query("td_dedup_ngram"), Seq(5, 3, 0, 4, 0, 2),
      Map("shingles" -> 3)),
    // one run pass over the collapse window: each representative's
    // postings run once (lshpostingsexpr 0 → 1, no checkpoint in the
    // build), and candidates are verified inside each bucket run from the
    // first table they share, so the posting self-join and its
    // dropDuplicates are gone (BroadcastHashJoin 1 → 0). Exchanges: the
    // window, the run pass and the orderBy
    ("td_dedup_embed", query("td_dedup_embed"), Seq(3, 0, 0, 0, 0, 1),
      Map("lshpostingsexpr" -> 1)),
    // one run pass keyed on the k-means cell emits (id, kept) per row: no
    // cell self-join, distinct or join back. The nested-loop join attaches
    // the one-row centroid broadcast. Exchanges: the centroid row's
    // aggregate, the run pass and the orderBy
    ("td_dedup_semantic", query("td_dedup_semantic"), Seq(3, 0, 0, 0, 1, 0),
      Map.empty),
    // canonical id and group size come from one window on url_norm, not
    // a groupBy joined back (BroadcastHashJoin 1 → 0, Window 0 → 1); the
    // window's shuffle and the orderBy are the two Exchanges
    ("td_dedup_url", query("td_dedup_url"), Seq(2, 0, 0, 0, 0, 1), Map.empty),
    // one row_number window on the key with its limit pushed map-side;
    // the key counts join the survivors by broadcast
    ("td_sample_domain_cap", query("td_sample_domain_cap"),
      Seq(3, 0, 0, 1, 0, 1), Map.empty),
    // one aggregate builds each video's frame sequence and frame count,
    // one window on the sequence names its representative, and the frames
    // are read back out of the sequence into one run pass, whose pairs
    // carry both frame counts (Window 3 → 1: the rep ids, frame counts
    // and star edges each ran their own; BroadcastHashJoin 5 → 0: the
    // band self-join, the semi-join onto the representatives and the two
    // frame-count joins; ReusedExchange 3 → 0). Exchanges: the sequence
    // aggregate, the window, the run pass, the pair aggregate, the orderBy
    ("td_mm_videodup", query("td_mm_videodup"), Seq(5, 0, 0, 0, 0, 1),
      Map.empty),
    // the hash collapse window feeds one run pass whose member rows pass
    // through as star edges: no band self-join and no union of the star.
    // Exchanges: the window, the run pass and the orderBy
    ("td_mm_imagedup", query("td_mm_imagedup"), Seq(3, 0, 0, 0, 0, 1),
      Map.empty),
    // the stages are checkpointed in the build, so the final plan is the
    // membership fold over their outputs and runs no kernel
    ("td_pipeline_refinedweb", query("td_pipeline_refinedweb"),
      Seq(3, 0, 1, 0, 0, 0), Map.empty),
    // the count passes, materialized before any query reads them: one
    // mapPartitions pass over one scan, whose per-task sums one aggregate
    // merges (Exchange 1; the CCNet pass had 2 aggregates and a union).
    // The kernels run inside that pass through their `compute` methods,
    // once per document by construction, so none shows in the plan (the
    // LM pass had run the tokenizer 3 times, the CCNet pass 5 times)
    ("NgramLm.fit count pass", spark => NgramLm.counts(
        documents(spark).filter(col("lang") === "en").select("text"), "text"),
      Seq(1, 0, 0, 0, 0, 0), Map.empty),
    ("CcNet.fit count pass", spark => CcNet.counts(documents(spark), "lang",
        "text", "en", n = 3, nBuckets = 1024),
      Seq(1, 0, 0, 0, 0, 0), Map.empty))

  private def operatorCounts(plan: SparkPlan): Seq[Int] = {
    val names = plan.collectWithSubqueries { case p => p.nodeName }
    Operators.map(op => names.count(_ == op))
  }

  private def kernelCounts(plan: SparkPlan): Map[String, Int] = {
    val exprs = plan.collectWithSubqueries { case p => p.expressions }.flatten
    Kernels.map { case (name, pf) =>
      name -> exprs.map(_.collect(pf).size).sum }
      .filter(_._2 > 0).toMap
  }

  private def withConfs[T](body: => T): T = {
    val prev = Confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    Confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((name, build, ops, kernels) <- Expected)
    test(s"$name: pinned operator and kernel counts") {
      val plan = withConfs {
        val df = build(spark)
        df.write.format("noop").mode("overwrite").save()
        df.queryExecution.executedPlan
      }
      assert(operatorCounts(plan) == ops && kernelCounts(plan) == kernels,
        s"observed ${Operators.zip(operatorCounts(plan)).mkString(" ")} " +
          s"kernels ${kernelCounts(plan)}\n$plan")
    }
}
