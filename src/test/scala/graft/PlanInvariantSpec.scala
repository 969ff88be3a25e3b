package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.{BigramPairs, LangIdOopExpr, LshPostingsExpr, MinHashBandsExpr, Shingles}

/** Plan invariants of the training-data queries, pinned on the no-AQE
  * physical plan at sf0.001 (with AQE off, exchange reuse is decided at
  * planning time and shows as ReusedExchange).
  *
  * Per query: the count of each operator below, and how many times each
  * compiled kernel occurs in the plan's expressions. A kernel that shows
  * up twice is evaluated twice per row; an extra Exchange is an extra
  * corpus shuffle.
  */
class PlanInvariantSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val SfDir = "/root/testdata/sf0.001"

  // plan shape depends on these; other suites in the same JVM change them
  private val Confs = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760")

  private val Operators = Seq("Exchange", "ReusedExchange", "SortMergeJoin",
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "Window")

  private val Kernels: Seq[(String, PartialFunction[Expression, Unit])] = Seq(
    "langidoopexpr" -> { case _: LangIdOopExpr => () },
    "minhashbandsexpr" -> { case _: MinHashBandsExpr => () },
    "bigrampairs" -> { case _: BigramPairs => () },
    "lshpostingsexpr" -> { case _: LshPostingsExpr => () },
    "shingles" -> { case _: Shingles => () })

  /** query → (operator counts in `Operators` order, kernel → count; an
    * unlisted kernel must not occur). */
  private val Expected: Seq[(String, Seq[Int], Map[String, Int])] = Seq(
    // classification is a per-row map: only the final orderBy shuffles
    ("td_quality_langid_ngram", Seq(1, 0, 0, 0, 0, 0),
      Map("langidoopexpr" -> 1)),
    ("td_pipeline_ccnet", Seq(4, 0, 2, 4, 1, 0),
      Map("langidoopexpr" -> 1, "bigrampairs" -> 1)),
    // shingles: once under the signature kernel, once for verification
    ("td_dedup_near", Seq(6, 2, 3, 0, 0, 0),
      Map("minhashbandsexpr" -> 1, "shingles" -> 2)),
    ("td_quality_ppl", Seq(3, 0, 1, 3, 0, 0), Map("bigrampairs" -> 1)),
    ("td_sim_topk", Seq(2, 0, 0, 0, 1, 1), Map.empty),
    // postings once per side: the broadcast queries and the corpus
    ("td_sim_ann", Seq(3, 0, 0, 1, 0, 1), Map("lshpostingsexpr" -> 2)),
    // the shingle sets are recomputed per consuming subtree, not
    // materialized (a checkpoint there benched slower)
    ("td_dedup_ngram", Seq(5, 3, 0, 4, 0, 2), Map("shingles" -> 3)),
    ("td_dedup_embed", Seq(3, 1, 1, 0, 0, 0), Map("lshpostingsexpr" -> 1)))

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

  for ((query, ops, kernels) <- Expected)
    test(s"$query: pinned operator and kernel counts") {
      val plan = withConfs(
        SparkEntry.queries(query)(spark, SfDir).queryExecution.executedPlan)
      assert(operatorCounts(plan) == ops && kernelCounts(plan) == kernels,
        s"observed ${Operators.zip(operatorCounts(plan)).mkString(" ")} " +
          s"kernels ${kernelCounts(plan)}\n$plan")
    }
}
