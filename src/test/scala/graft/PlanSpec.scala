package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.StringClean
import graft.sources.Tables

/** Physical-plan assertions: the properties that matter at 100 TB
  * (pushdown, bucketed shuffle elimination, codegen containment).
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filters and projection push into the parquet scan") {
    import org.apache.spark.sql.functions._
    val df = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .filter(col("l_quantity") > 10)
      .select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity,10.0)"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("bulk encoders stay one codegen'd projection: no exchange, no UDF") {
    // the COPY/LOAD DATA line encoders (incl. TimeText's epoch-arithmetic
    // timestamp render) must remain a pure projection over the scan —
    // a shuffle or interpreted eval here would throttle every bulk write
    import org.apache.spark.sql.functions._
    val df = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate").cast("timestamp").as("ts"))
    for (enc <- Seq(graft.write.PgCopy.encodedLines(df),
        graft.write.MyLoadData.encodedLines(df))) {
      val plan = formatted(enc)
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("[codegen id : 1]"), plan) // one codegen span
      assert(!plan.contains("[codegen id : 2]"), plan)
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        plan)
    }
  }

  test("bucketed join reads bucketed scans without a join-side shuffle") {
    import org.apache.spark.sql.functions._
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    // suites share one session via getOrCreate, so the warehouse dir may
    // hold last run's table dirs the in-memory catalog doesn't know about
    Seq("plan_o", "plan_o2").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + "/" + t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(loc, true)
    }
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").saveAsTable("plan_o")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").saveAsTable("plan_o2")
    // force a non-broadcast join so the bucketed sort-merge path is planned
    // (runtime conf: the session is shared across suites)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val j = spark.table("plan_o").join(spark.table("plan_o2"), "o_orderkey")
    val plan = formatted(j)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange"), s"join over co-bucketed tables must not shuffle:\n$plan")
  }

  test("{part_*} masked writes prune partitions at read time") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft_prune").toString
    graft.write.PartitionedWriter.write(
      Tables(spark, "/root/testdata/sf0.001", "orders"), path,
      "o_orderdate", Seq("part_year"))
    val df = spark.read.option("basePath", path).parquet(path)
      .filter(col("part_year") === 1995)
    val plan = formatted(df)
    assert(plan.contains("PartitionFilters") &&
      plan.contains("part_year"), plan)
    // the pruned scan must not list every year's directory
    assert(df.count() > 0)
  }

  test("q3 pre-aggregated join plans with no Expand and a broadcast dim") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val plan = formatted(
      graft.SparkEntry.queries("q3_join_agg")(spark, "/root/testdata/sf0.001"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // countDistinct would plan an Expand over the joined fact rows — the
    // rewrite must not have one, and the dim side must broadcast
    assert(!plan.contains("Expand"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("as-of join shuffles exactly once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("k", "t")
    val right = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), "p"))
      .toDF("rk", "rt", "payload")
    // simple mode inlines partitioning args with the Exchange node
    val plan = graft.operators.AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt")
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    // union-sort formulation: one hash-partitioning exchange on the key
    // feeds the window; a range/join exchange would mean a second shuffle
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length +
      "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly 1 shuffle, got $shuffles:\n$plan")
  }

  test("native string-clean expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = Tables(spark, "/root/testdata/sf0.001", "customer")
      .select(StringClean.strip_accents(col("c_name")).as("a"),
        StringClean.strip_non_printable(col("c_name")).as("b"))
    val plan = formatted(df)
    // formatted mode marks whole-stage-codegen operators with a codegen id;
    // the Project evaluating our expressions must carry one
    assert(plan.contains("Project [codegen id"), plan)
    // eval correctness incl. non-ASCII
    import spark.implicits._
    val out = Seq(("café x", "naïve")).toDF("s", "t")
      .select(StringClean.strip_non_printable(StringClean.strip_accents($"s")),
        StringClean.strip_accents($"t"))
      .head
    assert(out.getString(0) == "cafe x")
    assert(out.getString(1) == "naive")
  }

  test("capPerKey plans one window pass with a pushed WindowGroupLimit " +
      "and no union/double-scan") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("solo-"), col("doc_id").cast("string")))
          .otherwise(lit("big.com")).as("host"))
    val plan = formatted(
      graft.functions.Sampling.capPerKey(docs, "doc_id", "host", 10))
    // the per-key top-k must truncate MAP-SIDE before the window
    // exchange: a Partial WindowGroupLimit caps every task's output at
    // `cap` rows per key, so a mega-domain ships `cap` rows
    // per map task, not its whole partition
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
    // exactly one Window pass, on the key itself — the pre-r16
    // two-branch shape unioned an under-cap scan with an over-cap
    // window and read the corpus four times
    assert(!plan.contains("Union"), plan)
    assert("\\(\\d+\\) Window\\b".r.findAllIn(plan).length == 1, plan)
    // formatted mode prints each node in the tree AND the detail list;
    // "(N) Scan parquet" appears once per node, in the details only
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).length
    assert(scans == 2,
      s"capPerKey reads the corpus twice (count agg + window), got $scans:\n$plan")
  }

  test("ivf plan size stays flat as nlist grows (broadcast centroids, " +
      "not plan literals)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = spark.range(0, 2048).map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 97).toFloat / 97f))
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 4)
    def planLen(nlist: Int): Int =
      graft.functions.Similarity.ivfTopK(qs, corpus, "vec_id", "embedding",
        k = 3, nlist = nlist, nprobe = 2)
        .queryExecution.optimizedPlan.toString.length
    val small = planLen(16)
    val big = planLen(1024)
    // centroids live in a 1-row broadcast relation; 64× the centroids must
    // not make the logical plan meaningfully bigger
    assert(big < small * 2, s"plan grew with nlist: $small -> $big")
    // and the large-nlist variant still answers (self-neighbors rank 1)
    val got = graft.functions.Similarity
      .ivfTopK(qs, corpus, "vec_id", "embedding", k = 3,
        nlist = 1024, nprobe = 8)
      .filter(col("rank") === 1).count()
    assert(got == 4, s"expected 4 rank-1 rows, got $got")
  }
}
