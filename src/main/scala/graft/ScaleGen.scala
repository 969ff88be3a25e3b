package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Synthesizes a larger scale factor from an existing one by key-offset
  * replication (VERDICT r5 item 6: empirical scaling evidence, no egress).
  *
  * Design mirrors how the data actually grows, so per-query scaling factors
  * are meaningful rather than artifacts:
  *   - dimension tables (region, nation) stay fixed — as in TPC-H;
  *   - fact/entity tables replicate with every key column offset by
  *     `replica * (max key)`, keeping FK joins consistent and key space
  *     dense (no overlap, no gaps a partitioner would care about);
  *   - events grow by adding USERS (user_id offsets), not by deepening each
  *     user's history — sessionization state per key stays O(1);
  *   - documents get a per-replica vowel-rotation (`translate`) so
  *     within-replica near-duplicate structure is preserved while
  *     cross-replica shingle Jaccard collapses — otherwise every doc would
  *     acquire 9 exact twins and the LSH candidate count would grow
  *     quadratically in replicas, measuring an artifact instead of scaling.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [outDir] [replicas]
  */
object ScaleGen {

  private val vowelish = "aeiounsrtl" // 10 letters → 10 distinct rotations

  private def rot(i: Int): String = {
    val k = i % vowelish.length
    vowelish.drop(k) + vowelish.take(k)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/sf1")
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    // only 10 distinct rotations exist: replica 10 would be rot(0) = the
    // identity, planting cross-replica exact twins — the quadratic-LSH
    // artifact this rotation exists to prevent. Fail loudly, don't measure it.
    require(replicas <= vowelish.length,
      s"replicas=$replicas > ${vowelish.length}: vowel rotation would repeat " +
        "and plant cross-replica duplicate documents")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def tbl(name: String): DataFrame = Tables(spark, srcDir, name)

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0)

    // strides from the base data so replica key ranges tile without overlap
    val custStride = maxOf(tbl("customer"), "c_custkey")
    val suppStride = maxOf(tbl("supplier"), "s_suppkey")
    val partStride = maxOf(tbl("part"), "p_partkey")
    val orderStride = maxOf(tbl("orders"), "o_orderkey")
    val eventStride = maxOf(tbl("events"), "event_id")
    val userStride = maxOf(tbl("events"), "user_id")
    val docStride = maxOf(tbl("documents"), "doc_id")
    val vecStride = maxOf(tbl("embeddings"), "vec_id")

    /** Union `replicas` copies with long-key offsets; no shuffle — each
      * replica is a narrow projection and parquet write parallelism comes
      * from the union's partitions.
      */
    def replicate(df: DataFrame, offsets: Map[String, Long],
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until replicas).map { i =>
        val shifted = offsets.foldLeft(df) { case (d, (c, stride)) =>
          d.withColumn(c, (col(c) + lit(i * stride)).cast(d.schema(c).dataType))
        }
        perReplica(shifted, i)
      }.reduce(_.unionByName(_))

    def write(name: String, df: DataFrame): Long = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      spark.read.parquet(s"$outDir/$name.parquet").count()
    }

    // dims: fixed
    val nRegion = write("region", tbl("region"))
    val nNation = write("nation", tbl("nation"))

    val nCustomer = write("customer",
      replicate(tbl("customer"), Map("c_custkey" -> custStride)))
    val nSupplier = write("supplier",
      replicate(tbl("supplier"), Map("s_suppkey" -> suppStride)))
    val nPart = write("part",
      replicate(tbl("part"), Map("p_partkey" -> partStride)))
    val nOrders = write("orders",
      replicate(tbl("orders"),
        Map("o_orderkey" -> orderStride, "o_custkey" -> custStride)))
    val nLineitem = write("lineitem",
      replicate(tbl("lineitem"), Map(
        "l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride)))
    val nEvents = write("events",
      replicate(tbl("events"),
        Map("event_id" -> eventStride, "user_id" -> userStride)))
    val nDocuments = write("documents",
      replicate(tbl("documents"), Map("doc_id" -> docStride),
        (d, i) => if (i == 0) d
          else d.withColumn("text", translate(col("text"), vowelish, rot(i)))))
    val nEmbeddings = write("embeddings",
      replicate(tbl("embeddings"), Map("vec_id" -> vecStride)))

    // FK sanity: no orphan lineitems/orders after offsetting
    val orphanLi = spark.read.parquet(s"$outDir/lineitem.parquet")
      .join(spark.read.parquet(s"$outDir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"), "left_anti").count()
    val orphanOrd = spark.read.parquet(s"$outDir/orders.parquet")
      .join(spark.read.parquet(s"$outDir/customer.parquet"),
        col("o_custkey") === col("c_custkey"), "left_anti").count()
    require(orphanLi == 0, s"$orphanLi orphan lineitem rows")
    require(orphanOrd == 0, s"$orphanOrd orphan order rows")

    println(s"""{"out":"$outDir","replicas":$replicas,""" +
      s""""rows":{"region":$nRegion,"nation":$nNation,"customer":$nCustomer,""" +
      s""""supplier":$nSupplier,"part":$nPart,"orders":$nOrders,""" +
      s""""lineitem":$nLineitem,"events":$nEvents,"documents":$nDocuments,""" +
      s""""embeddings":$nEmbeddings},"orphans":0}""")
    spark.stop()
  }
}
