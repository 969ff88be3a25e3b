package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.write.{ChangeCapture, Modes => M, ParquetTarget}

/** Load-mode scenarios — each builds a deterministic (target, source) pair
  * from `orders`, runs the real writer machinery into a scratch parquet
  * target, reads the final table back, and the oracle expresses the expected
  * final state directly over `orders` in SQL.
  *
  * Mode semantics: SURVEY.md §2.7 (reference task_run_write.go:997-1032).
  */
object Modes {

  private def scratch(name: String, sfDir: String): String =
    Scratch.dir(name, sfDir)

  private def orders(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")

  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  private val oOrderCols = orderCols.mkString(", ")

  /** The synthetic CDC stream: deletes for keys %5=0; two updates (decoy then
    * final negated price) for keys %7=0; inserts of key+10000000 for keys
    * %11=0 — exercising latest-per-PK collapse and all three ops.
    */
  private[queries] def cdcStream(o: DataFrame): DataFrame = {
    val deletes = o.filter(col("o_orderkey") % 5 === 0)
      .withColumn("_sling_synced_op", lit("D")).withColumn("_sling_cdc_seq", lit(2L))
    val updDecoy = o.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 5 =!= 0)
      .withColumn("o_totalprice", lit(1.0))
      .withColumn("_sling_synced_op", lit("U")).withColumn("_sling_cdc_seq", lit(1L))
    val updFinal = o.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 5 =!= 0)
      .withColumn("o_totalprice", -col("o_totalprice"))
      .withColumn("_sling_synced_op", lit("U")).withColumn("_sling_cdc_seq", lit(2L))
    val inserts = o.filter(col("o_orderkey") % 11 === 0 &&
        col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 7 =!= 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("_sling_synced_op", lit("I")).withColumn("_sling_cdc_seq", lit(1L))
    deletes.unionByName(updDecoy).unionByName(updFinal).unionByName(inserts)
  }

  /** Expected CDC final state in DuckDB SQL (shared by hard/soft variants). */
  private[queries] val cdcFinalSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
       FROM orders WHERE o_orderkey % 5 <> 0
       UNION ALL
       SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
       FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0"""

  def queries: Seq[Q] = Seq(
    Q("mode_full_refresh",
      (s, dir) => {
        val t = ParquetTarget(s, scratch("full_refresh", dir))
        // pre-existing stale table proves overwrite really replaces
        M.fullRefresh(t, orders(s, dir).limit(7))
        M.fullRefresh(t, orders(s, dir))
        t.read.orderBy("o_orderkey")
      },
      Some(s"SELECT $oOrderCols FROM orders ORDER BY o_orderkey")),

    Q("mode_truncate",
      (s, dir) => {
        val t = ParquetTarget(s, scratch("truncate", dir))
        M.fullRefresh(t, orders(s, dir).filter(col("o_orderkey") % 2 === 0))
        M.truncate(t, orders(s, dir))
        t.read.orderBy("o_orderkey")
      },
      Some(s"SELECT $oOrderCols FROM orders ORDER BY o_orderkey")),

    Q("mode_snapshot",
      (s, dir) => {
        val t = ParquetTarget(s, scratch("snapshot", dir))
        // empty init carrying the full snapshot schema (parquet appends must
        // agree on columns; there is no mergeSchema pass on read-back)
        M.fullRefresh(t, orders(s, dir).limit(0)
          .withColumn("_sling_loaded_at", lit(null).cast("timestamp")))
        M.snapshot(t, orders(s, dir), java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
        M.snapshot(t, orders(s, dir), java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))
        t.read.filter(col("_sling_loaded_at").isNotNull)
          .orderBy("_sling_loaded_at", "o_orderkey")
      },
      Some(s"""SELECT * FROM (
        SELECT $oOrderCols, TIMESTAMP '2026-01-01 00:00:00' AS _sling_loaded_at FROM orders
        UNION ALL
        SELECT $oOrderCols, TIMESTAMP '2026-01-02 00:00:00' AS _sling_loaded_at FROM orders)
        ORDER BY _sling_loaded_at, o_orderkey""")),

    Q("mode_incremental_append",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("incr_append", dir))
        M.fullRefresh(t, o.filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp")))
        M.incrementalAppend(t, o, "o_orderdate")
        t.read.orderBy("o_orderkey")
      },
      Some(s"SELECT $oOrderCols FROM orders ORDER BY o_orderkey")),

    Q("mode_upsert",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("upsert", dir))
        // target holds stale prices for even keys; source re-delivers evens
        val stale = o.withColumn("o_totalprice",
          when(col("o_orderkey") % 2 === 0, lit(-1.0)).otherwise(col("o_totalprice")))
        M.fullRefresh(t, stale)
        M.upsert(t, o.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"))
        t.read.orderBy("o_orderkey")
      },
      Some(s"SELECT $oOrderCols FROM orders ORDER BY o_orderkey")),

    Q("mode_insert_missing",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("insert_missing", dir))
        M.fullRefresh(t, o.filter(col("o_orderkey") % 2 === 0))
        // source has bumped prices everywhere: merge_insert must NOT update
        // existing even keys, only insert the missing odd ones
        M.insertMissing(t, o.withColumn("o_totalprice", col("o_totalprice") + 1.0),
          Seq("o_orderkey"))
        t.read.orderBy("o_orderkey")
      },
      Some(s"""SELECT * FROM (
        SELECT $oOrderCols FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
          o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 2 <> 0)
        ORDER BY o_orderkey""")),

    Q("mode_delete_missing",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("delete_missing", dir))
        M.fullRefresh(t, o)
        M.deleteMissingScoped(t, o.filter(col("o_custkey") % 2 === 0), Seq("o_orderkey"),
          None, None, soft = false)
        t.read.orderBy("o_orderkey")
      },
      Some(s"SELECT $oOrderCols FROM orders WHERE o_custkey % 2 = 0 ORDER BY o_orderkey")),

    Q("mode_delete_missing_soft",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("delete_missing_soft", dir))
        M.fullRefresh(t, o)
        M.deleteMissingScoped(t, o.filter(col("o_custkey") % 2 === 0), Seq("o_orderkey"),
          None, None, soft = true)
        t.read.orderBy("o_orderkey")
      },
      Some(s"""SELECT $oOrderCols, o_custkey % 2 <> 0 AS _sling_deleted
        FROM orders ORDER BY o_orderkey""")),

    // scoped delete_missing (r.104): deletes detected only inside the 1995+
    // window (target_where); source presence scoped the same way — older
    // rows missing from the source survive untouched
    Q("mode_delete_missing_scoped",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("delete_missing_scoped", dir))
        M.fullRefresh(t, o)
        M.deleteMissingScoped(t, o.filter(col("o_custkey") % 2 === 0),
          Seq("o_orderkey"),
          sourceWhere = Some("o_orderdate >= '1995-01-01'"),
          targetWhere = Some("o_orderdate >= '1995-01-01'"),
          soft = true)
        t.read.orderBy("o_orderkey")
      },
      Some(s"""SELECT $oOrderCols,
        (o_orderdate >= '1995-01-01' AND o_custkey % 2 <> 0) AS _sling_deleted
        FROM orders ORDER BY o_orderkey""")),

    Q("mode_backfill",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("backfill", dir))
        val lo = lit("1994-01-01").cast("timestamp")
        val hi = lit("1995-12-31 23:59:59").cast("timestamp")
        // corrupt the range in the target, then backfill repairs exactly it
        val corrupted = o.withColumn("o_totalprice",
          when(col("o_orderdate").between(lo, hi), lit(-1.0)).otherwise(col("o_totalprice")))
        M.fullRefresh(t, corrupted)
        M.backfill(t, o, "o_orderdate", lo, hi)
        t.read.orderBy("o_orderkey")
      },
      Some(s"SELECT $oOrderCols FROM orders ORDER BY o_orderkey")),

    Q("mode_cdc_apply",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("cdc_apply", dir))
        M.fullRefresh(t, o)
        ChangeCapture(t, cdcStream(o), Seq("o_orderkey"))
        t.read.orderBy("o_orderkey")
      },
      Some(s"SELECT * FROM ($cdcFinalSql) ORDER BY o_orderkey")),

    Q("mode_cdc_apply_soft",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("cdc_soft", dir))
        M.fullRefresh(t, o)
        ChangeCapture.applySoft(t, cdcStream(o), Seq("o_orderkey"))
        t.read.orderBy("o_orderkey")
      },
      Some(s"""SELECT * FROM (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0 THEN -o_totalprice
               ELSE o_totalprice END AS o_totalprice,
          o_orderdate, o_orderpriority,
          o_orderkey % 5 = 0 AS _sling_deleted
        FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
          o_orderdate, o_orderpriority, false AS _sling_deleted
        FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0)
        ORDER BY o_orderkey""")),

    // SCD2 history: load 1 at t0 (all current), load 2 at t1 negates even
    // keys' prices → evens get a closed row (t0,t1) and a current (t1,null)
    Q("mode_history_insert",
      (s, dir) => {
        val o = orders(s, dir)
        val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
        val t1 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
        // history mode accumulates — clear any previous run's target first
        val path = scratch("history_run", dir)
        val loc = new org.apache.hadoop.fs.Path(path)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        val t2 = ParquetTarget(s, path)
        M.historyInsert(t2, o, Seq("o_orderkey"), t0)
        // also exercises the brand-new-PK path: key+20000000 appears in load 2
        val load2 = o.withColumn("o_totalprice",
            when(col("o_orderkey") % 2 === 0, -col("o_totalprice"))
              .otherwise(col("o_totalprice")))
          .unionByName(o.filter(col("o_orderkey") % 97 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 20000000L))
        M.historyInsert(t2, load2, Seq("o_orderkey"), t1)
        t2.read.orderBy("o_orderkey", "_sling_valid_from")
      },
      Some(s"""SELECT * FROM (
        SELECT $oOrderCols, TIMESTAMP '2026-01-01 00:00:00' AS _sling_valid_from,
          CASE WHEN o_orderkey % 2 = 0 THEN TIMESTAMP '2026-02-01 00:00:00' END AS _sling_valid_to
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, -o_totalprice,
          o_orderdate, o_orderpriority, TIMESTAMP '2026-02-01 00:00:00', NULL
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
          o_orderdate, o_orderpriority, TIMESTAMP '2026-02-01 00:00:00', NULL
        FROM orders WHERE o_orderkey % 97 = 0)
        ORDER BY o_orderkey, _sling_valid_from""")),

    // definition-only: create the table from the inferred schema with a
    // WHERE 1=0 read (task_run_read.go:288-291); result = the created schema
    Q("mode_definition_only",
      (s, dir) => {
        val o = orders(s, dir)
        val t = ParquetTarget(s, scratch("definition_only", dir))
        M.fullRefresh(t, o.filter(lit(false)))
        val schema = t.read.schema
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          schema.fields.map(f => org.apache.spark.sql.Row(f.name, f.dataType.sql)).toSeq.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("column_name", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("data_type", org.apache.spark.sql.types.StringType))))
          .orderBy("column_name")
      },
      Some("""SELECT * FROM (VALUES
        ('o_custkey', 'BIGINT'), ('o_orderdate', 'TIMESTAMP_NTZ'),
        ('o_orderkey', 'BIGINT'), ('o_orderpriority', 'STRING'),
        ('o_orderstatus', 'STRING'), ('o_totalprice', 'DOUBLE'))
        t(column_name, data_type) ORDER BY column_name"""))
  )
}
