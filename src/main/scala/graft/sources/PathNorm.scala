package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.regexp_replace

/** Normalizes file URIs so the three spellings that appear around
  * row-level deletes compare equal: manifest/log paths ("file:/x"),
  * delete-file paths, and Spark `_metadata.file_path` ("file:///x").
  * Non-file schemes (s3a://, abfss://) pass through untouched — both
  * sides of those comparisons come from the same catalog and agree.
  */
object PathNorm {
  def normUri(c: Column): Column = regexp_replace(c, "^file:/+", "/")

  /** Percent-encode a raw (decoded) absolute path the way Spark's
    * `_metadata.file_path` presents it — the URI path component on top of
    * the raw fs name (space → %20, literal % → %25). Driver-side twin of
    * the encoding Spark applies when it stringifies the scan's file URI.
    */
  def encPath(raw: String): String =
    try new java.net.URI(null, null, raw, null).toASCIIString
    catch { case _: Exception => raw }

  /** The parquet scan `read` builds, resolving columns by parquet field id
    * (`spark.sql.parquet.fieldId.read.enabled`). The reader looks the flag
    * up when the scan runs, in the conf of the session its relation is
    * bound to, and it cannot be passed as a read option (option keys are
    * lower-cased). So `read` runs on a copy of `spark`'s session with the
    * flag set, and its relation is handed back to `spark`: the flag covers
    * this scan only, and the caller's session conf is untouched.
    */
  def byFieldId(spark: SparkSession)(read: SparkSession => DataFrame): DataFrame = {
    val idSession = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) idSession.conf.set(k, v) }
    idSession.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val relation = read(idSession).queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation }.get
    spark.baseRelationToDataFrame(relation)
  }

  /** Drop `parquet.field.id` metadata from every column. Readers that
    * request an id-carrying schema (Delta column-mapping `id`, Iceberg
    * field-id resolution) must not leak those ids to callers: a later
    * `spark.read.schema(df.schema)` against plain files would otherwise
    * fail field-id resolution while `fieldId.read.enabled` is set.
    * Identity when no column carries an id (keeps `_metadata` reachable
    * on the common path).
    */
  def stripFieldIds(df: DataFrame): DataFrame = {
    val key = "parquet.field.id"
    if (!df.schema.fields.exists(_.metadata.contains(key))) df
    else df.select(df.schema.fields.map { f =>
      val m = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(key).build()
      org.apache.spark.sql.functions.col(s"`${f.name}`").as(f.name, m)
    }.toIndexedSeq: _*)
  }
}
