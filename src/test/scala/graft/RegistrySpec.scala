package graft

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query at sf0.001, run into the no-op sink in the
  * registry's own order (the order Verify runs them in), with the runtime
  * confs of Verify's session (`GraftSession.builder`) and codegen
  * fallback off.
  *
  * - A query may not leave a session conf changed. Keys are compared by
  *   resolved value, so a default that a save-and-restore made explicit
  *   counts as unchanged.
  * - A query that throws with fallback off but runs with it on has a
  *   kernel whose generated Java does not compile.
  *
  * A query that throws either way is reported, not failed: that is a
  * broken query, which the oracle compare catches.
  */
class RegistrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val SfDir = "/root/testdata/sf0.001"

  private val Fallback = "spark.sql.codegen.fallback"

  // GraftSession.builder's runtime confs; other suites in the same JVM
  // change them
  private val Confs = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.int96RebaseModeInRead" -> "CORRECTED",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    Fallback -> "false")

  private def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def run(name: String): Try[Unit] = Try(
    SparkEntry.queries(name)(spark, SfDir)
      .write.format("noop").mode("overwrite").save())

  test("every registered query leaves the session confs as it found them " +
    "and compiles without codegen fallback") {
    val leaks = Seq.newBuilder[String]
    val codegen = Seq.newBuilder[String]
    withConfs(Confs) {
      // resolves a key that was not set to its default
      val fresh = spark.newSession()
      SparkEntry.queries.keys.foreach { name =>
        val before = spark.conf.getAll
        val outcome = run(name)
        (before.keySet ++ spark.conf.getAll.keySet).toSeq.sorted.foreach { k =>
          val was = before.get(k).orElse(fresh.conf.getOption(k))
          val now = spark.conf.getOption(k)
          if (now != was) {
            leaks += s"$name: $k $was -> $now"
            // leave the next query the session this one found
            before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
          }
        }
        outcome.failed.foreach { strict =>
          if (withConfs(Map(Fallback -> "true"))(run(name)).isSuccess)
            codegen += s"$name: ${strict.toString.take(300)}"
          else
            info(s"$name throws with and without codegen fallback: " +
              strict.toString.take(300).replace('\n', ' '))
        }
      }
    }
    assert(leaks.result().isEmpty, leaks.result().mkString("\n"))
    assert(codegen.result().isEmpty, codegen.result().mkString("\n"))
  }
}
