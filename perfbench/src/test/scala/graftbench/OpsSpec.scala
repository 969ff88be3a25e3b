package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  test("a throwing operation is counted as failed and yields no sample") {
    val ops = new Ops
    val r = ops.run("boom")(throw new IllegalStateException("on purpose"))(_ => Nil)
    assert(r.isEmpty)
    assert(ops.attempted == 1 && ops.failed == 1)
    assert(ops.failedShare == 1.0)
    assert(ops.failures.head.contains("on purpose"))
  }

  test("an operation whose output check fails is counted as failed") {
    val ops = new Ops
    assert(ops.run("wrong")(41)(v => if (v == 42) Nil else Seq(s"got $v")).isEmpty)
    assert(ops.run("throwing check")(1)(_ => throw new RuntimeException("x")).isEmpty)
    assert(ops.run("right")(42)(v => if (v == 42) Nil else Seq(s"got $v"))
      .exists(_._1 == 42))
    assert(ops.attempted == 3 && ops.failed == 2)
  }

  test("tail percentile needs ten samples beyond it") {
    assert(Stats.tail(Seq.fill(99)(1.0)).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains("p90"))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("interval union counts overlaps once") {
    assert(Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (3L, 3L))) == 20L)
  }

  test("a workload pass whose task throws shows up in failed_ops") {
    val work = Fs.fresh(Paths.get("target", "selftest").toAbsolutePath)
    val spark = Main.startSession(2, work)
    try {
      val wl = new ElCsvIngest
      val dir = work.resolve("data")
      wl.generate(spark, dir, seed = 7)
      Fs.deleteTree(dir.resolve("in/base")) // the full-refresh read now throws
      val ops = new Ops
      val times = wl.pass(Ctx(spark, dir, 2, ops, new Tracer))
      assert(times == PassTimes(None, None))
      // the merge depends on the load, so it is not attempted
      assert(ops.attempted == 1 && ops.failed == 1, ops.failures)
    } finally {
      Main.stopSession(spark)
      Fs.deleteTree(work)
    }
  }
}
