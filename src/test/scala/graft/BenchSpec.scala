package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The bench's sampling rule: a query that throws is a failure, never a
  * sample. */
class BenchSpec extends AnyFunSuite {

  test("a throwing body lands in failed and not in the samples") {
    val samples = mutable.Map[String, Vector[Double]]()
    val failed = mutable.LinkedHashSet[String]()
    Bench.sample("ok", samples, failed)(())
    Bench.sample("boom", samples, failed)(
      throw new IllegalStateException("planted failure"))
    Bench.sample("ok", samples, failed)(())
    assert(failed.toSeq == Seq("boom"))
    assert(samples.keySet == Set("ok"))
    assert(samples("ok").size == 2 && samples("ok").forall(_ >= 0.0))
  }
}
