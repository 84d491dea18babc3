package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Canaries.Canary

/** Bench names a query that throws and never records it as a timing. */
class BenchSpec extends AnyFunSuite {
  test("a throwing query is reported as failed and contributes no time") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF()
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("query failed to build")
    val samples = Iterator.from(1).map(i => Canary(i, i, i))
    val (timed, failed, canaries) = Bench.runPass(TestSpark.spark, "unused",
      Seq("a_ok" -> ok, "b_boom" -> boom, "c_ok" -> ok), 2, () => samples.next())
    assert(failed == Seq("b_boom"))
    assert(timed.map(_._1) == Seq("a_ok", "c_ok"))
    assert(timed.forall(_._2 > 0))
    // windows: [a_ok, b_boom] between samples 1 and 2, [c_ok] between 2 and 3
    assert(canaries.map(_.single) == Vector(1.0, 2.0, 3.0))
    assert(timed.map(_._3.single) == Seq(2.0, 3.0))
  }
}
