package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

/** The bench never reports a failed query as a timing. */
class BenchSpec extends SparkSpec {

  test("sweep: a query that throws is listed as failed and left out " +
      "of the timings, whether it fails to build or to run") {
    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "builds_bad" -> ((_, _) => throw new IllegalStateException("no")),
      "ok" -> ((s, _) => s.range(3).toDF()),
      "runs_bad" -> ((s, _) => s.range(3).select(raise_error(lit("no")))))
    val got = Bench.sweep(spark, sfDir, qs, repeat = 2)
    assert(got.failed == Seq("builds_bad", "runs_bad"))
    assert(got.timings.map(_._1) == Seq("ok"))
    assert(got.timings.forall(_._2 > 0.0))
  }
}
