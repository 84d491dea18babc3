package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.SparkEntry

/** JVM half of `perfbench/selftest.py`:
  *  - a deliberately throwing query, wrapped by the registry harness, is
  *    counted as failed and never timed (traced and untraced);
  *  - a small batch of archives (every reader dialect, Event cores with
  *    Occurrence extensions, a ~190-term archive) is validated, and each
  *    report is written next to the generator's expected report for the
  *    Python checker;
  *  - two registry queries over small tables are written for the DuckDB
  *    comparison.
  *
  *   SelfTest --work DIR --out DIR --data DIR
  */
object SelfTest {
  val Queries = Seq("q1_pricing_summary", "q_o1_fused_report")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (work, out, data) = (new File(kv("work")), new File(kv("out")), kv("data"))
    out.mkdirs()
    val spark = Main.session(work)
    val failures = mutable.ArrayBuffer[String]()
    try {
      // a query that throws: failed, left out of the pass time, never timed
      val queries = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "ok" -> (() => spark.range(1000).toDF("x")),
        "throws" -> (() => throw new IllegalStateException("deliberate failure")))
      Seq(None, Some(Trace.install(spark))).foreach { trace =>
        val mode = if (trace.isEmpty) "untraced" else "traced"
        val r = Main.registryPasses(spark, trace, queries, 0)
        val perQuery = r("query_s").asInstanceOf[collection.Map[String, Double]]
        if (r("attempted") != 2L || r("failed") != 1L)
          failures += s"$mode: attempted/failed ${r("attempted")}/${r("failed")}, expected 2/1"
        if (!r("errors").asInstanceOf[collection.Map[String, String]].contains("throws"))
          failures += s"$mode: the throwing query is not named among the errors"
        if (perQuery.keySet != Set("ok"))
          failures += s"$mode: timed queries ${perQuery.keySet}, expected only ok"
        if (r("op_s") != perQuery("ok"))
          failures += s"$mode: pass time ${r("op_s")} is not the ok query's ${perQuery("ok")}"
      }

      val inputs = new File(work, "selftest-inputs")
      org.apache.commons.io.FileUtils.deleteQuietly(inputs)
      val archives = (ArchiveGen.smallBatch :+ ArchiveGen.occurrenceWide(2000)).map { spec =>
        val g = ArchiveGen.generate(spec, 7, inputs)
        Main.Json.writeValue(new File(out, s"${g.name}.expected.json"), g.expected)
        java.nio.file.Files.writeString(new File(out, s"${g.name}.report.json").toPath,
          Main.report(spark, g.path))
        g.name
      }

      val outputs = new File(out, "outputs")
      Queries.foreach { q =>
        SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(new File(outputs, q).getPath)
      }
      Main.Json.writeValue(new File(outputs, "oracle_sql.json"),
        SparkEntry.oracleSql.filter { case (n, _) => Queries.contains(n) })
      Main.Json.writeValue(new File(out, "selftest.json"),
        ListMap("failures" -> failures, "archives" -> archives, "queries" -> Queries))
    } finally spark.stop()
  }
}
