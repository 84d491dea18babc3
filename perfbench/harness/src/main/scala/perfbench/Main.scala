package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.dwca.{DwcaArchive, MetaXml}
import graft.json.ReportJson
import graft.validate.{ArchiveValidator, Breakdowns, Validator}

/** One benchmark run in one JVM: builds the SparkSession, makes (or reuses)
  * the seed's inputs, warms up, then drives one operation at a time in a
  * closed loop for the given seconds, in whole rounds. Writes the timings,
  * the reports to check and, in the traced mode, the per-layer counters to
  * a JSON file; `perfbench/run.py` checks and summarises it.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *        [--data DIR --queries FILE]
  */
object Main {
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, out: File, data: String, queries: File)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      new File(kv("work")), new File(kv("out")), kv.getOrElse("data", ""),
      new File(kv.getOrElse("queries", "")))
    val spark = session(o.work)
    val ready = java.time.Instant.now()
    val result = try {
      val r = o.workload match {
        case "occurrence_zip" => archiveRun(spark, o, ArchiveGen.occurrenceZip(ZipRows))
        case "registry_cross_section" => registryRun(spark, o)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      r ++ ListMap("ready_epoch_s" -> (ready.getEpochSecond + ready.getNano / 1e9),
        "peak_rss_mb" -> peakRssMb())
    } finally spark.stop()
    Json.writerWithDefaultPrettyPrinter().writeValue(o.out, result)
  }

  /** Rows of the archive workload (see the README for why this size). */
  val ZipRows = 100000

  /** Untimed warm-up before the timed loop. On a 4-core box the JIT keeps
    * speeding reports up for about the first 20 seconds of a JVM.
    */
  val WarmupSeconds = 20.0

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      // the program's own correctness-gate settings (graft.Verify)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config(graft.functions.TypedArgExtremum.FallbackThresholdKey,
        graft.functions.TypedArgExtremum.FallbackThreshold)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0d)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0d else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def tmpDir: File = new File(System.getProperty("java.io.tmpdir"))

  /** Bytes left behind in the temp dir by zip extraction (`dwca-*`). */
  private def extractBytesLeft(): Long =
    Option(tmpDir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("dwca-"))
      .map(d => Files.walk(d.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).map(_.length).sum).sum

  /** Empties the temp dir between iterations (zip extraction leaves a full
    * copy per report). The program's own per-box cache of its synthetic
    * archive (`graft.dwca.SyntheticArchive`) stays.
    */
  private def emptyTmp(): Unit =
    Option(tmpDir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("graft_synth_archive"))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)

  // ---------------------------------------------------------------- archives

  /** The seed's archive and its expected report, generated once per seed. */
  private def input(spec: ArchiveGen.Spec, o: Opts): (File, Long, File) = {
    val dir = new File(o.work, s"inputs/${o.workload}-${o.seed}")
    val done = new File(dir, "done.json")
    val expected = new File(dir, s"${spec.name}.expected.json")
    if (!done.isFile) {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      val g = ArchiveGen.generate(spec, o.seed, dir)
      Json.writeValue(expected, g.expected)
      Json.writeValue(done, ListMap("path" -> g.path.getPath, "rows" -> g.rows))
    }
    val m = Json.readTree(done)
    (new File(m.get("path").asText), m.get("rows").asLong, expected)
  }

  /** archive path → report JSON, through the program's one public call. */
  def report(spark: SparkSession, path: File): String =
    ReportJson.toJson(ArchiveValidator.validateArchive(spark, path.getPath))

  /** The calls `validateArchive` makes, in its order, each timed as a span:
    * the traced mode's view of the layers. Returns the report JSON and the
    * per-layer values of this one report.
    */
  def tracedReport(spark: SparkSession, t: Trace, path: File): (String, Map[String, Double]) = {
    val layers = mutable.LinkedHashMap[String, Double]().withDefaultValue(0d)
    val engine = mutable.Map[String, Double]().withDefaultValue(0d)
    def timed[T](layer: String, metric: String)(body: => T): T = {
      val (out, s, c) = t.span(body)
      layers(metric) += s
      c.foreach { case (k, v) => engine(k) += v; if (k == "jobs") layers(s"$layer.jobs") += v }
      if (layer == "validate") Seq("stages", "tasks").foreach(k => layers(s"validate.$k") += c.getOrElse(k, 0d))
      out
    }
    val archive = timed("dwca", "dwca.open_s")(DwcaArchive.open(spark, path.getPath))
    val core = archive.descriptor.core
    val coreDf = timed("dwca", "dwca.read_s")(archive.coreDataFrame)
    val coreReport = timed("validate", "validate.checks_s")(core.rowType match {
      case MetaXml.OccurrenceRowType =>
        // validate_dwca.py get_id_dwc_term: the first term bound to the id column's index
        val pos = coreDf.columns.indexOf("id")
        val idTerm = if (pos < 0) "" else core.fields.filter(_.index.contains(pos))
          .map(_.localName).find(_.nonEmpty).getOrElse("")
        Validator.validateOccurrence(coreDf, Seq("occurrenceID"), idTerm)
      case MetaXml.EventRowType => Validator.validateEvent(coreDf)
      case other => throw new IllegalStateException(s"generated archives have no $other cores")
    })
    var breakdowns = timed("validate", "validate.breakdowns_s")(Breakdowns.generate(coreDf))
    val exts = if (core.rowType != MetaXml.EventRowType) Nil
      else archive.descriptor.extensions.filter(_.rowType == MetaXml.OccurrenceRowType).map { ext =>
        val extDf = timed("dwca", "dwca.read_s")(archive.read(ext))
        val rep = timed("validate", "validate.checks_s")(Validator.validateOccurrence(extDf, Nil, ""))
        timed("validate", "validate.breakdowns_s")(Breakdowns.generate(extDf))
          .foreach { case (k, m) =>
            // Python dict.update: a key already present keeps its position
            breakdowns = if (breakdowns.contains(k)) breakdowns.map { case (k0, v0) => k0 -> (if (k0 == k) m else v0) }
              else breakdowns + (k -> m)
          }
        rep
      }
    val full = graft.model.DwCAValidationReport(
      valid = coreReport.errors.isEmpty, core_type = core.rowType,
      dataset_type = core.rowType.substring(core.rowType.lastIndexOf('/') + 1),
      core = coreReport, extensions = exts, breakdowns = breakdowns)
    val json = timed("json", "json.serialize_s")(ReportJson.toJson(full))
    layers("json.bytes") = json.getBytes("UTF-8").length.toDouble
    layers("dwca.construct_jobs") = layers.remove("dwca.jobs").getOrElse(0d)
    layers.remove("json.jobs")
    layers("dwca.records_read") = engine("records_read")
    Trace.EngineMetrics.foreach(k => layers(s"spark.$k") = engine(k))
    (json, layers.toMap)
  }

  private def archiveRun(spark: SparkSession, o: Opts, spec: ArchiveGen.Spec): Map[String, Any] = {
    val (path, rows, expected) = input(spec, o)
    val reportFile = new File(o.out.getParentFile, s"${o.workload}.report.json")
    val trace = if (o.trace) Some(Trace.install(spark)) else None
    var firstHash = ""
    var unstable = false
    def record(json: String): Unit =
      if (firstHash.isEmpty) { firstHash = sha256(json); Files.writeString(reportFile.toPath, json) }
      else if (firstHash != sha256(json)) unstable = true
    def op(): (String, Double) = {
      val t0 = System.nanoTime()
      val json = report(spark, path)
      val s = (System.nanoTime() - t0) / 1e9
      emptyTmp()
      (json, s)
    }
    val warmStart = System.nanoTime()
    while ((System.nanoTime() - warmStart) / 1e9 < WarmupSeconds) record(op()._1)

    val times = mutable.ArrayBuffer[Double]()
    val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()
    val spanSums, singles = mutable.ArrayBuffer[Double]()
    var attempted, failed = 0L
    val errors = mutable.LinkedHashMap[String, String]()
    val start = System.nanoTime()
    while (attempted == 0 || (System.nanoTime() - start) / 1e9 < o.seconds) {
      attempted += 1
      try trace match {
        case None =>
          val (json, s) = op()
          record(json); times += s
        case Some(t) =>
          // per-layer spans, then the same report as one untraced call
          val (json, layers) = tracedReport(spark, t, path)
          val left = extractBytesLeft()
          emptyTmp()
          record(json)
          layerSamples += layers ++ Map("dwca.extract_bytes_left" -> left.toDouble,
            "dwca.scans_per_table" -> layers("dwca.records_read") / rows)
          spanSums += Seq("dwca.open_s", "dwca.read_s", "validate.checks_s",
            "validate.breakdowns_s", "json.serialize_s").map(layers(_)).sum
          val (json2, s) = op()
          record(json2); singles += s; times += s
      } catch {
        case e: Exception =>
          failed += 1; emptyTmp()
          errors.getOrElseUpdate(spec.name, s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
    }
    val wall = (System.nanoTime() - start) / 1e9
    ListMap(
      "kind" -> "archive", "archive" -> path.getPath, "rows" -> rows,
      "expected" -> expected.getPath, "report" -> reportFile.getPath,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors, "unstable_report" -> unstable,
      "op_s" -> median(times.toSeq), "op_samples_s" -> times.toSeq,
      "rows_per_s" -> rows * times.size / wall, "timed_wall_s" -> wall,
      "layers" -> (if (layerSamples.isEmpty) Map.empty
        else layerSamples.head.keys.map(k => k -> median(layerSamples.map(_(k)).toSeq)).toMap),
      "span_sum_s" -> median(spanSums.toSeq), "single_call_s" -> median(singles.toSeq))
  }

  // ---------------------------------------------------------------- registry

  /** One query through construction and a `noop` sink that materialises
    * every output column. A query that throws counts as failed and yields
    * no timing.
    */
  final case class QueryTiming(construct_s: Double, sink_s: Double, counters: Map[String, Double])

  def timeQuery(spark: SparkSession, trace: Option[Trace], fn: => DataFrame): Either[String, QueryTiming] =
    try {
      trace match {
        case None =>
          val t0 = System.nanoTime()
          val df = fn
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          Right(QueryTiming((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, Map.empty))
        case Some(t) =>
          val (df, c, cc) = t.span(fn)
          val (_, s, sc) = t.span(df.write.format("noop").mode("overwrite").save())
          Right(QueryTiming(c, s, sc.map { case (k, v) => k -> (v + cc.getOrElse(k, 0d)) } +
            ("construct_jobs" -> cc.getOrElse("jobs", 0d))))
      }
    } catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }

  /** Passes over `queries` until `seconds` have gone, in whole passes. */
  def registryPasses(spark: SparkSession, trace: Option[Trace], queries: Seq[(String, () => DataFrame)],
      seconds: Double): Map[String, Any] = {
    val passTimes = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()
    val errors = mutable.LinkedHashMap[String, String]()
    var attempted, failed, rounds = 0L
    val start = System.nanoTime()
    while (rounds == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      var pass = 0d
      val layers = mutable.Map[String, Double]().withDefaultValue(0d)
      queries.foreach { case (name, fn) =>
        attempted += 1
        timeQuery(spark, trace, fn()) match {
          case Right(q) =>
            pass += q.construct_s + q.sink_s
            perQuery.getOrElseUpdate(name, mutable.ArrayBuffer()) += q.construct_s + q.sink_s
            layers("ops.construct_s") += q.construct_s
            layers("ops.sink_s") += q.sink_s
            layers("ops.construct_jobs") += q.counters.getOrElse("construct_jobs", 0d)
            Trace.EngineMetrics.foreach(k => layers(s"spark.$k") += q.counters.getOrElse(k, 0d))
          case Left(err) => failed += 1; errors.getOrElseUpdate(name, err)
        }
      }
      passTimes += pass
      layerSamples += layers.toMap
      rounds += 1
    }
    val wall = (System.nanoTime() - start) / 1e9
    val medians = perQuery.map { case (k, v) => k -> median(v.toSeq) }
    // a pass's time as the sum of each query's median over the passes: a
    // burst of host contention slows one query of one pass, not the figure
    ListMap("attempted" -> attempted, "failed" -> failed, "rounds" -> rounds, "errors" -> errors,
      "op_s" -> medians.values.sum, "op_samples_s" -> passTimes.toSeq, "timed_wall_s" -> wall,
      "query_s" -> medians,
      "layers" -> (if (trace.isEmpty) Map.empty
        else layerSamples.flatMap(_.keys).distinct.map(k => k -> median(layerSamples.map(_.getOrElse(k, 0d)).toSeq)).toMap))
  }

  private def registryRun(spark: SparkSession, o: Opts): Map[String, Any] = {
    val names = Files.readAllLines(o.queries.toPath).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")
    val queries = names.map(n => n -> (() => all(n)(spark, o.data)))
    val outDir = new File(o.out.getParentFile, s"${o.workload}.outputs")
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    // the check pass writes every output once for the DuckDB comparison and
    // is the first warm-up pass (first-time artifact builds happen here).
    // The temp dir is not emptied between queries: the DSv2 source keeps
    // its zip extraction for the JVM's lifetime and reads it again.
    val checkErrors = mutable.LinkedHashMap[String, String]()
    queries.foreach { case (n, fn) =>
      try fn().coalesce(1).write.mode("overwrite").parquet(new File(outDir, n).getPath)
      catch { case e: Exception => checkErrors(n) = s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    }
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Json.writeValue(new File(outDir, "oracle_sql.json"), oracles)
    registryPasses(spark, None, queries, WarmupSeconds / 2)
    val trace = if (o.trace) Some(Trace.install(spark)) else None
    val timed = registryPasses(spark, trace, queries, o.seconds)
    ListMap("kind" -> "registry", "outputs" -> outDir.getPath, "queries" -> names,
      "check_errors" -> checkErrors) ++ timed
  }
}
