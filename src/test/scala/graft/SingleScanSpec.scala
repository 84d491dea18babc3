package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.dwca.DwcaArchive
import graft.model.DwCAValidationReport
import graft.validate.{ArchiveValidator, Breakdowns, Validator}

/** The archive path reads each table once: one job per table serves the
  * checks, the vocabulary samples and the breakdowns, so `validateArchive`
  * reads each row once, and `validateOccurrence` and `Breakdowns.generate`
  * each read the table once on their own. The reader builds one
  * projection, and a validated zip leaves no extraction behind. Also the
  * edge cases of that job: empty input, ties at the top-20 cut, long
  * unrecognised samples, the histogram cap, and the per-task cut of the
  * top-20 and sample sets.
  */
class SingleScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with BeforeAndAfterAll {
  private def spark = TestSpark.spark

  private val made = scala.collection.mutable.ArrayBuffer[File]()
  override def afterAll(): Unit = made.foreach(org.apache.commons.io.FileUtils.deleteQuietly)

  private def stringDf(cols: Seq[String], rows: Seq[Seq[String]]) = {
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    spark.createDataFrame(rows.map(r => Row(r: _*)).asJava, schema)
  }

  private val Dwc = "http://rs.tdwg.org/dwc/terms/"

  /** A comma-separated Occurrence archive directory: `terms` after the id
    * column, plus default-only `defaults` (term → value) in meta.xml.
    */
  private def archiveDir(terms: Seq[String], rows: Seq[Seq[String]],
      defaults: Seq[(String, String)] = Nil): File = {
    val dir = Files.createTempDirectory("single-scan").toFile
    made += dir
    val fields = terms.zipWithIndex.map { case (t, i) =>
      s"""    <field index="${i + 1}" term="$Dwc$t"/>"""
    } ++ defaults.map { case (t, v) => s"""    <field term="$Dwc$t" default="$v"/>""" }
    Files.writeString(new File(dir, "meta.xml").toPath,
      (Seq("""<?xml version="1.0" encoding="UTF-8"?>""",
        """<archive xmlns="http://rs.tdwg.org/dwc/text/">""",
        s"""  <core rowType="${Dwc}Occurrence" encoding="utf-8" fieldsTerminatedBy="," """ +
          """linesTerminatedBy="\n" fieldsEnclosedBy="" ignoreHeaderLines="1">""",
        "    <files><location>occurrence.txt</location></files>",
        """    <id index="0" />""") ++ fields ++ Seq("  </core>", "</archive>")).mkString("\n"))
    val lines = ("id" +: terms).mkString(",") +:
      rows.zipWithIndex.map { case (r, i) => (s"$i" +: r).mkString(",") }
    Files.writeString(new File(dir, "occurrence.txt").toPath, lines.mkString("", "\n", "\n"))
    dir
  }

  /** Input records the tasks of `body`'s jobs read. */
  private def recordsRead(body: => Unit): Long = {
    val sc = spark.sparkContext
    val group = s"single-scan-${System.nanoTime()}"
    val read = new AtomicLong
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "records read")
      try body finally sc.clearJobGroup()
      // a job's task-end events reach the listener before its job-end
      val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.forall(ended.contains), "listener missed a job end")
    } finally sc.removeSparkListener(listener)
    read.get
  }

  /** The executed plans of the queries `body` runs. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener hears of a query after its action returns
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private val terms = Seq("occurrenceID", "basisOfRecord", "geodeticDatum", "scientificName",
    "family", "year", "month", "day", "eventDate")

  /** 40 rows over [[terms]]: unrecognised vocabulary values, 9 names, 4
    * families, dates.
    */
  private def occurrenceArchive(): File = archiveDir(terms, (0 until 40).map { i =>
    Seq(s"o$i", if (i % 5 == 0) s"BAD$i" else "HumanObservation",
      if (i % 7 == 0) "" else if (i % 3 == 0) s"DATUM$i" else "WGS84",
      s"sp${i % 9}", s"fam${i % 4}", s"${2000 + i % 3}", s"${1 + i % 12}", s"${1 + i % 28}",
      f"20${10 + i % 5}-0${1 + i % 9}-${1 + i % 28}%02d")
  })

  test("validateOccurrence and Breakdowns.generate each read the table once") {
    val df = DwcaArchive.open(spark, occurrenceArchive().getPath).coreDataFrame
    var report: Option[graft.model.DFValidationReport] = None
    assert(recordsRead { report = Some(Validator.validateOccurrence(df, Seq("occurrenceID"))) } == 40)
    val r = report.get
    assert(r.record_count == 40 && r.errors.isEmpty)
    assert(r.vocabReports.find(_.field == "basisOfRecord").get.non_matching_values ==
      Seq("BAD0", "BAD10", "BAD15", "BAD20", "BAD25", "BAD30", "BAD35", "BAD5"))
    var breakdowns = ListMap.empty[String, ListMap[String, Long]]
    assert(recordsRead { breakdowns = Breakdowns.generate(df) } == 40)
    assert(breakdowns.keys.toSeq == Seq("year", "month", "day", "scientificName", "family"))
    assert(breakdowns("scientificName").values.sum == 40)
    assert(breakdowns("year").keys.toSeq == Seq("2010", "2011", "2012", "2013", "2014"))
  }

  test("a 190-column read is one projection, not a per-column chain") {
    val terms = (0 until 189).map(i => s"term$i")
    val dir = archiveDir(terms, Seq(terms.indices.map(i => if (i % 2 == 0) "NA" else s"v$i")),
      defaults = Seq("license" -> "CC0", "language" -> "en"))
    val df = DwcaArchive.open(spark, dir.getPath).coreDataFrame
    // (stacked Projects starting at p, longest such stack in p's tree)
    def projectChains(p: LogicalPlan): (Int, Int) = {
      val kids = p.children.map(projectChains)
      val here = p match {
        case _: Project => 1 + kids.head._1
        case _ => 0
      }
      (here, (here +: kids.map(_._2)).max)
    }
    assert(projectChains(df.queryExecution.analyzed)._2 <= 2,
      df.queryExecution.analyzed.treeString)
    assert(df.columns.length == 192)
    assert(df.columns.takeRight(2).toSeq == Seq("license", "language"))
    val row = df.head()
    assert(row.isNullAt(df.columns.indexOf("term0"))) // "NA" normalised to null
    assert(row.getAs[String]("term1") == "v1")
    assert(row.getAs[String]("license") == "CC0")
  }

  test("validating a zip twice leaves no extraction directory behind") {
    val src = new File(TestSpark.resourcePath("/occurrence_archives/dwca-simple"))
    val zip = File.createTempFile("single-scan", ".zip")
    zip.deleteOnExit()
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zip))
    try src.listFiles().sortBy(_.getName).foreach { f =>
      zos.putNextEntry(new java.util.zip.ZipEntry(f.getName))
      Files.copy(f.toPath, zos)
      zos.closeEntry()
    } finally zos.close()
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def extractions = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("dwca-")).map(_.getName).toSet
    val before = extractions
    (1 to 2).foreach { _ =>
      val r = ArchiveValidator.validateArchive(spark, zip.getPath, Seq("occurrenceID"))
      assert(r.core.record_count == 5 && r.valid)
    }
    assert((extractions -- before).isEmpty)
  }

  test("empty frame with a vocabulary column: record_count 0, empty vocab report") {
    val r = Validator.validateOccurrence(stringDf(Seq("occurrenceID", "basisOfRecord"), Nil),
      Seq("occurrenceID"))
    assert(r.record_count == 0)
    assert(r.errors.isEmpty)
    assert(r.column_counts == ListMap("occurrenceID" -> 0L, "basisOfRecord" -> 0L))
    val v = r.vocabReports.find(_.field == "basisOfRecord").get
    assert(v.has_field && v.recognised_count == 0 && v.unrecognised_count == 0)
    assert(v.non_matching_values.isEmpty)
  }

  test("more than 11 unrecognised values plus nulls: sorted first 10, 'nan' slot removed") {
    val unrecognised = (1 to 15).map(i => f"u$i%02d") :+ "Zeta"
    val values = unrecognised ++ Seq("WGS84", "wgs84", null, null) ++ unrecognised.take(3)
    val r = Validator.validateOccurrence(stringDf(Seq("geodeticDatum"), values.map(Seq(_))))
    val v = r.vocabReports.find(_.field == "geodeticDatum").get
    assert(v.recognised_count == 2)
    assert(v.unrecognised_count == 19)
    // numpy.unique of the stringified column: Zeta, nan, u01 … u08 are the
    // first 10; "nan" is then dropped, leaving 9
    assert(v.non_matching_values == "Zeta" +: (1 to 8).map(i => f"u$i%02d"))
  }

  test("top-20 cut over 25 names tied at count 1 keeps the first 20 by name") {
    val names = scala.util.Random.shuffle((1 to 25).map(i => f"name$i%02d"))
    val df = stringDf(Seq("scientificName"), names.map(Seq(_)))
    val top = Breakdowns.generate(df)("scientificName")
    assert(top.toSeq == (1 to 20).map(i => f"name$i%02d" -> 1L))
    assert(top == Breakdowns.topValues(df, "scientificName", 20))
  }

  test("the histogram cap applies to histograms only: a high-cardinality top-20 key passes") {
    val n = 30000
    val df = spark.range(n).select(
      concat(lit("sp_"), (col("id") % 20000).cast("string")).as("scientificName"),
      (lit(1990) + col("id") % 7).cast("string").as("year"),
      lit("2023-05-17").as("eventDate"))
    val b = Breakdowns.generate(df)
    assert(b("scientificName") == Breakdowns.topValues(df, "scientificName", 20))
    assert(b("scientificName").values.forall(_ == 2L))
    // the eventDate-derived histogram overwrites the plain year in place
    assert(b.keys.toSeq == Seq("year", "scientificName", "month", "day"))
    assert(b("year") == ListMap("2023" -> n.toLong))
    // a histogram past the cap still throws, whatever the top-20 keys hold
    val e = intercept[IllegalStateException](Breakdowns.generate(spark.range(n).select(
      (col("id") % 12000).cast("string").as("day"), lit("sp").as("scientificName"))))
    assert(e.getMessage.contains("HistogramMaxGroups"), e.getMessage)
  }

  test("validateArchive reads each table once and equals the composed public calls") {
    val dir = occurrenceArchive()
    var report: Option[DwCAValidationReport] = None
    assert(recordsRead {
      report = Some(ArchiveValidator.validateArchive(spark, dir.getPath, Seq("occurrenceID")))
    } == 40)
    val archive = DwcaArchive.open(spark, dir.getPath)
    val df = archive.coreDataFrame
    val core = archive.descriptor.core
    val composed = DwCAValidationReport(
      valid = true, core_type = core.rowType, dataset_type = "Occurrence",
      core = Validator.validateOccurrence(df, Seq("occurrenceID"),
        ArchiveValidator.getIdDwcTerm(df, core)),
      extensions = Nil, breakdowns = Breakdowns.generate(df))
    assert(report.get == composed)
    assert(composed.breakdowns.keys.toSeq == Seq("year", "month", "day", "scientificName", "family"))
    assert(composed.core.vocabReports.find(_.field == "basisOfRecord").get.unrecognised_count == 8)
  }

  test("an Event core with an Occurrence extension reads the core rows plus the extension rows") {
    val path = TestSpark.resourcePath("/event_archives/dwca-simple")
    var report: Option[DwCAValidationReport] = None
    // 5 events + 5 occurrences; the MeasurementOrFact extension is not validated
    assert(recordsRead { report = Some(ArchiveValidator.validateArchive(spark, path)) } == 10)
    val archive = DwcaArchive.open(spark, path)
    val coreDf = archive.coreDataFrame
    val extDf = archive.read(archive.descriptor.extensions.find(_.rowTypeLocalName == "Occurrence").get)
    val breakdowns = Breakdowns.generate(extDf).foldLeft(Breakdowns.generate(coreDf)) {
      case (b, (k, v)) => Breakdowns.overwrite(b, k, v)
    }
    val core = Validator.validateEvent(coreDf)
    assert(report.get == DwCAValidationReport(
      valid = core.errors.isEmpty, core_type = archive.descriptor.core.rowType, dataset_type = "Event",
      core = core, extensions = Seq(Validator.validateOccurrence(extDf)), breakdowns = breakdowns))
    assert(report.get.core.record_count == 5 && report.get.extensions.head.record_count == 5)
  }

  test("a histogram past the cap, reached through validateArchive, throws and names the field") {
    val n = Breakdowns.HistogramMaxGroups + 1
    val dir = archiveDir(Seq("occurrenceID", "day"), (0 until n).map(i => Seq(s"o$i", s"$i")))
    val e = intercept[IllegalStateException](ArchiveValidator.validateArchive(spark, dir.getPath))
    assert(e.getMessage.contains(s"HistogramMaxGroups=${Breakdowns.HistogramMaxGroups}"), e.getMessage)
    assert(e.getMessage.contains("for field day"), e.getMessage)
  }

  test("the fused job cuts its sample and top-20 sets in every task before the shuffle to one task per set") {
    val plans = executedPlans(ArchiveValidator.validateArchive(spark, occurrenceArchive().getPath))
    val plan = plans.find(p => find(p)(_.isInstanceOf[WindowExec]).nonEmpty)
      .getOrElse(fail(plans.mkString("\n")))
    // the exchange that brings each set's groups to one task, for its sort
    val toOneTask = collect(plan) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name } == Seq("__set")
        case _ => false
      }) => e
    }
    assert(toOneTask.size == 1, plan.treeString)
    val cuts = collect(toOneTask.head.child) { case l: WindowGroupLimitExec => l }
    assert(cuts.exists(l => l.mode == Partial && l.limit == 20), plan.treeString)
  }
}
