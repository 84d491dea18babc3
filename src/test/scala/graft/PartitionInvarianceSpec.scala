package graft

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.json.ReportJson
import graft.validate.ArchiveValidator

/** The report does not depend on how Spark partitions the job: one
  * generated archive, with ties at the top-20 cut, more unrecognised
  * vocabulary values than the sample keeps, duplicate ids and every
  * breakdown, validates to the same JSON bytes under every combination of
  * split size, shuffle partitions and adaptive execution.
  */
class PartitionInvarianceSpec extends AnyFunSuite {
  private val Dwc = "http://rs.tdwg.org/dwc/terms/"

  private val terms = Seq("occurrenceID", "basisOfRecord", "geodeticDatum", "scientificName",
    "family", "decimalLatitude", "decimalLongitude", "recordedBy", "year", "month", "day",
    "eventDate")

  /** 3,000 rows in a seeded order: 10 names of 60 rows, then 25 names of 40
    * rows tied across the top-20 cut, then 1,400 names of one row.
    */
  private def rows: Seq[Seq[String]] = {
    val names = (0 until 10).flatMap(i => Seq.fill(60)(s"big$i")) ++
      (0 until 25).flatMap(i => Seq.fill(40)(f"tie$i%02d")) ++ (0 until 1400).map(i => s"one$i")
    val shuffled = new scala.util.Random(7).shuffle(names)
    shuffled.zipWithIndex.map { case (name, i) =>
      Seq(
        if (i % 97 == 1) s"o${i - 1}" else s"o$i",
        if (i % 50 == 0) s"BAD${i / 50 % 30}" else if (i % 41 == 0) "" else "HumanObservation",
        if (i % 13 == 0) s"D${i % 17}" else "WGS84",
        name,
        s"fam${i % 7}",
        if (i % 101 == 0) "north" else s"${(i % 200) - 100}.5",
        s"${(i % 360) - 180}.25",
        if (i % 9 == 0) "NA" else s"p${i % 5}",
        s"${1990 + i % 40}", s"${1 + i % 12}", s"${1 + i % 28}",
        if (i % 31 == 0) "someday" else if (i % 10 == 0) f"${2000 + i % 20}/${1 + i % 12}%02d/03"
        else f"${2000 + i % 20}-${1 + i % 12}%02d-${1 + i % 28}%02d")
    }
  }

  private def writeArchive(dir: File): Unit = {
    val fields = terms.zipWithIndex.map { case (t, i) => s"""    <field index="${i + 1}" term="$Dwc$t"/>""" }
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
  }

  test("the report JSON is byte-identical across split sizes, shuffle partitions and AQE") {
    val dir = Files.createTempDirectory("partition-invariance").toFile
    try {
      writeArchive(dir)
      val settings = for {
        maxPartitionBytes <- Seq("16k", "2m", "1g")
        shufflePartitions <- Seq("1", "7", "200")
        aqe <- Seq("true", "false")
      } yield (maxPartitionBytes, shufflePartitions, aqe)
      val reports = settings.map { case (mpb, sp, aqe) =>
        val s = TestSpark.spark.newSession()
        s.conf.set("spark.sql.files.maxPartitionBytes", mpb)
        s.conf.set("spark.sql.shuffle.partitions", sp)
        s.conf.set("spark.sql.adaptive.enabled", aqe)
        val json = ReportJson.toJson(ArchiveValidator.validateArchive(s, dir.getPath))
        val sha = MessageDigest.getInstance("SHA-256").digest(json.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (mpb, sp, aqe) -> (sha, json)
      }
      assert(reports.map(_._2._1).distinct.size == 1,
        reports.map { case (k, (sha, _)) => s"$k $sha" }.mkString("\n"))
      // the shared report is the one the archive calls for
      val r = ArchiveValidator.validateArchive(TestSpark.spark, dir.getPath)
      assert(ReportJson.toJson(r) == reports.head._2._2)
      assert(r.core.record_count == 3000)
      assert(r.core.errors == Seq("DUPLICATE_OCCURRENCEID_VALUES"))
      assert(r.core.record_error_count == (0 until 3000).count(_ % 97 == 1))
      assert(r.breakdowns("scientificName").toSeq ==
        (0 until 10).map(i => s"big$i" -> 60L) ++ (0 until 10).map(i => f"tie$i%02d" -> 40L))
      val basis = r.core.vocabReports.find(_.field == "basisOfRecord").get
      assert(basis.non_matching_values == (0 until 30).map(b => s"BAD$b").sorted.take(10))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
