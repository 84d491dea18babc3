package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.dwca.DwcaArchive

/** The `dwca` source splits an unquoted, newline-terminated data file into
  * byte ranges; each range reads the lines that start inside it. Generated
  * files, read with split sizes far below the file size, must give back
  * exactly the rows written: no row lost or read twice at a boundary,
  * whatever the line ends, the header lines, or a line longer than a split.
  *
  * Generators are driven with fixed seeds (no scalatestplus bridge in the
  * offline dependency set), so failures reproduce exactly.
  */
class DwcaSplitSpec extends AnyFunSuite {
  import DwcaSplitSpec.Case

  /** A session whose file-split rule cuts a few hundred bytes into many
    * ranges: `min(maxPartitionBytes, max(openCostInBytes, bytes / cores))`.
    */
  private lazy val session = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "48")
    s.conf.set("spark.sql.files.openCostInBytes", "1")
    s
  }

  private val Terms = Seq("occurrenceID", "scientificName", "recordedBy")

  private val value: Gen[String] = Gen.frequency(
    3 -> Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("abcxyz019 -_.é漢".toSeq)).map(_.mkString)),
    1 -> Gen.const(""),
    1 -> Gen.oneOf("NA", "NaN", "null", "N/A", "#N/A", "None"))

  private val caseGen: Gen[Case] = for {
    terminator <- Gen.oneOf("\n", "\r\n")
    trailing <- Gen.oneOf(true, false)
    header <- Gen.oneOf(0, 1, 2)
    n <- Gen.choose(8, 40)
    rows <- Gen.listOfN(n, Gen.listOfN(Terms.size, value))
    longAt <- Gen.choose(0, n - 1)
    longLen <- Gen.choose(100, 400)
  } yield {
    // one line longer than any split: its range must read it whole, and
    // the ranges inside it must read nothing
    val withLong = rows.updated(longAt, rows(longAt).updated(1, "L" * longLen))
    // some ids start with '#', which is data, not a comment
    Case(terminator, trailing, header,
      withLong.zipWithIndex.map { case (r, i) => (if (i % 5 == 2) s"#$i" else s"$i") +: r })
  }

  private def write(c: Case): File = {
    val dir = Files.createTempDirectory("dwca-split").toFile
    dir.deleteOnExit()
    val term = if (c.terminator == "\n") "\\n" else "\\r\\n"
    Files.writeString(new File(dir, "meta.xml").toPath,
      (Seq("""<?xml version="1.0" encoding="UTF-8"?>""",
        """<archive xmlns="http://rs.tdwg.org/dwc/text/">""",
        """  <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence" encoding="UTF-8" """ +
          s"""fieldsTerminatedBy="," linesTerminatedBy="$term" fieldsEnclosedBy="" """ +
          s"""ignoreHeaderLines="${c.headerLines}">""",
        "    <files><location>occurrence.txt</location></files>",
        """    <id index="0"/>""") ++
        Terms.zipWithIndex.map { case (t, i) =>
          s"""    <field index="${i + 1}" term="http://rs.tdwg.org/dwc/terms/$t"/>"""
        } ++ Seq("  </core>", "</archive>")).mkString("\n"))
    val header = Seq("# written, by the split spec", ("id" +: Terms).mkString(","))
      .takeRight(c.headerLines)
    val lines = header ++ c.rows.map(_.mkString(","))
    val text = lines.mkString(c.terminator) + (if (c.trailingNewline) c.terminator else "")
    Files.write(new File(dir, "occurrence.txt").toPath, text.getBytes(UTF_8))
    dir
  }

  private def plannedPartitions(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.inputPartitions.size }.sum

  test("forced byte-range splits read exactly the rows written") {
    val na = DwcaArchive.PandasNaTokens.toSet
    (1L to 30L).foreach { seed =>
      val c = caseGen.apply(Gen.Parameters.default, Seed(seed)).get
      val dir = write(c)
      val df = session.read.format("dwca").option("path", dir.getPath).load()
      val expected = c.rows.map(_.map(v => if (v.isEmpty || na(v)) null else v))
      val label = s"seed=$seed terminator=${c.terminator.length} trailing=${c.trailingNewline} " +
        s"header=${c.headerLines} rows=${c.rows.size}"
      assert(plannedPartitions(df) > 1, label)
      val got = df.collect().map(_.toSeq.map(_.asInstanceOf[String])).toSeq
      def sorted(rs: Seq[Seq[String]]) = rs.sortBy(_.map(String.valueOf).mkString("|"))
      assert(sorted(got) == sorted(expected), label)
      // the pushed COUNT(*) reads the file whole: the same number of rows
      assert(df.count() == c.rows.size, label)
      DwcaArchive.deleteTree(dir)
    }
  }
}

object DwcaSplitSpec {
  private final case class Case(
      terminator: String, trailingNewline: Boolean, headerLines: Int, rows: Seq[Seq[String]])
}
