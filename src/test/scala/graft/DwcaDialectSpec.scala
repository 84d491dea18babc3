package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.dwca.DwcaArchive

/** A dialect the `dwca` source cannot parse is refused on the driver, when
  * the frame is built, with an `IllegalArgumentException` naming the
  * archive and the data file — not as a task failure (a `SparkException`
  * naming neither) once an action runs.
  */
class DwcaDialectSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def archiveWith(coreAttrs: String): File = {
    val dir = Files.createTempDirectory("dwca-bad-dialect").toFile
    dir.deleteOnExit()
    Files.writeString(new File(dir, "meta.xml").toPath,
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<archive xmlns="http://rs.tdwg.org/dwc/text/">
         |  <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence" $coreAttrs>
         |    <files><location>occ.txt</location></files>
         |    <id index="0" />
         |    <field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>
         |  </core>
         |</archive>""".stripMargin)
    Files.writeString(new File(dir, "occ.txt").toPath, "id,occurrenceID||1,o1||")
    dir
  }

  /** Both entry points throw while the frame is built, before any action. */
  private def refused(dir: File): Seq[String] = Seq(
    intercept[IllegalArgumentException](
      spark.read.format("dwca").option("path", dir.getPath).load()).getMessage,
    intercept[IllegalArgumentException](
      DwcaArchive.open(spark, dir.getPath).coreDataFrame).getMessage)

  test("a multi-character linesTerminatedBy is refused on the driver, naming the file") {
    val dir = archiveWith("encoding=\"utf-8\" fieldsTerminatedBy=\",\" " +
      "linesTerminatedBy=\"||\" fieldsEnclosedBy=\"\" ignoreHeaderLines=\"1\"")
    refused(dir).foreach { m =>
      assert(m.contains(dir.getPath) && m.contains("occ.txt"), m)
      assert(m.contains("linesTerminatedBy"), m)
    }
  }

  test("an unknown encoding is refused on the driver, naming the file") {
    val dir = archiveWith("encoding=\"no-such-charset\" fieldsTerminatedBy=\",\" " +
      "linesTerminatedBy=\"\\n\" fieldsEnclosedBy=\"\" ignoreHeaderLines=\"1\"")
    refused(dir).foreach { m =>
      assert(m.contains(dir.getPath) && m.contains("occ.txt"), m)
      assert(m.contains("no-such-charset"), m)
    }
  }
}
