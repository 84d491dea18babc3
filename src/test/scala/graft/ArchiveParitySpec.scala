package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.validate.ArchiveValidator

/** 1:1 port of the reference's archive tests
  * (dwc_validator/test/test_occurrence_archive.py and
  * test_event_archive.py) against the same fixture archives.
  */
class ArchiveParitySpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** A frame's rows as strings ("null" for null), sorted. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq

  private val Dwc = "http://rs.tdwg.org/dwc/terms/"
  private val PlainDialect = "encoding=\"utf-8\" fieldsTerminatedBy=\",\" " +
    "linesTerminatedBy=\"\\n\" fieldsEnclosedBy=\"\" ignoreHeaderLines=\"1\""

  /** An Occurrence archive directory whose core, `occ.txt`, holds `data`:
    * `<id index="0"/>`, then `occurrenceID` at index 1 and `fields`.
    */
  private def archiveDir(data: Array[Byte], coreAttrs: String = PlainDialect,
      fields: Seq[String] = Nil): String = {
    val dir = java.nio.file.Files.createTempDirectory("dwca-parity").toFile
    dir.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(dir, "meta.xml").toPath,
      (Seq("""<?xml version="1.0" encoding="UTF-8"?>""",
        """<archive xmlns="http://rs.tdwg.org/dwc/text/">""",
        s"""  <core rowType="${Dwc}Occurrence" $coreAttrs>""",
        "    <files><location>occ.txt</location></files>",
        """    <id index="0" />""",
        s"""    <field index="1" term="${Dwc}occurrenceID"/>""") ++ fields ++
        Seq("  </core>", "</archive>")).mkString("\n"))
    java.nio.file.Files.write(new java.io.File(dir, "occ.txt").toPath, data)
    dir.getAbsolutePath
  }

  private def coreRows(dir: String) =
    rowsOf(graft.dwca.DwcaArchive.open(spark, dir).coreDataFrame)

  private def occ(name: String) =
    ArchiveValidator.validateArchive(spark, TestSpark.resourcePath(s"/occurrence_archives/$name"), Seq("occurrenceID"))

  test("validate ok (dwca-simple)") { // test_occurrence_archive.py:23-39
    val r = occ("dwca-simple")
    assert(r.core.record_count == 5)
    assert(r.core.coordinates_report.get.invalid_decimal_latitude_count == 0)
    assert(r.core.coordinates_report.get.invalid_decimal_longitude_count == 0)
    assert(r.core.records_with_temporal_count == 5)
    assert(r.core.records_with_recorded_by_count == 5)
    assert(r.core.records_with_taxonomy_count == 5)
    assert(r.valid)
    assert(r.dataset_type == "Occurrence")
  }

  test("validate bad coordinates (dwca-bad-coordinates, \\r\\n dialect)") { // :41-52
    val r = occ("dwca-bad-coordinates")
    assert(r.core.record_count == 5)
    assert(r.core.coordinates_report.get.invalid_decimal_latitude_count == 1)
    assert(r.core.coordinates_report.get.invalid_decimal_longitude_count == 1)
    assert(r.core.warnings.contains("INVALID_OR_OUT_OF_RANGE_COORDINATES"))
  }

  test("validate out of range coordinates") { // :54-65
    val r = occ("dwca-out-of-range-coordinates")
    assert(r.core.record_count == 5)
    assert(r.core.coordinates_report.get.invalid_decimal_latitude_count == 1)
    assert(r.core.coordinates_report.get.invalid_decimal_longitude_count == 1)
  }

  test("validate geodetic datum (GIRAFFE unrecognised)") { // :67-85
    val r = occ("dwca-bad-geodetic-datum")
    assert(r.core.record_count == 5)
    assert(r.core.coordinates_report.get.invalid_decimal_latitude_count == 0)
    assert(r.core.coordinates_report.get.invalid_decimal_longitude_count == 0)
    val gd = r.core.vocabReports.find(_.field == "geodeticDatum").get
    assert(gd.has_field)
    assert(gd.recognised_count == 4)
    assert(gd.unrecognised_count == 1)
    assert(gd.non_matching_values == Seq("GIRAFFE"))
  }

  test("validate unrecognised basis of record") { // :87-107
    val r = occ("dwca-unrecognised-basis-of-record")
    assert(r.core.record_count == 5)
    assert(r.core.coordinates_report.get.invalid_decimal_latitude_count == 0)
    assert(r.core.coordinates_report.get.invalid_decimal_longitude_count == 0)
    val bor = r.core.vocabReports.find(_.field == "basisOfRecord").get
    assert(bor.has_field)
    assert(bor.recognised_count == 3)
    assert(bor.unrecognised_count == 2)
    assert(bor.non_matching_values.head == "NONSENSE")
  }

  test("validate event archive (core + occurrence extension)") { // test_event_archive.py:20-29
    val r = ArchiveValidator.validateArchive(spark, TestSpark.resourcePath("/event_archives/dwca-simple"))
    assert(r.core.record_count == 5)
    assert(r.core.coordinates_report.get.invalid_decimal_latitude_count == 0)
    assert(r.core.coordinates_report.get.invalid_decimal_longitude_count == 0)
    assert(r.core.record_type == "Event")
    assert(r.dataset_type == "Event")
    // Occurrence extension validated; MeasurementOrFact extension is not
    // (reference: validate_dwca.py:79).
    assert(r.extensions.size == 1)
    assert(r.extensions.head.record_count == 5)
    // lowercase "observation" matches the vocab case-insensitively.
    val bor = r.extensions.head.vocabReports.find(_.field == "basisOfRecord").get
    assert(bor.recognised_count == 5)
    assert(bor.unrecognised_count == 0)
    // eventDate-derived breakdowns present from the Event core.
    assert(r.breakdowns.contains("year"))
    assert(r.breakdowns("year") == Map("2023" -> 5L))
    assert(r.breakdowns("day").size == 5)
  }

  test("multi-file zip archive extracts and reads like the directory form") {
    // zip the 4-file event fixture (meta.xml + core + 2 extensions) and
    // open the zip — must behave exactly like opening the directory
    val srcDir = new java.io.File(TestSpark.resourcePath("/event_archives/dwca-simple"))
    val zipFile = java.io.File.createTempFile("dwca-multi", ".zip")
    zipFile.deleteOnExit()
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipFile))
    try srcDir.listFiles().sortBy(_.getName).foreach { f =>
      zos.putNextEntry(new java.util.zip.ZipEntry(f.getName))
      java.nio.file.Files.copy(f.toPath, zos)
      zos.closeEntry()
    } finally zos.close()
    val archive = graft.dwca.DwcaArchive.open(spark, zipFile.getAbsolutePath)
    try {
      assert(archive.descriptor.extensions.size == 2)
      assert(archive.coreDataFrame.count() == 5)
      val occExt = archive.descriptor.extensions
        .find(_.rowTypeLocalName == "Occurrence").get
      assert(archive.joined(occExt).count() == 5)
    } finally archive.close()
  }

  test("pandas NA tokens null out; ignoreHeaderLines=2 skips both preamble lines") {
    val dir = java.nio.file.Files.createTempDirectory("dwca-na").toFile
    dir.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(dir, "meta.xml").toPath,
      """<?xml version="1.0" encoding="UTF-8"?>
        |<archive xmlns="http://rs.tdwg.org/dwc/text/">
        |  <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence" encoding="utf-8" fieldsTerminatedBy="," linesTerminatedBy="\n" fieldsEnclosedBy="" ignoreHeaderLines="2">
        |    <files><location>occ.txt</location></files>
        |    <id index="0" />
        |    <field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>
        |    <field index="2" term="http://rs.tdwg.org/dwc/terms/basisOfRecord"/>
        |  </core>
        |</archive>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dir, "occ.txt").toPath,
      """# generator preamble the reference's skiprows=2 would drop
        |id,occurrenceID,basisOfRecord
        |1,o1,HumanObservation
        |2,NA,HumanObservation
        |3,o3,NaN
        |""".stripMargin)
    val df = graft.dwca.DwcaArchive.open(spark, dir.getAbsolutePath).coreDataFrame
    // skiprows=2 parity: 3 data records, not 4 (the header line is data
    // if only one line were skipped)
    assert(df.count() == 3, df.collect().mkString("; "))
    // pandas default NA tokens are nulls, exactly like the reference
    assert(df.filter(df("occurrenceID").isNull).count() == 1)
    assert(df.filter(df("basisOfRecord").isNull).count() == 1)
    assert(df.filter(df("occurrenceID") === "o1").count() == 1)
  }

  test("quoted fields with embedded delimiters parse to their literal values") {
    val dir = java.nio.file.Files.createTempDirectory("dwca-quoted").toFile
    dir.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(dir, "meta.xml").toPath,
      """<?xml version="1.0" encoding="UTF-8"?>
        |<archive xmlns="http://rs.tdwg.org/dwc/text/">
        |  <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence" encoding="utf-8" fieldsTerminatedBy="," linesTerminatedBy="\n" fieldsEnclosedBy="&quot;" ignoreHeaderLines="1">
        |    <files><location>occ.txt</location></files>
        |    <id index="0" />
        |    <field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>
        |    <field index="2" term="http://rs.tdwg.org/dwc/terms/basisOfRecord"/>
        |  </core>
        |</archive>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dir, "occ.txt").toPath,
      "id,occurrenceID,basisOfRecord\n" +
        "1,\"o,1\",HumanObservation\n" + // embedded delimiter inside quotes
        "2,\"plain\",\"Machine,Observation\"\n" +
        "3,unquoted,HumanObservation\n")
    val df = graft.dwca.DwcaArchive.open(spark, dir.getAbsolutePath).coreDataFrame
    assert(rowsOf(df) == Seq(
      Seq("1", "o,1", "HumanObservation"),
      Seq("2", "plain", "Machine,Observation"),
      Seq("3", "unquoted", "HumanObservation")))
    // a pushed EqualTo on a value containing the delimiter still decides
    // correctly inside the DSv2 reader (the quote parse happens first)
    import org.apache.spark.sql.functions.col
    val hit = spark.read.format("dwca").option("path", dir.getAbsolutePath).load()
      .filter(col("occurrenceID") === "o,1")
    assert(hit.count() == 1)
  }

  test("ignoreHeaderLines>1 with a custom terminator or a latin-1 encoding reads every row") {
    // a single-character custom terminator: both preamble lines skipped
    val semi = archiveDir("# preamble;id,occurrenceID;1,o1;2,NA;".getBytes("UTF-8"),
      "encoding=\"utf-8\" fieldsTerminatedBy=\",\" " +
        "linesTerminatedBy=\";\" fieldsEnclosedBy=\"\" ignoreHeaderLines=\"2\"")
    assert(coreRows(semi) == Seq(Seq("1", "o1"), Seq("2", "null")))
    // latin-1 bytes decode as latin-1, after two preamble lines
    val latin = archiveDir(
      "# pr\u00e9ambule\nid,occurrenceID\n1,B\u00e9b\u00e9\n2,o2\n".getBytes("ISO-8859-1"),
      "encoding=\"ISO-8859-1\" fieldsTerminatedBy=\",\" " +
        "linesTerminatedBy=\"\\n\" fieldsEnclosedBy=\"\" ignoreHeaderLines=\"2\"")
    assert(coreRows(latin) == Seq(Seq("1", "B\u00e9b\u00e9"), Seq("2", "o2")))
  }

  test("a data file narrower or wider than meta.xml reads as the declared columns") {
    def archiveWith(data: String) = archiveDir(data.getBytes("UTF-8"), fields = Seq(
      s"""    <field index="2" term="${Dwc}basisOfRecord"/>""",
      s"""    <field term="${Dwc}license" default="CC0"/>"""))
    val declared = Seq("id", "occurrenceID", "basisOfRecord", "license")
    // narrower: the missing declared term is a null column
    val narrow = graft.dwca.DwcaArchive.open(spark, archiveWith("id,occurrenceID\n1,o1\n2,o2\n"))
      .coreDataFrame
    assert(narrow.columns.toSeq == declared)
    assert(rowsOf(narrow) == Seq(Seq("1", "o1", "null", "CC0"), Seq("2", "o2", "null", "CC0")))
    // wider: columns past the declared ones are not read (no _cN columns),
    // up to Spark CSV's 20,480 physical columns
    val wide = graft.dwca.DwcaArchive.open(spark, archiveWith(
      "id,occurrenceID,basisOfRecord,extra,more\n1,o1,HumanObservation,x,y\n" +
        (Seq("2", "o2", "PreservedSpecimen") ++ Seq.fill(600)("z")).mkString(",") + "\n"))
      .coreDataFrame
    assert(wide.columns.toSeq == declared)
    assert(rowsOf(wide) == Seq(Seq("1", "o1", "HumanObservation", "CC0"),
      Seq("2", "o2", "PreservedSpecimen", "CC0")))
  }

  test("zip extraction dies AT the byte cap, mid-entry, not after the copy") {
    val zipFile = java.io.File.createTempFile("dwca-big", ".zip")
    zipFile.deleteOnExit()
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipFile))
    try {
      zos.putNextEntry(new java.util.zip.ZipEntry("meta.xml"))
      zos.write(Array.fill(1 << 20)('x'.toByte)) // one 1 MiB entry
      zos.closeEntry()
    } finally zos.close()
    val e = intercept[IllegalArgumentException](
      graft.dwca.DwcaArchive.extractZip(zipFile, maxBytes = 100L))
    assert(e.getMessage.contains("expands past"), e.getMessage)
  }

  test("core ⋈ extension join on id = coreid (event fixture, 5×5)") {
    val archive = graft.dwca.DwcaArchive.open(
      spark, TestSpark.resourcePath("/event_archives/dwca-simple"))
    val occExt = archive.descriptor.extensions
      .find(_.rowTypeLocalName == "Occurrence").get
    val joined = archive.joined(occExt)
    assert(joined.count() == 5) // 1:1 link in the fixture
    // every core row found its extension row (left join, no orphans)
    assert(joined.filter(joined("coreid").isNull).count() == 0)
    // extension columns arrive prefixed; core columns unprefixed
    assert(joined.columns.contains("occurrence_basisOfRecord"))
    assert(joined.columns.contains("eventDate"))
    val row = joined.filter(joined("id") === "1").head()
    assert(row.getAs[String]("occurrence_basisOfRecord") == "observation")
  }

  test("an empty or header-only data file reads no rows") {
    Seq("", "id,occurrenceID\n", "id,occurrenceID").foreach { data =>
      val df = graft.dwca.DwcaArchive.open(spark, archiveDir(data.getBytes("UTF-8"))).coreDataFrame
      assert(rowsOf(df).isEmpty, s"data=${data.length} bytes")
      assert(df.count() == 0, s"data=${data.length} bytes")
    }
  }

  test("every fixture table reads as the declared columns of its data file's rows") {
    val fixtures = Seq(
      "/occurrence_archives/dwca-simple",
      "/occurrence_archives/dwca-bad-coordinates", // \r\n dialect
      "/occurrence_archives/dwca-bad-geodetic-datum",
      "/occurrence_archives/dwca-out-of-range-coordinates",
      "/occurrence_archives/dwca-unrecognised-basis-of-record",
      "/event_archives/dwca-simple") // core + 2 extensions
    fixtures.foreach { fx =>
      val path = TestSpark.resourcePath(fx)
      val archive = graft.dwca.DwcaArchive.open(spark, path)
      (archive.descriptor.core +: archive.descriptor.extensions).foreach { t =>
        // the fixtures are unquoted, comma-separated, one header line, no
        // NA tokens: a data row is its line split on commas, "" is null
        val lines = java.nio.file.Files.readAllLines(new java.io.File(path, t.location).toPath)
        val expected = lines.toArray(Array.empty[String]).toSeq.drop(1).filter(_.nonEmpty)
          .map(_.stripSuffix("\r").split(",", -1).toSeq.map(v => if (v.isEmpty) "null" else v))
          .sortBy(_.mkString("|"))
        val df = archive.read(t)
        assert(df.columns.toSeq == t.columnNames, s"$fx ${t.location}")
        assert(expected.nonEmpty && rowsOf(df) == expected, s"$fx ${t.location}")
      }
    }
  }

  test("DSv2 scan prunes columns: only the selected terms reach the parser") {
    val path = TestSpark.resourcePath("/occurrence_archives/dwca-simple")
    val df = spark.read.format("dwca").option("path", path).load()
      .select("id", "scientificName")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id", "scientificName"),
      scans.head.scan.description())
    // and the pruned read returns exactly the unpruned read's values
    val full = spark.read.format("dwca").option("path", path).load().collect()
      .map(r => Seq(r.getAs[String]("id"), r.getAs[String]("scientificName")))
    assert(rowsOf(df) == full.toSeq.sortBy(_.mkString("|")))
  }

  test("DSv2 scan pushes string filters: rows drop at the parser, values match the unfiltered read") {
    import org.apache.spark.sql.functions.col
    val path = TestSpark.resourcePath("/occurrence_archives/dwca-bad-geodetic-datum")
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.size == 1, df.queryExecution.executedPlan.toString)
      scans.head.scan
    }
    // the unfiltered read, filtered here: what the pushed scans must return
    val all = spark.read.format("dwca").option("path", path).load().collect().toSeq
    def where(p: org.apache.spark.sql.Row => Boolean, cols: String*) =
      all.filter(p).map(r => (if (cols.isEmpty) r.schema.fieldNames.toSeq else cols)
        .map(c => String.valueOf(r.getAs[String](c)))).sortBy(_.mkString("|"))
    def datum(r: org.apache.spark.sql.Row) = Option(r.getAs[String]("geodeticDatum"))

    // EqualTo reaches the scan (description advertises it) and the
    // filter column stays readable even when pruned from the output
    val eq = spark.read.format("dwca").option("path", path).load()
      .filter(col("geodeticDatum") === "GIRAFFE").select("id", "scientificName")
    assert(scanOf(eq).description().contains("EqualTo(geodeticDatum,GIRAFFE)"),
      scanOf(eq).description())
    assert(rowsOf(eq) == where(datum(_).contains("GIRAFFE"), "id", "scientificName"))
    assert(rowsOf(eq).size == 1)

    // In + StartsWith compose; non-pushable predicates stay residual
    val mixed = spark.read.format("dwca").option("path", path).load()
      .filter(col("geodeticDatum").isin("WGS84", "EPSG:4326") &&
        col("scientificName").startsWith("A") &&
        org.apache.spark.sql.functions.length(col("id")) > 0)
    val d = scanOf(mixed).description()
    assert(d.contains("In(geodeticDatum"), d)
    assert(d.contains("StringStartsWith(scientificName,A)"), d)
    assert(!d.contains("length"), d) // length(...) is the residual, not pushed
    assert(rowsOf(mixed) == where(r =>
      datum(r).exists(Set("WGS84", "EPSG:4326")) &&
        Option(r.getAs[String]("scientificName")).exists(_.startsWith("A")) &&
        Option(r.getAs[String]("id")).exists(_.nonEmpty)))

    // IsNotNull decides on the NA-normalized value, as the frame holds it
    val nn = spark.read.format("dwca").option("path", path).load()
      .filter(col("geodeticDatum").isNotNull)
    assert(scanOf(nn).description().contains("IsNotNull(geodeticDatum)"),
      scanOf(nn).description())
    assert(nn.count() == all.count(datum(_).isDefined))

    // an always-false pushed filter returns zero rows (the row loop skips all)
    val none = spark.read.format("dwca").option("path", path).load()
      .filter(col("geodeticDatum") === "NO_SUCH_DATUM")
    assert(none.count() == 0)
  }

  test("DSv2 COUNT(*) pushes to the scan: one emitted long, counts match the row scan") {
    import org.apache.spark.sql.functions.col
    val path = TestSpark.resourcePath("/occurrence_archives/dwca-bad-geodetic-datum")
    def countScanOf(df: org.apache.spark.sql.DataFrame) = {
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.size == 1, df.queryExecution.executedPlan.toString)
      scans.head.scan
    }
    // the rows a plain scan returns: what every pushed count must agree with
    val all = spark.read.format("dwca").option("path", path).load().collect().toSeq
    def datum(r: org.apache.spark.sql.Row) = Option(r.getAs[String]("geodeticDatum"))

    // bare count: the scan becomes the count scan, no column materializes
    val bare = spark.read.format("dwca").option("path", path).load()
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
    assert(countScanOf(bare).description().contains("PushedAggregates: [COUNT(*)]"),
      countScanOf(bare).description())
    assert(bare.collect()(0).getLong(0) == all.size && all.size == 5)

    // count composes with a pushed row filter: count of SURVIVORS
    val filtered = spark.read.format("dwca").option("path", path).load()
      .filter(col("geodeticDatum") === "WGS84")
    val fCount = filtered.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
    val fd = countScanOf(fCount).description()
    assert(fd.contains("PushedAggregates: [COUNT(*)]") &&
      fd.contains("EqualTo(geodeticDatum,WGS84)"), fd)
    assert(fCount.collect()(0).getLong(0) == all.count(datum(_).contains("WGS84")))

    // a GROUPED count declines pushdown: the normal scan carries it
    // (AQE wraps this plan, so the scan is asserted via the plan string)
    val grouped = spark.read.format("dwca").option("path", path).load()
      .groupBy(col("geodeticDatum")).count()
    val gPlan = grouped.queryExecution.executedPlan.toString
    assert(!gPlan.contains("PushedAggregates") && gPlan.contains("DwcaScan"), gPlan)
    assert(grouped.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap ==
      all.groupBy(datum).map { case (k, rs) => k -> rs.size.toLong })
  }
}
