package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded Darwin Core Archive generator.
  *
  * Every archive is made of deterministic arithmetic on a seeded
  * `SplittableRandom`: the same seed writes the same bytes. While it writes
  * the rows, the generator counts what a correct validation report must say
  * (populated cells per column, invalid coordinates, missing and duplicate
  * ids, recognised and unrecognised vocabulary values, name and date
  * histograms) and assembles the expected report from those counts alone,
  * without calling the program.
  */
object ArchiveGen {

  val Dwc = "http://rs.tdwg.org/dwc/terms/"
  val OccurrenceType: String = Dwc + "Occurrence"
  val EventType: String = Dwc + "Event"

  /** How one data file is written; mirrors the meta.xml attributes. */
  final case class Dialect(sep: String, eol: String, quote: String, headerLines: Int) {
    def metaAttrs: String = {
      def esc(s: String) = s.replace("\t", "\\t").replace("\r", "\\r").replace("\n", "\\n")
      s"""encoding="UTF-8" fieldsTerminatedBy="${esc(sep)}" linesTerminatedBy="${esc(eol)}" """ +
        s"""fieldsEnclosedBy="${if (quote == "\"") "&quot;" else quote}" ignoreHeaderLines="$headerLines""""
    }
  }
  val Comma = Dialect(",", "\n", "", 1)
  val Tab = Dialect("\t", "\n", "", 1)
  val Quoted = Dialect(",", "\n", "\"", 1)
  val TabCrlf = Dialect("\t", "\r\n", "", 1)
  val QuotedCrlf = Dialect(",", "\r\n", "\"", 1)
  val QuotedTwoHeaders = Dialect(",", "\n", "\"", 2)

  /** A cell generator: draws from the table's random stream for row `i`. */
  type Cell = (SplittableRandom, Long) => String // null = empty cell

  /** One column: the name the reader gives it (a term's local name, or
    * `id`/`coreid`) and the term meta.xml binds to its index (empty for an
    * unbound id column).
    */
  final case class Col(name: String, term: String, cell: Cell)

  final case class Table(
      rowType: String, file: String, rows: Int, dialect: Dialect, cols: Seq[Col],
      idTermAtIdIndex: Boolean = false) {
    def isEvent: Boolean = rowType == EventType
  }

  final case class Spec(name: String, zip: Boolean, core: Table, extensions: Seq[Table])

  /** A generated archive: where it is and what its report must say. */
  final case class Generated(name: String, path: File, rows: Long, expected: Map[String, Any])

  // ------------------------------------------------------------------ values

  private val Names = Array("Puma concolor", "Quercus robur", "Apis mellifera",
    "Falco peregrinus", "Salmo trutta", "Betula pendula", "Canis lupus",
    "Vulpes vulpes", "Turdus merula", "Fagus sylvatica", "Bombus terrestris",
    "Esox lucius", "Pinus sylvestris", "Erithacus rubecula", "Lynx lynx",
    "Larus argentatus", "Picea abies", "Rana temporaria", "Sorex araneus",
    "Ursus arctos", "Corvus corax", "Alnus glutinosa", "Lutra lutra",
    "Parus major", "Acer campestre", "Bufo bufo", "Meles meles", "Sturnus vulgaris")
  private val Families = Array("Felidae", "Fagaceae", "Apidae", "Falconidae",
    "Salmonidae", "Betulaceae", "Canidae", "Turdidae", "Pinaceae", "Mustelidae")
  private val BasisGood = Array("PreservedSpecimen", "HumanObservation",
    "MachineObservation", "FossilSpecimen", "humanobservation", "MaterialSample")
  private val BasisBad = Array("Specimen", "observation record", "Photo",
    "sight record", "Unknown", "herbarium sheet", "camera trap", "DNA",
    "pitfall", "specimen (dry)", "trace", "Zoo")
  private val DatumGood = Array("WGS84", "EPSG:32633", "NAD83", "wgs84", "GDA94")
  private val DatumBad = Array("WGS 84", "EPSG:4326", "unknown datum", "not recorded")
  private val BadNumbers = Array("unknown", "n.d.", "approx", "12 m")
  private val BadDates = Array("unknown", "spring 1998", "n.d.", "circa 1900s")

  private def pick(r: SplittableRandom, a: Array[String]): String = a(r.nextInt(a.length))
  private def centi(v: Long): String = {
    val a = math.abs(v)
    f"${if (v < 0) "-" else ""}${a / 100}%d.${a % 100}%02d"
  }
  private def nullOr(p: Double)(c: Cell): Cell = (r, i) => if (r.nextDouble() < p) null else c(r, i)

  /** Latitude/longitude in centi-degrees; `bad` share out of range or not a number. */
  def coord(limit: Int, bad: Double): Cell = (r, _) => {
    val u = r.nextDouble()
    if (u < bad / 2) centi((limit * 100L + 1 + r.nextInt(5000)) * (if (r.nextBoolean()) 1 else -1))
    else if (u < bad) pick(r, BadNumbers)
    else centi(r.nextLong(2L * limit * 100 + 1) - limit * 100L)
  }

  def date(bad: Double, nulls: Double): Cell = (r, _) => {
    val u = r.nextDouble()
    if (u < nulls) null
    else if (u < nulls + bad) pick(r, BadDates)
    else {
      val (y, m, d) = (1990 + r.nextInt(35), 1 + r.nextInt(12), 1 + r.nextInt(28))
      if (r.nextInt(10) == 0) f"$y%04d/$m%02d/$d%02d" else f"$y%04d-$m%02d-$d%02d"
    }
  }

  def vocab(good: Array[String], bad: Array[String], badShare: Double, nulls: Double): Cell =
    (r, _) => {
      val u = r.nextDouble()
      if (u < nulls) null else if (u < nulls + badShare) pick(r, bad) else pick(r, good)
    }

  /** Identifiers `prefix:i`; `dup` share repeat an earlier row's id, `missing` share are empty. */
  def ident(prefix: String, dup: Double, missing: Double): Cell = (r, i) => {
    val u = r.nextDouble()
    if (u < missing) null
    else if (u < missing + dup && i > 0) s"$prefix:${r.nextLong(i)}"
    else s"$prefix:$i"
  }

  def choice(values: Array[String], nulls: Double): Cell =
    nullOr(nulls)((r, _) => pick(r, values))

  def number(lo: Int, hi: Int, bad: Double, nulls: Double): Cell = nullOr(nulls)((r, _) =>
    if (r.nextDouble() < bad) pick(r, BadNumbers) else (lo + r.nextInt(hi - lo + 1)).toString)

  /** Free text drawn from a small vocabulary; "NA" stands for a missing value as pandas reads it. */
  def text(prefix: String, distinct: Int, nulls: Double): Cell = (r, _) => {
    val u = r.nextDouble()
    if (u < nulls) null else if (u < nulls + 0.01) "NA" else s"$prefix ${r.nextInt(distinct)}"
  }

  // ------------------------------------------------------------------ archive shapes

  private def term(name: String, cell: Cell) = Col(name, Dwc + name, cell)

  /** The `SyntheticArchive` dialect: comma-separated, unquoted, `\n`, one header line, 9 terms. */
  def occurrenceZip(rows: Int): Spec = Spec("occurrence_zip", zip = true,
    Table(OccurrenceType, "occurrence.txt", rows, Comma, Seq(
      Col("id", "", (_, i) => (i + 1).toString),
      term("occurrenceID", ident("occ", dup = 0.002, missing = 0)),
      term("scientificName", choice(Names, 0.01)),
      term("decimalLatitude", nullOr(0.02)(coord(90, 0.004))),
      term("decimalLongitude", nullOr(0.02)(coord(180, 0.004))),
      term("eventDate", date(bad = 0.01, nulls = 0.02)),
      term("recordedBy", text("collector", 997, 0.05)),
      term("geodeticDatum", vocab(DatumGood, DatumBad, 0.01, 0.03)),
      term("basisOfRecord", vocab(BasisGood, BasisBad, 0.002, 0.01)))), Nil)

  /** The numeric terms the validator checks, plus ~165 further Darwin Core
    * terms, so the archive has the ~190 columns of the reference's
    * documented real-world archive.
    */
  private val NumericTerms = Seq("coordinateUncertaintyInMeters", "coordinatePrecision",
    "elevation", "depth", "minimumDepthInMeters", "maximumDepthInMeters",
    "minimumDistanceAboveSurfaceInMeters", "maximumDistanceAboveSurfaceInMeters",
    "individualCount", "organismQuantity", "organismSize", "sampleSizeValue",
    "temperatureInCelsius", "organismAge", "startDayOfYear", "endDayOfYear")
  private val OtherTerms = Seq("type", "modified", "language", "license", "rightsHolder",
    "accessRights", "bibliographicCitation", "references", "institutionID", "collectionID",
    "datasetID", "institutionCode", "collectionCode", "datasetName", "ownerInstitutionCode",
    "informationWithheld", "dataGeneralizations", "dynamicProperties", "catalogNumber",
    "recordNumber", "recordedByID", "individualCountUnit", "organismQuantityType", "sex",
    "lifeStage", "reproductiveCondition", "caste", "behavior", "vitality",
    "establishmentMeans", "degreeOfEstablishment", "pathway", "georeferenceVerificationStatus",
    "occurrenceStatus", "preparations", "disposition", "associatedMedia",
    "associatedOccurrences", "associatedReferences", "associatedSequences",
    "associatedTaxa", "otherCatalogNumbers", "occurrenceRemarks", "organismID",
    "organismName", "organismScope", "associatedOrganisms", "previousIdentifications",
    "organismRemarks", "materialEntityID", "materialSampleID", "verbatimLabel",
    "eventID", "parentEventID", "eventType", "fieldNumber", "eventTime",
    "verbatimEventDate", "habitat", "samplingProtocol", "sampleSizeUnit", "samplingEffort",
    "fieldNotes", "eventRemarks", "locationID", "higherGeographyID", "higherGeography",
    "continent", "waterBody", "islandGroup", "island", "country", "countryCode",
    "stateProvince", "county", "municipality", "locality", "verbatimLocality",
    "minimumElevationInMeters", "maximumElevationInMeters", "verticalDatum",
    "verbatimElevation", "verbatimDepth", "locationAccordingTo", "locationRemarks",
    "verbatimCoordinates", "verbatimLatitude", "verbatimLongitude",
    "verbatimCoordinateSystem", "verbatimSRS", "footprintWKT", "footprintSRS",
    "footprintSpatialFit", "georeferencedBy", "georeferencedDate", "georeferenceProtocol",
    "georeferenceSources", "georeferenceRemarks", "geologicalContextID",
    "earliestEonOrLowestEonothem", "latestEonOrHighestEonothem", "earliestEraOrLowestErathem",
    "latestEraOrHighestErathem", "earliestPeriodOrLowestSystem", "latestPeriodOrHighestSystem",
    "earliestEpochOrLowestSeries", "latestEpochOrHighestSeries", "earliestAgeOrLowestStage",
    "latestAgeOrHighestStage", "lowestBiostratigraphicZone", "highestBiostratigraphicZone",
    "lithostratigraphicTerms", "group", "formation", "member", "bed", "identificationID",
    "verbatimIdentification", "identificationQualifier", "typeStatus", "identifiedBy",
    "identifiedByID", "dateIdentified", "identificationReferences",
    "identificationVerificationStatus", "identificationRemarks", "scientificNameID",
    "acceptedNameUsageID", "parentNameUsageID", "originalNameUsageID", "nameAccordingToID",
    "namePublishedInID", "taxonConceptID", "acceptedNameUsage", "parentNameUsage",
    "originalNameUsage", "nameAccordingTo", "namePublishedIn", "namePublishedInYear",
    "higherClassification", "kingdom", "phylum", "class", "order", "superfamily",
    "subfamily", "tribe", "subtribe", "genus", "genericName", "subgenus",
    "infragenericEpithet", "specificEpithet", "infraspecificEpithet", "cultivarEpithet",
    "taxonRank", "verbatimTaxonRank", "scientificNameAuthorship", "vernacularName",
    "nomenclaturalCode", "taxonomicStatus", "nomenclaturalStatus", "taxonRemarks")

  /** Tab-separated zipped archive in the reference's documented shape:
    * `<id index="0"/>` bound to occurrenceID, ~190 terms, some ids missing.
    */
  def occurrenceWide(rows: Int): Spec = {
    val core = Seq(
      Col("id", Dwc + "occurrenceID", ident("urn:occ", dup = 0, missing = 0.0005)),
      term("basisOfRecord", vocab(BasisGood, BasisBad, 0.003, 0.002)),
      term("scientificName", choice(Names, 0.005)),
      term("family", choice(Families, 0.05)),
      term("recordedBy", text("observer", 400, 0.1)),
      term("eventDate", date(bad = 0.02, nulls = 0.03)),
      term("year", number(1990, 2024, 0.001, 0.1)),
      term("month", number(1, 12, 0, 0.1)),
      term("day", number(1, 28, 0, 0.1)),
      term("decimalLatitude", nullOr(0.05)(coord(90, 0.003))),
      term("decimalLongitude", nullOr(0.05)(coord(180, 0.003))),
      term("geodeticDatum", vocab(DatumGood, DatumBad, 0.02, 0.05)))
    val numeric = NumericTerms.zipWithIndex.map { case (t, k) =>
      term(t, number(0, 5000, if (k % 5 == 0) 0.002 else 0, 0.5 + 0.03 * k))
    }
    val others = OtherTerms.zipWithIndex.map { case (t, k) =>
      term(t, text(t.take(6), 5 + k % 40, 0.3 + (k % 7) * 0.1))
    }
    Spec("occurrence_wide", zip = true,
      Table(OccurrenceType, "occurrence.txt", rows, Tab, core ++ numeric ++ others,
        idTermAtIdIndex = true), Nil)
  }

  private def eventCore(rows: Int, d: Dialect, dup: Double, missing: Double): Table =
    Table(EventType, "event.txt", rows, d, Seq(
      Col("id", "", (_, i) => s"ev$i"),
      term("eventID", ident("ev", dup, missing)),
      term("eventDate", date(bad = 0.02, nulls = 0.02)),
      term("samplingProtocol", choice(Array("transect", "pitfall trap", "light trap"), 0.1)),
      term("decimalLatitude", nullOr(0.03)(coord(90, 0.01))),
      term("decimalLongitude", nullOr(0.03)(coord(180, 0.01))),
      term("geodeticDatum", vocab(DatumGood, DatumBad, 0.05, 0.05)),
      term("locality", text("site", 50, 0.2))))

  private def occurrenceExtension(coreRows: Int, rows: Int, d: Dialect, withDates: Boolean): Table =
    Table(OccurrenceType, "occurrence.txt", rows, d, Seq(
      Col("coreid", "", (r, _) => s"ev${r.nextInt(coreRows)}"),
      term("occurrenceID", ident("x", 0, 0)),
      term("basisOfRecord", vocab(BasisGood, BasisBad, 0.02, 0.01)),
      term("scientificName", choice(Names, 0.02)),
      term("family", choice(Families, 0.1)),
      term("individualCount", number(1, 40, 0.01, 0.2)),
      term("recordedBy", text("observer", 30, 0.1))) ++
      (if (withDates) Seq(term("eventDate", date(bad = 0.01, nulls = 0.05))) else Nil))

  /** An extension of a row type the validator skips (only Occurrence extensions are validated). */
  private def measurementExtension(coreRows: Int, d: Dialect): Table =
    Table(Dwc + "MeasurementOrFact", "measurementorfact.txt", coreRows, d, Seq(
      Col("coreid", "", (_, i) => s"ev$i"),
      term("measurementType", choice(Array("length", "mass"), 0)),
      term("measurementValue", number(1, 900, 0, 0))))

  /** The fixed batch of small archives: Event cores with Occurrence
    * extensions and a few Occurrence cores, across every dialect the reader
    * supports (comma, tab, quoted, CRLF, two header lines), zip and directory.
    */
  def smallBatch: Seq[Spec] = Seq(
    Spec("ev_comma_dir", zip = false, eventCore(1000, Comma, 0, 0),
      Seq(occurrenceExtension(1000, 2000, Comma, withDates = true))),
    Spec("ev_tab_crlf_zip", zip = true, eventCore(5000, TabCrlf, 0.001, 0),
      Seq(occurrenceExtension(5000, 8000, TabCrlf, withDates = false))),
    Spec("ev_quoted_two_headers_dir", zip = false, eventCore(300, QuotedTwoHeaders, 0, 0.01),
      Seq(occurrenceExtension(300, 600, Quoted, withDates = true), measurementExtension(300, Quoted))),
    Spec("occ_tab_zip", zip = true, occurrenceZip(3000).core.copy(dialect = Tab), Nil),
    Spec("occ_quoted_crlf_dir", zip = false, occurrenceZip(500).core.copy(dialect = QuotedCrlf), Nil))

  // ------------------------------------------------------------------ writing

  private def metaXml(spec: Spec): String = {
    def table(t: Table, tag: String, idTag: String): String = {
      val fields = t.cols.zipWithIndex.collect {
        case (c, i) if c.term.nonEmpty => s"""    <field index="$i" term="${c.term}"/>"""
      }
      (Seq(s"""  <$tag rowType="${t.rowType}" ${t.dialect.metaAttrs}>""",
        s"    <files><location>${t.file}</location></files>",
        s"""    <$idTag index="0"/>""") ++ fields ++ Seq(s"  </$tag>")).mkString("\n")
    }
    (Seq("""<?xml version="1.0" encoding="UTF-8"?>""",
      """<archive xmlns="http://rs.tdwg.org/dwc/text/">""",
      table(spec.core, "core", "id")) ++
      spec.extensions.map(table(_, "extension", "coreid")) ++ Seq("</archive>", "")).mkString("\n")
  }

  /** Writes one table, feeding every row to `stats`. */
  private def writeTable(t: Table, seed: Long, w: Writer, stats: TableStats): Unit = {
    val d = t.dialect
    if (d.headerLines > 1) (1 until d.headerLines).foreach(k => w.write(s"# generated table, header line $k${d.eol}"))
    w.write(t.cols.map(_.name).mkString(d.sep)); w.write(d.eol)
    val r = new SplittableRandom(seed)
    val row = new Array[String](t.cols.length)
    val sb = new java.lang.StringBuilder(4096)
    var i = 0L
    while (i < t.rows) {
      sb.setLength(0)
      var k = 0
      while (k < row.length) {
        val v = t.cols(k).cell(r, i)
        row(k) = v
        if (k > 0) sb.append(d.sep)
        if (v != null) {
          if (d.quote.nonEmpty) sb.append(d.quote).append(v).append(d.quote) else sb.append(v)
        }
        k += 1
      }
      sb.append(d.eol)
      w.append(sb)
      stats.observe(row)
      i += 1
    }
  }

  /** Writes the archive under `dir` (a zip file `<name>.zip`, or a directory
    * `<name>`) and returns it with its expected report.
    */
  def generate(spec: Spec, seed: Long, dir: File): Generated = {
    dir.mkdirs()
    val tables = spec.core +: spec.extensions
    // the one id column the validator checks: eventID for Event cores; for
    // Occurrence cores `id` when meta.xml binds occurrenceID to the id index
    val idField = if (spec.core.isEvent) "eventID" else if (spec.core.idTermAtIdIndex) "id" else "occurrenceID"
    val stats = tables.zipWithIndex.map { case (t, k) => new TableStats(t, Some(idField).filter(_ => k == 0)) }
    val seeds = tables.indices.map(k => seed * 1000003L + spec.name.hashCode * 31L + k)
    val meta = metaXml(spec)
    val target =
      if (spec.zip) {
        val f = new File(dir, spec.name + ".zip")
        val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 20))
        zos.setLevel(1)
        try {
          zos.putNextEntry(new ZipEntry("meta.xml")); zos.write(meta.getBytes(UTF_8)); zos.closeEntry()
          val w = new OutputStreamWriter(zos, UTF_8)
          tables.indices.foreach { k =>
            zos.putNextEntry(new ZipEntry(tables(k).file))
            writeTable(tables(k), seeds(k), w, stats(k))
            w.flush(); zos.closeEntry()
          }
        } finally zos.close()
        f
      } else {
        val d = new File(dir, spec.name)
        d.mkdirs()
        Files.writeString(new File(d, "meta.xml").toPath, meta)
        tables.indices.foreach { k =>
          val w = new OutputStreamWriter(new BufferedOutputStream(
            new FileOutputStream(new File(d, tables(k).file)), 1 << 20), UTF_8)
          try writeTable(tables(k), seeds(k), w, stats(k)) finally w.close()
        }
        d
      }
    // the tables validateArchive validates: the core, and an Event core's Occurrence extensions
    val validated = stats.head +: stats.tail.filter(t => spec.core.isEvent && t.table.rowType == OccurrenceType)
    Generated(spec.name, target, validated.map(_.rows).sum, Expected.report(spec, stats))
  }
}

/** Counts over one generated table, gathered row by row as it is written. */
final class TableStats(val table: ArchiveGen.Table, idField: Option[String]) {
  private val names = table.cols.map(_.name).toArray
  private val index = names.zipWithIndex.toMap
  var rows = 0L
  val populated = new Array[Long](names.length)
  val groupHits = mutable.LinkedHashMap[String, Long]()
  val latValid, lonValid = Array(0L)
  val idNulls = mutable.Map[String, Long]().withDefaultValue(0L)
  val idSeen = mutable.Map[String, mutable.HashSet[String]]()
  val vocabRecognised = mutable.Map[String, Long]().withDefaultValue(0L)
  val vocabUnrecognised = mutable.Map[String, mutable.TreeSet[String]]()
  val nonNumeric = mutable.Map[String, Long]().withDefaultValue(0L)
  val valueCounts = mutable.Map[String, mutable.HashMap[String, Long]]()
  var parsedDates = 0L
  val dateParts = Array.fill(3)(mutable.HashMap[String, Long]())

  /** What the reader makes of a written cell: empty and pandas NA tokens are missing. */
  private def present(v: String): Boolean = v != null && v != "NA"

  def observe(row: Array[String]): Unit = {
    rows += 1
    var k = 0
    while (k < row.length) { if (present(row(k))) populated(k) += 1; k += 1 }
    def cell(n: String): String = index.get(n).map(row(_)).filter(present).orNull
    Expected.Groups.foreach { case (g, fields) =>
      if (fields.exists(index.contains) && fields.exists(f => cell(f) != null))
        groupHits(g) = groupHits.getOrElse(g, 0L) + 1
    }
    if (cell("decimalLatitude") != null && Expected.number(cell("decimalLatitude")).exists(v => v >= -90 && v <= 90))
      latValid(0) += 1
    if (cell("decimalLongitude") != null && Expected.number(cell("decimalLongitude")).exists(v => v >= -180 && v <= 180))
      lonValid(0) += 1
    idField.filter(index.contains).foreach { f =>
      val v = cell(f)
      if (v == null) idNulls(f) += 1 else idSeen.getOrElseUpdate(f, mutable.HashSet()) += v
    }
    Expected.Vocab.foreach { case (f, good) =>
      val v = cell(f)
      if (v != null) {
        if (good(v.toLowerCase)) vocabRecognised(f) += 1
        else vocabUnrecognised.getOrElseUpdate(f, mutable.TreeSet()) += v
      }
    }
    Expected.NumericFields.foreach { f =>
      val v = cell(f)
      if (v != null && Expected.number(v).isEmpty) nonNumeric(f) += 1
    }
    Seq("scientificName", "family", "year", "month", "day").foreach { f =>
      val v = cell(f)
      if (v != null) {
        val m = valueCounts.getOrElseUpdate(f, mutable.HashMap())
        m(v) = m.getOrElse(v, 0L) + 1
      }
    }
    Expected.date(cell("eventDate")).foreach { case (y, m, d) =>
      parsedDates += 1
      Seq(y, m, d).zipWithIndex.foreach { case (p, j) =>
        dateParts(j)(p.toString) = dateParts(j).getOrElse(p.toString, 0L) + 1
      }
    }
  }

  def has(name: String): Boolean = index.contains(name)
  def populatedCount(name: String): Long = populated(index(name))
  def columnCounts: Seq[(String, Long)] = names.toSeq.zip(populated.toSeq)
}
