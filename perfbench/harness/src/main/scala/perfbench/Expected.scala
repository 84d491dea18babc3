package perfbench

import scala.collection.immutable.ListMap

/** The report a correct validator writes for a generated archive, built
  * from the generator's counts. It follows the reference semantics the
  * program documents (dwc_validator validate.py, breakdown.py,
  * validate_dwca.py) but shares no code with the program.
  */
object Expected {

  val TaxonomyFields = Seq("scientificName", "scientificNameID", "taxonID", "genus", "family",
    "order", "class", "phylum", "kingdom")
  val Groups: Seq[(String, Seq[String])] = Seq(
    "taxonomy" -> TaxonomyFields,
    "temporal" -> Seq("eventDate", "year", "month", "day"),
    "recordedBy" -> Seq("recordedBy", "recordedByID"))
  val NumericFields = Seq("decimalLatitude", "decimalLongitude", "coordinateUncertaintyInMeters",
    "coordinatePrecision", "elevation", "depth", "minimumDepthInMeters", "maximumDepthInMeters",
    "minimumDistanceAboveSurfaceInMeters", "maximumDistanceAboveSurfaceInMeters",
    "individualCount", "organismQuantity", "organismSize", "sampleSizeValue",
    "temperatureInCelsius", "organismAge", "year", "month", "day", "startDayOfYear",
    "endDayOfYear")

  /** Lower-cased recognised values of the two checked vocabularies, as far
    * as the generator uses them (basisOfRecord and geodeticDatum terms of
    * the reference's vocab.py).
    */
  val Vocab: Seq[(String, Set[String])] = Seq(
    "basisOfRecord" -> Set("preservedspecimen", "fossilspecimen", "livingspecimen",
      "humanobservation", "machineobservation", "observation", "materialsample", "occurrence"),
    "geodeticDatum" -> (Set("wgs84", "nad83", "etrs89", "itrf", "gda94", "ed50", "nad27",
      "agd66", "agd84") ++ ((32601 to 32660) ++ (32701 to 32760)).map(n => s"epsg:$n")))

  private val Decimal = "-?[0-9]+(\\.[0-9]+)?".r
  private val IsoDate = "([0-9]{4})[-/]([0-9]{2})[-/]([0-9]{2})".r

  /** The numbers the generator writes: plain decimals parse, its words do not. */
  def number(s: String): Option[Double] = s match {
    case Decimal(_*) => Some(s.toDouble)
    case _ => None
  }

  /** The dates the generator writes: `yyyy-MM-dd` and `yyyy/MM/dd` parse, its words do not. */
  def date(s: String): Option[(Int, Int, Int)] = s match {
    case null => None
    case IsoDate(y, m, d) => Some((y.toInt, m.toInt, d.toInt))
    case _ => None
  }

  private def upper(s: String) = s.toUpperCase(java.util.Locale.ROOT)

  private def byCountDesc(m: collection.Map[String, Long]): ListMap[String, Long] =
    ListMap(m.toSeq.sortBy { case (k, n) => (-n, k) }: _*)

  private def byNumericKey(m: collection.Map[String, Long]): ListMap[String, Long] =
    ListMap(m.toSeq.sortBy(_._1.toLong): _*)

  /** One table's report (validate.py `validate_*_dataframe`). */
  private def tableReport(s: TableStats, idFields: Seq[String], idTerm: String,
      taxonomy: Boolean, vocabFields: Seq[String]): ListMap[String, Any] = {
    val n = s.rows
    val errors = Seq.newBuilder[String]
    var recordErrors = 0L
    idFields.headOption.foreach { field =>
      val resolved = if (idTerm == field) "id" else field
      if (!s.has(resolved)) { errors += s"MISSING_${upper(field)}_FIELD"; recordErrors = n }
      else if (s.idNulls(resolved) > 0) {
        errors += s"MISSING_${upper(field)}_FIELD_VALUES"; recordErrors = s.idNulls(resolved)
      } else {
        val distinct = s.idSeen.get(resolved).map(_.size.toLong).getOrElse(0L)
        if (distinct != n) { errors += s"DUPLICATE_${upper(field)}_VALUES"; recordErrors = n - distinct }
      }
    }
    val warnings = Seq.newBuilder[String]
    NumericFields.filter(s.has).foreach { f =>
      if (s.nonNumeric(f) > 0) warnings += s"NON_NUMERIC_VALUES_IN_${upper(f)}"
    }
    val coordinates =
      if (!(s.has("decimalLatitude") && s.has("decimalLongitude"))) (false, 0L, 0L)
      else {
        val lat = s.populatedCount("decimalLatitude") - s.latValid(0)
        val lon = s.populatedCount("decimalLongitude") - s.lonValid(0)
        if (lat != 0 || lon != 0) warnings += "INVALID_OR_OUT_OF_RANGE_COORDINATES"
        (true, lat, lon)
      }
    val vocab = vocabFields.map { f =>
      if (!s.has(f)) ListMap("field" -> f, "has_field" -> false, "recognised_count" -> 0L,
        "unrecognised_count" -> 0L, "non_matching_values" -> Seq.empty[String])
      else {
        val nulls = n - s.populatedCount(f)
        val recognised = s.vocabRecognised(f)
        val unrecognised = n - nulls - recognised
        // validate.py:297-300: ten sorted distinct values, where pandas'
        // "nan" for missing values takes a slot and is then dropped
        val reals = s.vocabUnrecognised.get(f).map(_.toSeq.take(11)).getOrElse(Nil)
        val sample = if (unrecognised == 0) Nil
          else (if (nulls > 0) (reals :+ "nan").distinct.sorted else reals).take(10).filterNot(_ == "nan")
        ListMap("field" -> f, "has_field" -> true, "recognised_count" -> recognised,
          "unrecognised_count" -> unrecognised, "non_matching_values" -> sample)
      }
    }
    def group(g: String) = s.groupHits.getOrElse(g, 0L)
    ListMap(
      "record_type" -> s.table.rowType.substring(s.table.rowType.lastIndexOf('/') + 1),
      "record_count" -> n,
      "errors" -> errors.result(),
      "warnings" -> warnings.result(),
      "coordinates_report" -> ListMap("has_coordinates_fields" -> coordinates._1,
        "invalid_decimal_latitude_count" -> coordinates._2,
        "invalid_decimal_longitude_count" -> coordinates._3),
      "column_counts" -> ListMap(s.columnCounts: _*),
      "record_error_count" -> recordErrors,
      "records_with_taxonomy_count" -> (if (taxonomy) group("taxonomy") else 0L),
      "records_with_temporal_count" -> group("temporal"),
      "records_with_recorded_by_count" -> group("recordedBy"),
      "vocab_reports" -> vocab)
  }

  /** breakdown.py `generate_breakdowns`, eventDate histograms overwriting the plain ones. */
  private def breakdowns(s: TableStats): Seq[(String, ListMap[String, Long])] = {
    val simple = Seq("year", "month", "day").filter(s.has)
      .map(f => f -> byCountDesc(s.valueCounts.getOrElse(f, Map.empty[String, Long])))
    val top = Seq("scientificName", "family").filter(s.has)
      .map(f => f -> ListMap(byCountDesc(s.valueCounts.getOrElse(f, Map.empty[String, Long])).take(20).toSeq: _*))
    val dates = if (!s.has("eventDate")) Nil
      else Seq("year", "month", "day").zip(s.dateParts).map { case (f, m) => f -> byNumericKey(m) }
    dates.foldLeft(simple ++ top)(overwrite)
  }

  /** Python dict.update for one key: an existing key keeps its position. */
  private def overwrite[V](m: Seq[(String, V)], kv: (String, V)): Seq[(String, V)] =
    if (m.exists(_._1 == kv._1)) m.map(e => if (e._1 == kv._1) kv else e) else m :+ kv

  /** validate_dwca.py `validate_archive` over the generated tables. */
  def report(spec: ArchiveGen.Spec, stats: Seq[TableStats]): ListMap[String, Any] = {
    val core = stats.head
    val coreReport =
      if (spec.core.isEvent) tableReport(core, Seq("eventID"), "", taxonomy = false, Seq("geodeticDatum"))
      else tableReport(core, Seq("occurrenceID"), if (spec.core.idTermAtIdIndex) "occurrenceID" else "",
        taxonomy = true, Seq("basisOfRecord", "geodeticDatum"))
    val exts = if (!spec.core.isEvent) Nil
      else stats.tail.filter(_.table.rowType == ArchiveGen.OccurrenceType)
    val merged = exts.foldLeft(breakdowns(core))((acc, e) => breakdowns(e).foldLeft(acc)(overwrite))
    ListMap(
      "valid" -> coreReport("errors").asInstanceOf[Seq[String]].isEmpty,
      "core_type" -> spec.core.rowType,
      "dataset_type" -> spec.core.rowType.substring(spec.core.rowType.lastIndexOf('/') + 1),
      "core" -> coreReport,
      "extensions" -> exts.map(tableReport(_, Nil, "", taxonomy = true, Seq("basisOfRecord", "geodeticDatum"))),
      "breakdowns" -> ListMap(merged: _*),
      // not part of the report: the property checks read these
      "_parsed_dates" -> ListMap(("core" +: exts.indices.map(i => s"extension_$i"))
        .zip(core +: exts).map { case (k, t) => k -> (if (t.has("eventDate")) t.parsedDates else -1L) }: _*))
  }
}
