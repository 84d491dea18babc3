package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.model._
import graft.vocab.Vocabularies
import Lenient.qcol

/** Spark-native Darwin Core DataFrame validation.
  *
  * Re-expresses the reference's per-check full scans (reference:
  * dwc_validator/validate.py — ~10 scans per report, SURVEY.md §3) as ONE
  * fused aggregation pass: every check below is an algebraic aggregate, and
  * the vocabulary non-matching samples ride the same pass as extra grouping
  * sets, so a report is a single job over the data (one more per further
  * [[MaxAggsPerPass]] aggregates on wide archives). At 100 TB that is the
  * difference between 10 scans and 1.
  */
object Validator {

  /** Reference: validate.py:37-48. */
  val TaxonomyFields: Seq[String] = Seq(
    "scientificName", "scientificNameID", "taxonID", "genus", "family",
    "order", "class", "phylum", "kingdom")

  /** Reference: validate.py:51-52, :104-105. */
  val TemporalFields: Seq[String] = Seq("eventDate", "year", "month", "day")

  /** Reference: validate.py:58-59, :111-112. */
  val RecordedByFields: Seq[String] = Seq("recordedBy", "recordedByID")

  /** Reference: validate.py:325-346. */
  val NumericFields: Seq[String] = Seq(
    "decimalLatitude", "decimalLongitude", "coordinateUncertaintyInMeters",
    "coordinatePrecision", "elevation", "depth", "minimumDepthInMeters",
    "maximumDepthInMeters", "minimumDistanceAboveSurfaceInMeters",
    "maximumDistanceAboveSurfaceInMeters", "individualCount",
    "organismQuantity", "organismSize", "sampleSizeValue",
    "temperatureInCelsius", "organismAge", "year", "month", "day",
    "startDayOfYear", "endDayOfYear")

  /** Aggregates per physical pass: below spark.sql.codegen.maxFields
    * (default 100) so every pass keeps whole-stage codegen.
    */
  val MaxAggsPerPass = 90

  /** Occurrence vocabulary checks (reference: validate.py:62-70). */
  val OccurrenceVocabs: Seq[(String, Seq[String])] = Seq(
    "basisOfRecord" -> Vocabularies.basisOfRecordLower,
    "geodeticDatum" -> Vocabularies.geodeticDatumLower)

  /** Reference: validate.py:15-84 (`validate_occurrence_dataframe`).
    *
    * `referenceCompatibleNumericWarnings`: the reference's
    * `validate_numeric_fields` is dead code (it re-checks already-coerced
    * values — SURVEY.md T1, verified empirically). By default we implement
    * the *intended* semantics (warn when a present numeric field holds
    * unparseable non-null values); pass true to suppress the warnings for
    * byte-parity with the reference.
    */
  def validateOccurrence(
      df: DataFrame,
      idFields: Seq[String] = Nil,
      idTerm: String = "",
      referenceCompatibleNumericWarnings: Boolean = false): DFValidationReport =
    validateDataFrame(df, "Occurrence", idFields, idTerm,
      includeTaxonomy = true,
      vocabFields = OccurrenceVocabs,
      referenceCompatibleNumericWarnings)

  /** Reference: validate.py:87-131 (`validate_event_dataframe`). */
  def validateEvent(
      df: DataFrame,
      referenceCompatibleNumericWarnings: Boolean = false): DFValidationReport =
    validateDataFrame(df, "Event", Seq("eventID"), "",
      includeTaxonomy = false,
      vocabFields = Seq("geodeticDatum" -> Vocabularies.geodeticDatumLower),
      referenceCompatibleNumericWarnings)

  // ---------------------------------------------------------------------
  // fused single-pass implementation
  // ---------------------------------------------------------------------

  /** The ONE fused aggregation underlying a report, exposed as a DataFrame
    * (one row; columns `__n`, `cc__<col>`, `grp__<group>`, `lat__valid`,
    * `lon__valid`, `idnull__<field>`, `iddist__<field>`, `vocab__<field>`,
    * `numbad__<field>`). `validateDataFrame` collects this single row and
    * assembles the report driver-side; exposing the plan lets callers
    * compose it (or hash-compare it against an external oracle) without a
    * collect.
    */
  def fusedAggregation(
      df: DataFrame,
      idFields: Seq[String] = Nil,
      idTerm: String = "",
      includeTaxonomy: Boolean = true,
      vocabFields: Seq[(String, Seq[String])] = OccurrenceVocabs): DataFrame = {
    val aggs = buildAggregates(df, idFields, idTerm, includeTaxonomy, vocabFields)
    val aliased = aggs.map { case (n, c) => c.as(n) }.toSeq
    df.agg(aliased.head, aliased.tail: _*)
  }

  private def buildAggregates(
      df: DataFrame,
      idFields: Seq[String],
      idTerm: String,
      includeTaxonomy: Boolean,
      vocabFields: Seq[(String, Seq[String])]): mutable.LinkedHashMap[String, Column] = {

    val cols = df.columns.toSeq
    val has = cols.toSet
    val aggs = mutable.LinkedHashMap[String, Column]()

    // A1 — record count.
    aggs("__n") = count(lit(1))
    // A2 — per-column non-null counts (subsumes A4's lat/lon counts).
    cols.foreach(c => aggs(s"cc__$c") = count(qcol(c)))
    // A3 — any-of-group populated counts (row-wise any ≅ coalesce-not-null).
    def groupAgg(name: String, fields: Seq[String]): Unit = {
      val present = fields.filter(has)
      if (present.nonEmpty)
        aggs(s"grp__$name") =
          count(when(coalesce(present.map(f => qcol(f).cast("string")): _*).isNotNull, 1))
    }
    if (includeTaxonomy) groupAgg("taxonomy", TaxonomyFields)
    groupAgg("temporal", TemporalFields)
    groupAgg("recordedBy", RecordedByFields)
    // A5 — in-range coordinate counts (E1 lenient cast + P6 inclusive range).
    val hasCoords = has("decimalLatitude") && has("decimalLongitude")
    if (hasCoords) {
      aggs("lat__valid") =
        count(when(Lenient.toDouble(qcol("decimalLatitude")).between(-90d, 90d), 1))
      aggs("lon__valid") =
        count(when(Lenient.toDouble(qcol("decimalLongitude")).between(-180d, 180d), 1))
    }
    // A6-A9 — id-field population / uniqueness.
    val resolvedIds = idFields.map(f => f -> (if (idTerm == f) "id" else f))
    resolvedIds.foreach { case (_, resolved) =>
      if (has(resolved)) {
        aggs.getOrElseUpdate(s"idnull__$resolved", count(when(qcol(resolved).isNull, 1)))
        if (idFields.size == 1)
          aggs.getOrElseUpdate(s"iddist__$resolved", countDistinct(qcol(resolved)))
      }
    }
    // A10 — vocabulary match counts (E2 lower + E3 membership).
    vocabFields.foreach { case (f, vocabLower) =>
      if (has(f))
        aggs(s"vocab__$f") =
          count(when(lower(qcol(f).cast("string")).isin(vocabLower: _*), 1))
    }
    // A11 — intended numeric-validity semantics (SURVEY.md T1).
    NumericFields.filter(has).foreach { f =>
      aggs.getOrElseUpdate(s"numbad__$f",
        count(when(qcol(f).isNotNull && Lenient.toDouble(qcol(f)).isNull, 1)))
    }
    aggs
  }

  private def validateDataFrame(
      df: DataFrame,
      recordType: String,
      idFields: Seq[String],
      idTerm: String,
      includeTaxonomy: Boolean,
      vocabFields: Seq[(String, Seq[String])],
      referenceCompatibleNumericWarnings: Boolean): DFValidationReport = {

    val cols = df.columns.toSeq
    val has = cols.toSet
    val resolvedIds = idFields.map(f => f -> (if (idTerm == f) "id" else f))
    val numericPresent = NumericFields.filter(has)
    val hasCoords = has("decimalLatitude") && has("decimalLongitude")
    val aggs = buildAggregates(df, idFields, idTerm, includeTaxonomy, vocabFields)

    // ONE action for the whole report — chunked only when the archive is
    // wide enough (180+ column real-world archives, DwCA.md:35-219) that a
    // single aggregate would exceed spark.sql.codegen.maxFields (default
    // 100) and silently drop out of whole-stage codegen. Each chunk stays
    // codegen'd; a second scan of a columnar source beats an interpreted
    // single scan. The vocabulary samples ride the first chunk.
    val chunks = aggs.toSeq.grouped(MaxAggsPerPass).toSeq
    val sampleKeys = vocabFields.collect { case (f, vocabLower) if has(f) =>
      f -> unrecognisedValue(f, vocabLower)
    }
    val (firstCounts, samples) = aggregateWithSamples(df, chunks.head, sampleKeys)
    val collected: Map[String, Long] = firstCounts ++ chunks.tail.flatMap(plainCounts(df, _))
    def n(name: String): Long = collected(name)

    val recordCount = n("__n")
    val columnCounts = ListMap(cols.map(c => c -> n(s"cc__$c")): _*)

    val errors = mutable.ArrayBuffer[String]()
    val warnings = mutable.ArrayBuffer[String]()

    // O3 — check_id_fields (reference: validate.py:209-255), early-return
    // semantics replayed driver-side over the already-collected aggregates.
    var recordErrorCount = 0L
    if (idFields.nonEmpty) {
      var done = false
      val it = resolvedIds.iterator
      while (it.hasNext && !done) {
        val (field, resolved) = it.next()
        if (!has(resolved)) {
          // NB the reference raises KeyError when id_term==field but the 'id'
          // column is absent (validate.py:228-229); we degrade to the same
          // MISSING error it emits for ordinary absent fields.
          errors += s"MISSING_${field.toUpperCase}_FIELD"
          recordErrorCount = recordCount
          done = true
        } else if (n(s"idnull__$resolved") > 0) {
          errors += s"MISSING_${field.toUpperCase}_FIELD_VALUES"
          recordErrorCount = n(s"idnull__$resolved")
          done = true
        } else if (idFields.size == 1 && n(s"iddist__$resolved") != recordCount) {
          // duplicated().sum() ≡ count − nunique (SURVEY.md T6).
          errors += s"DUPLICATE_${field.toUpperCase}_VALUES"
          recordErrorCount = recordCount - n(s"iddist__$resolved")
          done = true
        }
      }
    }

    // A11 warnings — in reference field order.
    if (!referenceCompatibleNumericWarnings)
      numericPresent.foreach { f =>
        if (n(s"numbad__$f") > 0) warnings += s"NON_NUMERIC_VALUES_IN_${f.toUpperCase}"
      }

    // Coordinates report (reference: validate.py:162-206).
    val coordinates =
      if (!hasCoords) CoordinatesReport(false, 0, 0)
      else {
        val latInvalid = n("cc__decimalLatitude") - n("lat__valid")
        val lonInvalid = n("cc__decimalLongitude") - n("lon__valid")
        if (latInvalid == 0 && lonInvalid == 0) CoordinatesReport(true, 0, 0)
        else {
          warnings += "INVALID_OR_OUT_OF_RANGE_COORDINATES"
          CoordinatesReport(true, latInvalid, lonInvalid)
        }
      }

    val vocabReports = vocabFields.map { case (f, vocabLower) =>
      if (!has(f)) VocabularyReport(f, has_field = false, 0, 0, Nil)
      else {
        val nulls = recordCount - n(s"cc__$f")
        val recognised = n(s"vocab__$f")
        val unrecognised = recordCount - (nulls + recognised)
        val nonMatching =
          if (unrecognised > 0) nonMatchingSample(samples(f), nulls > 0) else Nil
        VocabularyReport(f, has_field = true, recognised, unrecognised, nonMatching)
      }
    }

    def grp(name: String): Long =
      if (aggs.contains(s"grp__$name")) n(s"grp__$name") else 0L

    DFValidationReport(
      record_type = recordType,
      record_count = recordCount,
      errors = errors.toSeq,
      warnings = warnings.toSeq,
      coordinates_report = Some(coordinates),
      column_counts = columnCounts,
      record_error_count = recordErrorCount,
      records_with_taxonomy_count = grp("taxonomy"),
      records_with_temporal_count = grp("temporal"),
      records_with_recorded_by_count = grp("recordedBy"),
      vocab_reports = Some(vocabReports))
  }

  /** Distinct unrecognised values fetched per vocabulary field: the
    * reference's slice of 10 plus one, so the "nan" merge stays exact.
    */
  private val VocabSampleFetch = 11

  /** A vocabulary field's value when it is present and unrecognised (E2
    * lower + E3 membership, as A10 counts it), else null.
    */
  private def unrecognisedValue(field: String, vocabLower: Seq[String]): Column = {
    val c = qcol(field).cast("string")
    when(qcol(field).isNotNull && !lower(c).isin(vocabLower: _*), c)
  }

  /** The first aggregate chunk and the vocabulary samples in ONE job.
    *
    * Grouping sets built by hand: set 0 holds every row, grouped to one row
    * of the fused aggregates; set i+1 holds a row only where vocabulary
    * field i is present and unrecognised, grouped by that value. (Spark's
    * GROUPING SETS would copy every row into every set, and with it the
    * distinct-id aggregation state.) A `row_number()` per set, ordered by
    * value, cuts each sample to [[VocabSampleFetch]] distinct values; the
    * bound is below Spark's window group limit threshold, so the cut also
    * runs before the window's shuffle. Returns the chunk's counts and each
    * field's sorted distinct unrecognised values.
    */
  private def aggregateWithSamples(
      df: DataFrame,
      chunk: Seq[(String, Column)],
      keys: Seq[(String, Column)]): (Map[String, Long], Map[String, Seq[String]]) = {
    if (keys.isEmpty) (plainCounts(df, chunk), Map.empty)
    else {
      val aliased = chunk.map { case (n, c) => c.as(n) }
      val sets = array((lit(null).cast("string") +: keys.map(_._2)).zipWithIndex.map {
        case (k, i) => struct(lit(i).as("__set"), k.as("__key"))
      }: _*)
      val rows = df
        .select(col("*"), inline(sets))
        .filter(col("__set") === 0 || col("__key").isNotNull)
        .groupBy("__set", "__key")
        .agg(aliased.head, aliased.tail: _*)
        .withColumn("__rn", row_number().over(Window.partitionBy("__set").orderBy("__key")))
        .filter(col("__rn") <= VocabSampleFetch)
        .collect()
        .groupBy(_.getAs[Int]("__set"))
      // no set-0 row on empty input, where every aggregate of
      // buildAggregates (count/countDistinct) is 0
      val all = rows.get(0).map(_.head)
      val counts = chunk.map { case (n, _) => n -> all.fold(0L)(_.getAs[Long](n)) }.toMap
      val samples = keys.zipWithIndex.map { case ((f, _), i) =>
        f -> rows.getOrElse(i + 1, Array.empty[Row])
          .sortBy(_.getAs[Int]("__rn")).map(_.getAs[String]("__key")).toSeq
      }.toMap
      (counts, samples)
    }
  }

  /** One global aggregate of `chunk`'s (name, aggregate) pairs. */
  private def plainCounts(df: DataFrame, chunk: Seq[(String, Column)]): Map[String, Long] = {
    val aliased = chunk.map { case (n, c) => c.as(n) }
    val row = df.agg(aliased.head, aliased.tail: _*).head()
    chunk.map { case (n, _) => n -> row.getAs[Long](n) }.toMap
  }

  /** A15 — bounded sample of unrecognised vocabulary values (reference:
    * validate.py:297-300): distinct, lexicographically sorted, first 10.
    * The reference stringifies pandas NaN to "nan", sorts it among the real
    * values, slices 10, then removes "nan" — replicated here driver-side by
    * merging a synthetic "nan" into the sorted sample when nulls exist
    * (SURVEY.md T5; `reals` holds 11 values so the slice stays exact).
    */
  private def nonMatchingSample(reals: Seq[String], hasNulls: Boolean): Seq[String] = {
    // distinct first: numpy unique collapses a literal "nan" string and
    // the NaN indicator into ONE entry; without it both would occupy
    // sample slots and filterNot would remove two
    val merged = if (hasNulls) (reals :+ "nan").distinct.sorted else reals
    merged.take(10).filterNot(_ == "nan")
  }
}
