package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

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
  * the vocabulary non-matching samples and the breakdowns ([[Breakdowns]])
  * ride the same pass as extra count-only sets, so one job per table serves
  * the checks, the samples and the breakdowns (one more per further
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
    occurrence(df, idFields, idTerm, referenceCompatibleNumericWarnings, breakdowns = false)._1

  /** Reference: validate.py:87-131 (`validate_event_dataframe`). */
  def validateEvent(
      df: DataFrame,
      referenceCompatibleNumericWarnings: Boolean = false): DFValidationReport =
    event(df, referenceCompatibleNumericWarnings, breakdowns = false)._1

  /** [[validateOccurrence]], plus `df`'s [[Breakdowns.generate]] from the
    * same job when `breakdowns` (else empty).
    */
  private[validate] def occurrence(
      df: DataFrame,
      idFields: Seq[String],
      idTerm: String,
      referenceCompatibleNumericWarnings: Boolean,
      breakdowns: Boolean): (DFValidationReport, ListMap[String, ListMap[String, Long]]) =
    validateDataFrame(df, "Occurrence", idFields, idTerm,
      includeTaxonomy = true,
      vocabFields = OccurrenceVocabs,
      referenceCompatibleNumericWarnings, breakdowns)

  /** [[validateEvent]], plus breakdowns as in [[occurrence]]. */
  private[validate] def event(
      df: DataFrame,
      referenceCompatibleNumericWarnings: Boolean,
      breakdowns: Boolean): (DFValidationReport, ListMap[String, ListMap[String, Long]]) =
    validateDataFrame(df, "Event", Seq("eventID"), "",
      includeTaxonomy = false,
      vocabFields = Seq("geodeticDatum" -> Vocabularies.geodeticDatumLower),
      referenceCompatibleNumericWarnings, breakdowns)

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
      referenceCompatibleNumericWarnings: Boolean,
      breakdowns: Boolean): (DFValidationReport, ListMap[String, ListMap[String, Long]]) = {

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
    // single scan. The vocabulary samples and the breakdowns ride the first
    // chunk.
    // The duplicate-id count rides the first chunk too, as a key set over
    // the id's values instead of countDistinct, whose plan groups every row
    // of every aggregate by the id in a shuffle of its own. Other id types
    // keep countDistinct: a value cast to string is not always its own
    // group (-0.0 and 0.0).
    val surplusId = resolvedIds.map(_._2).find(r =>
      aggs.contains(s"iddist__$r") && df.schema(r).dataType == StringType)
    val chunks = aggs.toSeq.filterNot { case (name, _) => surplusId.exists(r => name == s"iddist__$r") }
      .grouped(MaxAggsPerPass).toSeq
    val sampleKeys = vocabFields.collect { case (f, vocabLower) if has(f) =>
      f -> unrecognisedValue(f, vocabLower)
    }
    val breakdownKeys = if (breakdowns) Breakdowns.keys(df) else Nil
    val (firstCounts, groups) = aggregateWithSets(Breakdowns.withEventTime(df, breakdownKeys), cols,
      chunks.head, sampleKeys.map(_._2 -> Cut.Sample) ++ surplusId.map(qcol(_) -> Cut.Surplus) ++
        breakdownKeys.map(_.set))
    val samples = sampleKeys.map(_._1).zip(groups.map(_.map(_._1))).toMap
    val counts = firstCounts ++ chunks.tail.flatMap(plainCounts(df, _))
    // distinct non-null values = non-null values − the surplus
    val collected: Map[String, Long] = counts ++ surplusId.map(r => s"iddist__$r" ->
      (counts(s"cc__$r") - groups(sampleKeys.size).headOption.fold(0L)(_._2)))
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

    val report = DFValidationReport(
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
    (report, Breakdowns.assemble(breakdownKeys, groups.drop(sampleKeys.size + surplusId.size)))
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

  /** How the fused job cuts the groups of one key set: `Sample` keeps the
    * first [[VocabSampleFetch]] by value, `Top` the first
    * [[Breakdowns.TopLimit]] by count desc then value, `Whole` every group up
    * to [[Breakdowns.HistogramMaxGroups]] + 1, in any order, and `Surplus`
    * one group whose count is the set's rows beyond the first of each value
    * (count − distinct).
    */
  private[validate] sealed trait Cut
  private[validate] object Cut {
    case object Sample extends Cut
    case object Top extends Cut
    case object Whole extends Cut
    case object Surplus extends Cut
  }

  /** `chunk`'s aggregates over every row of `df` and each key set's groups,
    * in ONE job.
    *
    * Grouping sets built by hand: set 0 holds every row, grouped to one row
    * of the fused aggregates; set i+1 holds a row only where key i is
    * non-null, grouped by that value. Only set 0 carries the `payload`
    * columns the aggregates read; every other set carries typed nulls, so a
    * key set's row feeds no aggregate state and `count(lit(1))` is its
    * group's count. (Spark's GROUPING SETS would copy every row into every
    * set.) An empty `chunk` drops set 0.
    *
    * One window order over the groups, per set, cuts them. It ties every
    * group of a `Whole` or `Surplus` set, so `rank() <= TopLimit`, which
    * Spark plans as a WindowGroupLimit, cuts the `Sample` and `Top` sets in
    * every task before the shuffle that brings a set to one task, and keeps
    * the tied sets whole; `row_number()` then caps a histogram, and a sum
    * over the ties totals a `Surplus` set's groups seen more than once.
    * Returns the chunk's counts and each key set's (value, count) groups in
    * cut order.
    */
  private[validate] def aggregateWithSets(
      df: DataFrame,
      payload: Seq[String],
      chunk: Seq[(String, Column)],
      keys: Seq[(Column, Cut)]): (Map[String, Long], Seq[Seq[(String, Long)]]) = {
    if (keys.isEmpty) (plainCounts(df, chunk), Nil)
    else {
      val types = df.schema.map(f => f.name -> f.dataType).toMap
      def set(i: Int, key: Column, row: String => Column) =
        struct(lit(i).as("__set") +: key.cast("string").as("__key") +: payload.map(c => row(c).as(c)): _*)
      val set0 = if (chunk.isEmpty) Nil else Seq(set(0, lit(null), qcol))
      val sets = set0 ++ keys.zipWithIndex.map { case ((k, _), i) =>
        set(i + 1, k, c => lit(null).cast(types(c)))
      }
      def in(cut: Cut) = col("__set").isin(keys.indices.filter(keys(_)._2 == cut).map(_ + 1): _*)
      val aliased = count(lit(1)).as("__cnt") +: chunk.map { case (n, c) => c.as(n) }
      val w = Window.partitionBy("__set").orderBy(col("__top").desc, col("__value").asc)
      val rows = df
        .select(inline(array(sets: _*)))
        .filter(col("__set") === 0 || col("__key").isNotNull)
        .groupBy("__set", "__key")
        .agg(aliased.head, aliased.tail: _*)
        .filter(!in(Cut.Surplus) || col("__cnt") > 1)
        .select(col("*"), when(in(Cut.Top), col("__cnt")).as("__top"),
          when(in(Cut.Sample) || in(Cut.Top), col("__key")).as("__value"))
        .select(col("*"), rank().over(w).as("__rk"))
        .filter(col("__rk") <= Breakdowns.TopLimit &&
          (col("__rk") <= VocabSampleFetch || !in(Cut.Sample)))
        // cap+1 rows so overflow is DETECTED: a bare cut at the cap would
        // silently keep an arbitrary subset of groups
        .select(col("*"), row_number().over(w).as("__rn"), sum(col("__cnt") - 1).over(w).as("__surplus"))
        .filter(col("__rn") <= Breakdowns.HistogramMaxGroups + 1 && (col("__rn") === 1 || !in(Cut.Surplus)))
        .collect()
        .groupBy(_.getAs[Int]("__set"))
      // no set-0 row on empty input, where every aggregate of
      // buildAggregates (count/countDistinct) is 0
      val all = rows.get(0).map(_.head)
      val counts = chunk.map { case (n, _) => n -> all.fold(0L)(_.getAs[Long](n)) }.toMap
      val groups = keys.indices.map { i =>
        val value = if (keys(i)._2 == Cut.Surplus) "__surplus" else "__cnt"
        rows.getOrElse(i + 1, Array.empty[Row]).sortBy(_.getAs[Int]("__rn"))
          .map(r => r.getAs[String]("__key") -> r.getAs[Long](value)).toSeq
      }
      (counts, groups)
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
