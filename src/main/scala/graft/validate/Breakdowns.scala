package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import Lenient.qcol

/** Group-by summary statistics for the archive report (reference:
  * dwc_validator/breakdown.py).
  *
  * Scale notes: every breakdown — the year/month/day histograms, the two
  * top-20s and the eventDate-derived histograms — is one count-only set of
  * the validator's fused job ([[Validator]]), so one job per table serves
  * the checks, the vocabulary samples and the breakdowns instead of the
  * reference's eight scans; [[generate]] runs that same job with only the
  * breakdown sets. The job bounds what reaches the driver: 20 rows per
  * top-20, cut in every task before the set's one-task sort, and
  * [[HistogramMaxGroups]] + 1 per histogram (overflow is detected, never
  * truncated). Histogram key cardinality is expected small
  * (years/months/days).
  */
object Breakdowns {

  /** Defensive ceiling on driver-collected histogram groups. The intended
    * histogram keys are bounded (days ≤ 31, months ≤ 12, years ≈ decades),
    * but this API takes arbitrary DataFrames — without a cap, a
    * high-cardinality column would materialize unbounded state on the
    * driver (VERDICT r1 item: cap before the API grows).
    */
  val HistogramMaxGroups = 10000

  /** Rows kept per top-value breakdown (breakdown.py:54-62). */
  private[validate] val TopLimit = 20

  /** One breakdown: its report key, its grouping key (over the table plus
    * [[withEventTime]]'s `__ts`), and whether it is a top-20 or an
    * eventDate-derived histogram.
    */
  private[validate] final case class Key(field: String, value: Column, top: Boolean, derived: Boolean) {
    def set: (Column, Validator.Cut) = value -> (if (top) Validator.Cut.Top else Validator.Cut.Whole)
  }

  /** The breakdowns `df`'s columns call for, in report order. */
  private[validate] def keys(df: DataFrame): Seq[Key] = {
    val has = df.columns.toSet
    val ts = col("__ts")
    Seq("year", "month", "day").filter(has)
      .map(f => Key(f, qcol(f).cast("string"), top = false, derived = false)) ++
    Seq("scientificName", "family").filter(has)
      .map(f => Key(f, qcol(f).cast("string"), top = true, derived = false)) ++
    (if (!has("eventDate")) Nil
     else Seq("year" -> year(ts), "month" -> month(ts), "day" -> dayofmonth(ts))
       .map { case (f, c) => Key(f, c.cast("string"), top = false, derived = true) })
  }

  /** `df` with `__ts` appended when a derived key reads it, so the
    * eventDate parse runs once per row, not once per derived histogram.
    */
  private[validate] def withEventTime(df: DataFrame, keys: Seq[Key]): DataFrame =
    if (keys.exists(_.derived)) df.select(col("*"), Lenient.toTimestamp(qcol("eventDate")).as("__ts"))
    else df

  /** Reference: breakdown.py:9-34 (`generate_breakdowns`), including the
    * eventDate-derived histograms overwriting the plain year/month/day ones
    * (SURVEY.md T7). Keys are normalized to strings.
    */
  def generate(df: DataFrame): ListMap[String, ListMap[String, Long]] = {
    val ks = keys(df)
    if (ks.isEmpty) ListMap.empty
    else assemble(ks, Validator.aggregateWithSets(withEventTime(df, ks), Nil, Nil, ks.map(_.set))._2)
  }

  /** The report's breakdowns from each key's (value, count) groups, nulls
    * dropped (value_counts semantics): a top-20 key's first 20 in rank order
    * (count desc, value asc — pandas tie order is nondeterministic, SURVEY.md
    * A13), a histogram's groups in any order. A histogram with more than
    * [[HistogramMaxGroups]] groups throws.
    */
  private[validate] def assemble(
      keys: Seq[Key],
      groups: Seq[Seq[(String, Long)]]): ListMap[String, ListMap[String, Long]] = {
    var out = ListMap.empty[String, ListMap[String, Long]]
    keys.zip(groups).foreach { case (k, g) =>
      if (!k.top && g.length > HistogramMaxGroups)
        throw new IllegalStateException(
          s"histogram group cardinality exceeds HistogramMaxGroups=$HistogramMaxGroups " +
            s"for field ${k.field}; a truncated histogram would be silently " +
            "wrong — use topValues() for high-cardinality columns")
      // pandas value_counts drops nulls and orders by count desc
      // (breakdown.py:72-74); ties broken by key for determinism.
      if (!k.top && !k.derived) out += k.field -> sortByCountDesc(g)
      // top-20 value breakdowns (breakdown.py:54-62), already in rank order.
      else if (k.top) out += k.field -> ListMap(g: _*)
      // eventDate-derived year/month/day histograms (breakdown.py:77-102)
      // overwrite the simple ones; pandas groupby sorts by key ascending.
      else out = overwrite(out, k.field, sortByKeyNumeric(g))
    }
    out
  }

  /** Reference: breakdown.py:54-62 (`top_values_breakdown`). Plans as
    * TakeOrderedAndProject. Ties broken by value for determinism (pandas tie
    * order is nondeterministic — SURVEY.md A13).
    */
  def topValues(df: DataFrame, field: String, limit: Int): ListMap[String, Long] = {
    val rows = df
      .filter(qcol(field).isNotNull)
      .groupBy(qcol(field).cast("string").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("k").asc)
      .limit(limit)
      .collect()
    ListMap(rows.map(r => r.getString(0) -> r.getLong(1)).toIndexedSeq: _*)
  }

  private def sortByCountDesc(entries: Seq[(String, Long)]): ListMap[String, Long] =
    ListMap(entries.sortBy { case (k, cnt) => (-cnt, k) }: _*)

  /** pandas groupby sorts keys ascending; derived keys are numeric. */
  private def sortByKeyNumeric(entries: Seq[(String, Long)]): ListMap[String, Long] =
    ListMap(entries.sortBy { case (k, _) => k.toLong }: _*)

  /** dict.update semantics: existing keys keep their position, new keys
    * append (Python-dict parity for breakdown merge order — SURVEY.md T7).
    */
  private[graft] def overwrite(
      m: ListMap[String, ListMap[String, Long]],
      key: String,
      value: ListMap[String, Long]): ListMap[String, ListMap[String, Long]] =
    if (m.contains(key)) ListMap(m.toSeq.map { case (k, v) => k -> (if (k == key) value else v) }: _*)
    else m + (key -> value)
}
