package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import Lenient.qcol

/** Group-by summary statistics for the archive report (reference:
  * dwc_validator/breakdown.py).
  *
  * Scale notes: every breakdown — the year/month/day histograms, the two
  * top-20s and the eventDate-derived histograms — is one set of ONE
  * grouping-sets aggregation, so a report's breakdowns cost one scan
  * instead of the reference's eight. A `row_number()` per set bounds what
  * reaches the driver: 20 rows per top-20, [[HistogramMaxGroups]] + 1 per
  * histogram (overflow is detected, never truncated). Histogram key
  * cardinality is expected small (years/months/days).
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
  private val TopLimit = 20

  /** One breakdown: its report key, its grouping key, and whether it is a
    * top-20 or an eventDate-derived histogram.
    */
  private final case class Key(field: String, value: Column, top: Boolean, derived: Boolean)

  /** Reference: breakdown.py:9-34 (`generate_breakdowns`), including the
    * eventDate-derived histograms overwriting the plain year/month/day ones
    * (SURVEY.md T7). Keys are normalized to strings.
    */
  def generate(df: DataFrame): ListMap[String, ListMap[String, Long]] = {
    val has = df.columns.toSet
    val ts = col("__ts")
    val keys =
      Seq("year", "month", "day").filter(has)
        .map(f => Key(f, qcol(f).cast("string"), top = false, derived = false)) ++
      Seq("scientificName", "family").filter(has)
        .map(f => Key(f, qcol(f).cast("string"), top = true, derived = false)) ++
      (if (!has("eventDate")) Nil
       else Seq("year" -> year(ts), "month" -> month(ts), "day" -> dayofmonth(ts))
         .map { case (f, c) => Key(f, c.cast("string"), top = false, derived = true) })
    var out = ListMap.empty[String, ListMap[String, Long]]
    if (keys.nonEmpty) keys.zip(groupCounts(df, keys)).foreach {
      // pandas value_counts drops nulls and orders by count desc
      // (breakdown.py:72-74); ties broken by key for determinism.
      case (k, g) if !k.top && !k.derived => out += k.field -> sortByCountDesc(g)
      // top-20 value breakdowns (breakdown.py:54-62), already in rank order.
      case (k, g) if k.top => out += k.field -> ListMap(g: _*)
      // eventDate-derived year/month/day histograms (breakdown.py:77-102)
      // overwrite the simple ones; pandas groupby sorts by key ascending.
      case (k, g) => out = overwrite(out, k.field, sortByKeyNumeric(g))
    }
    out
  }

  /** Every key's (value, count) groups from ONE grouping-sets job, nulls
    * dropped (value_counts semantics): a top-20 key's first 20 in rank order
    * (count desc, value asc — pandas tie order is nondeterministic, SURVEY.md
    * A13), a histogram's groups in any order. A histogram with more than
    * [[HistogramMaxGroups]] groups throws.
    */
  private def groupCounts(df: DataFrame, keys: Seq[Key]): Seq[Seq[(String, Long)]] = {
    val names = keys.indices.map(i => s"__k$i")
    // __ts is projected once below the derived keys, so the eventDate
    // parse runs once per row, not once per derived histogram
    val withTs =
      if (keys.exists(_.derived)) df.select(col("*"), Lenient.toTimestamp(qcol("eventDate")).as("__ts"))
      else df
    val projected = withTs.select(keys.zip(names).map { case (k, n) => k.value.as(n) }: _*)
    // grouping_id() sets bit (n-1-i) when key i is grouped out
    val all = (1L << keys.size) - 1
    val setOf = keys.indices.map(i => all & ~(1L << (keys.size - 1 - i)))
    val topSets = keys.indices.filter(keys(_).top).map(setOf)
    // In a single-key set every other key is grouped out (null), so the
    // coalesce is the set's own key.
    val rows = projected
      .groupingSets(names.map(n => Seq(col(n))), names.map(col): _*)
      .agg(grouping_id().as("__set"), count(lit(1)).as("__cnt"))
      .select(col("__set"), coalesce(names.map(col): _*).as("__key"), col("__cnt"))
      .filter(col("__key").isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__set").orderBy(col("__cnt").desc, col("__key").asc)))
      // cap+1 rows so overflow is DETECTED: a bare cut at the cap would
      // silently keep an arbitrary subset of groups and return a wrong
      // histogram with no error. The literal bound is what Spark's window
      // group limit reads; at the default spark.sql.optimizer.
      // windowGroupLimitThreshold (1000) it does not fire, so each set's
      // groups are sorted whole in one task.
      .filter(col("__rn") <= HistogramMaxGroups + 1 &&
        (!col("__set").isin(topSets: _*) || col("__rn") <= TopLimit))
      .collect()
      .groupBy(_.getAs[Number]("__set").longValue)
    keys.indices.map { i =>
      val g = rows.getOrElse(setOf(i), Array.empty[Row]).sortBy(_.getAs[Int]("__rn"))
      if (g.length > HistogramMaxGroups)
        throw new IllegalStateException(
          s"histogram group cardinality exceeds HistogramMaxGroups=$HistogramMaxGroups " +
            s"for field ${keys(i).field}; a truncated histogram would be silently " +
            "wrong — use topValues() for high-cardinality columns")
      g.map(r => r.getAs[String]("__key") -> r.getAs[Long]("__cnt")).toSeq
    }
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
