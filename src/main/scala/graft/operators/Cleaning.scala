package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DateTimeFunctions._
import graft.schema.Occurrence

/** Cleaning stage (SURVEY.md §2.3 F1/F2, §2.4 C1–C5, §2.2 P1).
  *
  * The reference cleans imperatively and accumulates dropped rows in a
  * module-global mutable list (`/root/reference/monarch_etl/cleaning.py:49`,
  * `:76-98`). Here the same semantics are a pure dataflow split: one lazy
  * plan produces `clean` and `rejected` DataFrames with the invariant
  * `clean.count + rejected.count == input.count`.
  *
  * Scale: one tagged projection parses the date, coerces the
  * coordinates and sets `_failure_reason` (null = clean) per row;
  * `clean` and `rejected` are two filters of it, so each output is one
  * scan of the input. No driver-side state, no collect. The two outputs
  * are still two actions, so writing both reads the input twice.
  */
object Cleaning {

  /** Result of the cleaning stage: the survivors and the tagged sidecar. */
  final case class CleanResult(clean: DataFrame, rejected: DataFrame)

  import Occurrence._

  /** Metric that [[clean]]'s `rejectedMeter` reports: the rejected rows. */
  val rejectedMetric = "n_rejected"

  /** Apply all cleaning steps (mirrors `clean_raw_dataframe`,
    * `cleaning.py:76-98`):
    *  1. rescue partial eventDate formats (C1)
    *  2. parse eventDate → eventDateParsed, UTC (C2)
    *  3. reject unparseable dates (F1), preserving `_raw_eventDate`
    *  4. coerce coordinates, reject null/non-numeric (F2)
    *  5. coerce individualCount, default 1 (C5)
    *  6. derive temporal columns (C3)
    *  7. project to canonical columns present in the input (P1)
    *
    * Steps 1–4 are one tagged projection. `rejected` carries the
    * input columns (eventDate rescued, coordinates coerced) plus the
    * three sidecar tags. When `rejectedMeter` is given it counts the
    * rejected rows as [[rejectedMetric]] on the `clean` side's scan, so
    * the caller that writes `clean` learns the count without running
    * `rejected`; `rejected`'s own plan carries no meter.
    */
  def clean(raw: DataFrame, rejectedMeter: Option[Observation] = None): CleanResult = {
    val tagged = tag(raw)
    val reason = col(failureReasonCol)

    val rejected = tagged.filter(reason.isNotNull).select(
      tagged.columns.filterNot(Set("eventDateParsed", failureReasonCol)).map(col) ++ Seq(
        when(reason === reasonUnparseableDate, col("eventDate")).as(rawEventDateCol),
        reason,
        when(reason === reasonUnparseableDate,
          lit("timestamp parse could not parse eventDate after rescue pass"))
          .otherwise(lit("decimalLatitude or decimalLongitude is null / non-numeric"))
          .as(failureDetailCol)): _*)

    val metered = rejectedMeter.fold(tagged)(
      tagged.observe(_, count(reason).as(rejectedMetric)))
    val cleanDf = metered.filter(reason.isNull)
      .drop(failureReasonCol)
      .withColumn("individualCount",
        if (raw.columns.contains("individualCount")) coerceCount(col("individualCount"))
        else lit(1L))
      .transform(deriveTemporal)
      .transform(selectFinalColumns)

    CleanResult(cleanDf, rejected)
  }

  /** Steps 1–4 as one projection over `raw`: eventDate rescued (added
    * as null when absent), `eventDateParsed`, the coordinates coerced
    * to double, then `_failure_reason` — [[reasonUnparseableDate]],
    * else [[reasonInvalidCoords]], else null. The reason is a second
    * projection over the first: each parsed column is referenced twice
    * above it, so the optimizer does not inline (and re-evaluate) the
    * parse. A filter on the reason that is pushed below both evaluates
    * it once more; an `observe()` between them, as on `dayScan`'s
    * warehouse write, stops that push.
    */
  private def tag(raw: DataFrame): DataFrame = {
    val eventDate =
      if (raw.columns.contains("eventDate")) rescueEventDate(col("eventDate"))
      else lit(null).cast(StringType)
    raw.withColumns(ListMap(
      "eventDate" -> eventDate,
      "eventDateParsed" -> parseEventTs(eventDate),
      "decimalLatitude" -> tryToDouble(col("decimalLatitude")),
      "decimalLongitude" -> tryToDouble(col("decimalLongitude"))))
      .withColumn(failureReasonCol,
        when(col("eventDateParsed").isNull, lit(reasonUnparseableDate))
          .when(col("decimalLatitude").isNull || col("decimalLongitude").isNull,
            lit(reasonInvalidCoords)))
  }

  /** C3: attach the temporal sub-columns from `eventDateParsed`
    * (`cleaning.py:234-246`).
    */
  def deriveTemporal(df: DataFrame): DataFrame =
    temporalColumns(col("eventDateParsed")).foldLeft(df) {
      case (d, (name, expr)) => d.withColumn(name, expr)
    }

  /** P1: canonical column subset — keep only known columns, in order,
    * `gbifID` cast to string (`cleaning.py:249-266`).
    */
  def selectFinalColumns(df: DataFrame): DataFrame = {
    val present = finalColumns.filter(df.columns.contains)
    val projected = df.select(present.map(col): _*)
    if (present.contains("gbifID"))
      projected.withColumn("gbifID", col("gbifID").cast(StringType))
    else projected
  }

  /** A4: rejection-reason frequency report
    * (`/root/reference/monarch_etl/etl.py:65-66`, `:118-119`).
    */
  def rejectionReport(rejected: DataFrame): DataFrame =
    rejected.groupBy(col(failureReasonCol))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(desc("n_rows"), asc(failureReasonCol))
}
