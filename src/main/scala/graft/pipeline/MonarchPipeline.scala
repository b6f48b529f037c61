package graft.pipeline

import java.sql.{Date => SqlDate}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DateTimeFunctions
import graft.operators.{Cleaning, Enrichment, SchemaEnforce}
import graft.operators.Cleaning.CleanResult
import graft.operators.Enrichment.GeocodeProvider
import graft.sinks.Writers

/** The reference's canonical ETL lifecycle re-expressed as lazy Spark
  * plans (SURVEY.md §3.1: `monarch_etl_day_scan`,
  * `/root/reference/monarch_etl/etl.py:86-134`).
  *
  * Differences by design (not omissions):
  *  - extract is any DataFrame source (parquet fixture here; a
  *    DataSourceV2 REST scan in production) instead of a driver-side
  *    pagination loop;
  *  - the rejection sidecar is a second output of one lazy plan, not
  *    module-global mutable state;
  *  - the per-day table name is a derived label; storage is ONE table
  *    partitioned by `date_only`, so "which day" is partition pruning.
  */
object MonarchPipeline {

  /** A no-op geocoder for runs without an enrichment source: leaves
    * `county`/`cityOrTown` null (schema-enforced later).
    */
  object NullGeocode extends GeocodeProvider {
    override def attach(df: DataFrame): DataFrame = df
  }

  /** `transform_gbif_data` (`/root/reference/monarch_etl/transform.py:25-53`):
    * clean → enrich → attach time_only → enforce schema. One lazy plan.
    */
  def transform(raw: DataFrame, geocoder: GeocodeProvider = NullGeocode): CleanResult =
    enrich(Cleaning.clean(raw), geocoder)

  private def enrich(cleaned: CleanResult, geocoder: GeocodeProvider): CleanResult = {
    val withTime = Enrichment.attachTimeOnly(geocoder.attach(cleaned.clean))
    cleaned.copy(clean = SchemaEnforce.enforceSchema(withTime))
  }

  /** Per-run load summary (what the reference logs + registers). */
  final case class LoadSummary(
      loaded: Long, rejected: Long, tableName: String, date: SqlDate)

  /** §3.1 lifecycle for one day of data: transform → write partitioned →
    * rejection CSV → inventory upsert. `raw` is the day's extract.
    *
    * Scans: the loaded and rejected counts are `observe()` metrics on
    * the warehouse write, so no count job runs. `raw` is read once by
    * that write and once more by the sidecar write when there are
    * rejects — twice per day, once on a day without rejects. A day
    * without rejects removes the sidecar a previous run left at
    * `rejectionPath`, which always holds the latest run's rejects.
    */
  def dayScan(
      spark: SparkSession,
      raw: DataFrame,
      year: Int, month: Int, day: Int,
      warehousePath: String,
      rejectionPath: String,
      inventoryPath: String,
      geocoder: GeocodeProvider = NullGeocode): LoadSummary = {

    val rejectedObs = new Observation("dayScan_rejected")
    val CleanResult(clean, rejected) =
      enrich(Cleaning.clean(raw, Some(rejectedObs)), geocoder)
    // restrict to the requested day — the reference extracts day-scoped
    // pages from the API (etl.py:99-107); a file source may carry more
    val dayDate = SqlDate.valueOf(f"$year-$month%02d-$day%02d")
    val loadedObs = new Observation("dayScan_loaded")
    val dayDf = clean.filter(col("date_only") === lit(dayDate))
      .observe(loadedObs, count(lit(1)).as("n_loaded"))

    Writers.writePartitionedByDay(dayDf, warehousePath)
    val loaded = loadedObs.get("n_loaded").asInstanceOf[Long]
    val nRejected = rejectedObs.get(Cleaning.rejectedMetric).asInstanceOf[Long]
    if (nRejected > 0) Writers.writeRejections(rejected, rejectionPath)
    else Writers.removeRejections(spark, rejectionPath)

    val tableName = tableNameForDayStr(year, month, day)
    Writers.upsertInventory(spark, inventoryPath, dayDate, tableName, loaded)
    LoadSummary(loaded, nRejected, tableName, dayDate)
  }

  /** Driver-side table-name derivation (C9) for inventory labels —
    * matches `/root/reference/monarch_etl/table_naming.py:24-33`.
    */
  def tableNameForDayStr(year: Int, month: Int, day: Int): String = {
    val monthNames = Array("", "january", "february", "march", "april", "may",
      "june", "july", "august", "september", "october", "november", "december")
    f"${monthNames(month)}$day%02d$year"
  }

  /** Inventory backfill (A2/A5 + `/root/reference/retroactive_table_log.py`):
    * rebuild `data_inventory` from the warehouse itself — one row per
    * `date_only` partition with its count and derived table label.
    * The reference walks tables and runs COUNT(*) per table; here it is
    * one aggregate over the partition column (partition pruning makes
    * the scan metadata-cheap on a real warehouse).
    */
  def inventoryBackfill(
      spark: SparkSession, warehousePath: String, inventoryPath: String): DataFrame = {
    val byDay = spark.read.parquet(warehousePath)
      .groupBy(col("date_only"))
      .agg(count(lit(1)).as("record_count"))
      .select(
        col("date_only").as("available_date"),
        DateTimeFunctions.tableNameForDay(col("date_only")).as("table_name"),
        col("record_count").cast("long").as("record_count"),
        current_timestamp().as("processed_at"))
    byDay.coalesce(1).write.mode("overwrite")
      .parquet(inventoryPath)
    spark.read.parquet(inventoryPath)
  }

  /** §3.2 read path: the Flask API's year/month/day equality filters
    * (`/root/reference/butterflyetl.py:83-108`) as partition-prunable
    * predicates over the warehouse table.
    */
  def readOccurrences(
      spark: SparkSession,
      warehousePath: String,
      year: Option[Int] = None,
      month: Option[Int] = None,
      day: Option[Int] = None): DataFrame = {
    val base = spark.read.parquet(warehousePath)
    Seq(
      year.map(y => col("year") === lit(y)),
      month.map(m => col("month") === lit(m)),
      day.map(d => col("day") === lit(d))
    ).flatten.foldLeft(base)((df, pred) => df.filter(pred))
  }
}
