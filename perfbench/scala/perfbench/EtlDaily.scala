package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.pipeline.MonarchPipeline
import graft.sources.Ingest

import Main.{Ctx, Op, Spans}

/** `etl_daily`: the paper's own workload. Each loop iteration loads one
  * day of GBIF-like raw records through `MonarchPipeline.dayScan` and
  * then serves three API reads (that day, its month, its year) through
  * `readOccurrences` + `Ingest.toJsonRecords`, so reads run beside
  * writes over a growing warehouse. The timed phase closes with
  * `inventoryBackfill`.
  *
  * Each day has 3,000 records, the reference's per-run cap of
  * 300 × 10 pages, with the FIXTURES.md A1 edge cases planted:
  * year-only, year-month, ranges, mixed time zones, ~2% unparseable
  * dates, ~1% bad coordinates and missing counts. The generator knows
  * for every record whether it loads on its day, lands on another day
  * or is rejected and why.
  */
final class EtlDaily(ctx: Ctx) extends Main.Workload {
  import EtlDaily._

  private val spark = ctx.spark
  private val firstDay = LocalDate.of(2023, 1, 1).plusDays(new Random(ctx.seed).nextInt(300))
  private val warehouse = ctx.dir("etl/warehouse")
  private val rejections = ctx.dir("etl/rejections")
  private val inventory = ctx.dir("etl/inventory")
  private val backfill = ctx.dir("etl/inventory_backfill")
  private val days = mutable.ArrayBuffer.empty[Day]
  private val loaded = mutable.ArrayBuffer.empty[Day]

  private def day(i: Int): Day = {
    while (days.size <= i) {
      val d = firstDay.plusDays(days.size.toLong)
      days += generateDay(d, ctx.seed, ctx.dir(s"etl/input/$d.json"))
    }
    days(i)
  }

  def generate(): Unit = (0 until 8).foreach(day)

  def warm(run: Op => Unit): Unit = {
    // two earlier days into a warehouse of their own
    val dir = ctx.dir("etl/warm")
    val warmDays = (1 to 2).map(k =>
      generateDay(firstDay.minusDays(k.toLong), ctx.seed, s"$dir/input/$k.json"))
    warmDays.indices.foreach { k =>
      run(load(warmDays(k), s"$dir/warehouse", s"$dir/rejections", s"$dir/inventory"))
      readsOf(warmDays(k), warmDays.take(k + 1), s"$dir/warehouse").foreach(run)
    }
  }

  def cycle(i: Int): Seq[Op] = {
    val d = day(i)
    load(d, warehouse, rejections, inventory) +: readsOf(d, loaded.toSeq :+ d, warehouse)
  }

  def finish(): Seq[Op] = Seq(Op("backfill", 0, spans => {
    val inv = spans("MonarchPipeline.inventoryBackfill") {
      MonarchPipeline.inventoryBackfill(spark, warehouse, backfill)
    }
    () => checkInventory("inventoryBackfill", inv.collect().map(r =>
      r.getAs[java.sql.Date]("available_date").toLocalDate -> r.getAs[Long]("record_count")).toMap)
  }))

  private def load(d: Day, wh: String, rej: String, inv: String): Op =
    Op("dayScan", d.records, spans => {
      val raw = spark.read.schema(rawSchema).json(d.file)
      val s = spans("MonarchPipeline.dayScan") {
        MonarchPipeline.dayScan(spark, raw, d.date.getYear, d.date.getMonthValue,
          d.date.getDayOfMonth, wh, s"$rej/day=${d.date}", inv)
      }
      if (wh == warehouse) loaded += d
      () => Seq(
        s.loaded -> d.loaded, s.rejected -> (d.unparseable + d.badCoords)
      ).collect { case (got, want) if got != want => s"${d.date}: dayScan reported $got, expected $want" }
    })

  /** The day's, its month's and its year's records, as the read API
    * serves them; `visible` are the days loaded when the reads run.
    */
  private def readsOf(d: Day, visible: Seq[Day], wh: String): Seq[Op] = {
    val y = d.date.getYear
    val m = d.date.getMonthValue
    Seq(
      (Some(m), Some(d.date.getDayOfMonth), visible.filter(_.date == d.date)),
      (Some(m), None, visible.filter(v => v.date.getYear == y && v.date.getMonthValue == m)),
      (None, None, visible.filter(_.date.getYear == y))
    ).map { case (month, dom, expectDays) =>
      Op("read", 0, spans => {
        val df = spans("MonarchPipeline.readOccurrences") {
          MonarchPipeline.readOccurrences(spark, wh, Some(y), month, dom)
        }
        if (spans.traced) {
          spans("QueryExecution.executedPlan")(df.queryExecution.executedPlan)
          var nodes = 0
          df.queryExecution.optimizedPlan.foreach(_ => nodes += 1)
          spans.count("plan_nodes", nodes)
        }
        val json = spans("Ingest.toJsonRecords")(Ingest.toJsonRecords(df, ReadLimit))
        () => {
          val want = math.min(expectDays.map(_.loaded).sum, ReadLimit.toLong)
          val filter = Seq(Some(y), month, dom).zip(Seq("year", "month", "day"))
            .collect { case (Some(v), k) => s""""$k":$v""" }
          val what = s"read year=$y month=${month.getOrElse("*")} day=${dom.getOrElse("*")}"
          (if (json.size == want) Nil else Seq(s"$what returned ${json.size} records, expected $want")) ++
            json.find(j => !filter.forall(j.contains)).map(j => s"$what returned an unmatched record").toSeq
        }
      })
    }
  }

  private def checkInventory(what: String, got: Map[LocalDate, Long]): Seq[String] = {
    val want = loaded.map(d => d.date -> d.loaded).toMap
    if (got == want) Nil
    else Seq(s"$what has ${got.size} days, expected ${want.size}; " +
      s"first difference at ${(got.keySet ++ want.keySet).toSeq.sorted.find(k => got.get(k) != want.get(k))}")
  }

  def finalCheck(): Seq[String] = {
    val rows = spark.read.parquet(inventory).collect()
    val inv = rows.map(r =>
      r.getAs[java.sql.Date]("available_date").toLocalDate -> r.getAs[Long]("record_count")).toMap
    val names = rows.flatMap { r =>
      val d = r.getAs[java.sql.Date]("available_date").toLocalDate
      val want = MonarchPipeline.tableNameForDayStr(d.getYear, d.getMonthValue, d.getDayOfMonth)
      if (r.getAs[String]("table_name") == want) None else Some(s"inventory names $d ${r.getAs[String]("table_name")}")
    }
    val reasons = spark.read.option("header", "true").csv(rejections)
      .groupBy(col("day").cast("string"), col("_failure_reason")).count().collect()
      .map(r => (LocalDate.parse(r.getString(0)), r.getString(1)) -> r.getLong(2)).toMap
    val wantReasons = loaded.flatMap(d => Seq(
      (d.date, "unparseable_eventDate") -> d.unparseable.toLong,
      (d.date, "invalid_coordinates") -> d.badCoords.toLong)).filter(_._2 > 0).toMap
    checkInventory("upserted inventory", inv) ++ names ++
      (if (reasons == wantReasons) Nil
       else Seq(s"rejection reasons differ: got ${reasons.toSeq.sortBy(_._1.toString).take(4)}, " +
         s"expected ${wantReasons.toSeq.sortBy(_._1.toString).take(4)}"))
  }

  def detail(): Map[String, Any] = {
    val trees = Seq(warehouse, rejections, inventory).map(Main.treeStats)
    val partitions = Option(new java.io.File(warehouse).listFiles).toSeq.flatten
      .count(_.getName.startsWith("date_only="))
    Map(
      "input_records" -> loaded.map(_.records).sum,
      "input_bytes" -> loaded.map(_.bytes).sum,
      "stored_bytes" -> trees.map(_._1).sum,
      "files_written" -> trees.map(_._2).sum,
      "warehouse_files" -> trees.head._2,
      "partitions" -> partitions,
      "days" -> loaded.size)
  }
}

object EtlDaily {
  val RecordsPerDay = 3000
  val ReadLimit = 10000

  /** One generated day: its input file and what the pipeline must do
    * with it.
    */
  final case class Day(date: LocalDate, file: String, bytes: Long, records: Int,
      loaded: Int, unparseable: Int, badCoords: Int)

  val fields: Seq[String] = Seq("gbifID", "datasetKey", "publishingOrgKey", "eventDate",
    "scientificName", "vernacularName", "taxonKey", "kingdom", "phylum", "class", "order",
    "family", "genus", "species", "decimalLatitude", "decimalLongitude",
    "coordinateUncertaintyInMeters", "countryCode", "stateProvince", "locality",
    "individualCount", "basisOfRecord", "recordedBy", "occurrenceID", "collectionCode",
    "catalogNumber")

  /** Raw values arrive untyped, as the GBIF extract delivers them. */
  val rawSchema: StructType = StructType(fields.map(StructField(_, StringType)))

  private val states = Seq("California", "Texas", "Florida", "Ontario", "Michoacán", "Iowa")
  private val bases = Seq("HUMAN_OBSERVATION", "PRESERVED_SPECIMEN", "MACHINE_OBSERVATION")

  def generateDay(date: LocalDate, seed: Long, file: String): Day = {
    val rng = new Random(seed * 1000003L + date.toEpochDay)
    var loaded, unparseable, badCoords = 0
    val lines = (0 until RecordsPerDay).map { i =>
      val r = rng.nextDouble()
      val time = f"${rng.nextInt(13)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d"
      // (eventDate, the date it parses to, or None when unparseable)
      val (eventDate, parsed): (Option[String], Option[LocalDate]) =
        if (r < 0.02) (Seq(Some("June sometime"), Some(""), None, Some("2023-13-45"))(i % 4), None)
        else if (r < 0.03) (Some(date.getYear.toString), Some(LocalDate.of(date.getYear, 1, 1)))
        else if (r < 0.04) (Some(f"${date.getYear}-${date.getMonthValue}%02d"), Some(date.withDayOfMonth(1)))
        else if (r < 0.06) (Some(s"$date/${date.plusDays(2)}"), Some(date))
        else Seq(
          s"${date}T$time-05:00", s"$date $time", s"${date}T$time", s"$date", s"${date}T${time}Z"
        )(rng.nextInt(5)) match { case s => (Some(s), Some(date)) }
      val coordsBad = parsed.isDefined && rng.nextDouble() < 0.01
      val (lat, lon): (Option[String], Option[String]) =
        if (coordsBad) Seq((Some("abc"), Some("-99.1")), (None, Some("-99.1")), (Some("19.5"), Some("")))(i % 3)
        else (Some(f"${15 + rng.nextDouble() * 35}%.5f"), Some(f"${-120 + rng.nextDouble() * 45}%.5f"))
      parsed match {
        case None => unparseable += 1
        case Some(_) if coordsBad => badCoords += 1
        case Some(p) if p == date => loaded += 1
        case Some(_) => // lands on another day: neither loaded nor rejected
      }
      val c = rng.nextDouble()
      val count = if (c < 0.1) None else if (c < 0.13) Some("two") else Some((1 + rng.nextInt(20)).toString)
      val id = if (i % 50 == 0) (BigInt(2).pow(53) + rng.nextInt(1 << 20)).toString
               else (4000000000L + date.toEpochDay * 10000 + i).toString
      val state = states(rng.nextInt(states.size))
      Json.write(mutable.LinkedHashMap[String, Any](
        "gbifID" -> id, "datasetKey" -> "50c9509d-22c7-4a22-a47d-8c48425ef4a7",
        "publishingOrgKey" -> "28eb1a3f-1c15-4a95-931a-4af90ecb574d",
        "eventDate" -> eventDate, "scientificName" -> "Danaus plexippus (Linnaeus, 1758)",
        "vernacularName" -> "Monarch", "taxonKey" -> "5133088", "kingdom" -> "Animalia",
        "phylum" -> "Arthropoda", "class" -> "Insecta", "order" -> "Lepidoptera",
        "family" -> "Nymphalidae", "genus" -> "Danaus", "species" -> "Danaus plexippus",
        "decimalLatitude" -> lat, "decimalLongitude" -> lon,
        "coordinateUncertaintyInMeters" -> (5 + rng.nextInt(500)).toString,
        "countryCode" -> "US", "stateProvince" -> state, "locality" -> s"$state site ${rng.nextInt(400)}",
        "individualCount" -> count, "basisOfRecord" -> bases(rng.nextInt(bases.size)),
        "recordedBy" -> s"observer-${rng.nextInt(5000)}",
        "occurrenceID" -> s"https://www.inaturalist.org/observations/$id",
        "collectionCode" -> "Observations", "catalogNumber" -> id).filter(_._2 != None))
    }
    val bytes = Main.writeLines(file, lines.iterator)
    Day(date, file, bytes, RecordsPerDay, loaded, unparseable, badCoords)
  }
}
