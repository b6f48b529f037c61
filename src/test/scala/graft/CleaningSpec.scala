package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

import graft.operators.Cleaning
import graft.schema.Occurrence

/** Edge-case fixtures from FIXTURES.md §A1 — the drivers of the
  * reference's cleaning logic (cleaning.py:105-231).
  */
object RawFixture {
  val schema: StructType = StructType(Seq(
    StructField("gbifID", LongType),
    StructField("eventDate", StringType),
    StructField("decimalLatitude", StringType),
    StructField("decimalLongitude", StringType),
    StructField("individualCount", StringType),
    StructField("scientificName", StringType),
    StructField("countryCode", StringType)))

  // (id, eventDate, lat, lon, count)
  val rows: Seq[Row] = Seq(
    Row(1L, "2024", "34.05", "-118.24", "2", "Danaus plexippus", "US"),            // year-only → rescued
    Row(2L, "2024-06", "40.71", "-74.00", null, "Danaus plexippus", "US"),         // year-month → rescued
    Row(3L, "2024-06-01/2024-06-03", "41.88", "-87.63", "1", "Danaus plexippus", "US"), // range → start
    Row(4L, "2024-02-10T08:00:00-05:00", "29.76", "-95.36", "3", "Danaus plexippus", "US"), // tz-aware
    Row(5L, "2024-02-10 08:00:00", "33.45", "-112.07", "1", "Danaus plexippus", "US"),      // naive
    Row(6L, "June sometime", "47.61", "-122.33", "1", "Danaus plexippus", "US"),   // unparseable → reject
    Row(7L, null, "25.76", "-80.19", "1", "Danaus plexippus", "US"),               // null date → reject
    Row(8L, "", "39.74", "-104.99", "1", "Danaus plexippus", "US"),                // empty date → reject
    Row(9L, "2024-03-05", "abc", "-122.41", "1", "Danaus plexippus", "US"),        // bad lat → reject
    Row(10L, "2024-03-06", "37.77", null, "1", "Danaus plexippus", "US"),          // null lon → reject
    Row(11L, "2024-03-07", "44.98", "-93.27", null, "Danaus plexippus", "US"),     // missing count → 1
    Row(12L, "2024-03-08", "36.16", "-86.78", "2.7", "Danaus plexippus", "US"),    // float count → 2
    Row(9007199254740993L, "2024-03-09", "35.22", "-80.84", "1", "Danaus plexippus", "US")) // >2^53 id

  def df(spark: org.apache.spark.sql.SparkSession) =
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
}

class CleaningSpec extends SparkSpec {
  import graft.operators.Cleaning.CleanResult

  lazy val result: CleanResult = Cleaning.clean(RawFixture.df(spark))
  lazy val cleanRows = result.clean.collect().map(r => r.getAs[String]("gbifID") -> r).toMap
  lazy val rejectedRows = result.rejected.collect()

  test("invariant: clean + rejected == input") {
    assert(result.clean.count() + result.rejected.count() == RawFixture.rows.size)
  }

  test("year-only eventDate rescued to Jan 1") {
    val r = cleanRows("1")
    assert(r.getAs[String]("eventDate") == "2024-01-01")
    assert(r.getAs[Int]("year") == 2024 && r.getAs[Int]("month") == 1 && r.getAs[Int]("day") == 1)
  }

  test("year-month eventDate rescued to day 1") {
    val r = cleanRows("2")
    assert(r.getAs[String]("eventDate") == "2024-06-01")
    assert(r.getAs[Int]("day") == 1)
  }

  test("date range takes the start date") {
    val r = cleanRows("3")
    assert(r.getAs[String]("eventDate") == "2024-06-01")
  }

  test("tz-aware and naive timestamps both parse, normalized to UTC") {
    val tz = cleanRows("4")
    val naive = cleanRows("5")
    // -05:00 offset → 13:00 UTC
    assert(tz.getAs[java.sql.Timestamp]("eventDateParsed").toInstant.toString == "2024-02-10T13:00:00Z")
    assert(naive.getAs[java.sql.Timestamp]("eventDateParsed").toInstant.toString == "2024-02-10T08:00:00Z")
    assert(tz.getAs[String]("time_only") == "13:00:00")
  }

  test("unparseable / null / empty dates are rejected with reason and raw value") {
    val dateRejects = rejectedRows.filter(
      _.getAs[String](Occurrence.failureReasonCol) == Occurrence.reasonUnparseableDate)
    assert(dateRejects.length == 3)
    val raw6 = dateRejects.find(_.getAs[Long]("gbifID") == 6L).get
    assert(raw6.getAs[String](Occurrence.rawEventDateCol) == "June sometime")
  }

  test("non-numeric / null coordinates are rejected with reason") {
    val coordRejects = rejectedRows.filter(
      _.getAs[String](Occurrence.failureReasonCol) == Occurrence.reasonInvalidCoords)
    assert(coordRejects.map(_.getAs[Long]("gbifID")).toSet == Set(9L, 10L))
  }

  test("individualCount defaults to 1 on null, truncates floats") {
    assert(cleanRows("11").getAs[Long]("individualCount") == 1L)
    assert(cleanRows("12").getAs[Long]("individualCount") == 2L)
  }

  test("gbifID > 2^53 survives exactly as string") {
    assert(cleanRows.contains("9007199254740993"))
  }

  test("temporal columns: Monday=0 day_of_week and ISO week") {
    // 2024-03-05 is a Tuesday → day_of_week 1; ISO week 10
    val r = cleanRows("12") // 2024-03-08, Friday → 4
    assert(r.getAs[Int]("day_of_week") == 4)
    assert(r.getAs[Long]("week_of_year") == 10L)
  }

  test("rejected sidecar: exact schema and full row set") {
    assert(result.rejected.schema.map(f => f.name -> f.dataType) == Seq(
      "gbifID" -> LongType, "eventDate" -> StringType,
      "decimalLatitude" -> DoubleType, "decimalLongitude" -> DoubleType,
      "individualCount" -> StringType, "scientificName" -> StringType,
      "countryCode" -> StringType, Occurrence.rawEventDateCol -> StringType,
      Occurrence.failureReasonCol -> StringType,
      Occurrence.failureDetailCol -> StringType))
    val (d, dd) = (Occurrence.reasonUnparseableDate,
      "timestamp parse could not parse eventDate after rescue pass")
    val (c, cd) = (Occurrence.reasonInvalidCoords,
      "decimalLatitude or decimalLongitude is null / non-numeric")
    val sp = "Danaus plexippus"
    // eventDate is the rescued value; `_raw_eventDate` is set on date
    // rejects only; coordinates are the coerced doubles on both reasons
    assert(rejectedRows.toSet == Set(
      Row(6L, "June sometime", 47.61, -122.33, "1", sp, "US", "June sometime", d, dd),
      Row(7L, null, 25.76, -80.19, "1", sp, "US", null, d, dd),
      Row(8L, "", 39.74, -104.99, "1", sp, "US", "", d, dd),
      Row(9L, "2024-03-05", null, -122.41, "1", sp, "US", null, c, cd),
      Row(10L, "2024-03-06", 37.77, null, "1", sp, "US", null, c, cd)))
  }

  test("a date reject with a non-numeric coordinate is kept, coordinate null") {
    val raw = spark.createDataFrame(java.util.List.of(
      Row(1L, "June sometime", "north", " 47.610", "1", "Danaus plexippus", "US")),
      RawFixture.schema)
    val rows = Cleaning.clean(raw).rejected.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String](Occurrence.failureReasonCol) ==
      Occurrence.reasonUnparseableDate)
    assert(rows(0).isNullAt(rows(0).fieldIndex("decimalLatitude")))
    assert(rows(0).getAs[Double]("decimalLongitude") == 47.61)
  }

  test("rejection report counts by reason") {
    val report = Cleaning.rejectionReport(result.rejected).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report == Map(
      Occurrence.reasonUnparseableDate -> 3L,
      Occurrence.reasonInvalidCoords -> 2L))
  }
}
