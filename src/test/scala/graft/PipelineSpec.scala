package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Enrichment}
import graft.pipeline.MonarchPipeline
import graft.schema.Occurrence

/** End-to-end §3.1 lifecycle on the family-A fixture: transform → write
  * partitioned → inventory → read back with year/month/day filters →
  * duplicate check (SURVEY.md §7.2 minimum slice).
  */
class PipelineSpec extends SparkSpec {

  lazy val tmp: String = Files.createTempDirectory("graft-pipeline").toString

  test("transform produces canonical schema and keeps the invariant") {
    val result = MonarchPipeline.transform(RawFixture.df(spark))
    assert(result.clean.schema == Occurrence.schema)
    assert(result.clean.count() + result.rejected.count() == RawFixture.rows.size)
  }

  test("broadcast geocode enrichment fills county/city from the lookup dim") {
    val lookup = spark.createDataFrame(
      java.util.List.of(
        Row(34.05, -118.24, "Los Angeles", "Los Angeles"),
        Row(40.71, -74.0, "New York", "New York")),
      StructType(Seq(
        StructField("lat_cell", DoubleType), StructField("lon_cell", DoubleType),
        StructField("county", StringType), StructField("cityOrTown", StringType))))
    val geo = new Enrichment.BroadcastGeocode(lookup)
    val result = MonarchPipeline.transform(RawFixture.df(spark), geo)
    val byId = result.clean.collect().map(r => r.getAs[String]("gbifID") -> r).toMap
    assert(byId("1").getAs[String]("county") == "Los Angeles")
    assert(byId("2").getAs[String]("cityOrTown") == "New York")
    assert(byId("3").getAs[String]("county") == null) // unmatched → null, like ref
  }

  test("broadcast geocode guard: over-threshold dim falls back to a shuffle join") {
    // an outsized dimension must NOT be force-broadcast: the explicit
    // hint overrides autoBroadcastJoinThreshold, so the guard drops the
    // hint when the dim's estimated size exceeds the threshold. With
    // the hint gone (and the threshold too small for auto-broadcast),
    // the plan contains no BroadcastExchange — and results are
    // identical to the broadcast path.
    val lookup = spark.createDataFrame(
      java.util.List.of(
        Row(34.05, -118.24, "Los Angeles", "Los Angeles"),
        Row(40.71, -74.0, "New York", "New York")),
      StructType(Seq(
        StructField("lat_cell", DoubleType), StructField("lon_cell", DoubleType),
        StructField("county", StringType), StructField("cityOrTown", StringType))))
    val cleaned = graft.operators.Cleaning.clean(RawFixture.df(spark)).clean
    val broadcastPlan = new Enrichment.BroadcastGeocode(lookup).attach(cleaned)
    assert(broadcastPlan.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "small dim should stay broadcast")
    val expected = broadcastPlan.collect()
      .map(r => (r.getAs[String]("gbifID"), r.getAs[String]("county"))).toSet
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val guarded = new Enrichment.BroadcastGeocode(lookup).attach(cleaned)
      val plan = guarded.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"over-threshold dim still broadcast:\n$plan")
      assert(guarded.collect()
        .map(r => (r.getAs[String]("gbifID"), r.getAs[String]("county"))).toSet
        == expected, "fallback join changed results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("batched mapPartitions geocode client enriches in batches") {
    val fake: Seq[(Double, Double)] => Seq[(Option[String], Option[String])] =
      coords => coords.map { case (lat, _) =>
        if (lat > 40) (Some("North County"), Some("Northtown")) else (None, None)
      }
    val geo = new Enrichment.BatchedClientGeocode(fake, batchSize = 3)
    val cleaned = graft.operators.Cleaning.clean(RawFixture.df(spark)).clean
    val out = geo.attach(cleaned)
    val rows = out.collect().map(r => r.getAs[String]("gbifID") -> r.getAs[String]("county")).toMap
    assert(rows("2") == "North County") // lat 40.71
    assert(rows("1") == null)           // lat 34.05
  }

  test("dayScan writes a partition, registers inventory, and is idempotent") {
    val s1 = MonarchPipeline.dayScan(spark, RawFixture.df(spark), 2024, 3, 8,
      s"$tmp/warehouse", s"$tmp/rejects", s"$tmp/inventory")
    assert(s1.loaded == 1) // only gbifID=12 is on 2024-03-08
    assert(s1.tableName == "march082024")

    // rerun the same day — dynamic partition overwrite → same counts
    val s2 = MonarchPipeline.dayScan(spark, RawFixture.df(spark), 2024, 3, 8,
      s"$tmp/warehouse", s"$tmp/rejects", s"$tmp/inventory")
    assert(s2.loaded == 1)

    val inv = spark.read.parquet(s"$tmp/inventory")
    assert(inv.count() == 1) // upsert key available_date, no dup rows
    assert(inv.collect()(0).getAs[Long]("record_count") == 1L)
  }

  /** The fixture without its five rejects (ids 6–10). */
  private def cleanOnlyFixture: DataFrame =
    RawFixture.df(spark).filter(!col("gbifID").between(6L, 10L))

  /** `df` written as JSON lines and read back as a file source, so its
    * scans report input records the way a raw extract does.
    */
  private def asJsonExtract(df: DataFrame, name: String): DataFrame = {
    val path = s"$tmp/extract-$name"
    df.write.mode("overwrite").json(path)
    spark.read.schema(RawFixture.schema).json(path)
  }

  /** Input records read by the Spark jobs `body` runs. Listener events
    * arrive asynchronously but in order, so counting starts at a begin
    * marker job and stops at an end marker job whose completion proves
    * every task of `body` has been seen.
    */
  private def recordsReadDuring(body: => Unit): Long = {
    val sc = spark.sparkContext
    val key = "graft.spec.scanMarker"
    val records = new AtomicLong
    val ended = new CountDownLatch(1)
    @volatile var counting = false
    @volatile var endJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case "begin" => counting = true
          case "end" => counting = false; endJob = e.jobId
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (counting && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == endJob) ended.countDown()
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      body
      marker("end")
      assert(ended.await(60, TimeUnit.SECONDS), "end marker job never reported")
      records.get
    } finally sc.removeSparkListener(listener)
  }

  test("dayScan writes the rejection sidecar as CSV with a header and per-reason counts") {
    val rej = s"$tmp/sidecar-rejects"
    val s = MonarchPipeline.dayScan(spark, RawFixture.df(spark), 2024, 3, 8,
      s"$tmp/sidecar-wh", rej, s"$tmp/sidecar-inv")
    assert(s.rejected == 5)
    val parts = new java.io.File(rej).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.nonEmpty, s"no CSV part file under $rej")
    val header = Seq("gbifID", "eventDate", "decimalLatitude", "decimalLongitude",
      "individualCount", "scientificName", "countryCode",
      Occurrence.rawEventDateCol, Occurrence.failureReasonCol,
      Occurrence.failureDetailCol).mkString(",")
    parts.foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try assert(src.getLines().next() == header, f.getName)
      finally src.close()
    }
    val byReason = spark.read.option("header", "true").csv(rej)
      .groupBy(col(Occurrence.failureReasonCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byReason == Map(
      Occurrence.reasonUnparseableDate -> 3L,
      Occurrence.reasonInvalidCoords -> 2L))
  }

  test("dayScan reads its extract once per output it writes") {
    val n = RawFixture.rows.size
    val withRejects = asJsonExtract(RawFixture.df(spark), "all")
    val read = recordsReadDuring {
      val s = MonarchPipeline.dayScan(spark, withRejects, 2024, 3, 8,
        s"$tmp/scan-wh", s"$tmp/scan-rejects", s"$tmp/scan-inv-1")
      assert(s.loaded == 1 && s.rejected == 5)
    }
    // the warehouse write and the sidecar write
    assert(read > 0 && read <= 2L * n, s"read $read records for a $n-record extract")

    val clean = cleanOnlyFixture
    val cleanRows = clean.count()
    val noRejects = asJsonExtract(clean, "clean")
    val readClean = recordsReadDuring {
      val s = MonarchPipeline.dayScan(spark, noRejects, 2024, 3, 8,
        s"$tmp/scan-wh", s"$tmp/scan-rejects", s"$tmp/scan-inv-2")
      assert(s.loaded == 1 && s.rejected == 0)
    }
    // no rejects: the warehouse write is the only scan
    assert(readClean == cleanRows,
      s"read $readClean records for a $cleanRows-record extract with no rejects")
  }

  test("dayScan with no rejects removes the previous run's sidecar") {
    val rej = s"$tmp/stale-rejects"
    MonarchPipeline.dayScan(spark, RawFixture.df(spark), 2024, 3, 8,
      s"$tmp/stale-wh", rej, s"$tmp/stale-inv")
    assert(new java.io.File(rej).exists())
    val s = MonarchPipeline.dayScan(spark, cleanOnlyFixture, 2024, 3, 8,
      s"$tmp/stale-wh", rej, s"$tmp/stale-inv")
    assert(s.loaded == 1 && s.rejected == 0)
    assert(!new java.io.File(rej).exists(),
      "a run with no rejects left the previous run's sidecar in place")
  }

  test("dayScan counts stay exact when the geocode join shuffles") {
    // the rejected meter then sits in a shuffle map stage below the
    // join and the loaded meter above it
    val lookup = spark.createDataFrame(
      java.util.List.of(Row(36.16, -86.78, "Davidson", "Nashville")),
      StructType(Seq(
        StructField("lat_cell", DoubleType), StructField("lon_cell", DoubleType),
        StructField("county", StringType), StructField("cityOrTown", StringType))))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val s = MonarchPipeline.dayScan(spark, RawFixture.df(spark), 2024, 3, 8,
        s"$tmp/geo-wh", s"$tmp/geo-rejects", s"$tmp/geo-inv",
        new Enrichment.BroadcastGeocode(lookup))
      assert(s.loaded == 1 && s.rejected == 5)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val row = spark.read.parquet(s"$tmp/geo-wh").collect().head
    assert(row.getAs[String]("gbifID") == "12")
    assert(row.getAs[String]("county") == "Davidson")
  }

  test("dayScan on an empty extract loads and rejects nothing") {
    val empty = spark.createDataFrame(java.util.List.of[Row](), RawFixture.schema)
    val s = MonarchPipeline.dayScan(spark, empty, 2024, 3, 8,
      s"$tmp/empty-wh", s"$tmp/empty-rejects", s"$tmp/empty-inv")
    assert(s.loaded == 0 && s.rejected == 0)
    assert(spark.read.parquet(s"$tmp/empty-inv").collect()
      .map(_.getAs[Long]("record_count")).toSeq == Seq(0L))
  }

  test("read path filters by year/month/day with partition pruning") {
    // load a second day so the warehouse has 2 partitions
    MonarchPipeline.dayScan(spark, RawFixture.df(spark), 2024, 3, 7,
      s"$tmp/warehouse", s"$tmp/rejects", s"$tmp/inventory")

    val all = MonarchPipeline.readOccurrences(spark, s"$tmp/warehouse")
    assert(all.count() == 2)
    val march8 = MonarchPipeline.readOccurrences(spark, s"$tmp/warehouse",
      Some(2024), Some(3), Some(8))
    assert(march8.count() == 1)
    assert(march8.collect()(0).getAs[String]("gbifID") == "12")

    // inventory now has 2 days
    assert(spark.read.parquet(s"$tmp/inventory").count() == 2)
  }

  test("§3.3 duplicate-catch job finds no duplicates in a clean warehouse") {
    val warehouse = spark.read.parquet(s"$tmp/warehouse")
    assert(Dedup.findDuplicateGroups(warehouse).count() == 0)
  }

  test("training pipeline: scrub → gate → exact dedup → near dedup → split") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = "the quick brown fox jumps over the lazy dog and then it runs " +
      "far away to the old barn where it sleeps for a while in the warm hay " +
      "before it wakes and hunts again near the river bank at dawn with care"
    val docs = Seq(
      (1L, base + " contact me at fox@example.com please"),
      (2L, base + " contact me at fox@example.com please"), // exact dup of 1 (after scrub)
      (3L, base + " and some extra trailing words here now"), // near dup of 1
      (4L, "too short"),                                      // fails the gate
      (5L, "completely different content about winter snow storms blowing " +
        "across the frozen plains while travelers huddle in small cabins " +
        "drinking hot tea and telling long stories until the late night hours")
    ).toDF("doc_id", "text")
    val out = graft.pipeline.TrainingPipeline.prepare(docs,
      graft.pipeline.TrainingPipeline.Config(minJaccard = 0.5))
    val rows = out.collect()
    val kept = rows.map(_.getAs[Long]("doc_id")).toSet
    // 2 exact-dropped, 3 near-dropped (cluster canonical = 1), 4 gated out
    assert(kept == Set(1L, 5L), s"kept $kept")
    // PII scrubbed in the surviving text
    val t1 = rows.find(_.getAs[Long]("doc_id") == 1L).get.getAs[String]("text")
    assert(t1.contains("<EMAIL>") && !t1.contains("example.com"))
    // split assigned and deterministic end to end
    assert(rows.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
    val rerun = graft.pipeline.TrainingPipeline.prepare(docs,
      graft.pipeline.TrainingPipeline.Config(minJaccard = 0.5)).collect()
    assert(rerun.map(_.toString).sorted.sameElements(rows.map(_.toString).sorted))
  }

  test("composed pipeline: ExactSubstr scrub + WordPiece counts + stage meters") {
    import spark.implicits._
    val donor = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    // first 12 donor tokens + 8 unique ones: survives near-dedup
    // (Jaccard ≈ 0.39 < 0.5) but loses the borrowed span to ExactSubstr
    val borrower = donor.split(" ").take(12).mkString(" ") +
      " uniqa uniqb uniqc uniqd uniqe uniqf uniqg uniqh"
    val docs = Seq(
      (1L, donor),
      (2L, donor),      // exact dup, dropped at stage 3
      (3L, borrower),
      (4L, "too short") // gated out
    ).toDF("doc_id", "text")
    val prep = graft.pipeline.TrainingPipeline.prepareMetered(docs,
      graft.pipeline.TrainingPipeline.Config(minJaccard = 0.5,
        exactSubstrK = Some(8),
        wordPieceCfg = Some(graft.pipeline.TrainingPipeline.WordPieceCfg(4, 16, 2)),
        meterStages = true))
    val rows = prep.corpus.collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet == Set(1L, 3L))
    // borrower: windows 0-4 re-occur in the lower-id donor → the first
    // 12 tokens (coverage reach 4+8-1=11) are scrubbed, uniq tail stays
    assert(byId(3L).getAs[Int]("n_tokens") == 20)
    assert(byId(3L).getAs[Int]("n_dup_tokens") == 12)
    assert(byId(3L).getAs[String]("text") ==
      "uniqa uniqb uniqc uniqd uniqe uniqf uniqg uniqh")
    // donor holds every first occurrence: nothing scrubbed
    assert(byId(1L).getAs[Int]("n_dup_tokens") == 0)
    assert(byId(1L).getAs[String]("text") == donor)
    // WordPiece counts: >= one piece per surviving word
    rows.foreach { r =>
      val words = r.getAs[String]("text").split("\\s+").count(_.nonEmpty)
      assert(r.getAs[Long]("n_wordpiece_tokens") >= words.toLong)
    }
    assert(rows.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
    // stage meters: every stage accounted for, monotone doc counts
    val meters = prep.meters.map(m => m.stage -> (m.nRows, m.nTokens)).toMap
    assert(prep.meters.map(_.stage) == Seq("input", "scrubbed", "gated",
      "exact_dedup", "near_dedup", "substr_scrub", "wordpiece",
      "split_leaks"))
    assert(meters("input")._1 == 4 && meters("gated")._1 == 3)
    // dedup left one doc per component, so no pair can straddle splits
    assert(meters("split_leaks") == (0L, 0L))
    assert(meters("exact_dedup")._1 == 2 && meters("near_dedup")._1 == 2)
    // the substr stage removed exactly the 12 borrowed tokens
    assert(meters("near_dedup")._2 - meters("substr_scrub")._2 == 12)
    // the wordpiece meter totals the corpus token count the packer sees
    assert(meters("wordpiece")._2 ==
      rows.map(_.getAs[Long]("n_wordpiece_tokens")).sum)
  }

  test("ExactSubstr stage preserves every non-text corpus column") {
    import spark.implicits._
    val donor = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val borrower = donor.split(" ").take(12).mkString(" ") +
      " uniqa uniqb uniqc uniqd uniqe uniqf uniqg uniqh"
    // extra columns (source, lang) must ride through the substr stage —
    // the round-10 review found the scrub result replaced the corpus
    // frame wholesale, silently dropping them
    val docs = Seq(
      (1L, donor, "web", "en"),
      (3L, borrower, "books", "de")
    ).toDF("doc_id", "text", "source", "lang")
    val out = graft.pipeline.TrainingPipeline.prepare(docs,
      graft.pipeline.TrainingPipeline.Config(minJaccard = 0.5,
        exactSubstrK = Some(8)))
    assert(Set("doc_id", "text", "source", "lang", "n_tokens",
      "n_dup_tokens", "split").subsetOf(out.columns.toSet))
    val byId = out.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[String]("source") == "web" &&
      byId(1L).getAs[String]("lang") == "en")
    assert(byId(3L).getAs[String]("source") == "books" &&
      byId(3L).getAs[String]("lang") == "de")
    // and the scrub itself still applied on the joined-back text
    assert(byId(3L).getAs[String]("text") ==
      "uniqa uniqb uniqc uniqd uniqe uniqf uniqg uniqh")
    assert(byId(3L).getAs[Int]("n_dup_tokens") == 12)
  }

  test("LSH bucket cap: Zipf-headed flood fires the guard, components preserved") {
    import spark.implicits._
    // a near-dup FLOOD: 40 copies of one nonsense-token doc, each with
    // a unique marker token (no exact dups; pairwise Jaccard ≈ 0.9),
    // amid two unrelated real docs. With maxBucketSize = 8 every band's
    // majority bucket is ~5× over the cap → star-linked, and the
    // canonical (lowest-id) flood doc must be the sole survivor —
    // identical to the uncapped all-pairs semantics.
    val floodBase = "vorqel blenth krastu zimbor fleqan drubex woshti " +
      "plarnik gevoti muxard qelfin tarvok xubeni ralques pintoq hasver"
    val others = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then it runs " +
        "far away to the old barn where it sleeps for a while in the hay"),
      (2L, "completely different content about winter snow storms blowing " +
        "across the frozen plains while travelers huddle in small cabins"))
    val docs = (others ++ (0 until 40).map(i =>
      (2000L + i, s"$floodBase m$i"))).toDF("doc_id", "text")
    val capped = graft.pipeline.TrainingPipeline.prepareMetered(docs,
      graft.pipeline.TrainingPipeline.Config(maxBucketSize = 8))
    assert(capped.cappedBucketCount > 0,
      "a 40-doc near-identical flood against cap 8 must fire the guard")
    val uncapped = graft.pipeline.TrainingPipeline.prepareMetered(docs,
      graft.pipeline.TrainingPipeline.Config(maxBucketSize = 10000))
    assert(uncapped.cappedBucketCount == 0)
    val cappedIds = capped.corpus.collect().map(_.getAs[Long]("doc_id")).toSet
    val uncappedIds = uncapped.corpus.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(cappedIds == uncappedIds,
      s"capped survivors $cappedIds != uncapped $uncappedIds")
    // both regimes: flood collapses to its canonical doc, others survive
    assert(cappedIds == Set(1L, 2L, 2000L))
  }

  test("HTML stage 0: leaked chrome would merge unrelated pages; extraction prevents it") {
    import spark.implicits._
    // three pages, IDENTICAL heavy link-chrome, distinct short content:
    // chrome bytes dwarf content bytes, so if the chrome reached the
    // shingler every page would be a near-dup of every other
    val nav = "<nav><a href='/home'>Home page now</a> " +
      "<a href='/archive'>Archive of older posts</a> " +
      "<a href='/topics'>All topics index list</a> " +
      "<a href='/about'>About this site here</a> " +
      "<a href='/contact'>Contact the whole team</a> " +
      "<a href='/login'>Member login portal</a> " +
      "<a href='/search'>Search every article</a> " +
      "<a href='/help'>Help and support desk</a></nav>"
    val footer = "<footer><a href='/terms'>Terms of service text</a> " +
      "<a href='/privacy'>Privacy policy details</a> " +
      "<a href='/rss'>RSS feed subscription</a> " +
      "<a href='/jobs'>Jobs and open careers</a></footer>"
    val contents = Seq(
      1L -> ("the quick brown fox jumps over one lazy dog near the old " +
        "barn today at dawn"),
      2L -> ("winter snow storms blow across the frozen plains while " +
        "tired travelers rest inside"),
      3L -> ("bright summer markets sell ripe fruit beside the busy " +
        "harbor every single morning"))
    val pages = contents.map { case (id, c) =>
      (id, s"<html><body>$nav<p>$c</p>$footer</body></html>")
    }.toDF("doc_id", "text")
    // WITH extraction: chrome drops, contents are unrelated → all 3
    // survive, and exactly one block (the content <p>) is kept per page
    val clean = graft.pipeline.TrainingPipeline.prepare(pages,
      graft.pipeline.TrainingPipeline.Config(
        minJaccard = 0.5, htmlExtract = Some(25))).collect()
    assert(clean.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    assert(clean.forall(_.getAs[Int]("n_kept") == 1))
    assert(clean.forall(r => !r.getAs[String]("text").contains("Home page")))
    // WITHOUT extraction (raw HTML fed as text): the shared chrome
    // dominates the shingles → the three unrelated pages merge into
    // one near-dup component and only the canonical page survives —
    // the false-dedup failure mode stage 0 exists to prevent
    val leaked = graft.pipeline.TrainingPipeline.prepare(pages,
      graft.pipeline.TrainingPipeline.Config(minJaccard = 0.5)).collect()
    assert(leaked.map(_.getAs[Long]("doc_id")).toSet == Set(1L),
      "raw chrome must merge all pages into one component")
  }

  test("splitByComponent with kept near-dup families: twins share group and split, zero leaks") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then it " +
      "runs far away to the old barn where it sleeps for a while in the " +
      "warm hay before it wakes and hunts again near the river bank"
    val docs = Seq(
      (1L, base + " first variant tail words here"),
      (3L, base + " and some extra trailing words now"), // near dup of 1
      (5L, "completely different content about winter snow storms " +
        "blowing across the frozen plains while travelers huddle in " +
        "small cabins drinking hot tea and telling long stories"))
      .toDF("doc_id", "text")
    val prep = graft.pipeline.TrainingPipeline.prepareMetered(docs,
      graft.pipeline.TrainingPipeline.Config(
        minJaccard = 0.5, dropNearDups = false,
        splitByComponent = true, auditableSplit = true,
        meterStages = true))
    val rows = prep.corpus.collect()
    // families KEPT: all three docs present
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L, 5L))
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // twins carry the component representative as group, singleton = self
    assert(byId(1L).getAs[Long]("group_id") == 1L)
    assert(byId(3L).getAs[Long]("group_id") == 1L)
    assert(byId(5L).getAs[Long]("group_id") == 5L)
    // the family lands whole in one split
    assert(byId(1L).getAs[String]("split") == byId(3L).getAs[String]("split"))
    // and the pipeline's own stage-8 audit meter proves zero leakage
    val leak = prep.meters.find(_.stage == "split_leaks")
    assert(leak.exists(m => m.stageNo == 8 && m.nRows == 0L), s"$leak")
  }
}
