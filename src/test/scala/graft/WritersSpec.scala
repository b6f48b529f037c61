package graft

import java.sql.{Date => SqlDate, Timestamp}

import org.apache.spark.sql.functions._

import graft.sinks.Writers

class WritersSpec extends SparkSpec {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-inv").toString + "/inventory"

  private val t0 = new Timestamp(1700000000000L)

  test("inventory upsert: insert then update-on-conflict (reference ON CONFLICT semantics)") {
    val path = freshPath()
    Writers.upsertInventory(spark, path,
      SqlDate.valueOf("2024-06-01"), "monarch_2024_06", 100L, t0)
    Writers.upsertInventory(spark, path,
      SqlDate.valueOf("2024-06-02"), "monarch_2024_06", 50L, t0)
    // same key again with a new count → replaces, not duplicates
    val out = Writers.upsertInventory(spark, path,
      SqlDate.valueOf("2024-06-01"), "monarch_2024_06", 111L, t0)
    assert(out.count() == 2)
    val day1 = out.filter(col("available_date") === lit(SqlDate.valueOf("2024-06-01")))
      .collect()
    assert(day1.length == 1 && day1.head.getAs[Long]("record_count") == 111L)
  }

  test("inventory upsert swaps atomically: no temp/backup leftovers, catalog always readable") {
    val path = freshPath()
    Writers.upsertInventory(spark, path,
      SqlDate.valueOf("2024-06-01"), "t", 1L, t0)
    // a stale temp dir from a crashed previous run must not break the swap
    val parent = new java.io.File(path).getParentFile
    val stale = new java.io.File(path + ".tmp-stale")
    stale.mkdirs()
    Writers.upsertInventory(spark, path,
      SqlDate.valueOf("2024-06-02"), "t", 2L, t0)
    // live path readable with both rows; no .bak-* residue from the swap
    assert(spark.read.parquet(path).count() == 2)
    val residue = parent.listFiles().map(_.getName)
      .filter(n => n.contains(".bak-"))
    assert(residue.isEmpty, s"leftover swap dirs: ${residue.mkString(",")}")
  }

  test("inventory upsert is single-writer: a held lock rejects a second writer") {
    val path = freshPath()
    Writers.upsertInventory(spark, path,
      SqlDate.valueOf("2024-06-01"), "t", 1L, t0)
    // simulate a concurrent (or crashed) writer holding the lock
    val lock = new java.io.File(path + ".lock")
    assert(lock.createNewFile(), "could not plant the lock")
    val e = intercept[IllegalStateException] {
      Writers.upsertInventory(spark, path,
        SqlDate.valueOf("2024-06-02"), "t", 2L, t0)
    }
    assert(e.getMessage.contains("single-writer"))
    // the failed attempt must not have touched the live catalog
    assert(spark.read.parquet(path).count() == 1)
    // operator removes the stale lock → the next upsert proceeds
    assert(lock.delete())
    assert(Writers.upsertInventory(spark, path,
      SqlDate.valueOf("2024-06-02"), "t", 2L, t0).count() == 2)
    // and the lock is released after a successful run
    assert(!lock.exists(), "lock not released after upsert")
  }

  test("inventory upsert: concurrent writers retrying on the lock lose no row") {
    val path = freshPath()
    val dates = (1 to 8).map(d => SqlDate.valueOf(f"2024-07-$d%02d"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(dates.size)
    try {
      val done = dates.zipWithIndex.map { case (d, i) =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            var attempts = 0
            var landed = false
            while (!landed) {
              attempts += 1
              try {
                Writers.upsertInventory(spark, path, d, s"t$i", i.toLong, t0)
                landed = true
              } catch {
                case e: IllegalStateException if e.getMessage.contains("single-writer") =>
                  Thread.sleep(10)
              }
            }
            attempts
          }
        })
      }
      start.countDown()
      done.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val got = spark.read.parquet(path).collect().map(r =>
      r.getAs[SqlDate]("available_date").toString -> r.getAs[Long]("record_count")).toMap
    assert(got == dates.zipWithIndex.map { case (d, i) => d.toString -> i.toLong }.toMap)
    assert(!new java.io.File(path + ".lock").exists(), "lock not released")
  }

  test("partitioned merge: touched partitions upserted, untouched partition files not rewritten") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/t"
    Seq(
      (1L, "d1", 10), (2L, "d1", 20),
      (3L, "d2", 30), (4L, "d2", 40),
      (5L, "d3", 50)
    ).toDF("k", "day", "v")
      .write.partitionBy("day").parquet(path)
    def filesOf(day: String) =
      new java.io.File(s"$path/day=$day").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    val d1Before = filesOf("d1"); val d3Before = filesOf("d3")
    // update k=3, insert k=6 — both in day d2; d1/d3 untouched
    val updates = Seq((3L, "d2", 300), (6L, "d2", 60)).toDF("k", "day", "v")
    Writers.mergeIntoPartitioned(spark, path, updates, "k", "day")
    val after = spark.read.parquet(path)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(after == Map(1L -> 10, 2L -> 20, 3L -> 300, 4L -> 40, 5L -> 50, 6L -> 60),
      s"merge result wrong: $after")
    // the untouched partitions' physical files were not rewritten
    assert(filesOf("d1") == d1Before, "day=d1 files rewritten by a d2-only merge")
    assert(filesOf("d3") == d3Before, "day=d3 files rewritten by a d2-only merge")
  }

  test("partitioned merge: NULL partition values upsert null-safely (no silent row loss)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-merge-null").toString + "/t"
    Seq(
      (1L, Option("d1"), 10),
      (2L, Option.empty[String], 20), // null partition, NOT updated
      (3L, Option.empty[String], 30)  // null partition, updated below
    ).toDF("k", "day", "v")
      .write.partitionBy("day").parquet(path)
    // plain isin(null) would evaluate NULL for the null-partition rows,
    // exclude k=2 from the merge, and the dynamic overwrite of
    // __HIVE_DEFAULT_PARTITION__ would silently delete it
    val updates = Seq((3L, Option.empty[String], 300), (4L, Option.empty[String], 40))
      .toDF("k", "day", "v")
    Writers.mergeIntoPartitioned(spark, path, updates, "k", "day")
    val after = spark.read.parquet(path)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(after == Map(1L -> 10, 2L -> 20, 3L -> 300, 4L -> 40),
      s"null-partition merge lost or mangled rows: $after")
  }

  test("range-clustered write: output files cover disjoint key ranges (file-skipping layout)") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-cluster").toString + "/t"
    // deliberately scrambled input: without clustering, every file
    // would span the whole key range and min/max stats prune nothing
    val df = spark.range(0, 20000).toDF("id")
      .withColumn("k", pmod(col("id") * 7919, lit(20000)))
      .repartition(16)
    Writers.writeRangeClustered(df, path, Seq("k"), nFiles = 4)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 4, s"expected 4 clustered files, got ${files.length}")
    // per-file (min, max) of the cluster key must be pairwise disjoint —
    // that disjointness IS what lets parquet row-group stats skip files
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("k"), max("k")).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, s"file ranges overlap: hi=$hi lo=$lo")
      case _ =>
    }
    // nothing lost in the rewrite
    assert(spark.read.parquet(path).count() == 20000)
  }

  test("z-ordered write: files cover disjoint Morton ranges; both keys cluster") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-zorder").toString + "/t"
    // scrambled 2-D grid: 128×128 keys in row-scrambled order
    val df = spark.range(0, 16384).toDF("id")
      .withColumn("a", pmod(col("id") * 7919, lit(16384)) % 128)
      .withColumn("b", pmod(col("id") * 104729, lit(16384)) % 128)
      .repartition(16)
    Writers.writeZOrdered(df, path, "a", "b", nFiles = 8, bits = 7)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 8)
    // per-file Morton ranges disjoint (the pruning invariant)…
    val z = Writers.zValue(col("a"), col("b"), bits = 7)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(z), max(z)).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, s"overlap: $hi >= $lo")
      case _ =>
    }
    // …and BOTH dimensions cluster: every file's per-key span must be
    // well under the full 0..127 range (a single-key range cluster
    // leaves the second key spanning everything)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("a"), max("a"), min("b"), max("b")).collect().head
      (r.getLong(1) - r.getLong(0), r.getLong(3) - r.getLong(2))
    }
    // (sampled range boundaries can let one file straddle a quadrant
    // seam — require the bulk of tiles compact, not every tile)
    val compactTiles = spans.count { case (sa, sb) => sa <= 96 && sb <= 96 }
    assert(compactTiles >= 6,
      s"only $compactTiles/8 tiles are 2-D compact: ${spans.mkString(",")}")
    // nothing lost
    assert(spark.read.parquet(path).count() == 16384)
    // Morton value spot-check: interleave of (0b101, 0b011) = a bits at
    // even positions, b bits at odd → 0b010111 = 23... computed: a=5,b=3
    val got = spark.range(1).select(
      Writers.zValue(lit(5), lit(3), bits = 3)).collect()(0).getLong(0)
    // a=101 → bits 0,2 at z0,z4 ; b=011 → bits 0,1 at z1,z3
    // z = 1(z0)+2(z1)+0(z2)+8(z3)+16(z4)+0(z5) = 27
    assert(got == 27L, s"zValue(5,3)=$got, expected 27")
  }

  test("compaction: fragmented table rewritten to the target file count, data intact") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // fragment: 64 partitions → 64 small files
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
    df.repartition(64).write.parquet(path)
    def parquetFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles == 64, s"fixture expected 64 files, got $parquetFiles")
    val before = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // generous target → everything folds into one file
    val n = Writers.compactParquet(spark, path, targetFileBytes = 1L << 30)
    assert(n == 1 && parquetFiles == 1, s"expected 1 file, got $parquetFiles")
    val after = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction changed the data")
    // no tmp/bak leftovers
    val siblings = new java.io.File(path).getParentFile.listFiles().map(_.getName)
    assert(!siblings.exists(s => s.contains(".tmp-") || s.contains(".bak-")),
      s"compaction left temp dirs: ${siblings.mkString(", ")}")
    // a tighter target yields multiple ≈equal files
    val bytes = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val n2 = Writers.compactParquet(spark, path, targetFileBytes = bytes / 3)
    assert(n2 >= 3 && parquetFiles == n2, s"expected >=3 files, got $n2/$parquetFiles")
    assert(spark.read.parquet(path).count() == 10000)
  }

  test("partitioned compaction: fragmented leaves compact, healthy leaves stay byte-identical") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-pcompact").toString + "/t"
    // partition a: fragmented into 16 files; partition b: already one
    // file (healthy) — written separately so the layouts differ
    val a = spark.range(0, 8000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .withColumn("part", lit("a"))
    val b = spark.range(8000, 12000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .withColumn("part", lit("b"))
    a.repartition(16).write.partitionBy("part").parquet(path)
    b.coalesce(1).write.partitionBy("part").mode("append").parquet(path)
    def leafFiles(leaf: String) = new java.io.File(s"$path/part=$leaf").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(leafFiles("a").length == 16 && leafFiles("b").length == 1)
    val bBefore = leafFiles("b").map(f => (f.getName, f.length, f.lastModified))
    val before = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val counts = Writers.compactPartitionedTable(spark, path, targetFileBytes = 1L << 30)
    // per-leaf targets: fragmented leaf folded to 1, healthy leaf
    // skipped (keys are FS-qualified, e.g. file:/tmp/... — match by leaf)
    def leafCount(leaf: String): Int =
      counts.collectFirst { case (k, v) if k.endsWith(s"/part=$leaf") => v }.get
    assert(counts.size == 2, s"expected 2 leaves, got $counts")
    assert(leafCount("a") == 1 && leafFiles("a").length == 1,
      s"fragmented leaf not compacted: $counts")
    assert(leafCount("b") == 1)
    // the healthy leaf was never rewritten: same file names, sizes, mtimes
    val bAfter = leafFiles("b").map(f => (f.getName, f.length, f.lastModified))
    assert(bAfter.sameElements(bBefore),
      s"healthy partition rewritten: $bBefore -> $bAfter")
    // row identity through the rewrite, partition column included
    val after = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(after == before, "partitioned compaction changed the data")
    // no lock/tmp/bak leftovers anywhere in the table
    val leftovers = new java.io.File(path).listFiles().map(_.getName)
      .filter(s => s.contains(".tmp-") || s.contains(".bak-") || s.contains(".lock"))
    assert(leftovers.isEmpty, s"leftovers: ${leftovers.mkString(", ")}")
  }

  test("partitioned compaction: fragmented leaves compact CONCURRENTLY") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-ccompact").toString + "/t"
    // 3 fragmented leaves (16 files each) + 1 healthy leaf
    (0 until 3).foreach { i =>
      spark.range(i * 4000, (i + 1) * 4000).toDF("id")
        .withColumn("payload", md5(col("id").cast("string")))
        .withColumn("part", lit(s"f$i"))
        .repartition(16).write.partitionBy("part").mode("append").parquet(path)
    }
    spark.range(12000, 16000).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .withColumn("part", lit("h"))
      .coalesce(1).write.partitionBy("part").mode("append").parquet(path)
    def leafFiles(leaf: String) = new java.io.File(s"$path/part=$leaf").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val hBefore = leafFiles("h").map(f => (f.getName, f.length, f.lastModified))
    val before = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // observe per-leaf (start, end) spans through the spec hook
    val spans = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val counts = Writers.compactPartitionedTableHooked(
      spark, path, targetFileBytes = 1L << 30, maxConcurrentLeaves = 4,
      (leaf, t0, t1) => { spans.put(leaf, (t0, t1)); () })
    assert(counts.size == 4, s"expected 4 leaves, got $counts")
    (0 until 3).foreach(i => assert(leafFiles(s"f$i").length == 1,
      s"leaf f$i not compacted"))
    // the serial driver loop this replaces had zero overlap by
    // construction; with a 4-thread pool the 3 fragmented leaf jobs
    // start together, so at least one pair of spans must overlap
    import scala.jdk.CollectionConverters._
    val fragSpans = spans.asScala.collect {
      case (k, span) if !k.endsWith("/part=h") => span
    }.toSeq
    val overlaps = fragSpans.combinations(2).count {
      case Seq((s1, e1), (s2, e2)) => s1 < e2 && s2 < e1
      case _ => false
    }
    assert(overlaps >= 1,
      s"no fragmented-leaf compactions overlapped: spans=$fragSpans")
    // identical results + healthy leaf untouched, same as the serial path
    val after = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(after == before, "concurrent compaction changed the data")
    val hAfter = leafFiles("h").map(f => (f.getName, f.length, f.lastModified))
    assert(hAfter.sameElements(hBefore), "healthy partition rewritten")
  }

  test("snapshot versions: pinned reads are immutable, vacuum retires only old versions") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val path = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1data = (0 until 100).map(i => (i.toLong, s"a$i")).toDF("id", "v")
    val v2data = (0 until 50).map(i => (i.toLong, s"b$i")).toDF("id", "v")
    assert(Writers.writeSnapshotVersion(v1data, path) == 1)
    assert(Writers.writeSnapshotVersion(v2data, path) == 2)
    assert(Writers.listSnapshotVersions(spark, path) == Seq(1, 2))
    // pinned v1 after v2 exists: exactly v1's content, no leakage
    val r1 = Writers.readSnapshotVersion(spark, path, Some(1))
    assert(r1.count() == 100)
    assert(r1.filter(col("v").startsWith("b")).count() == 0)
    assert(Writers.readSnapshotVersion(spark, path).count() == 50) // latest
    // crash residue: files moved in, manifest missing -> version is
    // invisible to readers AND the number is safely reused
    val stray = new Path(path, "v3-0-part-crash.snappy.parquet")
    val out = fs.create(stray, false); out.write(Array[Byte](1)); out.close()
    assert(Writers.listSnapshotVersions(spark, path) == Seq(1, 2))
    assert(Writers.writeSnapshotVersion(v1data, path) == 3)
    assert(Writers.readSnapshotVersion(spark, path, Some(3)).count() == 100)
    assert(!fs.exists(stray), "crashed-commit residue must be swept on reuse")
    // vacuum to the newest 1: v1/v2 unreadable, v3 intact and complete
    Writers.vacuumSnapshots(spark, path, keep = 1)
    assert(Writers.listSnapshotVersions(spark, path) == Seq(3))
    assert(Writers.readSnapshotVersion(spark, path).count() == 100)
    intercept[IllegalArgumentException] {
      Writers.readSnapshotVersion(spark, path, Some(1))
    }
    // only v3's files remain in the dir (plus its manifest)
    val leftover = fs.listStatus(new Path(path)).map(_.getPath.getName)
      .filterNot(n => n.startsWith("v3-") || n == "_manifest-v3")
    assert(leftover.isEmpty, s"vacuum left $leftover")
  }

  test("snapshot append: metadata-only delta, shared files survive vacuum") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val path = java.nio.file.Files.createTempDirectory("graft-snap2").toString + "/t"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = (0 until 100).map(i => (i.toLong, "base")).toDF("id", "tag")
    val delta = (100 until 130).map(i => (i.toLong, "delta")).toDF("id", "tag")
    assert(Writers.writeSnapshotVersion(base, path) == 1)
    val v1Files = fs.listStatus(new Path(path))
      .filter(_.getPath.getName.startsWith("v1-"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    assert(Writers.appendSnapshotVersion(delta, path) == 2)
    // the append rewrote NOTHING: v1 data files byte-identical
    val v1After = fs.listStatus(new Path(path))
      .filter(_.getPath.getName.startsWith("v1-"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    assert(v1After.sameElements(v1Files), "append rewrote historical files")
    // v2 = v1 + delta; v1 pinned read unchanged
    assert(Writers.readSnapshotVersion(spark, path, Some(1)).count() == 100)
    val v2 = Writers.readSnapshotVersion(spark, path)
    assert(v2.count() == 130)
    assert(v2.filter(col("tag") === "delta").count() == 30)
    // appending to an empty table is a loud error, not a silent base
    intercept[IllegalArgumentException] {
      Writers.appendSnapshotVersion(delta, path + "-absent")
    }
    // vacuum keep=1 retains v1's files (still referenced by v2's manifest)
    Writers.vacuumSnapshots(spark, path, keep = 1)
    assert(Writers.listSnapshotVersions(spark, path) == Seq(2))
    assert(Writers.readSnapshotVersion(spark, path).count() == 130,
      "vacuum deleted files shared with the retained append manifest")
  }

  test("partition TTL: drops strictly-below leaves, keeps cutoff day, NULL leaf, survivors untouched") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val path = java.nio.file.Files.createTempDirectory("graft-ttl").toString + "/t"
    val rows = Seq(
      (1L, "2024-01-01"), (2L, "2024-01-05"), (3L, "2024-01-10"),
      (4L, "2024-01-11"), (5L, "2024-01-20"), (6L, null)
    ).toDF("id", "date_only")
    Writers.writePartitionedByDay(rows, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val survivorLeaf = new Path(path, "date_only=2024-01-20")
    val survivorFiles = fs.listStatus(survivorLeaf)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    val dropped = Writers.dropPartitionsBelow(spark, path, "date_only", "2024-01-11")
    assert(dropped == Seq("2024-01-01", "2024-01-05", "2024-01-10"))
    val back = spark.read.parquet(path)
    // cutoff day itself survives (strictly-below semantics), NULL leaf kept
    assert(back.select("id").collect().map(_.getLong(0)).toSet == Set(4L, 5L, 6L))
    // surviving leaves untouched byte-for-byte (no rewrite)
    val after = fs.listStatus(survivorLeaf)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    assert(after.sameElements(survivorFiles), "TTL rewrote surviving partition files")
    // idempotent: nothing left below the cutoff
    assert(Writers.dropPartitionsBelow(spark, path, "date_only", "2024-01-11").isEmpty)
    // absent table: no-op, not an error
    assert(Writers.dropPartitionsBelow(spark, path + "-absent", "date_only", "x").isEmpty)
  }
}
