package graft.sinks

import java.sql.{Date => SqlDate, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.Occurrence

/** Sinks (SURVEY.md §2.8 K1–K3, §2.7 D2).
  *
  * The reference loads with `to_sql(if_exists='replace')` per day/month
  * table (`/root/reference/monarch_etl/db_loader.py:50-59`) — a manual
  * partition-overwrite. Here the same idempotency is dynamic partition
  * overwrite over one `date_only`-partitioned table: reprocessing a day
  * replaces exactly that day's partition and nothing else.
  */
object Writers {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Acquire a create-if-absent lock file guarding a rename-swap.
    * Atomic per filesystem: HDFS makes create(overwrite=false) an
    * atomic namespace op; the local FS implements it as
    * exists-then-create (two concurrent local writers could both
    * pass), so there java.io.File.createNewFile (O_EXCL) is used
    * instead. Other schemes (object stores) get a loud WARN — their
    * create-if-absent is not atomic and single-writer must be
    * enforced externally. Throws IllegalStateException when the lock
    * is already held.
    */
  private[graft] def acquireSwapLock(
      fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path, what: String): Unit = {
    def fail(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"$what: another writer holds $lock (or a crashed run left it); " +
          "swaps are single-writer", cause)
    if (fs.getScheme == "file") {
      val f = new java.io.File(lock.toUri.getPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      if (!f.createNewFile()) fail(null)
    } else {
      if (fs.getScheme != "hdfs")
        log.warn(s"$what: lock file on scheme '${fs.getScheme}' is NOT atomic " +
          "(create-if-absent is exists-then-create on object stores); single-writer " +
          "must be enforced externally. Atomic lock schemes: file, hdfs.")
      val lockStream =
        try fs.create(lock, false)
        catch { case e: java.io.IOException => fail(e) }
      lockStream.close()
    }
  }

  /** Staging/backup paths for a swap of `dst`: siblings whose last
    * component is DOT-PREFIXED, so a concurrent Spark reader listing
    * the PARENT directory never sees the staged or retired copy as
    * data — Spark's hidden-path filtering skips `.`/`_` names during
    * file listing. This matters precisely for the per-leaf swaps
    * ([[deleteKeysPruned]], [[compactPartitionedTable]]) where the
    * parent IS the table root: an un-prefixed `p=0.tmp-…` sibling is
    * picked up by partition discovery, so a concurrent full-table read
    * would see the leaf TWICE during a normal swap (old + staged) and
    * a crashed delete would resurrect erased keys through the `.bak`
    * (FaultInjectionSpec caught exactly this). Same parent ⇒ the
    * publish renames stay same-filesystem metadata-only ops.
    */
  private[graft] def swapPaths(dst: Path): (Path, Path) = {
    val stamp = java.util.UUID.randomUUID().toString
    val parent = Option(dst.getParent).getOrElse(
      throw new IllegalArgumentException(s"swap of filesystem root: $dst"))
    (new Path(parent, s".${dst.getName}.tmp-$stamp"),
      new Path(parent, s".${dst.getName}.bak-$stamp"))
  }

  /** Publish a fully-staged artifact at `tmp` as the live `dst` via two
    * CHECKED metadata-only renames: dst→bak (retire), tmp→dst
    * (publish), then delete the bak. The one shared swap discipline
    * behind [[compactParquet]], [[upsertInventory]],
    * [[deleteKeysPruned]] and [[Pruning.writeIndexMeta]].
    *
    * Crash contract, step by step (each boundary is a
    * [[FaultInjection]] point, proven by FaultInjectionSpec):
    *  - before the retire rename: live path holds the OLD artifact,
    *    complete; the staged copy is invisible to readers.
    *  - between the renames (`:retired`): live path is ABSENT — the
    *    documented recovery state — with the old artifact complete at
    *    `bak` and the new one complete at `tmp`.
    *  - after the publish rename: live path holds the NEW artifact,
    *    complete; the bak is redundant.
    * A reader therefore sees old, new, or clean absence — NEVER a torn
    * directory, because renames are atomic namespace ops on file/hdfs
    * and data files are only ever written under `tmp`.
    *
    * Failure handling (rename returning false): a failed publish
    * restores `bak` to `dst` before throwing; if that restore ALSO
    * fails, `onUnrecovered()` runs (callers keep their lock there) and
    * the thrown message names both preserved copies. A failed bak
    * delete after a verified publish only strands a stale backup —
    * logged, not fatal.
    *
    * @param hadPrior pass false on a first write (no dst to retire)
    */
  private[graft] def publishByRename(
      fs: org.apache.hadoop.fs.FileSystem,
      dst: Path, tmp: Path, bak: Path, what: String,
      hadPrior: Boolean = true,
      onUnrecovered: () => Unit = () => ()): Unit = {
    FaultInjection.point(s"$what:staged")
    if (hadPrior && !fs.rename(dst, bak))
      throw new java.io.IOException(s"$what: rename $dst -> $bak failed")
    FaultInjection.point(s"$what:retired")
    if (!fs.rename(tmp, dst)) {
      // put the previous artifact back before failing: the live path
      // must not be left absent when a full copy exists
      if (hadPrior && !fs.rename(bak, dst)) {
        onUnrecovered()
        throw new java.io.IOException(
          s"$what: rename $tmp -> $dst failed AND restoring " +
            s"$bak -> $dst failed; live path $dst is ABSENT. Data is " +
            s"preserved at $bak (old) and $tmp (new) — restore $bak " +
            s"to $dst manually")
      }
      throw new java.io.IOException(s"$what: rename $tmp -> $dst failed")
    }
    FaultInjection.point(s"$what:published")
    // swap verified — the .bak is now redundant; a failed delete only
    // strands a stale backup (harmless), so its result is not fatal
    if (hadPrior && !fs.delete(bak, true))
      log.warn(s"$what: could not delete redundant backup $bak")
  }

  /** K1: idempotent per-day load. Dynamic partition overwrite means only
    * the partitions present in `df` are replaced — the Spark equivalent of
    * the reference's drop-and-recreate-per-day-table.
    *
    * Scale: writes are partition-parallel; `partitionBy(date_only)` gives
    * the read path partition pruning for the year/month/day filter API.
    */
  def writePartitionedByDay(df: DataFrame, path: String): Unit =
    df.write
      .partitionBy("date_only")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** K2: plain append load (legacy `if_exists='append'`,
    * `/root/reference/monarch_etl_gemini_ai.py:483`).
    */
  def appendPartitionedByDay(df: DataFrame, path: String): Unit =
    df.write.partitionBy("date_only").mode(SaveMode.Append).parquet(path)

  /** K3: rejection sidecar export (`/root/reference/monarch_etl/etl.py:63-67`).
    * CSV with header, one directory per run.
    */
  def writeRejections(rejected: DataFrame, path: String): Unit =
    rejected.write.option("header", "true").mode(SaveMode.Overwrite).csv(path)

  /** K3 for a run with no rejects: removes the sidecar an earlier run
    * left at `path`, so the path keeps meaning "the latest run's
    * rejects" without a scan to write an empty file.
    */
  def removeRejections(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Retention TTL for a hive-partitioned table: drop every
    * `partitionCol=<value>` leaf whose value sorts strictly below
    * `cutoff` — the data-retention counterpart of the per-day loaders
    * above. Deletion is per-PARTITION-DIRECTORY (a metadata/namespace
    * operation: no file is read, no surviving row rewritten), which is
    * the only retention shape that works at 100 TB — row-level TTL
    * deletes would rewrite the table. String comparison on the
    * partition value is correct for the ISO `date_only=yyyy-MM-dd`
    * layout (lexicographic = chronological) and for zero-padded
    * numeric partitions; the `__HIVE_DEFAULT_PARTITION__` (NULL) leaf
    * is never dropped — NULL has no age.
    *
    * Returns the dropped partition values, so a production job can log
    * exactly what it retired.
    */
  def dropPartitionsBelow(
      spark: SparkSession, path: String, partitionCol: String,
      cutoff: String): Seq[String] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else {
      val prefix = s"$partitionCol="
      val nullLeaf = s"${prefix}__HIVE_DEFAULT_PARTITION__"
      fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) &&
          st.getPath.getName != nullLeaf)
        .map(st => st.getPath)
        .filter(_.getName.stripPrefix(prefix) < cutoff)
        .sortBy(_.getName)
        .map { p =>
          if (!fs.delete(p, true))
            throw new java.io.IOException(s"dropPartitionsBelow: delete $p failed")
          p.getName.stripPrefix(prefix)
        }
    }
  }

  /** Partition-pruned MERGE (upsert) into a partitioned parquet table
    * — the fact-table-scale upsert `upsertInventory` is NOT (that one
    * is a driver-side read-modify-write for a catalog-sized table):
    *
    *   1. affected partitions = the distinct `partitionCol` values in
    *      `updates` (a bounded driver collect: days touched, not rows),
    *   2. read ONLY those partitions (partition-pruned scan),
    *      anti-join away rows whose key is being replaced, union the
    *      updates (insert-or-replace semantics),
    *   3. dynamic partition overwrite rewrites ONLY those partitions —
    *      the rest of the 100 TB table is never read or written.
    *
    * The merged rows are materialized (localCheckpoint) before the
    * write because the write overwrites the very partitions the plan
    * reads — materialization bounds memory to the touched partitions,
    * which is the same working set any MERGE implementation holds.
    * Not atomic across partitions (a table format provides that); each
    * partition swap is per-directory like every dynamic overwrite.
    */
  def mergeIntoPartitioned(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, partitionCol: String): Unit = {
    val touched = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0))
    require(touched.nonEmpty, "mergeIntoPartitioned: updates are empty")
    // NULL partition values need a null-safe membership test: a plain
    // `isin` evaluates to NULL (not true) for rows in the null partition
    // (__HIVE_DEFAULT_PARTITION__), silently dropping their existing
    // rows from the merge and losing them in the dynamic overwrite.
    val nonNullTouched = touched.filter(_ != null)
    val membership = {
      val base =
        if (nonNullTouched.isEmpty) lit(false)
        else col(partitionCol).isin(nonNullTouched: _*)
      if (touched.exists(_ == null)) base || col(partitionCol).isNull
      else base
    }
    val existing = spark.read.parquet(path).filter(membership)
    val merged = existing
      .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(updates)
      .localCheckpoint(true)
    merged.write
      .partitionBy(partitionCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)
    // the write consumed the materialized merge — release its blocks
    graft.plans.Checkpoints.drop(merged)
  }

  /** Range-clustered write: globally range-partition on `clusterCols`
    * and sort within each partition before writing parquet. Every
    * output file then covers a narrow, (near-)disjoint range of the
    * cluster key, so parquet's per-row-group min/max statistics let a
    * selective scan SKIP whole files/row-groups — the poor man's
    * Z-order, and the single highest-leverage layout decision for a
    * 100 TB table queried by range (time, id, geo cell): pruning
    * happens before any I/O, complementing partition pruning (which
    * handles only the directory-level key).
    *
    * `nFiles` sizes the output (range partitioner sampling keeps files
    * balanced under skew). Returns the path for chaining.
    */
  def writeRangeClustered(df: DataFrame, path: String,
      clusterCols: Seq[String], nFiles: Int): String = {
    require(clusterCols.nonEmpty, "need at least one cluster column")
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    val cols = clusterCols.map(col)
    df.repartitionByRange(nFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
    path
  }

  /** Morton (Z-order) value of two non-negative integer keys: their
    * low `bits` bits interleaved (a at even positions, b at odd) — a
    * space-filling curve so that sorting by ONE value clusters BOTH
    * dimensions. Pure shift/mask/or integer arithmetic, so any engine
    * reproduces it bit-for-bit (the q89 oracle replays it in SQL).
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val al = a.cast(org.apache.spark.sql.types.LongType)
    val bl = b.cast(org.apache.spark.sql.types.LongType)
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(al, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftrightunsigned(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Z-order-clustered write ([[writeRangeClustered]]'s multi-column
    * upgrade — the lakehouse OPTIMIZE ZORDER BY): range-partition and
    * sort on the Morton value of the two cluster keys, so every
    * output file covers a compact 2-D tile and parquet min/max stats
    * prune scans filtered on EITHER key (a single-column range
    * cluster prunes only its leading key). Returns the path.
    */
  def writeZOrdered(df: DataFrame, path: String,
      colA: String, colB: String, nFiles: Int, bits: Int = 16): String = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    val z = zValue(col(colA), col(colB), bits).as("_z")
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
    path
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ≈`targetFileBytes`-sized files. Streaming sinks, per-day dynamic
    * partition overwrites, and high-parallelism writes all fragment a
    * table into thousands of KB-scale files; at 100 TB the resulting
    * per-file open/footer overhead dominates scan time and the
    * NameNode/object-store listing itself becomes the bottleneck —
    * periodic compaction is the standard remedy.
    *
    * The rewrite targets the file count from the CURRENT on-disk bytes
    * (`ceil(bytes / targetFileBytes)`), uses a round-robin
    * `repartition(n)` (no column skew — output files are uniformly
    * sized), and swaps via the same lock + checked tmp/bak rename
    * pattern as [[upsertInventory]]: a crash mid-compaction never
    * loses DATA (full copies always exist at the live, `.tmp` or
    * `.bak` path), though a crash in the instant between the two
    * renames can leave the live path absent until the `.bak` copy is
    * restored — the same recovery contract as the inventory swap. The
    * lock file (`<path>.compact.lock`) rejects a concurrent
    * compaction/swap of the same directory; a crashed run leaves it
    * behind — remove it manually after verifying no writer is live.
    * Returns the output file count.
    *
    * Partitioned tables: compact each partition directory independently
    * (call this per leaf directory) — compacting across partition
    * boundaries would destroy the partition pruning the layout exists
    * for.
    */
  def compactParquet(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    import org.apache.hadoop.fs.Path
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(path + ".compact.lock")
    acquireSwapLock(fs, lock, "compactParquet")
    // If the tmp->dst swap fails AND the bak->dst restore also fails, the
    // live path is absent: releasing the lock there would let a concurrent
    // writer acquire it against a directory whose data lives only at the
    // .bak path. Keep the lock held in that (doubly-failed) state so the
    // inconsistency must be repaired manually before any other writer runs.
    var keepLock = false
    try {
      FaultInjection.point("compactParquet:locked")
      val totalBytes = fs.getContentSummary(dst).getLength
      val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
      val df = spark.read.parquet(path)
      val (tmp, bak) = swapPaths(dst)
      df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      publishByRename(fs, dst, tmp, bak, "compactParquet",
        onUnrecovered = () => keepLock = true)
      nFiles
    } finally if (!keepLock) fs.delete(lock, false)
  }

  /** Partition-aware compaction: enumerate a partitioned table's LEAF
    * partition directories (hive `key=value` layout, any nesting depth)
    * and compact each independently through [[compactParquet]] — the
    * operational shape a 100 TB partitioned table needs: compacting
    * across partition boundaries would destroy the directory-level
    * pruning the layout exists for, so the unit of work is the leaf.
    *
    * Leaves already at-or-under their target file count are SKIPPED
    * (no rewrite, files byte-identical) — a maintenance pass over a
    * mostly-healthy table touches only the fragmented partitions.
    * An unpartitioned directory degenerates to one leaf = the root,
    * i.e. plain [[compactParquet]].
    *
    * Driver-side work is one directory listing per level (bounded by
    * partition count — the same enumeration any table-maintenance pass
    * performs); each leaf rewrite is a distributed job. Leaves are
    * independent: each takes its own `.compact.lock`, so concurrent
    * maintenance jobs can split the leaf set between them.
    *
    * Leaf jobs are submitted from a bounded thread pool
    * (`maxConcurrentLeaves`, r7 — Spark schedules concurrent jobs
    * natively): a serial driver loop at 10⁴ fragmented leaves
    * serializes 10⁴ job round-trips while the cluster idles between
    * them; with the pool, the scheduler always has work queued. The
    * per-leaf locks already made concurrency safe.
    *
    * Returns leaf path → output file count (post-compaction for
    * rewritten leaves, current count for skipped ones).
    */
  def compactPartitionedTable(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      maxConcurrentLeaves: Int = 8): Map[String, Int] =
    compactPartitionedTableHooked(spark, path, targetFileBytes,
      maxConcurrentLeaves, (_, _, _) => ())

  /** [[compactPartitionedTable]] with a per-leaf observation hook
    * `(leafPath, startNanos, endNanos)` — lets WritersSpec prove leaf
    * jobs actually overlap, without polluting the public return type.
    */
  private[graft] def compactPartitionedTableHooked(
      spark: SparkSession, path: String,
      targetFileBytes: Long, maxConcurrentLeaves: Int,
      hook: (String, Long, Long) => Unit): Map[String, Int] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(maxConcurrentLeaves > 0, "maxConcurrentLeaves must be positive")
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.getFileStatus(root).isDirectory,
      s"compactPartitionedTable: $path is not a directory")
    // leaf = a directory with no subdirectories; metadata sidecars
    // (_SUCCESS, .crc) never make a directory a non-leaf
    def leaves(p: Path): Seq[Path] = {
      val dirs = fs.listStatus(p)
        .filter(_.isDirectory)
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
      if (dirs.isEmpty) Seq(p) else dirs.toSeq.flatMap(d => leaves(d.getPath))
    }
    val leafSeq = leaves(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrentLeaves, math.max(1, leafSeq.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futures = leafSeq.map { leaf =>
        scala.concurrent.Future {
          val t0 = System.nanoTime()
          val dataFiles = fs.listStatus(leaf).filter { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          val bytes = dataFiles.map(_.getLen).sum
          val target = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
          val n =
            if (dataFiles.length <= target) dataFiles.length // healthy: skip
            else compactParquet(spark, leaf.toString, targetFileBytes)
          hook(leaf.toString, t0, System.nanoTime())
          leaf.toString -> n
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** D2: `data_inventory` upsert on `available_date`
    * (`/root/reference/monarch_etl/inventory.py:52-66`: INSERT … ON
    * CONFLICT DO UPDATE). The inventory is a tiny catalog table (one row
    * per ingested day — O(10³) rows for decades), so a read-modify-write
    * through the driver is the right call even at 100 TB of fact data;
    * the fact table never participates. Returns the catalog this call
    * published, as a driver-local frame.
    */
  def upsertInventory(
      spark: SparkSession,
      inventoryPath: String,
      availableDate: SqlDate,
      tableName: String,
      recordCount: Long,
      processedAt: Timestamp = new Timestamp(System.currentTimeMillis())): DataFrame = {
    // Atomic-ish replace (the reference's ON CONFLICT upsert is atomic;
    // a direct overwrite of the live path is not — a crash mid-write
    // would lose the whole catalog). Write the new catalog to a temp
    // path first, then swap via two metadata-only renames: a crash can
    // no longer destroy data — at worst the live path is briefly absent
    // while full copies exist at the .tmp/.bak paths for recovery.
    //
    // Concurrency: ONE writer at a time, enforced by an atomic
    // create-if-absent lock file (two interleaved swaps could lose an
    // upsert or strand a .bak). The catalog is read under the lock too:
    // a read before it could miss a row another writer is publishing,
    // and this publish would then drop that row. A crashed writer
    // leaves the lock behind — remove `<inventoryPath>.lock` manually
    // after verifying no writer is live (same operational contract as
    // the reference's single cron-driven loader).
    //
    // Hadoop FileSystem.rename reports failure by RETURNING FALSE, not
    // throwing (and on a local FS a rename onto an existing directory
    // can nest the source inside it) — so every rename is checked and a
    // false is an error, and the .bak is deleted only after the
    // tmp→dst swap verifiably succeeded.
    val dst = new Path(inventoryPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(inventoryPath + ".lock")
    acquireSwapLock(fs, lock, "upsertInventory")
    // same contract as compactParquet: if both the swap and the restore
    // rename fail, keep the lock so no writer runs against an absent path
    var keepLock = false
    try {
      FaultInjection.point("upsertInventory:locked")
      val hadPrior = fs.exists(dst)
      // catalog-sized: materialize on the driver before overwriting the
      // path we read (cannot overwrite a lazily-read source in place),
      // dropping any stale row for the same key (ON CONFLICT DO UPDATE)
      val kept =
        if (!hadPrior) Seq.empty[Row]
        else spark.read.schema(Occurrence.inventorySchema).parquet(inventoryPath)
          .filter(col("available_date") =!= lit(availableDate))
          .collect().toSeq
      val out = spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(
          kept :+ Row(availableDate, tableName, recordCount, processedAt)).asJava,
        Occurrence.inventorySchema)
      val (tmp, bak) = swapPaths(dst)
      out.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      publishByRename(fs, dst, tmp, bak, "upsertInventory",
        hadPrior = hadPrior, onUnrecovered = () => keepLock = true)
      // not a read of the live path: after the lock is released that
      // read could race the next writer's swap
      out
    } finally if (!keepLock) fs.delete(lock, false)
  }

  // ---------------------------------------------------------------
  // Versioned snapshot table — manifest-pinned time travel, the
  // lakehouse primitive that turns "which files ARE the table" from
  // directory listing into metadata: every commit writes its data
  // files under the table dir with a version-tagged prefix, then
  // atomically publishes a manifest (`_manifest-v<N>`) listing
  // exactly its files. Readers pin a version by loading the
  // manifest's file list — a metadata-only operation, so historical
  // reads cost the same as current reads and a writer can never make
  // a concurrent reader see a half-written snapshot (the manifest
  // create is the single commit point, same discipline as the
  // CorpusIngest batch commit). Reproducibility is the 100 TB use
  // case: a training run records the snapshot version it read, and
  // re-reading that version months later returns bit-identical input
  // regardless of later commits — until `vacuumSnapshots` retires it.
  // ---------------------------------------------------------------

  private val ManifestPrefix = "_manifest-v"

  /** Versions present in a snapshot table, ascending (empty = no table). */
  def listSnapshotVersions(spark: SparkSession, path: String): Seq[Int] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .map(_.stripPrefix(ManifestPrefix).toInt)
      .sorted
  }

  /** Commit `df` as the next full snapshot version; returns the new
    * version number. The data write goes to a staging dir, files move
    * into the table dir under `v<N>-` names, and the manifest create
    * (listing exactly those names) publishes the version atomically —
    * a crash before the manifest strands unreferenced files that the
    * next vacuum sweeps, never a readable half-version. Single-writer
    * per table (enforced with the same swap-lock as the other sinks);
    * readers need no lock at any point.
    */
  def writeSnapshotVersion(df: DataFrame, path: String): Int = {
    val spark = df.sparkSession
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(path + ".snapshot.lock")
    acquireSwapLock(fs, lock, "writeSnapshotVersion")
    try {
      val version = listSnapshotVersions(spark, path).lastOption.getOrElse(0) + 1
      // a commit that crashed after its file moves but before its
      // manifest left unpublished v<version>- files; this commit
      // REUSES the number (the manifest never existed), so sweep the
      // residue or the renames below collide
      if (fs.exists(dir))
        fs.listStatus(dir).foreach { st =>
          if (st.getPath.getName.startsWith(s"v$version-"))
            fs.delete(st.getPath, false): Unit
        }
      val staging = new Path(path + s".staging-v$version")
      fs.delete(staging, true)
      df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      fs.mkdirs(dir)
      val names = fs.listStatus(staging).toSeq
        .map(_.getPath)
        .filter { p =>
          p.getName.endsWith(".parquet") && !p.getName.startsWith("_") &&
            !p.getName.startsWith(".")
        }
        .sortBy(_.getName)
        .zipWithIndex.map { case (src, i) =>
          val name = s"v$version-$i-${src.getName}"
          val target = new Path(dir, name)
          if (!fs.rename(src, target))
            throw new java.io.IOException(
              s"writeSnapshotVersion: rename $src -> $target failed")
          name
        }
      fs.delete(staging, true)
      // single atomic commit point: the manifest names this version's
      // files and appears only WITH its full content (create+write is
      // not atomic — a truncated manifest would publish a corrupt
      // version), so write to a dot-hidden temp and rename into place
      commitManifest(fs, dir, version, names)
      version
    } finally fs.delete(lock, false)
  }

  /** Atomically publish a version manifest: full content first (temp
    * name invisible to [[listSnapshotVersions]]), then one rename.
    */
  private def commitManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, version: Int, names: Seq[String]): Unit = {
    val tmp = new Path(dir, s".manifest-tmp-v$version")
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try out.write(names.mkString("\n").getBytes("UTF-8")) finally out.close()
    val manifest = new Path(dir, s"$ManifestPrefix$version")
    if (!fs.rename(tmp, manifest))
      throw new java.io.IOException(
        s"commitManifest: rename $tmp -> $manifest failed")
  }

  /** Commit `df` as an APPEND version: the new manifest lists the
    * parent version's files PLUS the increment's — a metadata-only
    * delta commit, the daily-ingest shape. Historical files are never
    * rewritten or copied (they are shared between manifests;
    * [[vacuumSnapshots]] keeps any file some retained manifest still
    * references). Same staging/move/manifest-create protocol and the
    * same single-writer lock as the full-snapshot commit.
    */
  def appendSnapshotVersion(df: DataFrame, path: String): Int = {
    val spark = df.sparkSession
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(path + ".snapshot.lock")
    acquireSwapLock(fs, lock, "appendSnapshotVersion")
    try {
      val versions = listSnapshotVersions(spark, path)
      require(versions.nonEmpty,
        s"appendSnapshotVersion: no base version at $path — " +
          "commit the first snapshot with writeSnapshotVersion")
      val parent = versions.last
      val version = parent + 1
      if (fs.exists(dir))
        fs.listStatus(dir).foreach { st =>
          if (st.getPath.getName.startsWith(s"v$version-"))
            fs.delete(st.getPath, false): Unit
        }
      val staging = new Path(path + s".staging-v$version")
      fs.delete(staging, true)
      df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val newNames = fs.listStatus(staging).toSeq
        .map(_.getPath)
        .filter { p =>
          p.getName.endsWith(".parquet") && !p.getName.startsWith("_") &&
            !p.getName.startsWith(".")
        }
        .sortBy(_.getName)
        .zipWithIndex.map { case (src, i) =>
          val name = s"v$version-$i-${src.getName}"
          val target = new Path(dir, name)
          if (!fs.rename(src, target))
            throw new java.io.IOException(
              s"appendSnapshotVersion: rename $src -> $target failed")
          name
        }
      fs.delete(staging, true)
      val parentNames = {
        val in = fs.open(new Path(dir, s"$ManifestPrefix$parent"))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          .filter(_.nonEmpty)
        finally in.close()
      }
      commitManifest(fs, dir, version, parentNames ++ newNames)
      version
    } finally fs.delete(lock, false)
  }

  /** Read a pinned snapshot version (default: latest). Loads exactly
    * the manifest's files — later commits never leak in, missing
    * manifest versions fail loudly.
    */
  def readSnapshotVersion(
      spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val versions = listSnapshotVersions(spark, path)
    require(versions.nonEmpty, s"readSnapshotVersion: no versions at $path")
    val v = version.getOrElse(versions.last)
    require(versions.contains(v),
      s"readSnapshotVersion: version $v absent at $path (have $versions)")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(dir, s"$ManifestPrefix$v"))
    val names =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val files = names.filter(_.nonEmpty).map(n => new Path(dir, n).toString)
    require(files.nonEmpty, s"readSnapshotVersion: empty manifest v$v at $path")
    spark.read.parquet(files: _*)
  }

  /** Targeted key erasure over a hive-partitioned table — the GDPR /
    * "delete these records everywhere" write shape, composed with the
    * unified file-skipping manifest ([[graft.sinks.Pruning]]): only
    * partitions the manifest CANNOT prove clean (zone bounds + Bloom
    * bits, sound over-approximation) are even READ; of those, only
    * partitions that actually hold matching rows are REWRITTEN
    * (staged write + locked rename-swap, the [[compactParquet]] crash
    * discipline); everything else stays byte-identical. At 100 TB a
    * handful of subject keys touches a handful of files — never a
    * full-table rewrite, never a full-table scan.
    *
    * The manifest stays SOUND after the delete (Bloom bits of removed
    * keys remain set, zone bounds can only over-cover) — re-run
    * [[Pruning.writeManifest]] to re-tighten when drift accumulates.
    * A delete that empties a leaf leaves an empty directory (readers
    * see zero rows; compaction may later remove it).
    *
    * Returns the per-partition audit frame:
    * (part, scanned, n_deleted, rewritten) — `scanned` = the manifest
    * could not prove the partition clean for at least one key.
    * Keys are driver-bounded by construction (an erasure request).
    */
  def deleteKeysPruned(spark: SparkSession, path: String,
      partCol: String, keyCol: String, keys: Seq[Long],
      maxConcurrentLeaves: Int = 8): DataFrame = {
    require(keys.nonEmpty, "deleteKeysPruned: need at least one key")
    import graft.sinks.Pruning
    // one manifest pass for the whole key set, not one per key
    val affected =
      Pruning.pruneFilesAnyOf(spark, path, keyCol, keys)
    // leaf jobs from a bounded pool (the compactPartitionedTable
    // convention): the per-leaf read+rewrite is tiny, the job
    // round-trip is not — keep the scheduler fed
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrentLeaves, math.max(1, affected.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val auditF = affected.map { v =>
      scala.concurrent.Future(rewriteLeaf(spark, path, partCol, keyCol,
        keys, v))
    }
    val audit =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(auditF),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    val allParts = spark.read.parquet(s"$path/_graft_manifest/zones")
      .select(col("part")).distinct()
      .collect().map(_.getLong(0)).sorted
    val byPart = audit.map(a => a._1 -> a).toMap
    import spark.implicits._
    allParts.map { v =>
      byPart.get(v) match {
        case Some((_, s, d, r)) => (v, s, d, r)
        case None               => (v, 0, 0L, 0)
      }
    }.toSeq.toDF("part", "scanned", "n_deleted", "rewritten")
  }

  private def rewriteLeaf(spark: SparkSession, path: String,
      partCol: String, keyCol: String, keys: Seq[Long],
      v: Long): (Long, Int, Long, Int) = {
    {
      val leaf = new Path(s"$path/$partCol=$v")
      val fs = leaf.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lock = new Path(leaf.toString + ".delete.lock")
      acquireSwapLock(fs, lock, "deleteKeysPruned")
      var keepLock = false
      try {
        FaultInjection.point("deleteKeysPruned:locked")
        val df = spark.read.parquet(leaf.toString)
        val nDel = df.filter(col(keyCol).isin(keys: _*)).count()
        if (nDel == 0L) (v, 1, 0L, 0) // Bloom false positive: untouched
        else {
          val survivors = df.filter(!col(keyCol).isin(keys: _*))
          // dot-prefixed staging (swapPaths): tmp/bak live inside the
          // TABLE ROOT here, so un-hidden names would surface in a
          // concurrent reader's partition discovery as extra data
          val (tmp, bak) = swapPaths(leaf)
          survivors.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          publishByRename(fs, leaf, tmp, bak, "deleteKeysPruned",
            onUnrecovered = () => keepLock = true)
          (v, 1, nDel, 1)
        }
      } finally if (!keepLock) fs.delete(lock, false): Unit
    }
  }

  /** Retire all but the newest `keep` versions: delete their manifests
    * first (the commit record — after this no reader can pin them),
    * then every data file owned by a retired version, then any
    * unreferenced `v<N>-` file left by a crashed commit. Files of
    * retained versions are never touched.
    */
  def vacuumSnapshots(spark: SparkSession, path: String, keep: Int = 1): Unit = {
    require(keep >= 1, s"vacuumSnapshots: keep must be >= 1, got $keep")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = listSnapshotVersions(spark, path)
    val retired = versions.dropRight(keep).toSet
    val kept = versions.takeRight(keep)
    val referenced = kept.flatMap { v =>
      val in = fs.open(new Path(dir, s"$ManifestPrefix$v"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }.toSet
    retired.foreach(v => fs.delete(new Path(dir, s"$ManifestPrefix$v"), false))
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      val isData = n.matches("v\\d+-.*")
      val isStrayTmpManifest = n.startsWith(".manifest-tmp-v")
      if ((isData && !referenced.contains(n)) || isStrayTmpManifest)
        fs.delete(st.getPath, false): Unit
    }
  }
}
