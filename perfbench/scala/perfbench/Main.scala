package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, a closed loop with one
  * caller for a fixed number of seconds. It generates the workload's
  * inputs, warms the session up, runs operations until the time is
  * spent, checks every result against what the generator knows and
  * writes a run record (per-operation latencies, failures and, when
  * traced, spans and counters) for `run.py` to turn into metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <work dir> <record file> <process start, epoch ms>
  */
object Main {

  /** A run's fixed context. */
  final case class Ctx(spark: SparkSession, seed: Long, work: File) {
    def dir(name: String): String = new File(work, name).getPath
  }

  /** What the benchmark can do around a call into the engine: open a
    * span (a no-op when untraced) and add to a counter of the open span.
    */
  trait Spans {
    def traced: Boolean
    def apply[T](name: String)(body: => T): T
    def count(key: String, v: Double): Unit
  }

  object NoSpans extends Spans {
    val traced = false
    def apply[T](name: String)(body: => T): T = body
    def count(key: String, v: Double): Unit = ()
  }

  /** One operation: `run` is timed and returns the correctness check,
    * which runs untimed afterwards and lists what it found wrong.
    * `rows` is the number of input records the operation consumes.
    */
  final case class Op(kind: String, rows: Long, run: Spans => (() => Seq[String]))

  trait Workload {
    /** Writes the inputs the timed phase starts with. */
    def generate(): Unit
    /** Runs the same kind of operations on inputs of its own. */
    def warm(run: Op => Unit): Unit
    /** The operations of loop iteration `i`; may generate more input. */
    def cycle(i: Int): Seq[Op]
    /** Operations that close the timed phase. */
    def finish(): Seq[Op]
    /** Checks over everything the timed phase wrote. */
    def finalCheck(): Seq[String]
    /** Workload facts for the record: sizes, file counts. */
    def detail(): Map[String, Any]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, outS, t0S) = args
    val t0Ms = t0S.toLong
    val work = new File(workS)
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val builder = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, seedS.toLong, work)
    val w: Workload = workload match {
      case "etl_daily" => new EtlDaily(ctx)
      case "crawl_frontier" => new CrawlFrontier(ctx)
      case "curation_pipeline" => new CurationPipeline(ctx)
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val setupErrors = mutable.ArrayBuffer.empty[String]

    // Every operation runs the same way, traced or not: under a caller
    // job description (so a call that clears or replaces it shows as a
    // leak), then its check, then the state the call left behind is
    // dropped so the next operation starts from the same session state.
    def runOp(op: Op, opId: Int, traced: Boolean): (Double, Seq[String]) = {
      sc.setJobDescription(s"perfbench $workload op $opId")
      var secs = 0.0
      def timed(spans: Spans): () => Seq[String] = {
        val t = System.nanoTime()
        try op.run(spans) finally secs = (System.nanoTime() - t) / 1e9
      }
      val errors =
        try {
          val check = tracer.filter(_ => traced) match {
            case Some(tr) => tr.operation(opId, op.kind)(timed(new Spans {
              val traced = true
              def apply[T](name: String)(body: => T): T = tr.span(name)(body)
              def count(key: String, v: Double): Unit = tr.count(key, v)
            }))
            case None => timed(NoSpans)
          }
          check()
        } catch { case e: Exception => Seq(s"${op.kind} threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      sc.setJobDescription(null)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (secs, errors)
    }

    var opId = 0
    def timedOp(op: Op, traced: Boolean): Unit = {
      val (secs, errors) = runOp(op, opId, traced)
      ops += Map("op" -> opId, "kind" -> op.kind, "seconds" -> secs, "rows" -> op.rows,
        "traced" -> traced, "errors" -> errors)
      opId += 1
    }

    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1f s: $what")
    phase("session started")
    w.generate()
    phase("inputs generated")
    w.warm { op =>
      val (_, errors) = runOp(op, -1, traced = false)
      setupErrors ++= errors.map("warm pass: " + _)
    }
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    phase("warm pass done")
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    val timedStart = System.nanoTime()
    var i = 0
    // a traced run traces iterations 0, 3, 4, 7, 8, ... (ABBA order), so
    // the tracing overhead is measured on interleaved work that is, on
    // average, equally warm; it runs four iterations at least
    while (System.nanoTime() < deadline || (trace && i < 4)) {
      w.cycle(i).foreach(op => timedOp(op, trace && (i % 4 == 0 || i % 4 == 3)))
      i += 1
    }
    w.finish().foreach(op => timedOp(op, trace))
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val finalErrors = w.finalCheck()

    val record = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> secondsS.toDouble,
      "trace" -> trace, "cores" -> cores, "setup_s" -> setupS, "timed_s" -> timedS,
      "cycles" -> i, "ops" -> ops, "setup_errors" -> setupErrors,
      "final_errors" -> finalErrors, "detail" -> w.detail(),
      "trace_record" -> tracer.map(_.record))
    Files.write(new File(outS).toPath, Json.write(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Total size and data-file count under a directory tree (files whose
    * names start with `.` or `_` are checksums and markers, not data).
    */
  def treeStats(path: String): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(path))
    (files.map(_.length).sum,
      files.count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")))
  }

  def writeLines(path: String, lines: Iterator[String]): Long = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), StandardCharsets.UTF_8))
    try lines.foreach { l => out.write(l); out.write('\n') } finally out.close()
    f.length
  }
}
