package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

/** Spans around the benchmark's calls into the engine, with Spark
  * listener, Hadoop FS and JVM counters attributed to them. Everything
  * is observed from outside the engine: a span is opened by the
  * benchmark around a public call, Spark jobs find their span through a
  * thread-local job property set here, and SQL executions and block
  * updates belong to the operation that was running when they arrived
  * (the bus is drained before the next operation starts).
  *
  * Spans and counters stay in memory; [[record]] returns them for the
  * run record written at exit.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = new Listener

  /** One traced operation: the listener is attached only while it runs,
    * and the session state the caller can see (conf, the caller's job
    * description, the persistent-RDD set) is compared before and after.
    */
  def operation[T](opId: Int, name: String)(body: => T): T = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val before = SessionState.capture(spark)
    sc.addSparkListener(listener)
    listener.currentOp = opId
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMillis()
    val fs0 = fsStats()
    val root = push(name, opId)
    try body
    finally {
      pop(root)
      val c = root.counters
      c("jvm.gc_ms") = (gcMillis() - gc0).toDouble
      c("jvm.heap_peak_bytes") = heapPools.map(_.getPeakUsage.getUsed).sum.toDouble
      fsStats().foreach { case (k, v) => c(s"fs.$k") = (v - fs0.getOrElse(k, 0L)).toDouble }
      org.apache.spark.PerfbenchBus.drain(sc)
      listener.currentOp = -1
      sc.removeSparkListener(listener)
      val diff = SessionState.capture(spark).diff(before)
      diff.foreach(k => c(s"session.leak.$k") = 1.0)
      root.leaks = diff
    }
  }

  /** A span around one call inside the current operation. */
  def span[T](name: String)(body: => T): T = {
    val s = push(name, open.headOption.map(_.op).getOrElse(-1))
    try body finally pop(s)
  }

  /** Adds `v` to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    open.headOption.foreach(s => s.counters(key) = s.counters.getOrElse(key, 0.0) + v)

  private def push(name: String, op: Int): Span = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), op,
      System.nanoTime() - t0)
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProperty, s.id.toString)
    s
  }

  private def pop(s: Span): Unit = {
    s.endNs = System.nanoTime() - t0
    open = open.tail
    sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
  }

  /** Spans, jobs, SQL executions and stored blocks, as JSON-ready maps. */
  def record: Map[String, Any] = listener.synchronized {
    Map(
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
          "counters" -> s.counters, "leaks" -> s.leaks)
      },
      "jobs" -> listener.jobs.values.map(_.toMap),
      "sql" -> listener.sql.values.map(_.toMap),
      "blocks" -> listener.blocks.map { case (op, rdds) =>
        Map("op" -> op, "rdds" -> rdds.size, "bytes" -> rdds.values.sum)
      })
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
      val startNs: Long) {
    var endNs = 0L
    var leaks: Seq[String] = Nil
    val counters = mutable.LinkedHashMap.empty[String, Double]
  }

  final class Job(val id: Int, val span: Int, val op: Int, val desc: String,
      val startMs: Long) {
    var endMs = 0L
    var ok = false
    val c = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    def toMap: Map[String, Any] = Map("id" -> id, "span" -> span, "op" -> op,
      "desc" -> desc, "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> ok,
      "counters" -> c)
  }

  final class Sql(val id: Long, val op: Int) {
    var roundRobin = 0
    var error: Option[String] = None
    def toMap: Map[String, Any] = Map("id" -> id, "op" -> op,
      "roundrobin_exchanges" -> roundRobin, "failed" -> error.isDefined,
      "error" -> error.map(_.linesIterator.take(1).mkString))
  }

  /** Counts the round-robin exchanges of a physical plan tree. */
  def roundRobin(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" && p.simpleString.contains("RoundRobinPartitioning")) 1
     else 0) + p.children.map(roundRobin).sum

  private class Listener extends SparkListener {
    @volatile var currentOp: Int = -1
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Job]
    val sql = mutable.LinkedHashMap.empty[Long, Sql]
    val blocks = mutable.LinkedHashMap.empty[Int, mutable.Map[Int, Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanProperty))).foreach { span =>
        val j = new Job(e.jobId, span.toInt, currentOp,
          props.flatMap(p => Option(p.getProperty("spark.job.description"))).orNull,
          e.time)
        jobs(e.jobId) = j
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(j => j.c("stages") += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.c("tasks") += 1
        Option(e.taskMetrics).foreach { m =>
          j.c("run_ms") += m.executorRunTime
          j.c("records_read") += m.inputMetrics.recordsRead
          j.c("bytes_read") += m.inputMetrics.bytesRead
          j.c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          j.c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          j.c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      (info.blockId, currentOp) match {
        case (RDDBlockId(rdd, _), op) if op >= 0 && info.storageLevel.isValid =>
          val m = blocks.getOrElseUpdate(op, mutable.Map.empty[Int, Long])
          m(rdd) = m.getOrElse(rdd, 0L) + info.memSize + info.diskSize
        case _ =>
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if currentOp >= 0 =>
          val q = new Sql(s.executionId, currentOp)
          q.roundRobin = roundRobin(s.sparkPlanInfo)
          sql(s.executionId) = q
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          sql.get(u.executionId).foreach(_.roundRobin = roundRobin(u.sparkPlanInfo))
        case end: SparkListenerSQLExecutionEnd =>
          sql.get(end.executionId).foreach(_.error = end.errorMessage.filter(_.nonEmpty))
        case _ =>
      }
    }
  }

  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Bytes from Hadoop's process-wide statistics of the local file
    * system, and the namespace changes [[CountingFileSystem]] counted.
    */
  private def fsStats(): Map[String, Long] =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .map { st =>
        Seq("bytes_written" -> "bytesWritten", "bytes_read" -> "bytesRead").map { case (k, hadoopKey) =>
          k -> Option(st.getLong(hadoopKey)).map(_.longValue).getOrElse(0L)
        }.toMap
      }.getOrElse(Map.empty) + ("write_ops" -> CountingFileSystem.writeOps.get)
}

/** The session state an operation must leave as it found it. */
final case class SessionState(conf: Map[String, String], desc: Option[String],
    rdds: Set[Int]) {
  def diff(before: SessionState): Seq[String] =
    Seq("conf" -> (conf != before.conf), "job_description" -> (desc != before.desc),
      "persistent_rdds" -> (rdds != before.rdds)).collect { case (k, true) => k }
}

object SessionState {
  def capture(spark: SparkSession): SessionState = SessionState(
    spark.conf.getAll,
    Option(spark.sparkContext.getLocalProperty("spark.job.description")),
    spark.sparkContext.getPersistentRDDs.keySet.toSet)
}
