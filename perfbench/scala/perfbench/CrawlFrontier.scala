package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.streaming.FrontierIngest

import Main.{Ctx, Op}

/** `crawl_frontier`: `FrontierIngest.ingestBatch` on the keyed path, one
  * micro-batch of discovered URLs per loop iteration, against an index
  * that grows with every batch. Per-batch fixed cost dominates; per-row
  * work is small.
  *
  * About a quarter of each batch respells URLs fetched by earlier
  * batches (case, default port, tracking parameters, fragments), some
  * rows are in-batch twins of the batch's own fresh URLs, ~2% are not
  * URLs and the rest are fresh. The generator knows every URL's
  * canonical form, so it knows exactly which rows must be fetched.
  */
final class CrawlFrontier(ctx: Ctx) extends Main.Workload {
  import CrawlFrontier._

  private val spark = ctx.spark
  private val index = ctx.dir("crawl/index")
  private val log = ctx.dir("crawl/fetch_log")
  private val gen = new UrlGen(ctx.seed)
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val ingested = mutable.ArrayBuffer.empty[Batch]

  private def batch(i: Int): Batch = {
    while (batches.size <= i) batches += gen.next(batches.size, ctx.dir(s"crawl/input/${batches.size}.json"))
    batches(i)
  }

  def generate(): Unit = (0 until 8).foreach(batch)

  def warm(run: Op => Unit): Unit = {
    val dir = ctx.dir("crawl/warm")
    val warmGen = new UrlGen(ctx.seed + 7919)
    (0 until 3).foreach { i =>
      run(ingest(warmGen.next(i, s"$dir/input/$i.json"), s"$dir/index", s"$dir/fetch_log", None))
    }
  }

  def cycle(i: Int): Seq[Op] = Seq(ingest(batch(i), index, log, Some(ingested)))

  def finish(): Seq[Op] = Nil

  private def ingest(b: Batch, idx: String, fetchLog: String,
      into: Option[mutable.ArrayBuffer[Batch]]): Op =
    Op("ingestBatch", b.rows, spans => {
      val df = spark.read.schema("id LONG, url STRING").json(b.file)
      val n = spans("FrontierIngest.ingestBatch") {
        FrontierIngest.ingestBatch(df, idx, fetchLog, "id", "url", batchId = Some(b.id.toLong))
      }
      into.foreach(_ += b)
      () => if (n == b.fresh.size) Nil
            else Seq(s"batch ${b.id} fetched $n URLs, expected ${b.fresh.size}")
    })

  def finalCheck(): Seq[String] = {
    val got = spark.read.parquet(log).select("canonical_url").collect().map(_.getString(0)).toSeq
    val want = ingested.flatMap(_.fresh).toSet
    val dups = got.size - got.toSet.size
    (if (dups == 0) Nil else Seq(s"fetch log holds $dups repeated canonical URLs")) ++
      (if (got.toSet == want) Nil
       else Seq(s"fetch log has ${got.toSet.size} canonical URLs, expected ${want.size}"))
  }

  def detail(): Map[String, Any] = {
    val (idxBytes, idxFiles) = Main.treeStats(index)
    val (logBytes, logFiles) = Main.treeStats(log)
    Map(
      "input_records" -> ingested.map(_.rows).sum,
      "input_bytes" -> ingested.map(_.bytes).sum,
      "stored_bytes" -> (idxBytes + logBytes),
      "files_written" -> (idxFiles + logFiles),
      "index_files" -> idxFiles,
      "batches" -> ingested.size,
      "fetched" -> ingested.map(_.fresh.size).sum)
  }
}

object CrawlFrontier {
  val UrlsPerBatch = 2000

  /** A generated batch: its input file and the canonical URLs it must
    * add to the fetch log, in the order of their first occurrence.
    */
  final case class Batch(id: Int, file: String, bytes: Long, rows: Int, fresh: Seq[String])

  private val trackers = Seq("utm_source=feed", "utm_medium=social", "fbclid=a1b2c3", "gclid=xyz", "ref=home")
  private val nonUrls = Seq("javascript:void(0)", "mailto:editor@example.org",
    "www.example.org/no-scheme", "#top", "")

  /** Sequential generator: each batch may respell any URL a previous
    * batch introduced, so batches must be ingested in the order made.
    */
  final class UrlGen(seed: Long) {
    private val rng = new Random(seed)
    private val seen = mutable.ArrayBuffer.empty[String]
    private val seenSet = mutable.HashSet.empty[String]

    def next(id: Int, file: String): Batch = {
      val fresh = mutable.ArrayBuffer.empty[String]
      val lines = (0 until UrlsPerBatch).map { k =>
        val r = rng.nextDouble()
        val url =
          if (r < 0.02) nonUrls(rng.nextInt(nonUrls.size))
          else if (r < 0.27 && seen.nonEmpty) respell(seen(rng.nextInt(seen.size)))
          else if (r < 0.37 && fresh.nonEmpty) respell(fresh(rng.nextInt(fresh.size)))
          else {
            val u = freshUrl()
            fresh += u
            seenSet += u
            u
          }
        Json.write(Map("id" -> (id.toLong * 1000000L + k), "url" -> url))
      }
      seen ++= fresh
      val bytes = Main.writeLines(file, lines.iterator)
      Batch(id, file, bytes, UrlsPerBatch, fresh.toSeq)
    }

    /** A URL already in canonical form, new to this generator. */
    private def freshUrl(): String = {
      def word(n: Int) = (1 to n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      var u = ""
      while (u.isEmpty || seenSet.contains(u)) {
        val site = rng.nextInt(300)
        val host = Seq(s"www.site$site.com", s"blog.site$site.org", s"news.site$site.co.uk")(rng.nextInt(3))
        val scheme = if (rng.nextInt(4) == 0) "http" else "https"
        val query = if (rng.nextInt(10) < 3) s"?id=${rng.nextInt(100000)}&page=${rng.nextInt(20)}" else ""
        u = s"$scheme://$host/${word(6)}/${word(8)}$query"
      }
      u
    }

    /** Another spelling of canonical URL `u` that canonicalizes to `u`. */
    private def respell(u: String): String = {
      val Array(scheme, rest) = u.split("://", 2)
      val slash = rest.indexOf('/')
      val (host, pathQuery) = (rest.substring(0, slash), rest.substring(slash))
      val (path, params) = pathQuery.split("\\?", 2) match {
        case Array(p, q) => (p, q.split("&").toSeq)
        case Array(p) => (p, Seq.empty[String])
      }
      var variant = 0
      while (variant == 0) variant = rng.nextInt(32)
      def on(bit: Int) = (variant & (1 << bit)) != 0
      val s = if (on(0)) scheme.toUpperCase else scheme
      val h = if (on(1)) host.toUpperCase else host
      val port = if (on(2)) (if (scheme == "https") ":443" else ":80") else ""
      val ps = (if (on(3)) params.reverse else params) ++
        (if (on(4)) Seq(trackers(rng.nextInt(trackers.size))) else Nil)
      val q = if (ps.isEmpty) "" else ps.mkString("?", "&", "")
      val frag = if (rng.nextInt(4) == 0) "#section-2" else ""
      s"$s://$h$port$path$q$frag"
    }
  }
}
