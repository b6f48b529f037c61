package perfbench

import scala.util.Random

import graft.pipeline.TrainingPipeline

import Main.{Ctx, Op}

/** `curation_pipeline`: `TrainingPipeline.prepareMetered` with every
  * stage on (the composition of the engine's q228 query: exact-substring
  * scrub with k = 20, WordPiece and the auditable split, metered), the
  * returned corpus then run through the `noop` sink. Each loop
  * iteration prepares the same generated corpus again. Dozens of eager
  * stages, local checkpoints and connected-components rounds run over
  * little data, so stage count times materialization cost dominates.
  * Nothing is written to storage.
  *
  * The corpus is shaped like the `documents` table: documents of ~54
  * words from a Zipf vocabulary, with the q228 plants (char-truncated
  * near duplicates, 25-token span borrowers), exact duplicates and
  * documents below `minTokens`.
  */
final class CurationPipeline(ctx: Ctx) extends Main.Workload {
  import CurationPipeline._

  private val spark = ctx.spark
  private var corpus: Corpus = _

  def generate(): Unit = corpus = Corpus.generate(ctx.seed, ctx.dir("curation/input/docs.json"))

  def warm(run: Op => Unit): Unit = run(prepare(corpus))

  def cycle(i: Int): Seq[Op] = Seq(prepare(corpus))

  def finish(): Seq[Op] = Nil

  private def prepare(c: Corpus): Op = Op("prepare", c.docs, spans => {
    val docs = spark.read.schema("doc_id LONG, text STRING").json(c.file)
    val prep = spans("TrainingPipeline.prepareMetered")(TrainingPipeline.prepareMetered(docs, config))
    if (spans.traced) {
      spans("QueryExecution.executedPlan")(prep.corpus.queryExecution.executedPlan)
      var nodes = 0
      prep.corpus.queryExecution.optimizedPlan.foreach(_ => nodes += 1)
      spans.count("plan_nodes", nodes)
    }
    spans("noop sink")(prep.corpus.write.format("noop").mode("overwrite").save())
    () => check(c, prep)
  })

  private def check(c: Corpus, prep: TrainingPipeline.Prepared): Seq[String] = {
    val rows = prep.corpus.select("doc_id", "split", "n_dup_tokens", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getAs[Number](2).longValue, r.getString(3))).toMap
    val missing = c.survivors.filterNot(rows.contains)
    val extra = rows.keySet -- c.survivors
    val borrowers = c.borrowers.flatMap { case (id, span) =>
      rows.get(id).collect {
        case (_, dup, text) if dup < SpanTokens || text.contains(span) =>
          s"span borrower $id keeps its donor span ($dup duplicate tokens)"
      }
    }
    val splits = rows.collect { case (id, (s, _, _)) if !Set("train", "val", "test")(s) => s"doc $id split '$s'" }
    val meterRows = prep.meters.filter(_.stage != "split_leaks").sortBy(_.stageNo).map(_.nRows)
    Seq(
      if (missing.isEmpty) None else Some(s"${missing.size} docs that must survive are missing, e.g. ${missing.head}"),
      if (extra.isEmpty) None else Some(s"${extra.size} planted duplicates or short docs survive, e.g. ${extra.head}"),
      if (meterRows.headOption.contains(c.docs.toLong)) None
      else Some(s"input meter reads ${meterRows.headOption}, expected ${c.docs}"),
      if (meterRows.zip(meterRows.drop(1)).forall { case (a, b) => b <= a }) None
      else Some(s"stage meters increase: $meterRows")
    ).flatten ++ borrowers ++ splits.take(3)
  }

  def finalCheck(): Seq[String] = Nil

  def detail(): Map[String, Any] = Map("input_records" -> corpus.docs, "input_bytes" -> corpus.bytes)
}

object CurationPipeline {
  val BaseDocs = 2000
  val SpanTokens = 25

  val config: TrainingPipeline.Config = TrainingPipeline.Config(
    auditableSplit = true,
    exactSubstrK = Some(20),
    wordPieceCfg = Some(TrainingPipeline.WordPieceCfg(maxPieceLen = 4, keepMulti = 16, minCount = 2)),
    meterStages = true)

  /** A generated corpus: its file, and the docs the pipeline must keep
    * (every base doc and every span borrower) with each borrower's
    * donor span.
    */
  final case class Corpus(file: String, bytes: Long, docs: Int, survivors: Set[Long],
      borrowers: Map[Long, String])

  // words of at most 10 characters, so the WordPiece stage's unroll
  // guard holds (the q228 fixture keeps the same limit)
  private val filler = "the quick brown fox jumps over the lazy dog while common filler " +
    "words pad this synthetic tail to dilute similarity safely below the near dup threshold"
  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  object Corpus {
    def generate(seed: Long, file: String): Corpus = {
      val rng = new Random(seed)
      val vocab = (stopwords ++ Iterator.continually(
        (1 to 3 + rng.nextInt(8)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString)
        .filterNot(stopwords.contains).distinct.take(4000)).toIndexedSeq
      val cdf = vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
      def word(): String = {
        val x = rng.nextDouble() * cdf.last
        val i = java.util.Arrays.binarySearch(cdf, x)
        vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
      }
      def text(n: Int) = Seq.fill(n)(word()).mkString(" ")
      val base = (1 to BaseDocs).map(id => id.toLong -> text(34 + rng.nextInt(41)))
      val byId = base.toMap
      val nearDups = (1L to 60L).map { d =>
        val t = byId(d)
        (d + 100000) -> t.substring(0, math.max(t.length - 15, 40))
      }
      val borrowers = (1L to 40L).map { d =>
        val span = byId(d).split(" ").take(SpanTokens).mkString(" ")
        (d + 200000, span, s"$span $filler zz${d + 200000}")
      }
      val exactDups = (41L to 80L).map(d => (d + 300000) -> byId(d))
      val short = (1L to 50L).map(k => (k + 400000) -> text(3 + rng.nextInt(6)))
      val all = base ++ nearDups ++ borrowers.map(b => b._1 -> b._3) ++ exactDups ++ short
      val bytes = Main.writeLines(file,
        all.iterator.map { case (id, t) => Json.write(Map("doc_id" -> id, "text" -> t)) })
      Corpus(file, bytes, all.size, (base.map(_._1) ++ borrowers.map(_._1)).toSet,
        borrowers.map(b => b._1 -> b._2).toMap)
    }
  }
}
