package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Seeded `documents` table (doc_id, text, lang, source, n_chars) and
  * eval set for the `corpus` verb, with planted cases the export must
  * handle: exact duplicate groups, shared 10-word lines, shared 16-word
  * spans, near-duplicates, PII strings and copied eval 8-grams. */
object CorpusGen {

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  final case class EvalDoc(text: String)

  final case class Planted(docs: Seq[Doc], eval: Seq[String],
      exactGroups: Seq[Seq[Long]], pii: Seq[String], evalGrams: Set[String])

  val Langs: Seq[(String, Int)] = Seq("en" -> 40, "de" -> 15, "fr" -> 15,
    "es" -> 15, "zh" -> 15)

  /** One small shared vocabulary, drawn with per-language weights. It
    * is kept small because the export's rarity gate drops any document
    * whose tokens are rare on average, and one rare token is enough. */
  val Vocab: Array[String] = ("spark batch part line column order small " +
    "sort fast value scan hash slow group agg filter query key window row")
    .split(" ")

  /** The PII pool: each string is planted in many documents, so it is
    * common enough to pass the rarity gate and reach the PII scrub. */
  val Pii: Seq[String] = Seq("contact@mail.example.org", "192.168.10.20",
    "555-0199")

  private val cumWeights: Map[String, Array[Double]] =
    Langs.map(_._1).zipWithIndex.map { case (l, li) =>
      val w = Vocab.indices.map(k => 1.0 + 0.5 * math.sin(k * 1.7 + li * 2.3))
      l -> w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }.toMap

  final class Rng(seed: Long) {
    private var s = Site.mix(seed)
    def next(): Long = { s = Site.mix(s); s }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def unit(): Double = (next() >>> 11) / (1L << 53).toDouble
  }

  private def words(r: Rng, lang: String, n: Int): Vector[String] = {
    val cw = cumWeights(lang)
    Vector.fill(n) {
      val u = r.unit()
      Vocab(cw.indexWhere(_ >= u) max 0)
    }
  }

  def grams8(text: String): Iterator[String] = {
    val t = text.split(" ", -1)
    t.sliding(8).filter(_.length == 8).map(_.mkString(" "))
  }

  def generate(seed: Long, n: Int, nEval: Int): Planted = {
    val r = new Rng(seed)
    val langOf = Langs.flatMap { case (l, w) => Seq.fill(w)(l) }
    val lang = Array.fill(n)(langOf(r.below(langOf.size)))
    val source = Array.tabulate(n)(i => s"src${r.below(20)}")
    val text = Array.tabulate(n)(i => words(r, lang(i), 45 + r.below(20)))
    val eval = Seq.fill(nEval)(words(r, "en", 30 + r.below(20)).mkString(" "))
    val share = n / 50
    def doc() = r.below(n)
    def insert(i: Int, at: Int, ws: Seq[String]): Unit =
      text(i) = text(i).take(at) ++ ws ++ text(i).drop(at)
    // shared 10-word lines, at the start of a doc so they align with
    // the line splitter's 10-word lines
    val lines = Seq.fill(5)(words(r, "en", 10))
    for (_ <- 0 until share) insert(doc(), 0, lines(r.below(lines.size)))
    // shared 16-word spans in the middle of long docs, under the
    // span-dup gate's share so the span-removal stage sees them
    val spans = Seq.fill(10)(words(r, "en", 16))
    for (_ <- 0 until share) {
      val i = doc()
      text(i) = text(i) ++ words(r, lang(i), 100 - text(i).size max 0)
      insert(i, 20 + r.below(20), spans(r.below(spans.size)))
    }
    // PII: every pool string in n/12 documents
    for (pii <- Pii; _ <- 0 until n / 12) {
      val i = doc()
      insert(i, r.below(text(i).size), Seq(pii))
    }
    // copied eval 10-word windows
    for (_ <- 0 until share) {
      val e = eval(r.below(eval.size)).split(" ")
      val at = r.below(e.length - 10)
      val i = doc()
      insert(i, r.below(text(i).size), e.slice(at, at + 10).toSeq)
    }
    // near-duplicates: a copy with one word changed
    for (_ <- 0 until share) {
      val (a, b) = (doc(), doc())
      if (a != b) text(b) = text(a).updated(r.below(text(a).size), Vocab(r.below(Vocab.length)))
    }
    // exact duplicate groups of 2 to 4 docs; planted last, so no later
    // edit breaks a group, and disjoint from each other
    val used = mutable.HashSet.empty[Int]
    val groups = (0 until share).flatMap { _ =>
      val members = Seq.fill(2 + r.below(3))(doc()).distinct.filterNot(used)
      if (members.size < 2) None
      else {
        used ++= members
        members.tail.foreach(m => text(m) = text(members.head))
        Some(members.map(_.toLong).sorted)
      }
    }
    val docs = (0 until n).map { i =>
      val t = text(i).mkString(" ")
      Doc(i.toLong, t, lang(i), source(i), t.length.toLong)
    }
    Planted(docs, eval, groups, Pii, eval.flatMap(grams8).toSet)
  }
}

/** `corpus`: the `corpus` verb over a generated `documents` table,
  * through `graft.Main.run`. */
final class CorpusWorkload(spark: SparkSession, work: Path, repo: Path,
    seed: Long, docs: Int, evals: Int) extends Workload {
  import CorpusWorkload.Flags
  def name = "corpus"
  def itemsLabel = "input documents"
  private var dir: Path = _
  private lazy val planted = CorpusGen.generate(seed, docs, evals)
  private def out = dir.resolve("out").toString
  private def evalDir = dir.resolve("eval").toString

  def setup(): Unit = {
    import spark.implicits._
    dir = work.resolve(name)
    Files.createDirectories(dir)
    val p = CorpusGen.generate(seed, docs, evals)
    p.docs.toDS().coalesce(1).write.parquet(dir.resolve("sf/documents.parquet").toString)
    p.eval.map(CorpusGen.EvalDoc).toDS().coalesce(1).write.parquet(evalDir)
  }

  def run(tr: Tracer): Long = {
    val rc = tr.span("corpus")(graft.Main.run(spark, (Seq("corpus",
      dir.resolve("sf").toString, out) ++ Flags.map(_.replace("<eval>", evalDir))).toArray))
    require(rc == 0, s"corpus verb returned $rc")
    docs.toLong
  }

  def check(): Seq[String] = {
    import spark.implicits._
    val gauges = spark.read.parquet(s"$out/metrics").where("job = 'corpus'")
      .select("name", "value").as[(String, Long)].collect().toMap
    val rows =
      if (Dirs.hasParquet(s"$out/corpus")) spark.read.parquet(s"$out/corpus")
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      else Nil
    val manifest =
      if (Dirs.hasParquet(s"$out/manifest")) spark.read.parquet(s"$out/manifest")
        .selectExpr("coalesce(sum(n_docs), 0)").as[Long].head()
      else 0L
    CorpusCheck(planted, docs, gauges, rows, manifest)
  }

  def cleanup(): Unit = {
    spark.catalog.clearCache()
    if (dir != null) Dirs.delete(dir)
  }

  /** The verb is one call; its jobs are split into the export's
    * stages by the line of the `corpus` verb whose statement ran them
    * (its stack frame in the job's call site), using the flag handlers
    * in the verb's source as stage boundaries. A job with no such frame
    * belongs to the stage of the job before it. */
  private lazy val stageLines: Seq[(Int, String)] = CorpusStages.boundaries(
    repo.resolve("src/main/scala/graft/Main.scala"))

  override def labels(t: PassTrace): Map[Int, String] = {
    var stage = "corpus.label"
    t.jobs.sortBy(_.startMs).map { j =>
      if (j.span != "corpus") j.id -> j.span
      else {
        CorpusStages.mainLine(j.stack).flatMap(l =>
          stageLines.takeWhile(_._1 <= l).lastOption.map(_._2))
          .foreach(stage = _)
        j.id -> stage
      }
    }.toMap
  }

  override def layers(t: PassTrace): Map[String, Double] = {
    val lab = labels(t)
    val walls = t.spans.find(_.name == "corpus").map(s => Tracer.splitWall(
      s.startMs, s.endMs, t.jobs.map(j => j -> lab(j.id)))).getOrElse(Map.empty)
    CorpusStages.names.map(s => s"${s}_s" -> walls.getOrElse(s, 0.0)).toMap
  }
}

object CorpusStages {
  val names: Seq[String] = Seq("corpus.label", "corpus.exactsubstr",
    "corpus.gates", "corpus.assign", "corpus.write")

  /** Source markers that open each stage after the first. */
  private val markers: Seq[(String, String)] = Seq(
    "rest.contains(\"-exactsubstr\")" -> "corpus.exactsubstr",
    "rest.contains(\"-temperature\")" -> "corpus.gates",
    "var corpus = kept" -> "corpus.assign",
    ".parquet(s\"$outDir/corpus\")" -> "corpus.write")

  /** (first line, stage) pairs in line order. Throws when the verb or
    * one of its markers is not found, so a traced pass fails rather
    * than charge every stage's time to the label stage. */
  def boundaries(main: Path): Seq[(Int, String)] = {
    val lines =
      if (Files.exists(main)) scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(main)).asScala.toVector
      else Vector.empty
    val verb = lines.indexWhere(_.contains("case \"corpus\" ::"))
    require(verb >= 0, s"no `case \"corpus\" ::` in $main")
    val found = markers.map { case (m, s) =>
      val i = lines.indexWhere(_.contains(m), verb)
      require(i >= 0, s"stage marker `$m` not found after the corpus verb in $main")
      (i + 1, s)
    }
    (0, "corpus.label") +: found.sortBy(_._1)
  }

  private val Frame = """graft\.Main\$\.run\(Main\.scala:(\d+)\)""".r

  /** The `graft.Main.run` line in a job's long call site. */
  def mainLine(stack: String): Option[Int] =
    Frame.findFirstMatchIn(stack).map(_.group(1).toInt)
}

/** The `corpus` output check. */
object CorpusCheck {
  def apply(p: CorpusGen.Planted, docsIn: Int, gauges: Map[String, Long],
      rows: Seq[(Long, String)], manifestDocs: Long): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def g(n: String) = gauges.getOrElse(n, -1L)
    val dropped = gauges.collect { case (k, v) if k.startsWith("dropped_") => v }.sum
    if (g("docs_in") != docsIn) errs += s"docs_in ${g("docs_in")} != $docsIn generated"
    if (g("docs_kept") + dropped != g("docs_in"))
      errs += s"docs_kept ${g("docs_kept")} + dropped $dropped != docs_in ${g("docs_in")}"
    if (rows.size.toLong != g("docs_kept"))
      errs += s"output rows ${rows.size} != docs_kept ${g("docs_kept")}"
    if (manifestDocs != g("docs_kept"))
      errs += s"manifest n_docs $manifestDocs != docs_kept ${g("docs_kept")}"
    val ids = rows.map(_._1)
    if (ids.distinct.size != ids.size) errs += "duplicate doc_id in the output"
    val idSet = ids.toSet
    val kept = p.exactGroups.map(_.count(idSet))
    if (kept.exists(_ > 1))
      errs += s"${kept.count(_ > 1)} planted duplicate groups keep more than one doc"
    val pii = p.pii.filter(s => rows.exists(_._2.contains(s)))
    if (pii.nonEmpty) errs += s"${pii.size} planted PII strings in the output, e.g. ${pii.head}"
    val grams = rows.count(r => CorpusGen.grams8(r._2).exists(p.evalGrams))
    if (grams > 0) errs += s"$grams output docs share an 8-gram with the eval set"
    errs.result()
  }
}

object CorpusWorkload {
  /** The export's flags; `<eval>` is the generated eval set. Five of
    * the verb's twelve stages: the ones that fit the run budget and
    * cover span removal, decontamination, the PII scrub and the
    * leakage-split fixpoint. */
  val Flags: Seq[String] = Seq("-exactsubstr", "-decontaminate", "<eval>",
    "-pii", "-split")
}
