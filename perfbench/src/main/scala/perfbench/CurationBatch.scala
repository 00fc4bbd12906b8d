package perfbench

import scala.collection.mutable

import graft.pipeline.{Dedup, Pack, Sampling, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A staged curation pass over a generated documents + embeddings corpus:
  * each stage reads the previous stage's Parquet output and writes its
  * own, as a large batch pipeline does, so stage times are exact from
  * outside. Per-row kernels, shuffles and materialization dominate; the
  * cell store is not involved.
  *
  * The corpus plants every kind of document a stage exists to remove
  * (short, non-English, repetitive, exact and near duplicates, shared
  * boilerplate spans, semantic duplicates, benchmark contamination), so
  * the survivors of every stage are known without running graft; each
  * stage's output is checked against them. */
final class CurationBatch(ctx: Ctx) extends Workload {
  import CurationBatch._

  private val nDocs = math.max(300, (1500 * ctx.scale).toInt)
  private var corpus: Corpus = _
  private var warm: Corpus = _
  private var root: String = _
  private var passes = 0

  def setup(root0: String): Unit = {
    root = root0
    corpus = Corpus.generate(ctx, s"$root/input", nDocs, ctx.seed)
    warm = Corpus.generate(ctx, s"$root/warm", math.max(200, nDocs / 10), ctx.seed + 1)
  }

  private def stage(name: String, dir: String)(f: => DataFrame): Unit =
    ctx.span(s"pipeline.$name")(f.write.parquet(dir))

  private def ids(dir: String): Set[Long] =
    ctx.spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet

  /** One checked pass; answers are checked outside the timed operation. */
  private def pass(c: Corpus): Unit = {
    passes += 1
    val out = s"$root/pass$passes"
    val spark = ctx.spark
    def read(s: String) = spark.read.parquet(s"$out/$s")
    ctx.op("pass") {
      stage("text", s"$out/text") {
        Text.gopherRules(Text.withLangId(Text.qualitySignals(
          spark.read.parquet(c.docsDir)), "text"))
          .filter(col("n_tokens") >= 50 && col("lang_guess") === "en" && col("gopher_pass"))
          .select("doc_id", "text")
      }
      stage("repetition", s"$out/repetition") {
        Text.repetitionSignals(read("text"), "doc_id")
          .filter(col("top_bigram_frac") < 0.2).select("doc_id", "text")
      }
      stage("exact_dedup", s"$out/exact") {
        Dedup.keepFirst(read("repetition"), md5(col("text")), "doc_id")
      }
      stage("near_dedup", s"$out/near") {
        val df = read("exact")
        Dedup.keepCanonical(df, "doc_id",
          Dedup.minhashLshPairs(df, "doc_id", "text", k = 3, threshold = 0.8))
      }
      stage("span_dedup", s"$out/span") {
        val df = read("near")
        val spans = Dedup.duplicateSpans(df, "doc_id", "text", k = SpanK)
          .select(col("id").as("doc_id"), col("dup_tokens"))
        df.join(spans, Seq("doc_id"), "left")
          .filter(col("dup_tokens").isNull ||
            col("dup_tokens") * 2 < size(Text.tokens(col("text"))))
          .select("doc_id", "text")
      }
      stage("semantic_dedup", s"$out/semantic") {
        val df = read("span").join(spark.read.parquet(c.vecsDir), "doc_id")
        Dedup.semanticDedup(df, "doc_id", "embedding", threshold = 0.95)
          .select("doc_id", "text")
      }
      stage("contamination", s"$out/clean") {
        val df = read("semantic")
        val hits = Dedup.contaminationHits(df, spark.read.parquet(c.probesDir),
          "doc_id", "text", k = ProbeK)
        df.join(hits.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      }
      stage("pack", s"$out/pack") {
        val df = read("clean")
        Pack.packSequences(df, "doc_id", Text.tokenCount(col("text")), budget = 2048)
          .withColumnRenamed("id", "doc_id")
          .withColumn("split", Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      }
    }
    ctx.sample("pipeline.storage_bytes_left", spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble)
    spark.catalog.clearCache()
    check(c, out)
  }

  private def check(c: Corpus, out: String): Unit = ctx.verify(s"check of $out") {
    Seq("text", "repetition", "exact", "near", "span", "semantic", "clean", "pack")
      .zip(c.expected).foreach { case (s, want) =>
        val got = ids(s"$out/$s")
        ctx.check(got == want, s"stage $s kept ${got.size} docs, expected ${want.size}" +
          s" (missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)})")
      }
    val pack = ctx.spark.read.parquet(s"$out/pack").collect()
    val tokens = pack.map(r => r.getAs[Long]("n_tok")).sum
    val want = c.expected.last.toSeq.map(c.tokens).sum
    ctx.check(tokens == want, s"packed $tokens tokens, corpus has $want")
    ctx.check(pack.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))),
      "unlabeled split")
    ctx.sample("pipeline.docs_kept_ratio", c.expected.last.size.toDouble / c.nDocs)
  }

  def warmup(): Unit = pass(warm)
  def round(): Unit = pass(corpus)

  override def endToEnd: Seq[(String, Double, String)] =
    Seq(("docs_per_s", nDocs / (Stats.pct(ctx.lat.of(_ == "pass"), 50) / 1000.0), "1/s"))
}

object CurationBatch {
  val Stages = Seq("text", "repetition", "exact_dedup", "near_dedup", "span_dedup",
    "semantic_dedup", "contamination", "pack")
  val SpanK = 12
  val ProbeK = 8
  val Dim = 64
}

/** A generated corpus on disk and the survivors of each stage. */
final case class Corpus(docsDir: String, vecsDir: String, probesDir: String,
    nDocs: Int, tokens: Map[Long, Long], expected: Seq[Set[Long]])

object Corpus {
  private val En = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that",
    "with", "have", "be", "for", "on", "as")
  private val De = Seq("der", "die", "das", "und", "von", "zu", "ist", "mit", "auf")
  private val Others = Seq("oder", "nicht", "eine", "dans", "pour", "para", "sur",
    "les", "une", "del", "los", "las", "con", "que", "por", "una", "den", "ein")

  /** Documents are random word sequences over a pseudo-word vocabulary
    * with English stopwords mixed in; the planted kinds are the ones a
    * stage removes. The same seed gives the same corpus. */
  def generate(ctx: Ctx, dir: String, n: Int, seed: Long): Corpus = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new scala.util.Random(seed * 977 + 11)
    val stop = (En ++ De ++ Others ++ Text.GopherStopwords).toSet
    val vocab = Iterator.continually {
      (1 to 4 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.filterNot(stop).distinct.take(400).toVector
    def word() = vocab(rnd.nextInt(vocab.size))
    // every fourth word a stopword, "the" and "and" always among them:
    // the language and Gopher stopword rules pass by construction
    def english(len: Int): Seq[String] = (0 until len).map { i =>
      if (i == 0) "the" else if (i == 4) "and"
      else if (i % 4 == 0) En(rnd.nextInt(En.size)) else word()
    }
    val boiler = english(50)
    val probes = Vector.fill(math.max(4, n / 50))(Seq.fill(15)(word()).mkString(" "))

    // kind per document; sources of copies are earlier plain documents
    val texts = mutable.ArrayBuffer.empty[String]
    val kinds = mutable.ArrayBuffer.empty[String]
    val plain = mutable.ArrayBuffer.empty[Int]
    var probeNo = 0
    (0 until n).foreach { i =>
      val x = rnd.nextDouble()
      val (kind, text) =
        if (i < 20 || x < 0.60) ("plain", english(60 + rnd.nextInt(80)).mkString(" "))
        else if (x < 0.66) ("short", english(10 + rnd.nextInt(30)).mkString(" "))
        else if (x < 0.72) ("german", Seq.fill(60 + rnd.nextInt(60))(
          if (rnd.nextDouble() < 0.3) De(rnd.nextInt(De.size)) else word()).mkString(" "))
        else if (x < 0.76) ("repetitive",
          (english(25) ++ Seq.fill(25)(Seq("buy", "now", "the")).flatten).mkString(" "))
        else if (x < 0.81) ("exact", texts(plain(rnd.nextInt(plain.size))))
        else if (x < 0.86) {
          val src = texts(plain(rnd.nextInt(plain.size))).split(" ")
          src(src.length / 2) = s"${word()}x$i"
          ("near", src.mkString(" "))
        }
        else if (x < 0.90) ("boiler", (boiler ++ english(30)).mkString(" "))
        else if (x < 0.95 && probeNo < probes.size) {
          probeNo += 1
          ("contaminated", (english(40) ++ Seq(probes(probeNo - 1)) ++ english(30))
            .mkString(" "))
        }
        else ("semantic", english(60 + rnd.nextInt(80)).mkString(" "))
      texts += text
      kinds += kind
      if (kind == "plain") plain += i
    }
    // exact and near copies whose source is itself a copy target are
    // still removed in favour of the lowest id: sources are plain docs
    val ids = (0 until n).map(_.toLong)
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    ids.foreach { i =>
      val v =
        if (kinds(i.toInt) == "semantic" && plain.exists(_ < i)) {
          val src = vecs(plain.filter(_ < i)(rnd.nextInt(plain.count(_ < i))))
          src.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
        } else Array.fill(CurationBatch.Dim)(rnd.nextGaussian().toFloat)
      vecs += v
    }

    val docsDir = s"$dir/documents"
    val vecsDir = s"$dir/embeddings"
    val probesDir = s"$dir/probes"
    ids.map(i => (i, texts(i.toInt))).toDF("doc_id", "text").write.parquet(docsDir)
    ids.map(i => (i, vecs(i.toInt).toSeq)).toDF("doc_id", "embedding").write.parquet(vecsDir)
    probes.toDF("text").write.parquet(probesDir)

    // survivors, stage by stage, from the planted kinds
    def keep(drop: Set[String])(s: Set[Long]) = s.filterNot(i => drop(kinds(i.toInt)))
    val all = ids.toSet
    val text = keep(Set("short", "german"))(all)
    val rep = keep(Set("repetitive"))(text)
    val exact = keep(Set("exact"))(rep)
    val near = keep(Set("near"))(exact)
    val span = keep(Set("boiler"))(near)
    val sem = span.filterNot(i => kinds(i.toInt) == "semantic" && plain.exists(_ < i))
    val clean = keep(Set("contaminated"))(sem)
    val tokens = ids.map(i => i -> texts(i.toInt).split(" ").length.toLong).toMap
    Corpus(docsDir, vecsDir, probesDir, n, tokens,
      Seq(text, rep, exact, near, span, sem, clean, clean))
  }
}
