package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, Multimodal, Similarity, TextPipeline}

/** A seeded derived corpus in the shape of the repo's sf0.1 `documents`
  * and `embeddings` tables: a base corpus is generated with sf0.1's value
  * distributions (a 30-word vocabulary, 8-100 words a document, five
  * languages, 20 sources; 64-dim float vectors with 10 labels), then
  * replicated `Multiple` times with key offsets. Each replica perturbs the
  * text and the vectors: lightly for the near-duplicate share, heavily for
  * the rest, so that replicas are not exact duplicates that swamp the
  * dedup family.
  */
object Corpus {
  val BaseDocs = 250
  val BaseVecs = 100
  val Multiple = 2
  val NearDupShare = 0.10
  val Dim = 64
  private val Vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(' ')
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14, "fr" -> 0.15, "es" -> 0.15)

  private def lang(r: SplittableRandom): String = {
    var u = r.nextDouble()
    Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
  }

  def documents(seed: Long): Seq[(Long, String, String, String, Long)] = {
    val r = new SplittableRandom(seed * 7919 + 1)
    val base = (0 until BaseDocs).map { i =>
      val words = Array.fill(8 + r.nextInt(93))(Vocab(r.nextInt(Vocab.length)))
      (i.toLong, words, lang(r), s"src${i % 20}")
    }
    (0 until Multiple).flatMap { rep =>
      base.map { case (i, words, lg, src) =>
        val p = if (rep == 0) 0.0 else if (r.nextDouble() < NearDupShare) 0.05 else 0.5
        val text = words.map(w => if (r.nextDouble() < p) Vocab(r.nextInt(Vocab.length)) else w).mkString(" ")
        (i + rep.toLong * BaseDocs, text, lg, src, text.length.toLong)
      }
    }
  }

  def embeddings(seed: Long): Seq[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(seed * 104729 + 2)
    val centers = Array.fill(10, Dim)(0.1 * r.nextGaussian())
    val base = (0 until BaseVecs).map { i =>
      val label = r.nextInt(10)
      (i.toLong, Array.tabulate(Dim)(d => centers(label)(d) + 0.1 * r.nextGaussian()), label)
    }
    (0 until Multiple).flatMap { rep =>
      base.map { case (i, v, label) =>
        val s = if (rep == 0) 0.0 else if (r.nextDouble() < NearDupShare) 0.005 else 0.1
        (i + rep.toLong * BaseVecs, v.map(x => (x + s * r.nextGaussian()).toFloat), label)
      }
    }
  }

  /** Write both tables under `dir` as `<name>.parquet`, one file each. */
  def write(spark: SparkSession, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    documents(seed).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    embeddings(seed).map { case (id, v, l) => (id, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
  }
}

/** operator_batch: the LLM-data operator families (TextPipeline,
  * Similarity, Curation, Multimodal) over a seeded derived corpus: one pass
  * over a fixed set of their queries, in a fixed order, each result
  * written as parquet for the DuckDB oracle comparison. The pass is cold
  * (first use of every query in the JVM), as a one-shot pipeline job runs
  * it.
  */
object OperatorBatch {
  val SetupRepeats = 3

  /** 12 of the families' 59 queries, by family: each family's dedup,
    * similarity, tokenizer and scoring shapes, the heaviest ones included.
    * A cold pass over all 59 takes about a minute on 4 threads, more than
    * one run can spend next to the two geo workloads. */
  val Selected: Seq[(String, Seq[String])] = Seq(
    "TextPipeline" -> Seq("dedup_ngram_jaccard", "dedup_minhash", "dedup_keep_best", "pipeline_curate"),
    "Similarity" -> Seq("sim_ann_ivf", "sim_pq_topk", "sim_index_topk", "sim_semdedup"),
    "Curation" -> Seq("curate_decontaminate", "text_boilerplate_scrub", "tokenizer_bpe_encode"),
    "Multimodal" -> Seq("mm_phash_dedup"))

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = TextPipeline.queries ++ Similarity.queries ++ Curation.queries ++ Multimodal.queries
    Selected.flatMap(_._2).sorted.map(n => n -> all(n))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val seed = ctx.args.seed
    val setupRuns = (0 until SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val dir = ctx.work.resolve(s"corpus_$i")
      Corpus.write(spark, seed, dir)
      t.span("operators", "Similarity.ensureVectorIndex")(Similarity.ensureVectorIndex(spark, dir.toString))
      (System.nanoTime() - t0) / 1e9
    }
    val corpusDir = ctx.work.resolve(s"corpus_${SetupRepeats - 1}")
    val corpus = corpusDir.toString
    System.err.println(s"[perfbench] set-up runs ${setupRuns.mkString(", ")} s")

    // a fixed order (by name): under a seeded permutation the query that
    // ran first paid the JVM's first-use costs, and per-query quantiles
    // spread 11-13% across seeds
    val order = queries
    val check = ctx.work.resolve("check")
    Files.createDirectories(check)
    val c = ctx.client
    order.foreach { case (name, fn) =>
      c.run(name) {
        val df = t.span("operators", "build") { t.phase("build"); fn(spark, corpus) }
        t.span("operators", "final") {
          t.phase("final")
          df.write.parquet(check.resolve(name).toString)
        }
        ((), 0L)
      }(_ => None)
    }
    // the oracle SQL the queries registered (some capture trained models)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => order.exists(_._1 == k) }
    Json.write(check.resolve("oracle_sql.json"), oracle)

    val layer = if (!t.enabled) Map.empty[String, Double] else {
      def spanMed(n: String) = {
        val xs = t.spans.filter(s => s.op >= 0 && s.name == n).map(_.ms)
        if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
      }
      Map(
        "operators.build_ms" -> spanMed("build"),
        "operators.final_ms" -> spanMed("final"),
        "operators.build_jobs" -> t.traces.map(_.groups.get("build").map(_.jobs).getOrElse(0L).toDouble).sum /
          t.traces.size.max(1))
    }
    Outcome(
      setupRuns = setupRuns,
      // each family weighs the same in the latency figures: the median of
      // 12 unlike queries falls between two of them, and over ten seeds its
      // quartile distance reached a quarter of its value
      phases = Selected.map { case (family, names) => family -> c.okOps.filter(o => names.contains(o.kind)) },
      layer = layer,
      extra = Nil,
      details = Map(
        "corpus" -> Map("documents_rows" -> Corpus.BaseDocs * Corpus.Multiple,
          "embeddings_rows" -> Corpus.BaseVecs * Corpus.Multiple,
          "dir" -> corpusDir.getFileName.toString,
          "documents_bytes" -> Bench.dirBytes(corpusDir.resolve("documents.parquet")),
          "embeddings_bytes" -> Bench.dirBytes(corpusDir.resolve("embeddings.parquet")),
          "multiple" -> Corpus.Multiple, "near_dup_share" -> Corpus.NearDupShare,
          "base_documents" -> Corpus.BaseDocs, "base_embeddings" -> Corpus.BaseVecs),
        "queries" -> order.length))
  }
}
