package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Search, TextOps}

/** `llm_curation`: one operation is a full curation pass over a seeded
  * corpus — exact dedup → MinHash-LSH near-dup pairs → connected
  * components → one keeper per cluster → quality score and Gopher
  * filter → BM25 top-k for a fixed query set. Every stage persists its
  * output as parquet. No transaction log is involved. */
final class CurationWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.{spark, tracer}

  val Originals = 600
  val ExactShare = 0.10
  val NearShare = 0.10
  val BoilerShare = 0.05
  val Tau = 0.5
  val TopK = 10
  val NQueries = 5

  def opName: String = "pass"

  private var root = ""
  private var corpus: Gen.Corpus = _
  private var queries: Seq[Seq[String]] = Nil
  private def corpusDir = s"$root/inputs/corpus"
  private def passDir(i: Int) = s"$root/passes/pass_$i"
  private val passes = ArrayBuffer[Int]()

  def prepare(dir: String): Unit = {
    root = dir
    import spark.implicits._
    corpus = Gen.corpus(ctx.seed, Originals, ExactShare, NearShare,
      BoilerShare)
    corpus.docs.toDS().write.parquet(corpusDir)
    // query terms: mid-frequency vocabulary words, so every query has
    // hits but no term matches most documents
    val r = new SplittableRandom(ctx.seed * 131 + 7)
    queries = Seq.fill(NQueries)(Seq.fill(3)(corpus.vocab(50 + r.nextInt(450))))
  }

  // the first pass runs on a cold JVM. The next one is still slower
  // than the rest (JIT, codegen cache): timing at least three passes
  // keeps it off the median
  def warmup(): Unit = runOp(-1)
  override def minOps: Int = 3

  def runOp(i: Int): Unit = {
    val d = passDir(i)
    val docs = spark.read.parquet(corpusDir)
    tracer.span("operators.exact") {
      Dedup.exact(docs, "doc_id", "text").write.parquet(s"$d/exact")
    }
    val keepers = docs.join(spark.read.parquet(s"$d/exact")
      .select(col("keeper_id").as("doc_id")), "doc_id")
    tracer.span("operators.minhash_lsh") {
      Dedup.minhashLsh(keepers, "doc_id", "text", Tau)
        .write.parquet(s"$d/pairs")
    }
    tracer.span("operators.components") {
      val c = Dedup.components(spark.read.parquet(s"$d/pairs"), "id_a",
        "id_b")
      try c.write.parquet(s"$d/components") finally Dedup.release(c)
    }
    tracer.span("operators.keep") {
      val dropped = spark.read.parquet(s"$d/components")
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      keepers.join(dropped, Seq("doc_id"), "left_anti")
        .write.parquet(s"$d/deduped")
    }
    val deduped = spark.read.parquet(s"$d/deduped")
    tracer.span("operators.quality") {
      TextOps.qualityScore(deduped, "doc_id", "text")
        .write.parquet(s"$d/quality")
      TextOps.gopherFilter(deduped, "doc_id", "text")
        .write.parquet(s"$d/gopher")
      deduped.join(spark.read.parquet(s"$d/gopher")
        .filter(col("keep") === 1).select("doc_id"), "doc_id")
        .write.parquet(s"$d/filtered")
    }
    tracer.span("operators.bm25") {
      val filtered = spark.read.parquet(s"$d/filtered")
      queries.zipWithIndex.map { case (q, qi) =>
        Search.bm25TopK(filtered, "doc_id", "text", q, TopK)
          .withColumn("query", lit(qi))
      }.reduce(_ unionByName _).write.parquet(s"$d/bm25")
    }
    if (i >= 0) passes += i
  }

  def finish(out: String): Seq[(String, Any)] = {
    val last = passDir(passes.last)
    val pairs = spark.read.parquet(s"$last/pairs").count()
    Seq(
      "inputs" -> Json.obj("docs" -> corpus.docs.size,
        "originals" -> corpus.originals,
        "exact_copies" -> corpus.exactCopies,
        "near_dups" -> corpus.nearDups, "boilerplate" -> corpus.boilerplate,
        "near_dup_edit_words" -> 3,
        "exact_dup_rate" -> corpus.exactCopies.toDouble / corpus.docs.size,
        "near_dup_rate" -> corpus.nearDups.toDouble / corpus.docs.size,
        "input_bytes" -> Files.dataFiles(corpusDir).values.sum,
        "components_edges" -> 2 * pairs,
        "components_local_max_edges" -> 2000000L),
      "layer" -> Json.obj("lsh_pairs" -> pairs,
        "components_edges" -> 2 * pairs),
      "check" -> Json.obj("dir" -> root, "corpus" -> corpusDir,
        "passes" -> passes.toSeq.map(passDir), "pass_ops" -> passes.toSeq,
        "queries" -> queries,
        "tau" -> Tau, "top_k" -> TopK,
        "exact_copies" -> corpus.exactCopies,
        "boilerplate_ids" -> corpus.docs.takeRight(corpus.boilerplate)
          .map(_.doc_id)))
  }
}
