package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextHash}
import graft.queries.{DedupQueries, SimilarityQueries, TextQueries}
import graft.sources.TxLog

/** SURVEY.md §2.5/2.6/2.7 rows-only operators: expression semantics,
  * candidate-generation guarantees, LSH recall. */
class TextDedupSpec extends SparkSpec {
  private val s = SparkSpec.spark
  import s.implicits._

  test("simhash64: identical token sets hash identically; near sets are close") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "completely different words entirely unrelated content here"))
      .toDF("id", "text")
      .selectExpr("id", "simhash64(split(text, ' ')) AS sig")
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(TextHash.hamming(sigs(1L), sigs(3L)) <
      TextHash.hamming(sigs(1L), sigs(4L)))
  }

  test("winnow: shared long substrings share fingerprints") {
    val a = "the common segment of text is right here in the middle somewhere"
    val fpA = TextHash.winnow(
      org.apache.spark.unsafe.types.UTF8String.fromString(a), 8, 4)
      .toLongArray().toSet
    val fpB = TextHash.winnow(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        "prefix differs but " + a.drop(4)), 8, 4).toLongArray().toSet
    assert((fpA & fpB).nonEmpty) // winnowing guarantee: k+w-1 overlap
    val fpC = TextHash.winnow(
      org.apache.spark.unsafe.types.UTF8String.fromString("zq"), 8, 4)
      .toLongArray()
    assert(fpC.isEmpty) // shorter than k
  }

  test("winnow expression runs inside codegen and matches direct eval") {
    GraftFunctions.register(spark)
    val rows = Seq((1L, "abcdefghijklmnopqrstuvwxyz")).toDF("id", "t")
      .selectExpr("winnow(t, 8, 4) AS fp").collect()
    val direct = TextHash.winnow(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        "abcdefghijklmnopqrstuvwxyz"), 8, 4).toLongArray()
    assert(rows(0).getSeq[Long](0) == direct.toSeq)
  }

  test("dedup_simhash finds the planted near-dup pairs") {
    val pairs = DedupQueries.dedupSimhash(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jaccardPairs = DedupQueries.dedupNgramJaccard(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash near-dups should substantially overlap exact-jaccard dups
    assert(jaccardPairs.nonEmpty)
    assert((pairs & jaccardPairs).size >= jaccardPairs.size / 2)
  }

  test("minhash-lsh candidates recover all high-jaccard pairs") {
    val lsh = DedupQueries.dedupMinhashLsh(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = DedupQueries.dedupNgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16 hashes / 4-row bands: P(candidate | j=0.8) ≈ 1-(1-0.41)^4 ≈ 0.88
    // per band family; planted pairs are ≥0.8 so expect near-total recall.
    assert(exact.nonEmpty)
    assert((lsh & exact).size >= (exact.size * 0.8).toInt)
  }

  test("ann_lsh recall vs brute force is useful and bounded") {
    val bf = SimilarityQueries.annBruteforceTopk(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityQueries.annLshTopk(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall > 0.15, s"recall $recall too low")
    // structural: ≤ K per query, rank contiguous from 1
    val perQuery = SimilarityQueries.annLshTopk(spark, sf)
      .groupBy("query_id").agg(count(lit(1)).as("n"), min("rank"), max("rank"))
      .collect()
    perQuery.foreach { r =>
      assert(r.getLong(1) <= SimilarityQueries.K)
      assert(r.getLong(2) == 1L)
    }
  }

  test("knn_graph_lsh recovers a useful share of exact graph edges") {
    val exact = SimilarityQueries.knnGraph(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityQueries.knnGraphLsh(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall > 0.2, s"graph recall $recall too low")
    // structural: at most k edges per node, ranks contiguous from 1
    val perNode = SimilarityQueries.knnGraphLsh(spark, sf)
      .groupBy("query_id").agg(count(lit(1)).as("n"), min("rank"), max("rank"))
      .collect()
    perNode.foreach { r =>
      assert(r.getLong(1) <= SimilarityQueries.GraphK)
      assert(r.getLong(2) == 1L)
    }
  }

  test("ann_ivf recall beats-or-matches useful bounds") {
    val bf = SimilarityQueries.annBruteforceTopk(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityQueries.annIvfTopk(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall > 0.3, s"IVF recall $recall too low")
    // every query returns results and ranks start at 1
    val byQuery = SimilarityQueries.annIvfTopk(spark, sf)
      .groupBy("query_id").agg(count(lit(1)).as("n"), min("rank"))
      .collect()
    assert(byQuery.length == SimilarityQueries.NumQueries)
    byQuery.foreach(r => assert(r.getLong(2) == 1L))
  }

  test("dedup_embedding_lsh recall vs exact pairs is strong") {
    val exact = DedupQueries.dedupEmbedding(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityQueries.dedupEmbeddingLsh(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verification step ⇒ no false positives
    val recall = (exact & lsh).size.toDouble / math.max(exact.size, 1)
    assert(recall >= 0.4, s"recall $recall")
  }

  test("ngramJaccard drops stop-shingle buckets at the cap") {
    val docs = (1 to 30).map(i =>
      (i.toLong, s"common stop shingle unique$i word$i tail$i"))
      .toDF("doc_id", "text")
    // all 30 docs share exactly one shingle ("common stop shingle");
    // uncapped that makes every pair a candidate
    val uncapped = graft.operators.Dedup
      .ngramJaccard(docs, "doc_id", "text", 0.1)
    assert(uncapped.count() == 30L * 29 / 2)
    // capped below the bucket size, the stop shingle is dropped and no
    // candidate pair survives
    val capped = graft.operators.Dedup
      .ngramJaccard(docs, "doc_id", "text", 0.1, maxBucket = 10)
    assert(capped.count() == 0)
  }

  test("minhashLsh caps degenerate band buckets") {
    val dups = (1 to 30).map(i =>
      (i.toLong, "exactly the same text content for everyone here today"))
      .toDF("doc_id", "text")
    assert(graft.operators.Dedup
      .minhashLsh(dups, "doc_id", "text", 0.5).count() == 30L * 29 / 2)
    assert(graft.operators.Dedup
      .minhashLsh(dups, "doc_id", "text", 0.5, maxBucket = 10)
      .count() == 0)
  }

  /** Seeded corpus for the MinHash kernel checks: unicode, repeated
    * words, one-shingle docs (whose signature values are single md5
    * prefixes — half of them have the top bit set), short docs with
    * no shingle, and a null text. */
  private def minhashCorpus = {
    val r = new java.util.SplittableRandom(42)
    val vocab = Seq("the", "data", "lake", "Über", "straße", "naïve",
      "日本語", "текст", "ελληνικά", "emoji😀", "repeat", "repeat", "x")
    val docs = (1L to 120L).map { i =>
      val n = (i % 4) match {
        case 0 => 3                  // exactly one shingle
        case 1 => 2                  // no shingle at all
        case _ => 4 + r.nextInt(40)
      }
      (i, Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" "))
    } :+ ((999L, null: String))
    docs.toDF("doc_id", "text")
  }

  test("minhash_md5 equals min(substring(md5('i:' || s), 1, 16)) as unsigned hex") {
    GraftFunctions.register(spark)
    val k = 16
    val docs = minhashCorpus
    val sh = graft.operators.Dedup.shingles(docs, "doc_id", "text")
    val perShingle = sh.select(col("doc_id") +: (0 until k).map(i =>
      substring(md5(concat(lit(s"$i:"), col("s"))), 1, 16).as(s"h$i")): _*)
    val reference = perShingle.groupBy("doc_id")
      .agg(min("h0").as("h0"), (1 until k).map(i => min(s"h$i").as(s"h$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
    // a signed minimum would fail: some (doc, i) mixes top-bit-set and
    // top-bit-clear hashes whose unsigned minimum is top-bit clear
    val topDigit = (0 until k).flatMap(i => Seq(
      max(col(s"h$i").substr(1, 1)).as(s"hi$i"),
      min(col(s"h$i").substr(1, 1)).as(s"lo$i")))
    val mixed = perShingle.groupBy("doc_id")
      .agg(topDigit.head, topDigit.tail: _*)
      .filter((0 until k).map(i =>
        col(s"hi$i") >= "8" && col(s"lo$i") < "8").reduce(_ || _))
    assert(mixed.count() > 0)
    assert(reference.values.flatten.exists(_.head >= '8'))
    def kernel(): Map[Long, Seq[String]] = graft.operators.Dedup
      .shingleSets(docs, "doc_id", "text")
      .select(col("doc_id"), call_function("minhash_md5", col("sh"), lit(k))
        .as("sig"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).map(v => f"$v%016x")).toMap
    assert(reference.size > 60)
    assert(kernel() == reference)
    // the interpreted path (no codegen) computes the same signature
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(kernel() == reference)
    finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
    // no shingle, no signature
    val empty = Seq(Seq.empty[String], Seq[String](null)).toDF("sh")
      .select(call_function("minhash_md5", col("sh"), lit(k))).collect()
    assert(empty.forall(_.isNullAt(0)))
  }

  test("bandedBuckets equals the band keys of the string-min signature") {
    val docs = minhashCorpus
    val (k, bands) = (16, 4)
    val sh = graft.operators.Dedup.shingles(docs, "doc_id", "text")
    val sig = sh.groupBy(col("doc_id")).agg(
      min(substring(md5(concat(lit("0:"), col("s"))), 1, 16)).as("h0"),
      (1 until k).map(i =>
        min(substring(md5(concat(lit(s"$i:"), col("s"))), 1, 16)).as(s"h$i")): _*)
    val reference = sig.select(col("doc_id") +: (0 until bands).map { b =>
      md5(concat((0 until k / bands).map(r =>
        col(s"h${b * (k / bands) + r}")): _*)).as(s"band$b")
    }: _*).collect().flatMap(r =>
      (0 until bands).map(b => (r.getLong(0), b, r.getString(b + 1)))).toSet
    val kernel = graft.operators.Dedup
      .bandedBuckets(graft.operators.Dedup
        .shingleSets(docs, "doc_id", "text"), k, bands)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(reference.size > 200)
    assert(kernel == reference)
  }

  test("components labels every job it launches dedup:components-*") {
    val sc = spark.sparkContext
    def jobsOf(op: => Unit): Seq[String] = jobDescriptions(op)._2
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L), (7L, 9L), (9L, 8L))
      .toDF("id_a", "id_b")
    sc.setJobDescription("caller")
    try {
      // the driver path runs only the jobs that materialize the edges
      val fast = jobsOf(graft.operators.Dedup.release(
        graft.operators.Dedup.components(pairs, "id_a", "id_b")))
      assert(fast.nonEmpty && fast.forall(_ == "dedup:components-edges"),
        fast)
      val dist = TxLog.HeldBudget.withValue(0L)(jobsOf(
        graft.operators.Dedup.release(
          graft.operators.Dedup.components(pairs, "id_a", "id_b"))))
      assert(dist.contains("dedup:components-edges") &&
        dist.contains("dedup:components-round"), dist)
      assert(dist.forall(_.startsWith("dedup:components-")), dist)
      // the caller's own description is restored
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("components clusters a chain and separates disjoint groups") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L), (7L, 9L), (9L, 8L))
      .toDF("id_a", "id_b")
    val out = graft.operators.Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
    // id type is preserved — string ids cluster by lexicographic min
    // (and non-integral ids always take the distributed path)
    val strOut = graft.operators.Dedup.components(
      Seq(("b", "c"), ("a", "b")).toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(strOut == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("components: driver union-find fast path equals the distributed" +
      " propagation label for label") {
    // deterministic pseudo-random graph: chains, a star, disjoint
    // pairs and self-loops, with both long and sparse ids
    val edges = (0 until 400).map { i =>
      val a = (i * 2654435761L) % 1000
      val b = (a + i % 7) % 1000
      (a, b)
    } ++ Seq((5000L, 1L), (5000L, 5001L), (9L, 9L))
    val pairs = edges.toDF("id_a", "id_b")
    val fast = graft.operators.Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = TxLog.HeldBudget.withValue(0L)(
      graft.operators.Dedup.components(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(fast == dist)
  }

  test("components: the held budget picks the path at the edges'" +
      " measured bytes, and both paths give the same labels") {
    // adaptive execution coalesces the small distinct edge set into one
    // partition, so the budget's per-partition share is all of it
    val pairs = ((0 until 60).map(i => (i.toLong, (i * 7 % 60).toLong)) ++
      Seq((100L, 101L), (101L, 102L), (7L, 7L))).toDF("id_a", "id_b")
    def run(budget: Long) = underBudget(budget, "components-edges") {
      val c = graft.operators.Dedup.components(pairs, "id_a", "id_b")
      try c.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally graft.operators.Dedup.release(c)
    }
    val b = measuredBytes(run(TxLog.HeldBudget.value)._2)
    val (driver, atBudget, driverJobs) = run(b)
    assert(atBudget.contains(": driver rows="), atBudget)
    assert(!driverJobs.contains("dedup:components-round"), driverJobs)
    val (dist, overBudget, distJobs) = run(b - 1)
    assert(overBudget.contains(": distributed bytes="), overBudget)
    assert(distJobs.contains("dedup:components-round"), distJobs)
    assert(driver == dist)
    assert(driver(102L) == 100L && driver(49L) == 1L)
  }

  test("components/dropNearDuplicates pin only their result blocks") {
    def pinned = spark.sparkContext.getPersistentRDDs.size
    // leftovers from other suites' tests are cleaned asynchronously by
    // the ContextCleaner — clear them so the baseline is stable
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val baseline = pinned
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L), (7L, 9L), (9L, 8L))
      .toDF("id_a", "id_b")
    // small integral graphs take the driver union-find path: the
    // edges are held on the driver and the labels come back as a
    // LOCAL relation — nothing stays pinned at all
    val out = graft.operators.Dedup.components(pairs, "id_a", "id_b")
    assert(pinned == baseline)
    assert(out.count() == 8)
    graft.operators.Dedup.release(out) // no-op on the local result
    assert(pinned == baseline)
    // the DISTRIBUTED path (forced by a zero held budget) keeps the
    // old contract: every superseded round + the undirected edge set
    // are unpersisted, only the returned labels stay cached
    TxLog.HeldBudget.withValue(0L) {
      val outDist = graft.operators.Dedup.components(pairs, "id_a", "id_b")
      assert(pinned == baseline + 1)
      assert(outDist.count() == 8)
      graft.operators.Dedup.release(outDist)
      assert(pinned == baseline)
    }

    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "completely different text with other words entirely"))
      .toDF("doc_id", "text")
    val survivors = graft.operators.Dedup
      .dropNearDuplicates(docs, "doc_id", "text", 0.5)
    // only the id-only loser set remains pinned (labels were released)
    assert(pinned == baseline + 1)
    assert(survivors.count() == 2)
    graft.operators.Dedup.release(survivors)
    assert(pinned == baseline)
  }

  test("winnow rejects non-foldable or null k/w at analysis time") {
    GraftFunctions.register(spark)
    val df = Seq((8, "abcdefghijklmnop")).toDF("kcol", "t")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("winnow(t, kcol, 4)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("winnow(t, CAST(NULL AS INT), 4)").collect()
    }
  }

  test("fingerprintSummary xor/count matches the raw fingerprint arrays") {
    val fp = graft.operators.TextOps
      .fingerprint(Tables(spark, sf, "documents"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getSeq[Long](1), r.getAs[Int]("n_fingerprints")))
      .toMap
    val summary = TextQueries.textFingerprint(spark, sf).collect()
    assert(summary.nonEmpty)
    summary.foreach { r =>
      val (arr, n) = fp(r.getAs[Long]("doc_id"))
      assert(r.getAs[Int]("n_fingerprints") == n)
      assert(r.getAs[Long]("fp_xor") == arr.foldLeft(0L)(_ ^ _))
    }
  }

  test("ivfTopK probes distributed: the full corpus can be the query set") {
    val embs = Tables(spark, sf, "embeddings")
    val out = graft.operators.Similarity.ivfTopK(
      embs, "vec_id", "embedding", isQuery = lit(true),
      k = 3, cells = 8, nProbes = 2)
    val answered = out.select("query_id").distinct().count()
    assert(answered >= (embs.count() * 0.9).toLong,
      s"only $answered of ${embs.count()} queries got candidates")
  }

  test("text_lang_id predicts a language for every doc") {
    val out = TextQueries.textLangId(spark, sf)
    assert(out.count() > 0)
    assert(out.filter(col("predicted_lang").isNull).count() == 0)
  }

  test("text_fingerprint emits winnowed fingerprints per doc") {
    val out = TextQueries.textFingerprint(spark, sf)
    assert(out.filter(col("n_fingerprints") <= 0).count() == 0)
  }

  test("dedup_keep_best keeps exactly one highest-quality doc per cluster") {
    val out = DedupQueries.dedupKeepBest(spark, sf)
    val comp = DedupQueries.dedupClusters(spark, sf)
      .withColumnRenamed("node", "doc_id")
    val quality = graft.operators.TextOps
      .qualityScore(Tables(spark, sf, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    // one keeper per component, nothing dropped twice
    assert(out.groupBy("component").count()
      .filter(col("count") > 1).count() == 0)
    // the keeper carries its cluster's maximum quality score
    val maxPer = comp.join(quality, "doc_id")
      .groupBy("component").agg(max("quality_score").as("mx"))
    assert(out.join(maxPer, Seq("component"))
      .filter(col("quality_score") < col("mx")).count() == 0)
    // cardinality: every doc survives as keeper or is represented by one
    // (docs - clustered + clusters, singletons keeping themselves)
    val nDocs = Tables(spark, sf, "documents").count()
    val nClustered = comp.count()
    val nClusters = comp.select("component").distinct().count()
    assert(out.count() == nDocs - nClustered + nClusters)
    graft.operators.Dedup.release(out)
    graft.operators.Dedup.release(comp)
  }
}
