package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{Anomaly, Pack}

/** Round-9 operator tests: token-id emission + packed shards, the
  * self-enforcing anomaly contracts, codepoint-fallback parity. */
class Round9Spec extends SparkSpec {
  import SparkSpec.spark.implicits._

  GraftFunctions.register(spark)

  private val vocab = Seq("the", "he", "in", "ing", "th")

  test("bpe_tokens: ids are 1-based vocab positions, 0 for fallback") {
    // "thing" → greedy: "th"(5), "ing"(4); "xthe" → x(0), "the"(1)
    val out = Seq("thing xthe").toDF("t")
      .select(expr(s"bpe_tokens(t, array(${vocab.map(v => s"'$v'").mkString(",")}))").as("ids"))
      .as[Seq[Long]].head()
    assert(out === Seq(5L, 4L, 0L, 1L))
  }

  test("bpe_tokens size equals bpe_count on real corpus text") {
    val varr = s"array(${vocab.map(v => s"'$v'").mkString(",")})"
    val bad = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(expr(s"size(bpe_tokens(lower(trim(text)), $varr))").as("a"),
        expr(s"bpe_count(lower(trim(text)), $varr)").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bad === 0L)
  }

  test("bpe fallback advances one codepoint: emoji is ONE unknown token") {
    val varr = s"array(${vocab.map(v => s"'$v'").mkString(",")})"
    // U+1F600 is a surrogate pair in UTF-16; pre-fix it counted as 2
    val out = Seq("😀 the 😀😀").toDF("t")
      .select(expr(s"bpe_tokens(t, $varr)").as("ids"),
        expr(s"bpe_count(t, $varr)").as("n"))
      .as[(Seq[Long], Long)].head()
    assert(out._1 === Seq(0L, 1L, 0L, 0L))
    assert(out._2 === 4L)
  }

  test("bpe_tokens: duplicate vocab entry keeps FIRST id; null/empty slots skipped") {
    val out = Seq("the").toDF("t")
      .select(expr("bpe_tokens(t, array('', 'the', NULL, 'the'))").as("ids"))
      .as[Seq[Long]].head()
    assert(out === Seq(2L)) // original array position, first occurrence
  }

  test("packedShards: exact cuts, straddling docs, reassembly invariant") {
    val docs = Seq(
      ("a", 1L, Seq(1L, 2L, 3L)),
      ("a", 2L, Seq(4L, 5L, 6L, 7L, 8L)), // straddles shards 0→2 at max=3
      ("a", 3L, Seq(9L)),
      ("b", 1L, Seq(10L, 11L)),
      ("b", 2L, Seq.empty[Long]),          // zero-token doc vanishes
      ("b", 3L, Seq(12L))).toDF("g", "o", "toks")
    val shards = Pack.packedShards(docs, "g", "o", "toks", maxTokens = 3L)
      .orderBy("g", "shard_ix")
      .as[(String, Long, Long, Seq[Long])].collect().toList
    assert(shards === List(
      ("a", 0L, 3L, Seq(1L, 2L, 3L)),
      ("a", 1L, 3L, Seq(4L, 5L, 6L)),
      ("a", 2L, 3L, Seq(7L, 8L, 9L)),
      ("b", 0L, 3L, Seq(10L, 11L, 12L))))
    // reassembly: flatten per-group shards in shard_ix order == the
    // concatenation of the group's doc arrays in order
    val reassembled = shards.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).flatMap(_._4)).toMap
    assert(reassembled === Map(
      "a" -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      "b" -> Seq(10L, 11L, 12L)))
    // every shard but each group's last is exactly full
    shards.groupBy(_._1).foreach { case (_, ss) =>
      ss.sortBy(_._2).init.foreach(s => assert(s._3 === 3L))
    }
  }

  test("packedShards reassembly on corpus bpe ids (sf0.001)") {
    val varr = "array('th', 'he', 'in', 'an', 're')"
    val toks = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"),
        expr(s"bpe_tokens(lower(trim(text)), $varr)").as("toks"))
    val expected = toks.orderBy("source", "doc_id")
      .as[(Long, String, Seq[Long])].collect().toList
      .groupBy(_._2).view.mapValues(_.flatMap(_._3)).toMap
    val got = Pack.packedShards(toks, "source", "doc_id", "toks", 500L)
      .as[(String, Long, Long, Seq[Long])].collect().toList
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).flatMap(_._4)).toMap
    assert(got === expected)
  }

  test("flagOutliers rejects a non-integral value column") {
    val df = Seq(("a", 1.5), ("a", 2.5)).toDF("g", "v")
    val e = intercept[IllegalArgumentException](
      Anomaly.flagOutliers(df, "g", "v"))
    assert(e.getMessage.contains("integral"))
    // and scale-0 decimal is accepted
    Anomaly.flagOutliers(
      Seq(("a", BigDecimal(1)), ("a", BigDecimal(2)))
        .toDF("g", "v").select(col("g"), col("v").cast("decimal(38,0)")),
      "g", "v").collect()
  }

  test("flagOutliersRobust aborts on an over-cap group instead of sorting it") {
    val small = (1L to 50L).map(("a", _)).toDF("g", "v")
    // cap respected: runs fine under the cap
    assert(Anomaly.flagOutliersRobust(small, "g", "v",
      maxGroupRows = 50L).count() === 50L)
    // one row over the cap: the plan executes but raises, naming the group
    val e = intercept[Exception] {
      Anomaly.flagOutliersRobust(small, "g", "v",
        maxGroupRows = 49L).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null &&
      m.contains("maxGroupRows") && m.contains("flagOutliersRobust")))
  }

  test("MedallionPipeline writeManifest/readPruned round-trips a zone") {
    import graft.etl.{LoadType, MedallionPipeline}
    import graft.quality.DataZone
    val root = java.nio.file.Files.createTempDirectory("graftmp").toString
    // the per-file stats that a directory manifest used to hold ride
    // the write's own log commit
    val p = new MedallionPipeline(spark, root, txStatsCols = Seq("id"))
    val df = (0L until 64L).map(i => (i, i % 4)).toDF("id", "k")
      .repartitionByRange(4, col("id"))
    p.write(DataZone.Silver, "m9", df, LoadType.Full)
    val pruned = p.readPruned(DataZone.Silver, "m9", "id", 0L, 10L)
    assert(pruned.inputFiles.length < p.read(DataZone.Silver, "m9")
      .inputFiles.length)
    assert(pruned.filter(col("id") <= 10).count() === 11L)
  }

  test("ivfPqQuery: deterministic; recall at equal rerank >= flat PQ; " +
      "scored candidates shrink to the probed cells") {
    import graft.operators.Similarity
    val embs = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val isQ = col("vec_id") < 10
    val k = 5
    val rerank = 10 * k
    val index = Similarity.buildIvfPqIndex(embs, "vec_id", "embedding",
      cells = 64, subspaces = 8, codebook = 16)
    val got = Similarity.ivfPqQuery(index, embs, "vec_id", "embedding",
      isQ, k, nProbes = 16, rerank = rerank)
      .select("query_id", "cand_id").as[(Long, Long)].collect.toSet
    assert(got.size === 50 && got.forall(p => p._1 != p._2))
    // determinism: seeded coarse + residual fits -> identical result
    val index2 = Similarity.buildIvfPqIndex(embs, "vec_id", "embedding",
      cells = 64, subspaces = 8, codebook = 16)
    val again = Similarity.ivfPqQuery(index2, embs, "vec_id", "embedding",
      isQ, k, nProbes = 16, rerank = rerank)
      .select("query_id", "cand_id").as[(Long, Long)].collect.toSet
    assert(again === got)
    // exact L2 top-k baseline
    val v = Similarity.vecs(embs, "vec_id", "embedding")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("cand_id").asc)
    val exact = v.filter(isQ).as("a")
      .join(v.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("cand_id"),
        (col("a.nn") - lit(2.0) * expr("vec_dot(a.e, b.e)") + col("b.nn"))
          .as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id").as[(Long, Long)].collect.toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    val flatPq = Similarity.pqTopK(embs, "vec_id", "embedding", isQ, k,
      rerank = rerank)
      .select("query_id", "cand_id").as[(Long, Long)].collect.toSet
    val flatRecall = flatPq.intersect(exact).size.toDouble / exact.size
    info(s"IVFADC recall@$k = $recall vs flat PQ $flatRecall")
    assert(recall >= flatRecall,
      s"IVFADC recall $recall < flat PQ $flatRecall at equal rerank")
    assert(recall >= 0.5, s"IVFADC rerank recall@$k = $recall")
    // candidate shrink: with unbounded k and no rerank the output IS
    // the scored candidate set — only vectors in the 16/64 probed cells
    val n = embs.count()
    val candPerQuery = Similarity.ivfPqQuery(index, embs, "vec_id",
      "embedding", isQ, k = n.toInt, nProbes = 16, rerank = 0)
      .groupBy("query_id").count().select("count").as[Long].collect
    assert(candPerQuery.length === 10)
    val worst = candPerQuery.max.toDouble / n
    info(s"worst probed-cell candidate fraction = $worst of $n")
    assert(worst < 0.6,
      s"probed candidates $worst of corpus — cells not restricting")
  }

  test("saveIvfPqIndex/loadIvfPqIndex: persisted round-trip serves identical results") {
    import graft.operators.Similarity
    val embs = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val isQ = col("vec_id") < 10
    val built = Similarity.buildIvfPqIndex(embs, "vec_id", "embedding",
      cells = 16, subspaces = 8, codebook = 16)
    val want = Similarity.ivfPqQuery(built, embs, "vec_id", "embedding",
      isQ, k = 5, nProbes = 4, rerank = 20)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Long)].collect.toSet
    val dir = java.nio.file.Files.createTempDirectory("graftivfpq").toString
    Similarity.saveIvfPqIndex(built, "graft_t_ivfpq", dir, nBuckets = 8)
    val loaded = Similarity.loadIvfPqIndex(spark, "graft_t_ivfpq", dir)
    assert(loaded.subspaces === 8 && loaded.codebook === 16 &&
      loaded.nCells === 16)
    val got = Similarity.ivfPqQuery(loaded, embs, "vec_id", "embedding",
      isQ, k = 5, nProbes = 4, rerank = 20)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Long)].collect.toSet
    assert(got === want)
    // the persisted codes table is one file per bucket (probe-key
    // bucketing really landed: no per-task scatter)
    val codeFiles = loaded.codes.inputFiles.length
    assert(codeFiles <= 8, s"$codeFiles files for 8 buckets")
  }

  test("naive Bayes: planted vocabularies separate; mixed doc follows its lean") {
    import graft.operators.NaiveBayes
    // two disjoint vocabularies; labels follow the vocabulary exactly
    val pos = (0L until 20L).map(i =>
      (i, "alpha beta gamma alpha delta beta", true))
    val neg = (20L until 40L).map(i =>
      (i, "zork grok blark zork snarf grok", false))
    // a held-back-style probe: label says NEGATIVE but the text leans
    // positive 4:2 — the trained model should overrule the weak label
    val mixed = Seq((40L, "alpha beta gamma alpha zork grok", false))
    val docs = (pos ++ neg ++ mixed).toDF("doc_id", "text", "label")
    val out = NaiveBayes.trainScore(docs, "doc_id", "text", "label")
      .select("doc_id", "label", "pred", "lp_pos", "lp_neg")
      .as[(Long, Long, Long, Double, Double)].collect
      .map(r => r._1 -> r).toMap
    assert(out.size === 41)
    (0L until 40L).foreach { i =>
      val (_, label, pred, lpPos, lpNeg) = out(i)
      assert(pred === label, s"doc $i: pred $pred != label $label")
      if (label == 1L) assert(lpPos > lpNeg) else assert(lpNeg > lpPos)
    }
    assert(out(40L)._3 === 1L,
      s"mixed positive-leaning doc predicted ${out(40L)}")
    // determinism: exact counts + one rounded division per term
    val again = NaiveBayes.trainScore(docs, "doc_id", "text", "label")
      .select("doc_id", "label", "pred", "lp_pos", "lp_neg")
      .as[(Long, Long, Long, Double, Double)].collect
      .map(r => r._1 -> r).toMap
    assert(again === out)
  }

  test("nb_calibration: cells partition the corpus; margins align with pred") {
    val out = graft.queries.TextQueries.nbCalibration(spark,
      "/root/testdata/sf0.001")
      .select("label", "pred", "n", "margin_micro", "mean_margin")
      .as[(Long, Long, Long, Long, Double)].collect
    assert(out.map(_._3).sum === 500L)
    assert(out.map(r => (r._1, r._2)).distinct.length === out.length)
    out.foreach { case (_, pred, n, mmicro, mean) =>
      // pred = 1 iff lp_pos >= lp_neg, so the cell's every margin —
      // and therefore its mean — has the prediction's sign
      if (pred == 1L) assert(mmicro >= 0L) else assert(mmicro < 0L)
      assert(math.abs(mean - mmicro.toDouble / (1e6 * n)) < 1e-12)
    }
  }

  test("snapshotDiff: added/removed/changed/unchanged classified per doc") {
    import graft.operators.Corpus
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma EDITED"), (4L, "delta"))
      .toDF("doc_id", "text")
    val out = Corpus.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .select("doc_id", "status").as[(Long, String)].collect.toMap
    assert(out === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("NB model: OOV docs score by smoothing floors; persisted round-trip identical") {
    import graft.operators.NaiveBayes
    val docs = ((0L until 20L).map(i => (i, "alpha beta gamma", true)) ++
      (20L until 40L).map(i => (i, "zork grok blark", false)))
      .toDF("doc_id", "text", "label")
    val model = NaiveBayes.train(docs, "doc_id", "text", "label")
    // a doc of entirely never-seen tokens scores the exact smoothing
    // floor per class: prior + n · ln(1 / (T_c + V)); T_pos = T_neg
    // and D_pos = D/2 here, so the two scores tie -> pred = positive
    val oov = Seq((100L, "qqq www eee")).toDF("doc_id", "text")
    val got = NaiveBayes.score(model, oov, "doc_id", "text")
      .select("n_tokens", "lp_pos", "lp_neg", "pred")
      .as[(Int, Double, Double, Long)].head()
    val floor = math.log(21.0 / 42.0) + 3.0 * math.log(1.0 / (60 + 6))
    assert(got._1 === 3 && got._4 === 1L)
    assert(math.abs(got._2 - floor) < 1e-6 && got._2 === got._3)
    // persisted model serves identical scores
    val dir = java.nio.file.Files.createTempDirectory("graftnb").toString
    NaiveBayes.saveModel(model, "graft_t_nb", dir, nBuckets = 8)
    val loaded = NaiveBayes.loadModel(spark, "graft_t_nb", dir)
    val probe = Seq((200L, "alpha zork beta"), (201L, "qqq alpha"))
      .toDF("doc_id", "text")
    val want = NaiveBayes.score(model, probe, "doc_id", "text")
      .select("doc_id", "lp_pos", "lp_neg", "pred")
      .as[(Long, Double, Double, Long)].collect.toSet
    val again = NaiveBayes.score(loaded, probe, "doc_id", "text")
      .select("doc_id", "lp_pos", "lp_neg", "pred")
      .as[(Long, Double, Double, Long)].collect.toSet
    assert(again === want)
  }

  test("scriptProfile: planted multilingual text counts by script; dominant deterministic") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "hello world 42"),             // latin-dominant, 2 digits
      (2L, "привет мир"),                 // cyrillic
      (3L, "日本語のテキスト"),             // cjk (kanji + kana)
      (4L, "αβγ abc"),                    // greek ties latin -> latin first
      (5L, "مرحبا"),                      // arabic
      (6L, "!!! ...")                     // no script at all -> latin
    ).toDF("doc_id", "text")
    val out = TextOps.scriptProfile(docs, "doc_id", "text")
      .select("doc_id", "n_latin", "n_digit", "n_cyrillic", "n_greek",
        "n_cjk", "n_arabic", "dominant_script")
      .as[(Long, Long, Long, Long, Long, Long, Long, String)]
      .collect.map(r => r._1 -> r).toMap
    assert(out(1L)._8 === "latin" && out(1L)._2 === 10L && out(1L)._3 === 2L)
    assert(out(2L)._8 === "cyrillic" && out(2L)._4 === 9L)
    assert(out(3L)._8 === "cjk" && out(3L)._6 === 8L)
    assert(out(4L)._8 === "latin" && out(4L)._5 === 3L && out(4L)._2 === 3L)
    assert(out(5L)._8 === "arabic" && out(5L)._7 === 5L)
    assert(out(6L)._8 === "latin" && out(6L)._2 === 0L)
  }

  test("temperatureRates: sqrt targets upsample small sources on the exact grid") {
    import graft.operators.Mixture
    // masses 10000 vs 100: proportional sampling gives the small
    // source ~1% of the mix; sqrt targets (100 vs 10) give it ~9%
    val df = ((0 until 100).map(i => ("big", 100L)) ++
      (0 until 10).map(i => ("small", 10L))).toDF("src", "mass")
    val out = Mixture.temperatureRates(df, col("src"), col("mass"))
      .select("grp", "avail", "target", "keep_thr")
      .as[(String, Long, Long, Long)].collect.map(r => r._1 -> r).toMap
    // avail: big 10000 -> target 100; small 100 -> target 10
    assert(out("big") === (("big", 10000L, 100L, 100000L)))
    assert(out("small") === (("small", 100L, 10L, 1000000L)))
    // kept-mass ratio 1000:100 == the sqrt ratio 100:10 — flattened
    // from the 100:1 raw ratio, binding source kept whole
  }

  test("kAnonymity flags sub-k equivalence classes exactly") {
    import graft.operators.Profile
    val df = ((0 until 12).map(i => ("US", "A")) ++
      (0 until 3).map(i => ("US", "B")) ++
      Seq(("FR", "A"))).toDF("nation", "seg")
    val out = Profile.kAnonymity(df, Seq("nation", "seg"), k = 5L)
      .as[(String, String, Long, Long)].collect.toSet
    assert(out === Set(("US", "A", 12L, 0L), ("US", "B", 3L, 1L),
      ("FR", "A", 1L, 1L)))
    val e = intercept[IllegalArgumentException](
      Profile.kAnonymity(df, Seq.empty, 5L))
    assert(e.getMessage.contains("non-empty"))
  }

  test("joinCardinality predicts exact join output size, hot keys first") {
    import graft.operators.Profile
    val left = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"), (3L, "e"))
      .toDF("k", "v")
    val right = Seq((1L, "x"), (1L, "y"), (2L, "z"), (4L, "w"))
      .toDF("k", "v")
    val est = Profile.joinCardinality(left, col("k"), right, col("k"),
      topN = 10)
      .as[(Long, Long, Long, Long)].collect.toList
    assert(est === List((1L, 3L, 2L, 6L), (2L, 1L, 1L, 1L)))
    // the prediction equals the real join's size
    val real = left.join(right.withColumnRenamed("v", "w"), Seq("k")).count()
    assert(est.map(_._4).sum === real)
  }

  test("benford: digits from cents strings; zero/negative amounts excluded") {
    import graft.operators.Profile
    val df = Seq(1.23, 19.99, 102.5, 0.0, -5.0, 9999.01, 0.11)
      .toDF("amt")
    val out = Profile.benford(df, col("amt"))
      .as[(String, Long, Double)].collect.map(r => r._1 -> r).toMap
    // cents: 123, 1999, 10250, (0 excluded), (-500 excluded), 999901, 11
    // -> leading digits 1, 1, 1, 9, 1
    assert(out("1")._2 === 4L && out("9")._2 === 1L)
    assert(out.values.map(_._2).sum === 5L)
    out.values.foreach(r => assert(r._3 === r._2.toDouble / 5.0))
  }

  test("pqQuery fails fast on probe dims != index dims") {
    val emb = (0L until 32L).map(i =>
      (i, Array.tabulate(8)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
    val index = graft.operators.Similarity.buildPqIndex(
      emb, "vec_id", "embedding", subspaces = 4, codebook = 2)
    val probe6 = (0L until 4L).map(i =>
      (i, Array.tabulate(6)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      graft.operators.Similarity.pqQuery(index, probe6, "vec_id",
        "embedding", isQuery = col("vec_id") < 2, k = 2))
    assert(e.getMessage.contains("probe embedding dim"))
  }
}
