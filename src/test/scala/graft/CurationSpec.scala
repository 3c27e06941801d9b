package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, Pii, Sampling, TextOps}

/** Round-3 curation operators (SURVEY.md §2c): decontamination, PII,
  * repetition/Gopher filtering, weighted sampling — behavior tests on
  * planted inputs (the oracle checks cover the testdata bindings). */
class CurationSpec extends SparkSpec {
  private val s = SparkSpec.spark
  import s.implicits._

  test("exact decontamination drops only benchmark-identical docs") {
    val train = Seq(
      (1L, "the quick brown fox"),
      (2L, "THE  quick   Brown fox"), // normalizes to doc 1 == benchmark
      (3L, "something else entirely")).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val out = Decontaminate.exactClean(train, bench, "doc_id", "text")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("ngram decontamination flags partial benchmark leakage") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon unique tail here"), // leaks 5-gram
      (2L, "totally unrelated words with no overlap at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "prefix alpha beta gamma delta epsilon suffix"))
      .toDF("doc_id", "text")
    val report = Decontaminate.ngramReport(train, bench, "doc_id", "text",
      n = 5)
    val byId = report.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(byId(1L)._1 == 1L && byId(1L)._2 == 1) // the shared 5-gram
    assert(byId(2L) == ((0L, 0)))
    val clean = Decontaminate.ngramClean(train, bench, "doc_id", "text",
      n = 5)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(2L))
  }

  test("pii scan counts and redact replaces each pattern kind") {
    val docs = Seq(
      (1L, "contact a@b.co or 555-123-4567 ssn 123-45-6789 " +
        "ip 10.0.0.1 card 4111 1111 1111 1111"),
      (2L, "no pii in this text at all")).toDF("doc_id", "text")
    val scanned = Pii.scan(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val hit = scanned(1L)
    for (kind <- Pii.patterns.map(_._1))
      assert(hit.getAs[Long](s"n_$kind") == 1L, kind)
    assert(hit.getAs[Long]("n_pii_total") == 5L)
    assert(scanned(2L).getAs[Long]("n_pii_total") == 0L)

    val red = Pii.redacted(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val redText = red(1L).getAs[String]("redacted")
    for (kind <- Pii.patterns.map(_._1))
      assert(redText.contains(s"[${kind.toUpperCase}]"), redText)
    assert(!redText.contains("a@b.co") && !redText.contains("123-45-6789"))
    assert(red(2L).getAs[String]("redacted") == "no pii in this text at all")
  }

  test("repetition signals are exact on a constructed doc") {
    // 6 tokens: "x x x y z w" -> n=6, distinct=4, top token x:3,
    // bigrams: "x x","x x","x y","y z","z w" -> 5 bigrams, top "x x":2
    val docs = Seq((1L, "x x x y z w")).toDF("doc_id", "text")
    val r = TextOps.repetition(docs, "doc_id", "text").head()
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Long]("n_distinct") == 4L)
    assert(r.getAs[Long]("top_token_tf") == 3L)
    assert(r.getAs[Long]("n_bigrams") == 5L)
    assert(r.getAs[Long]("top_bigram_tf") == 2L)
    assert(math.abs(r.getAs[Double]("top_bigram_frac") - 0.4) < 1e-12)
  }

  test("gopher filter keeps clean docs and names every failed rule") {
    val repeaty = ("spam " * 40).trim                 // one token repeated
    val clean = (1 to 50).map(i => s"tok$i").mkString(" ") // 50 distinct
    val docs = Seq((1L, clean), (2L, repeaty), (3L, "too short"))
      .toDF("doc_id", "text")
    val out = TextOps.gopherFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("keep") == 1)
    assert(out(1L).getAs[String]("drop_reasons") == "")
    assert(out(2L).getAs[Int]("keep") == 0)
    val reasons2 = out(2L).getAs[String]("drop_reasons")
    assert(reasons2.contains("distinct_ratio;") &&
      reasons2.contains("top_token_frac;") &&
      reasons2.contains("top_bigram_frac;"), reasons2)
    assert(out(3L).getAs[String]("drop_reasons").contains("n_tokens;"))
  }

  /** Documents covering the tokenizer's edge cases: double internal
    * spaces, leading/trailing spaces, a single token, "", whitespace
    * only, null, mixed-case unicode and repeated bigrams. */
  private def repetitionEdgeDocs = Seq[(Long, String)](
    (1L, "a  b   c a  b"),
    (2L, "  leading and trailing  "),
    (3L, "single"),
    (4L, ""),
    (5L, "   "),
    (6L, null),
    (7L, "Straße STRASSE straße Ünïcödé ünïcödé 日本 日本"),
    (8L, "to be or not to be to be or not to be"),
    (9L, "x x x y z w"),
    (10L, " "),
    (11L, "Mixed CASE mixed case MIXED")).toDF("doc_id", "text")

  /** The explode → groupBy(doc, term) → groupBy(doc) form of
    * [[TextOps.repetition]], the reference its kernel must equal. */
  private def repetitionByAggregation(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      split(lower(trim(col("text"))), " ").as("toks"))
    val uni = base
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_token_tf"))
    val bi = base
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 2, expr(
          """transform(sequence(1, size(toks) - 1),
             i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""))
          .otherwise(array().cast("array<string>"))).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("bf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bf")).as("n_bigrams"), max(col("bf")).as("top_bigram_tf"))
    uni.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens"))
          .as("distinct_ratio"),
        col("top_token_tf"),
        (col("top_token_tf").cast("double") / col("n_tokens"))
          .as("top_token_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_tf"), lit(0L)).as("top_bigram_tf"),
        (coalesce(col("top_bigram_tf"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)))
          .as("top_bigram_frac"))
  }

  test("repetition kernel equals the explode/aggregate formula on edge cases") {
    val docs = repetitionEdgeDocs
    val reference = repetitionByAggregation(docs)
    val expected = reference.collect().toSet
    val got = TextOps.repetition(docs, "doc_id", "text")
    assert(got.schema.map(f => f.name -> f.dataType) ==
      reference.schema.map(f => f.name -> f.dataType))
    assert(got.collect().toSet == expected)
    // "", whitespace-only and null texts have no non-empty token: no row
    assert(expected.map(_.getLong(0)) == Set(1L, 2L, 3L, 7L, 8L, 9L, 11L))
    val dd = expected.find(_.getLong(0) == 1L).get
    // "a  b   c a  b" splits into 9 raw tokens: 5 non-empty, and 8
    // adjacent pairs ("a ", " b", …) all count as bigrams
    assert(dd.getAs[Long]("n_tokens") == 5L && dd.getAs[Long]("n_bigrams") == 8L)
  }

  test("gopherFilter reads its word lengths from the repetition row") {
    val docs = repetitionEdgeDocs
    val awl = docs.select(col("doc_id"),
      (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
        size(split(lower(trim(col("text"))), " "))).as("avg_word_len"))
    val expected = repetitionByAggregation(docs).join(awl, "doc_id")
      .select("doc_id", "n_tokens", "avg_word_len", "distinct_ratio",
        "top_token_frac", "top_bigram_frac").collect().toSet
    val got = TextOps.gopherFilter(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "avg_word_len", "distinct_ratio",
        "top_token_frac", "top_bigram_frac").collect().toSet
    assert(got == expected)
  }

  test("weighted bernoulli is deterministic and monotone in weight") {
    val df = (1 to 2000).map(i => (i.toLong, (i % 100).toLong))
      .toDF("id", "w")
    val a = Sampling.weightedBernoulli(df, col("id"), col("w"), 700L,
      1000000L)
    val b = Sampling.weightedBernoulli(df, col("id"), col("w"), 700L,
      1000000L)
    val idsA = a.collect().map(_.getLong(0)).toSet
    assert(idsA == b.collect().map(_.getLong(0)).toSet) // reproducible
    // zero weight is never kept; weight >= den/num is always kept
    assert(Sampling.weightedBernoulli(df.withColumn("w", lit(0L)),
      col("id"), col("w"), 700L, 1000000L).count() == 0L)
    assert(Sampling.weightedBernoulli(df.withColumn("w", lit(2000L)),
      col("id"), col("w"), 700L, 1000000L).count() == 2000L)
    // doubling every weight can only grow the kept set
    val doubled = Sampling.weightedBernoulli(df.withColumn("w",
      col("w") * 2), col("id"), col("w"), 700L, 1000000L)
      .collect().map(_.getLong(0)).toSet
    assert(idsA.subsetOf(doubled))
  }

  test("cross-corpus near-dup join finds lightly-edited benchmark leakage") {
    val bench = Seq(
      (100L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val train = Seq(
      // one word changed — exact hash misses it, minhash must not
      (1L, "one two three four five six seven eight nine eleven"),
      (2L, "completely different content with no shared phrasing at all"))
      .toDF("doc_id", "text")
    val pairs = Decontaminate.nearDupReport(train, bench, "doc_id", "text",
      tau = 0.4).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 100L)
    assert(pairs.head.getDouble(2) > 0.4)
    // and exactClean would NOT have caught it
    assert(Decontaminate.exactClean(train, bench, "doc_id", "text")
      .count() == 2L)
  }

  test("bloomClean equals exactClean and prunes the verify join input") {
    val train = (1L to 300L).map(i => (i, s"doc body number $i")).toDF("doc_id", "text")
    val bench = Seq((9001L, "doc body number 7"), (9002L, "doc body number 250"),
      (9003L, "unseen benchmark prompt")).toDF("doc_id", "text")
    val exact = Decontaminate.exactClean(train, bench, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val bloom = Decontaminate.bloomClean(train, bench, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(bloom == exact) // identical semantics through the bloom path
    assert(!bloom.contains(7L) && !bloom.contains(250L))
    assert(bloom.size == 298)
    // with a reasonably-sized filter the bloom-positive sliver is tiny:
    // the exact-verify join sees only true leaks (+ rare fpp), not the corpus
    val flagged = {
      graft.functions.GraftFunctions.register(s)
      bench.select(md5(lower(regexp_replace(trim(col("text")),
        "\\s+", " "))).as("content_hash")).distinct()
        .createOrReplaceTempView("bloom_t_bench")
      train.select(md5(lower(regexp_replace(trim(col("text")),
        "\\s+", " "))).as("content_hash"))
        .createOrReplaceTempView("bloom_t_train")
      spark.sql("""
        SELECT count(*) FROM bloom_t_train
        WHERE bloom_contains(
          (SELECT bloom_agg(xxhash64(content_hash), 1000L, 65536L)
           FROM bloom_t_bench),
          xxhash64(content_hash))""").collect().head.getLong(0)
    }
    assert(flagged <= 10L, s"bloom passed $flagged of 300 rows")
  }

  test("bloomClean on an EMPTY benchmark keeps the whole corpus " +
    "(== exactClean)") {
    val train = (1L to 50L).map(i => (i, s"doc body $i"))
      .toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // bloom_agg over zero rows is NULL — the COALESCE(probe, FALSE)
    // keeps this identical to exactClean instead of dropping everything
    assert(Decontaminate.exactClean(train, bench, "doc_id", "text")
      .count() == 50L)
    val bloom = Decontaminate.bloomClean(train, bench, "doc_id", "text")
    assert(bloom.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (1L to 50L).toSet)
    // invocation-scoped temp views are dropped after plan build
    assert(!s.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_bloom")))
  }

  test("mg_topk is exact under capacity and bounded beyond it") {
    graft.functions.GraftFunctions.register(s)
    // zipf-ish: term t_i appears (21 - i) times, 20 distinct terms
    val rows = (1 to 20).flatMap(i => Seq.fill(21 - i)(s"t$i"))
    val df = rows.toDF("term").repartition(8) // force partial merges
    df.createOrReplaceTempView("mg_in")
    // capacity 32 > 20 distinct -> exact counts in exact order
    val exact = spark.sql(
      "SELECT inline(mg_topk(term, 32)) FROM mg_in").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(exact.length == 20)
    assert(exact.head == ("t1", 20L))
    assert(exact.toMap == (1 to 20).map(i => s"t$i" -> (21L - i)).toMap)
    // order is (count desc, term asc)
    assert(exact.map(_._2).toSeq == exact.map(_._2).sorted.reverse.toSeq)

    // capacity 5 << 20 distinct: every survivor's reported count is an
    // undercount by at most N/(k+1), and the heaviest item survives
    val n = rows.length
    val small = spark.sql(
      "SELECT inline(mg_topk(term, 5)) FROM mg_in").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(small.size <= 5)
    val trueCounts = (1 to 20).map(i => s"t$i" -> (21L - i)).toMap
    for ((t, c) <- small) {
      assert(c <= trueCounts(t), s"$t overcounted: $c > ${trueCounts(t)}")
      assert(trueCounts(t) - c <= n / 6, s"$t undercount bound broken")
    }
    // MG guarantees survival only for items with freq > N/(k+1) = 35;
    // no term here qualifies (max 20), so assert the bound, not the set
    assert(small.nonEmpty)
  }

  test("split assigns every row one stable label at ~declared rates") {
    val df = (1L to 2000L).toDF("id")
    val splits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val a = Sampling.split(df, col("id"), splits)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.values.sum == 2000L) // total preserved, no dropped rows
    assert(a("train") > 1500 && a("train") < 1700) // ~80% of 2000
    assert(a("val") > 120 && a("val") < 280)
    assert(a("test") > 120 && a("test") < 280)
    // deterministic: the same key always lands in the same split
    val one = Sampling.split(df, col("id"), splits)
      .filter(col("id") === 7L).select("split").collect().head.getString(0)
    val two = Sampling.split(df, col("id"), splits)
      .filter(col("id") === 7L).select("split").collect().head.getString(0)
    assert(one == two)
    intercept[IllegalArgumentException] {
      Sampling.split(df, col("id"), Seq("a" -> 50, "b" -> 40))
    }
  }

  test("takeTopBy keeps the q best rows per stratum in order") {
    val df = Seq(
      ("s1", 1L, 5L), ("s1", 2L, 9L), ("s1", 3L, 7L), ("s1", 4L, 9L),
      ("s2", 5L, 1L)).toDF("src", "id", "score")
    val out = Sampling.takeTopBy(df, col("src"),
        Seq(col("score").desc, col("id").asc), 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.toSet == Set(("s1", 2L, 1L), ("s1", 4L, 2L), ("s2", 5L, 1L)))
  }

  test("pairwiseJaccard computes the full matrix incl zero overlap") {
    import graft.operators.Corpus
    val docs = Seq(
      (1L, "a b c d", "g1"), // grams: "a b c", "b c d"
      (2L, "a b c x", "g2"), // grams: "a b c", "b c x"
      (3L, "p q r s", "g3")) // grams: "p q r", "q r s" — disjoint
      .toDF("doc_id", "text", "src")
    val out = Corpus.pairwiseJaccard(docs, col("src"), "doc_id", "text", 3)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.size == 3) // all 3 pairs present
    assert(out(("g1", "g2")) == ((2L, 2L, 1L, 1.0 / 3.0)))
    assert(out(("g1", "g3")) == ((2L, 2L, 0L, 0.0)))
    assert(out(("g2", "g3")) == ((2L, 2L, 0L, 0.0)))
  }

  test("mg_topk survives terms larger than 64 KiB (serialize path)") {
    graft.functions.GraftFunctions.register(s)
    // writeUTF would throw UTFDataFormatException at partial-serialize
    // time for any term whose UTF-8 exceeds 65535 bytes (ADVICE r3);
    // length-prefixed bytes must round-trip it with exact counts
    val big = "x" * 70000
    val rows = Seq.fill(7)(big) ++ Seq.fill(3)("small")
    val df = rows.toDF("term").repartition(4) // force partial merges
    df.createOrReplaceTempView("mg_big")
    val out = spark.sql("SELECT inline(mg_topk(term, 8)) FROM mg_big")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out(big) == 7L)
    assert(out("small") == 3L)
  }

  test("weighted bernoulli rejects fractional weight columns") {
    val df = Seq((1L, 0.9), (2L, 0.4)).toDF("id", "w")
    val e = intercept[IllegalArgumentException] {
      Sampling.weightedBernoulli(df, col("id"), col("w"), 1L, 10L)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("pack_sequences shard_ix is exact past double precision") {
    import graft.operators.Pack
    // _start = 2^53 + 1 is not double-representable; double division
    // would floor to the wrong shard. 3 * 3002399751580331 = 2^53 + 1.
    val df = Seq((1L, "g", (1L << 53) + 1L), (2L, "g", 5L))
      .toDF("id", "g", "n")
    val out = Pack.sequences(df, col("g"), col("id"), col("n"), 3L)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("shard_ix"),
        r.getAs[Long]("shard_offset"))).toMap
    assert(out(2L) == ((3002399751580331L, 0L)))
  }

  test("pack_sequences lays out the token stream deterministically") {
    import graft.operators.Pack
    val df = Seq(
      (1L, "g1", 3L), (2L, "g1", 4L), (3L, "g1", 5L), // starts 0,3,7
      (10L, "g2", 12L), (11L, "g2", 2L)) // long doc straddles shards
      .toDF("id", "g", "n")
    val out = Pack.sequences(df, col("g"), col("id"), col("n"), 5L)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("shard_ix"),
        r.getAs[Long]("shard_offset"))).toMap
    assert(out(1L) == ((0L, 0L)))
    assert(out(2L) == ((0L, 3L))) // starts at token 3 of shard 0
    assert(out(3L) == ((1L, 2L))) // start 7 -> shard 1, offset 2
    assert(out(10L) == ((0L, 0L))) // 12-token doc fills shards 0-2
    assert(out(11L) == ((2L, 2L))) // starts at global token 12
  }

  test("decon and curation plans stay narrow on the training side") {
    val sfDir = sf
    // decon_exact: training side never shuffles — the benchmark hash
    // set broadcasts (AQE or static), so the plan has no Exchange on
    // the train scan path before the join
    val plan = graft.queries.CurationQueries.deconExact(s, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
    // pii_scan / sample_weighted: pure narrow projections, no Exchange
    for (q <- Seq(
        graft.queries.CurationQueries.piiScan(s, sfDir),
        graft.queries.CurationQueries.sampleWeighted(s, sfDir))) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
    }
  }
}
