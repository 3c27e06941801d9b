package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TxLog

/** Similarity-graph analytics (round-4, §2d) — once a kNN/near-dup
  * graph exists ([[Similarity.knnGraph]], [[Dedup]] pair lists), the
  * curation questions become graph questions: how connected is the
  * corpus (degrees), what are the duplicate/topic clusters
  * ([[Dedup.components]] — reused, not re-implemented), and which
  * documents are most central (PageRank → picking cluster
  * representatives by centrality instead of min-id).
  *
  * Scale: [[degrees]] is two map-side-combined aggregations + a
  * node-sized join. [[pagerank]] is one edge-shuffle join + aggregate
  * per iteration over rank state that is node-sized (≪ edges), with
  * the same localCheckpoint-and-release lifecycle as
  * [[Dedup.components]] so lineage stays flat and superseded blocks
  * are freed each round; dangling-node mass is redistributed via a
  * broadcast one-row aggregate, never a driver collect.
  */
object Graph {

  /** Widest integral type of the two id columns, so e.g. int-src /
    * long-dst edge lists (routine after a join against a differently
    * typed dimension) widen instead of failing `array(struct,struct)`
    * type unification. Non-integral mismatches stay a loud error. */
  private def commonIdType(edges: DataFrame, srcCol: String,
      dstCol: String): Option[DataType] = {
    val order = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    val Seq(s, d) = Seq(srcCol, dstCol).map(c =>
      edges.schema(edges.schema.fieldIndex(c)).dataType)
    if (s == d) None
    else {
      require(order.contains(s) && order.contains(d),
        s"degrees: src/dst types differ ($s vs $d) and are not both " +
          "integral — cast them to a common type first")
      Some(order(math.max(order.indexOf(s), order.indexOf(d))))
    }
  }

  /** Per-node degrees of a directed edge list. Output: (node,
    * out_degree, in_degree) — one row per node appearing in any edge,
    * 0 for the missing direction. Src and dst of different integral
    * widths are widened to the larger; other type mismatches fail
    * with a clear message.
    *
    * Single-pass shape: each edge explodes into two (node, out, in)
    * contribution rows folded by ONE map-side-combined aggregation —
    * the edge relation is scanned once. The alternative (separate
    * out/in groupBys + full-outer join) evaluates the whole upstream
    * edge pipeline TWICE and adds a join shuffle, which against a
    * computed edge list (e.g. the kNN-LSH graph) doubles the most
    * expensive stage of the query. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (src, dst) = commonIdType(edges, srcCol, dstCol) match {
      case Some(t) => (col(srcCol).cast(t), col(dstCol).cast(t))
      case None    => (col(srcCol), col(dstCol))
    }
    edges.select(explode(array(
        struct(src.as("node"), lit(1L).as("o"), lit(0L).as("i")),
        struct(dst.as("node"), lit(0L).as("o"), lit(1L).as("i"))))
        .as("_e"))
      .select(col("_e.node").as("node"), col("_e.o").as("_o"),
        col("_e.i").as("_i"))
      .groupBy(col("node"))
      .agg(sum(col("_o")).as("out_degree"), sum(col("_i")).as("in_degree"))
  }

  /** PageRank with damping `d` over a directed edge list: rank =
    * (1−d)/N + d·(Σ in-neighbor rank/out-degree + dangling mass/N),
    * run for up to `iters` rounds (rank mass is conserved — sums to
    * 1 every round). When `tol` > 0, iteration stops early once
    * max |Δrank| < tol — a convergence probe costing one node-sized
    * aggregation per round, which at cluster scale is far cheaper
    * than the edge-join rounds it saves (most graphs settle well
    * before a fixed budget). `onRound` observes (round index,
    * max |Δrank|) for scale diagnostics; the probe runs whenever
    * tol > 0 or an observer is set. Output: (node, pagerank).
    *
    * Numerics are double and the per-round contribution sums use
    * Spark's native `sum` (partition-order-dependent float addition),
    * so results are reproducible only to float tolerance — this form
    * is ScalaTest-verified (cycle fixpoint, mass conservation,
    * dangling redistribution, early stop); [[pagerankDet]] is the
    * bit-deterministic, oracle-hashable twin. */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, damping: Double = 0.85, tol: Double = 0.0,
      onRound: Option[(Int, Double) => Unit] = None): DataFrame = {
    require(iters > 0, "iters must be positive")
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    require(tol >= 0, "tol must be non-negative")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))
    // one tiny action up front: N sizes the teleport term
    val n = nodes.count().toDouble
    var ranks = nodes
      .join(outDeg, Seq("node"), "left")
      .select(col("node"), lit(1.0 / n).as("rank"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"))
      .localCheckpoint(true)
    val probeDelta = tol > 0 || onRound.isDefined
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      val contribs = e
        .join(ranks, e("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("out_degree")).as("contrib"))
      val dangling = ranks.filter(col("out_degree") === 0L)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("_dangling"))
      // `_prev` rides along only so the convergence probe is one
      // agg over the already-materialized checkpoint, not another join
      val updated = ranks
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("_dangling") / n))
            .as("rank"),
          col("out_degree"),
          col("rank").as("_prev"))
        .localCheckpoint(true)
      Dedup.release(ranks)
      if (probeDelta) {
        val delta = updated
          .agg(max(abs(col("rank") - col("_prev"))).as("d"))
          .head().getDouble(0)
        onRound.foreach(cb => cb(i, delta))
        converged = tol > 0 && delta < tol
      }
      ranks = updated.drop("_prev")
      i += 1
    }
    Dedup.release(e)
    ranks.select(col("node"), col("rank").as("pagerank"))
  }

  /** [[pagerank]] with BIT-DETERMINISTIC aggregation: every float
    * reduction is a fixed-order left fold instead of a native `sum`,
    * so the result is identical bit-for-bit on any partitioning, any
    * cluster size, and in any engine that replays the same fold order
    * — the driver gate hash-checks it against a DuckDB replay
    * (iterations unrolled as a CTE chain), closing the oracle gap
    * float-sum ordering forces on [[pagerank]].
    *
    * Determinism recipe, mirrored expression-for-expression by the
    * oracle SQL ([[graft.queries.TrainingQueries]]):
    *   - in-neighbor contributions per node fold over the
    *     `array_sort`-ed (src, rank/out_degree) list — in-degree-sized
    *     arrays, bounded in the kNN graphs this serves (≈ candidates
    *     per node), each summed left-to-right from 0.0;
    *   - dangling mass folds TWO-level so no single array is
    *     graph-sized: per node-id bucket (pmod, `danglingBuckets`)
    *     then across the bucket sums in bucket order.
    * Same shuffle shape as [[pagerank]] (one edge join + node-sized
    * aggregate per round, checkpoint-and-release state); the sorted
    * folds trade the native sum's map-side combine for per-group
    * arrays, which is the price of replayability — use [[pagerank]]
    * when tolerance-level reproducibility is enough.
    *
    * `TxLog.checkpointed` materializes the edges once
    * (`pagerank-edges`) and its budget picks the path: held on the
    * driver with integral ids, the folds replay over primitive arrays
    * ([[HeldEdges]], edges sorted once by (dst, src), `double` ranks)
    * with no further job; otherwise the distributed iteration runs. */
  def pagerankDet(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, damping: Double = 0.85,
      danglingBuckets: Int = 64): DataFrame = {
    require(iters > 0, "iters must be positive")
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    require(danglingBuckets > 0, "danglingBuckets must be positive")
    def foldSum(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val e = TxLog.checkpointed(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      "pagerank-edges")
    // DRIVER path over held integral edges: every float reduction of
    // the recipe is a FIXED-ORDER fold over sorted keys, so replaying
    // it in plain doubles gives the identical bits (pinned against the
    // distributed path by Round17Spec) with no per-iteration job.
    HeldEdges.of(e) match {
      case None =>
      case Some(g) =>
        val nn = g.nodes.length
        val n = nn.toDouble
        val outDeg = new Array[Long](nn)
        g.src.foreach(s => outDeg(s) += 1)
        // in-edges sorted ONCE by (dst, src), packed in a long: per
        // dst, array_sort(struct(src, c))'s order (c depends on src)
        val inEdges = Array.tabulate(g.src.length)(k =>
          (g.dst(k).toLong << 32) | g.src(k))
        java.util.Arrays.sort(inEdges)
        val bucket = g.nodes.map(nd =>
          java.lang.Math.floorMod(nd, danglingBuckets.toLong).toInt)
        val teleport = (1.0 - damping) / n
        val ranks = (0 until iters).foldLeft(Array.fill(nn)(1.0 / n)) {
          (rank, _) =>
            // dangling mass: per pmod bucket over id-ordered ranks, then
            // across buckets in order (an empty one adds +0.0: no change)
            val sums = new Array[Double](danglingBuckets)
            g.nodes.indices.foreach { v =>
              if (outDeg(v) == 0L) sums(bucket(v)) += rank(v)
            }
            val dangling = sums.sum // left to right
            // contribs: per dst, rank(src)/out_degree(src) left to right
            val contrib = new Array[Double](nn)
            inEdges.foreach(k =>
              contrib((k >>> 32).toInt) += rank(k.toInt) / outDeg(k.toInt))
            Array.tabulate(nn)(v =>
              teleport + damping * (contrib(v) + dangling / n))
        }
        return g.perNode(e, commonIdType(e, "src", "dst")
          .getOrElse(e.schema.head.dataType), "pagerank", DoubleType)(
          (r, v) => r.setDouble(1, ranks(v)))
    }
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))
    val n = nodes.count().toDouble
    var ranks = nodes
      .join(outDeg, Seq("node"), "left")
      .select(col("node"), lit(1.0 / n).as("rank"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"))
      .localCheckpoint(true)
    var i = 0
    while (i < iters) {
      val contribs = e
        .join(ranks, e("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(foldSum(transform(array_sort(collect_list(struct(col("src"),
          (col("rank") / col("out_degree")).as("c")))),
          s => s.getField("c"))).as("contrib"))
      val dangling = ranks.filter(col("out_degree") === 0L)
        .groupBy(pmod(col("node"), lit(danglingBuckets.toLong)).as("b"))
        .agg(foldSum(transform(array_sort(collect_list(struct(col("node"),
          col("rank").as("r")))), s => s.getField("r"))).as("bs"))
        .agg(foldSum(transform(array_sort(collect_list(struct(col("b"),
          col("bs").as("s")))), s => s.getField("s"))).as("_dangling"))
      val updated = ranks
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("_dangling") / n))
            .as("rank"),
          col("out_degree"))
        .localCheckpoint(true)
      Dedup.release(ranks)
      ranks = updated
      i += 1
    }
    TxLog.releaseCheckpoint(e)
    ranks.select(col("node"), col("rank").as("pagerank"))
  }
}
