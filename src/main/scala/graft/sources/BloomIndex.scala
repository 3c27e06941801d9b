package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file BLOOM-FILTER file skipping — the point-lookup complement
  * of min/max stats (Delta's bloom filter index / Parquet's column
  * bloom, re-expressed at the table layer so pruning happens at PLAN
  * time from a metadata-sized relation).
  *
  * Min/max skipping is blind exactly where lookups are most common:
  * a high-cardinality key (doc_id, content_hash, user_id) that is
  * NOT the layout column has every-file-spans-everything stats, so a
  * point probe plans the whole table. A per-file bloom (~1.25 bytes
  * per key at the default 10 bits/key, fpp ≈ 1%) answers "could this
  * file hold key = v?" from the index alone: the files that
  * might-contain are planned, the rest are skipped, and the result
  * is EXACT because bloom filters have no false negatives — pruning
  * only ever shrinks the file list, the query's own filter still
  * applies inside kept files.
  *
  * Index layout: one parquet relation under `<table>/_graft_bloomidx`
  * with a row per (file, column): the file's basename, the column,
  * its catalog dtype (probes cast through it so build-hash and
  * probe-hash agree), and the serialized filter
  * (`bloom_agg(xxhash64(col))` — Spark's own distributed bloom
  * aggregate; partials merge map-side, nothing data-sized reaches
  * the driver). Underscore-prefixed, so plain `spark.read.parquet`,
  * TxLog vacuum, and convertInPlace all ignore it.
  *
  * Probing is DISTRIBUTED: the index relation is scanned with the
  * codegen'd `bloom_probe` expression (file-count-sized job), and
  * only the surviving file NAMES (not filters) reach the driver. At
  * 10⁶ files the index is a few GB scanned in parallel, while
  * collecting the filters to the driver would not scale.
  *
  * Staleness contract: the index is advisory. Files NOT in the index (appended or DML-rewritten after
  * the build) are conservatively KEPT; index rows for dead files are
  * ignored (the probe intersects with the LIVE file list). Rebuild
  * with [[write]] after maintenance to restore full pruning.
  */
object BloomIndex {

  val IndexDir = "_graft_bloomidx"

  /** Default bits per distinct key (~1% false-positive rate). */
  val BitsPerKey = 10L

  private def indexPath(dir: String) = new Path(dir, IndexDir)

  private def liveFilesAndData(spark: SparkSession, dir: String)
      : (Seq[String], DataFrame) =
    if (TxLog.isLogged(spark, dir)) {
      val snap = TxLog.snapshot(spark, dir)
      (snap.files.map(_.path), TxLog.read(spark, dir))
    } else {
      val df = spark.read.parquet(dir)
      (df.inputFiles.toSeq.map(_.split('/').last), df)
    }

  /** Build (or rebuild) the bloom index for `cols` over the CURRENT
    * live files — one distributed pass: per-file row counts size the
    * filters, one `groupBy(input_file_name)` builds every column's
    * filter, and the unpivoted (file, col, dtype, bloom) relation
    * overwrites the index dir. */
  def write(spark: SparkSession, dir: String, cols: Seq[String],
      bitsPerKey: Long = BitsPerKey): Unit = {
    require(cols.nonEmpty, "BloomIndex: no columns to index")
    graft.functions.GraftFunctions.register(spark)
    val (_, df) = liveFilesAndData(spark, dir)
    val dtypes = df.schema.fields
      .map(f => f.name -> f.dataType.catalogString).toMap
    cols.foreach(c => require(dtypes.contains(c),
      s"BloomIndex: no column '$c' under $dir"))
    // size every file's filter by the LARGEST file (one literal for
    // the foldable bloom_agg sizing args), capped at 2^27 bits (16 MB
    // per filter) — beyond that, split files, not filters
    val maxRows = df.groupBy(input_file_name()).count()
      .agg(max("count")).head().getLong(0)
    val numBits = math.min(math.max(64L, maxRows * bitsPerKey), 1L << 27)
    val aggs = cols.map(c => expr(
      s"bloom_agg(xxhash64($c), ${maxRows}L, ${numBits}L)").as(s"_b_$c"))
    val perFile = df
      .select((input_file_name().as("_file") +: cols.map(col)): _*)
      .groupBy(col("_file"))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', _b_$c").mkString(", ")
    val idx = perFile.select(Seq(
        element_at(split(col("_file"), "/"), -1).as("file"),
        expr(s"stack(${cols.size}, $stackArgs)")
          .as(Seq("col_name", "bloom"))): _*)
      .withColumn("dtype",
        element_at(
          map(cols.flatMap(c => Seq(lit(c), lit(dtypes(c)))): _*),
          col("col_name")))
    // stage-and-swap into the underscore dir (readers of the OLD
    // index see it whole until the swap)
    val staged = new Path(dir, s"${IndexDir}_staging")
    idx.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    val f = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(indexPath(dir), true)
    if (!f.rename(staged, indexPath(dir)))
      throw new IllegalStateException(
        s"BloomIndex: could not move staged index into place under $dir")
  }

  /** Incremental index maintenance: build filters ONLY for live files
    * the index doesn't cover (appends, DML rewrites, compactions
    * since the last build) and drop rows for dead files — the
    * delta-sized complement of [[write]]'s full rebuild. The indexed
    * column set and per-file sizing are inherited from the existing
    * index (missing index → this IS [[write]], which needs `cols`).
    * Cost: a scan of just the uncovered files + a rewrite of the
    * KB-per-file index relation — at 10⁶ files, appending a day's
    * files costs a day's scan, not the table's. Returns the number of
    * files indexed this pass. */
  def refresh(spark: SparkSession, dir: String): Int = {
    require(exists(spark, dir),
      s"BloomIndex: nothing to refresh under $dir — build with write()")
    graft.functions.GraftFunctions.register(spark)
    val (live, _) = liveFilesAndData(spark, dir)
    val idx = spark.read.parquet(indexPath(dir).toString)
      .localCheckpoint() // the swap below deletes what we read
    val covered = idx.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val liveSet = live.toSet
    val missing = live.filterNot(covered)
    val keptIdx = idx.filter(col("file").isin(liveSet.toSeq: _*))
    if (missing.isEmpty) {
      if (covered.forall(liveSet)) return 0 // nothing to add or drop
    }
    val cols = idx.select("col_name", "dtype").distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    val delta: Option[DataFrame] = if (missing.isEmpty) None else {
      val df = spark.read.parquet(missing.map(f => s"$dir/$f"): _*)
      val maxRows = df.groupBy(input_file_name()).count()
        .agg(max("count")).head().getLong(0)
      val numBits =
        math.min(math.max(64L, maxRows * BitsPerKey), 1L << 27)
      val aggs = cols.map { case (c, _) => expr(
        s"bloom_agg(xxhash64($c), ${maxRows}L, ${numBits}L)")
        .as(s"_b_$c") }
      val perFile = df
        .select((input_file_name().as("_file") +:
          cols.map(c => col(c._1))): _*)
        .groupBy(col("_file"))
        .agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map { case (c, _) => s"'$c', _b_$c" }
        .mkString(", ")
      Some(perFile.select(Seq(
          element_at(split(col("_file"), "/"), -1).as("file"),
          expr(s"stack(${cols.size}, $stackArgs)")
            .as(Seq("col_name", "bloom"))): _*)
        .withColumn("dtype", element_at(
          map(cols.flatMap { case (c, dt) => Seq(lit(c), lit(dt)) }: _*),
          col("col_name"))))
    }
    val merged = delta.fold(keptIdx)(d =>
      keptIdx.unionByName(d.select(keptIdx.columns.map(col).toSeq: _*)))
    val staged = new Path(dir, s"${IndexDir}_staging")
    merged.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    val f = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(indexPath(dir), true)
    if (!f.rename(staged, indexPath(dir)))
      throw new IllegalStateException(
        s"BloomIndex: could not move staged index into place under $dir")
    missing.size
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = indexPath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The live files a `colName = value` point probe must plan:
    * indexed files whose filter might contain the probe, plus
    * (conservatively) every live file the index doesn't cover.
    * Returns (kept, totalLive). */
  def prunedFiles(spark: SparkSession, dir: String, colName: String,
      value: Any): (Seq[String], Int) = {
    val (live, _) = liveFilesAndData(spark, dir)
    if (!exists(spark, dir)) return (live, live.size)
    graft.functions.GraftFunctions.register(spark)
    val forCol = spark.read.parquet(indexPath(dir).toString)
      .filter(col("col_name") === colName)
    val dtypeRow = forCol.select("dtype").limit(1).collect()
    if (dtypeRow.isEmpty) return (live, live.size) // column not indexed
    val dt = dtypeRow.head.getString(0)
    // hash the probe literal ON THE DRIVER — a spark.range(1) job for
    // one xxhash64 of one value is a whole job of pure scheduling
    // overhead per probe. Catalyst's Cast+XxHash64 eval'd against the
    // empty row is the same expression the build side ran distributed.
    val hash = {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal,
        XxHash64}
      val casted = Cast(Literal(value),
        org.apache.spark.sql.types.DataType.fromDDL(dt), Some("UTC"))
      new XxHash64(Seq(casted))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
    }
    // distributed membership test over the file-count-sized index;
    // only surviving NAMES come back
    val verdicts = forCol
      .select(col("file"),
        expr(s"bloom_probe(bloom, ${hash}L)").as("maybe"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val kept = live.filter(f => verdicts.getOrElse(f, true))
    (kept, live.size)
  }

  /** Bloom-pruned point read: the dataset restricted to files that
    * might hold `colName = value`. The predicate is NOT applied —
    * callers filter as usual (exactness: no false negatives). */
  def prunedRead(spark: SparkSession, dir: String, colName: String,
      value: Any): DataFrame =
    readFiles(spark, dir, prunedFiles(spark, dir, colName, value)._1)

  /** Read exactly `kept` files of the dataset — the second half of
    * [[prunedRead]], exposed so a caller that already ran
    * [[prunedFiles]] (e.g. to assert pruning) does not probe the
    * index twice per lookup. */
  def readFiles(spark: SparkSession, dir: String, kept: Seq[String])
      : DataFrame = {
    val schema =
      if (TxLog.isLogged(spark, dir))
        org.apache.spark.sql.types.DataType
          .fromJson(TxLog.snapshot(spark, dir).schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      else spark.read.parquet(dir).schema
    if (kept.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema)
    else spark.read.schema(schema)
      .parquet(kept.map(f => s"$dir/$f"): _*)
  }
}
