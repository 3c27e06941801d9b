package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every table is a pure function of the
  * workload seed: large tables are Spark projections of hashed row ids
  * (parallel, no driver memory), small ones (change batches, the text
  * corpus) come from a driver-side SplittableRandom. */
object Gen {
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")

  /** Uniform integer in [0, m) from the hash of (row id, seed, salt). */
  private def h(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))

  private def pick(xs: Seq[String], c: Column): Column =
    element_at(array(xs.map(lit): _*), (c + 1).cast("int"))

  private def cents(c: Column): Column = (c / 100).cast("decimal(12,2)")

  /** TPC-H-shaped orders with keys `firstKey until firstKey + n`. */
  def orders(spark: SparkSession, firstKey: Long, n: Long, nCust: Long,
      seed: Long): DataFrame =
    spark.range(firstKey, firstKey + n).select(
      col("id").as("o_orderkey"),
      (h(seed, 1, nCust) + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), h(seed, 2, 3)).as("o_orderstatus"),
      cents(h(seed, 3, 50000000L) + 100).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), h(seed, 4, 2400).cast("int"))
        .as("o_orderdate"),
      pick(Priorities, h(seed, 5, 5)).as("o_orderpriority"),
      concat(lit("Clerk#"), lpad((h(seed, 6, 1000) + 1).cast("string"), 9,
        "0")).as("o_clerk"),
      lit(0).as("o_shippriority"),
      concat(lit("c"), hex(h(seed, 7, 1L << 40))).as("o_comment"))

  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: java.math.BigDecimal,
      o_orderdate: java.sql.Date, o_orderpriority: String, o_clerk: String,
      o_shippriority: Int, o_comment: String)

  /** One change batch against the live key set of the silver table. */
  final case class Batch(rows: Seq[Order], erase: Seq[Long], updates: Int,
      inserts: Int, violations: Int)

  /** Live keys of the ETL silver table, in insertion order, so that
    * "recent" means a high index. */
  final class KeySpace(initial: Long) {
    val keys: ArrayBuffer[Long] = ArrayBuffer.range(1L, initial + 1)
    val dead = mutable.HashSet[Long]()
    var next: Long = initial + 1
    def live: Long = keys.size - dead.size
  }

  private def randomOrder(r: SplittableRandom, key: Long, batch: Int,
      nCust: Long): Order =
    Order(key, 1 + r.nextLong(nCust), Seq("F", "O", "P")(r.nextInt(3)),
      java.math.BigDecimal.valueOf(100 + r.nextLong(50000000L), 2),
      java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1)
        .plusDays(r.nextInt(2400))),
      Priorities(r.nextInt(5)), f"Clerk#${1 + r.nextInt(1000)}%09d", 0,
      s"b$batch-${r.nextLong(1L << 40).toHexString}")

  /** A batch of `size` rows: `updateShare` updates of live keys drawn
    * with a cubic skew toward recent keys, the rest inserts of new keys;
    * `violationShare` of the rows carry a negative customer key (they
    * fail the DQ003 rule and are quarantined); `eraseShare` × size live
    * keys the batch does not touch are erased afterwards. Advances the
    * key space as the pipeline will. */
  def batch(ks: KeySpace, b: Int, size: Int, seed: Long, nCust: Long,
      updateShare: Double = 0.65, violationShare: Double = 0.03,
      eraseShare: Double = 0.06): Batch = {
    val r = new SplittableRandom(seed * 1000003L + b)
    val nUpd = (size * updateShare).toInt
    val touched = mutable.LinkedHashSet[Long]()
    while (touched.size < nUpd) {
      val u = r.nextDouble()
      val k = ks.keys(ks.keys.size - 1 - (ks.keys.size * u * u * u).toInt)
      if (!ks.dead(k)) touched += k
    }
    val inserted = (0 until size - nUpd).map(i => ks.next + i)
    ks.next += inserted.size
    val all = touched.toSeq ++ inserted
    val nBad = (size * violationShare).toInt
    val bad = mutable.HashSet[Long]()
    while (bad.size < nBad) bad += all(r.nextInt(all.size))
    val rows = all.map { k =>
      val o = randomOrder(r, k, b, nCust)
      if (bad(k)) o.copy(o_custkey = -o.o_custkey) else o
    }
    val nErase = (size * eraseShare).toInt
    val erase = mutable.LinkedHashSet[Long]()
    while (erase.size < nErase) {
      val k = ks.keys(r.nextInt(ks.keys.size))
      if (!ks.dead(k) && !touched(k)) erase += k
    }
    ks.keys ++= inserted.filterNot(bad)
    ks.dead ++= erase
    Batch(rows, erase.toSeq, nUpd, size - nUpd, nBad)
  }

  // ---- text corpus ------------------------------------------------------

  final case class Doc(doc_id: Long, text: String)
  final case class Corpus(docs: Seq[Doc], originals: Int, exactCopies: Int,
      nearDups: Int, boilerplate: Int, vocab: IndexedSeq[String])

  private def word(r: SplittableRandom): String = {
    val len = 3 + r.nextInt(7)
    (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  /** A corpus of `originals` documents of 60–140 words drawn from a
    * Zipf-skewed synthetic vocabulary (plus the stopwords the quality
    * scorer counts), then planted: exact copies (case and whitespace
    * changes only, which the dedup normalization removes), near
    * duplicates (`editWords` word substitutions of an original) and
    * boilerplate pages (a repeated template that the Gopher repetition
    * rules drop). Planted documents get ids above every original. */
  def corpus(seed: Long, originals: Int, exactShare: Double,
      nearShare: Double, boilerShare: Double, editWords: Int = 3)
      : Corpus = {
    val r = new SplittableRandom(seed * 7919L + 17)
    val vocab = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < 4000) seen += word(r)
      seen.toIndexedSeq
    }
    val stop = graft.operators.TextOps.stopwords.toIndexedSeq
    def nextWord(): String =
      if (r.nextInt(4) == 0) stop(r.nextInt(stop.size))
      else {
        // Zipf-like: the rank is a power of a uniform draw
        val u = r.nextDouble()
        vocab(math.min(vocab.size - 1, (vocab.size * u * u).toInt))
      }
    def body(n: Int): Array[String] = Array.fill(n)(nextWord())
    val orig = (0 until originals).map(_ => body(60 + r.nextInt(81)))
    var id = 0L
    val docs = ArrayBuffer[Doc]()
    orig.foreach { w => id += 1; docs += Doc(id, w.mkString(" ")) }
    val nExact = (originals * exactShare).toInt
    (0 until nExact).foreach { _ =>
      val w = orig(r.nextInt(originals))
      // capitalized first word, one doubled space, trailing space
      val t = (w.head.capitalize +: w.tail).mkString(" ")
        .replaceFirst(" ", "  ") + " "
      id += 1; docs += Doc(id, t)
    }
    val nNear = (originals * nearShare).toInt
    (0 until nNear).foreach { _ =>
      val w = orig(r.nextInt(originals)).clone()
      (0 until editWords).foreach(_ => w(r.nextInt(w.length)) = vocab(
        vocab.size / 2 + r.nextInt(vocab.size / 2)))
      id += 1; docs += Doc(id, w.mkString(" "))
    }
    val nBoiler = (originals * boilerShare).toInt
    (0 until nBoiler).foreach { _ =>
      val reps = 12 + r.nextInt(8)
      val t = (0 until reps).map(_ =>
        s"click here to subscribe ${vocab(r.nextInt(vocab.size))}")
        .mkString(" ")
      id += 1; docs += Doc(id, t)
    }
    Corpus(docs.toSeq, originals, nExact, nNear, nBoiler, vocab)
  }
}
