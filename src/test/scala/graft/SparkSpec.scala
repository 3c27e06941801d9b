package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog", "graft.sources.GraftCatalog")
      .config(Tables.NanosConf, "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** Registers test `name`, and `name` again with every
    * `TxLog.checkpointed` relation left distributed (zero held budget)
    * — the form a relation past the budget takes — so a model check
    * covers both. */
  def testBothForms(name: String)(body: => Any): Unit = {
    test(name)(body)
    test(s"$name (zero held budget)")(
      graft.sources.TxLog.HeldBudget.withValue(0L)(body))
  }

  /** `body`'s result and the messages the named logger logs at INFO
    * or above while it runs (the session itself logs at WARN). */
  def infoLines[T](logger: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("infoLines", null, null, true,
        Array.empty[Property]) {
      override def append(e: LogEvent): Unit = {
        lines.add(e.getMessage.getFormattedMessage)
        ()
      }
    }
    app.start()
    val lg = LogManager.getLogger(logger).asInstanceOf[Logger]
    val prev = lg.getLevel
    lg.addAppender(app)
    lg.setLevel(Level.INFO)
    try {
      val r = body
      (r, lines.toArray.map(_.toString).toSeq)
    } finally {
      lg.removeAppender(app)
      lg.setLevel(prev)
      app.stop()
    }
  }

  /** `body`'s result and the description (`prefix:label`, or "") of
    * every Spark job it launched. */
  def jobDescriptions[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    org.apache.spark.GraftSparkAccess.waitUntilListenerBusEmpty(sc, 30000)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftSparkAccess.waitUntilListenerBusEmpty(sc, 30000)
      (r, seen.toArray.map(_.toString).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `body` run with `TxLog.HeldBudget` at `budget` bytes: its result,
    * the one `txlog materialize <label>:` line it logged, and the
    * descriptions of the jobs it launched. */
  def underBudget[T](budget: Long, label: String)(
      body: => T): (T, String, Seq[String]) = {
    val ((r, jobs), lines) = infoLines("graft.sources.TxLog")(
      graft.sources.TxLog.HeldBudget.withValue(budget)(jobDescriptions(body)))
    val Seq(line) = lines.filter(_.startsWith(s"txlog materialize $label:"))
    (r, line, jobs)
  }

  /** The bytes a `txlog materialize` line measured. */
  def measuredBytes(line: String): Long =
    "bytes=(\\d+)".r.findFirstMatchIn(line).get.group(1).toLong
}
