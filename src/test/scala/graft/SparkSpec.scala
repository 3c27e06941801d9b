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
}
