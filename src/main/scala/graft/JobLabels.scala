package graft

import org.apache.spark.sql.SparkSession

/** Spark job descriptions for graft's own phases, `prefix:label`
  * (`txlog:stage-write`, `dedup:components-edges`, …) — what profilers,
  * listeners and the UI attribute jobs by. */
private[graft] object JobLabels {

  /** Label the Spark jobs `f` launches `prefix:label`; restores the
    * caller's description (thread-local) on exit. Zero data-path
    * effect. */
  def described[A](spark: SparkSession, prefix: String, label: String)
      (f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$prefix:$label")
    try f finally sc.setJobDescription(prev)
  }
}
