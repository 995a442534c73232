package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session — see
  * spark_guide: one SparkSession per suite via lazy val). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `body`'s result and the call site of every Spark job it submitted,
    * counted by a listener's `onJobStart` (the listener bus is drained
    * before and after, so no job is missed or borrowed). */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse(s"job ${e.jobId}"))
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain(sc)
      (r, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and every stage it ran, as the listener saw each
    * one complete. A stage an earlier job already ran is skipped, never
    * completed, so it is not counted again. Drained like [[jobsDuring]]. */
  def stagesDuring[T](body: => T)
      : (T, Seq[org.apache.spark.scheduler.StageInfo]) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val stages = new java.util.concurrent
      .ConcurrentLinkedQueue[org.apache.spark.scheduler.StageInfo]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain(sc)
      (r, stages.toArray(Array.empty[org.apache.spark.scheduler.StageInfo])
        .toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
