package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession reused by every suite
  * (getOrCreate in the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `f`'s result and the number of Spark jobs started while it ran.
    * Listener events arrive asynchronously but in order, so the count is
    * taken between two marked one-task sentinel jobs, one before and one
    * after `f`. */
  def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def sentinel(): String = {
      val mark = s"sentinel-${java.util.UUID.randomUUID}"
      sc.setJobGroup(mark, "job count sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      mark
    }
    def jobsUntil(mark: String): Int = {
      var n = 0
      var g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != mark) {
        assert(g != null, s"sentinel job $mark never reached the listener")
        n += 1
        g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      jobsUntil(sentinel())
      val out = f
      (out, jobsUntil(sentinel()))
    } finally sc.removeSparkListener(listener)
  }
}
