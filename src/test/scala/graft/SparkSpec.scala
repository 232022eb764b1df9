package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM-wide
  * session keeps the test run fast; Test/fork is on).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(
      "spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toFile.getAbsolutePath,
    )
    .getOrCreate()

  val Sf = "/root/testdata/sf0.001"

  /** The Spark jobs `run` starts, counted by a listener over a drained
    * listener bus.
    */
  def jobsOf(run: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
