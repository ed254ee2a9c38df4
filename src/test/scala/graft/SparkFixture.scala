package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for specs. getOrCreate is shared across all
  * suites in the forked test JVM; never stopped mid-run. */
trait SparkFixture { self: Suite =>
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sources.GraftExtensions)
      .getOrCreate()
    Engine.tune(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s value with the Spark jobs started while it ran, and how
    * many of those failed. The listener bus is drained on both sides,
    * so earlier jobs' late events are not miscounted. */
  def jobsDuring[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val failed = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult != JobSucceeded) failed.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
      (out, started.get, failed.get)
    } finally sc.removeSparkListener(listener)
  }
}
