package graft

import org.apache.spark.sql.SparkSession

/** Shared test session: one per test JVM, never stopped mid-run —
  * the engine's own [[GraftSession]] at local[4]. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("local[4]")
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  def init(): SparkSession = { spark.sparkContext.setLogLevel("WARN"); spark }

  /** `f`'s result and the number of Spark jobs started while it ran.
    * A marker job run afterwards flushes the listener bus: it delivers
    * events in order, so once the marker's start arrives every job of
    * `f` has been counted. */
  def countJobs[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "graft.spec.jobMarker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null)) flushed.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not flush")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
