package graft

import org.apache.spark.sql.SparkSession

/** One lazily-created local session shared by every suite in the JVM
  * (Test / fork := true, so it dies with the test JVM).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // drift witness for graft.Bench: benches taken soon after a test
    // suite run are page-cache-churn inflated, and the bench records the
    // age of this marker so the regime is visible in the artifact
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/graft_last_suite_run"),
      java.time.Instant.now.toString)
    catch { case _: Throwable => () }
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started while `run` runs, counted by a listener on the
    * shared context (suites run one at a time in the forked test JVM).
    */
  def jobsOf(run: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      // listenerBus is private[spark] — the same reflective drain the
      // bench uses, degrading to a bounded sleep
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(500L) }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}
