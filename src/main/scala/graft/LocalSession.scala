package graft

import org.apache.spark.sql.SparkSession

/** The one local session configuration every harness main (Verify,
  * Bench, ScaleBench, ExplainTool) runs under: `local[N]` with N shuffle partitions
  * (N = SPARK_GRAFT_CPUS, default 32), UTC, UI off — kept in a single
  * place so the correctness gate and both benchmarks can never drift
  * onto different configs.
  */
object LocalSession {
  def build(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
