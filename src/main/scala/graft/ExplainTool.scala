package graft

/** Plan inspection: `ExplainTool [sfDir] [pattern ...]` prints the
  * formatted physical plan and wall time for each query the name
  * patterns select (`SparkEntry.select`: all queries if none given).
  * Used to keep plans honest — pushdown reaching the scan, broadcasts
  * where expected, no stray shuffles.
  */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = SparkEntry.select(args.drop(1).toSeq)
    val spark = LocalSession.build("ExplainTool")
    names.foreach { name =>
      // time from query construction: iterative operators (e.g. the
      // cluster propagation) do eager work while BUILDING the DataFrame
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      // drive THIS DataFrame's own QueryExecution: df.count() would
      // execute a separate groupBy().count() QueryExecution and leave
      // df's AdaptiveSparkPlanExec untriggered (isFinalPlan=false), so
      // the block below would show the pre-AQE plan and none of the
      // decisions it claims to show
      val n = df.queryExecution.executedPlan.execute().count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s (incl. build + explain)")
      // the FINAL adaptive plan (post-execution): shows what AQE actually
      // did — broadcast conversions, skew splits, and whether identical
      // shuffle subtrees were stage-reused (look for table-cache/reused
      // markers); the static plan above can't show any of that
      println("-- final adaptive plan --")
      println(df.queryExecution.executedPlan.toString.linesIterator
        .take(60).mkString("\n"))
    }
    spark.stop()
  }
}
