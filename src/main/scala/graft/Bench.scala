package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local-iteration subset (SPARK_GRAFT_BENCH_ONLY=q16,q162); unset,
    // the per-round artifact stays the full suite. A typo'd pattern
    // aborts before the cooldown and the session
    val selected = SparkEntry.select(
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").toSeq.flatMap(_.split(",")))
    // drift witnesses, recorded so a round's headline number carries its
    // own measurement conditions: benches taken right after the test
    // suite (page-cache churn) or under concurrent load read 10-25% slow
    // with NO plan change — rounds kept re-litigating those artifacts
    def loadAvgNow(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // SparkTestSession touches this marker whenever a suite JVM starts;
    // a small age here means the bench is in the post-suite regime
    def secsSinceSuiteNow(): Long = {
      val marker = java.nio.file.Paths.get("/tmp/graft_last_suite_run")
      if (java.nio.file.Files.exists(marker))
        (System.currentTimeMillis() -
          java.nio.file.Files.getLastModifiedTime(marker).toMillis) / 1000
      else -1L
    }
    // Thresholds: load_avg > 1.5 (concurrent work) or a suite JVM within
    // the last 600 s (page-cache churn) mark the regime "loaded".
    def regimeNow(la: Double, sss: Long): String =
      if (la > 1.5 || (sss >= 0 && sss < 600)) "loaded" else "clean"
    // Regime GATE, not just a stamp (round-8 verdict item 1): the round's
    // gate artifact was a load_avg-5.64 run while a clean run existed on
    // the same code. Rather than record a number known to be inflated,
    // sleep-retry until the machine is clean, bounded so a permanently
    // busy box still produces an artifact (stamped loaded + its attempt
    // history) instead of hanging the driver. 10 × 60 s covers the
    // post-suite cooldown (600 s) exactly and most transient load.
    val maxWaits = sys.env.get("SPARK_GRAFT_BENCH_MAX_WAITS")
      .map(_.toInt).getOrElse(10)
    val attempts = scala.collection.mutable.ListBuffer.empty[String]
    var loadAvg = loadAvgNow()
    var secsSinceSuite = secsSinceSuiteNow()
    var waits = 0
    while (regimeNow(loadAvg, secsSinceSuite) == "loaded" && waits < maxWaits) {
      attempts += f"""{"load_avg":$loadAvg%.2f,"secs_since_test_suite":$secsSinceSuite}"""
      System.err.println(f"[bench] loaded regime (load_avg=$loadAvg%.2f, " +
        s"secs_since_suite=$secsSinceSuite) — cooling down 60 s " +
        s"(${waits + 1}/$maxWaits)")
      Thread.sleep(60000L)
      waits += 1
      loadAvg = loadAvgNow()
      secsSinceSuite = secsSinceSuiteNow()
    }
    val regime = regimeNow(loadAvg, secsSinceSuite)
    if (regime == "loaded")
      System.err.println(s"[bench] WARNING: still loaded after $waits " +
        f"cooldowns (load_avg=$loadAvg%.2f, secs_since_suite=" +
        s"$secsSinceSuite) — compare against BASELINE.md's clean table " +
        "with care")
    val spark = LocalSession.build()
    // Materialize through the noop sink: every column of every row is
    // computed and serialized, unlike count(), under which Catalyst prunes
    // all projections and a select-only query degenerates to a parquet
    // row count (round-2 verdict: q21-q24/q32/q33/q48 timed ~nothing).
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Untimed warmup: JIT the parquet reader + codegen paths once so the
    // first timed query doesn't absorb JVM startup; measures the engine,
    // not the cold JVM.
    try materialize(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    // memo builds the warmup ran are not charged to any timed query:
    // memo_builds emits only the log entries appended after this mark
    val warmupBuilds = graft.ops.Memo.buildLog.size
    // a failing query must be VISIBLE in the output, not silently timed
    // as ~0 s (which would shrink the total and flatter the engine)
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // committed-baseline per-query times, read from the PREVIOUS
    // BENCH_FULL.json BEFORE this run overwrites it (on the driver's
    // clean checkout that file IS the committed baseline). Parsed with a
    // regex over our own one-line format — no JSON dependency.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_FULL.json")
    val baselineTxt =
      try java.nio.file.Files.readString(java.nio.file.Paths.get(outPath))
      catch { case _: Throwable => "" }
    val baseline: Map[String, Double] = {
      val qsPart = baselineTxt.drop(
        math.max(0, baselineTxt.indexOf("\"queries\":")))
      """"(q[0-9]+[a-z0-9_]*)":(-?[0-9]+\.[0-9]+)""".r
        .findAllMatchIn(qsPart)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    // committed-baseline shuffle bytes (round-11+ artifacts carry them):
    // the object is integer-valued, so scope the regex to its braces
    val baselineShuffle: Map[String, Long] = {
      val i = baselineTxt.indexOf("\"shuffle_bytes\":{")
      if (i < 0) Map.empty
      else {
        val body = baselineTxt.substring(i,
          math.max(i, baselineTxt.indexOf("}", i) + 1))
        """"(q[0-9]+[a-z0-9_]*)":(-?[0-9]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
      }
    }
    // Plan metrics per query (round-10 verdict #7): wall time drifts
    // with the machine (±5-10% per round, re-litigated every verdict);
    // shuffle bytes written and rows scanned are properties of the PLAN
    // and don't. A QueryExecutionListener walks every completed
    // execution's physical plan — including the eager driver-steering
    // collects a query runs while BUILDING its plan (Lloyd rounds,
    // centroid seeds), which are honestly part of that query's cost —
    // and accumulates both counters; timeOne diffs them around the run.
    val mShuffle = new java.util.concurrent.atomic.AtomicLong
    val mScan = new java.util.concurrent.atomic.AtomicLong
    // driver-local / checkpointed-RDD scans, counted SEPARATELY (round-11
    // ADVICE): excluding them from scan_rows keeps that metric a corpus-
    // scan readout, but a query whose plan is an ExistingRDD scan (e.g. a
    // materialized index) would otherwise read ~0 and hide a regression
    // that re-inflates its local re-scanning
    val mLocalScan = new java.util.concurrent.atomic.AtomicLong
    def walkPlan(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walkPlan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walkPlan(q.plan)
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        () // shares the original exchange's metrics — counting = double
      case n =>
        // v1 file scans are "Scan parquet ...", DSv2 are "BatchScan ..."
        // — a silent 0 under a v2 source would read as a massive plan
        // change against a v1-captured baseline. "Scan ExistingRDD"
        // (driver-local datasets) is deliberately NOT corpus scanning.
        if ((n.nodeName.startsWith("Scan") &&
             !n.nodeName.startsWith("Scan ExistingRDD")) ||
            n.nodeName.startsWith("BatchScan"))
          n.metrics.get("numOutputRows").foreach(m => mScan.addAndGet(m.value))
        // InMemoryTableScan counts here too: the Memo-persisted index
        // frames (q280/q295 IVF-PQ, the shared edge index) plan as
        // in-memory scans, and a regression re-inflating their re-reads
        // must be visible somewhere (round-12 review finding)
        if (n.nodeName.startsWith("Scan ExistingRDD") ||
            n.nodeName.startsWith("InMemoryTableScan"))
          n.metrics.get("numOutputRows")
            .foreach(m => mLocalScan.addAndGet(m.value))
        n.metrics.get("shuffleBytesWritten")
          .foreach(m => mShuffle.addAndGet(m.value))
        n.children.foreach(walkPlan)
        n.subqueries.foreach(walkPlan)
    }
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          try walkPlan(qe.executedPlan) catch { case _: Throwable => () }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    // the execution listener rides the async shared listener bus, so the
    // counters lag the write() return by a bus dispatch; waitUntilEmpty
    // is private[spark] (= public in bytecode) — reflection, with a
    // bounded sleep fallback so a signature change degrades to slightly
    // coarser attribution instead of a crash
    def drainListeners(): Unit =
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        catch { case _: NoSuchMethodException =>
          bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
            .invoke(bus, java.lang.Long.valueOf(10000L))
        }
      } catch { case _: Throwable => Thread.sleep(200L) }
    val qMetrics = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    // the CURRENT invocation's plan-metric deltas, retry passes
    // included (qMetrics keeps first-pass only): the spike-retry memo
    // gate below compares a retry's counters against the first pass's
    var lastDeltas: (Long, Long, Long) = (-1L, -1L, -1L)
    // memo builds recorded during the current invocation (same split:
    // lastBuilds = this pass, qBuilds = first pass). Eager memo builds
    // run as RDD-level checkpoint jobs the QueryExecutionListener never
    // sees, so the scan counters alone cannot flag a memo-riding retry
    // — the build log can, exactly.
    var lastBuilds = 0
    val qBuilds = scala.collection.mutable.Map.empty[String, Int]
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      drainListeners()
      // memo-build attribution (round-13 verdict #2): shared-table
      // builds record (table, secs, charged_to=this query) so the
      // order-dependent per-query numbers of memoized families are
      // explainable from the artifact
      graft.ops.Memo.currentConsumer = name
      val builds0 = graft.ops.Memo.buildLog.size
      val shuf0 = mShuffle.get; val scan0 = mScan.get
      val lscan0 = mLocalScan.get
      val t0 = System.nanoTime()
      val ok =
        try { materialize(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          errors += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      graft.ops.Memo.currentConsumer = ""
      drainListeners()
      // FIRST-pass metrics only: a spike retry rides the session's memo
      // caches (kmv sketch tables, spectral moments), so its shuffle
      // bytes are cache-hit-shaped and retry occurrence is
      // machine-dependent — letting it overwrite made the plan-drift
      // gate flag phantom "drift" on whichever queries happened to
      // retry in either run
      // a failed query's partial counters are not plan metrics: record
      // the -1 sentinel (the getOrElse(-1L) / `base >= 0 && cur >= 0`
      // convention downstream) so neither the artifact nor the
      // plan-drift gate treats a failure's truncated bytes as a plan
      lastDeltas =
        if (ok) (mShuffle.get - shuf0, mScan.get - scan0,
          mLocalScan.get - lscan0)
        else (-1L, -1L, -1L)
      lastBuilds = graft.ops.Memo.buildLog.size - builds0
      if (!qMetrics.contains(name)) {
        qMetrics(name) = lastDeltas
        qBuilds(name) = lastBuilds
      }
      // a failed query reports -1 and contributes NOTHING to the total:
      // its time-to-exception is not a measurement, and summing it would
      // let a broken build pass the 2x gate on a shrunken total
      if (ok) secs else -1.0
    }
    val firstPass = selected.map(name =>
      name -> timeOne(name, SparkEntry.queries(name)))
    // Per-query spike re-check (round-9 verdict #1): the regime gate
    // reads load_avg but not page-cache/JIT state, so a clean-stamped
    // artifact could still embed a one-off 2.7x spike on exactly the
    // heaviest queries (q148/q215 in BENCH_r09). Any query measuring
    // > 2x its committed baseline (and at least 1 s over it — sub-second
    // doublings are noise, not spikes) is re-run once AFTER the full
    // pass, BOTH measurements land in the artifact under
    // "spike_retries", and the smaller one (same code, same data — the
    // repeatable cost) becomes the query's reported time. A true
    // regression stays visible: its retry also exceeds 2x and the
    // reported time remains high, now provably not a one-off.
    val spikes = firstPass.filter { case (name, t) =>
      t > 0 && baseline.get(name).exists(b => b > 0 && t > 2 * b && t - b > 1.0)
    }
    // a spiked query has a VALID first-pass time (spikes filter t > 0),
    // so a retry that itself throws must not land in the shared `errors`
    // buffer — the artifact would report the query both errored and
    // positively timed (and a name could appear twice). Retry failures
    // are split into their own list; the retry shows as retry:-1 in
    // spike_retries and the query keeps its first-pass measurement.
    val nFirstPassErrors = errors.size
    // retry × memo interaction (round-13 verdict #1): a retry of a
    // memo-BUILDING query rides the session memos its first pass
    // populated, so min(first, retry) would silently delete the build
    // cost from the total. The memo build log is the exact witness
    // (scan counters can't be: eager builds run as RDD checkpoint jobs
    // the QueryExecutionListener never sees): a first pass that
    // recorded MORE memo builds than its retry built tables the retry
    // then rode, so the query keeps its FIRST-pass time; both
    // measurements and the flag land in spike_retries either way.
    // Machine-spike retries of non-building queries record zero builds
    // in both passes and keep the min() rule.
    val retried: Map[String, (Double, Boolean)] = spikes.map { case (name, _) =>
      System.err.println(f"[bench] $name exceeded 2x committed baseline " +
        f"(${baseline(name)}%.3f s) — re-running once")
      val r = timeOne(name, SparkEntry.queries(name))
      val memoHit = r >= 0 && qBuilds.getOrElse(name, 0) > lastBuilds
      name -> (r, memoHit)
    }.toMap
    val retryErrors = errors.drop(nFirstPassErrors).toList
    errors.remove(nFirstPassErrors, errors.size - nFirstPassErrors)
    val results = firstPass.map { case (name, t) =>
      retried.get(name) match {
        case Some((r, memoHit)) if r >= 0 =>
          name -> (if (memoHit) t else math.min(t, r))
        case _ => name -> t
      }
    }
    val retriesJson = spikes.map { case (name, t) =>
      f""""$name":{"spike":$t%.3f,"retry":${retried(name)._1}%.3f,"baseline":${baseline(name)}%.3f,"memo_hit":${retried(name)._2}}"""
    }.mkString("{", ",", "}")
    // memo-build attribution (round-13 verdict #2): one entry per
    // shared-table build — which query paid it, and the seconds spent
    // in the compute body (lazy builders plan only; their
    // materialization cost lands in the same query's wall time)
    val memoBuildsJson = {
      import scala.jdk.CollectionConverters._
      graft.ops.Memo.buildLog.asScala.drop(warmupBuilds).map {
        case (table, consumer, secs) =>
          f"""{"table":"$table","charged_to":"$consumer","secs":$secs%.3f}"""
      }.mkString("[", ",", "]")
    }
    // millisecond precision: sub-ms digits are noise and the shorter line
    // leaves more of the detail inside the driver's bounded stdout tail
    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retryErrs = retryErrors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val hist = attempts.mkString("[", ",", "]")
    // integer-valued side maps ON PURPOSE: the committed-baseline regex
    // above matches only decimal-pointed values, so these entries can
    // never be mistaken for per-query seconds when next round parses
    // this file back
    val shufJson = results.map { case (k, _) =>
      s""""$k":${qMetrics.get(k).map(_._1).getOrElse(-1L)}""" }
      .mkString("{", ",", "}")
    val scanJson = results.map { case (k, _) =>
      s""""$k":${qMetrics.get(k).map(_._2).getOrElse(-1L)}""" }
      .mkString("{", ",", "}")
    // scan_rows / local_scan_rows are ORDER-DEPENDENT diagnostics, not
    // gated plan properties (round-12 ADVICE): the edge/IVF-PQ indexes
    // memoize ACROSS queries, so whichever routing/probe query runs
    // FIRST in the sweep absorbs the shared index-build scans that
    // later queries then reuse for ~0. Gating them the way shuffle
    // bytes are gated would flag every reorder of the query list as
    // drift; read them per-run with the order in mind (BASELINE.md
    // "shared-index accounting" note).
    val lscanJson = results.map { case (k, _) =>
      s""""$k":${qMetrics.get(k).map(_._3).getOrElse(-1L)}""" }
      .mkString("{", ",", "}")
    // plan-drift gate (the mechanical spike-vs-regression separator the
    // wall-time gate can't be): shuffle bytes are a plan property, so a
    // >20% AND >1 MiB move against the committed baseline means the
    // PLAN changed, not the machine — flagged with both values; wall
    // drift with flat shuffle bytes is machine noise by elimination
    val planDrift = results.flatMap { case (name, _) =>
      for {
        base <- baselineShuffle.get(name)
        cur <- qMetrics.get(name).map(_._1)
        if base >= 0 && cur >= 0
        if math.abs(cur - base) * 5 > math.abs(base) &&
          math.abs(cur - base) > (1L << 20)
      } yield s""""$name":{"base_bytes":$base,"now_bytes":$cur}"""
    }.mkString("{", ",", "}")
    val cond = f""""load_avg":$loadAvg%.2f,"secs_since_test_suite":$secsSinceSuite,"regime":"$regime","cooldown_attempts":$hist,"spike_retries":$retriesJson,"retry_errors":$retryErrs"""
    // memo_builds rides the FULL artifact only — the short trailing
    // line below must keep fitting in the driver's bounded stdout tail
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errs,$cond,"memo_builds":$memoBuildsJson,"shuffle_bytes":$shufJson,"scan_rows":$scanJson,"local_scan_rows":$lscanJson,"plan_drift":$planDrift,"sf":"$sfDir"}"""
    println(full)
    // the driver captures a bounded TAIL of stdout (round 3 cut the head
    // off the 2 KB+ line above and left "parsed": null); the full
    // per-query detail is therefore ALSO persisted as its own artifact,
    // immune to tail truncation
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // this short trailing line always fits in the tail, so the total
    // survives even when the per-query detail is truncated
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"errors":$errs,$cond,"artifact":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
