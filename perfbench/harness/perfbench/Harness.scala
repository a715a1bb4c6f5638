package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.LocalSession
import graft.core.{Chunker, DirHash}
import graft.fs.Listing
import graft.hash.{Algos, HashSpec}

/** JVM side of the benchmark. Drives the program only through its public
  * functions and prints one JSON object as its last stdout line.
  *
  *   --mode setup   build the session, report its set-up time, exit
  *   --mode hash    first hash, one verify, then warm hashes for
  *                  --seconds, then the heap probe; with --trace 1 also
  *                  the per-layer probes
  *   --mode queries passes of a query mix, see [[QueryRun]]
  *
  * `--spawned` is the epoch second at which the launcher started this
  * process, so `setup_s` runs from process start to a ready session.
  * Every hash string the program returns is reported; judging it against
  * the oracle is the launcher's job.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spark = LocalSession.build("perfbench")
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (epochSeconds() - opt("spawned").toDouble),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "parallelism" -> spark.sparkContext.defaultParallelism)
    try opt("mode") match {
      case "hash" => new HashRun(spark, opt, out).run()
      case "queries" => new QueryRun(spark, opt, out).run()
      case _ => ()
    } finally spark.stop()
    println(Json.render(out))
  }

  def epochSeconds(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One core's digest rate over a 64 MiB buffer, in MB/s. */
  def kernelMBps(): Double = {
    val buf = new Array[Byte](64 << 20)
    new java.util.Random(1).nextBytes(buf)
    val times = (1 to 7).map { _ =>
      timed { val d = Algos.get("sha256"); d.update(buf); d.digest() }._2
    }
    buf.length / 1e6 / median(times.drop(2))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object HashRun {
  /** Untimed warm-up before the timed calls: runs still sped up over the
    * first few seconds after the verify call. */
  val WarmupSeconds = 6.0
  /** Untimed calls the heap probe watches. */
  val HeapCalls = 3
}

final class HashRun(spark: SparkSession, opt: Map[String, String],
    out: mutable.LinkedHashMap[String, Any]) {
  import Harness.{median, timed}

  private val dir = opt("dir")
  private val algo = opt("algo")
  private val block = opt("block")
  private val expected = opt("expected")
  private val seconds = opt("seconds").toDouble
  private val trace = opt("trace") == "1"
  private val conf = spark.sparkContext.hadoopConfiguration
  private val hashes = mutable.ArrayBuffer.empty[String]

  /** One hashDirectory call: its wall seconds and what it returned. */
  private def timedHash(): (Double, String) = {
    val t0 = System.nanoTime()
    val r =
      try DirHash.hashDirectory(spark, dir, algo, block)
      catch { case NonFatal(e) => s"ERROR $e" }
    val wall = (System.nanoTime() - t0) / 1e9
    hashes += r
    (wall, r)
  }

  /** Timed hashes until `budget` seconds have passed (at least three
    * calls), each starting from a full GC; returns the wall of every
    * call that returned a hash.
    */
  private def timedLoop(budget: Double): Seq[Double] = {
    val end = System.nanoTime() + (budget * 1e9).toLong
    val walls = mutable.ArrayBuffer.empty[Double]
    var attempts = 0
    while (attempts < 3 || System.nanoTime() < end) {
      System.gc()
      val (wall, r) = timedHash()
      if (!r.startsWith("ERROR")) walls += wall
      attempts += 1
    }
    walls.toSeq
  }

  def run(): Unit = {
    out("first_op_s") = timedHash()._1
    out("verify") =
      try DirHash.verifyDirectoryHash(spark, dir, expected).matches.toString
      catch { case NonFatal(e) => s"ERROR $e" }
    val warmEnd = System.nanoTime() + (HashRun.WarmupSeconds * 1e9).toLong
    val warmup = mutable.ArrayBuffer.empty[Double]
    do warmup += timedHash()._1 while (System.nanoTime() < warmEnd)
    out("warmup_walls_s") = warmup.toSeq
    val walls = timedLoop(if (trace) seconds / 2 else seconds)
    out("walls_s") = walls
    val probes = (1 to HashRun.HeapCalls).map(_ => HeapProbe.during(200)(timedHash()))
    out("live_heap_bytes") = probes.map(_._2)
    out("heap_samples") = probes.map(_._3)
    if (trace) out("layers") = new Tracer(spark).run(median(walls))
    out("hashes") = hashes.toSeq
  }

  /** Per-layer probes; see METRICS.md for what each metric measures. */
  private final class Tracer(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val rec = new Recorder(spark)

    /** One traced hashDirectory call, its wall partitioned by listener
      * timestamps: head (call start to first job), jobs_active (first job
      * start to last job end, of which job_gaps had no job running) and
      * tail (last job end to return). */
    private def tracedHash(): Map[String, Double] = {
      val ((wall, _), t0, t1, read) = rec.recorded(timedHash())
      val jobs = rec.jobs()
      val (first, last) =
        if (jobs.isEmpty) (t1, t1) else (jobs.map(_._1).min, jobs.map(_._2).max)
      val tasks = rec.tasks.asScala.toSeq
      val collected = tasks.filter(_.stage == rec.lastStage())
      Map(
        "core.DirHash.wall_s" -> (t1 - t0) / 1e3,
        "core.DirHash.head_s" -> (first - t0) / 1e3,
        "core.DirHash.jobs_active_s" -> (last - first) / 1e3,
        "core.DirHash.job_gaps_s" -> (last - first - rec.busyMs()) / 1e3,
        "core.DirHash.tail_s" -> (t1 - last) / 1e3,
        "core.DirHash.jobs" -> jobs.size.toDouble,
        "core.DirHash.stages" -> rec.stages.get.toDouble,
        "core.DirHash.tasks" -> tasks.size.toDouble,
        "core.DirHash.exchanges" -> rec.exchanges.get.toDouble,
        "core.DirHash.collected_rows" -> collected.map(_.recordsRead).sum.toDouble,
        "core.DirHash.result_bytes" -> collected.map(_.resultSize).sum.toDouble,
        "core.Chunker.read_bytes" -> read.toDouble,
        "trace.hash_wall_s" -> wall) ++ rec.taskSums()
    }

    private def listingProbe(): Map[String, Double] = {
      val (entries, s) = timed(Listing.list(dir, conf))
      Map("fs.Listing.s" -> s, "fs.Listing.entries" -> entries.size.toDouble)
    }

    private def chunkerProbe(): Map[String, Double] = {
      val entries = Listing.list(dir, conf)
      val blockSize = HashSpec.parseBlockSize(block)
      val ((n, specs), planS) = timed {
        val n = Chunker.countChunks(entries, blockSize)
        (n, Chunker.planChunksDataset(spark, dir, entries, blockSize, knownChunkCount = n))
      }
      val digests = Chunker.digestChunks(spark, specs, n, algo, conf)
      val ((_, digestS), _, _, _) =
        rec.recorded(timed(digests.write.format("noop").mode("overwrite").save()))
      val lastStage = rec.lastStage()
      val durations = rec.tasks.asScala.filter(_.stage == lastStage).map(_.durationMs.toDouble)
      Map(
        "core.Chunker.plan_s" -> planS,
        "core.Chunker.chunks" -> n.toDouble,
        "core.Chunker.digest_s" -> digestS,
        "core.Chunker.task_skew" -> durations.max / math.max(1.0, median(durations)))
    }

    private def medians(samples: Seq[Map[String, Double]]): Map[String, Double] =
      samples.head.keys.map(k => k -> median(samples.map(_(k)))).toMap

    def run(untracedWall: Double): Map[String, Double] = {
      val kernel = Harness.kernelMBps()
      // each traced call right after an untraced one, for the overhead
      val pairs = (1 to 3).map(_ => (timedHash()._1, tracedHash()))
      // the median-wall call whole, so its partition still sums to its wall
      val traced = pairs.map(_._2).sortBy(_("core.DirHash.wall_s")).apply(1)
      val treeBytes = opt("tree-bytes").toDouble
      traced ++ medians((1 to 3).map(_ => listingProbe())) ++
        medians((1 to 3).map(_ => chunkerProbe())) ++ Map(
          "core.Chunker.read_amplification" -> traced("core.Chunker.read_bytes") / treeBytes,
          "hash.Algos.sha256_MBps" -> kernel,
          "hash.Algos.roofline_frac" ->
            treeBytes / 1e6 / untracedWall / (sc.defaultParallelism * kernel),
          "trace.wall_ratio" ->
            median(pairs.map(_._2("trace.hash_wall_s"))) / median(pairs.map(_._1)))
    }
  }
}

/** Job, stage, task and plan events of one recorded call. */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Task(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, fetchWaitMs: Long, spill: Long,
      resultSize: Long, recordsRead: Long)

  private val jobStarts = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  val stages = new AtomicInteger()
  val exchanges = new AtomicInteger()
  val tasks = new ConcurrentLinkedQueue[Task]()

  private def fsBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesRead).sum

  /** Runs body with this recorder attached and reset; returns body's
    * result, its epoch-millisecond bounds and the bytes it read. The
    * recorder stays detached otherwise, so untraced calls pay nothing. */
  def recorded[A](body: => A): (A, Long, Long, Long) = {
    val sc = spark.sparkContext
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    jobStarts.clear(); jobEnds.clear(); tasks.clear()
    stages.set(0); exchanges.set(0)
    val read0 = fsBytesRead()
    val t0 = System.currentTimeMillis()
    try {
      val r = body
      val t1 = System.currentTimeMillis()
      ListenerBusDrain(sc)
      (r, t0, t1, fsBytesRead() - read0)
    } finally {
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }

  /** (start ms, end ms, stage ids) of every finished job. */
  def jobs(): Seq[(Long, Long, Seq[Int])] =
    jobStarts.asScala.toSeq.collect {
      case (id, (start, stageIds)) if jobEnds.containsKey(id) =>
        (start, jobEnds.get(id), stageIds)
    }

  /** Milliseconds with at least one job running. */
  def busyMs(): Long = {
    var busy, reach = 0L
    jobs().sortBy(_._1).foreach { case (s, e, _) =>
      val from = math.max(s, reach)
      if (e > from) busy += e - from
      reach = math.max(reach, e)
    }
    busy
  }

  /** The final stage of the job that ended last, or -1. */
  def lastStage(): Int = jobs().sortBy(_._2).lastOption.map(_._3.max).getOrElse(-1)

  /** Task totals, the same for every recorded call. */
  def taskSums(): Map[String, Double] = {
    val ts = tasks.asScala.toSeq
    Map(
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize,
      m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    exchanges.addAndGet(collect(qe.executedPlan) { case s: ShuffleExchangeLike => s }.size)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The live heap while a body runs: a full GC every `periodMs` from a
  * sampler thread, and the heap occupancy right after each. */
object HeapProbe {
  /** Runs body; returns its result, the largest after-GC occupancy seen
    * while it ran, and how many samples fell inside it. The first
    * sample is taken as body starts, the last one after it ends. */
  def during[A](periodMs: Long)(body: => A): (A, Long, Int) = {
    val heap = ManagementFactory.getMemoryMXBean
    val peak = new AtomicLong()
    val samples = new AtomicInteger()
    @volatile var running = true
    def sample(): Unit = {
      System.gc()
      peak.accumulateAndGet(heap.getHeapMemoryUsage.getUsed, (a: Long, b: Long) => math.max(a, b))
      samples.incrementAndGet()
    }
    val sampler = new Thread(() =>
      while (running) {
        sample()
        try Thread.sleep(periodMs) catch { case _: InterruptedException => () }
      })
    sampler.setDaemon(true)
    sampler.start()
    val r =
      try body
      finally { running = false; sampler.interrupt(); sampler.join() }
    val inside = samples.get
    sample()
    (r, peak.get, inside)
  }
}

object Json {
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 || c > 0x7e => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case null => "null"
  }
}
