package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.Memo

/** Passes of the query mix over the tables in `--tables`: each query of
  * `--queries`, in that order, built through `SparkEntry.queries` and
  * materialized through the noop sink. Every pass reads a fresh copy of
  * the tables; memo caches key on the directory, so each pass starts
  * with them cold, and a memo built by one query is ridden by later ones
  * of the same pass, as in one user session.
  *
  * The first pass is `first_op_s`. It writes every result to parquet
  * under `--verify-out`, with the query's oracle SQL in
  * `oracle_sql.json`, for the DuckDB oracle. One untimed pass follows,
  * watched by the heap probe, which also warms the JIT, then timed
  * passes for `--seconds` (half of it with `--trace 1`, and then
  * recorded passes for the other half).
  */
final class QueryRun(spark: SparkSession, opt: Map[String, String],
    out: mutable.LinkedHashMap[String, Any]) {

  private val names = opt("queries").split(",").toSeq
  private val seconds = opt("seconds").toDouble
  private val trace = opt("trace") == "1"
  private val tables = Paths.get(opt("tables"))
  private var copies = 0

  /** A copy of the tables in a directory no pass has read yet. */
  private def freshTables(): String = {
    copies += 1
    val to = tables.resolveSibling(s"${tables.getFileName}-$copies")
    Files.createDirectory(to)
    Files.list(tables).iterator.asScala.foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    to.toString
  }

  private def noop(name: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One pass: per query its figures or its error, and the memo builds.
    * `sink` materializes each result. */
  private def pass(rec: Option[Recorder],
      sink: (String, DataFrame) => Unit = noop): Map[String, Any] = {
    val dir = freshTables()
    val logged = Memo.buildLog.size
    val queries = mutable.LinkedHashMap(names.map(n => n -> query(n, dir, rec, sink)): _*)
    val memo = Memo.buildLog.asScala.drop(logged).map { case (label, consumer, s) =>
      Map("label" -> label, "consumer" -> consumer, "s" -> s)
    }
    Map("queries" -> queries, "memo_builds" -> memo)
  }

  private def total(p: Map[String, Any]): Double =
    p("queries").asInstanceOf[collection.Map[String, Map[String, Any]]].values
      .map(q => q.getOrElse("s", 0.0).asInstanceOf[Double]).sum

  /** Passes until `budget` seconds have passed, at least `least` of them. */
  private def passes(budget: Double, least: Int, rec: Option[Recorder]): Seq[Map[String, Any]] = {
    val end = System.nanoTime() + (budget * 1e9).toLong
    val done = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (done.size < least || System.nanoTime() < end) {
      System.gc()
      done += pass(rec)
    }
    done.toSeq
  }

  def run(): Unit = {
    val verifyOut = opt("verify-out")
    Files.createDirectories(Paths.get(verifyOut))
    val first = pass(None, (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$verifyOut/$name"))
    Files.writeString(Paths.get(verifyOut, "oracle_sql.json"),
      Json.render(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    out("first_op_s") = total(first)
    out("first_pass") = first
    val (probed, peak, samples) = HeapProbe.during(500)(pass(None))
    out("probed_pass") = probed
    out("warmup_walls_s") = Seq(total(probed))
    out("live_heap_bytes") = Seq(peak)
    out("heap_samples") = Seq(samples)
    val timed = passes(if (trace) seconds / 2 else seconds, 3, None)
    out("walls_s") = timed.map(total)
    out("passes") = timed
    if (trace) {
      out("hash.Algos.sha256_MBps") = Harness.kernelMBps()
      out("traced_passes") = passes(seconds / 2, 2, Some(new Recorder(spark)))
    }
  }

  /** Build seconds (inside the `SparkEntry.queries` call, eager driver
    * jobs included), exec seconds (the sink's write), and when recorded
    * the part of the wall with no job running, plus task totals. */
  private def query(name: String, dir: String, rec: Option[Recorder],
      sink: (String, DataFrame) => Unit): Map[String, Any] = {
    def body(): (Double, Double) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val t1 = System.nanoTime()
      sink(name, df)
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }
    Memo.currentConsumer = name
    try rec match {
      case None =>
        val (build, exec) = body()
        Map("build_s" -> build, "exec_s" -> exec, "s" -> (build + exec))
      case Some(r) =>
        val ((build, exec), _, _, _) = r.recorded(body())
        Map("build_s" -> build, "exec_s" -> exec, "s" -> (build + exec),
          "driver_only_s" -> (build + exec - r.busyMs() / 1e3),
          "jobs" -> r.jobs().size.toDouble) ++ r.taskSums()
    } catch {
      case NonFatal(e) => Map("error" -> e.toString)
    } finally Memo.currentConsumer = ""
  }
}
