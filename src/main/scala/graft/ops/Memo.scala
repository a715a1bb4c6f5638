package graft.ops

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Bounded, corpus-fingerprinted memoization for the shared-scan caches
  * (the KMV sketch table q228+q230, the spectral moment pass q255/q256/
  * q262). Two hardenings over a bare TrieMap.getOrElseUpdate:
  *
  *  1. **Fingerprint in the key**: callers fold [[fingerprint]] (a hash
  *     of every file's name, length and mtime under the corpus path)
  *     into the cache key, so rewriting the corpus at `dir` in-session
  *     misses the cache and recomputes — strictly better than either
  *     serving stale checkpoints or failing loudly. The fingerprint is
  *     a driver-side listing (O(#files), no data read), negligible next
  *     to the scan it guards.
  *  2. **Entry cap**: at [[maxEntries]] distinct keys the cache clears
  *     wholesale before inserting (memoization is pure — a clear only
  *     costs a recompute), so pinned localCheckpoint blocks and d×d
  *     matrices can't accumulate without bound across many
  *     (dir, params) combinations in one long-lived JVM.
  *  3. **One release rule**: Memo alone releases storage. A memoized
  *     value is released by [[release]] when the cap evicts it (or a
  *     race loses it); a query-local working cache is scoped by
  *     [[withPersisted]]. Call sites never pick a release or unpersist
  *     a memoized frame themselves. Precondition of eviction: an
  *     evicted value has no live consumer (see [[cached]]).
  */
object Memo {

  /** Keys beyond this clear the cache (correctness-neutral: entries are
    * pure memoizations of deterministic scans).
    */
  val maxEntries = 64

  /** Order-sensitive FNV-style fold of (name, length, mtime) over the
    * recursive listing of `path` (a file lists as itself). Missing path
    * fingerprints as 0 — the compute body sees the same absent-corpus
    * error it would have seen uncached.
    */
  def fingerprint(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var h = 1125899906842597L
      while (it.hasNext) {
        val st = it.next()
        h = h * 31 + st.getPath.getName.hashCode
        h = h * 31 + st.getLen
        h = h * 31 + st.getModificationTime
      }
      h
    }
  }

  /** The identity of a DURABLE artifact (an on-disk layout that
    * outlives the session): a 12-hex tag over `key` (the corpus path
    * plus the build's geometry) and the [[fingerprint]] of every table
    * the artifact reads — so a corpus rewritten at the same path gets a
    * fresh tag, and so a fresh build, instead of the stale layout.
    */
  private[graft] def artifactTag(spark: SparkSession, key: String,
      tables: String*): String = {
    val id = (key +: tables.map(t => fingerprint(spark, t))).mkString("|")
    "g" + java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** Build-attribution log (round-14, the bench's `memo_builds`
    * section): one entry per compute-body run — (table label, the
    * consumer that triggered the build, seconds spent in the body).
    * `currentConsumer` is set by the bench around each timed query so
    * shared-table build cost is attributable to the query that paid it
    * (per-query times for memoized families are otherwise
    * order-dependent across runs — round-13 verdict #2); outside the
    * bench it stays "" and entries are still recorded. A LAZY memo's
    * body only plans (its materialization lands in the same consumer's
    * wall clock); eager builders (checkpointing/counting bodies) pay
    * the whole build inside the body, so `secs` is the build cost.
    */
  val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double)]
  @volatile var currentConsumer: String = ""

  /** getOrElseUpdate with a per-cache entry cap (default
    * [[maxEntries]]; corpus-sized caches pass a smaller `cap` so a few
    * parameterizations cannot pin several corpus-scale tables at once —
    * round-13 ADVICE). At the cap every value is released by the one
    * [[release]] rule BEFORE the clear, so executor state (persisted
    * plans, localCheckpoint'd blocks) goes at eviction time instead of
    * waiting for driver GC plus the ContextCleaner. Precondition: an
    * evicted value has no live consumer — a checkpoint's lineage is
    * truncated, so a frame still reading an evicted checkpoint cannot
    * recompute it.
    *
    * The insert is compute-then-putIfAbsent (NOT getOrElseUpdate, whose
    * losing duplicate under concurrent first calls would leak an
    * eagerly-checkpointed value for the session lifetime): a race loser
    * releases only the checkpoint RDDs it alone owns. It never calls
    * `Dataset.unpersist` or `close()` — a persisted plan uncaches by
    * plan equality, so that would drop the WINNER's shared cache entry.
    */
  def cached[K, V](cache: TrieMap[K, V], key: K, label: String = "",
      cap: Int = maxEntries)(compute: => V): V =
    cache.get(key) match {
      case Some(v) => v
      case None =>
        if (cache.size >= cap) evictAll(cache)
        val t0 = System.nanoTime()
        val v = compute
        if (label.nonEmpty)
          buildLog.add((label, currentConsumer, (System.nanoTime() - t0) / 1e9))
        cache.putIfAbsent(key, v) match {
          case Some(winner) => release(v, owner = false); winner
          case None => v
        }
    }

  /** Release every value of `cache` and clear it (the cap eviction;
    * also the test hook for a cold start).
    */
  private[ops] def evictAll[K, V](cache: TrieMap[K, V]): Unit = {
    cache.values.foreach(release(_, owner = true))
    cache.clear()
  }

  /** The release rule, declared once for every memoized value:
    *  - a DataFrame whose analyzed ROOT is a `LogicalRDD` (a
    *    localCheckpoint): unpersist that RDD — `Dataset.unpersist`
    *    cannot reach it. Root only: a derived value (a filter OVER
    *    another entry's checkpoint) never releases the table it reads;
    *  - any other DataFrame: `Dataset.unpersist` (owner only);
    *  - `Option` / `Tuple2`: each element;
    *  - `AutoCloseable`: `close()` (owner only);
    *  - anything else (driver-side codebooks, matrices, non-owning
    *    overlays): nothing.
    * Best-effort: a dead session must not poison the recompute.
    */
  private def release(v: Any, owner: Boolean): Unit =
    try v match {
      case df: Dataset[_] => df.queryExecution.analyzed match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ => if (owner) df.unpersist(blocking = false)
      }
      case Some(x) => release(x, owner)
      case (a, b) => release(a, owner); release(b, owner)
      case c: AutoCloseable => if (owner) c.close()
      case _ => ()
    } catch { case _: Exception => () }

  /** A query-local working cache: persist `dfs` in order at
    * MEMORY_AND_DISK, run `body`, and unpersist them (last first) when
    * it returns or throws. `body` must not return a lazy frame that
    * still reads them — checkpoint or collect inside.
    */
  def withPersisted[A](dfs: DataFrame*)(body: => A): A = {
    dfs.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try body
    finally dfs.reverseIterator.foreach(_.unpersist())
  }

  /** The exit-detected loop, declared once: `init` is checkpointed
    * eagerly, then at most `maxRounds` rounds run. A round's `step`
    * output is a LAZY local checkpoint, materialized by that round's
    * `changed(prev, next)` action — one driver action per round, while
    * the checkpoint still cuts the lineage (a persist does not: a round
    * that reads its state more than once grows an un-cut plan
    * exponentially). Returns (final state, rounds run, whether the last
    * round was stable); zero rounds is not stable.
    */
  private[ops] def fixpoint(init: DataFrame, maxRounds: Int)(
      step: DataFrame => DataFrame)(
      changed: (DataFrame, DataFrame) => Boolean): (DataFrame, Int, Boolean) = {
    var state = init.localCheckpoint(true)
    var rounds = 0
    var stable = false
    while (rounds < maxRounds && !stable) {
      val next = step(state).localCheckpoint(false)
      stable = !changed(state, next)
      state = next
      rounds += 1
    }
    (state, rounds, stable)
  }
}
