package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Similarity

/** Streaming maintenance of the vector-index surface: newly-ingested
  * embeddings get the SAME banded-SRP signatures the batch index builds
  * (q51/q293/q294) and the same near-duplicate tripwire semantics the
  * text side runs (`DocStreams.contaminationGate`), as live streams.
  *
  * The design rule is the one the doc/event streams established: ONE
  * definition serves stream and batch. The signature projection is
  * `Similarity.bandSignatureCols` — the exact Columns the q293/q294
  * index builder folds — so the live bucketer and the batch graph
  * cannot disagree on where a vector lands; the stream==batch gate
  * (`VecStreamsSpec`) asserts exactly that.
  *
  * Scale: both transforms are STATELESS projections (static plane
  * literals folded into the plan, a broadcast base-signature set) — no
  * watermark, no state store; a 1000-executor stream runs them as pure
  * map tasks at ingest rate. The base-signature set for the tripwire is
  * bounded by the number of OCCUPIED buckets (≤ min(corpus, 2^nPlanes))
  * — at production plane counts use the q243 bloom bitmap instead; the
  * exact set keeps this gate's warranty exact, which is what the small
  * signature spaces here need.
  */
object VecStreams {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over an embeddings directory;
    * `maxFilesPerTrigger` bounds micro-batch size during backlog replay.
    */
  def readVecStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(vecSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)

  /** Live banded-SRP bucketer: one (band, sig) row per band per vector,
    * via the SHARED `Similarity.bandSignatureCols` projection — the
    * rows a streaming index maintainer appends to the q293/q294 edge
    * build's candidate buckets. Works unchanged on a batch frame (the
    * stream==batch gate replays it).
    */
  def bucketStream(vecs: DataFrame, planes: Seq[(Int, Seq[Float])],
      nBands: Int, nPlanes: Int): DataFrame = {
    graft.functions.VectorOps.register(vecs.sparkSession)
    val sigs = Similarity.bandSignatureCols(planes, nBands, nPlanes)
    vecs.select(col("vec_id"),
      posexplode(array(sigs: _*)).as(Seq("band", "sig")))
      .select(col("vec_id"), col("band").cast("int").as("band"), col("sig"))
  }

  /** Streaming near-duplicate tripwire: flag arriving vectors whose
    * FULL nPlanes-bit signature collides with an occupied bucket of the
    * base corpus — the vector-side analog of the text contamination
    * gate (a bucket collision is the same "candidate, verify before
    * admitting" signal the batch LSH emits; non-colliding vectors are
    * provably new content under the signature). `baseSigs` is the
    * occupied-bucket set of the base corpus, computed by the SAME
    * single-bucket projection (`fullSignature`).
    */
  def srpTripwire(vecs: DataFrame, baseSigs: Set[Long],
      planes: Seq[(Int, Seq[Float])], nPlanes: Int): DataFrame = {
    graft.functions.VectorOps.register(vecs.sparkSession)
    val sig = fullSignature(planes, nPlanes)
    val hit = if (baseSigs.isEmpty) lit(false)
      else sig.isin(baseSigs.toSeq: _*)
    vecs.select(col("vec_id"), sig.as("sig"), hit.as("is_candidate"))
  }

  /** The full (un-banded) signature: all nPlanes bits in one long —
    * `bandSignatureCols` with one band, so the tripwire and the
    * bucketer share the projection core.
    */
  def fullSignature(planes: Seq[(Int, Seq[Float])],
      nPlanes: Int): org.apache.spark.sql.Column =
    Similarity.bandSignatureCols(planes, 1, nPlanes).head

  /** The base corpus' occupied-bucket set — a bounded driver collect
    * (≤ distinct signatures present), the broadcast side of the
    * tripwire.
    */
  def baseSignatures(spark: SparkSession, dir: String,
      planes: Seq[(Int, Seq[Float])], nPlanes: Int): Set[Long] = {
    graft.functions.VectorOps.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(fullSignature(planes, nPlanes).as("sig"))
      .distinct().collect().map(_.getLong(0)).toSet
  }

  // ---- incremental routing-index maintenance (round-11 verdict #4) ----

  /** The mutable half of the q293/q298 routing index, carried across
    * ingest micro-batches: the rep rows (vec_id + their ORIGINAL float
    * embeddings — e3 integers re-derive from them, so the stream and
    * the batch builder cannot drift), the MAINTAINED banded signature
    * table (vec_id, band, sig — one row per band per rep; round-12
    * verdict: re-deriving this from `repVecs` per fold was a full
    * base-corpus pass per micro-batch, the one cost an incremental
    * index exists to avoid), and the ranked edge table
    * (src, dst, d2, rn ≤ maxK). The stored d2 (exact i64, so it
    * re-derives bit-identically — which is what lets it be CARRIED
    * instead of recomputed) makes the affected-src patch a pure
    * merge-and-re-cut over already-scored rows: only genuinely new
    * candidate pairs ever pay the vector-join scoring.
    */
  final case class RouteIndexState(repVecs: DataFrame, sigs: DataFrame,
      ranked: DataFrame)

  /** The banded-signature projection of a (vec_id, embedding) frame —
    * the SHARED `Similarity.bandSignatureCols` columns, exploded to one
    * (vec_id, band, sig) row per band. The only producer of signature
    * rows on the maintenance path, so the carried table and a fresh
    * derivation cannot differ in definition.
    */
  private def sigsOf(df: DataFrame, planes: Seq[(Int, Seq[Float])],
      nBands: Int, nPlanes: Int): DataFrame = {
    val sigCols = Similarity.bandSignatureCols(planes, nBands, nPlanes)
    df.select(col("vec_id"),
      posexplode(array(sigCols: _*)).as(Seq("band", "sig")))
  }

  private def emptySigs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long)].toDF("vec_id", "band", "sig")
  }

  /** Initial maintenance state from a base corpus: dedup-first reps
    * (min vec_id per distinct e3 vector, each keeping ITS OWN float
    * embedding — the vector the batch builder computes signatures
    * from), their banded signatures (computed ONCE here; every fold
    * afterwards only appends the delta's), and the q298 edge table of
    * that corpus. `planes` must be the same hyperplanes every later
    * [[maintainRouteEdges]] call uses — the carried signature table is
    * only valid under the geometry it was built with.
    */
  def initRouteState(spark: SparkSession, dir: String,
      planes: Seq[(Int, Seq[Float])], nPlanes: Int,
      nBands: Int): RouteIndexState = {
    graft.functions.VectorOps.register(spark)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val repIds = e.select(col("vec_id"), Similarity.e3Col.as("v"))
      .groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"))
    val repVecs = e.join(repIds, Seq("vec_id"), "left_semi")
      .localCheckpoint(true)
    // sub-nPlanes corpora never route (the q293 law): keep the empty
    // signature table rather than constant-0 bands a later fold with
    // full planes would silently mix with real signatures
    val sigs =
      if (planes.length < nPlanes) emptySigs(spark)
      else sigsOf(repVecs, planes, nBands, nPlanes).localCheckpoint(true)
    // the carried edge table stores each edge's exact-i64 d2 alongside
    // (src, dst, rn): the one-time base join here is what spares every
    // FOLD from rescoring affected srcs' stored edges (init is allowed
    // O(base); folds are not)
    val e3 = repVecs.select(col("vec_id"), Similarity.e3Col.as("v"))
    val ranked = Similarity.routeEdgeTable(spark, dir, nPlanes, nBands)
      .join(e3.select(col("vec_id").as("src"), col("v").as("va")),
        Seq("src"))
      .join(e3.select(col("vec_id").as("dst"), col("v").as("vb")),
        Seq("dst"))
      .select(col("src"), col("dst"),
        call_function("pq_d2", col("va"), lit(0), col("vb")).as("d2"),
        col("rn"))
      .localCheckpoint(true)
    RouteIndexState(repVecs, sigs, ranked)
  }

  /** One incremental maintenance step: fold an arriving vector batch
    * into the routing index WITHOUT a rebuild. Exactly the q79
    * incremental-dedup shape lifted to the graph:
    *
    *  1. the batch dedups against itself and against the existing reps
    *     (a vector whose e3 content already has a rep is a duplicate —
    *     its group grows, the graph of distinct content is unchanged);
    *  2. each NEW rep's banded signatures probe the occupied buckets
    *     (existing ∪ new) — never all-pairs — and its out-edges are the
    *     exact-d² top-maxK of those candidates (the q298 ranking);
    *  3. existing reps sharing a bucket with a newcomer get PATCHED:
    *     their stored top-maxK merges with the new candidates and
    *     re-cuts at maxK. top-K(old ∪ new) = top-K(top-K(old) ∪ new)
    *     under the total (d², dst) order, so the patch is EXACT — no
    *     stored candidate beyond the old top-K can re-enter.
    *
    * The result is provably the one-shot q298 build over base ∪ batch
    * (gated row-for-row in VecStreamsSpec), so folding micro-batches
    * maintains exact equality with a full rebuild by induction.
    *
    * Precondition (required loudly): arriving ids exceed every stored
    * rep id — rep identity is min-id per content group, so an id below
    * an existing rep's would re-elect reps and demand a rebuild.
    *
    * Scale: an ingest batch shuffles ITSELF plus the touched buckets —
    * the delta's signatures come from the shared stateless
    * `bandSignatureCols` projection over the BATCH only, the base's
    * from the CARRIED `state.sigs` table (computed once at init,
    * appended per fold — round-12 verdict: re-deriving it from
    * `state.repVecs` here was a full base-corpus projection per
    * micro-batch), the bucket probe is new-side-sized, the rescore
    * touches only affected srcs' ≤ maxK stored edges, and untouched
    * rows pass through without a shuffle. Fold-time state updates are
    * UNIONS of already-checkpointed fragments (O(delta) work); at
    * 100 TB the signature and edge tables ride bucketed storage keyed
    * by (band, sig) / src, making the probe joins point lookups.
    *
    * Checkpoint lifecycle: each step localCheckpoints its outputs and
    * the SUPERSEDED state simply goes out of scope — the per-round
    * fixpoint pattern (`Graph.labelPropagationFixpoint` et al.), where
    * dropped references are reclaimed by driver GC + ContextCleaner.
    * This differs from the round-11 IVF-PQ leak, which was a CACHE
    * holding checkpointed frames referenced forever; no cache holds a
    * superseded `RouteIndexState`.
    */
  /** The maintenance law as a QUERY (q299): fold the corpus through
    * [[maintainRouteEdges]] from the EMPTY state in `nBatches` ordered
    * id-range chunks and return the final edge table. By the exactness
    * law (maintained ≡ one-shot rebuild, by induction over batches) the
    * result must equal q298 — so the DuckDB oracle is q298's replay
    * verbatim, and the green row is a cross-engine proof that the
    * incremental path loses nothing. Planes come from the full corpus'
    * head vectors exactly as the batch builder takes them (they land in
    * the first chunk, which contains the smallest ids).
    *
    * Scale: each fold step costs the arriving chunk + its touched
    * buckets (the maintainRouteEdges analysis); the fold IS the ingest
    * story a 100-TB index lives by — the rebuild is only its spec.
    */
  def foldRouteEdges(spark: SparkSession, dir: String, nPlanes: Int = 16,
      nBands: Int = 4, nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    require(nBatches >= 1, s"nBatches must be >= 1, got $nBatches")
    graft.functions.VectorOps.register(spark)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planes = e.filter(col("vec_id") < nPlanes)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toSeq)).toSeq
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "rn")
    if (planes.length < nPlanes) return empty // the q293 sub-nPlanes law
    val ids = e.agg(min(col("vec_id")), max(col("vec_id"))).collect()(0)
    if (ids.isNullAt(0)) return empty
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val span = hi - lo + 1
    var state = RouteIndexState(
      e.filter(lit(false)),
      emptySigs(spark),
      Seq.empty[(Long, Long, Long, Long)].toDF("src", "dst", "d2", "rn"))
    for (b <- 0 until nBatches) {
      val from = lo + span * b / nBatches
      val until = lo + span * (b + 1) / nBatches
      val chunk = e.filter(col("vec_id") >= from && col("vec_id") < until)
      state = maintainRouteEdges(spark, state, chunk, planes, nBands,
        nPlanes)
    }
    state.ranked.select(col("src"), col("dst"), col("rn"))
  }

  def maintainRouteEdges(spark: SparkSession, state: RouteIndexState,
      newVecs: DataFrame, planes: Seq[(Int, Seq[Float])], nBands: Int,
      nPlanes: Int, maxK: Int = Similarity.RouteIndexMaxK)
      : RouteIndexState = {
    graft.functions.VectorOps.register(spark)
    if (planes.length < nPlanes) return state // the q293 sub-nPlanes law
    val fresh = newVecs.select(col("vec_id"), col("embedding"))
    // ONE driver action for both boundary scalars (round-14, guide
    // §2.4): the two 1-row aggregates cross-join into a single collect
    // instead of two back-to-back jobs per fold
    val bounds = state.repVecs.agg(max(col("vec_id")).as("max_rep"))
      .crossJoin(fresh.agg(min(col("vec_id")).as("min_new"))).collect()(0)
    if (bounds.isNullAt(1)) return state // empty batch
    require(bounds.isNullAt(0) || bounds.getLong(1) > bounds.getLong(0),
      s"arriving vec_id ${bounds.get(1)} does not exceed the stored rep " +
        s"ceiling ${bounds.get(0)} — min-id rep election would need a " +
        "rebuild, not a patch")
    // 1. dedup the batch against itself (min id per e3 group, keeping
    // that row's own embedding) and against the existing reps
    val newE3 = fresh.select(col("vec_id"), col("embedding"), Similarity.e3Col.as("v"))
    val newGroupReps = newE3
      .groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"))
    val stateE3 = state.repVecs.select(col("vec_id"), Similarity.e3Col.as("v"))
    // LAZY checkpoint + count (round-14, guide §2.4): the emptiness
    // probe materializes the checkpoint in the same job (a count, not
    // isEmpty: isEmpty computes one partition and leaves the lazy
    // checkpoint to a fill-in job), halving this step's driver trips
    val newReps = newE3
      .join(newGroupReps, Seq("vec_id"), "left_semi")
      .join(stateE3.select(col("v")), Seq("v"), "left_anti")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(false)
    if (newReps.count() == 0) return state // all duplicates: unchanged
    // 2. banded signatures: the DELTA's via the shared projection over
    // the batch only; the base's from the carried state table — never
    // recomputed from the base corpus (round-12 verdict #1). Lazy
    // checkpoints: the blocks land inside the first consuming job
    // (plans are flattened to LogicalRDD either way), removing one
    // standalone materialization job per table per fold.
    val baseSigs = state.sigs
    val newSigs = sigsOf(newReps, planes, nBands, nPlanes)
      .localCheckpoint(false)
    val allSigs = baseSigs.unionByName(newSigs)
    val allVecs = state.repVecs.unionByName(newReps)
      .select(col("vec_id"), Similarity.e3Col.as("v"))
    // every join below BROADCASTS its delta-bounded side (the batch's
    // signatures, the candidate pairs, the affected srcs — all sized
    // delta × bucket occupancy) so the base-sized tables are scanned in
    // place, never shuffled: a fold's only shuffles are the two
    // delta-bound ranking windows. (On a 100-TB deployment the scans
    // themselves become point lookups against (band,sig)/src-keyed
    // storage; broadcasting the probe side is the same access pattern
    // spelled in Spark.)
    def scored(cand: DataFrame): DataFrame = {
      // hint BOTH joins (a hint does not survive through a join result):
      // the candidate side stays delta-bounded even after picking up the
      // src vectors, so re-broadcasting the intermediate keeps the
      // base-sized vector table unshuffled in the second join too
      val withSrc = broadcast(cand)
        .join(allVecs.select(col("vec_id").as("src"), col("v").as("va")),
          Seq("src"))
      broadcast(withSrc)
        .join(allVecs.select(col("vec_id").as("dst"), col("v").as("vb")),
          Seq("dst"))
        .select(col("src"), col("dst"),
          call_function("pq_d2", col("va"), lit(0), col("vb")).as("d2"))
    }
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("d2"), col("dst"))
    // newcomer out-edges: probe ALL occupied buckets (existing + new)
    val newCand = broadcast(newSigs.as("a"))
      .join(allSigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
    val newEdges = scored(newCand)
      .withColumn("rn", row_number().over(wSrc).cast("long"))
      .filter(col("rn") <= maxK)
      .select(col("src"), col("dst"), col("d2"), col("rn"))
    // 3. patch existing srcs that share a bucket with a newcomer: merge
    // their stored top-maxK — scores CARRIED in the state, re-derivable
    // bit-identically but never recomputed here — with the freshly
    // scored new candidates, dedup on (src, dst, d2) (a re-discovered
    // stored pair scores to the identical integer), re-cut at maxK.
    // Only baseCand rows (delta × occupancy) touch the vector join.
    val baseCand = baseSigs.as("a")
      .join(broadcast(newSigs.as("b")),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
      .localCheckpoint(false)
    val affected = baseCand.select(col("src")).distinct()
    val oldKept = state.ranked
      .join(broadcast(affected), Seq("src"), "left_semi")
      .select(col("src"), col("dst"), col("d2"))
    val patched = scored(baseCand).unionByName(oldKept).distinct()
      .withColumn("rn", row_number().over(wSrc).cast("long"))
      .filter(col("rn") <= maxK)
      .select(col("src"), col("dst"), col("d2"), col("rn"))
    val untouched = state.ranked.join(broadcast(affected), Seq("src"),
      "left_anti")
    // reps and sigs grow by pure UNION of already-checkpointed parts —
    // O(delta) fold-time work, no base copy; the ranked table is
    // rewritten through the anti-join, so IT checkpoints per fold
    // (leaving it lazy would re-run every prior fold's patch chain on
    // each read)
    // lazy too: the next fold's first job over the ranked table (or the
    // query's own sink) materializes it — per fold the only standalone
    // driver actions left are the boundary collect and the rep count
    RouteIndexState(
      state.repVecs.unionByName(newReps),
      state.sigs.unionByName(newSigs),
      untouched.unionByName(patched).unionByName(newEdges)
        .localCheckpoint(false))
  }
}
