package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star surface):
  * brute-force cosine top-k as the exact baseline and an IVF-bucketed
  * variant as the scale path.
  *
  * Vector math runs through graft.functions.VectorOps — custom Catalyst
  * expressions that codegen to a primitive loop (the builtin
  * `aggregate(zip_with(...))` route pays one interpreted lambda call per
  * element per row, which dominates all-pairs scoring). The accumulation
  * order and double casts are identical to the HOF fold, so results stay
  * bit-equal to the DuckDB `list_sum` oracle.
  */
object Similarity {

  import graft.functions.VectorOps

  private def emb(spark: SparkSession, dir: String): DataFrame = {
    VectorOps.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
  }

  private def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  private def norm(a: Column): Column = call_function("vec_norm", a)

  /** The ONE md5 train/eval split over vec_id (~50/50), shared by
    * embedding decontamination (q72) and the KNN label vote (q98) so
    * the two surfaces cannot drift on which vectors are train. The
    * oracles pin the same `substring(md5(...), 1, 2) <= '7f'` text.
    */
  private def isTrainVec: Column =
    substring(md5(col("vec_id").cast("string")), 1, 2) <= "7f"

  /** The first `n` embeddings as (id, array<float> literal) pairs —
    * the deterministic hyperplanes / centroids of the LSH and IVF
    * operators, collected ONCE at plan time (n × dim floats; the
    * vec_id < n predicate pushes down to the parquet scan, so at 100 TB
    * this reads a handful of row groups). Folding these back in as
    * literals turns signature/assignment computation into a pure
    * map-side projection: the old `crossJoin(broadcast(planes)) +
    * groupBy(vec_id, embedding)` shape multiplied every corpus row ×n
    * and then shuffled the embeddings back together as group keys —
    * a corpus-sized exchange that existed only to undo the row
    * multiplication.
    */
  private def headVectors(spark: SparkSession, dir: String, n: Int): Seq[(Int, Seq[Float])] =
    emb(spark, dir).filter(col("vec_id") < n)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toSeq)).toSeq

  private def litVec(vals: Seq[Float]): Column = array(vals.map(v => lit(v)): _*)

  /** Driver-side norm of a literal vector — the same left-to-right
    * double accumulation as VecNorm/the DuckDB list_sum oracle, hoisted
    * out of the per-row plan (a custom expression isn't foldable, so
    * norm(literal) would otherwise re-run per row).
    */
  private def litNorm(vals: Seq[Float]): Double =
    math.sqrt(vals.foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble))

  /** Single SRP bucket id over static plane literals: bit pid set iff
    * the row's embedding projects non-negatively onto plane pid. foldLeft
    * with a lit(0L) seed, not reduce: an empty corpus has no head
    * vectors and the operator must degrade to an empty result, not
    * throw. Shared by the one-bucket LSH operators (srpLshTopK,
    * knnGraph, srpMultiProbeTopK); the banded variant packs per-band
    * bits and stays local to cosineNearDupPairsLsh.
    */
  private def srpBucket(planes: Seq[(Int, Seq[Float])]): Column =
    planes
      .map { case (pid, pe) =>
        when(dot(col("embedding"), litVec(pe)) >= 0, lit(1L << pid)).otherwise(lit(0L)) }
      .foldLeft(lit(0L))(_ + _)
      .cast("long")

  /** Exact brute-force cosine top-k against one query vector (vec_id 0).
    * The query row is broadcast; one scan computes every score; top-k via
    * ordered limit (TakeOrderedAndProject — per-partition partial top-k,
    * no total sort).
    */
  def cosineTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 20): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = e.filter($"vec_id" === queryId)
      .select($"embedding".as("q_embedding"))
    e.filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label",
        round(dot($"embedding", $"q_embedding") /
          (norm($"embedding") * norm($"q_embedding")), 6).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(k)
  }

  /** All near-duplicate embedding pairs above a cosine threshold —
    * embedding-space near-dup detection. Label-blocked join keeps the
    * candidate set sub-quadratic (same role LSH buckets play at scale),
    * and exact-dedup-first is BUILT IN (the q148 treatment, keyed by
    * md5 of (label, embedding)): byte-identical same-label vectors
    * collapse to one representative, the blocked self-join scores
    * representatives only, and Dedup.expandRepPairs rebuilds the exact
    * all-pairs answer — so a hot label full of exact copies costs its
    * DISTINCT-vector pair count plus the (output-sized) expansion.
    * Within-group pairs score with the identical cosine expression the
    * naive join would apply (same inputs ⇒ same double), so thresholds
    * and zero-vector NaN semantics are preserved verbatim. A NULL-label
    * row gets a PRIVATE group (keyed by its own vec_id — the "null:"
    * prefix cannot collide with an md5 hex): the naive `a.label ===
    * b.label` join never pairs nulls, and a shared to_json group key
    * would (to_json silently OMITS null fields, merging every null-label
    * row of one embedding into one group whose within-branch then emits
    * pairs the naive plan does not).
    */
  def cosineNearDupPairs(spark: SparkSession, dir: String, minCosine: Double = 0.3): DataFrame = {
    import spark.implicits._
    val grouped = emb(spark, dir)
      .select($"vec_id".as("doc_id"), $"label", $"embedding",
        when($"label".isNull,
          concat(lit("null:"), $"vec_id".cast("string")))
          .otherwise(md5(to_json(struct($"label", $"embedding"))))
          .as("gkey"))
    Memo.withPersisted(grouped) {
      val reps = Dedup.repIdsOf(grouped)
        .join(grouped.select($"doc_id", $"label", $"embedding"), Seq("doc_id"))
        .select($"doc_id", $"label", $"embedding", norm($"embedding").as("nrm"))
      val repPairs = reps.as("a")
        .join(reps.as("b"),
          col("a.label") === col("b.label") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("rep_a"), col("b.doc_id").as("rep_b"),
          col("a.label").as("label"),
          round(dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
        .filter($"cosine" >= minCosine)
      val within = round(dot(col("x.embedding"), col("y.embedding")) /
        (norm(col("x.embedding")) * norm(col("y.embedding"))), 6)
      Dedup.expandRepPairs(grouped, repPairs, None, within >= minCosine)(
          col("x.label").as("label"), within.as("cosine"))
        .toDF("vec_a", "vec_b", "label", "cosine")
    }
  }

  /** SRP-LSH bucketed ANN: random-hyperplane signatures with the first
    * `nPlanes` embeddings as deterministic hyperplanes (the corpus is
    * zero-centered, so sign bits are balanced). bucket = Σ 2^i·[v·h_i ≥ 0];
    * the query probes only its own bucket — the plane literals fold into
    * the scan projection, so bucketing the whole corpus is one shuffle-
    * free pass and each query touches ~1/2^nPlanes of the data. The LSH
    * complement to the IVF variant below.
    */
  def srpLshTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      nPlanes: Int = 4, k: Int = 10): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    // static plane literals → the whole signature is one projection in
    // the scan stage; nothing shuffles until the bucket probe join
    val bucketed = e.select($"vec_id", $"label", $"embedding",
      srpBucket(headVectors(spark, dir, nPlanes)).as("bucket"))
    val q = bucketed.filter($"vec_id" === queryId)
      .select($"bucket".as("qb"), $"embedding".as("qe"))
    bucketed
      .join(broadcast(q), $"bucket" === $"qb")
      .filter($"vec_id" =!= queryId)
      .select($"vec_id", $"label",
        round(dot($"embedding", $"qe") /
          (norm($"embedding") * norm($"qe")), 6).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(k)
  }

  /** Multi-probe SRP ANN: like [[srpLshTopK]] but the query also probes
    * every bucket at hamming distance 1 from its own (nPlanes+1 buckets
    * total) — the standard LSH recall/latency knob: a near neighbor that
    * fell on the far side of ONE hyperplane is recovered at the cost of
    * probing (nPlanes+1)/2^nPlanes of the corpus instead of 1/2^nPlanes.
    * The probe set is an equality join on precomputed bucket ids, so the
    * plan shape (shuffle-free signatures + broadcast probe join) is
    * unchanged from the single-probe operator.
    */
  def srpMultiProbeTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      nPlanes: Int = 4, k: Int = 10): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val bucketed = e.select($"vec_id", $"label", $"embedding",
      srpBucket(headVectors(spark, dir, nPlanes)).as("bucket"))
    val masks = 0L +: (0 until nPlanes).map(i => 1L << i)
    val probes = bucketed.filter($"vec_id" === queryId)
      .select($"embedding".as("qe"),
        explode(array(masks.map(m => $"bucket".bitwiseXOR(lit(m))): _*)).as("probe"))
    bucketed
      .join(broadcast(probes), $"bucket" === $"probe")
      .filter($"vec_id" =!= queryId)
      .select($"vec_id", $"label",
        round(dot($"embedding", $"qe") /
          (norm($"embedding") * norm($"qe")), 6).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(k)
  }

  /** SRP-banded near-dup pairs — the 100-TB scale path for
    * [[cosineNearDupPairs]]. Candidates are pairs sharing any of `nBands`
    * SRP band signatures (multi-band OR amplification, the SimHash-banding
    * pattern) within a label; exact cosine is then applied to candidates
    * only, so every emitted pair is a true ≥`minCosine` pair and the join
    * is an equality join on (label, band, sig) — never all-pairs.
    *
    * Deliberately a SEPARATE operator from the exact [[cosineNearDupPairs]]:
    * measured on the testdata, qualifying pairs hug the threshold (min
    * cosine 0.300009 at sf0.1, median 0.327, max only 0.51), and no
    * projection-based prefilter can keep 100% recall at the threshold
    * boundary — a pair at cos≈0.3 crosses each random hyperplane with
    * p≈0.40, so banding loses a predictable fraction of borderline pairs
    * (measured: 4×4 banding keeps 23% of pair-space as candidates and
    * recalls ~46% of threshold-hugging pairs). The guarantees this
    * operator DOES make are the ones a dedup pipeline needs: recall→1 as
    * cosine→1 (an identical pair has identical signatures in every band —
    * caught deterministically), and precision 1.0 (exact cosine on every
    * candidate). The exact operator stays the ground-truth twin; this one
    * IS the contract a 100× corpus runs, and its oracle recomputes the
    * identical bucketing (as q15/q31 do), so the gate hash-matches exactly
    * rather than hoping recall is lucky.
    */
  def cosineNearDupPairsLsh(spark: SparkSession, dir: String,
      minCosine: Double = 0.3, nPlanes: Int = 16, nBands: Int = 4): DataFrame = {
    import spark.implicits._
    require(nPlanes % nBands == 0, s"nPlanes=$nPlanes not divisible by nBands=$nBands")
    val r = nPlanes / nBands
    val e = emb(spark, dir)
    // bit (pid % r) of band (pid / r): sign of the projection onto
    // hyperplane pid — folded over static plane literals, so all nBands
    // signatures materialize in one shuffle-free projection and
    // posexplode (narrow) emits the (band, sig) rows for the bucket join
    val planes = headVectors(spark, dir, nPlanes)
    val bandSigs = (0 until nBands).map { b =>
      planes.filter(_._1 / r == b)
        .map { case (pid, pe) =>
          when(dot($"embedding", litVec(pe)) >= 0, lit(1L << (pid % r))).otherwise(lit(0L)) }
        .foldLeft(lit(0L))(_ + _).cast("long")
    }
    val sigs = e
      .select($"vec_id", $"label", posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
      .select($"vec_id", $"label", $"band".cast("int").as("band"), $"sig")
    // candidate ids via the banded equality join; distinct BEFORE the
    // embedding re-join so a pair matching in several bands scores once
    val cands = sigs.as("a")
      .join(sigs.as("b"),
        col("a.label") === col("b.label") && col("a.band") === col("b.band") &&
          col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"))
      .distinct()
    val withNorm = e.select($"vec_id", $"embedding", norm($"embedding").as("nrm"))
    cands
      .join(withNorm.select($"vec_id".as("vec_a"), $"embedding".as("ea"), $"nrm".as("na")), "vec_a")
      .join(withNorm.select($"vec_id".as("vec_b"), $"embedding".as("eb"), $"nrm".as("nb")), "vec_b")
      .select($"vec_a", $"vec_b", $"label",
        round(dot($"ea", $"eb") / ($"na" * $"nb"), 6).as("cosine"))
      .filter($"cosine" >= minCosine)
  }

  /** Batch KNN graph: the top-`k` approximate nearest neighbors for EVERY
    * vector — the all-vectors generalization of [[srpLshTopK]]'s one-query
    * probe, and the structure semantic-dedup / clustering pipelines
    * consume. Each vector gets one `nPlanes`-bit SRP signature; candidates
    * are bucket-mates (equality join on the signature — expected bucket
    * size N/2^nPlanes, never all-pairs), scored exactly, and ranked per
    * vector. The ranking window partitions on vec_id — millions of tiny
    * partitions, no skew — and at 100 TB the bucket join is the same
    * shuffle shape as the MinHash band join.
    */
  private val knnGraphCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int, Long), DataFrame]

  def knnGraph(spark: SparkSession, dir: String, nPlanes: Int = 8, k: Int = 3): DataFrame =
    // memoized (round-13 optimization): ~18 registered queries — the
    // whole graph-analytics family plus the KNN similarity stats — each
    // rebuilt this identical (corpus, 8, 3) edge table per invocation
    // (bucket self-join + per-node ranking window). One persisted build
    // per (session, corpus fingerprint, geometry) is exactly the KNN
    // index a 100-TB curation pipeline materializes once; the memo owns
    // the lifetime (the kmvSketchTable discipline)
    Memo.cached(knnGraphCache,
        (spark, dir, nPlanes, k,
          Memo.fingerprint(spark, s"$dir/embeddings.parquet")),
        label = s"knnGraph/$nPlanes/$k") {
      val df = knnGraphUncached(spark, dir, nPlanes, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  private def knnGraphUncached(spark: SparkSession, dir: String,
      nPlanes: Int, k: Int): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    // foldLeft, not reduce: an empty corpus has no head vectors, and
    // the operator must degrade to an empty result, not throw
    val bucketed = e.select($"vec_id", $"embedding",
      srpBucket(headVectors(spark, dir, nPlanes)).as("bucket"),
      norm($"embedding").as("nrm"))
    val pairs = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"cosine".desc, $"neighbor_id")
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= k)
  }

  /** Int8 quantization diagnostics: symmetric per-vector quantization
    * (scale = 127 / max|x|, round-half-up) and the relative L2
    * reconstruction error it costs, aggregated per label — the go/no-go
    * measurement before shipping a 4×-smaller quantized index. Pure
    * map-side array math (quantize, dequantize, error) with a tiny
    * per-label aggregate; at 100 TB this is one scan, no join, no skew.
    */
  def quantizationError(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val xd = transform($"embedding", x => x.cast("double"))
    // floor(x·s + 0.5) is round-half-toward-+inf in Spark and DuckDB
    // alike (double `round` ties differ between engines); m > 0 keeps
    // q within [-127, 127] with no clamp
    val withErr = e
      .select($"vec_id", $"label", xd.as("x"),
        array_max(transform(xd, v => abs(v))).as("m"))
      .withColumn("q",
        when($"m" > 0,
          transform($"x", v => floor(v * lit(127.0) / $"m" + lit(0.5))))
          .otherwise($"x"))
      .withColumn("err2",
        aggregate(zip_with($"x", $"q", (xv, qv) =>
            (xv - qv * $"m" / lit(127.0)) * (xv - qv * $"m" / lit(127.0))),
          lit(0.0), (acc, v) => acc + v))
      .withColumn("nrm2",
        aggregate($"x", lit(0.0), (acc, v) => acc + v * v))
      .select($"label",
        when($"nrm2" > 0, sqrt($"err2" / $"nrm2")).otherwise(lit(0.0)).as("rel_err"))
    withErr.groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg($"rel_err"), 6).as("avg_rel_err"),
        round(max($"rel_err"), 6).as("max_rel_err"))
  }

  /** Hash-sampled centroid vectors: the first `n` vectors (in vec_id
    * order) of the deterministic ~10% md5-prefix sample (the q47 trick) —
    * spread pseudo-randomly across the corpus instead of "first n rows",
    * which inherits whatever ordering bias the ingest had (e.g. sorted by
    * label → all centroids from one label). Deterministic, so the DuckDB
    * oracle recomputes the identical centroid set; a trained k-means
    * would trade that property away. One plan-time pass; at 100 TB the
    * sampled centroid set is computed once per index build and reused by
    * every query, not per probe.
    */
  private def sampledCentroids(spark: SparkSession, dir: String,
      n: Int, hexMax: String = "19"): Seq[(Int, Seq[Float])] =
    emb(spark, dir)
      .filter(substring(md5(col("vec_id").cast("string")), 1, 2) <= hexMax)
      .orderBy(col("vec_id"))
      .limit(n)
      .select(col("embedding")).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0).toSeq) }.toSeq

  /** Nearest-centroid assignment as a pure scan projection: max cosine,
    * min centroid_id on ties — an argmax over a STATIC centroid list, so
    * it folds into greatest(struct(c_cos, -cid), ...) and costs no
    * shuffle. The earlier shapes paid a shuffle to undo a ×nCentroids
    * row multiplication (round-2: a corpus×8 window; round-3 interim: a
    * max_by aggregate — better, still an exchange). Shared by the IVF
    * probe and [[semanticDedup]].
    */
  private def assignToCentroids(e: DataFrame,
      cents: Seq[(Int, Seq[Float])]): DataFrame = {
    import e.sparkSession.implicits._
    def cCos(ce: Seq[Float]): Column =
      round(dot($"embedding", litVec(ce)) /
        (norm($"embedding") * lit(litNorm(ce))), 6)
    val cands = cents.map { case (cid, ce) =>
      struct(cCos(ce).as("c_cos"), lit(-cid).as("neg_cid"))
    }
    e.select($"vec_id", $"label", $"embedding",
      // degenerate corpora: no centroids → constant cell over zero rows;
      // one centroid → no argmax needed (greatest() requires 2+ args)
      (cands match {
        case Seq() => lit(0)
        case Seq(only) => -only.getField("neg_cid")
        case many => -greatest(many: _*).getField("neg_cid")
      }).as("centroid_id"))
  }

  /** Semantic dedup (the SemDeDup recipe): partition the corpus into
    * centroid cells, compare pairs only WITHIN a cell, and drop every
    * vector that has a more-senior (smaller vec_id) cell-mate above the
    * cosine threshold. The quadratic term is per-cell, not per-corpus —
    * at 100 TB you raise nCentroids so cells stay bounded (the paper
    * runs ~100k clusters over web-scale embeddings) and the cell join is
    * an equality join on centroid_id, the same shuffle shape as the LSH
    * bucket joins. Keeps are decided against seniors only, so the result
    * is order-deterministic and the DuckDB oracle recomputes it exactly.
    */
  def semanticDedup(spark: SparkSession, dir: String, nCentroids: Int = 8,
      minCosine: Double = 0.35): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = sampledCentroids(spark, dir, nCentroids)
    // no centroids (corpus too small for the md5 sample to hit): refuse
    // to dedup rather than silently collapsing everything into one cell
    // — the one-cell fallback would compare ALL pairs (corpus-quadratic,
    // exactly the bound cells exist to enforce) and diverge from the
    // oracle, whose cross join against zero centroids yields zero rows
    if (cents.isEmpty) {
      return e.select($"vec_id", $"label", lit(0L).as("centroid_id"),
        lit(true).as("keep")).limit(0)
    }
    val assigned = assignToCentroids(e, cents)
      .withColumn("nrm", norm($"embedding"))
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter($"cos" >= minCosine)
      .select($"vec_id").distinct()
    assigned
      .join(dropped.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select($"vec_id", $"label", $"centroid_id".cast("long").as("centroid_id"),
        coalesce(!$"is_dup", lit(true)).as("keep"))
  }

  /** Embedding-space decontamination: flag EVAL vectors whose nearest
    * TRAIN vector (by cosine) is suspiciously close — the semantic
    * complement of the n-gram overlap checks (q63/q66), catching
    * paraphrased/near-translated leakage that token grams miss. The
    * train/eval split is the deterministic md5 trick shared with
    * q47/q63. Candidate pairs are SRP-bucket-blocked exactly like
    * [[knnGraph]] — an equality join on the signature, never eval×train
    * all-pairs — so this screens at 100 TB with the same shuffle shape;
    * as with any LSH screen the max is over bucket-mates (documented
    * approximate recall, deterministic, oracle-recomputed identically).
    */
  def embeddingDecontamination(spark: SparkSession, dir: String,
      nPlanes: Int = 8, maxCosine: Double = 0.35): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    // persisted: the bucketed projection feeds THREE consumers (train
    // side, eval side, and the totality join) — without the cache each
    // re-derives the scan + SRP fold; released after the checkpointed
    // per-eval result (pageRankKnn lifecycle)
    val bucketed = e.select($"vec_id", $"embedding",
      srpBucket(headVectors(spark, dir, nPlanes)).as("bucket"),
      norm($"embedding").as("nrm"),
      isTrainVec.as("is_train"))
    Memo.withPersisted(bucketed) {
    val train = bucketed.filter($"is_train")
    val eval_ = bucketed.filter(!$"is_train")
    val screened = eval_.as("e")
      .join(train.as("t"), col("e.bucket") === col("t.bucket"))
      .select(col("e.vec_id").as("vec_id"),
        round(dot(col("e.embedding"), col("t.embedding")) /
          (col("e.nrm") * col("t.nrm")), 6).as("cos"))
      .groupBy($"vec_id")
      .agg(max($"cos").as("max_train_cosine"),
        count(lit(1)).as("n_candidates"))
    // the per-eval contract is TOTAL: an eval vector sharing a bucket
    // with no train vector is "screened clean, zero candidates" — a row
    // with a null max cosine, not a silent absence a consumer can't tell
    // apart from "not an eval vector"
    eval_.select($"vec_id")
      .join(screened, Seq("vec_id"), "left")
      .select($"vec_id", $"max_train_cosine",
        coalesce($"n_candidates", lit(0L)).as("n_candidates"),
        coalesce($"max_train_cosine" >= maxCosine, lit(false)).as("contaminated"))
      .localCheckpoint(true)
    }
  }

  /** IVF-style bucketed ANN over [[sampledCentroids]] (deterministic
    * hash-sampled — no trained k-means in the oracle path). Every vector
    * is assigned to its nearest centroid; the query searches its
    * `nProbe` nearest cells — the standard IVF recall/latency knob. At
    * 100 TB the assignment is a shuffle-free scan projection and each
    * query touches nProbe/nCentroids of the data. [[ivfRecallAtK]]
    * measures what the partial probe costs in recall vs the exact top-k;
    * on the near-random synthetic testdata recall tracks the probed
    * fraction (measured 0.4-0.8 at nProbe=3 of 8 across scales — no
    * cluster structure to exploit), which is exactly the kind of
    * go/no-go fact the recall query exists to surface before anyone
    * trusts the index on a real corpus.
    */
  def annIvfTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      nCentroids: Int = 8, k: Int = 10, nProbe: Int = 3): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = sampledCentroids(spark, dir, nCentroids)
    val assigned = assignToCentroids(e, cents)
    // the query's nProbe nearest cells: rank the static centroid list
    // against the ONE query row (posexplode emits nCentroids rows for
    // it; the window sorts those few rows, nothing corpus-sized)
    val qProbes = e.filter($"vec_id" === queryId)
      .select($"embedding".as("q_embedding"),
        posexplode(array(cents.map { case (_, ce) =>
          round(dot($"embedding", litVec(ce)) /
            (norm($"embedding") * lit(litNorm(ce))), 6)
        }: _*)).as(Seq("cid", "c_cos")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"c_cos".desc, $"cid")))
      .filter($"rk" <= nProbe)
      .select($"cid".as("q_cell"), $"q_embedding")
    assigned
      .join(broadcast(qProbes), $"centroid_id" === $"q_cell")
      .filter($"vec_id" =!= queryId)
      .select($"vec_id", $"label",
        round(dot($"embedding", $"q_embedding") /
          (norm($"embedding") * norm($"q_embedding")), 6).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(k)
  }

  /** Distributed Lloyd k-means over cosine similarity — the TRAINED
    * upgrade of [[sampledCentroids]] (round-3 verdict caveat: sampled
    * centroids are deterministic but uncalibrated). Classic scalable
    * shape: per round, assignment is a shuffle-free scan projection
    * against centroid LITERALS (the argmax-over-structs trick), the mean
    * recompute is one (cluster, dim)-keyed aggregate — k·dim cells —
    * and only the k×dim centroid matrix ever reaches the driver. Fixed
    * `iters` and centroids rounded to 4 decimals between rounds keep the
    * whole trajectory deterministic, so the DuckDB oracle replays the
    * identical iterations (empty clusters keep their previous centroid,
    * coalesce-mirrored on both sides). The mean rounding is
    * DELIBERATELY coarse: avg() partial-sum merge order is not
    * deterministic, so a mean within summation error (~1e-12) of a
    * rounding boundary could round differently across runs/engines and
    * the flipped centroid would cascade through every later iteration —
    * at 1e-4 granularity the flip probability is negligible where at
    * 1e-6 it was merely small. Emits the final assignment with its
    * round-6 cosine — the value-dense gate.
    */
  def kmeansAssign(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, dp: Int = 4): DataFrame = {
    import spark.implicits._
    // persisted: every Lloyd round (and the final assignment) re-derives
    // from this table — without the cache each round re-reads and
    // re-decodes the parquet; released after the checkpointed result
    val e = emb(spark, dir)
    Memo.withPersisted(e) {
      lloydSeeds(spark, dir, k) match {
        case None => e.select($"vec_id", lit(0L).as("cluster_id"),
          lit(0.0).as("cosine")).limit(0)
        case Some(init) =>
          // a failed mid-loop collect must not leak the cached table for
          // the JVM's lifetime (Bench keeps running after a query fails)
          val cents = (1 to iters).foldLeft(init)((cs, _) => lloydStep(e, cs, dp))
          assignToLloyd(e, cents).select($"vec_id", $"cluster_id", $"cosine")
            .localCheckpoint(true)
      }
    }
  }

  /** [[kmeansAssign]] iterated to a detected fixpoint (cap `maxIters`):
    * Lloyd rounds stop as soon as the round-3 centroid matrix REPEATS —
    * identical literals assign identically, so every later round is a
    * no-op and the `maxIters`-round oracle unroll equals the
    * early-stopped loop on every input (the q224/q225 shared-cap
    * argument, now on the clustering family). The repeat test compares
    * the rounded trajectory literals, never raw float sums, so the exit
    * is sound across engines (the q225 integer-exit rule transposed to
    * the rounded grid). dp=3 is q231's own grid, MEASURED: at 4dp the
    * sf0.001 trajectory wanders 18 rounds and at 2dp rounding kicks the
    * centroids into oscillation (13), while 3dp settles in 7; when a
    * corpus does not settle within the cap the loop just IS the
    * fixed-cap run and unroll equality still holds.
    *
    * Scale: each executed round is the kmeansAssign shape (scan
    * projection + k·dim-cell aggregate); convergence detection is a
    * driver-side k×dim matrix equality — free. On converging inputs
    * this does strictly less work than a fixed cap; on non-converging
    * ones the cap bounds it.
    */
  def kmeansFixpoint(spark: SparkSession, dir: String, k: Int = 8,
      maxIters: Int = 8): DataFrame =
    kmeansFixpointWithStats(spark, dir, k, maxIters)._1

  /** [[kmeansFixpoint]] plus the number of Lloyd rounds actually
    * executed — the early-exit observability hook the spec asserts on.
    */
  private[ops] def kmeansFixpointWithStats(spark: SparkSession,
      dir: String, k: Int = 8, maxIters: Int = 8): (DataFrame, Int) = {
    import spark.implicits._
    val e = emb(spark, dir)
    Memo.withPersisted(e) {
      lloydSeeds(spark, dir, k) match {
        case None => (e.select($"vec_id", lit(0L).as("cluster_id"),
          lit(0.0).as("cosine")).limit(0), 0)
        case Some(init) =>
          var cents = init
          var it = 0
          var converged = false
          while (it < maxIters && !converged) {
            val next = lloydStep(e, cents, dp = 3)
            converged = next == cents
            cents = next
            it += 1
          }
          (assignToLloyd(e, cents).select($"vec_id", $"cluster_id", $"cosine")
            .localCheckpoint(true), it)
      }
    }
  }

  /** The float k-means start of q74/q108/q231/q234: the `k` md5-sampled
    * seeds as double centroids, or None — the degenerate-corpus guard —
    * when fewer than `minCents` exist.
    */
  private def lloydSeeds(spark: SparkSession, dir: String, k: Int,
      minCents: Int = 1): Option[Seq[(Int, IndexedSeq[Double])]] = {
    val cents = sampledCentroids(spark, dir, k)
      .map { case (cid, v) => (cid, v.map(_.toDouble).toIndexedSeq) }
    if (cents.sizeIs < minCents) None else Some(cents)
  }

  /** The (cos, neg_cid) struct of `embedding` against one literal double
    * centroid: the round-6 cosine and the negated id, so greatest() over
    * the structs is max cosine with ties to the lowest centroid id. The
    * centroid norm keeps litNorm's left-to-right accumulation (floats
    * widen losslessly, so one contract serves both element types).
    */
  private def lloydCosStruct(cid: Int, ce: IndexedSeq[Double]): Column = {
    val nrm = math.sqrt(ce.foldLeft(0.0)((a, v) => a + v * v))
    struct(round(dot(col("embedding"), lit(ce.toArray)) /
      (norm(col("embedding")) * lit(nrm)), 6).as("cos"),
      lit(-cid).as("neg_cid"))
  }

  /** Nearest-centroid assignment against literal double centroids (the
    * Lloyd-loop twin of [[assignToCentroids]]): max round-6 cosine, ties
    * to the lowest centroid id, as a pure scan projection — a
    * greatest(struct) over one codegen'd vec_dot per centroid. The
    * double-precision dot keeps the same left-to-right accumulation as
    * the oracle's list_sum comprehension; one expression per centroid
    * rather than an unrolled k×dim element_at chain (which blew the
    * whole-stage-codegen budget and fell back to interpreted eval).
    */
  private def assignToLloyd(e: DataFrame,
      cs: Seq[(Int, IndexedSeq[Double])]): DataFrame = {
    import e.sparkSession.implicits._
    val cands = cs.map { case (cid, ce) => lloydCosStruct(cid, ce) }
    val best = if (cands.sizeIs == 1) cands.head else greatest(cands: _*)
    e.select($"vec_id", $"embedding",
      (-best.getField("neg_cid")).cast("long").as("cluster_id"),
      best.getField("cos").as("cosine"))
  }

  /** One Lloyd mean-update: per-cluster per-dimension averages, rounded
    * to 4 decimals BEFORE re-broadcast (trajectory discipline — both
    * engines iterate on identical literals, see [[kmeansAssign]]).
    * Clusters that lost every member keep their old centroid.
    */
  private def lloydStep(e: DataFrame,
      cents: Seq[(Int, IndexedSeq[Double])],
      dp: Int = 4): Seq[(Int, IndexedSeq[Double])] = {
    val means = lloydMeans(assignToLloyd(e, cents), dp)
    cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
  }

  private def lloydMeans(assigned: DataFrame,
      dp: Int = 4): Map[Int, IndexedSeq[Double]] = {
    import assigned.sparkSession.implicits._
    assigned
      .select($"cluster_id", posexplode($"embedding").as(Seq("p", "v")))
      .groupBy($"cluster_id", $"p").agg(avg($"v".cast("double")).as("c"))
      .groupBy($"cluster_id")
      .agg(transform(array_sort(collect_list(struct($"p", $"c"))),
        s => round(s("c"), dp)).as("ce"))
      .collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Double](1).toIndexedSeq)
      .toMap
  }

  /** The convergence REPORT for the final Lloyd round — what an operator
    * monitoring a real k-means-at-scale run reads: per centroid, the
    * member count, mean assignment cosine, and the L2 distance the
    * centroid moved ("shift" → 0 as the clustering converges). Runs the
    * same rounded trajectory as [[kmeansAssign]] for iters-1 rounds,
    * then instruments the last round instead of discarding it.
    *
    * Scale: identical to kmeansAssign — per round one scan-projection
    * assignment plus a dim-bounded aggregate; the report adds only a
    * k-row stats aggregate and a driver-side k×dim shift computation
    * (the same bounded-collect argument as the means themselves).
    */
  def lloydUpdate(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    Memo.withPersisted(e) {
      lloydSeeds(spark, dir, k) match {
        case None => e.sparkSession.emptyDataFrame
          .select(lit(0L).as("cluster_id"), lit(0L).as("n_assigned"),
            lit(0.0).as("mean_cosine"), lit(0.0).as("shift")).limit(0)
        case Some(init) =>
          val prev = (1 until iters).foldLeft(init)((cs, _) => lloydStep(e, cs))
          // the final round's assignment feeds both the stats aggregate
          // and the mean update — persist so the scan projection runs once
          val a = assignToLloyd(e, prev)
          Memo.withPersisted(a) {
            val means = lloydMeans(a)
            val next = prev.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
            val shifts = prev.zip(next).map { case ((cid, p), (_, n)) =>
              // left-to-right fold over the round-4 literals: the exact
              // summation order the oracle's list_sum comprehension uses
              val ss = p.zip(n).foldLeft(0.0) { case (acc, (x, y)) =>
                acc + (x - y) * (x - y) }
              (cid.toLong,
                BigDecimal(math.sqrt(ss))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            }.toDF("cluster_id", "shift")
            val stats = a.groupBy($"cluster_id")
              .agg(count(lit(1)).as("n_assigned"),
                round(avg($"cosine"), 4).as("mean_cosine"))
            // k-row join: a centroid that lost every member still reports,
            // with n_assigned = 0 and a null mean cosine
            shifts.join(stats, Seq("cluster_id"), "left")
              .select($"cluster_id",
                coalesce($"n_assigned", lit(0L)).as("n_assigned"),
                $"mean_cosine", $"shift")
              .localCheckpoint(true)
          }
      }
    }
  }

  /** Top principal component by power iteration — the embedding-space
    * diagnostic behind whitening / anisotropy checks ("is the space
    * collapsing onto one axis?"): v ← normalize(E[(x·v)·x]) for a fixed
    * iteration count from the deterministic all-equal start, then every
    * vector's projection onto the converged axis. The q74 trajectory
    * discipline makes it oracle-replayable: the per-dimension averages
    * round to 4 BEFORE re-broadcast each round, so both engines iterate
    * on identical literals and summation-order noise cannot accumulate.
    *
    * Scale: each round is ONE pass — a codegen'd vec_dot projection and
    * a posexplode into a dim-sized (≤64-row) aggregate; driver state is
    * one dim-vector per round (the same bounded-collect argument as the
    * k-means means and the digest fold). T rounds = T scans; the final
    * scores are a last narrow pass. No shuffle ever exceeds dim rows.
    */
  def principalComponent(spark: SparkSession, dir: String,
      dim: Int = 64, iters: Int = 4): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    Memo.withPersisted(e) {
      var v: IndexedSeq[Double] = IndexedSeq.fill(dim)(1.0 / math.sqrt(dim))
      var live = true
      for (_ <- 1 to iters if live) {
        val w = e
          .select(dot($"embedding", lit(v.toArray)).as("p"),
            posexplode($"embedding").as(Seq("o", "x")))
          .groupBy($"o")
          .agg(round(avg($"p" * $"x".cast("double")), 4).as("w"))
          .collect()
          .map(r => r.getInt(0) -> r.getDouble(1))
          .sortBy(_._1).map(_._2).toIndexedSeq
        if (w.isEmpty) live = false
        else {
          // norm over the ROUNDED components, left-to-right like the
          // oracle's ordered list_sum — identical inputs, same fold
          val nrm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
          if (nrm == 0.0) live = false
          else v = w.map(x => BigDecimal(x / nrm)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      e.select($"vec_id", $"label".cast("long").as("label"),
          round(dot($"embedding", lit(v.toArray)), 6).as("pc_score"))
        .localCheckpoint(true)
    }
  }

  /** Measured recall@k of the IVF cell probe against [[cosineTopK]]'s
    * exact brute-force ranking — the go/no-go number for shipping the
    * approximate index. Both sides are deterministic (round-6 cosine,
    * vec_id tie-break), so the DuckDB oracle recomputes the IDENTICAL
    * recall value; `recall_ok` additionally pins the quality floor so a
    * centroid-selection regression fails the gate even if both engines
    * regress identically. Both inputs are k-row tables — the "measure,
    * don't guess" step costs one extra brute-force scan, run at index
    * build time, never per query.
    */
  def ivfRecallAtK(spark: SparkSession, dir: String, queryId: Long = 0L,
      nCentroids: Int = 8, k: Int = 10, floor: Double = 0.4): DataFrame = {
    import spark.implicits._
    val ivf = annIvfTopK(spark, dir, queryId, nCentroids, k).select($"vec_id")
    val brute = cosineTopK(spark, dir, queryId, k).select($"vec_id".as("bv"))
    ivf.join(brute, $"vec_id" === $"bv", "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(k.toLong).as("k"), $"n_hits",
        round($"n_hits".cast("double") / k, 6).as("recall"),
        ($"n_hits".cast("double") / k >= floor).as("recall_ok"))
  }

  /** Semi-supervised KNN label vote: predict each EVAL vector's label
    * from the majority label of its TRAIN-side KNN neighbors (md5
    * split, the q72 convention) — the cheap label-propagation baseline
    * a labeling pipeline runs before training a classifier, and a
    * direct quality probe of the KNN graph (a graph whose votes can't
    * recover held-out labels is a bad graph). Ties break to the
    * smallest label; eval vectors with no train neighbor in the graph
    * emit a null prediction rather than vanishing (q72's totality
    * contract).
    *
    * Scale: the vote consumes [[knnGraph]]'s bounded-degree edges —
    * per-vec vote tables are ≤ k rows, the ranking window partitions
    * by vec_id (millions of tiny partitions, no skew), and the label
    * map joins on vec_id. Nothing quadratic beyond the bucketed graph
    * itself.
    */
  def knnLabelVote(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val split = emb(spark, dir).select($"vec_id", $"label",
      isTrainVec.as("is_train"))
    val votes = knnGraph(spark, dir, nPlanes, k)
      .join(split.filter(!$"is_train").select($"vec_id"), "vec_id")
      .join(split.filter($"is_train")
        .select($"vec_id".as("neighbor_id"), $"label".as("nlabel")), "neighbor_id")
      .groupBy($"vec_id", $"nlabel").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"c".desc, $"nlabel")
    val best = votes
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"nlabel".as("pred_label"))
    val counts = votes.groupBy($"vec_id")
      .agg(sum($"c").as("n_train_neighbors"))
    split.filter(!$"is_train")
      .select($"vec_id", $"label".as("true_label"))
      .join(best, Seq("vec_id"), "left")
      .join(counts, Seq("vec_id"), "left")
      .select($"vec_id", $"true_label",
        coalesce($"n_train_neighbors", lit(0L)).as("n_train_neighbors"),
        $"pred_label",
        ($"pred_label" === $"true_label").as("correct"))
  }

  /** Per-dimension embedding-space profile: mean / sample-stddev / range
    * for every coordinate — the drift-and-collapse diagnostic a pipeline
    * runs when an embedding model changes (a dimension whose stddev → 0
    * is dead; a mean far off 0 signals an un-centered batch). Complements
    * q105's global anisotropy check with per-axis detail.
    *
    * Scale: one pass — posexplode multiplies rows by dim (bounded, ≤64)
    * into a dim-keyed aggregate with map-side combine, so the shuffle is
    * dim rows regardless of corpus size. Same shape as the Lloyd means.
    */
  def embeddingProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    emb(spark, dir)
      .select(posexplode($"embedding").as(Seq("p", "f")))
      .select($"p".cast("long").as("dim"), $"f".cast("double").as("v"))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"),
        round(avg($"v"), 6).as("mean_v"),
        round(stddev_samp($"v"), 6).as("std_v"),
        round(min($"v"), 6).as("min_v"),
        round(max($"v"), 6).as("max_v"))
  }

  /** Hybrid retrieval: BM25 lexical top-k (q86), reranked by embedding
    * cosine to the top lexical hit (query-by-document — the standard
    * two-stage retrieve-then-rerank shape when no query embedding
    * exists). hybrid = 0.5·(bm25/max_bm25) + 0.5·cosine, both halves
    * normalized to comparable ranges.
    *
    * Scale: stage 1 is the q86 scan+aggregate; stage 2 touches only the
    * k hit rows — their embeddings come from ONE join of the broadcast
    * hit list against the vector table, checkpointed so the pseudo-query
    * collect (one bounded vector, the centroid-collect argument) and the
    * rerank projection reuse it instead of re-scanning.
    */
  def hybridRerank(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "join", "window"),
      k: Int = 15): DataFrame = {
    import spark.implicits._
    val hitList = TextAnalysis.bm25TopK(spark, dir, terms, k)
      .select($"doc_id", $"score")
    val hits = emb(spark, dir)
      .join(broadcast(hitList), $"vec_id" === $"doc_id")
      .select($"doc_id", $"score", $"embedding")
      .localCheckpoint(true)
    val top = hits.orderBy($"score".desc, $"doc_id").limit(1)
      .select($"embedding", $"score").collect()
    if (top.isEmpty) {
      return hits.select($"doc_id", $"score".as("bm25"),
        lit(0.0).as("cosine"), lit(0.0).as("hybrid")).limit(0)
    }
    // pseudo-query vector as exact doubles-of-floats: the same values
    // the oracle's CAST(qe[i] AS DOUBLE) comprehension sees
    val qe = top.head.getSeq[Float](0).map(_.toDouble).toArray
    val qNorm = math.sqrt(qe.foldLeft(0.0)((a, v) => a + v * v))
    val maxScore = top.head.getDouble(1)
    hits.select($"doc_id", $"score".as("bm25"),
        round(dot($"embedding", lit(qe)) /
          (norm($"embedding") * lit(qNorm)), 6).as("cosine"))
      .select($"doc_id", $"bm25", $"cosine",
        round(lit(0.5) * $"bm25" / lit(maxScore) + lit(0.5) * $"cosine", 6)
          .as("hybrid"))
  }

  /** Greedy k-center coreset selection (q174): `k` rounds of
    * farthest-point sampling — start from the lowest vec_id, then
    * repeatedly add the vector maximizing its cosine DISTANCE to the
    * nearest already-selected center — the classic 2-approximation to
    * the k-center cover, and the data-pruning primitive that picks a
    * maximally-spread training subset instead of a random one. Emitted
    * per pick: selection order, vec_id, and the coverage radius at
    * selection time (the distance that pick closed).
    *
    * Scale: each round is ONE distributed pass — a least() over
    * per-center codegen'd vec_dot projections against the ≤k LITERAL
    * centers (the q74 Lloyd pattern: small iterative state lives on the
    * driver) feeding a TakeOrdered(1) — so k centers cost k scans, never
    * a pairwise matrix. Distances are rounded BEFORE the argmax and ties
    * break on vec_id, so the trajectory is deterministic and the oracle
    * replays it as generated CTE rounds.
    */
  def kCenterCoreset(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
      .select($"vec_id", $"embedding", norm($"embedding").as("nrm"))
    Memo.withPersisted(e) {
      val seedRow = e.orderBy($"vec_id").limit(1).collect()
      if (seedRow.isEmpty)
        Seq.empty[(Long, Long, Option[Double])]
          .toDF("sel_order", "vec_id", "dist_at_selection")
      else {
        def vecOf(r: org.apache.spark.sql.Row): (Long, Seq[Float]) =
          (r.getLong(0), r.getSeq[Float](1).toSeq)
        var selected = Seq(vecOf(seedRow(0)))
        val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double])](
          (1L, selected.head._1, None))
        for (i <- 2 to k) {
          val dist = selected.map { case (_, sv) =>
            round(lit(1.0) - dot($"embedding", litVec(sv)) /
              ($"nrm" * lit(litNorm(sv))), 6)
          }.reduce(least(_, _))
          val next = e
            .filter(!$"vec_id".isInCollection(selected.map(_._1)))
            .select($"vec_id", $"embedding", dist.as("d"))
            .orderBy($"d".desc, $"vec_id").limit(1).collect()
          if (next.nonEmpty) {
            selected = selected :+ vecOf(next(0))
            picks += ((i.toLong, next(0).getLong(0),
              Some(next(0).getDouble(2))))
          }
        }
        picks.toSeq.toDF("sel_order", "vec_id", "dist_at_selection")
      }
    }
  }

  /** SRP-bucketed triplet mining (q171): for every anchor, the HARDEST
    * positive (lowest-cosine bucket-mate with the SAME label) and the
    * HARDEST negative (highest-cosine bucket-mate with a DIFFERENT
    * label), plus the margin gap and the violation flag — the
    * contrastive-training data op. ANN-approximated on purpose: both
    * sides search the anchor's LSH bucket, because at 100 TB "hardest
    * negative in the corpus" is an all-pairs scan while hard-ENOUGH
    * negatives (the ones near the anchor in cosine space) are exactly
    * what LSH buckets concentrate — same recall trade q51/q54 document.
    *
    * One bucket-equality self-join (expected bucket N/2^planes, never
    * all-pairs), persisted because the positive and negative branches
    * both rank it; anchors lacking a same-label or different-label
    * bucket-mate drop out (inner joins) — a triplet needs all three
    * legs.
    *
    * Exact-dedup-first is BUILT IN (the q148 treatment, keyed by md5 of
    * (label, embedding)): byte-identical same-label vectors collapse to
    * one representative, so the bucket self-join and the per-anchor
    * ranking windows run over DISTINCT vectors — on a corpus duplicated
    * k ways that is k² less pair work. Expansion is exact because every
    * member of a group sees the same candidate multiset except itself:
    * cross-group winners are shared by the whole group (ties pick the
    * min candidate id, which within a collapsed group IS its rep, and
    * across tied groups the min rep is the min member); the only
    * member-dependent candidate is the anchor's own group (same label,
    * self-cosine, candidate id = the group's min id, or its second-min
    * when the anchor IS the min), which competes against the cross-group
    * winner under the same (cosine asc, id asc) order. Negatives have no
    * in-group leg (labels match inside a group), so the group winner is
    * every member's winner.
    */
  def tripletMining(spark: SparkSession, dir: String, nPlanes: Int = 4,
      margin: Double = 0.2): DataFrame = {
    import spark.implicits._
    val planes = headVectors(spark, dir, nPlanes)
    val grouped = emb(spark, dir)
      .select($"vec_id", $"label", $"embedding",
        md5(to_json(struct($"label", $"embedding"))).as("gkey"))
    Memo.withPersisted(grouped) {
      val g1 = grouped.groupBy($"gkey")
        .agg(min($"vec_id").as("min1"), count(lit(1)).as("n_g"))
      val g2 = grouped.join(g1.select($"gkey", $"min1"), Seq("gkey"))
        .filter($"vec_id" =!= $"min1")
        .groupBy($"gkey").agg(min($"vec_id").as("min2"))
      val gstats = g1.join(g2, Seq("gkey"), "left")
      val reps = grouped.join(g1.select($"gkey", $"min1"), Seq("gkey"))
        .filter($"vec_id" === $"min1")
        .select($"gkey", $"vec_id", $"label", $"embedding",
          srpBucket(planes).as("bucket"), norm($"embedding").as("nrm"))
        // the naive cosine expression on identical inputs — preserves
        // round/NaN behavior for the in-group positive leg verbatim
        .withColumn("self_cos",
          round(dot($"embedding", $"embedding") / ($"nrm" * $"nrm"), 6))
      val pairs = reps.as("a").join(reps.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.gkey").as("ag"), col("a.label").as("label"),
          col("b.vec_id").as("cand"), col("b.label").as("cand_label"),
          round(dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      Memo.withPersisted(reps, pairs) {
        val wPos = org.apache.spark.sql.expressions.Window
          .partitionBy($"ag").orderBy($"cosine".asc, $"cand")
        val posCross = pairs.filter($"cand_label" === $"label")
          .withColumn("rk", row_number().over(wPos)).filter($"rk" === 1)
          .select($"ag", $"cand".as("pc_id"), $"cosine".as("pc_cos"))
        val wNeg = org.apache.spark.sql.expressions.Window
          .partitionBy($"ag").orderBy($"cosine".desc, $"cand")
        val negCross = pairs.filter($"cand_label" =!= $"label")
          .withColumn("rk", row_number().over(wNeg)).filter($"rk" === 1)
          .select($"ag", $"cand".as("neg_id"), $"cosine".as("neg_cos"))
        grouped.select($"vec_id".as("anchor"), $"label", $"gkey".as("ag"))
          .join(gstats.select($"gkey".as("ag"), $"min1", $"min2", $"n_g"),
            Seq("ag"))
          .join(reps.select($"gkey".as("ag"), $"self_cos"), Seq("ag"))
          .join(posCross, Seq("ag"), "left")
          .join(negCross, Seq("ag"))
          .withColumn("ing_id", when($"n_g" >= 2,
            when($"anchor" === $"min1", $"min2").otherwise($"min1")))
          .withColumn("use_ing",
            $"ing_id".isNotNull && ($"pc_cos".isNull ||
              $"self_cos" < $"pc_cos" ||
              ($"self_cos" === $"pc_cos" && $"ing_id" < $"pc_id")))
          .filter($"use_ing" || $"pc_cos".isNotNull)
          .withColumn("pos_id",
            when($"use_ing", $"ing_id").otherwise($"pc_id"))
          .withColumn("pos_cos",
            when($"use_ing", $"self_cos").otherwise($"pc_cos"))
          .select($"anchor", $"label", $"pos_id", $"pos_cos",
            $"neg_id", $"neg_cos",
            round($"pos_cos" - $"neg_cos", 6).as("gap"),
            ($"neg_cos" > $"pos_cos" - margin).as("margin_violation"))
          .localCheckpoint(true)
      }
    }
  }

  /** Label purity per SRP-LSH bucket (q132): for each of the 2^nPlanes
    * hash buckets, the share of its vectors carrying the bucket's
    * majority label (ties → smallest label) — the cheap external check
    * of whether the LSH partitioning respects the label structure, run
    * before anyone trusts bucketed near-dup candidates. Signatures are
    * the same static-plane scan projection as every SRP operator (zero
    * shuffle); everything downstream aggregates (bucket, label) cells —
    * at most 2^nPlanes × |labels| rows.
    */
  def lshLabelPurity(spark: SparkSession, dir: String, nPlanes: Int = 4): DataFrame = {
    import spark.implicits._
    val cells = emb(spark, dir)
      .select($"vec_id", $"label",
        srpBucket(headVectors(spark, dir, nPlanes)).as("bucket"))
      .groupBy($"bucket", $"label").agg(count(lit(1)).as("n"))
    val byBucket = Window.partitionBy($"bucket")
    cells
      .withColumn("n_vecs", sum($"n").over(byBucket))
      .withColumn("rk", row_number().over(
        byBucket.orderBy($"n".desc, $"label")))
      .filter($"rk" === 1)
      .select($"bucket", $"n_vecs",
        $"label".cast("long").as("majority_label"), $"n".as("majority_n"),
        round($"n".cast("double") / $"n_vecs", 6).as("purity"))
  }

  // ---- vector quantization: the decisions every k-means, PQ and IVF
  // query shares (q74/q108/q231/q234, q184, q269-q271, q276, q277,
  // q280, q295, q300-q303), each declared once

  /** e3 integer view of the `embedding` column: round(x·1e3) per
    * component — the routing index's scale, shared with the streaming
    * bucketer (`streaming.VecStreams`) so the two cannot drift.
    */
  private[graft] def e3Col: Column = expr(
    "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")

  /** e6 integer view of the `embedding` column: [[qe6of]] per component,
    * the scale of every PQ/IVF codebook.
    */
  private def e6Col: Column = expr(
    "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint) * 1000)")

  /** e6 integer view of a float component: round(x·1e3)·1e3 — the e3
    * corpus quantization lifted to the centroid scale (the driver-side
    * twin of [[e6Col]]).
    */
  private def qe6of(x: Float): Long = math.round(x.toDouble * 1000.0) * 1000L

  private def e6Of(v: Seq[Float]): IndexedSeq[Long] = v.map(qe6of).toIndexedSeq

  /** Per-block e6 codebook cb(block)(code) from float seed vectors. */
  private def blockCodebook(seeds: Seq[(Int, Seq[Float])], nBlocks: Int,
      bw: Int): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] =
    (0 until nBlocks).map(b => seeds.map(s =>
      e6Of(s._2).slice(b * bw, (b + 1) * bw)).toIndexedSeq)

  /** Exact i64 squared distance between equal-length integer vectors. */
  private def intD2(a: IndexedSeq[Long], b: IndexedSeq[Long]): Long =
    a.indices.foldLeft(0L)((acc, i) =>
      acc + (a(i) - b(i)) * (a(i) - b(i)))

  /** The corpus minus the query vector, with its e6 view `xq`. */
  private def e6Vecs(e: DataFrame): DataFrame =
    e.filter(col("vec_id") =!= 0L).select(col("vec_id"), e6Col.as("xq"))

  /** The query vector (vec_id 0), None when the corpus has none. */
  private def queryVector(e: DataFrame): Option[Seq[Float]] =
    e.filter(col("vec_id") === 0L).select(col("embedding")).collect()
      .headOption.map(_.getSeq[Float](0).toSeq)

  /** The ids of the `k` smallest `d2` rows of `scored` (`vec_id` its
    * first column; min-id ties), collected as literals — the bounded
    * driver-steering collect of every exact truth arm.
    */
  private def topIds(scored: DataFrame, k: Int): Seq[Long] =
    scored.orderBy(col("d2"), col("vec_id")).limit(k)
      .collect().map(_.getLong(0)).toSeq

  /** A coarse quantizer seen from one query: the query's e6 vector and
    * the e6 cell centroids.
    */
  private final case class Coarse(qv6: IndexedSeq[Long],
      cells: IndexedSeq[IndexedSeq[Long]]) {
    /** Cell ids nearest the query first (exact i64 d², min-id ties). */
    lazy val cellRank: IndexedSeq[Int] =
      cells.indices.sortBy(c => (intD2(qv6, cells(c)), c))
    /** The `nProbe` cells a probe reads. */
    def probed(nProbe: Int): Seq[Long] = cellRank.take(nProbe).map(_.toLong)
  }

  /** Seeds → cells, the setup of q280, q295 and q300-q302: the
    * `nCells + nRest` md5-sampled seeds (sample cut at `hexMax`) and the
    * query vector of the corpus `e`. The first `nCells` seeds, e6-quantized, are the
    * coarse cells; the rest come back raw to seed a residual codebook.
    * None when the corpus has no query vector or fewer than `minSeeds`
    * seeds.
    */
  private def seedCells(spark: SparkSession, dir: String, e: DataFrame,
      nCells: Int, nRest: Int, minSeeds: Int, hexMax: String = "19")
      : Option[(Coarse, Seq[(Int, Seq[Float])])] = {
    val seeds = sampledCentroids(spark, dir, nCells + nRest, hexMax)
    val qv = queryVector(e)
    if (seeds.size < minSeeds || qv.isEmpty) None
    else Some((Coarse(e6Of(qv.get),
      seeds.take(nCells).map(s => e6Of(s._2)).toIndexedSeq),
      seeds.drop(nCells)))
  }

  /** The coarse cell of the e6 vector column `xq`: one codegen'd
    * pq_encode over a single full-width block (exact-i64 argmin,
    * min-cell ties).
    */
  private def cellCol(spark: SparkSession, xq: Column,
      cells: IndexedSeq[IndexedSeq[Long]]): Column =
    element_at(VectorOps.pqEncodeCol(spark, xq, Seq(cells.map(_.toSeq)))
      .getField("codes"), 1)

  /** One integer Lloyd round (q271's discipline; q271/q277 and both
    * levels of q295/q303's trainer run it). ONE mergeable `PqRollup`
    * fold of the assigned `codes` over the e6 `values` (blocks of
    * width `bw`) gives, per (block, code), the exact i64 member count
    * and component sums plus the global component minimum — a flat
    * long buffer per partition, no ×dim posexplode. Each code moves to the exact integer mean of
    * its members, a floor division made engine-identical by shifting
    * the numerator non-negative ((s + shift·n) / n − shift); an empty
    * code keeps its centroid, and with `frozenZero` code 0 stays the
    * zero vector (q276's law-maker). No float sum ever crosses the
    * engines.
    *
    * The shift holds only while every component is ≥ −shift: below it
    * the numerator goes negative, where Spark's truncating div diverges
    * from the oracle's flooring // SILENTLY. A component past the bound
    * fails loudly instead (the spectralCore discipline) — the minimum
    * rides the same buffer, so the check costs nothing.
    */
  private def integerLloydRound(rows: DataFrame, codes: Column,
      values: Column, cents: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      bw: Int, shift: Long, frozenZero: Boolean, what: String)
      : IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    val (nBlocks, m) = (cents.length, cents.head.length)
    val buf = rows
      .select(graft.functions.PqRollup.pqRollup(nBlocks, m, bw)(codes, values)
        .as("buf"))
      .head().getSeq[Long](0)
    def cnt(b: Int, code: Int): Long = buf(1 + b * m + code)
    def sm(b: Int, code: Int, i: Int): Long =
      buf(1 + nBlocks * m + (b * m + code) * bw + i)
    if ((0 until nBlocks).exists(b => (0 until m).exists(c => cnt(b, c) > 0)))
      require(buf(0) >= -shift,
        s"$what component ${buf(0)} e-6 below the -${shift / 1000000}.0 " +
          "shift bound — raise the shift constant or rescale the corpus " +
          "(engine-split hazard in the mean's floor div)")
    (0 until nBlocks).map { b =>
      (0 until m).map { code =>
        val n = cnt(b, code)
        if (frozenZero && code == 0) IndexedSeq.fill(bw)(0L)
        else (0 until bw).map { i =>
          if (n > 0) (sm(b, code, i) + shift * n) / n - shift
          else cents(b)(code)(i)
        }
      }
    }
  }

  /** The argument check of the probe queries (q300-q303, q305), run
    * before any Spark job: `nProbe` within 1..nCells and, where the
    * query has postfilter arms, `postMults` distinct ascending.
    */
  private def requireProbeArgs(nProbe: Int, nCells: Int,
      postMults: Option[Seq[Int]] = None): Unit = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe=$nProbe outside 1..$nCells")
    postMults.foreach(pm => require(pm.nonEmpty && pm == pm.sorted &&
      pm.distinct == pm, s"postMults must be distinct ascending, got $pm"))
  }

  /** The filtered-ANN strategy table of q300-q303 over one materialized
    * probed-cell frame `pd` (vec_id, label, score):
    *
    *  - `prefilter`: the predicate `inLabel` applies INSIDE the probed
    *    cells before ranking, so n_scanned is the label-and-cell-pruned
    *    row count;
    *  - `postfilter_xM` for M ∈ `postMults`: rank the probed cells
    *    label-blind, cut M·k, THEN filter; n_scanned is the full
    *    probed-cell count.
    *
    * n_overlap counts a cut's ids in `truthIds` (the exact filtered
    * top-k); ranking is by score, min-id ties. Every row filters `pd`:
    * TakeOrdered arms plus one-row counts, no further scan.
    */
  private def filteredStrategyRows(pd: DataFrame, inLabel: Column,
      truthIds: Seq[Long], k: Int, postMults: Seq[Int]): DataFrame = {
    def row(strategy: String, arm: DataFrame, cut: Int): DataFrame =
      arm.orderBy(col("score"), col("vec_id")).limit(cut)
        .filter(col("vec_id").isin(truthIds: _*))
        .agg(count(lit(1)).as("n_overlap"))
        .crossJoin(arm.agg(count(lit(1)).as("n_scanned")))
        .select(lit(strategy).as("strategy"), lit(k.toLong).as("k"),
          col("n_scanned"), col("n_overlap"),
          round(col("n_overlap") / lit(k.toDouble), 6).as("recall"))
    (row("prefilter", pd.filter(inLabel), k) +: postMults.map(m =>
      row(f"postfilter_x$m%02d", pd, m * k))).reduce(_ unionByName _)
  }

  /** q184's block encoder over float seed codes: per block `b` of width
    * `bw`, the least (rounded d², code) struct — d² = v·v − 2v·c + c·c,
    * the identical three-dot formula the oracle states, so the doubles
    * agree bitwise; min-code ties.
    */
  private def floatBlockArgmin(seeds: Seq[(Int, Seq[Float])], b: Int,
      bw: Int): Column = {
    val v = slice(col("embedding"), b * bw + 1, bw)
    val cands = seeds.map { case (code, full) =>
      val c = full.slice(b * bw, (b + 1) * bw)
      struct(
        round(dot(v, v) - lit(2.0) * dot(v, litVec(c)) + lit(sumSq(c)), 6)
          .as("d2"),
        lit(code.toLong).as("code"))
    }
    if (cands.length == 1) cands.head else least(cands: _*)
  }

  private def sumSq(vals: Seq[Float]): Double =
    vals.foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble)

  /** Product-quantization codebook report (q184): the embedding space
    * split into `nBlocks` contiguous sub-spaces, each with its own
    * `codesPerBlock`-entry codebook (md5-sampled deterministic seeds,
    * the q19/q74 init), every vector's sub-block assigned to its
    * nearest code by squared L2 — the memory-layout primitive behind
    * every large ANN index (a 64-dim float vector compresses to 4
    * bytes of codes). Emitted per (block, code): occupancy and mean
    * squared distortion — the table that says whether the codebook
    * needs more codes or trained centroids before the 100-TB build.
    *
    * Scale: assignment is a pure scan projection — per block a
    * least(struct) argmin over codesPerBlock codegen'd vec_dot
    * distances against LITERAL code vectors (d² = v·v − 2v·c + c·c,
    * the identical three-dot formula the oracle states, so the doubles
    * agree bitwise); the only shuffle is the (block, code)-keyed
    * rollup, ≤ nBlocks × codesPerBlock cells. Distortions are rounded
    * to 6 then summed in exact integer micro-units.
    */
  def pqCodebook(spark: SparkSession, dir: String, nBlocks: Int = 4,
      codesPerBlock: Int = 8): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val bw = 64 / nBlocks
    val seeds = sampledCentroids(spark, dir, codesPerBlock)
    if (seeds.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("block", "code", "n_assigned", "mse")
    val perBlock = (0 until nBlocks).map { b =>
      val argmin = floatBlockArgmin(seeds, b, bw)
      e.select(lit(b.toLong).as("block"),
        argmin.getField("code").as("code"),
        argmin.getField("d2").as("d2"))
    }.reduce(_ unionByName _)
    perBlock
      .groupBy($"block", $"code")
      .agg(count(lit(1)).as("n_assigned"),
        sum(round($"d2" * 1000000).cast("long")).as("mse_micro"))
      .select($"block", $"code", $"n_assigned",
        round($"mse_micro" / ($"n_assigned" * 1000000.0), 6).as("mse"))
  }

  /** PQ-ADC top-k search (q269): the q184 codebook turned into the
    * actual ANN query path — asymmetric distance computation, the
    * standard memory-bound search behind every billion-vector index
    * (Jégou et al.'s PQ): the query (vec_id 0) precomputes one
    * `nBlocks × codesPerBlock` lookup table of exact block distances
    * ‖q_b − c‖² in integer micro-units; every corpus vector is encoded
    * to its per-block argmin code (q184's identical rounded-d² +
    * min-code tie-break, so encoder and codebook report can't drift)
    * and its approximate distance is the exact i64 SUM of table
    * lookups — no per-row float accumulation for the engines to
    * disagree on. `exact_d2` (the true ‖q − v‖², q184's three-dot
    * formula at full width) rides along so the output doubles as a
    * quantization-quality readout.
    *
    * Scale: this is the whole point of PQ — encoding is a pure scan
    * projection (argmin over literal code vectors, codegen'd dots),
    * the lookup is `element_at` on a literal array, and the top-k is a
    * TakeOrdered: ZERO shuffles at any corpus size, 4 bytes of code
    * state per vector if materialized. The codebook and query are
    * plan-time literals (dim-bounded collects).
    */
  def pqAdcTopK(spark: SparkSession, dir: String, nBlocks: Int = 4,
      codesPerBlock: Int = 8, k: Int = 10): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val bw = 64 / nBlocks
    val seeds = sampledCentroids(spark, dir, codesPerBlock)
    val qOpt = queryVector(e)
    if (seeds.isEmpty || qOpt.isEmpty)
      return Seq.empty[(Long, Long, Long, Double, Double)]
        .toDF("vec_id", "label", "adc_d2_micro", "adc_d2", "exact_d2")
    val qv = qOpt.get
    def dotSeq(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    // lookup table in micro-units: the same left-to-right double folds
    // and (a − 2b + c)·1e6 op order as the oracle's list_sum CTE, so
    // the JVM and DuckDB doubles (and hence the rounded i64s) agree
    // bitwise; half-up == DuckDB's half-away on these non-negative d²
    val ltMicro: IndexedSeq[IndexedSeq[Long]] =
      (0 until nBlocks).map { b =>
        val qb = qv.slice(b * bw, (b + 1) * bw)
        seeds.indices.map { ci =>
          val c = seeds(ci)._2.slice(b * bw, (b + 1) * bw)
          math.round((sumSq(qb) - 2.0 * dotSeq(qb, c) + sumSq(c)) * 1000000.0)
        }.toIndexedSeq
      }
    val adcMicro = (0 until nBlocks).map { b =>
      val codeCol = floatBlockArgmin(seeds, b, bw).getField("code")
      element_at(array(ltMicro(b).map(lit): _*), codeCol.cast("int") + 1)
    }.reduce(_ + _)
    e.filter($"vec_id" =!= 0L)
      .select($"vec_id", $"label".cast("long").as("label"),
        adcMicro.as("adc_d2_micro"), exactD2To(qv).as("exact_d2"))
      .select($"vec_id", $"label", $"adc_d2_micro",
        ($"adc_d2_micro" / 1000000.0).as("adc_d2"), $"exact_d2")
      .orderBy($"adc_d2_micro", $"vec_id")
      .limit(k)
  }

  /** Trained-PQ recall (q271): the answer to q270's finding. Each block
    * runs `iters` Lloyd rounds over the e6-quantized components (assign
    * to nearest code by EXACT i64 squared distance, min-code ties;
    * recompute each code as the exact integer mean of its members via
    * the shifted non-negative floor division, empty codes keep their
    * previous centroid — the q74 trajectory discipline, made fully
    * integer so NO float sum ever crosses the engines), then recall@k
    * of the ADC ranking is measured against the exact quantized-L2
    * top-k for BOTH the md5-sampled init codebook and the trained one —
    * one output row per phase, so the improvement is a replayed VALUE.
    * Two metrics per phase: recall@k (the retrieval readout — honest
    * NOISE on a near-uniform corpus at 8 codes/block, see BASELINE) and
    * `distortion_m` (Σ per-vector min-code quantization error, the
    * objective Lloyd provably never increases — the spec asserts
    * trained ≤ init as an invariant, not a hope). Everything downstream
    * of the e3 quantization is i64: block d² ≤ 16·(4e6)² ≈ 2.6e14, ADC
    * sums ≤ 4 of those, and the corpus distortion sums in e6-reduced
    * units (d² div 1e6 per vector — ≤ 2.3e7 each, 1e10 vectors away
    * from the i64 ceiling) — overflow-free by construction.
    *
    * Scale: per Lloyd round, assignment is a zero-shuffle projection
    * (argmin over ≤ blocks·codes literal arrays) and the update is ONE
    * map-side-combined (block, code, dim) aggregate collected as ≤
    * blocks·codes·blockDim longs (512 cells here — the q74 driver-
    * steering pattern); the final rankings are q269's zero-shuffle
    * scan → TakeOrdered shape.
    */
  def trainedPqRecall(spark: SparkSession, dir: String, nBlocks: Int = 4,
      codesPerBlock: Int = 8, iters: Int = 2, k: Int = 10): DataFrame = {
    import spark.implicits._
    trainedPqPhases(spark, dir, nBlocks, codesPerBlock, iters, k).getOrElse(
      Seq.empty[(String, Long, Long, Double)]
        .toDF("phase", "k", "n_overlap", "recall"))
  }

  /** PQ codebook-size sweep (q277): the q271 trained-recall eval
    * repeated at 8/16/32/64 codes per block — the recall-vs-codebook
    * OPERATING TABLE a 100-TB build reads before freezing its index
    * parameters (q270/q271 measured recall 0.0–0.3 at 8 codes/block and
    * correctly said "train more codes"; this query is the answer:
    * recall and the Lloyd distortion objective at every codebook size,
    * init and trained phases both, one oracle-replayed row each).
    *
    * Scale: each arm is q271's shape — zero-shuffle assignment
    * projections (codegen'd pq_d2 argmin over ≤ m literal centroids), a
    * (block, code, dim) map-side-combined rollup per Lloyd round
    * (≤ blocks·m·blockDim = 4096 cells at m=64, the q74 driver-steering
    * bound), TakeOrdered rankings. The sweep is Σ over sizes of that —
    * linear in the scan count, constant driver state.
    */
  def pqCodebookSweep(spark: SparkSession, dir: String,
      configs: Seq[(Int, Int)] = Seq((4, 8), (4, 64), (16, 8), (16, 64)),
      iters: Int = 2, k: Int = 10): DataFrame = {
    import spark.implicits._
    val arms = configs.flatMap { case (nBlocks, n) =>
      trainedPqPhases(spark, dir, nBlocks, n, iters, k).map(df =>
        df.select(lit(nBlocks.toLong).as("n_blocks"),
          lit(n.toLong).as("codes_per_block"), col("phase"),
          col("k"), col("n_overlap"), col("recall"), col("distortion_m")))
    }
    if (arms.isEmpty)
      Seq.empty[(Long, Long, String, Long, Long, Double, Long)]
        .toDF("n_blocks", "codes_per_block", "phase", "k", "n_overlap",
          "recall", "distortion_m")
    else arms.reduce(_ unionByName _)
  }

  /** The q271 core for ONE codebook size: None when the corpus has no
    * sampled seeds or no query vector; otherwise the two-phase
    * (init/trained) recall + distortion rows. `codesPerBlock` is a
    * REQUEST — the actual codebook is min(request, sampled pool) codes,
    * exactly like the oracle's `LIMIT n` over the same md5 sample.
    */
  private def trainedPqPhases(spark: SparkSession, dir: String, nBlocks: Int,
      codesPerBlock: Int, iters: Int, k: Int): Option[DataFrame] = {
    import spark.implicits._
    val e = emb(spark, dir)
    val bw = 64 / nBlocks
    val seeds = sampledCentroids(spark, dir, codesPerBlock)
    val qOpt = queryVector(e)
    if (seeds.isEmpty || qOpt.isEmpty) return None
    val m = seeds.size
    val vecs = e6Vecs(e)
    val qv6 = e6Of(qOpt.get)
    // centroids(block)(code) = e6 integer vector of length bw
    val initCents = blockCodebook(seeds, nBlocks, bw)
    // whole-vector assignment in ONE codegen'd pq_encode call: argmin
    // code per block by exact i64 d², min-code ties — the identical
    // `least(struct(d2, code))` contract, minus the blocks × codes
    // Catalyst tree whose planning time dominated at 16 × 64
    def encodeWith(cs: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): Column =
      VectorOps.pqEncodeCol(spark, $"xq", cs)
    val cents = (1 to iters).foldLeft(initCents)((cs, _) =>
      integerLloydRound(vecs, encodeWith(cs).getField("codes"), $"xq", cs,
        bw, 4000000L, frozenZero = false, "trainedPqRecall:"))
    // the exact quantized-L2 ranking is codebook-independent — built
    // ONCE and shared by both phases (it was a per-phase subplan)
    val exactTop = vecs
      .select($"vec_id", VectorOps.pqD2Col(spark, $"xq", 0, qv6).as("d2"))
      .orderBy($"d2", $"vec_id").limit(k).select($"vec_id")
    def phaseRecall(phase: String,
        cs: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame = {
      def ltOf(b: Int, code: Int): Long =
        intD2(qv6.slice(b * bw, (b + 1) * bw), cs(b)(code))
      // one pq_encode per row serves BOTH readouts: the ADC ranking
      // (lookup-table sum over the assigned codes) and the distortion
      // objective (sum of the per-block min d²s)
      val enc = vecs.select($"vec_id", encodeWith(cs).as("e"))
      val adc = (0 until nBlocks).map { b =>
        element_at(
          array((0 until m).map(c => lit(ltOf(b, c))): _*),
          element_at($"e".getField("codes"), b + 1).cast("int") + 1)
      }.reduce(_ + _)
      val adcTop = enc.select($"vec_id", adc.as("adc"))
        .orderBy($"adc", $"vec_id").limit(k).select($"vec_id")
      // Σ per-vector min-code error in e6-reduced units — the Lloyd
      // objective (trained ≤ init is the provable law)
      val distM = (0 until nBlocks).map(b =>
        element_at($"e".getField("d2s"), b + 1)).reduce(_ + _)
      val dist = enc.select(distM.as("pd"))
        .selectExpr("pd div 1000000 AS pm") // integer div: trunc==floor on ≥0
        .agg(coalesce(sum($"pm"), lit(0L)).as("distortion_m"))
      adcTop.join(exactTop, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .crossJoin(dist)
        .select(lit(phase).as("phase"), lit(k.toLong).as("k"),
          $"n_overlap",
          round($"n_overlap" / lit(k.toDouble), 6).as("recall"),
          $"distortion_m")
    }
    Some(phaseRecall("init", initCents)
      .unionByName(phaseRecall("trained", cents)))
  }

  /** The q276/q280 residual-codebook seeding rule, shared by q280 and
    * q295 (round-12 review: two verbatim copies would let the frozen-
    * zero law or the tie-break drift between the pair): code 0 = the
    * zero vector; codes 1.. = the residuals of `resSeeds` against their
    * nearest cell (exact-i64 argmin, min-cell ties).
    */
  private def seedResidualCodebook(resSeeds: Seq[(Int, Seq[Float])],
      cells: IndexedSeq[IndexedSeq[Long]], nBlocks: Int, bw: Int)
      : IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    def cellOf(v: IndexedSeq[Long]): Int =
      cells.indices.minBy(c => (intD2(v, cells(c)), c))
    (0 until nBlocks).map { b =>
      val zero = IndexedSeq.fill(bw)(0L)
      val res = resSeeds.map { s =>
        val v = e6Of(s._2)
        val c = cells(cellOf(v))
        (b * bw until (b + 1) * bw).map(i => v(i) - c(i))
      }
      zero +: res.toIndexedSeq
    }
  }

  /** The materialized (vec_id, cell, adc) IVF-PQ index behind q280,
    * memoized like the route index (round-11 ADVICE: the eager
    * localCheckpoint it replaces was never unpersisted, so sweeps and
    * spec suites accumulated block-manager blocks for the life of the
    * JVM). The index is a persisted plan, so Memo's release rule
    * unpersists it on eviction.
    */
  private val ivfPqIndexCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String, Long), DataFrame]

  /** IVF-PQ search (q280): the full billion-vector index shape the
    * q269-q277 ladder builds toward — a coarse quantizer (nCells
    * full-width cells, exact-i64 argmin) routes every vector to ONE
    * cell; the vector's RESIDUAL against its cell is PQ-encoded
    * (per-block argmin over a shared residual codebook whose code 0 is
    * the zero vector, the q276 discipline); a query probes only its
    * `nProbe` nearest cells and ranks their members by ADC — a
    * per-(cell, block, code) lookup table built driver-side from the
    * QUERY's residual in each probed cell. One output row per nProbe ∈
    * `probes`: recall@k against the exact quantized-L2 top-k AND
    * `n_scanned` (corpus rows in the probed cells) — the
    * recall-vs-cost OPERATING CURVE that is the IVF contract (recall
    * is usually monotone in nProbe but not provably so — ADC over a
    * candidate superset can displace true positives — so the curve is
    * REPORTED, not asserted).
    *
    * All integer: e6 components; residual diffs ≤ 1.6e7 per dim →
    * block d² ≤ 4e15, ADC sums ≤ 1.6e16 — overflow-free i64.
    *
    * Scale: cell assignment + residual encoding are ONE zero-shuffle
    * scan projection (pq_encode for the coarse level, codegen'd
    * pq_res_d2 argmins for the residual level); each probe arm is a
    * pushed-down cell filter → TakeOrdered(k) plus a one-row count.
    * Codebooks and lookup tables are plan-time literals (nCells·dim +
    * blocks·codes·blockDim + nCells·blocks·codes longs). At 100 TB the
    * cell filter is the point: nProbe/nCells of the corpus is scanned,
    * and the same plan over a cell-partitioned layout prunes at the
    * file level.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, nCells: Int = 8,
      nBlocks: Int = 4, codesPerBlock: Int = 8, k: Int = 10,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import spark.implicits._
    val bw = 64 / nBlocks
    val (coarse, resSeeds) = seedCells(spark, dir, emb(spark, dir), nCells,
      codesPerBlock, nCells + 1).getOrElse(return Seq.empty[(Long, Long, Long, Long, Double)]
        .toDF("n_probe", "k", "n_scanned", "n_overlap", "recall"))
    // residual codebook: code 0 = zero; codes 1.. = the NEXT sampled
    // vectors' residuals against their own nearest cell (q276's rule)
    val c2 = seedResidualCodebook(resSeeds, coarse.cells, nBlocks, bw)
    ivfPqProbeArms(spark, dir, s"base-$nCells-$nBlocks-$codesPerBlock",
      coarse, c2, nBlocks, bw, k, probes)
  }

  /** The memoized (vec_id, cell, adc) IVF-PQ index for ONE query
    * vector under the given codebooks — extracted from the probe-arm
    * tail so q303 (filtered ANN over ADC ranking) shares the EXACT
    * index frame q295's probe curve reads: ONE scan (coarse cell via
    * pq_encode, residual codes via one pq_res_encode node), the ADC
    * pre-folded through the query's (cell, block, code) lookup table.
    */
  private def ivfPqEncodedIndex(spark: SparkSession, dir: String,
      tag: String, coarse: Coarse,
      c2: IndexedSeq[IndexedSeq[IndexedSeq[Long]]], nBlocks: Int,
      bw: Int): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val Coarse(qv6, cells) = coarse
    // the per-(cell, block, code) ADC lookup table from the query
    // residual
    val lt: IndexedSeq[IndexedSeq[IndexedSeq[Long]]] =
      cells.indices.map { c =>
        val qr = qv6.indices.map(i => qv6(i) - cells(c)(i))
        (0 until nBlocks).map(b =>
          c2(b).map(cc => intD2(qr.slice(b * bw, (b + 1) * bw), cc)))
      }
    // ONE scan: coarse cell via pq_encode (a single 64-wide block), then
    // per-block residual codes via codegen'd pq_res_d2 argmins against
    // the cell slice picked out of a literal array-of-arrays
    val withCell = e6Vecs(e)
      .select($"vec_id", $"xq", cellCol(spark, $"xq", cells).as("cell"))
    // residual codes in ONE pq_res_encode node: the full-width cell
    // centroid is picked per row out of a literal array-of-arrays, the
    // codebook rides as a primitive reference object (at 16 blocks ×
    // 33 codes the per-block struct/least tree this replaces costs
    // ~25 s in planning alone)
    val cellFullArr = typedlit(cells.map(_.toSeq))
    val resCodes = VectorOps.pqResEncodeCol(spark, $"xq",
      element_at(cellFullArr, $"cell".cast("int") + 1),
      c2.map(_.map(_.toSeq))).getField("codes")
    // ADC: nested literal table indexed by (cell, block, code)
    val ltLit = typedlit(cells.indices.map(c =>
      (0 until nBlocks).map(b => lt(c)(b).toSeq)))
    def adcOf(codes: Column): Column = (0 until nBlocks).map { b =>
      element_at(element_at(element_at(ltLit, $"cell".cast("int") + 1),
        b + 1), element_at(codes, b + 1).cast("int") + 1)
    }.reduce(_ + _)
    // build the INDEX once — (vec_id, cell, adc) is probe-independent,
    // and re-planning the encode scan per arm executed it 8× (plus the
    // exact arm 4×) for identical values. The persisted frame is
    // exactly what a deployed IVF-PQ index IS: cells + codes (here
    // pre-folded through the query's lookup table), ~24 B/row; every
    // probe arm filters THIS, so at 100 TB a probe touches nProbe/nCells
    // of the index, never the corpus. Memoized, so eviction releases it
    // (round-11 ADVICE: the eager localCheckpoint here leaked its blocks
    // for the life of the JVM across sweep/spec invocations).
    val fp = Memo.fingerprint(spark, s"$dir/embeddings.parquet")
    Memo.cached(ivfPqIndexCache, (spark, dir, tag, fp),
        label = s"ivfPqIndex/$tag") {
      val df = withCell
        .select($"vec_id", $"cell", adcOf(resCodes).as("adc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize once before the probe arms re-filter it
      df
    }
  }

  /** The IVF-PQ probe-curve tail shared by q280 (md5-seed codebooks)
    * and q295 (Lloyd-trained codebooks): cell ranking, the query-side
    * ADC lookup table, the ONE-scan encode (pq_encode for the coarse
    * cell + pq_res_encode for the residual codes), the memoized index,
    * the shared exact arm and the per-nProbe output rows. `tag`
    * disambiguates the memo entry per codebook phase/config.
    */
  private def ivfPqProbeArms(spark: SparkSession, dir: String, tag: String,
      coarse: Coarse, c2: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      nBlocks: Int, bw: Int, k: Int, probes: Seq[Int]): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val enc = ivfPqEncodedIndex(spark, dir, tag, coarse, c2, nBlocks, bw)
    // the exact top-k is probe-independent too: one scan, k ids
    val exactIds = topIds(e6Vecs(e).select($"vec_id",
      VectorOps.pqD2Col(spark, $"xq", 0, coarse.qv6).as("d2")), k)
    probes.map { np =>
      val inCells = enc.filter($"cell".isin(coarse.probed(np): _*))
      val scanned = inCells.agg(count(lit(1)).as("n_scanned"))
      inCells
        .orderBy($"adc", $"vec_id").limit(k)
        .filter($"vec_id".isin(exactIds: _*))
        .agg(count(lit(1)).as("n_overlap"))
        .crossJoin(scanned)
        .select(lit(np.toLong).as("n_probe"), lit(k.toLong).as("k"),
          $"n_scanned", $"n_overlap",
          round($"n_overlap" / lit(k.toDouble), 6).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Trained IVF-PQ search (q295): the COMPOSED billion-vector recipe
    * the q269-q280 ladder builds toward, with BOTH codebooks Lloyd-
    * trained (the round-11 verdict's top item — q280 measured the
    * untrained default honest-but-weak, q277 measured training fixing
    * plain PQ; this query wires the two together). Coarse level: the
    * q271 integer Lloyd over ONE 64-wide block (nCells codes, exact-i64
    * assignment, shifted floor-division means, empty cells keep their
    * centroid). Residual level: corpus residuals against the TRAINED
    * cells, then the same Lloyd per block over the residual codebook —
    * with code 0 FROZEN at the zero vector (the q276 law-maker: keeping
    * it guarantees two-level distortion ≤ one-level, training or not).
    * Residual components span ±8e6 (difference of two ±4e6-bounded e6
    * components), so the residual means use an 8e6 shift — guarded by
    * the rollup's global-min witness exactly like q271's 4e6 bound.
    * Output: the q280 operating curve (recall@k + n_scanned per nProbe)
    * at the trained operating point.
    *
    * Scale: each Lloyd round is ONE zero-shuffle assignment projection
    * (codegen pq_encode / pq_res_encode) folded through the mergeable
    * PqRollup Aggregator (KB buffer per partition); codebooks are
    * KB-sized driver state (nCells·64 + nBlocks·(codes+1)·bw longs);
    * the probe curve is the q280 shape — the memoized (vec_id, cell,
    * adc) index, per-arm pushed-down cell filters, TakeOrdered(k).
    */
  def ivfPqTrainedTopK(spark: SparkSession, dir: String, nCells: Int = 8,
      nBlocks: Int = 16, codesPerBlock: Int = 128, iters: Int = 2,
      k: Int = 10, probes: Seq[Int] = Seq(1, 2, 4, 8),
      seedHexMax: String = "7f"): DataFrame = {
    import spark.implicits._
    trainedIvfPqCodebooks(spark, dir, nCells, nBlocks, codesPerBlock,
        iters, seedHexMax) match {
      case None =>
        Seq.empty[(Long, Long, Long, Long, Double)]
          .toDF("n_probe", "k", "n_scanned", "n_overlap", "recall")
      case Some((coarse, c2)) =>
        ivfPqProbeArms(spark, dir,
          s"trained-$nCells-$nBlocks-$codesPerBlock-$iters-$seedHexMax",
          coarse, c2, nBlocks, 64 / nBlocks, k, probes)
    }
  }

  private val trainedCodebookCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int, Int, Int, String, Long),
      Option[(Coarse, IndexedSeq[IndexedSeq[IndexedSeq[Long]]])]]

  /** The trained codebooks + query vector behind q295 — extracted so
    * q303 (filtered ANN over the trained ADC ranking) trains the
    * IDENTICAL trajectory: (query e6 vector + Lloyd-trained coarse
    * cells, Lloyd-trained residual codebook with code 0 frozen at
    * zero). None when the corpus can't seed the codebooks or has no
    * query vector (the q295 degrade rule). Memoized (KB-sized driver
    * state, corpus-fingerprinted — the kmvSketchTable discipline): the
    * q295/q303 pair shares one training trajectory per sweep instead
    * of each paying the 4 Lloyd rollup passes.
    */
  private def trainedIvfPqCodebooks(spark: SparkSession, dir: String,
      nCells: Int, nBlocks: Int, codesPerBlock: Int, iters: Int,
      seedHexMax: String)
      : Option[(Coarse, IndexedSeq[IndexedSeq[IndexedSeq[Long]]])] = {
    val fp = Memo.fingerprint(spark, s"$dir/embeddings.parquet")
    Memo.cached(trainedCodebookCache,
        (spark, dir, nCells, nBlocks, codesPerBlock, iters, seedHexMax,
          fp), label = "trainedCodebook") {
      trainedIvfPqCodebooksUncached(spark, dir, nCells, nBlocks,
        codesPerBlock, iters, seedHexMax)
    }
  }

  private def trainedIvfPqCodebooksUncached(spark: SparkSession,
      dir: String, nCells: Int, nBlocks: Int, codesPerBlock: Int,
      iters: Int, seedHexMax: String)
      : Option[(Coarse, IndexedSeq[IndexedSeq[IndexedSeq[Long]]])] = {
    import spark.implicits._
    val e = emb(spark, dir)
    val bw = 64 / nBlocks
    // seed pool widened past the q269/q280 '19' cap: 128 residual codes
    // need ~136 seeds and the md5 '19' pool caps at ~10% of the corpus
    // (69 vectors at sf0.01); '7f' is the established ~50% split. The
    // codebook stays FIXED-SIZE — at production scale any md5 slice is
    // seed-rich, so this is a small-fixture accommodation, not a leak
    // of corpus size into the index.
    val (seeded, resSeeds) = seedCells(spark, dir, e, nCells,
      codesPerBlock, nCells + 1, seedHexMax).getOrElse(return None)
    val vecs = e6Vecs(e)
    // ---- coarse Lloyd: one 64-wide block, nCells codes (q271's exact
    // integer trajectory at block width = the full vector)
    val cells = (1 to iters).foldLeft(IndexedSeq(seeded.cells))((cs, _) =>
      integerLloydRound(vecs,
        VectorOps.pqEncodeCol(spark, $"xq", cs).getField("codes"), $"xq",
        cs, 64, 4000000L, frozenZero = false, "ivfPqTrainedTopK:")).head
    // ---- residual codebook: code 0 = zero (frozen); codes 1.. seeded
    // from the NEXT sampled vectors' residuals against their nearest
    // TRAINED cell (q280's init rule, over the trained coarse level)
    val c20 = seedResidualCodebook(resSeeds, cells, nBlocks, bw)
    // ---- residual Lloyd: assignment against the per-row trained cell
    // (one pq_res_encode node), rollup over the residual components
    val withCell = vecs.select($"vec_id", $"xq",
      cellCol(spark, $"xq", cells).as("cell"))
    val selCell = element_at(typedlit(cells.map(_.toSeq)),
      $"cell".cast("int") + 1)
    val resVec = zip_with($"xq", selCell, (a: Column, b: Column) => a - b)
    val c2 = (1 to iters).foldLeft(c20)((cs, _) =>
      integerLloydRound(withCell,
        VectorOps.pqResEncodeCol(spark, $"xq", selCell,
          cs.map(_.map(_.toSeq))).getField("codes"),
        resVec, cs, bw, 8000000L, frozenZero = true,
        "ivfPqTrainedTopK: residual"))
    Some((Coarse(seeded.qv6, cells), c2))
  }

  /** Filtered ANN (q300): top-k under a metadata predicate — THE
    * production retrieval shape (every real vector store serves
    * "nearest neighbors WHERE label = X"), measured as an operating
    * table over the two classic strategies against the q280 coarse
    * IVF index:
    *
    *  - `prefilter`: the label predicate applies INSIDE the probed
    *    cells before ranking — n_scanned is the label-and-cell-pruned
    *    row count, the cost of a layout where the predicate column
    *    rides the index (partition/row-group pruning at 100 TB).
    *    Recall can still miss (the filter can't resurrect true
    *    neighbors whose CELLS weren't probed).
    *  - `postfilter_xM` for M ∈ `postMults`: rank the probed cells
    *    label-blind, take M·k, THEN filter — the only strategy when the
    *    predicate isn't in the index. n_scanned is the full probed-cell
    *    count; recall climbs with M as the inflated candidate list
    *    survives the ~1/|labels| selectivity cut. The table makes the
    *    classic "inflate k by ~1/selectivity" rule a MEASURED value.
    *
    * All ranking is exact i64 d² on e6 integers (min-id ties); the
    * truth arm is the exact label-filtered top-k over the corpus.
    *
    * Scale: ONE scan builds (vec_id, label, cell, d²) — cell via
    * pq_encode, d² via pq_d2, both codegen; every strategy row filters
    * the one checkpointed probed-cell frame (probe cost paid once);
    * rankings are TakeOrdered; counts are one-row aggregates.
    */
  def filteredIvfTopK(spark: SparkSession, dir: String, nCells: Int = 8,
      nProbe: Int = 4, k: Int = 10, label: Int = 3,
      postMults: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import spark.implicits._
    requireProbeArgs(nProbe, nCells, Some(postMults))
    val e = emb(spark, dir)
    val (coarse, _) = seedCells(spark, dir, e, nCells, 0, nCells)
      .getOrElse(return emptyFiltered(spark))
    // ONE scan: label + coarse cell + exact d² to the query per row
    val base = labeledCellD2(spark, e, coarse)
    // the probed-cell frame every strategy row filters — materialized
    // once (out of scope after this call; the Graph fixpoint lifecycle)
    val pd = base.filter($"cell".isin(coarse.probed(nProbe): _*))
      .select($"vec_id", $"label", $"d2".as("score"))
      .localCheckpoint(true)
    // truth: the exact label-filtered top-k over the WHOLE corpus
    val inLabel = $"label" === label.toLong
    filteredStrategyRows(pd, inLabel, topIds(base.filter(inLabel), k), k,
      postMults)
  }

  private def emptyFiltered(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Long, Long, Double)]
      .toDF("strategy", "k", "n_scanned", "n_overlap", "recall")
  }

  /** The q300/q301 scan: per corpus vector its label, coarse cell and
    * exact i64 d² to the query (cell via pq_encode, d² via pq_d2, both
    * codegen).
    */
  private def labeledCellD2(spark: SparkSession, e: DataFrame,
      coarse: Coarse): DataFrame = {
    import spark.implicits._
    e.filter($"vec_id" =!= 0L)
      .select($"vec_id", $"label".cast("long").as("label"), e6Col.as("xq"))
      .select($"vec_id", $"label", cellCol(spark, $"xq", coarse.cells)
        .as("cell"), VectorOps.pqD2Col(spark, $"xq", 0, coarse.qv6).as("d2"))
  }

  /** Filtered-ANN selectivity sweep (q301): q300's strategy comparison
    * re-run across predicate SELECTIVITIES — label sets of 1/2/4/8 of
    * the 10 labels (~10%..~80% of the corpus) — the 2-D operating table
    * behind the folk rule "inflate k by ~1/selectivity". Each row is
    * (n_labels, strategy): the prefilter ceiling at that selectivity
    * and every postfilter M·k cut against the exact set-filtered truth.
    * The readable law: the M at which postfilter catches prefilter
    * shrinks as the predicate widens, and at ~80% selectivity even M=1
    * is close — measured, per arm, oracle-replayed.
    *
    * Scale: ONE corpus scan builds the checkpointed
    * (vec_id, label, cell, d²) frame; every (set, strategy) row filters
    * it — |sets|·(1 + |postMults|) TakeOrdered arms + one-row counts,
    * zero additional scans. Truth arms are k-id bounded collects.
    */
  def filteredIvfSelectivitySweep(spark: SparkSession, dir: String,
      nCells: Int = 8, nProbe: Int = 4, k: Int = 10,
      labelSets: Seq[Seq[Int]] = Seq(Seq(3), Seq(3, 7), Seq(0, 3, 5, 7),
        Seq(0, 2, 3, 4, 5, 7, 8, 9)),
      postMults: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import spark.implicits._
    requireProbeArgs(nProbe, nCells, Some(postMults))
    require(labelSets.nonEmpty && labelSets.forall(s =>
      s.nonEmpty && s == s.sorted && s.distinct == s),
      s"labelSets must be non-empty distinct ascending sets, got $labelSets")
    val e = emb(spark, dir)
    val (coarse, _) = seedCells(spark, dir, e, nCells, 0, nCells).getOrElse(
      return Seq.empty[(Long, String, Long, Long, Long, Double)]
        .toDF("n_labels", "strategy", "k", "n_scanned", "n_overlap",
          "recall"))
    // ONE scan serves every selectivity arm and every truth arm
    val base = labeledCellD2(spark, e, coarse).localCheckpoint(true)
    val pd = base.filter($"cell".isin(coarse.probed(nProbe): _*))
      .select($"vec_id", $"label", $"d2".as("score"))
    labelSets.map { ls =>
      val inSet = $"label".isin(ls.map(_.toLong): _*)
      filteredStrategyRows(pd, inSet, topIds(base.filter(inSet), k), k,
        postMults)
        .select(lit(ls.size.toLong).as("n_labels"), $"strategy", $"k",
          $"n_scanned", $"n_overlap", $"recall")
    }.reduce(_ unionByName _)
  }

  /** Filtered ANN over a CELL-PARTITIONED corpus layout (q302): the
    * q300 operating table re-served from embeddings PHYSICALLY
    * partitioned by their coarse cell — the 100-TB probe story the
    * q280/q295/q300 scaladocs name, made real. The probe's cell
    * predicate reaches the scan as a PARTITION filter (asserted on the
    * executed plan before any row is returned — the q219 discipline of
    * carrying the layout claim inside the query), so a probe opens
    * only ~nProbe/nCells of the corpus' FILES; a post-read filter
    * would open them all. Values are IDENTICAL to q300 (a layout
    * changes the plan, never the answer), so the oracle is q300's
    * replay verbatim — the green row is the cross-engine proof that
    * partition pruning lost nothing.
    *
    * Layout: built ONCE per (corpus, nCells) under the
    * [[graft.sources.Layouts.ensurePartitioned]] marker discipline —
    * (vec_id, label, embedding) hive-partitioned by the pq_encode
    * coarse cell; the write-time shuffle is paid once, every probe
    * afterwards rides the pruned read path (steady-state runs of this
    * query measure exactly that, like q219 for bucketing).
    *
    * Scale: the probed frame every strategy arm filters is
    * nProbe/nCells of the corpus BY CONSTRUCTION; the truth arm scans
    * all partitions, as exact truth must; rankings are TakeOrdered over
    * the one checkpointed probed frame.
    */
  def cellPartitionedIvfTopK(spark: SparkSession, dir: String,
      nCells: Int = 8, nProbe: Int = 4, k: Int = 10, label: Int = 3,
      postMults: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import spark.implicits._
    requireProbeArgs(nProbe, nCells, Some(postMults))
    val e = emb(spark, dir)
    val (coarse, _) = seedCells(spark, dir, e, nCells, 0, nCells)
      .getOrElse(return emptyFiltered(spark))
    // one-time layout build per (corpus content, nCells): centroids
    // re-derive deterministically from the content, so same tag ⇒ same
    // cells
    val tag = Memo.artifactTag(spark, s"$dir|$nCells",
      s"$dir/embeddings.parquet")
    val path = s"/tmp/graft_cell_layout/$tag"
    graft.sources.Layouts.ensurePartitioned(spark,
      e.filter($"vec_id" =!= 0L)
        .select($"vec_id", $"label".cast("long").as("label"), $"embedding",
          cellCol(spark, e6Col, coarse.cells).as("cell")),
      path, Seq("cell"))
    // partition discovery types the directory column as int; normalize
    val layout = spark.read.parquet(path)
      .select($"vec_id", $"label", $"embedding",
        $"cell".cast("long").as("cell"))
    def d2c = VectorOps.pqD2Col(spark, e6Col, 0, coarse.qv6)
    // the layout's whole point, enforced at query time: the cell
    // predicate must prune at the FILE level (PartitionFilters on the
    // scan), not as a post-read Filter
    val probedScan = layout.filter($"cell".isin(coarse.probed(nProbe): _*))
    val planStr = probedScan.queryExecution.executedPlan.toString
    require("PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r
        .findFirstIn(planStr).isDefined,
      s"cell predicate did not reach the scan as a partition filter:\n$planStr")
    val pd = probedScan
      .select($"vec_id", $"label", d2c.as("score"))
      .localCheckpoint(true)
    val inLabel = $"label" === label.toLong
    filteredStrategyRows(pd, inLabel,
      topIds(layout.filter(inLabel).select($"vec_id", d2c.as("d2")), k), k,
      postMults)
  }

  /** Filtered ANN over the TRAINED IVF-PQ ADC path (q303): q300's
    * prefilter-vs-postfilter operating table with candidates ranked by
    * the q295 trained two-level ADC score instead of exact d² — the
    * production serving shape (a real store never ranks probed cells by
    * full-vector distance; it ranks compressed codes and lets the
    * predicate interact with the LOSSY ranking). The truth arm stays
    * the exact label-filtered top-k, so each row's recall folds BOTH
    * losses — cells not probed AND ADC misranking — into one measured
    * number; postfilter recall at M climbs only as far as the ADC
    * ranking lets it.
    *
    * Training, codebooks, index: IDENTICAL to q295 (shared
    * `trainedIvfPqCodebooks` + the same memoized (vec_id, cell, adc)
    * frame — one index serves the probe curve and the filtered table).
    * The oracle replays q295's full trained chain, then the q300 arm
    * shapes over ADC ordering.
    *
    * Scale: training is q295's (one rollup projection per Lloyd round);
    * the serving path filters the memoized KB-per-row index to the
    * probed cells, joins labels, and runs TakeOrdered arms — no corpus
    * scan beyond the index build and the one exact-truth scan.
    */
  def filteredAdcTopK(spark: SparkSession, dir: String, nCells: Int = 8,
      nBlocks: Int = 16, codesPerBlock: Int = 128, iters: Int = 2,
      nProbe: Int = 4, k: Int = 10, label: Int = 3,
      postMults: Seq[Int] = Seq(1, 2, 4, 8),
      seedHexMax: String = "7f"): DataFrame = {
    import spark.implicits._
    requireProbeArgs(nProbe, nCells, Some(postMults))
    val (coarse, c2) = trainedIvfPqCodebooks(spark, dir, nCells, nBlocks,
      codesPerBlock, iters, seedHexMax).getOrElse(return emptyFiltered(spark))
    val e = emb(spark, dir)
    val enc = ivfPqEncodedIndex(spark, dir,
      s"trained-$nCells-$nBlocks-$codesPerBlock-$iters-$seedHexMax",
      coarse, c2, nBlocks, 64 / nBlocks)
    val lbl = e.filter($"vec_id" =!= 0L)
      .select($"vec_id", $"label".cast("long").as("label"))
    // the probed slice of the shared index, labels joined — every
    // strategy arm filters THIS (out of scope after the call; the
    // Graph fixpoint lifecycle)
    val pd = enc.filter($"cell".isin(coarse.probed(nProbe): _*))
      .join(lbl, Seq("vec_id"))
      .select($"vec_id", $"label", $"adc".as("score"))
      .localCheckpoint(true)
    // truth: EXACT label-filtered top-k over the corpus (the lossy
    // ranking is being judged; the judge must not share its loss)
    val truthIds = topIds(e.filter($"vec_id" =!= 0L)
      .filter($"label".cast("long") === label.toLong)
      .select($"vec_id", VectorOps.pqD2Col(spark, e6Col, 0, coarse.qv6)
        .as("d2")), k)
    filteredStrategyRows(pd, $"label" === label.toLong, truthIds, k,
      postMults)
  }

  /** The query-independent core of the routing index: e3-quantized
    * vectors, dedup-first reps, and the banded-SRP ranked edge table
    * (top-[[RouteIndexMaxK]] out-edges per rep by exact e3 d²). Shared
    * by every routing query (q293/q294, their wide md5-sampled twins
    * q296/q297, q304, q305) and the q298 artifact — ONE build per
    * (corpus, geometry). All three DataFrames are persisted; the memo
    * cache owns the lifetime and closes the index on eviction.
    */
  private final case class EdgeIndex(e3: DataFrame, e3r: DataFrame,
      ranked: DataFrame) extends AutoCloseable {
    def close(): Unit = { ranked.unpersist(); e3r.unpersist(); e3.unpersist() }
  }

  /** The q51/q293/q294 banded-SRP signatures as plain Columns over an
    * `embedding` array<float> column: bit (pid % r) of band (pid / r)
    * is the sign of the projection onto hyperplane pid, folded over
    * static plane literals — a stateless projection, so the SAME
    * definition serves batch index builds and the streaming bucketer
    * (`streaming.VecStreams`), and the two cannot drift. `planes`
    * partitions into `nBands` bands of r = nPlanes / nBands bits.
    */
  def bandSignatureCols(planes: Seq[(Int, Seq[Float])], nBands: Int,
      nPlanes: Int): Seq[Column] = {
    require(nPlanes % nBands == 0,
      s"nPlanes=$nPlanes not divisible by nBands=$nBands")
    // r comes from the INTENDED plane count, not planes.length — a
    // tiny corpus may return fewer head vectors, and the band layout
    // (hence the oracle's pid // r text) must not shift with it
    val r = nPlanes / nBands
    (0 until nBands).map { b =>
      planes.filter(_._1 / r == b)
        .map { case (pid, pe) =>
          when(dot(col("embedding"), litVec(pe)) >= 0, lit(1L << (pid % r)))
            .otherwise(lit(0L)) }
        .foldLeft(lit(0L))(_ + _).cast("long")
    }
  }

  /** The widest out-degree any routing query slices: the edge table is
    * built ONCE at this width and every arm filters `rn <= k` out of
    * it, so q293 (k ≤ 32) and q294 (k = 16) share one memoized index.
    */
  val RouteIndexMaxK = 32

  private val edgeIndexCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int, Long), Option[EdgeIndex]]

  /** Memoized query-independent edge index (one banded build per
    * corpus × geometry, shared by every routing query); eviction closes
    * the persisted frames. Callers must NOT
    * close the returned index — the cache owns its lifetime.
    */
  private def buildEdgeIndex(spark: SparkSession, dir: String,
      nPlanes: Int, nBands: Int): Option[EdgeIndex] = {
    require(nPlanes % nBands == 0,
      s"nPlanes=$nPlanes not divisible by nBands=$nBands")
    val fp = Memo.fingerprint(spark, s"$dir/embeddings.parquet")
    Memo.cached(edgeIndexCache, (spark, dir, nPlanes, nBands, fp),
        label = s"edgeIndex/$nPlanes/$nBands") {
      buildEdgeIndexUncached(spark, dir, nPlanes, nBands)
    }
  }

  private def buildEdgeIndexUncached(spark: SparkSession, dir: String,
      nPlanes: Int, nBands: Int): Option[EdgeIndex] = {
    import spark.implicits._
    val e = emb(spark, dir)
    val e3 = e.select($"vec_id", e3Col.as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val planes = headVectors(spark, dir, nPlanes)
    // planes.length < nPlanes (a corpus with fewer than nPlanes head
    // vectors): bandSignatureCols would emit a CONSTANT-0 signature for
    // every plane-less band — all reps collide there, candidate edges go
    // all-pairs — while the oracle's sig CTE (GROUP BY pid // r over the
    // p rows that EXIST) emits no rows for those bands, so the two sides
    // would build different graphs. Degrade to the empty result instead
    // of routing over a graph the oracle can't replay.
    if (planes.length < nPlanes) {
      e3.unpersist(); return None
    }
    // exact-dedup-first: one representative (min id) per distinct e3
    // vector; the index is reps only. The entry (global min id) is
    // always its own group's rep.
    val repIds = e3.groupBy($"v").agg(min($"vec_id").as("vec_id"))
      .select($"vec_id")
    val e3r = e3.join(repIds, Seq("vec_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e3r.count()
    // banded signatures over static plane literals (q51 geometry)
    val bandSigs = bandSignatureCols(planes, nBands, nPlanes)
    val sigs = e
      .join(repIds, Seq("vec_id"), "left_semi")
      .select($"vec_id", posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
      .select($"vec_id", $"band", $"sig")
    val cands = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
    // ONE ranked edge table up to the largest arm; arm k = rn <= k
    val wSrc = Window.partitionBy($"src").orderBy($"d2", $"dst")
    val rankedBuild = cands
      .join(e3r.select($"vec_id".as("src"), $"v".as("va")), Seq("src"))
      .join(e3r.select($"vec_id".as("dst"), $"v".as("vb")), Seq("dst"))
      .select($"src", $"dst",
        call_function("pq_d2", $"va", lit(0), $"vb").as("d2"))
      .withColumn("rn", row_number().over(wSrc))
      .filter($"rn" <= RouteIndexMaxK)
      .select($"src", $"dst", $"rn")
    // the artifact is DURABLE (round-12 verdict #5): the banded build —
    // the dominant index cost — lands on disk ONCE per (corpus,
    // geometry) as a src-bucketed table under the q219 one-time-build
    // discipline (catalog hit → no-op; files from a previous JVM →
    // marker-checked DDL re-registration, no rebuild; else pay the
    // build+write). Every later session's q293-q299 read the layout;
    // bucketing on src co-locates the per-hop frontier⋈adjacency
    // joins. The tag folds the corpus fingerprint (q219's rule), so a
    // corpus rewritten in place builds a fresh artifact.
    val (tbl, path) = routeEdgeArtifact(spark, dir, nPlanes, nBands)
    graft.sources.Layouts.ensureBucketed(spark, rankedBuild, tbl, 32,
      Seq("src"), path)
    val ranked = spark.table(tbl)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ranked.count() // materialize once before the first descent
    Some(EdgeIndex(e3, e3r, ranked))
  }

  /** Identity of the durable route-edge artifact for (corpus content,
    * geometry): catalog table name + on-disk path. Deterministic per
    * [[Memo.artifactTag]], so repeat sessions re-register instead of
    * rebuilding.
    */
  private[ops] def routeEdgeArtifact(spark: SparkSession, dir: String,
      nPlanes: Int, nBands: Int): (String, String) = {
    val tag = Memo.artifactTag(spark, s"$dir|$nPlanes|$nBands",
      s"$dir/embeddings.parquet")
    (s"route_edges_$tag", s"/tmp/graft_route_edges/$tag")
  }

  /** Test hook: evict every cached edge index (closing its persisted
    * frames), so a spec can exercise the cold-start read path against
    * the durable on-disk artifact.
    */
  private[ops] def evictEdgeIndexes(): Unit = Memo.evictAll(edgeIndexCache)

  /** The routing index ARTIFACT itself (q298): the dedup-first
    * banded-SRP ranked edge table — (src, dst, rn ≤ RouteIndexMaxK)
    * over content reps, exactly the frame q293-q297 route over and the
    * frame `streaming.VecStreams.maintainRouteEdges` patches
    * incrementally. Registering it makes the index build oracle-gated
    * in its own right, not only through the descents that consume it.
    *
    * Scale: one exact-dedup groupBy, one banded bucket self-join (never
    * all-pairs), one per-src ranking window over bucket-bounded
    * candidate lists — the q293 cost analysis verbatim.
    */
  def routeEdgeTable(spark: SparkSession, dir: String, nPlanes: Int = 16,
      nBands: Int = 4): DataFrame = {
    import spark.implicits._
    buildEdgeIndex(spark, dir, nPlanes, nBands) match {
      case Some(idx) => idx.ranked
        .select(col("src"), col("dst"), col("rn").cast("long").as("rn"))
      case None => Seq.empty[(Long, Long, Long)].toDF("src", "dst", "rn")
    }
  }

  /** The query table: (query_id, qv, rep_id) for every corpus vector
    * matching `qSel` (minus the entry), each joined to its
    * content-group rep by DISTRIBUTED vector equality — the queries
    * ride as a joined table, never as literal per-query plan nodes, so
    * the plan is O(1) in |queries|. Queries whose content group IS the
    * entry are dropped (the degenerate-entry rule: the oracle's s0 has
    * no row for them).
    */
  private def routeQueryTable(idx: EdgeIndex, qSel: Column,
      entryId: Long): DataFrame = {
    val q = idx.e3.filter(qSel && col("vec_id") =!= lit(entryId))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    q.join(idx.e3r.select(col("vec_id").as("rep_id"), col("v")),
        col("v") === col("qv"))
      .select(col("query_id"), col("qv"), col("rep_id"))
      .filter(col("rep_id") =!= lit(entryId))
  }

  /** The exact arm: reps × broadcast(queries), minus each query's own
    * rep, argmin by (d², id) — one corpus scan × |queries|, shared by
    * every arm of a call.
    */
  private def routeExactArm(idx: EdgeIndex, qt: DataFrame): DataFrame =
    idx.e3r.join(broadcast(qt), col("vec_id") =!= col("rep_id"))
      .select(col("query_id"),
        struct(call_function("pq_d2", col("v"), lit(0), col("qv")).as("d2"),
          col("vec_id")).as("s"))
      .groupBy(col("query_id"))
      .agg(min(col("s")).as("m"))
      .select(col("query_id"), col("m.vec_id").as("exact_id"),
        col("m.d2").as("exact_d2"))

  private val wideQtCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int, Long, Long),
      (DataFrame, DataFrame)]

  /** Memoized (round-13 optimization) wide-sample routing inputs: the
    * RouteWideHexMax query table AND its exact-NN arm. q296, q297, both
    * q304 arms and q305 each rebuilt this identical pair per invocation
    * — the |Q|-row checkpointed query table plus the |Q|·|reps| exact
    * scorer. One build per (session, corpus fingerprint, geometry,
    * entry) now serves the whole wide-table family; the q293/q294
    * explicit-query-id calls keep the uncached spelling.
    */
  private def wideRouteQueries(spark: SparkSession, dir: String,
      idx: EdgeIndex, nPlanes: Int, nBands: Int,
      entryId: Long): (DataFrame, DataFrame) =
    Memo.cached(wideQtCache,
        (spark, dir, nPlanes, nBands, entryId,
          Memo.fingerprint(spark, s"$dir/embeddings.parquet")),
        label = "wideRouteQueries") {
      val qSel =
        substring(md5(col("vec_id").cast("string")), 1, 2) <= RouteWideHexMax
      val qt = routeQueryTable(idx, qSel, entryId).localCheckpoint(true)
      // the exact arm is a lazy checkpoint: its blocks land inside the
      // first consumer's broadcast collect instead of a standalone job
      (qt, routeExactArm(idx, qt).localCheckpoint(false))
    }

  /** What every descent of one call starts from: the shared edge index,
    * the entry node and its e3 vector `ev` (one row), the checkpointed
    * query table `qt` (query_id, qv, rep_id) and its exact-NN arm
    * (query_id, exact_id, exact_d2).
    */
  private final case class RouteSetup(idx: EdgeIndex, entryId: Long,
      ev: DataFrame, qt: DataFrame, exact: DataFrame)

  /** The routing preamble, declared once for q293-q297, q304 and q305.
    * Validates first: `arms` distinct ascending, `outDegree` within the
    * shared index width, and explicit queries not naming the entry; an
    * invalid call fails before paying any build. Then builds the query
    * table from `queryIds`, or, when None, takes the memoized wide md5
    * sample ([[wideRouteQueries]]). None when nothing can route: a
    * sub-nPlanes corpus, an entry absent from the corpus, or no query
    * left after the degenerate-entry drop. An entry that is not its
    * content group's rep is refused: the oracle's s0 seeds from reps
    * only, so the engines would diverge.
    */
  private def routeSetup(spark: SparkSession, dir: String, nPlanes: Int,
      nBands: Int, armName: String, arms: Seq[Int], outDegree: => Int,
      entryId: Long, queryIds: Option[Seq[Long]]): Option[RouteSetup] = {
    require(arms.nonEmpty && arms == arms.sorted && arms.distinct == arms,
      s"$armName must be distinct ascending, got $arms")
    require(outDegree <= RouteIndexMaxK,
      s"out-degree $outDegree exceeds the shared index width $RouteIndexMaxK")
    queryIds.foreach(ids =>
      require(!ids.contains(entryId), "entry node cannot be a query"))
    val idx = buildEdgeIndex(spark, dir, nPlanes, nBands)
      .getOrElse(return None)
    val ev = idx.e3.filter(col("vec_id") === entryId).select(col("v").as("ev"))
    if (ev.isEmpty) return None
    require(idx.e3r.filter(col("vec_id") === entryId).count() == 1L,
      s"entry $entryId is not its content group's representative — " +
        "the oracle's rep-only seed would diverge from the engine")
    val (qt, exact) = queryIds match {
      case Some(ids) =>
        val qt = routeQueryTable(idx, col("vec_id").isin(ids: _*), entryId)
          .localCheckpoint(true)
        (qt, routeExactArm(idx, qt))
      case None => wideRouteQueries(spark, dir, idx, nPlanes, nBands, entryId)
    }
    if (qt.isEmpty) None else Some(RouteSetup(idx, entryId, ev, qt, exact))
  }

  /** The fixed-entry seed state: one row per (arm, query), every query
    * at the entry with its exact d² to it. `node` names the position
    * column (the greedy state's `cur`, the beam frontier's `id`).
    */
  private def entrySeed(s: RouteSetup, arm: String, arms: Seq[Int],
      node: String): DataFrame =
    s.qt.crossJoin(broadcast(s.ev))
      .select(explode(array(arms.map(a => lit(a.toLong)): _*)).as(arm),
        col("query_id"), lit(s.entryId).as(node),
        call_function("pq_d2", col("qv"), lit(0), col("ev")).as("d2"))

  /** Greedy graph-routed ANN, swept over out-degree (q293): the
    * navigable-graph search family (HNSW's layer-0 descent,
    * NSG/Vamana's beam-width-1 special case) joining the SRP-LSH
    * (q31), IVF (q19), PQ-ADC (q269) and IVF-PQ (q280) index shapes.
    * The graph is a banded-SRP kNN digraph — the q51 band geometry
    * WITHOUT the label constraint (routing must bridge labels) — with
    * out-edges ranked by EXACT e3-integer d² (routing is iterative, so
    * the trajectory must be engine-identical: no float comparison
    * anywhere). Each query greedily descends from a fixed entry node:
    * per hop, move to the (d², id)-lexicographic minimum over the
    * current node's out-neighbors ∪ {current}; a step that keeps the
    * current node is converged. One arm per out-degree in `kOuts` —
    * the OPERATING TABLE (the q277 discipline): greedy beam-1 descent
    * CAN stall in a local minimum, and on this corpus it does at
    * k_out ≤ 8 (0/4 queries reach the true NN) while k_out = 16/32
    * reach it for 2/4 and 3/4 — out-degree is the knob that buys hit
    * rate, measured, not hoped.
    *
    * Exact-dedup-first (the q215/q162 treatment, applied to vectors):
    * the index holds ONE representative (min vec_id) per distinct e3
    * vector, and each query's own content group is excluded from its
    * candidates and its exact arm — the nearest DISTINCT-content
    * neighbor, the semantic a dedup pipeline actually wants (a
    * byte-identical twin is a trivial d²=0 answer). On an all-distinct
    * corpus this is IDENTICAL to routing over the raw corpus; on a
    * duplicated one it collapses the banded buckets back to distinct
    * content — without it the Σ bucket² candidate volume grows
    * quadratically in duplication (measured: 297 s at 10× replication,
    * ~16 s with rep-first).
    *
    * Scale: the rep map is one exact-dedup groupBy (the q13 shape);
    * the graph build is the q15/q51 banded bucket join over reps
    * (never all-pairs; plane count grows with the corpus to keep
    * buckets bounded) + ONE per-src ranking window shared by every arm
    * (millions of tiny partitions, no skew). The queries ride as a
    * joined table, so the plan is O(1) in |queries| and any batch size
    * routes. Routing state is one row per (arm, query) — (cur, d²,
    * hops) — and each hop is ONE frontier⋈ranked-adjacency join
    * serving every (arm, query) (the q213/q221 BFS pattern), re-scored
    * through the broadcast query table, then a per-(arm, query) argmin.
    * Each hop's state is a LAZY local checkpoint ([[greedyDescentRows]]).
    * A converged query is a fixpoint of the step map, so running every
    * hop is value-identical to the oracle's full maxHops unroll. The
    * exact arm is one broadcast join of the reps against the query
    * table + a per-query argmin, shared by all arms. The oracle unrolls
    * the identical hop trajectory per arm as MATERIALIZED per-step CTEs
    * (the q74/q105 replay discipline; materialization keeps the chain
    * linear where plain CTE inlining re-evaluates the graph build
    * 2^hops times).
    */
  def graphRouteAnn(spark: SparkSession, dir: String, nPlanes: Int = 16,
      nBands: Int = 4, kOuts: Seq[Int] = Seq(4, 8, 16, 32),
      maxHops: Int = 6, queryIds: Seq[Long] = Seq(7L, 13L, 29L, 42L),
      entryId: Long = 0L): DataFrame =
    greedyRoute(spark, dir, nPlanes, nBands, kOuts, maxHops,
      Some(queryIds), entryId)

  /** [[graphRouteAnn]]'s per-query rows over explicit `queryIds`, or
    * over the wide md5 sample when None (q296).
    */
  private def greedyRoute(spark: SparkSession, dir: String, nPlanes: Int,
      nBands: Int, kOuts: Seq[Int], maxHops: Int,
      queryIds: Option[Seq[Long]], entryId: Long): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .toDF("k_out", "query_id", "routed_id", "routed_d2", "n_hops",
        "exact_id", "exact_d2", "hit")
    val s = routeSetup(spark, dir, nPlanes, nBands, "kOuts", kOuts,
      kOuts.max, entryId, queryIds).getOrElse(return empty)
    greedyDescentRows(s, entrySeed(s, "k_out", kOuts, "cur"), maxHops)
      .drop("n_evals")
  }

  /** The per-hop greedy frontier recurrence shared by the fixed-entry
    * descent and the cell-seeded entry arm (q304): from any
    * (k_out, query_id, cur, d2) seed state, each hop joins the ranked
    * adjacency at the arm's degree, re-scores through the broadcast
    * query table, and steps every (arm, query) to its (d², id) minimum
    * over neighbors ∪ {current}.
    */
  private def greedyDescentRows(s: RouteSetup, seed: DataFrame,
      maxHops: Int): DataFrame = {
    val (idx, qt) = (s.idx, s.qt)
    import idx.e3r.sparkSession.implicits._
    // per-hop LAZY checkpoints (round-14, guide §2.4): each hop's plan
    // still flattens to a LogicalRDD (the state is referenced three
    // times per hop — the lineage cut is load-bearing), but no hop pays
    // a standalone count job for it. Under AQE, creating the checkpoint
    // still runs the hop's own shuffle stages as jobs.
    var state = seed.withColumn("hops", lit(0L)).withColumn("evals", lit(0L))
      .localCheckpoint(false)
    for (_ <- 1 to maxHops) {
      // candidates: ranked out-neighbors of each arm's current node at
      // that arm's degree, minus the query's own rep, scored by exact
      // e3 d² — plus the current node (a converged query is a fixpoint)
      val nbrs = state
        .join(idx.ranked, state("cur") === idx.ranked("src") &&
          idx.ranked("rn") <= state("k_out"))
        .join(broadcast(qt), Seq("query_id"))
        .filter($"dst" =!= $"rep_id")
        .join(idx.e3r.select($"vec_id".as("dst"), $"v".as("dv")), Seq("dst"))
        .select($"k_out", $"query_id", $"dst".as("id"),
          call_function("pq_d2", $"qv", lit(0), $"dv").as("nd2"))
      // the count aggregates neighbors + the carried current row, so
      // this hop's distance evaluations = cnt - 1 (the q305 family
      // table's honest cost metric; other callers drop the column)
      val best = nbrs
        .unionByName(state.select($"k_out", $"query_id",
          $"cur".as("id"), $"d2".as("nd2")))
        .groupBy($"k_out", $"query_id")
        .agg(min(struct($"nd2", $"id")).as("m"),
          (count(lit(1)) - lit(1L)).as("ne"))
        .select($"k_out", $"query_id", $"m.id".as("nid"),
          $"m.nd2".as("nd2"), $"ne")
      // both sides are |arms|x|queries| rows — never let the planner
      // fall back to a shuffle join for KB-sized routing state
      state = state.join(broadcast(best), Seq("k_out", "query_id"))
        .select($"k_out", $"query_id", $"nid".as("cur"), $"nd2".as("d2"),
          ($"hops" + when($"nid" =!= $"cur", lit(1L)).otherwise(lit(0L)))
            .as("hops"),
          ($"evals" + $"ne").as("evals"))
        .localCheckpoint(false) // per-hop lineage cut (the q224 rule)
    }
    state.join(broadcast(s.exact), Seq("query_id"))
      .select($"k_out", $"query_id", $"cur".as("routed_id"),
        $"d2".as("routed_d2"), $"hops".as("n_hops"),
        $"exact_id", $"exact_d2", ($"cur" === $"exact_id").as("hit"),
        $"evals".as("n_evals"))
  }

  /** Beam-width sweep over the q293 graph (q294): the OTHER knob of
    * navigable-graph search. Out-degree fixed at `kOut` (= q293's
    * middle arm); per beam width B the frontier holds the B best
    * (d², id) nodes seen so far, and each hop replaces it with the
    * top-B of DISTINCT(frontier ∪ out-neighbors(frontier) − the
    * query's rep). The frontier always contains its own previous
    * members as candidates, so the best distance is non-increasing;
    * B = 1 is EXACTLY q293's greedy arm at the same k (spec-asserted
    * against q293's k_out = 16 rows — the cross-query law). Output per
    * (beam, query): the final best node vs the exact NN.
    *
    * Scale: same index, same query table. Frontier rows carry (beam,
    * query, id, d²), ≤ B per (beam, query); per hop ONE frontier⋈
    * ranked-adjacency join at kOut, new ids anti-joined against the
    * current frontier (prev members keep their scores), then a
    * row_number ≤ B cut, checkpointed lazily like the greedy state.
    * The oracle unrolls the same frontier recurrence as MATERIALIZED
    * per-step CTEs with a row_number ≤ B cut.
    */
  def beamRouteAnn(spark: SparkSession, dir: String, nPlanes: Int = 16,
      nBands: Int = 4, kOut: Int = 16, beams: Seq[Int] = Seq(1, 2, 4, 8),
      maxHops: Int = 6, queryIds: Seq[Long] = Seq(7L, 13L, 29L, 42L),
      entryId: Long = 0L): DataFrame =
    beamRoute(spark, dir, nPlanes, nBands, kOut, beams, maxHops,
      Some(queryIds), entryId)

  /** [[beamRouteAnn]]'s per-query rows over explicit `queryIds`, or
    * over the wide md5 sample when None (q297).
    */
  private def beamRoute(spark: SparkSession, dir: String, nPlanes: Int,
      nBands: Int, kOut: Int, beams: Seq[Int], maxHops: Int,
      queryIds: Option[Seq[Long]], entryId: Long): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long, Long, Long, Long, Boolean)]
      .toDF("beam", "query_id", "routed_id", "routed_d2",
        "exact_id", "exact_d2", "hit")
    val s = routeSetup(spark, dir, nPlanes, nBands, "beams", beams, kOut,
      entryId, queryIds).getOrElse(return empty)
    val (idx, qt) = (s.idx, s.qt)
    val wFront = Window.partitionBy($"beam", $"query_id")
      .orderBy($"d2", $"id")
    // frontier: ≤ beam rows per (arm, query)
    // lazy per-hop checkpoints — the greedyDescentRows round-14 note
    var front = entrySeed(s, "beam", beams, "id").localCheckpoint(false)
    for (_ <- 1 to maxHops) {
      // new neighbor ids: out-edges of the frontier at kOut, minus the
      // query's rep, minus ids already in the frontier (prev members
      // keep their scores — they need not be re-reachable this hop)
      val newIds = front.select($"beam", $"query_id", $"id")
        .join(idx.ranked, front("id") === idx.ranked("src") &&
          idx.ranked("rn") <= lit(kOut))
        .select($"beam", $"query_id", $"dst".as("id")).distinct()
        .join(front.select($"beam", $"query_id", $"id"),
          Seq("beam", "query_id", "id"), "left_anti")
        .join(broadcast(qt), Seq("query_id"))
        .filter($"id" =!= $"rep_id")
      val scored = newIds
        .join(idx.e3r.select($"vec_id".as("id"), $"v".as("dv")), Seq("id"))
        .select($"beam", $"query_id", $"id",
          call_function("pq_d2", $"qv", lit(0), $"dv").as("d2"))
      front = front.unionByName(scored)
        .withColumn("rnf", row_number().over(wFront))
        .filter($"rnf" <= $"beam")
        .select($"beam", $"query_id", $"id", $"d2")
        .localCheckpoint(false)
    }
    front.withColumn("rnf", row_number().over(wFront))
      .filter($"rnf" === 1)
      .join(broadcast(s.exact), Seq("query_id"))
      .select($"beam", $"query_id", $"id".as("routed_id"),
        $"d2".as("routed_d2"), $"exact_id", $"exact_d2",
        ($"id" === $"exact_id").as("hit"))
  }

  /** The md5 query-sampling rule shared by q296/q297/q304/q305 and
    * their oracles (the q222 sampling discipline): ~|corpus|/16
    * queries, entry excluded on both sides.
    */
  val RouteWideHexMax = "0f"

  /** Hit-rate / Wilson-95% SQL text shared VERBATIM by the engine's
    * selectExpr and the DuckDB oracle — double literals are CAST to
    * DOUBLE on both sides (DuckDB parses bare decimals as DECIMAL) and
    * the operation order is identical, so the two engines fold the
    * same doubles bit for bit before the final round.
    */
  val routeWideAggExprs: Seq[String] = {
    val p = "(CAST(n_hits AS DOUBLE) / CAST(n_queries AS DOUBLE))"
    val n = "CAST(n_queries AS DOUBLE)"
    Seq(
      s"round($p, 6) AS hit_rate",
      s"round((($p + CAST(1.9208 AS DOUBLE) / $n) - CAST(1.96 AS DOUBLE) " +
        s"* sqrt(($p * (CAST(1.0 AS DOUBLE) - $p) + CAST(0.9604 AS DOUBLE) " +
        s"/ $n) / $n)) / (CAST(1.0 AS DOUBLE) + CAST(3.8416 AS DOUBLE) " +
        s"/ $n), 6) AS wilson_low",
      s"round((($p + CAST(1.9208 AS DOUBLE) / $n) + CAST(1.96 AS DOUBLE) " +
        s"* sqrt(($p * (CAST(1.0 AS DOUBLE) - $p) + CAST(0.9604 AS DOUBLE) " +
        s"/ $n) / $n)) / (CAST(1.0 AS DOUBLE) + CAST(3.8416 AS DOUBLE) " +
        s"/ $n), 6) AS wilson_high")
  }

  /** The wide operating row per `arm` value over per-query routed rows:
    * (arm, n_queries, n_hits) + the [[routeWideAggExprs]] text.
    */
  private def wideAgg(rows: DataFrame, arm: String): DataFrame = rows
    .groupBy(col(arm))
    .agg(count(lit(1)).as("n_queries"),
      sum(when(col("hit"), lit(1L)).otherwise(lit(0L))).as("n_hits"))
    .selectExpr(Seq(arm, "n_queries", "n_hits") ++ routeWideAggExprs: _*)

  /** Wide greedy routing table (q296): q293's out-degree sweep re-run
    * over an md5-sampled query set (~1/16 of the corpus — 42 queries on
    * the sf0.01 fixture), aggregated to the per-arm operating row —
    * n_queries, n_hits, hit_rate and its Wilson 95% band (4 hand-picked
    * queries were too small a sample to freeze an out-degree policy on;
    * round-11 verdict #3). The oracle replays every per-query
    * trajectory, then the identical aggregate text.
    */
  def graphRouteAnnWide(spark: SparkSession, dir: String,
      nPlanes: Int = 16, nBands: Int = 4,
      kOuts: Seq[Int] = Seq(4, 8, 16, 32), maxHops: Int = 6,
      entryId: Long = 0L): DataFrame =
    wideAgg(greedyRoute(spark, dir, nPlanes, nBands, kOuts, maxHops, None,
      entryId), "k_out")

  /** Wide beam routing table (q297): q294's beam sweep over the same
    * md5-sampled query set, same aggregate contract as q296.
    */
  def beamRouteAnnWide(spark: SparkSession, dir: String,
      nPlanes: Int = 16, nBands: Int = 4, kOut: Int = 16,
      beams: Seq[Int] = Seq(1, 2, 4, 8), maxHops: Int = 6,
      entryId: Long = 0L): DataFrame =
    wideAgg(beamRoute(spark, dir, nPlanes, nBands, kOut, beams, maxHops,
      None, entryId), "beam")

  /** Seeded centroids at the e3 integer scale: the literal cell and
    * code vectors of q304/q305.
    */
  private def e3Vectors(seeds: Seq[(Int, Seq[Float])])
      : IndexedSeq[IndexedSeq[Long]] =
    seeds.map(_._2.map(x => math.round(x.toDouble * 1000.0)).toIndexedSeq)
      .toIndexedSeq

  /** One (cell, d²) struct per e3 cell centroid against the e3 vector
    * column `v`: exploded per row and argmin'd by the caller, the
    * zero-shuffle cell assignment of q304 and q305.
    */
  private def cellStructs(cells: Seq[Seq[Long]], v: Column): Seq[Column] =
    cells.zipWithIndex.map { case (cv, ci) =>
      struct(lit(ci.toLong).as("cell"),
        call_function("pq_d2", v, lit(0), array(cv.map(lit(_)): _*)).as("d2"))
    }

  /** Entry-strategy operating table (q304): q296's wide greedy sweep
    * run under BOTH entry policies over the SAME md5-sampled query set
    * and hop budget —
    *
    *  - `fixed`: every query descends from node `entryId` (q293-q297's
    *    policy — one global entry, HNSW minus its upper layers);
    *  - `cell`: a coarse quantizer layer above the graph (the
    *    hierarchical-entry idea): nCells md5-seeded centroids, each
    *    cell pre-assigned ONE entry rep (the rep nearest its centroid,
    *    exact-i64 argmin, min-id ties), and each query enters at its
    *    nearest cell's entry. The layer costs nCells distance
    *    evaluations per query plus a KB-sized (cell → entry) table —
    *    the log-hop coarse descent bought for O(nCells) state.
    *
    * Per (strategy, out-degree): n_queries, n_hits, hit_rate + Wilson
    * 95% band (the q296 aggregate text verbatim). Queries whose content
    * rep IS an arm's entry are dropped from that arm (the degenerate-
    * entry rule, applied per strategy), so n_queries is honest per row.
    * The oracle replays both trajectory families — the fixed arms are
    * textually q296's CTEs, the cell arms the same recurrence seeded
    * from the replayed (cell → entry) argmin table.
    *
    * Scale: one extra zero-shuffle pass over the reps scores the
    * nCells literal centroids (the cell-entry election); everything
    * after is the q296 machinery — per hop ONE frontier⋈ranked join
    * for every (strategy, arm, query).
    */
  def graphRouteEntryCompare(spark: SparkSession, dir: String,
      nPlanes: Int = 16, nBands: Int = 4, nCells: Int = 8,
      kOuts: Seq[Int] = Seq(4, 8, 16, 32), maxHops: Int = 6,
      entryId: Long = 0L): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Long, Long, Double, Double, Double)]
      .toDF("entry_strategy", "k_out", "n_queries", "n_hits", "hit_rate",
        "wilson_low", "wilson_high")
    val s = routeSetup(spark, dir, nPlanes, nBands, "kOuts", kOuts,
      kOuts.max, entryId, None).getOrElse(return empty)
    val seeds = sampledCentroids(spark, dir, nCells)
    if (seeds.size < nCells) return empty
    val (idx, qt) = (s.idx, s.qt)
    def aggArm(rows: DataFrame, strategy: String): DataFrame =
      wideAgg(rows, "k_out")
        .select(lit(strategy).as("entry_strategy"), col("k_out"),
          col("n_queries"), col("n_hits"), col("hit_rate"),
          col("wilson_low"), col("wilson_high"))
    // fixed arm: exactly the q296 rows (same qt, same descent)
    val fixed = greedyDescentRows(s, entrySeed(s, "k_out", kOuts, "cur"),
      maxHops)
    // cell arm: e3-scale literal centroids; each rep scores all nCells
    // in one zero-shuffle pass; argmin per cell elects its entry rep
    val cells = e3Vectors(seeds)
    val cellEntry = idx.e3r
      .select($"vec_id", explode(array(cellStructs(cells, $"v"): _*)).as("cd"))
      .select($"vec_id", $"cd.cell".as("cell"), $"cd.d2".as("d2"))
      .groupBy($"cell")
      .agg(min(struct($"d2", $"vec_id")).as("m"))
      .select($"cell", $"m.vec_id".as("entry_id"))
    val qCell = qt
      .select($"query_id", $"rep_id",
        explode(array(cellStructs(cells, $"qv"): _*)).as("cd"))
      .select($"query_id", $"rep_id", $"cd.cell".as("cell"),
        $"cd.d2".as("d2"))
      .groupBy($"query_id", $"rep_id")
      .agg(min(struct($"d2", $"cell")).as("m"))
      .select($"query_id", $"rep_id", $"m.cell".as("cell"))
    val entries = qCell
      .join(broadcast(cellEntry), Seq("cell"))
      .filter($"entry_id" =!= $"rep_id") // per-query degenerate-entry rule
      .select($"query_id", $"entry_id")
    val cell0 = broadcast(entries)
      .join(idx.e3r.select($"vec_id".as("entry_id"), $"v".as("ev")),
        Seq("entry_id"))
      .join(broadcast(qt), Seq("query_id"))
      .select(explode(array(kOuts.map(k => lit(k.toLong)): _*)).as("k_out"),
        $"query_id", $"entry_id".as("cur"),
        call_function("pq_d2", $"qv", lit(0), $"ev").as("d2"))
    val cell = greedyDescentRows(s, cell0, maxHops)
    aggArm(fixed, "fixed").unionByName(aggArm(cell, "cell"))
  }

  /** The unified ANN operating table (q305): every index FAMILY run
    * over the SAME md5-sampled query set at the same k — the
    * freeze-the-index decision table a 100-TB build reads before
    * committing to one structure. One row per family:
    *
    *  - `exact`      — brute force over the dedup-first reps (the
    *                   baseline: recall 1, cost = the whole index);
    *  - `srp_bucket` — banded-SRP LSH (q31/q51 geometry): candidates =
    *                   reps sharing ANY band bucket with the query;
    *  - `ivf_p4`     — coarse quantizer (q19 shape): candidates = reps
    *                   in the query's nProbe nearest of nCells seeded
    *                   cells;
    *  - `pq_adc`     — product quantization (q269 shape): EVERY rep
    *                   scored by the query's ADC table over md5-seeded
    *                   per-block codes — exhaustive but compressed;
    *  - `ivf_pq_p4`  — the composed recipe (q280 shape): the ivf_p4
    *                   candidate set ranked by the pq_adc score;
    *  - `graph_greedy_k16` — the q293/q296 descent (1-NN machine: its
    *                   recall column is bounded by 1/k BY CONSTRUCTION
    *                   — hit_rate is its figure of merit; beam search
    *                   (q294/q297) is the k-NN extension).
    *
    * Columns: n_queries, total_scanned (distance evaluations — for
    * list families the scored candidate-pair count, for the graph the
    * measured per-hop neighbor evaluations), sum_overlap + recall@k
    * (vs the exact top-k), n_hits + hit_rate (top-1 = the exact NN).
    * All families share ONE query population (the q296 sample minus
    * entry-degenerate queries), ONE rep index, ONE exact-d² scorer and
    * ONE truth arm, so the rows differ only in what each family
    * chooses to scan — which is the entire point of the table.
    *
    * Scale: one |Q|-bounded broadcast joins the query table against
    * the rep index ONCE for the shared scorer (qd); each family's
    * candidate generation is its own index's cost shape (bucket join /
    * cell filter / code join / per-hop frontier joins); rankings are
    * per-query windows over candidate lists, truth is one TakeOrdered
    * per query — no all-pairs path outside the `exact` baseline row,
    * which exists precisely to price what the others avoid.
    */
  def annFamilyTable(spark: SparkSession, dir: String, nPlanes: Int = 16,
      nBands: Int = 4, nCells: Int = 8, nProbe: Int = 4,
      nBlocks: Int = 4, codesPerBlock: Int = 8, kOut: Int = 16,
      maxHops: Int = 6, k: Int = 10, entryId: Long = 0L,
      maxEvalPairs: Long = 500000000L): DataFrame = {
    import spark.implicits._
    requireProbeArgs(nProbe, nCells)
    val empty = Seq.empty[(String, Long, Long, Long, Long, Double, Long,
        Double)]
      .toDF("family", "k", "n_queries", "total_scanned", "sum_overlap",
        "recall", "n_hits", "hit_rate")
    // the wide md5 sample, shared with q296/q297/q304 through its memo
    val s = routeSetup(spark, dir, nPlanes, nBands, "kOut", Seq(kOut), kOut,
      entryId, None).getOrElse(return empty)
    val seeds = sampledCentroids(spark, dir, nCells + codesPerBlock)
    if (seeds.size < nCells + codesPerBlock) return empty
    val (idx, qt) = (s.idx, s.qt)
    val nQ = qt.count()
    // eval-tier guard (the q186 discipline): the shared exact-truth
    // scorer is |Q|·|reps| pairs with |Q| ~ corpus/16 — measuring
    // recall costs this quadratic arm BY DESIGN, and running it
    // unbounded is a design error, not a slow query. The error names
    // the sample rule that sets |Q|.
    val nReps = idx.e3r.count()
    require(nReps * nQ <= maxEvalPairs,
      s"annFamilyTable: exact-truth arm of ${nReps * nQ} (rep, query) " +
        s"pairs exceeds the eval-tier bound $maxEvalPairs — the md5 " +
        s"query sample (RouteWideHexMax='$RouteWideHexMax') is too wide " +
        "for this corpus; raise maxEvalPairs if its size is intentional")
    // the shared scorer: every (query, rep ≠ own rep) exact-i64 d² —
    // one broadcast join, reused by every family's ranking and by truth
    // round-14: every checkpoint in this table is LAZY — the blocks
    // land inside the single final-union action instead of ~10
    // standalone driver jobs (guide §2.4); the lineage cut per stage is
    // unchanged, so plans stay bounded
    val qd = idx.e3r.join(broadcast(qt), col("vec_id") =!= col("rep_id"))
      .select($"query_id", $"vec_id",
        call_function("pq_d2", $"v", lit(0), $"qv").as("d2"))
      .localCheckpoint(false)
    val wq = Window.partitionBy($"query_id").orderBy($"d2", $"vec_id")
    val truthK = qd.withColumn("rk", row_number().over(wq))
      .filter($"rk" <= k)
      .select($"query_id", $"vec_id", $"rk")
      .localCheckpoint(false)
    val exactNN = truthK.filter($"rk" === 1)
      .select($"query_id", $"vec_id".as("nn"))
    /** One family row from its scored candidate pairs
      * (query_id, vec_id, score). `scannedOverride` replaces the
      * default candidate-pair count (the graph family measures
      * per-hop evaluations instead).
      */
    def familyRow(name: String, cands: DataFrame,
        scannedOverride: Option[DataFrame] = None): DataFrame = {
      val ranked = cands
        .withColumn("rk", row_number().over(Window
          .partitionBy($"query_id").orderBy($"score", $"vec_id")))
        .filter($"rk" <= k)
        .localCheckpoint(false)
      val overlap = ranked
        .join(truthK.select($"query_id", $"vec_id"),
          Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("sum_overlap"))
      val hits = ranked.filter($"rk" === 1)
        .join(exactNN, Seq("query_id"))
        .filter($"vec_id" === $"nn")
        .agg(count(lit(1)).as("n_hits"))
      val scanned = scannedOverride.getOrElse(
        cands.agg(count(lit(1)).as("total_scanned")))
      overlap.crossJoin(hits).crossJoin(scanned)
        .select(lit(name).as("family"), lit(k.toLong).as("k"),
          lit(nQ).as("n_queries"), $"total_scanned", $"sum_overlap",
          round($"sum_overlap" / lit((nQ * k).toDouble), 6).as("recall"),
          $"n_hits", round($"n_hits" / lit(nQ.toDouble), 6).as("hit_rate"))
    }
    // exact: the baseline — candidates are ALL scored pairs
    val exactRow = familyRow("exact", qd.select($"query_id", $"vec_id",
      $"d2".as("score")))
    // srp_bucket: the banded-LSH candidate join (queries' signatures
    // from their own float embeddings, the index's from the reps')
    val planes = headVectors(spark, dir, nPlanes)
    val sigCols = bandSignatureCols(planes, nBands, nPlanes)
    val e = emb(spark, dir)
    val repSigs = e
      .join(idx.e3r.select($"vec_id"), Seq("vec_id"), "left_semi")
      .select($"vec_id", posexplode(array(sigCols: _*))
        .as(Seq("band", "sig")))
    val qSigs = e
      .join(broadcast(qt.select($"query_id".as("vec_id"))),
        Seq("vec_id"), "left_semi")
      .select($"vec_id".as("query_id"),
        posexplode(array(sigCols: _*)).as(Seq("band", "sig")))
    val srpCands = broadcast(qSigs)
      .join(repSigs, Seq("band", "sig"))
      .select($"query_id", $"vec_id").distinct()
      .join(qd, Seq("query_id", "vec_id")) // attaches d2, drops own rep
      .select($"query_id", $"vec_id", $"d2".as("score"))
    val srpRow = familyRow("srp_bucket", srpCands)
    // ivf_p4: e3-scale seeded cells; reps assigned once, each query
    // probes its nProbe nearest cells
    val cells = e3Vectors(seeds.take(nCells))
    val repCell = idx.e3r
      .select($"vec_id", explode(array(cellStructs(cells, $"v"): _*)).as("cd"))
      .select($"vec_id", $"cd.cell".as("cell"), $"cd.d2".as("d2"))
      .groupBy($"vec_id")
      .agg(min(struct($"d2", $"cell")).as("m"))
      .select($"vec_id", $"m.cell".as("cell"))
    val qProbe = qt
      .select($"query_id",
        explode(array(cellStructs(cells, $"qv"): _*)).as("cd"))
      .select($"query_id", $"cd.cell".as("cell"), $"cd.d2".as("d2"))
      .withColumn("rk", row_number().over(Window
        .partitionBy($"query_id").orderBy($"d2", $"cell")))
      .filter($"rk" <= nProbe)
      .select($"query_id", $"cell")
    val ivfPairs = broadcast(qProbe)
      .join(repCell, Seq("cell"))
      .select($"query_id", $"vec_id")
      .join(qd, Seq("query_id", "vec_id"))
      .localCheckpoint(false)
    val ivfRow = familyRow(s"ivf_p$nProbe", ivfPairs
      .select($"query_id", $"vec_id", $"d2".as("score")))
    // pq_adc: md5-seeded per-block codes at e3 scale; reps encoded
    // once (codegen pq_encode), each query's ADC table joins the codes
    val bw = 64 / nBlocks
    val cwE3 = e3Vectors(seeds.slice(nCells, nCells + codesPerBlock))
    val codebooks: Seq[Seq[Seq[Long]]] = (0 until nBlocks).map(b =>
      cwE3.map(cw => cw.slice(b * bw, (b + 1) * bw).toSeq))
    val repCodes = idx.e3r.select($"vec_id",
      posexplode(VectorOps.pqEncodeCol(spark, $"v", codebooks)
        .getField("codes")).as(Seq("b", "code")))
    val ltStructs: Seq[Column] = (0 until nBlocks).flatMap(b =>
      cwE3.indices.map(code =>
        struct(lit(b).as("b"), lit(code.toLong).as("code"),
          VectorOps.pqD2Col(spark, $"qv", b * bw, codebooks(b)(code))
            .as("ltv"))))
    val ltTable = qt
      .select($"query_id", explode(array(ltStructs: _*)).as("s"))
      .select($"query_id", $"s.b".as("b"), $"s.code".cast("long").as("code"),
        $"s.ltv".as("ltv"))
    val adcAll = repCodes
      .join(broadcast(ltTable), Seq("b", "code"))
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"ltv").as("score"))
      .join(qd.select($"query_id", $"vec_id"),
        Seq("query_id", "vec_id"), "left_semi")
      .localCheckpoint(false)
    val adcRow = familyRow("pq_adc", adcAll)
    // ivf_pq_p4: the ivf candidate set ranked by the ADC score
    val ivfPqRow = familyRow(s"ivf_pq_p$nProbe", adcAll
      .join(ivfPairs.select($"query_id", $"vec_id"),
        Seq("query_id", "vec_id"), "left_semi"))
    // graph_greedy_k16: the q296 descent; cost = measured per-hop
    // distance evaluations
    val g = greedyDescentRows(s, entrySeed(s, "k_out", Seq(kOut), "cur"),
      maxHops).localCheckpoint(false)
    val graphRow = familyRow(s"graph_greedy_k$kOut",
      g.select($"query_id", $"routed_id".as("vec_id"),
        $"routed_d2".as("score")),
      Some(g.agg(coalesce(sum($"n_evals"), lit(0L)).as("total_scanned"))))
    Seq(exactRow, srpRow, ivfRow, adcRow, ivfPqRow, graphRow)
      .reduce(_ unionByName _)
  }

  /** Residual (two-level) product quantization report (q276): the
    * second standard compression step after q184/q269's one-level PQ —
    * quantize each block, then quantize the RESIDUAL against a second
    * codebook (the RQ/IVF-ADC refinement used by every billion-vector
    * index when one codebook's cells are too coarse). All integer, and
    * the improvement is a THEOREM here, not a hope: the residual
    * codebook always contains the ZERO vector (code 0), so the
    * two-level distortion of every vector is ≤ its one-level
    * distortion by construction — `n_violations` (vectors where level
    * 2 made things worse) is emitted and asserted 0 by the oracle,
    * alongside the exact distortion totals and the measured
    * improvement fraction. Level-2 codes are the residuals of the
    * NEXT 8 md5-sampled vectors against the level-1 codebook (the
    * first 8 are the level-1 seeds; their own residuals are 0 and
    * would be degenerate).
    *
    * Scale: both levels are zero-shuffle scan projections (argmin over
    * literal integer vectors — the q269 shape, twice); the report is
    * one single-row aggregate. Codebooks are plan-time literals
    * (2 × blocks × codes × blockDim ints).
    */
  def residualPqDistortion(spark: SparkSession, dir: String,
      nBlocks: Int = 4, codesPerBlock: Int = 8): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val bw = 64 / nBlocks
    val seeds16 = sampledCentroids(spark, dir, 2 * codesPerBlock)
    if (seeds16.size <= codesPerBlock)
      return Seq.empty[(Long, Long, Long, Long, Long, Double)]
        .toDF("n_vecs", "distortion1_m", "distortion2_m", "n_violations",
          "improvement_e6", "improvement_frac")
    // level-1 codebook: the first 8 sampled vectors, e6-quantized
    val c1 = blockCodebook(seeds16.take(codesPerBlock), nBlocks, bw)
    // level-2 codebook: code 0 is the ZERO residual (the law-maker);
    // codes 1.. are the next sampled vectors' residuals against c1,
    // computed driver-side in the same exact integers
    val c2: IndexedSeq[IndexedSeq[IndexedSeq[Long]]] =
      (0 until nBlocks).map { b =>
        val zero = IndexedSeq.fill(bw)(0L)
        val res = seeds16.drop(codesPerBlock).map { s =>
          val v = e6Of(s._2).slice(b * bw, (b + 1) * bw)
          val c = c1(b)(c1(b).indices.minBy(ci => (intD2(v, c1(b)(ci)), ci)))
          v.indices.map(i => v(i) - c(i))
        }
        zero +: res.toIndexedSeq
      }
    // per block: struct(d2_one, d2_two) — level-1 argmin picks the
    // centroid, then level-2 argmin runs on the residual; both exact i64
    def blockPair(b: Int): Column = {
      val lvl1 = c1(b).zipWithIndex.map { case (c, code) =>
        struct(VectorOps.pqD2Col(spark, $"xq", b * bw, c).as("d2"),
          lit(code).as("code"))
      }
      val best1 = if (lvl1.length == 1) lvl1.head else least(lvl1: _*)
      val code1 = best1.getField("code")
      val d2One = best1.getField("d2")
      // level-1 pick via a literal array-of-arrays; level-2 distance via
      // codegen'd pq_res_d2, which subtracts the pick inline — the
      // residual array is never materialized
      val c1Arr = array(c1(b).map(c => array(c.map(lit): _*)): _*)
      val sel = element_at(c1Arr, code1 + 1)
      val d2Two = c2(b).map(cc =>
        VectorOps.pqResD2Col(spark, $"xq", b * bw, sel, cc)) match {
        case Seq(one) => one
        case many => least(many: _*)
      }
      struct(d2One.as("d1"), d2Two.as("d2"))
    }
    val perVec = e.select($"vec_id", e6Col.as("xq"))
      .select(col("vec_id") +: (0 until nBlocks).map(b =>
        blockPair(b).as(s"b$b")): _*)
      .select(
        (0 until nBlocks).map(b => col(s"b$b").getField("d1"))
          .reduce(_ + _).as("d1"),
        (0 until nBlocks).map(b => col(s"b$b").getField("d2"))
          .reduce(_ + _).as("d2"))
      .selectExpr("d1 div 1000000 AS d1m", "d2 div 1000000 AS d2m",
        "CASE WHEN d2 > d1 THEN 1L ELSE 0L END AS viol")
    perVec.agg(
        count(lit(1)).as("n_vecs"),
        coalesce(sum($"d1m"), lit(0L)).as("distortion1_m"),
        coalesce(sum($"d2m"), lit(0L)).as("distortion2_m"),
        coalesce(sum($"viol"), lit(0L)).as("n_violations"))
      .withColumn("improvement_e6",
        expr("(distortion1_m - distortion2_m) * 1000000 div " +
          "greatest(distortion1_m, 1)"))
      .withColumn("improvement_frac",
        $"improvement_e6".cast("double") / 1000000.0)
  }

  /** ‖q − embedding‖² at full width, rounded to 6 — q184's three-dot
    * formula against a literal query vector; shared by the ADC search
    * (q269) and its recall eval (q270) so ranker and judge can't drift.
    */
  private def exactD2To(qv: Seq[Float]): Column = {
    val qq = qv.foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble)
    round(dot(col("embedding"), col("embedding")) -
      lit(2.0) * dot(col("embedding"), litVec(qv)) + lit(qq), 6)
  }

  /** ADC recall@k (q270): how much of the TRUE exact-L2 top-k the q269
    * PQ-ADC ranking recovers — the measured-recall contract every
    * quantized index must ship with (the q19/q65 IVF pattern applied to
    * PQ): both rankings are fully deterministic (integer ADC sums /
    * rounded exact d², vec_id tie-breaks), so recall is an exact
    * replayable VALUE, not a statistical estimate.
    *
    * Scale: two zero-shuffle scan rankings into TakeOrdered(k) and a
    * k-row intersection — the eval costs what two q269 queries cost.
    */
  def adcRecallAtK(spark: SparkSession, dir: String, nBlocks: Int = 4,
      codesPerBlock: Int = 8, k: Int = 10): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val adcTop = pqAdcTopK(spark, dir, nBlocks, codesPerBlock, k)
      .select($"vec_id")
    val exactTop = queryVector(e) match {
      case None => adcTop.limit(0)
      case Some(qv) => e.filter($"vec_id" =!= 0L)
        .select($"vec_id", exactD2To(qv).as("exact_d2"))
        .orderBy($"exact_d2", $"vec_id")
        .limit(k)
        .select($"vec_id")
    }
    adcTop.join(exactTop, "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(k.toLong).as("k"), $"n_overlap",
        round($"n_overlap" / lit(k.toDouble), 6).as("recall"))
  }

  /** Embedding-space outliers (q189): per vector the z-normalized
    * squared distance to the corpus centroid — Σ_d ((x_d − μ_d)/σ_d)²,
    * a diagonal-covariance Mahalanobis — ranked to the top `k`. This is
    * the embedding-side data-cleaning gate: encoder failures, empty
    * inputs and domain junk land in the far tail long before they show
    * up in any text heuristic.
    *
    * Scale: the per-dim moments are ONE pass (posexplode + 64-key
    * aggregate) in exact integer micro-units, collected as 64 plan-time
    * literals (the q74 pattern); scoring is then a pure scan projection
    * — a codegen'd left-to-right 64-term fold against those literals,
    * no second shuffle — feeding a TakeOrdered(k). Both engines fold
    * the SAME dim order, and μ/σ derive from exact integer sums with
    * one double division each, so the scores agree bitwise.
    */
  def embeddingOutliers(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val stats = e
      .select(posexplode($"embedding").as(Seq("dim", "x")))
      .select($"dim", round($"x" * 1000000).cast("long").as("xm"))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"), sum($"xm").as("s"),
        sum($"xm" * $"xm").as("q"))
      .orderBy($"dim").collect()
    if (stats.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("vec_id", "label", "score")
    val mus = stats.map { r =>
      val n = r.getLong(1).toDouble
      r.getLong(2) / (n * 1000000.0)
    }
    val sds = stats.map { r =>
      val n = r.getLong(1).toDouble
      val mu = r.getLong(2) / (n * 1000000.0)
      math.sqrt(math.max(r.getLong(3) / (n * 1e12) - mu * mu, 1e-12))
    }
    val score = mus.indices.map { i =>
      val z = (element_at($"embedding", i + 1).cast("double") - mus(i)) / sds(i)
      z * z
    }.reduce(_ + _)
    e.select($"vec_id", $"label".cast("long").as("label"),
        round(score, 6).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(k)
  }

  /** Retrieval-system agreement (q201): Spearman rank correlation (via
    * midranks, computed as Pearson on DOUBLED midranks — exact
    * integers) between the BM25 and cosine orderings of the q110 hit
    * list, plus the top-5 set overlap — the "do my lexical and semantic
    * retrievers even agree" diagnostic that decides whether a hybrid
    * (q110) is worth its cost: rho ≈ 1 means one system is redundant,
    * rho ≈ 0 means the hybrid genuinely fuses signal. Composes
    * [[hybridRerank]] verbatim.
    *
    * Scale: everything runs on the k-row hit list; the heavy lifting
    * is q86/q110's documented shapes.
    */
  def retrievalAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hits = hybridRerank(spark, dir)
      .select($"doc_id", $"bm25", $"cosine")
    val ranked = hits
      .withColumn("rb", row_number().over(
        Window.orderBy($"bm25".desc, $"doc_id")).cast("long"))
      .withColumn("rc", row_number().over(
        Window.orderBy($"cosine".desc, $"doc_id")).cast("long"))
      .withColumn("mb", round(lit(2) * avg($"rb").over(
        Window.partitionBy($"bm25"))).cast("long"))
      .withColumn("mc", round(lit(2) * avg($"rc").over(
        Window.partitionBy($"cosine"))).cast("long"))
    ranked.agg(count(lit(1)).as("n"),
        sum($"mb").as("sx"), sum($"mc").as("sy"),
        sum($"mb" * $"mc").as("sxy"), sum($"mb" * $"mb").as("sxx"),
        sum($"mc" * $"mc").as("syy"),
        sum(when($"rb" <= 5 && $"rc" <= 5, 1L).otherwise(0L)).as("ov5"))
      .select($"n".as("n_docs"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6)
          .as("spearman_rho"),
        round($"ov5" / lit(5.0), 6).as("top5_overlap"))
  }

  /** Rank-biased overlap between the BM25 and cosine orderings (q211):
    * the top-weighted companion to q201's Spearman — RBO(p) =
    * (1−p)·Σ_d p^(d−1)·|A_d ∩ B_d|/d discounts agreement geometrically
    * with depth, so two systems that agree on the podium but scramble
    * the tail score high (what a reranker cares about), where Spearman
    * treats every position equally. Emitted per depth: the overlap,
    * the agreement at that depth, and the depth's contribution; the
    * total rides every row. Depth contributions are rounded to 6 and
    * summed in exact micro-units.
    *
    * Scale: everything runs on the k-row hit list.
    */
  def rankBiasedOverlap(spark: SparkSession, dir: String,
      p: Double = 0.9): DataFrame = {
    import spark.implicits._
    val hits = hybridRerank(spark, dir)
      .select($"doc_id", $"bm25", $"cosine")
      .withColumn("rb", row_number().over(
        Window.orderBy($"bm25".desc, $"doc_id")).cast("long"))
      .withColumn("rc", row_number().over(
        Window.orderBy($"cosine".desc, $"doc_id")).cast("long"))
      .localCheckpoint(true)
    val n = hits.count().toInt
    if (n == 0)
      return Seq.empty[(Long, Long, Double, Double, Double)]
        .toDF("depth", "overlap", "agreement", "contribution", "rbo")
    val depths = (1 to n).map(_.toLong).toDF("depth")
    val perDepth = hits.crossJoin(broadcast(depths))
      .filter($"rb" <= $"depth" && $"rc" <= $"depth")
      .groupBy($"depth").agg(count(lit(1)).as("overlap"))
      .select($"depth", $"overlap",
        round($"overlap" / $"depth".cast("double"), 6).as("agreement"),
        round(lit(1.0 - p) * pow(lit(p), $"depth" - 1)
          * $"overlap" / $"depth", 6).as("contribution"))
    val total = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    perDepth.withColumn("rbo",
      round(sum(round($"contribution" * 1000000).cast("long")).over(total)
        / 1000000.0, 6))
  }

  /** KNN hubness profile (q192): the in-degree (k-occurrence)
    * distribution of the DIRECTED q54 KNN graph — how often each vector
    * appears in someone else's top-k. High-dimensional spaces grow hub
    * vectors that sit in everyone's neighbor list and antihubs nobody
    * retrieves; a right-skewed k-occurrence histogram is the standard
    * "retrieval quality will degrade" warning for an ANN index, checked
    * BEFORE building it at scale. Vectors never retrieved are real
    * zeros via a left join against the full id set.
    *
    * Scale: in-degree is one count over the edge list (nodes × k rows);
    * the histogram is a second small aggregate. Nothing touches the
    * embedding payload after the q54 bucketed closure.
    */
  def knnHubness(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val indeg = knnGraph(spark, dir, nPlanes, k)
      .groupBy($"neighbor_id".as("vec_id"))
      .agg(count(lit(1)).as("k_occ"))
    val all = emb(spark, dir).select($"vec_id")
      .join(indeg, Seq("vec_id"), "left")
      .select(coalesce($"k_occ", lit(0L)).as("k_occurrences"))
    all
      .groupBy($"k_occurrences")
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("frac", round($"n_vectors" /
        sum($"n_vectors").over(Window.partitionBy(lit(1))).cast("double"), 6))
  }

  /** Left-to-right dot product over two DOUBLE arrays via the builtin
    * HOFs — used only on label- / cluster-bounded tables where the
    * interpreted-lambda cost is irrelevant; the same index-order
    * accumulation as the oracle's list_sum comprehension.
    */
  private def dotD(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  /** Per-label embedding centroids and their pairwise cosine matrix —
    * "how close are the classes in embedding space", the drift/confusion
    * screen run before trusting a label-conditioned sample (and the
    * embedding-space complement of q87's lexical KL and q95's vocabulary
    * overlap, with `label` standing in for the source key). Centroid
    * components round to 1e-6 BEFORE the cosine so both engines compute
    * the pairwise matrix from identical literals (the q74 trajectory
    * argument, one round deep).
    *
    * Scale: one posexplode pass → (label × dim)-cell aggregate (map-side
    * combined); everything after is labels²-bounded, and the pair join
    * broadcasts. No corpus-sized shuffle beyond the dim-keyed agg.
    */
  def labelCentroidCosine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val ce = e.select($"label", posexplode($"embedding").as(Seq("p", "v")))
      .groupBy($"label", $"p").agg(avg($"v".cast("double")).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"p", $"c"))),
        s => round(s("c"), 6)).as("ce"))
    val sizes = e.groupBy($"label").agg(count(lit(1)).as("n"))
    val lab = ce.join(sizes, "label")
    val a = lab.select($"label".as("label_a"), $"ce".as("ce_a"), $"n".as("n_a"))
    val b = lab.select($"label".as("label_b"), $"ce".as("ce_b"), $"n".as("n_b"))
    a.join(broadcast(b), $"label_a" < $"label_b")
      .select($"label_a", $"label_b", $"n_a", $"n_b",
        round(dotD($"ce_a", $"ce_b") /
          (sqrt(dotD($"ce_a", $"ce_a")) * sqrt(dotD($"ce_b", $"ce_b"))), 6)
          .as("cosine"))
  }

  /** Per-label embedding dispersion via the Gram identity — the O(n)
    * evaluation of an O(n²) quantity: for L2-normalized vectors û the
    * mean pairwise cosine inside a label is
    * (‖Σû‖² − Σ‖û‖²) / (n(n−1)), so ONE pass that sums the unit
    * vectors componentwise replaces the n² cosine pairs; also emitted
    * is the mean resultant length ‖Σû‖/n, directional statistics'
    * concentration measure (→1 = all vectors aligned, →0 = spread).
    * This is the intra-label complement of q233's inter-label centroid
    * matrix: q233 says "are the classes far apart", this says "is each
    * class tight" — together the embedding-space confusion screen.
    *
    * Cross-engine: each û component is a per-row deterministic literal
    * (cast-to-double / vec_norm, the kmeans scoring parity); per-(label,
    * dim) sums round to 1e-6 before the Gram dot (q233 discipline), the
    * ‖û‖² rollup rounds once at the label grain.
    *
    * Scale: posexplode to (label × dim) cells with map-side combine —
    * the label-count × 64 aggregate is the ONLY shuffle; no pair join
    * exists at any scale.
    */
  def labelDispersion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val unit = e.select($"label",
      transform($"embedding",
        x => x.cast("double") / norm($"embedding")).as("u"))
    val cells = unit
      .select($"label", posexplode($"u").as(Seq("p", "v")))
      .groupBy($"label", $"p")
      .agg(sum($"v").as("s"), sum($"v" * $"v").as("q"))
    val perLabel = cells.groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"p", $"s"))),
          t => round(t("s"), 6)).as("sv"),
        round(sum($"q"), 6).as("sq"))
    val sizes = e.groupBy($"label").agg(count(lit(1)).as("n"))
    perLabel.join(sizes, "label")
      .select($"label", $"n",
        when($"n" > 1,
          round((dotD($"sv", $"sv") - $"sq") /
            ($"n" * ($"n" - 1)).cast("double"), 6))
          .as("mean_pairwise_cosine"),
        round(sqrt(dotD($"sv", $"sv")) / $"n".cast("double"), 6)
          .as("resultant_norm"))
  }

  /** Simplified (centroid-based) silhouette for the q74 k-means
    * clustering — the O(n·k) clustering-quality score that is actually
    * runnable at 100 TB (exact silhouette is O(n²)): per vector,
    * a = cosine distance to its own centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a)/max(a, b); rolled up per
    * cluster. Runs the identical rounded Lloyd trajectory as
    * [[kmeansAssign]], then ONE scan projection computes all k round-6
    * cosines per vector and picks best/second via a sorted literal-
    * struct array — no explode, no shuffle before the k-row rollup.
    * With nearest-centroid assignment a ≤ b always, so s ∈ [0, 1] and
    * max(a, b) = b; b = 0 (duplicate centroids) yields s = 0.
    */
  def kmeansSilhouette(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    Memo.withPersisted(e) {
      // a single centroid has no runner-up to measure against
      lloydSeeds(spark, dir, k, minCents = 2) match {
        case None => e.select(lit(0L).as("cluster_id"), lit(0L).as("n_members"),
          lit(0.0).as("avg_intra_dist"), lit(0.0).as("avg_inter_dist"),
          lit(0.0).as("avg_silhouette")).limit(0)
        case Some(init) =>
          val cents = (1 to iters).foldLeft(init)((cs, _) => lloydStep(e, cs))
          val cands = cents.map { case (cid, ce) => lloydCosStruct(cid, ce) }
          // ascending (cos, neg_cid): last = assignToLloyd's greatest —
          // max cosine, ties to the LOWEST cid; second-to-last = runner-up
          val sorted = array_sort(array(cands: _*))
          val best = element_at(sorted, -1)
          val second = element_at(sorted, -2)
          val perVec = e.select(
              (-best.getField("neg_cid")).cast("long").as("cluster_id"),
              (lit(1.0) - best.getField("cos")).as("a"),
              (lit(1.0) - second.getField("cos")).as("b"))
            .withColumn("sil",
              when($"b" > 0.0, ($"b" - $"a") / $"b").otherwise(lit(0.0)))
          perVec.groupBy($"cluster_id")
            .agg(count(lit(1)).as("n_members"),
              round(avg($"a"), 6).as("avg_intra_dist"),
              round(avg($"b"), 6).as("avg_inter_dist"),
              round(avg($"sil"), 6).as("avg_silhouette"))
            .localCheckpoint(true)
      }
    }
  }

  /** kNN-distance outlier scoring over the SRP-bucketed KNN graph — the
    * standard embedding-space noise screen a curation pipeline runs
    * before training (mislabeled / off-manifold vectors sit far from
    * even their nearest neighbors, Ramaswamy et al. 2000): per vector
    * the mean cosine DISTANCE to its ≤k bucket-nearest neighbors, in
    * exact e6 integer micro-units. [[knnGraph]] cosines are 6-dp by
    * construction, so 1e6·(1−cos) is an exact non-negative BIGINT and
    * the per-vector mean is an integer div — no double-sum order
    * hazard, and floor = truncate because every operand is ≥ 0 (the
    * round-5 cross-engine playbook). Vectors alone in every LSH bucket
    * have no KNN rows — emitted with a null score and `is_isolated`
    * (the strongest outlier signal), never dropped. `is_outlier` flags
    * scores above 2× the corpus mean score, a one-row broadcast cross
    * join — never a global window.
    *
    * Scale: [[knnGraph]]'s bucket self-join + a vec-keyed rollup; the
    * corpus mean is one row. Nothing here is corpus-quadratic.
    */
  def knnOutliers(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val perVec = knnGraph(spark, dir, nPlanes, k)
      .select($"vec_id",
        (lit(1000000L) - round($"cosine" * 1e6).cast("long")).as("d6"))
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("n_neighbors"), sum($"d6").as("sd"))
      .select($"vec_id", $"n_neighbors",
        expr("sd div n_neighbors").as("score_e6"))
    val scored = emb(spark, dir).select($"vec_id")
      .join(perVec, Seq("vec_id"), "left")
      .select($"vec_id",
        coalesce($"n_neighbors", lit(0L)).as("n_neighbors"),
        $"score_e6", $"score_e6".isNull.as("is_isolated"))
    val mean = scored.filter($"score_e6".isNotNull)
      .agg(expr("sum(score_e6) div greatest(count(1), 1)").as("mean_e6"))
    scored.crossJoin(broadcast(mean))
      .select($"vec_id", $"n_neighbors", $"score_e6", $"is_isolated",
        ($"is_isolated" ||
          coalesce($"score_e6" > $"mean_e6" * 2, lit(false))).as("is_outlier"),
        $"mean_e6")
  }

  /** Retrieval quality as nDCG@k over the head queries (vec_id <
    * nQueries, the headVectors discipline): each query ranks every
    * other vector by exact cosine, relevance = same label, and
    * DCG@k = Σ rel_i / log₂(i+1) is compared to the ideal ordering's
    * IDCG@min(k, R) — the standard graded-retrieval metric completing
    * the eval set next to recall (q65) and RBO (q211).
    *
    * Determinism: the top-k rank comes from `Ranking.topKGlobal`
    * (TakeOrdered + broadcast k²-rank, no global window); the DCG sum
    * folds a rank-SORTED array left-to-right (aggregate over
    * array_sort(collect_list) — both engines fold the identical
    * sequence, so the double is bit-stable, where a plain SUM would
    * inherit partition order); dcg and idcg round to 6dp FIRST and
    * ndcg divides the rounded values (q233 discipline).
    *
    * Scale: nQueries scan projections against literal query vectors —
    * the q86 shape; everything after the scan is k rows per query.
    */
  def ndcgAtK(spark: SparkSession, dir: String, nQueries: Int = 4,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    Memo.withPersisted(e) {
      val heads = e.filter($"vec_id" < nQueries)
        .select($"vec_id", $"embedding", $"label").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
        .sortBy(_._1)
      if (heads.isEmpty) {
        e.select($"vec_id".as("query_id"), lit(0L).as("rel_at_k"),
          lit(0L).as("n_relevant"), lit(0.0).as("dcg"), lit(0.0).as("idcg"),
          lit(0.0).as("ndcg")).limit(0)
      } else {
        val perQuery = heads.map { case (qid, qv, qlabel) =>
          val scored = e.filter($"vec_id" =!= qid)
            .select($"vec_id", ($"label" === qlabel).as("rel"),
              round(dot($"embedding", litVec(qv)) /
                (norm($"embedding") * lit(litNorm(qv))), 6).as("cosine"))
          val top = graft.ops.Ranking.topKGlobal(scored,
            Seq(("cosine", true), ("vec_id", false)), k)
          val nRel = e.filter($"vec_id" =!= qid && $"label" === qlabel)
            .agg(count(lit(1)).as("n_relevant"))
          top
            .agg(sum(when($"rel", 1L).otherwise(0L)).as("rel_at_k"),
              aggregate(
                array_sort(collect_list(struct($"rk".as("rk"),
                  when($"rel", 1L).otherwise(0L).as("r")))),
                lit(0.0),
                (acc, x) => acc + x.getField("r").cast("double") /
                  (log(x.getField("rk").cast("double") + 1) / log(lit(2.0))))
                .as("dcg_raw"))
            .crossJoin(broadcast(nRel))
            .select(lit(qid).as("query_id"),
              coalesce($"rel_at_k", lit(0L)).as("rel_at_k"),
              $"n_relevant",
              round(coalesce($"dcg_raw", lit(0.0)), 6).as("dcg"),
              when($"n_relevant" > 0, round(aggregate(
                sequence(lit(1L), least(lit(k.toLong), $"n_relevant")),
                lit(0.0),
                (acc, i) => acc + lit(1.0) /
                  (log(i.cast("double") + 1) / log(lit(2.0)))), 6))
                .otherwise(lit(0.0)).as("idcg"))
            .withColumn("ndcg",
              when($"idcg" > 0, round($"dcg" / $"idcg", 6)).otherwise(lit(0.0)))
        }
        perQuery.reduce(_ unionByName _).localCheckpoint(true)
      }
    }
  }

  /** Label-noise screen (confident-learning-lite, the Cleanlab idea
    * applied at corpus scale): per vector, how many of its k bucket-
    * nearest neighbors SHARE its label, what label its neighborhood
    * would vote instead, and the `is_suspect` flag — zero agreeing
    * neighbors AND a unanimous dissenting vote, the classic signature
    * of a mislabeled example worth pulling before training. Vote ties
    * break toward the smaller label id (deterministic on both
    * engines); LSH-isolated vectors have no evidence and are never
    * flagged.
    *
    * Scale: one [[knnGraph]] bucket join + two vec-keyed rollups; the
    * vote is a ≤k-row-per-vector argmax on (count desc, label asc) —
    * endpoint-keyed windows only.
    */
  def labelNoiseScreen(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir).select($"vec_id", $"label")
    val nbr = knnGraph(spark, dir, nPlanes, k)
      .join(e.select($"vec_id".as("neighbor_id"), $"label".as("n_label")),
        Seq("neighbor_id"))
    val perVec = nbr.groupBy($"vec_id")
      .agg(count(lit(1)).as("n_neighbors"))
    val votes = nbr.groupBy($"vec_id", $"n_label")
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy($"vec_id")
      .orderBy($"n_votes".desc, $"n_label")
    val top = votes.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"n_label".as("voted_label"),
        $"n_votes".as("n_voted"))
    e.join(perVec, Seq("vec_id"), "left")
      .join(top, Seq("vec_id"), "left")
      .join(nbr.join(e.select($"vec_id", $"label".as("own_label")),
          Seq("vec_id"))
        .groupBy($"vec_id")
        .agg(sum(when($"n_label" === $"own_label", 1L).otherwise(0L))
          .as("n_agree")),
        Seq("vec_id"), "left")
      .select($"vec_id", $"label",
        coalesce($"n_neighbors", lit(0L)).as("n_neighbors"),
        coalesce($"n_agree", lit(0L)).as("n_agree"),
        $"voted_label",
        (coalesce($"n_neighbors", lit(0L)) > 0 &&
          coalesce($"n_agree", lit(0L)) === 0 &&
          $"n_voted" === $"n_neighbors").as("is_suspect"))
  }

  /** Matryoshka truncation audit: how much cosine structure survives
    * keeping only the first 1/2 and 1/4 of the embedding dimensions —
    * the go/no-go measurement before serving truncated (MRL-style)
    * vectors from a smaller index. Over the KNN edge set (real
    * neighbor pairs, the pairs that matter for retrieval), per label:
    * mean |cos_full − cos_half| and |cos_full − cos_quarter| in exact
    * e6 integer units (6-dp cosines → integer sums → one div, no
    * double-sum order hazard) plus the sign-flip counts (a positive
    * pair turning negative is a retrieval inversion, not just noise).
    *
    * Scale: the KNN join is the only shuffle; the sliced cosines are
    * scan-side array math on the joined pair rows, and the rollup is
    * labels-sized.
    */
  def matryoshkaAudit(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    def half(c: Column, frac: Int): Column =
      slice(c, lit(1), (size(c) / frac).cast("int"))
    def cosAt(a: Column, b: Column, frac: Int): Column = {
      val (sa, sb) = (half(a, frac), half(b, frac))
      round(dot(sa, sb) / (norm(sa) * norm(sb)), 6)
    }
    def e6(c: Column): Column = round(c * 1e6).cast("long")
    val pairs = knnGraph(spark, dir, nPlanes, k)
      .join(e.select($"vec_id", $"embedding".as("ea"), $"label"), Seq("vec_id"))
      .join(e.select($"vec_id".as("neighbor_id"), $"embedding".as("eb")),
        Seq("neighbor_id"))
      .select($"label", e6($"cosine").as("c6"),
        e6(cosAt($"ea", $"eb", 2)).as("h6"),
        e6(cosAt($"ea", $"eb", 4)).as("q6"))
    pairs.groupBy($"label")
      .agg(count(lit(1)).as("n_edges"),
        expr("sum(abs(c6 - h6)) div count(1)").as("drift_half_e6"),
        expr("sum(abs(c6 - q6)) div count(1)").as("drift_quarter_e6"),
        sum(when(($"c6" >= 0) =!= ($"h6" >= 0), 1L).otherwise(0L))
          .as("sign_flips_half"),
        sum(when(($"c6" >= 0) =!= ($"q6" >= 0), 1L).otherwise(0L))
          .as("sign_flips_quarter"))
  }

  /** Margin-based alignment mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix bitext-mining criterion): mutual-best matches
    * between the md5 train split (side X) and the eval split (side Y)
    * of the embeddings, scored by the RATIO margin
    * `margin(x,y) = cos(x,y) / ((avgK(x) + avgK(y)) / 2)` — the cosine
    * relative to each endpoint's average top-k candidate cosine, which
    * suppresses hub vectors that score high against everything. A pair
    * survives only if y is x's best margin AND x is y's best margin
    * (mutual argmax, ties to the lower id).
    *
    * Cross-engine determinism: cosines are 6-dp; all margin arithmetic
    * is exact e6 integers — per-side averages fold the SHIFTED
    * non-negative units (c6 + 1e6, so the floor div agrees across
    * engines even when candidate cosines are negative; the shift
    * cancels algebraically: div by k then subtract 1e6), and the margin
    * is `(c6 · 2e6) div (ax6 + ay6)` guarded to positive denominators
    * and non-negative numerators, so floor = truncate on both engines.
    * `c6 · 2e6 ≤ 2e12` fits a signed long with 3 decades to spare.
    *
    * Scale: candidates come from the same SRP bucket join as
    * [[knnGraph]] (never all-pairs); every window partitions by an
    * endpoint id (bucket-bounded, no SinglePartition); the top-k
    * average and both argmax ranks shuffle candidate rows keyed by
    * endpoint — the same shuffle class the KNN graph already pays.
    */
  def marginAlignment(spark: SparkSession, dir: String, nPlanes: Int = 8,
      kAvg: Int = 3): DataFrame = {
    import spark.implicits._
    val bucketed = emb(spark, dir).select($"vec_id", $"embedding",
      srpBucket(headVectors(spark, dir, nPlanes)).as("bucket"),
      norm($"embedding").as("nrm"), isTrainVec.as("is_train"))
    val cand = bucketed.filter($"is_train").as("x")
      .join(bucketed.filter(!$"is_train").as("y"),
        col("x.bucket") === col("y.bucket"))
      .select(col("x.vec_id").as("x_id"), col("y.vec_id").as("y_id"),
        round(dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), 6).as("cosine"))
      .withColumn("c6", round($"cosine" * 1e6).cast("long"))
    // mean of the top-kAvg candidate cosines per endpoint, exact e6:
    // fold c6 + 1e6 (non-negative) and un-shift after the floor div
    def sideAvg(key: String, other: String, out: String): DataFrame = {
      val w = Window.partitionBy(col(key)).orderBy($"c6".desc, col(other))
      cand.withColumn("rn", row_number().over(w))
        .filter($"rn" <= kAvg)
        .groupBy(col(key))
        .agg(expr(s"(sum(c6 + 1000000) div count(1)) - 1000000").as(out))
    }
    val margins = cand
      .join(sideAvg("x_id", "y_id", "ax6"), "x_id")
      .join(sideAvg("y_id", "x_id", "ay6"), "y_id")
      .withColumn("margin_e6",
        when($"ax6" + $"ay6" > 0L && $"c6" >= 0L,
          expr("(c6 * 2000000) div (ax6 + ay6)")))
      .filter($"margin_e6".isNotNull)
    val bx = Window.partitionBy($"x_id").orderBy($"margin_e6".desc, $"y_id")
    val by = Window.partitionBy($"y_id").orderBy($"margin_e6".desc, $"x_id")
    margins
      .withColumn("rx", row_number().over(bx))
      .withColumn("ry", row_number().over(by))
      .filter($"rx" === 1 && $"ry" === 1)
      .select($"x_id", $"y_id", $"cosine", $"margin_e6",
        round($"margin_e6".cast("double") / 1e6, 6).as("margin"))
  }

  /** Dominant spectral direction of the embedding corpus (q255): the
    * top eigenvector (with its Rayleigh eigenvalue) of the d×d
    * second-moment matrix S = Σ x xᵀ over e3-quantized components — the
    * "energy axis" behind whitening, matryoshka truncation audits
    * (q248) and anisotropy diagnostics (a healthy embedding space
    * spreads energy; one dominant direction means the metric is mostly
    * one feature). Everything is EXACT integer arithmetic so the
    * oracle replays it bit-for-bit: components quantize to e3 longs,
    * S accumulates exact i64 products (overflow-guarded against the
    * measured max |x̃|²·n, loud require), and `iters` power-iteration
    * rounds run on the collected d×d matrix in BigInt with an
    * L∞ = e6 integer renormalization (sign · (|w|·1e6 div max|w|) —
    * division only ever on non-negative values, so Spark's
    * trunc == DuckDB's floor `//`). The start vector is the all-1e6
    * vector, so the sign convention is deterministic, not the usual
    * eigenvector ± ambiguity.
    *
    * Scale: the corpus pass is ONE self-join per vec_id (co-partitioned,
    * d² fan-out per row) whose (i, j) rollup is map-side combined down
    * to ≤ d² rows per partition before any shuffle; the iteration
    * touches only the d×d driver matrix (the q74 Lloyd pattern: k·d²
    * scalar driver ops steering one distributed pass). d = 64 here;
    * the require names the honest i64 ceiling (≈ 4e18 / max|x̃|² rows).
    */
  /** The q255/q256 shared spectral state: collected d×d exact moment
    * matrix, converged e6 eigenvector, Rayleigh numerator/denominator —
    * memoized per (session, dir, iters) like the KMV sketch table, so
    * the energy report (q256) reuses q255's one corpus pass.
    */
  private case class Spectral(d: Int, n: Long, sm: Array[Array[BigInt]],
      v: Array[BigInt], num: BigInt, den: BigInt, lam4: BigInt)

  /** Keyed by (session, dir, iters, corpus fingerprint) and entry-capped
    * via [[Memo]]: an in-session corpus rewrite recomputes instead of
    * serving the stale moment matrix, and the retained d×d BigInt
    * state is bounded across distinct key combinations.
    */
  private val spectralCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Long), Option[Spectral]]

  /** The shared exact-integer power iteration: `iters` rounds of
    * w = S·v in BigInt from the all-1e6 start, L∞ e6 renormalization
    * with sign-split non-negative division (trunc == floor), then the
    * Rayleigh pieces. Returns (v, num, den, lam4). Pure driver math —
    * q255/q256 run it on the corpus moment matrix, q264 per label.
    */
  private def powerIterate(sm: Array[Array[BigInt]], d: Int,
      iters: Int): (Array[BigInt], BigInt, BigInt, BigInt) = {
    var v = Array.fill(d + 1)(BigInt(1000000))
    v(0) = BigInt(0) // 1-based dims
    for (_ <- 1 to iters) {
      val w = (0 to d).map(i =>
        (1 to d).foldLeft(BigInt(0))((acc, j) => acc + sm(i)(j) * v(j)))
        .toArray
      val m = (1 to d).map(i => w(i).abs).max.max(BigInt(1))
      v = (0 to d).map(i =>
        (if (w(i) < 0) -((-w(i)) * 1000000 / m)
         else w(i) * 1000000 / m)).toArray
      v(0) = BigInt(0)
    }
    val num = (for (i <- 1 to d; j <- 1 to d)
      yield v(i) * sm(i)(j) * v(j)).sum
    val den = (1 to d).map(i => v(i) * v(i)).sum
    val lam4 = if (den == 0) BigInt(0) else num * 10000 / den
    require(lam4.isValidLong,
      s"powerIterate: eigenvalue_e4 $lam4 exceeds i64 — the guarded " +
        "moment bound should have prevented this")
    (v, num, den, lam4)
  }

  private def spectralCore(spark: SparkSession, dir: String,
      iters: Int): Option[Spectral] = {
    val fp = Memo.fingerprint(spark, s"$dir/embeddings.parquet")
    Memo.cached(spectralCache, (spark, dir, iters, fp),
        label = "spectralMoments") {
      import spark.implicits._
      val base = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter($"embedding".isNotNull)
      val comps = base
        .select($"vec_id", posexplode($"embedding").as(Seq("i", "x")))
        .select($"vec_id", ($"i" + 1).as("i"),
          round($"x".cast("double") * 1000).cast("long").as("xi"))
      Memo.withPersisted(comps) {
        val guard = comps.agg(max(abs($"xi")).as("mx")).head()
        if (guard.isNullAt(0)) None
        else {
          val mx = guard.getLong(0)
          // n_vecs from the UNEXPLODED table under the oracle's own
          // predicate (count(*) WHERE embedding IS NOT NULL): a
          // zero-length embedding array counts here but contributes no
          // components, so counting distinct vec_id over the exploded
          // rows would desync the two engines.
          val n = base.count()
          // Per-cell moment bound is n·mx²; compare in BigInt — the
          // naive mx*mx pre-check itself wraps past |x̃| ≈ 3e9 and
          // would spuriously pass exactly when it matters.
          require(BigInt(mx) * BigInt(mx) * BigInt(math.max(n, 1L)) <=
              BigInt(Long.MaxValue),
            s"topEigenvector: max|x_e3|=$mx over $n rows overflows the " +
              "exact-i64 moment sums — quantize coarser or shard the pass")
          val sRows = comps.as("a").join(comps.as("b"), "vec_id")
            .select(col("a.i").as("i"), col("b.i").as("j"),
              (col("a.xi") * col("b.xi")).as("p"))
            .groupBy($"i", $"j").agg(sum($"p").as("s"))
            .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
          val d = sRows.map(_._1).max
          val sm = Array.ofDim[BigInt](d + 1, d + 1)
          for (i <- 0 to d; j <- 0 to d) sm(i)(j) = BigInt(0)
          sRows.foreach { case (i, j, s) => sm(i)(j) = BigInt(s) }
          val (v, num, den, lam4) = powerIterate(sm, d, iters)
          Some(Spectral(d, n, sm, v, num, den, lam4))
        }
      }
    }
  }

  def topEigenvector(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame = {
    import spark.implicits._
    spectralCore(spark, dir, iters) match {
      case None =>
        // empty corpus: empty result, schema kept
        Seq.empty[(Long, Long, Long, Double)]
          .toDF("dim", "loading_e6", "eigenvalue_e4", "eigenvalue")
      case Some(sp) =>
        (1 to sp.d).map(i => (i.toLong, sp.v(i).toLong, sp.lam4.toLong,
            sp.lam4.toDouble / 10000.0))
          .toDF("dim", "loading_e6", "eigenvalue_e4", "eigenvalue")
    }
  }

  /** Per-LABEL spectral energy (q264): the q256 anisotropy report
    * computed within each label's embedding slice — which CLASSES live
    * on one axis (a label whose energy_frac ≈ 1 is near-degenerate:
    * its members differ along a single direction, the classic symptom
    * of caption-template or near-duplicate classes). Same exact-integer
    * discipline end to end: per-(label, i, j) i64 moment sums in ONE
    * grouped pass (map-side combined to ≤ |labels|·d² rows), the
    * BigInt power iteration per label on the driver (|labels|·d²
    * scalar ops — the q74 pattern), e4/e6 integer outputs the oracle
    * replays with label-grouped unrolled rounds.
    *
    * Scale: one corpus pass; the collect is |labels|·d² longs (a few
    * MB at 10⁴ labels × d=64) — enforced, not aspirational: a loud
    * `require` trips when |labels|·d² exceeds `maxDriverCells` (default
    * 1e8 cells = 800 MB of longs, the honest single-driver ceiling)
    * instead of silently OOMing the driver; past it, shard the loop by
    * label range.
    */
  def labelSpectralEnergy(spark: SparkSession, dir: String,
      iters: Int = 8, maxDriverCells: Long = 100000000L): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"embedding".isNotNull && $"label".isNotNull)
    val comps = base
      .select($"label".cast("long").as("lbl"), $"vec_id",
        posexplode($"embedding").as(Seq("i", "x")))
      .select($"lbl", $"vec_id", ($"i" + 1).as("i"),
        round($"x".cast("double") * 1000).cast("long").as("xi"))
    Memo.withPersisted(comps) {
      val guard = comps.agg(max(abs($"xi")).as("mx"),
        count_distinct($"lbl").as("nl"),
        max($"i").cast("long").as("d")).head()
      if (guard.isNullAt(0)) {
        Seq.empty[(Long, Long, Long, Long, Long, Double)]
          .toDF("label", "n_vecs", "trace", "eigenvalue_e4",
            "energy_frac_e6", "energy_frac")
      } else {
        val mx = guard.getLong(0)
        val (nl, dMax) = (guard.getLong(1), guard.getLong(2))
        // n_vecs per label from the UNEXPLODED table (oracle predicate:
        // count(*) WHERE embedding IS NOT NULL AND label IS NOT NULL) —
        // zero-length arrays count as vectors but have no components.
        val nPer = base.groupBy($"label".cast("long").as("lbl"))
          .agg(count(lit(1)).as("nv"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val n = nPer.valuesIterator.sum
        // BigInt comparisons: both the n·mx² moment bound and nl·d² can
        // overflow i64 exactly in the regimes the guards exist for.
        require(BigInt(mx) * BigInt(mx) * BigInt(math.max(n, 1L)) <=
            BigInt(Long.MaxValue),
          s"labelSpectralEnergy: max|x_e3|=$mx over $n rows overflows the " +
            "exact-i64 moment sums — quantize coarser or shard the pass")
        require(BigInt(nl) * BigInt(dMax) * BigInt(dMax) <=
            BigInt(maxDriverCells),
          s"labelSpectralEnergy: $nl labels x d=$dMax would collect " +
            s"${BigInt(nl) * BigInt(dMax) * BigInt(dMax)} moment cells " +
            s"(> budget $maxDriverCells) onto the driver — shard the " +
            "loop by label range")
        val sRows = comps.as("a")
          .join(comps.as("b"), Seq("lbl", "vec_id"))
          .select($"lbl", col("a.i").as("i"), col("b.i").as("j"),
            (col("a.xi") * col("b.xi")).as("p"))
          .groupBy($"lbl", $"i", $"j").agg(sum($"p").as("s"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        val d = sRows.map(_._2).max
        val out = sRows.groupBy(_._1).toSeq.map { case (lbl, rows) =>
          val sm = Array.ofDim[BigInt](d + 1, d + 1)
          for (i <- 0 to d; j <- 0 to d) sm(i)(j) = BigInt(0)
          rows.foreach { case (_, i, j, s) => sm(i)(j) = BigInt(s) }
          val (_, num, den, lam4) = powerIterate(sm, d, iters)
          val trace = (1 to d).map(i => sm(i)(i)).sum
          require(trace.isValidLong,
            s"labelSpectralEnergy: trace $trace exceeds i64")
          val frac6 =
            if (den == 0 || trace == 0) BigInt(0)
            else num * 1000000 / (den * trace)
          (lbl, nPer(lbl), trace.toLong, lam4.toLong, frac6.toLong,
            frac6.toLong.toDouble / 1000000.0)
        }
        out.toDF("label", "n_vecs", "trace", "eigenvalue_e4",
          "energy_frac_e6", "energy_frac")
      }
    }
  }

  /** Per-vector dominant-direction share (q262): for every embedding,
    * cos²(x̃, v) against the q255 top eigenvector — which VECTORS ride
    * the dominant axis (q256 says how anisotropic the space is; this
    * names the rows). share = (x̃·v)² / (‖x̃‖²·‖v‖²) with x̃ the e3
    * quantization and v the converged e6 eigenvector folded into the
    * plan as literals (the SRP-plane broadcast pattern): the dot and
    * both norms are EXACT i64 (|dot| ≤ 64·2e3·1e6 ≈ 1.3e11), and the
    * one double division happens on exactly-representable integers —
    * deterministic IEEE on both engines, rounded once. `is_dominated`
    * flags share ≥ 0.5 (more of the vector's energy on the one axis
    * than off it).
    *
    * Scale: pure scan projection over the corpus (the spectral core is
    * memoized; its one pass is q255's) — zero shuffles.
    */
  def dominantShare(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame = {
    import spark.implicits._
    spectralCore(spark, dir, iters) match {
      case None =>
        Seq.empty[(Long, Long, Long, Double, Boolean)]
          .toDF("vec_id", "dot_e9", "norm2_e6", "dom_share", "is_dominated")
      case Some(sp) =>
        val nv = sp.den.toLong // Σv² ≤ 64·1e12, fits i64
        val vLit = array((1 to sp.d).map(i => lit(sp.v(i).toLong)): _*)
        spark.read.parquet(s"$dir/embeddings.parquet")
          // size > 0 mirrors the oracle, whose component table simply
          // has no rows for an empty array
          .filter($"embedding".isNotNull && size($"embedding") > 0)
          .select($"vec_id", e3Col.as("xq"))
          .select($"vec_id",
            aggregate(zip_with($"xq", vLit, (x, vi) => x * vi),
              lit(0L), (acc, t) => acc + t).as("dot_e9"),
            aggregate($"xq", lit(0L), (acc, x) => acc + x * x)
              .as("norm2_e6"))
          .select($"vec_id", $"dot_e9", $"norm2_e6",
            when($"norm2_e6" > 0 && lit(nv) > 0,
              round(($"dot_e9".cast("double") * $"dot_e9") /
                ($"norm2_e6".cast("double") * lit(nv)), 6)).as("dom_share"))
          .withColumn("is_dominated",
            $"dom_share".isNotNull && $"dom_share" >= 0.5)
    }
  }

  /** Spectral ENERGY report (q256): how much of the embedding space's
    * total second-moment energy (the trace of S — exact i64 under the
    * q255 guard) the dominant direction carries. A healthy embedding
    * space spreads energy across directions; energy_frac near 1 means
    * the cosine metric is effectively one feature (the anisotropy
    * pathology matryoshka/whitening fix). All integers:
    * frac_e6 = num·1e6 div (den·trace) — the same non-negative exact
    * division discipline as q255, replayed verbatim by the oracle.
    * Reuses q255's memoized moment pass — the report itself is O(d)
    * driver math.
    */
  def spectralEnergy(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame = {
    import spark.implicits._
    spectralCore(spark, dir, iters) match {
      case None =>
        Seq.empty[(Long, Long, Long, Long, Long, Double)]
          .toDF("n_vecs", "n_dims", "trace", "eigenvalue_e4",
            "energy_frac_e6", "energy_frac")
      case Some(sp) =>
        val trace = (1 to sp.d).map(i => sp.sm(i)(i)).sum
        require(trace.isValidLong,
          s"spectralEnergy: trace $trace exceeds i64")
        val frac6 =
          if (sp.den == 0 || trace == 0) BigInt(0)
          else sp.num * 1000000 / (sp.den * trace)
        Seq((sp.n, sp.d.toLong, trace.toLong, sp.lam4.toLong,
            frac6.toLong, frac6.toLong.toDouble / 1000000.0))
          .toDF("n_vecs", "n_dims", "trace", "eigenvalue_e4",
            "energy_frac_e6", "energy_frac")
    }
  }
}
