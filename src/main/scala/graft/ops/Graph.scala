package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the embedding KNN graph — the
  * centrality signal data-curation pipelines use to pick representative
  * documents out of near-dup neighborhoods (connected components for the
  * keep/drop partition live in [[Dedup.connectedComponents]]).
  */
object Graph {

  /** PageRank over [[Similarity.knnGraph]]'s directed top-k edges:
    * `iters` synchronous power-iteration rounds of
    * r(v) ← (1−d)/N + d·Σ_{u→v} r(u)/outdeg(u), started uniform.
    * Emitted as rank·N (scale-free: ≈1.0 is "averagely central"), so the
    * number means the same thing at sf0.001 and at 100 TB.
    *
    * Per round: one join of the persisted edge table against the current
    * rank vector on src (both corpus-node-sized, co-keyed) plus one
    * map-side-combined groupBy(dst) — the canonical Spark PageRank
    * shuffle shape, with localCheckpoint cutting the per-round lineage.
    * Dangling nodes (no out-edges — a vector alone in its LSH bucket)
    * keep their base (1−d)/N and their mass leaks, the deterministic
    * simplification both this and the oracle compute identically.
    */
  def pageRankKnn(spark: SparkSession, dir: String, iters: Int = 5,
      damping: Double = 0.85, nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    val edges = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select($"vec_id".as("src"), $"neighbor_id".as("dst"))
    Memo.withPersisted(edges) {
      // out-degree rides along each edge row; the join reuses the edge
      // exchange on src (same key both sides)
      val withDeg = edges
        .join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
      val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
      // one tiny driver-side count (the same bounded-scalar pattern as the
      // dedupClusters edge count): N parameterizes every round's literals
      val n = nodes.count()
      if (n == 0) nodes.select($"vec_id", lit(0.0).as("rank_ratio"))
      else {
        // no per-round checkpoint: iters is a small fixed constant, so the
        // lineage is bounded at plan time and one job runs all rounds —
        // eager localCheckpoint per round tripled wall time by forcing a
        // materialization barrier between every pair of rounds (checkpoint
        // when iterating to CONVERGENCE, where lineage is unbounded)
        var ranks = nodes.select($"vec_id", lit(1.0 / n).as("rank"))
        for (_ <- 1 to iters) {
          val inMass = withDeg.join(ranks, $"src" === $"vec_id")
            .select($"dst", ($"rank" / $"deg").as("c"))
            .groupBy($"dst").agg(sum($"c").as("in_mass"))
          ranks = nodes.join(inMass, $"vec_id" === $"dst", "left")
            .select($"vec_id",
              (lit((1.0 - damping) / n) +
                lit(damping) * coalesce($"in_mass", lit(0.0))).as("rank"))
        }
        // ONE eager checkpoint of the node-sized result lets the edge cache
        // be released before returning — a lazy return would either leak the
        // MEMORY_AND_DISK edge table for the session lifetime or recompute
        // the KNN pipeline once per rank round
        ranks.select($"vec_id", round($"rank" * n, 6).as("rank_ratio"))
          .localCheckpoint(true)
      }
    }
  }

  /** Per-node triangle count and local clustering coefficient over the
    * undirected closure of [[Similarity.knnGraph]] — the neighborhood-
    * density signal: near-dup clusters close their triangles, isolated
    * documents do not. Edges are canonicalized (min, max) + distinct;
    * triangles enumerate each {a<b<c} once via the wedge join
    * (e1: a–b) ⋈ (e2: b–c) closed by (e3: a–c), then explode to the
    * three member nodes. coeff = 2T / (deg·(deg−1)), null below degree
    * 2. Total over all vectors.
    *
    * Scale: out-degree is capped at k per direction, so the undirected
    * degree is ≤ 2k and the wedge join fans out ≤ deg² per node —
    * bounded by the CONSTANT k², never by corpus size; all three joins
    * key on node ids (uniform). The edge table is persisted (it feeds
    * the wedge join twice, the closing probe and the degree count), the
    * node-sized result eagerly checkpointed, and the cache released —
    * the pageRankKnn lifecycle.
    */
  def knnTriangles(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und) {
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array($"x", $"y", $"z")).as("vec_id"))
      .groupBy($"vec_id").agg(count(lit(1)).as("n_triangles"))
    val deg = und
      .select(explode(array($"a", $"b")).as("vec_id"))
      .groupBy($"vec_id").agg(count(lit(1)).as("degree"))
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id")
      .join(deg, Seq("vec_id"), "left")
      .join(perNode, Seq("vec_id"), "left")
      .select($"vec_id",
        coalesce($"degree", lit(0L)).as("degree"),
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
      .withColumn("clustering_coeff",
        when($"degree" >= 2,
          round($"n_triangles" * lit(2.0) / ($"degree" * ($"degree" - 1)), 6)))
      .localCheckpoint(true)
    }
  }

  /** Synchronous label propagation over the undirected KNN closure
    * (q170): every node starts in its own community (label = vec_id);
    * each of `rounds` fixed rounds reassigns every node to the MODE of
    * its neighbors' labels, ties broken (count DESC, label ASC), nodes
    * with no neighbors keeping their label. The classic near-linear
    * community detector — where connected components (q41) answer "what
    * touches what", LPA finds the densely-knit cores inside one
    * component. Reported per community: size and the smallest member
    * (the stable community name).
    *
    * Scale: per round one edge⋈label join keyed on node id (fan-out
    * bounded by degree ≤ 2·knnK — a CONSTANT) and one (node,
    * label)-keyed count; rounds are fixed, so the lineage is plan-time
    * bounded and all rounds run unbarriered in one job (the q70
    * no-per-round-checkpoint lesson). Edges are persisted — they feed
    * every round — and released after the node-sized result is
    * checkpointed.
    */
  /** Shared LPA core: undirected closure of the KNN graph (persisted
    * canonical a<b edge list) + the synchronous mode-of-neighbors label
    * rounds. `body` receives (canonical edges, final labels) while the
    * edge cache is held, and MUST checkpoint what it returns.
    */
  private def withLpaLabels[A](spark: SparkSession, dir: String,
      rounds: Int, nPlanes: Int, k: Int)(
      body: (DataFrame, DataFrame) => A): A = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und) {
      val edges = und.select($"a".as("u"), $"b".as("v"))
        .unionByName(und.select($"b".as("u"), $"a".as("v")))
      val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
      var labels = nodes.select($"vec_id", $"vec_id".as("lbl"))
      for (_ <- 1 to rounds) {
        // argmax via min_by on the packed (−count, label) struct key —
        // same (count DESC, label ASC) pick as a rank window, without
        // the per-round partition sort the window would add
        val mode = edges.join(labels, $"v" === $"vec_id")
          .groupBy($"u", $"lbl").agg(count(lit(1)).as("c"))
          .groupBy($"u")
          .agg(min_by($"lbl", struct((-$"c").as("nc"), $"lbl")).as("new_lbl"))
          .withColumnRenamed("u", "vec_id")
        labels = labels.join(mode, Seq("vec_id"), "left")
          .select($"vec_id", coalesce($"new_lbl", $"lbl").as("lbl"))
      }
      body(und, labels)
    }
  }

  def labelPropagation(spark: SparkSession, dir: String, rounds: Int = 3,
      nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    withLpaLabels(spark, dir, rounds, nPlanes, k) { (_, labels) =>
      labels.groupBy($"lbl".as("community_id"))
        .agg(count(lit(1)).as("n_members"), min($"vec_id").as("min_member"))
        .localCheckpoint(true)
    }
  }

  /** LPA to FIXPOINT (q224): the q170 synchronous rounds iterated until
    * a round changes NO label — the community structure the fixed-round
    * variant only reaches if convergence happens to fit its budget —
    * capped at `maxRounds` (synchronous LPA can 2-cycle on bipartite
    * structures, so an uncapped loop may never terminate). The q220
    * cap-as-semantics argument: a converged labelling is a FIXED POINT
    * of the deterministic round function, so early-stop equals exactly
    * `maxRounds` unrolled rounds on every input, and the oracle unrolls
    * the same `maxRounds` CTE blocks.
    *
    * Convergence-loop discipline (the q70/q220 rule): labels are
    * localCheckpoint'ed per round — each round references the previous
    * labelling twice (mode join + coalesce fallback) plus the
    * changed-count action, and an un-cut lineage re-evaluates every
    * prior round per reference.
    */
  def labelPropagationFixpoint(spark: SparkSession, dir: String,
      maxRounds: Int = 8, nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und) {
      val edges = und.select($"a".as("u"), $"b".as("v"))
        .unionByName(und.select($"b".as("u"), $"a".as("v")))
      val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
      var labels = nodes.select($"vec_id", $"vec_id".as("lbl"))
        .localCheckpoint(true)
      var changed = 1L
      var r = 0
      while (r < maxRounds && changed > 0) {
        val mode = edges.join(labels, $"v" === $"vec_id")
          .groupBy($"u", $"lbl").agg(count(lit(1)).as("c"))
          .groupBy($"u")
          .agg(min_by($"lbl", struct((-$"c").as("nc"), $"lbl")).as("new_lbl"))
          .withColumnRenamed("u", "vec_id")
        // one job per round: LAZY local checkpoint materialized by the
        // convergence count (the q225 round-14 treatment)
        val next = labels.join(mode, Seq("vec_id"), "left")
          .select($"vec_id", $"lbl".as("prev"),
            coalesce($"new_lbl", $"lbl").as("lbl"))
          .localCheckpoint(false)
        changed = next.filter($"lbl" =!= $"prev").count()
        labels = next.select($"vec_id", $"lbl")
        r += 1
      }
      labels.groupBy($"lbl".as("community_id"))
        .agg(count(lit(1)).as("n_members"), min($"vec_id").as("min_member"))
        .localCheckpoint(true)
    }
  }

  /** PageRank under EXACT e12-scaled integer arithmetic with sound
    * early exit (q225): per round every node gets
    * tele + (85·Σ_{in-edges}(r_src div deg_src)) div 100 with
    * tele = (SCALE·15 div 100) div n, stopping early iff NO node's
    * integer rank changed, capped at `maxIters`. Integer state is what
    * makes the exit criterion sound ACROSS ENGINES: double ranks never
    * compare equal reliably (summation order), but an integer state
    * that repeats is a true fixed point of a deterministic function, so
    * the q220 cap argument applies verbatim — capped early-exit equals
    * exactly `maxIters` unrolled rounds on EVERY input, and the oracle
    * unrolls the same integer rounds, agreeing bit for bit.
    *
    * Honesty note: at e12 precision a typical connected graph keeps
    * drifting in its low digits for ~log(SCALE)/log(1/0.85) ≈ 170
    * rounds, so on real corpora the loop runs the full cap — the exit
    * fires when the state genuinely IS stationary (edgeless or locally
    * regular structures; GraphFixpointSpec pins both regimes). What the
    * cap buys over q70's float rounds is the exact cross-engine
    * trajectory and an exit that can never stop WRONG. Dangling-node
    * mass leaks exactly as in q70 — both engines drop it identically.
    *
    * Scale: same per-round shape as q70 (edge⋈rank join keyed on node
    * id, degree-bounded fan-out) with per-round checkpoints because the
    * loop is exit-detected (the q220 rule, not the q70 fixed-round
    * rule).
    */
  def pageRankFixpoint(spark: SparkSession, dir: String,
      maxIters: Int = 12, nPlanes: Int = 8, k: Int = 3): DataFrame =
    pageRankFixpointWithStats(spark, dir, maxIters, nPlanes, k)._1

  /** [[pageRankFixpoint]] plus the number of rounds actually executed —
    * the early-exit observability hook GraphFixpointSpec asserts on.
    */
  private[ops] def pageRankFixpointWithStats(spark: SparkSession,
      dir: String, maxIters: Int = 12, nPlanes: Int = 8,
      k: Int = 3): (DataFrame, Int) = {
    import spark.implicits._
    val scale = 1000000000000L
    val edges = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select($"vec_id".as("src"), $"neighbor_id".as("dst"))
    Memo.withPersisted(edges) {
      val withDeg = edges
        .join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
      val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
      val n = nodes.count()
      if (n == 0) {
        (nodes.select($"vec_id", lit(0L).as("rank_e12"),
          lit(0.0).as("rank_ratio")), 0)
      } else {
        val tele = (scale * 15L / 100L) / n
        var ranks = nodes.select($"vec_id", lit(scale / n).as("r"))
          .localCheckpoint(true)
        var changed = 1L
        var it = 0
        while (it < maxIters && changed > 0) {
          val inMass = withDeg.join(ranks, $"src" === $"vec_id")
            .select($"dst", expr("r div deg").as("c"))
            .groupBy($"dst").agg(sum($"c").as("s"))
          // ONE job per round (round-14, guide §2.4): the LAZY local
          // checkpoint is materialized BY the convergence count, which
          // scans every partition — so the state blocks land and `changed`
          // comes back in the same driver round-trip, replacing the
          // eager-checkpoint + count() pair. localCheckpoint (not persist)
          // because the round references `ranks` twice: only a checkpoint
          // cuts the lineage, and un-cut plans grow exponentially here.
          val next = ranks.select($"vec_id", $"r".as("prev"))
            .join(inMass, $"vec_id" === $"dst", "left")
            .select($"vec_id", $"prev",
              (lit(tele) +
                expr(s"(85 * coalesce(s, 0L)) div 100")).as("r"))
            .localCheckpoint(false)
          changed = next.filter($"r" =!= $"prev").count()
          ranks = next.select($"vec_id", $"r")
          it += 1
        }
        // cast r to double BEFORE multiplying: r * n in BIGINT overflows
        // Long once n ≳ 1e7 with a concentrated hub rank (ADVICE r7)
        (ranks
          .select($"vec_id", $"r".as("rank_e12"),
            round($"r".cast("double") * n / scale, 6).as("rank_ratio"))
          .localCheckpoint(true), it)
      }
    }
  }

  /** PERSONALIZED PageRank (q257): the q225 exact-integer fixpoint with
    * the teleport mass restricted to a deterministic SEED set
    * (vec_id < `seedMax`) — "relevance to these documents" instead of
    * global importance, the expansion primitive behind seed-based
    * curation (find corpus regions similar to a trusted set) and
    * topic-conditioned retrieval. Per round every node gets
    * 1{seed}·(15%·SCALE div |seeds|) + (85·Σ_in (r div deg)) div 100;
    * identical integer discipline, early exit on a repeated state,
    * capped at `maxIters` (the q220/q225 cap-unroll argument verbatim —
    * the oracle unrolls the same rounds bit for bit). Dangling mass
    * leaks exactly as q225 — both engines drop it identically.
    *
    * Scale: same per-round edge⋈rank shape as q225 (node-keyed joins,
    * KNN-bounded fan-out), per-round checkpoints (exit-detected loop).
    */
  def personalizedPageRank(spark: SparkSession, dir: String,
      maxIters: Int = 12, nPlanes: Int = 8, k: Int = 3,
      seedMax: Long = 8L): DataFrame =
    personalizedPageRankWithStats(spark, dir, maxIters, nPlanes, k,
      seedMax)._1

  private[ops] def personalizedPageRankWithStats(spark: SparkSession,
      dir: String, maxIters: Int = 12, nPlanes: Int = 8, k: Int = 3,
      seedMax: Long = 8L): (DataFrame, Int) = {
    import spark.implicits._
    val scale = 1000000000000L
    val edges = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select($"vec_id".as("src"), $"neighbor_id".as("dst"))
    Memo.withPersisted(edges) {
      val withDeg = edges
        .join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
      val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
      val ns = nodes.filter($"vec_id" < seedMax).count()
      if (ns == 0) {
        (nodes.select($"vec_id", lit(0L).as("ppr_e12"),
          lit(false).as("is_seed"), lit(0.0).as("ppr_mass")), 0)
      } else {
        val teleSeed = (scale * 15L / 100L) / ns
        val seedCol = $"vec_id" < seedMax
        var ranks = nodes.select($"vec_id",
            when(seedCol, lit(scale / ns)).otherwise(lit(0L)).as("r"))
          .localCheckpoint(true)
        var changed = 1L
        var it = 0
        while (it < maxIters && changed > 0) {
          val inMass = withDeg.join(ranks, $"src" === $"vec_id")
            .select($"dst", expr("r div deg").as("c"))
            .groupBy($"dst").agg(sum($"c").as("s"))
          // one job per round: LAZY local checkpoint materialized by the
          // convergence count (the q225 round-14 treatment)
          val next = ranks.select($"vec_id", $"r".as("prev"))
            .join(inMass, $"vec_id" === $"dst", "left")
            .select($"vec_id", $"prev",
              (when(seedCol, lit(teleSeed)).otherwise(lit(0L)) +
                expr(s"(85 * coalesce(s, 0L)) div 100")).as("r"))
            .localCheckpoint(false)
          changed = next.filter($"r" =!= $"prev").count()
          ranks = next.select($"vec_id", $"r")
          it += 1
        }
        (ranks
          .select($"vec_id", $"r".as("ppr_e12"), seedCol.as("is_seed"),
            round($"r".cast("double") / scale, 6).as("ppr_mass"))
          .localCheckpoint(true), it)
      }
    }
  }

  /** Newman modularity of the LPA partition (q175): per community c the
    * intra-community edge count m_c, the degree mass d_c, and the
    * contribution m_c/m − (d_c/2m)², whose sum is the partition's Q —
    * the "are these communities denser than chance" verdict on q170's
    * output (LPA can converge to junk on a near-random graph; Q is how
    * you find out). Shares [[withLpaLabels]] verbatim, so the scored
    * partition can never drift from the one q170 reports.
    *
    * Scale: two label joins on the canonical edge list (each endpoint),
    * a degree aggregate, and community-sized rollups — every join keys
    * on node id with degree-bounded fan-out; m and 2m are single-row
    * broadcasts.
    */
  def lpaModularity(spark: SparkSession, dir: String, rounds: Int = 3,
      nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    withLpaLabels(spark, dir, rounds, nPlanes, k) { (und, labels0) =>
      // the partition is referenced FOUR times below (both edge
      // endpoints, the degree rollup, the size rollup) — without this
      // node-sized barrier the whole KNN+LPA chain re-executes per
      // reference (measured 18 s vs ~4.5 s at sf0.1)
      val labels = labels0.localCheckpoint(true)
      val la = labels.select($"vec_id".as("a"), $"lbl".as("ca"))
      val lb = labels.select($"vec_id".as("b"), $"lbl".as("cb"))
      val tagged = und.join(la, Seq("a")).join(lb, Seq("b"))
      val intra = tagged.filter($"ca" === $"cb")
        .groupBy($"ca".as("community_id")).agg(count(lit(1)).as("m_intra"))
      val degMass = und.select(explode(array($"a", $"b")).as("vec_id"))
        .join(labels, Seq("vec_id"))
        .groupBy($"lbl".as("community_id")).agg(count(lit(1)).as("d_c"))
      val m = und.agg(count(lit(1)).as("m"))
      val sizes = labels.groupBy($"lbl".as("community_id"))
        .agg(count(lit(1)).as("n_members"))
      sizes
        .join(degMass, Seq("community_id"), "left")
        .join(intra, Seq("community_id"), "left")
        .crossJoin(broadcast(m))
        .select($"community_id", $"n_members",
          coalesce($"m_intra", lit(0L)).as("m_intra"),
          coalesce($"d_c", lit(0L)).as("d_c"),
          round(when($"m" > 0,
            coalesce($"m_intra", lit(0L)).cast("double") / $"m" -
              pow(coalesce($"d_c", lit(0L)) / (lit(2.0) * $"m"), 2))
            .otherwise(lit(0.0)), 6).as("q_contrib"))
        .localCheckpoint(true)
    }
  }

  /** k-core decomposition, `rounds` fixed pruning rounds (q135): rounds
    * of "drop nodes with degree < k, re-derive degrees among survivors"
    * over the undirected KNN closure — the density filter that separates
    * tight near-dup communities from hub-and-spoke noise before anyone
    * trusts a cluster. Fixed-round (not to-convergence) keeps the
    * lineage plan-time-bounded — the q70 lesson: no per-round
    * materialization barrier — and makes the operator deterministic for
    * the oracle, which unrolls the same rounds as CTEs.
    *
    * Per round: one explode + node-keyed count and two semi-joins on
    * node ids — degree ≤ 2·knnK bounds every fan-out by a CONSTANT; no
    * step is ever corpus² even on a 100-TB graph.
    */
  def kCore(spark: SparkSession, dir: String, k: Int = 2, rounds: Int = 3,
      nPlanes: Int = 8, knnK: Int = 3): DataFrame = {
    import spark.implicits._
    val und0 = Similarity.knnGraph(spark, dir, nPlanes, knnK)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und0) {
    var edges = und0.select($"a", $"b")
    var keep: DataFrame = null
    for (_ <- 1 to rounds) {
      keep = edges.select(explode(array($"a", $"b")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k)
      // eager checkpoint per round: each round references the previous
      // edge set THREE times (the degree count + both semi-joins), so an
      // un-cut lineage re-evaluates round r−1's subtree 3^r times —
      // measured 19 s vs ~1 s at sf0.1. The checkpointed table is
      // node-bounded (≤ corpus × 2k edges), so the barrier is cheap —
      // this is the convergence-loop case the q70 fixed-iteration rule
      // explicitly carves out.
      edges = edges
        .join(keep.select($"node".as("a")), Seq("a"), "left_semi")
        .join(keep.select($"node".as("b")), Seq("b"), "left_semi")
        .localCheckpoint(true)
    }
    val coreDeg = edges.select(explode(array($"a", $"b")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("core_deg"))
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id")
      .join(keep.withColumnRenamed("node", "vec_id").select($"vec_id", lit(true).as("in_core")),
        Seq("vec_id"), "left")
      .join(coreDeg.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"in_core", lit(false)).as("in_core"),
        coalesce($"core_deg", lit(0L)).as("core_deg"))
      .localCheckpoint(true)
    }
  }

  /** k-core to FIXPOINT (q220): the [[kCore]] pruning loop iterated
    * until a round removes no nodes — the TRUE k-core, which the
    * fixed-round variant only reaches if the peel depth happens to fit
    * its round budget — capped at `maxRounds` so a pathological chain
    * graph (peel depth O(n)) cannot run unbounded. Convergence is
    * detected on the survivor count: one driver-side count() per round
    * against the just-checkpointed (already materialized) edge table —
    * the connectedComponents stability pattern, with the same per-round
    * localCheckpoint discipline (each round references the previous
    * edge set three times; an un-cut lineage re-evaluates round r−1
    * 3^r times).
    *
    * The cap is part of the SEMANTICS, not just a guard: "prune to
    * fixpoint, at most `maxRounds` rounds" equals exactly `maxRounds`
    * unrolled rounds whether or not the graph converged (converged
    * rounds are no-ops), so the oracle unrolls the same `maxRounds`
    * CTE blocks and the two agree on every input. GraphFixpointSpec
    * additionally pins fixpoint == fixed-round once the test graph has
    * converged.
    */
  def kCoreFixpoint(spark: SparkSession, dir: String, k: Int = 2,
      maxRounds: Int = 12, nPlanes: Int = 8, knnK: Int = 3): DataFrame = {
    import spark.implicits._
    val und0 = Similarity.knnGraph(spark, dir, nPlanes, knnK)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und0) {
      var edges = und0.select($"a", $"b").localCheckpoint(true)
      var keep: DataFrame = edges.select(explode(array($"a", $"b")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k)
      var prevCount = -1L
      var curCount = edges.count()
      var r = 0
      while (r < maxRounds && curCount != prevCount) {
        keep = edges.select(explode(array($"a", $"b")).as("node"))
          .groupBy($"node").agg(count(lit(1)).as("deg"))
          .filter($"deg" >= k)
        // one job per round: the surviving-edge count (this loop's
        // convergence signal) materializes the LAZY local checkpoint
        // (the q225 round-14 treatment)
        edges = edges
          .join(keep.select($"node".as("a")), Seq("a"), "left_semi")
          .join(keep.select($"node".as("b")), Seq("b"), "left_semi")
          .localCheckpoint(false)
        prevCount = curCount
        curCount = edges.count()
        r += 1
      }
      val coreDeg = edges.select(explode(array($"a", $"b")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("core_deg"))
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
        .join(keep.withColumnRenamed("node", "vec_id")
          .select($"vec_id", lit(true).as("in_core")), Seq("vec_id"), "left")
        .join(coreDeg.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"in_core", lit(false)).as("in_core"),
          coalesce($"core_deg", lit(0L)).as("core_deg"))
        .localCheckpoint(true)
    }
  }

  /** Connected-component census of the KNN graph (q216): component
    * count, largest-component mass, singleton share — the global
    * answer to the question q213's single-seed probe samples: is the
    * embedding space one navigable continent or an archipelago (in
    * which any graph-based ANN/diffusion method silently stops at
    * bucket borders)? Reuses the q41 large-star/small-star contraction
    * verbatim on the KNN edge list; vectors in no edge count as
    * singletons.
    *
    * Scale: the contraction converges on the shrinking edge set (q41's
    * documented shape); the census is two component-keyed aggregates.
    */
  def knnComponents(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("s"),
        greatest($"vec_id", $"neighbor_id").as("d"))
      .distinct()
    Memo.withPersisted(und) {
      val (stars, _) = Dedup.connectedComponents(und)
      val assign = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
        .join(stars.select($"s".as("vec_id"), $"d".as("root")),
          Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"root", $"vec_id").as("component"))
      val sizes = assign.groupBy($"component")
        .agg(count(lit(1)).as("csize")).localCheckpoint(true)
      sizes.agg(
          count(lit(1)).as("n_components"),
          sum($"csize").as("n_vectors"),
          max($"csize").as("largest_component"),
          sum(when($"csize" === 1, 1L).otherwise(0L)).as("n_singletons"))
        .select($"n_components", $"n_vectors", $"largest_component",
          $"n_singletons",
          round($"largest_component" / $"n_vectors".cast("double"), 6)
            .as("frac_in_largest"),
          round($"n_singletons" / $"n_vectors".cast("double"), 6)
            .as("frac_singletons"))
    }
  }

  /** BFS reachability levels from vector 0 over the KNN graph (q213):
    * per hop, how many NEW vectors the frontier reaches, plus the
    * never-reached remainder — the traversal primitive (and the
    * connectivity probe: a giant component shows as most mass within a
    * few hops; shattered buckets show as a large unreachable row).
    *
    * Scale: classic frontier BFS — per hop one edge join against the
    * frontier and one anti-join against the visited set, both keyed on
    * node ids; visited is checkpointed per hop (the kcore
    * convergence-loop rule: three references per round would otherwise
    * re-run every prior hop).
    */
  def bfsLevels(spark: SparkSession, dir: String, maxDepth: Int = 4,
      nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und) {
      val edges = und.select($"a".as("u"), $"b".as("v"))
        .unionByName(und.select($"b".as("u"), $"a".as("v")))
      var visited = spark.range(1).select(lit(0L).as("vec_id"),
        lit(0L).as("level")).localCheckpoint(true)
      var frontier = visited.select($"vec_id")
      // ONE job per depth (the q225 round-14 treatment): the new-node
      // count materializes the frontier fragment's LAZY local checkpoint
      // and doubles as the exhaustion signal; `visited` stays a lazy
      // union of the checkpointed per-depth fragments, so each
      // reference scans materialized blocks with a depth-bounded plan
      var depth = 1
      var exhausted = false
      while (depth <= maxDepth && !exhausted) {
        val next = edges.join(frontier.withColumnRenamed("vec_id", "u"),
            Seq("u"))
          .select($"v".as("vec_id")).distinct()
          .join(visited.select($"vec_id"), Seq("vec_id"), "left_anti")
          .select($"vec_id", lit(depth.toLong).as("level"))
          .localCheckpoint(false)
        if (next.count() == 0) exhausted = true
        visited = visited.unionByName(next)
        frontier = next.select($"vec_id")
        depth += 1
      }
      val reached = visited.groupBy($"level")
        .agg(count(lit(1)).as("n_nodes"))
      val unreached = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
        .join(visited.select($"vec_id"), Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(-1L).as("level"), $"n_nodes")
        .filter($"n_nodes" > 0)
      reached.unionByName(unreached).localCheckpoint(true)
    }
  }

  /** Degree assortativity of the KNN graph (q209): the Pearson
    * correlation of endpoint degrees over the directed edge list (both
    * orientations of every undirected edge, the standard Newman
    * estimator) — positive means hubs link to hubs (a clique-y
    * embedding space where bucketed ANN probes saturate), negative
    * means hub-to-leaf (star-like, where per-node top-k truncation
    * loses recall). All five moments are exact i64 sums of integer
    * degrees, so the coefficient is one deterministic expression.
    *
    * Scale: degree count + a degree join per endpoint on the
    * nodes×k-bounded edge list; one five-value aggregate.
    */
  def degreeAssortativity(spark: SparkSession, dir: String,
      nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
      .localCheckpoint(true)
    val directed = und.select($"a".as("u"), $"b".as("v"))
      .unionByName(und.select($"b".as("u"), $"a".as("v")))
    val deg = directed.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
    directed
      .join(deg.select($"node".as("u"), $"deg".as("du")), Seq("u"))
      .join(deg.select($"node".as("v"), $"deg".as("dv")), Seq("v"))
      .agg(count(lit(1)).as("n"),
        sum($"du").as("sx"), sum($"dv").as("sy"),
        sum($"du" * $"dv").as("sxy"), sum($"du" * $"du").as("sxx"),
        sum($"dv" * $"dv").as("syy"))
      .select(expr("n div 2").as("n_edges"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6)
          .as("assortativity"))
  }

  /** Adamic–Adar link prediction (q177): for every NON-adjacent node
    * pair (u,v) of the KNN graph sharing at least one neighbor, the
    * score Σ_w 1/ln(deg(w)) over common neighbors w — the classic
    * "which edges are missing" signal (a common neighbor is strong
    * evidence in proportion to how selective it is). Keeps each node's
    * top `topK` predicted partners; scores are rounded BEFORE ranking
    * (q67 rule) and ties break on partner id.
    *
    * Scale: the wedge join (adjacency self-joined on the shared center
    * w) is Σ_w deg(w)² rows — deg is bounded by the KNN closure (≤ 2k
    * after symmetrization plus reverse edges), so wedges are O(nodes ×
    * k²), never all-pairs. Every common neighbor has deg ≥ 2, so
    * 1/ln(deg) is always finite. The anti-join that removes existing
    * edges and the degree join both key on node ids.
    */
  /** HITS hubs-and-authorities (Kleinberg 1999) over the directed KNN
    * edge set, run as an exact INTEGER fixpoint (the q225 discipline):
    * e6-scaled BIGINT hub/authority vectors, per round
    * a_raw(v) = Σ_{u→v} h(u) then L1-renormalized
    * a(v) = (a_raw(v)·SCALE) div Σ a_raw, and symmetrically
    * h(u) = (h_raw(u)·SCALE) div Σ h_raw with h_raw(u) = Σ_{u→v} a(v);
    * exit when the (h, a) state repeats, capped at `maxIters`. A
    * repeated integer state is a true fixed point of a deterministic
    * function, so the capped early-exit equals exactly `maxIters`
    * unrolled rounds on every input (the q220/q224/q225 cap argument)
    * and the oracle unrolls the same integer rounds bit for bit.
    *
    * SCALE is e6 (not q225's e12) by the normalization overflow bound:
    * the L1-normalized state keeps every a_raw ≤ Σh ≈ SCALE, so the
    * renormalization product a_raw·SCALE ≤ SCALE² must fit a signed
    * 64-bit long — 1e12 at e6, independent of node count, where e12
    * state would overflow at the first renormalize. Past a MILLION
    * nodes SCALE grows to n (see [[hitsScale]]) — at fixed e6 the
    * uniform init `SCALE div n` would floor to 0 and every centrality
    * would silently come back 0 — and the same bound then caps the
    * design at ~3e9 nodes, enforced with a loud `require`.
    *
    * Scale: per round two edge⋈state joins keyed on node id (KNN
    * out-degree ≤ k bounds the fan-out) + two map-side-combined
    * rollups; the L1 totals are single-row broadcasts. Per-round
    * localCheckpoint cuts the exit-detected loop's lineage (q220 rule).
    */
  def hitsFixpoint(spark: SparkSession, dir: String, maxIters: Int = 6,
      nPlanes: Int = 8, k: Int = 3): DataFrame =
    hitsFixpointWithStats(spark, dir, maxIters, nPlanes, k)._1

  /** The HITS integer scale for an `n`-node graph: e6 for every corpus
    * the oracle sees, growing to `n` beyond a million nodes so the
    * uniform init `scale div n` stays ≥ 1 — at the fixed e6 the init
    * floors to 0 for n ≥ 1e6 and the whole fixpoint silently returns
    * all-zero centralities (which the oracle, replaying the same math,
    * could never catch). The renormalization overflow bound caps it:
    * raw ≤ scale after L1-renorm, so raw·scale ≤ scale² must fit i64 —
    * scale ≤ 3e9, i.e. ~3e9 nodes is where this integer design honestly
    * ends (fail loudly, don't wrap).
    */
  private[ops] def hitsScale(n: Long): Long = {
    val s = math.max(1000000L, n)
    require(s <= 3000000000L,
      s"hitsFixpoint: $n nodes needs SCALE=$s, past the i64 " +
        "renormalization bound (scale^2 <= Long.MaxValue) — shard the " +
        "graph or move the state to e12/BigDecimal math")
    s
  }

  /** [[hitsFixpoint]] plus the number of rounds actually executed. */
  private[ops] def hitsFixpointWithStats(spark: SparkSession,
      dir: String, maxIters: Int = 6, nPlanes: Int = 8,
      k: Int = 3): (DataFrame, Int) = {
    import spark.implicits._
    val edges = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select($"vec_id".as("src"), $"neighbor_id".as("dst"))
    Memo.withPersisted(edges) {
      val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
      val n = nodes.count()
      if (n == 0) {
        (nodes.select($"vec_id", lit(0L).as("hub_e6"),
          lit(0L).as("auth_e6"), lit(0.0).as("hub_score"),
          lit(0.0).as("auth_score")), 0)
      } else {
        // e6 below a million nodes (what the oracle replays), n above it —
        // see hitsScale for the init-floors-to-zero hazard and the i64 cap
        val scale = hitsScale(n)
        // L1-renormalize an integer vector to total ≈ SCALE; tot is a
        // one-row aggregate joined by broadcast cross-join (never a
        // SinglePartition window)
        def renorm(raw: DataFrame, col: String): DataFrame = {
          val tot = raw.agg(greatest(sum(org.apache.spark.sql.functions
            .col(col)), lit(1L)).as("tot"))
          raw.crossJoin(broadcast(tot))
            .select($"vec_id",
              expr(s"($col * $scale) div tot").as(col))
        }
        // State carries the SUPPORT only (rows with a nonzero sum path);
        // zero-in-degree / zero-out-degree nodes are implicit zeros — the
        // renorm total ignores them and `(0·SCALE) div tot = 0`, so the
        // values are bit-identical to the dense formulation while each
        // round drops two parquet-scan left-joins whose only job was
        // materializing those zeros. They are re-added ONCE at the end.
        var state = nodes
          .select($"vec_id", lit(scale / n).as("h"), lit(scale / n).as("a"))
          .localCheckpoint(true)
        var changed = 1L
        var it = 0
        while (it < maxIters && changed > 0) {
          val aAgg = edges.join(state.select($"vec_id", $"h"),
              $"src" === $"vec_id")
            .groupBy($"dst").agg(sum($"h").as("a"))
            .select($"dst".as("vec_id"), $"a")
          // aNorm is referenced three times (h-sum via renorm's double
          // branch + the final join) — unmaterialized that re-evaluates
          // aAgg up to 6× per round, the Spark-side twin of the oracle's
          // MATERIALIZED-CTE requirement. LAZY checkpoint (round-14): its
          // blocks land inside the exit-count job below, chained through
          // `next` — one driver round-trip per round instead of three.
          val aNorm = renorm(aAgg, "a").localCheckpoint(false)
          val hAgg = edges.join(aNorm.select($"vec_id".as("av"), $"a"),
              $"dst" === $"av")
            .groupBy($"src").agg(sum($"a").as("h"))
            .select($"src".as("vec_id"), $"h")
          // lazy checkpoint materialized by the exit count below (the
          // q225 round-14 treatment)
          val next = renorm(hAgg, "h")
            .join(aNorm, Seq("vec_id"), "full")
            .select($"vec_id", coalesce($"h", lit(0L)).as("h"),
              coalesce($"a", lit(0L)).as("a"))
            .localCheckpoint(false)
          // the exit compares FULL states: support-only rows make a
          // vanished (or appeared) row a difference too, so a repeated
          // support state is a repeated full state — the cap argument
          // stays sound
          changed = next
            .join(state.select($"vec_id", $"h".as("ph"), $"a".as("pa")),
              Seq("vec_id"), "full")
            .filter($"h".isNull || $"ph".isNull ||
              $"h" =!= $"ph" || $"a" =!= $"pa")
            .count()
          state = next
          it += 1
        }
        (nodes.join(state, Seq("vec_id"), "left")
          .select($"vec_id",
            coalesce($"h", lit(0L)).as("hub_e6"),
            coalesce($"a", lit(0L)).as("auth_e6"),
            round(coalesce($"h", lit(0L)).cast("double") / scale, 6)
              .as("hub_score"),
            round(coalesce($"a", lit(0L)).cast("double") / scale, 6)
              .as("auth_score"))
          .localCheckpoint(true), it)
      }
    }
  }

  def adamicAdar(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3, topK: Int = 5): DataFrame = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und) {
      val adj = und.select($"a".as("u"), $"b".as("w"))
        .unionByName(und.select($"b".as("u"), $"a".as("w")))
      val deg = adj.groupBy($"w").agg(count(lit(1)).as("deg"))
      val wedges = adj.select($"u", $"w")
        .join(adj.select($"u".as("v"), $"w"), Seq("w"))
        .filter($"u" < $"v")
      val scored = wedges
        .join(deg, Seq("w"))
        .groupBy($"u", $"v")
        .agg(count(lit(1)).as("common"),
          round(sum(lit(1.0) / log($"deg")), 6).as("aa_score"))
        .join(und, $"u" === $"a" && $"v" === $"b", "left_anti")
      scored
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"u")
            .orderBy($"aa_score".desc, $"v")).cast("long"))
        .filter($"rk" <= topK)
        .select($"u", $"v", $"common", $"aa_score", $"rk")
        .localCheckpoint(true)
    }
  }

  /** Per-node local clustering coefficient (Watts–Strogatz) over the
    * undirected KNN graph: lcc(v) = closed wedges at v / (deg·(deg−1)/2)
    * — completing the triangle family (q82 counts them globally; this
    * localizes them, the per-node "is this vector in a clique or a
    * star" signal that predicts whether bucketed ANN probes around v
    * saturate). Exact integer wedge counts; the ratio rounds once.
    *
    * Scale: the wedge join is the q177 Adamic–Adar shape — adjacency
    * self-joined on the center, Σ_v deg(v)² rows with deg bounded by
    * the KNN closure (≤ 2k + reverse edges), then one edge-membership
    * join keyed on the (lo, hi) pair. Nothing is corpus-quadratic.
    */
  def clusteringCoefficient(spark: SparkSession, dir: String,
      nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und) {
      val adj = und.select($"a".as("u"), $"b".as("w"))
        .unionByName(und.select($"b".as("u"), $"a".as("w")))
      val deg = adj.groupBy($"u".as("vec_id")).agg(count(lit(1)).as("deg"))
      val wedges = adj.as("x").join(adj.as("y"),
          col("x.u") === col("y.u") && col("x.w") < col("y.w"))
        .select(col("x.u").as("center"), col("x.w").as("w1"),
          col("y.w").as("w2"))
      val closed = wedges
        .join(und, $"w1" === $"a" && $"w2" === $"b")
        .groupBy($"center".as("vec_id")).agg(count(lit(1)).as("n_closed"))
      val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
      nodes
        .join(deg, Seq("vec_id"), "left")
        .join(closed, Seq("vec_id"), "left")
        .select($"vec_id",
          coalesce($"deg", lit(0L)).as("deg"),
          coalesce($"n_closed", lit(0L)).as("n_closed"))
        .withColumn("n_wedges", expr("(deg * (deg - 1)) div 2"))
        .withColumn("lcc",
          when($"n_wedges" > 0,
            round($"n_closed".cast("double") / $"n_wedges", 6)))
    }
  }

  /** Sampled harmonic centrality (the Eppstein–Wang estimator family):
    * Σ 1/d(s, v) over a deterministic source sample — the closeness-
    * style centrality that stays finite on disconnected graphs (an
    * unreached source contributes 0, not 1/∞), completing the repo's
    * centrality set (degree, PageRank, HITS). Sources are the vec_id <
    * nSources head rows (the headVectors/SRP-plane discipline: a
    * pushed-down point predicate, not a scan); exact all-sources
    * harmonic is O(n·m) BFS work — at 100 TB you sample sources, and
    * the estimate concentrates (Eppstein–Wang): the PLAN is identical
    * at any nSources, the state just carries that many (src, node)
    * rows.
    *
    * Determinism: multi-source frontier BFS with per-hop exhaustion
    * exit under the q221 cap argument (an empty frontier makes every
    * deeper round a no-op, so the capped early exit equals the full
    * unroll the oracle runs); contributions are exact e6 integers
    * (`1000000 div dist`, dist ≥ 1 — floor div of positives agrees on
    * both engines; the e6 sum over ≤nSources terms is ≤ 4e6, no
    * overflow anywhere near i64).
    *
    * Scale: per hop one edge⋈frontier join + one (src, node)-keyed
    * anti-join, state bounded by nSources × |V|; visited is
    * checkpointed per hop (the q220 convergence-loop lineage rule).
    */
  def harmonicCentrality(spark: SparkSession, dir: String,
      nSources: Int = 4, maxDepth: Int = 6, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val und = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least($"vec_id", $"neighbor_id").as("a"),
        greatest($"vec_id", $"neighbor_id").as("b"))
      .distinct()
    Memo.withPersisted(und) {
      val edges = und.select($"a".as("u"), $"b".as("v"))
        .unionByName(und.select($"b".as("u"), $"a".as("v")))
      val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id")
      var visited = nodes.filter($"vec_id" < nSources)
        .select($"vec_id".as("src"), $"vec_id", lit(0L).as("dist"))
        .localCheckpoint(true)
      var frontier = visited.select($"src", $"vec_id")
      // one job per depth: the frontier count materializes the LAZY
      // local checkpoint and is the exhaustion signal; visited is a lazy
      // union of the checkpointed fragments (the q213 round-14 treatment)
      var depth = 1
      var exhausted = frontier.isEmpty
      while (depth <= maxDepth && !exhausted) {
        val next = edges
          .join(frontier.withColumnRenamed("vec_id", "u"), Seq("u"))
          .select($"src", $"v".as("vec_id")).distinct()
          .join(visited.select($"src", $"vec_id"),
            Seq("src", "vec_id"), "left_anti")
          .select($"src", $"vec_id", lit(depth.toLong).as("dist"))
          .localCheckpoint(false)
        if (next.count() == 0) exhausted = true
        visited = visited.unionByName(next)
        frontier = next.select($"src", $"vec_id")
        depth += 1
      }
      val per = visited.filter($"dist" > 0)
        .groupBy($"vec_id")
        .agg(count(lit(1)).as("n_sources_reached"),
          sum(expr("1000000 div dist")).as("harmonic_e6"))
      nodes.join(per, Seq("vec_id"), "left")
        .select($"vec_id",
          coalesce($"n_sources_reached", lit(0L)).as("n_sources_reached"),
          coalesce($"harmonic_e6", lit(0L)).as("harmonic_e6"),
          round(coalesce($"harmonic_e6", lit(0L)).cast("double") / 1e6, 6)
            .as("harmonic"))
    }
  }
}
