package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the embedding KNN graph — the
  * centrality signal data-curation pipelines use to pick representative
  * documents out of near-dup neighborhoods (connected components for the
  * keep/drop partition live in [[Dedup.connectedComponents]]).
  *
  * Every exit-detected loop here runs through [[Memo.fixpoint]].
  */
object Graph {

  /** The e12 fixed-point scale of the integer PageRank state. */
  private val e12 = 1000000000000L

  /** The corpus's vector ids: the node set of every KNN graph. */
  private def vecIds(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"))

  /** The undirected closure of [[Similarity.knnGraph]], declared once:
    * each edge canonicalized to (a = min, b = max), deduplicated.
    */
  private def undirectedKnn(spark: SparkSession, dir: String, nPlanes: Int,
      k: Int): DataFrame =
    Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(least(col("vec_id"), col("neighbor_id")).as("a"),
        greatest(col("vec_id"), col("neighbor_id")).as("b"))
      .distinct()

  /** Both orientations (u, v) of a canonical (a, b) edge list. */
  private def bothWays(und: DataFrame): DataFrame =
    und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))

  /** The query-local scope over the undirected KNN closure: `body` gets
    * the canonical edges `und` (a, b), persisted while it runs, and
    * `directed`, both orientations as (u, v). `body` must checkpoint or
    * collect what it returns.
    */
  private def withUndirectedKnn[A](spark: SparkSession, dir: String,
      nPlanes: Int, k: Int)(body: (DataFrame, DataFrame) => A): A = {
    val und = undirectedKnn(spark, dir, nPlanes, k)
    Memo.withPersisted(und)(body(und, bothWays(und)))
  }

  /** The query-local scope over the directed KNN edges: `body` gets the
    * edges (src, dst), persisted while it runs, and the same edges with
    * the source's out-degree riding along as `deg` (the join reuses the
    * edge exchange on src — same key both sides). `body` must checkpoint
    * or collect what it returns.
    */
  private def withDirectedKnn[A](spark: SparkSession, dir: String,
      nPlanes: Int, k: Int)(body: (DataFrame, DataFrame) => A): A = {
    val edges = Similarity.knnGraph(spark, dir, nPlanes, k)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    Memo.withPersisted(edges) {
      body(edges,
        edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src"))
    }
  }

  /** PageRank over [[Similarity.knnGraph]]'s directed top-k edges:
    * `iters` synchronous power-iteration rounds of
    * r(v) ← (1−d)/N + d·Σ_{u→v} r(u)/outdeg(u), started uniform.
    * Emitted as rank·N (scale-free: ≈1.0 is "averagely central"), so the
    * number means the same thing at sf0.001 and at 100 TB.
    *
    * Per round: one join of the persisted edge table against the current
    * rank vector on src (both corpus-node-sized, co-keyed) plus one
    * map-side-combined groupBy(dst) — the canonical Spark PageRank
    * shuffle shape. Dangling nodes (no out-edges — a vector alone in its
    * LSH bucket) keep their base (1−d)/N and their mass leaks, the
    * deterministic simplification both this and the oracle compute
    * identically.
    */
  def pageRankKnn(spark: SparkSession, dir: String, iters: Int = 5,
      damping: Double = 0.85, nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    withDirectedKnn(spark, dir, nPlanes, k) { (_, withDeg) =>
      val nodes = vecIds(spark, dir)
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
    withUndirectedKnn(spark, dir, nPlanes, k) { (und, _) =>
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
      vecIds(spark, dir)
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

  /** One synchronous LPA round over `edges` (u, v), the body q170 and
    * q224 share: every node takes the MODE of its neighbors' labels,
    * ties broken (count DESC, label ASC); nodes with no neighbors keep
    * their label. Returns (vec_id, prev, lbl).
    */
  private def lpaRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    // argmax via min_by on the packed (−count, label) struct key — same
    // (count DESC, label ASC) pick as a rank window, without the
    // per-round partition sort the window would add
    val mode = edges.join(labels, col("v") === col("vec_id"))
      .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("u"))
      .agg(min_by(col("lbl"), struct((-col("c")).as("nc"), col("lbl")))
        .as("new_lbl"))
      .withColumnRenamed("u", "vec_id")
    labels.join(mode, Seq("vec_id"), "left")
      .select(col("vec_id"), col("lbl").as("prev"),
        coalesce(col("new_lbl"), col("lbl")).as("lbl"))
  }

  /** Every node in its own community to start: label = vec_id. */
  private def ownLabels(spark: SparkSession, dir: String): DataFrame =
    vecIds(spark, dir).select(col("vec_id"), col("vec_id").as("lbl"))

  /** Per community: size and the smallest member (the stable name). */
  private def communities(labels: DataFrame): DataFrame =
    labels.groupBy(col("lbl").as("community_id"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"))
      .localCheckpoint(true)

  /** Shared LPA core: the undirected KNN closure + `rounds` fixed
    * [[lpaRound]]s. `body` receives (canonical edges, final labels)
    * while the edge cache is held, and MUST checkpoint what it returns.
    */
  private def withLpaLabels[A](spark: SparkSession, dir: String,
      rounds: Int, nPlanes: Int, k: Int)(
      body: (DataFrame, DataFrame) => A): A =
    withUndirectedKnn(spark, dir, nPlanes, k) { (und, edges) =>
      val labels = (1 to rounds).foldLeft(ownLabels(spark, dir)) { (l, _) =>
        lpaRound(edges, l).select(col("vec_id"), col("lbl"))
      }
      body(und, labels)
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
  def labelPropagation(spark: SparkSession, dir: String, rounds: Int = 3,
      nPlanes: Int = 8, k: Int = 3): DataFrame =
    withLpaLabels(spark, dir, rounds, nPlanes, k)((_, labels) =>
      communities(labels))

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
    * The loop is a [[Memo.fixpoint]]: each round references the previous
    * labelling twice (mode join + coalesce fallback), and the changed-
    * label count is the round's one action.
    */
  def labelPropagationFixpoint(spark: SparkSession, dir: String,
      maxRounds: Int = 8, nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    withUndirectedKnn(spark, dir, nPlanes, k) { (_, edges) =>
      val (labels, _, _) = Memo.fixpoint(ownLabels(spark, dir), maxRounds)(
        lpaRound(edges, _))((_, next) =>
        next.filter($"lbl" =!= $"prev").count() > 0)
      communities(labels)
    }
  }

  /** The exact-integer PageRank loop q225 and q257 share, a
    * [[Memo.fixpoint]]: from `init` (vec_id, r), each round sets
    * r ← tele + (85·Σ_{u→v} (r_u div deg_u)) div 100 until no r changes,
    * at most `maxIters` rounds. `tele` is the round's teleport column.
    * Returns the final state (vec_id, prev, r) and the rounds run.
    */
  private def intPageRank(withDeg: DataFrame, init: DataFrame, tele: Column,
      maxIters: Int): (DataFrame, Int) = {
    val (ranks, rounds, _) = Memo.fixpoint(init, maxIters) { ranks =>
      val inMass = withDeg.join(ranks, col("src") === col("vec_id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks.select(col("vec_id"), col("r").as("prev"))
        .join(inMass, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"), col("prev"),
          (tele + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }((_, next) => next.filter(col("r") =!= col("prev")).count() > 0)
    (ranks, rounds)
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
    withDirectedKnn(spark, dir, nPlanes, k) { (_, withDeg) =>
      val nodes = vecIds(spark, dir)
      val n = nodes.count()
      if (n == 0) {
        (nodes.select($"vec_id", lit(0L).as("rank_e12"),
          lit(0.0).as("rank_ratio")), 0)
      } else {
        val (ranks, it) = intPageRank(withDeg,
          nodes.select($"vec_id", lit(e12 / n).as("r")),
          lit((e12 * 15L / 100L) / n), maxIters)
        // cast r to double BEFORE multiplying: r * n in BIGINT overflows
        // Long once n ≳ 1e7 with a concentrated hub rank (ADVICE r7)
        (ranks
          .select($"vec_id", $"r".as("rank_e12"),
            round($"r".cast("double") * n / e12, 6).as("rank_ratio"))
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
    withDirectedKnn(spark, dir, nPlanes, k) { (_, withDeg) =>
      val nodes = vecIds(spark, dir)
      val ns = nodes.filter($"vec_id" < seedMax).count()
      if (ns == 0) {
        (nodes.select($"vec_id", lit(0L).as("ppr_e12"),
          lit(false).as("is_seed"), lit(0.0).as("ppr_mass")), 0)
      } else {
        val seedCol = $"vec_id" < seedMax
        def onSeeds(v: Long) = when(seedCol, lit(v)).otherwise(lit(0L))
        val (ranks, it) = intPageRank(withDeg,
          nodes.select($"vec_id", onSeeds(e12 / ns).as("r")),
          onSeeds((e12 * 15L / 100L) / ns), maxIters)
        (ranks
          .select($"vec_id", $"r".as("ppr_e12"), seedCol.as("is_seed"),
            round($"r".cast("double") / e12, 6).as("ppr_mass"))
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

  /** One k-core peel over canonical edges (a, b), the body q135 and q220
    * share: the nodes of degree ≥ `k` (`keep`: node, deg) and the edges
    * whose endpoints both survive. The edge list is read three times
    * (the degree count + both semi-joins), so a loop of peels must cut
    * its lineage per round or re-run round r−1's subtree 3^r times —
    * measured 19 s vs ~1 s at sf0.1. The cut table is node-bounded
    * (≤ corpus × 2k edges), so the barrier is cheap.
    */
  private def kCorePeel(edges: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val keep = edges.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
    (keep, edges
      .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("node").as("b")), Seq("b"), "left_semi"))
  }

  /** Per vector: in the core iff among the last peel's `keep`, and its
    * degree among the surviving `edges`.
    */
  private def kCoreRows(spark: SparkSession, dir: String, edges: DataFrame,
      keep: DataFrame): DataFrame = {
    import spark.implicits._
    val coreDeg = edges.select(explode(array($"a", $"b")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("core_deg"))
    vecIds(spark, dir)
      .join(keep.withColumnRenamed("node", "vec_id")
        .select($"vec_id", lit(true).as("in_core")), Seq("vec_id"), "left")
      .join(coreDeg.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"in_core", lit(false)).as("in_core"),
        coalesce($"core_deg", lit(0L)).as("core_deg"))
      .localCheckpoint(true)
  }

  /** k-core decomposition, `rounds` fixed pruning rounds (q135): rounds
    * of "drop nodes with degree < k, re-derive degrees among survivors"
    * over the undirected KNN closure — the density filter that separates
    * tight near-dup communities from hub-and-spoke noise before anyone
    * trusts a cluster. Fixed-round (not to-convergence) makes the
    * operator deterministic for the oracle, which unrolls the same
    * rounds as CTEs; each round's edges are still checkpointed eagerly
    * (see [[kCorePeel]]) — the case the q70 fixed-iteration rule
    * explicitly carves out.
    *
    * Per round: one explode + node-keyed count and two semi-joins on
    * node ids — degree ≤ 2·knnK bounds every fan-out by a CONSTANT; no
    * step is ever corpus² even on a 100-TB graph.
    */
  def kCore(spark: SparkSession, dir: String, k: Int = 2, rounds: Int = 3,
      nPlanes: Int = 8, knnK: Int = 3): DataFrame =
    withUndirectedKnn(spark, dir, nPlanes, knnK) { (und, _) =>
      var edges = und.select(col("a"), col("b"))
      var keep: DataFrame = null
      for (_ <- 1 to rounds) {
        val (kept, survivors) = kCorePeel(edges, k)
        keep = kept
        edges = survivors.localCheckpoint(true)
      }
      kCoreRows(spark, dir, edges, keep)
    }

  /** k-core to FIXPOINT (q220): the [[kCore]] pruning loop iterated
    * until a round removes no nodes — the TRUE k-core, which the
    * fixed-round variant only reaches if the peel depth happens to fit
    * its round budget — capped at `maxRounds` so a pathological chain
    * graph (peel depth O(n)) cannot run unbounded. The loop is a
    * [[Memo.fixpoint]]: convergence is detected on the surviving-edge
    * count, and each round's count() is the action that materializes
    * that round's lazily checkpointed edge table — the
    * connectedComponents stability pattern.
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
      maxRounds: Int = 12, nPlanes: Int = 8, knnK: Int = 3): DataFrame =
    withUndirectedKnn(spark, dir, nPlanes, knnK) { (und, _) =>
      // the keep set of the state the last round peeled (in_core reads
      // it), and the surviving-edge count of the current state
      var keep: Option[DataFrame] = None
      var survivors: Option[Long] = None
      val (edges, _, _) = Memo.fixpoint(und.select(col("a"), col("b")),
          maxRounds) { e =>
        val (kept, next) = kCorePeel(e, k)
        keep = Some(kept)
        next
      } { (prev, next) =>
        val before = survivors.getOrElse(prev.count())
        val after = next.count()
        survivors = Some(after)
        after != before
      }
      kCoreRows(spark, dir, edges, keep.getOrElse(kCorePeel(edges, k)._1))
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
    withUndirectedKnn(spark, dir, nPlanes, k) { (und, _) =>
      val (stars, _) =
        Dedup.connectedComponents(und.select($"a".as("s"), $"b".as("d")))
      val assign = vecIds(spark, dir)
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

  /** Frontier BFS over `edges` (u, v), the loop bfsLevels and
    * harmonicCentrality share: a [[Memo.fixpoint]] whose state is one
    * depth's fragment — the (`carry`, vec_id) pairs first reached at that
    * depth, tagged with the depth in `levelCol` — and whose exit is an
    * empty fragment (its count is the round's one action). `seeds` is
    * the depth-0 fragment; `carry` names the columns a multi-source
    * search keys on besides vec_id. Returns visited: the lazy union of
    * the checkpointed fragments, so each reference scans materialized
    * blocks with a depth-bounded plan.
    */
  private def frontierBfs(edges: DataFrame, seeds: DataFrame,
      carry: Seq[String], levelCol: String, maxDepth: Int): DataFrame = {
    val key = (carry :+ "vec_id").map(col)
    var fragments = Vector.empty[DataFrame]
    def visited = fragments.reduce(_ unionByName _)
    val (last, _, _) = Memo.fixpoint(seeds, maxDepth) { frontier =>
      fragments :+= frontier
      edges.join(frontier.select(carry.map(col) :+ col("vec_id").as("u"): _*),
          Seq("u"))
        .select(carry.map(col) :+ col("v").as("vec_id"): _*).distinct()
        .join(visited.select(key: _*), carry :+ "vec_id", "left_anti")
        .select(key :+ lit(fragments.size.toLong).as(levelCol): _*)
    }((_, next) => next.count() > 0)
    fragments :+= last
    visited
  }

  /** BFS reachability levels from vector 0 over the KNN graph (q213):
    * per hop, how many NEW vectors the frontier reaches, plus the
    * never-reached remainder — the traversal primitive (and the
    * connectivity probe: a giant component shows as most mass within a
    * few hops; shattered buckets show as a large unreachable row).
    *
    * Scale: classic frontier BFS ([[frontierBfs]]) — per hop one edge
    * join against the frontier and one anti-join against the visited
    * set, both keyed on node ids.
    */
  def bfsLevels(spark: SparkSession, dir: String, maxDepth: Int = 4,
      nPlanes: Int = 8, k: Int = 3): DataFrame = {
    import spark.implicits._
    withUndirectedKnn(spark, dir, nPlanes, k) { (_, edges) =>
      val visited = frontierBfs(edges,
        spark.range(1).select(lit(0L).as("vec_id"), lit(0L).as("level")),
        Nil, "level", maxDepth)
      val reached = visited.groupBy($"level")
        .agg(count(lit(1)).as("n_nodes"))
      val unreached = vecIds(spark, dir)
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
    val directed =
      bothWays(undirectedKnn(spark, dir, nPlanes, k).localCheckpoint(true))
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
    * rollups; the L1 totals are single-row broadcasts. The loop is a
    * [[Memo.fixpoint]] (q220 rule).
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
    withDirectedKnn(spark, dir, nPlanes, k) { (edges, _) =>
      val nodes = vecIds(spark, dir)
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
        def renorm(raw: DataFrame, c: String): DataFrame = {
          val tot = raw.agg(greatest(sum(col(c)), lit(1L)).as("tot"))
          raw.crossJoin(broadcast(tot))
            .select($"vec_id", expr(s"($c * $scale) div tot").as(c))
        }
        // State carries the SUPPORT only (rows with a nonzero sum path);
        // zero-in-degree / zero-out-degree nodes are implicit zeros — the
        // renorm total ignores them and `(0·SCALE) div tot = 0`, so the
        // values are bit-identical to the dense formulation while each
        // round drops two parquet-scan left-joins whose only job was
        // materializing those zeros. They are re-added ONCE at the end.
        val init = nodes
          .select($"vec_id", lit(scale / n).as("h"), lit(scale / n).as("a"))
        val (state, it, _) = Memo.fixpoint(init, maxIters) { state =>
          val aAgg = edges.join(state.select($"vec_id", $"h"),
              $"src" === $"vec_id")
            .groupBy($"dst").agg(sum($"h").as("a"))
            .select($"dst".as("vec_id"), $"a")
          // aNorm is referenced three times (h-sum via renorm's double
          // branch + the final join) — unmaterialized that re-evaluates
          // aAgg up to 6× per round, the Spark-side twin of the oracle's
          // MATERIALIZED-CTE requirement. LAZY checkpoint: its blocks land
          // inside the round's exit-count job, chained through the state.
          val aNorm = renorm(aAgg, "a").localCheckpoint(false)
          val hAgg = edges.join(aNorm.select($"vec_id".as("av"), $"a"),
              $"dst" === $"av")
            .groupBy($"src").agg(sum($"a").as("h"))
            .select($"src".as("vec_id"), $"h")
          renorm(hAgg, "h")
            .join(aNorm, Seq("vec_id"), "full")
            .select($"vec_id", coalesce($"h", lit(0L)).as("h"),
              coalesce($"a", lit(0L)).as("a"))
        } { (state, next) =>
          // the exit compares FULL states: support-only rows make a
          // vanished (or appeared) row a difference too, so a repeated
          // support state is a repeated full state — the cap argument
          // stays sound
          next
            .join(state.select($"vec_id", $"h".as("ph"), $"a".as("pa")),
              Seq("vec_id"), "full")
            .filter($"h".isNull || $"ph".isNull ||
              $"h" =!= $"ph" || $"a" =!= $"pa")
            .count() > 0
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
  def adamicAdar(spark: SparkSession, dir: String, nPlanes: Int = 8,
      k: Int = 3, topK: Int = 5): DataFrame = {
    import spark.implicits._
    withUndirectedKnn(spark, dir, nPlanes, k) { (und, directed) =>
      val adj = directed.select($"u", $"v".as("w"))
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
    withUndirectedKnn(spark, dir, nPlanes, k) { (und, directed) =>
      val adj = directed.select($"u", $"v".as("w"))
      val deg = adj.groupBy($"u".as("vec_id")).agg(count(lit(1)).as("deg"))
      val wedges = adj.as("x").join(adj.as("y"),
          col("x.u") === col("y.u") && col("x.w") < col("y.w"))
        .select(col("x.u").as("center"), col("x.w").as("w1"),
          col("y.w").as("w2"))
      val closed = wedges
        .join(und, $"w1" === $"a" && $"w2" === $"b")
        .groupBy($"center".as("vec_id")).agg(count(lit(1)).as("n_closed"))
      vecIds(spark, dir)
        .join(deg, Seq("vec_id"), "left")
        .join(closed, Seq("vec_id"), "left")
        .select($"vec_id",
          coalesce($"deg", lit(0L)).as("deg"),
          coalesce($"n_closed", lit(0L)).as("n_closed"))
        .withColumn("n_wedges", expr("(deg * (deg - 1)) div 2"))
        .withColumn("lcc",
          when($"n_wedges" > 0,
            round($"n_closed".cast("double") / $"n_wedges", 6)))
        .localCheckpoint(true) // fills und's persist before it is dropped
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
    * Scale: the [[frontierBfs]] loop keyed on (src, node) — per hop one
    * edge⋈frontier join + one (src, node)-keyed anti-join, state
    * bounded by nSources × |V|.
    */
  def harmonicCentrality(spark: SparkSession, dir: String,
      nSources: Int = 4, maxDepth: Int = 6, nPlanes: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    withUndirectedKnn(spark, dir, nPlanes, k) { (_, edges) =>
      val nodes = vecIds(spark, dir)
      val visited = frontierBfs(edges,
        nodes.filter($"vec_id" < nSources)
          .select($"vec_id".as("src"), $"vec_id", lit(0L).as("dist")),
        Seq("src"), "dist", maxDepth)
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
