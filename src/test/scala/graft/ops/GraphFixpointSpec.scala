package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The convergence-detected graph variants must equal their fixed-round
  * counterparts run to the same cap (converged rounds are provably
  * no-ops, so early exit can never change the answer), and the test
  * graph must actually converge below the cap — otherwise the spec is
  * only testing the cap, not the fixpoint.
  */
class GraphFixpointSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def coreRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      .sortBy(_._1).toSeq

  test("kCoreFixpoint equals the fixed-round peel at the cap, and converges below it") {
    val fix = coreRows(Graph.kCoreFixpoint(spark, sf, maxRounds = 12))
    assert(fix == coreRows(Graph.kCore(spark, sf, rounds = 12)),
      "early exit changed the answer")
    // stability: one more fixed round changes nothing — the peel
    // actually converged within the cap on this graph
    assert(fix == coreRows(Graph.kCore(spark, sf, rounds = 13)),
      "test graph did not converge within the cap")
    assert(fix.exists(_._2), "expected a non-empty 2-core")
    assert(fix.exists(!_._2), "expected pruned nodes")
  }

  test("BFS at the exhaustion cap is stable: deeper caps add nothing") {
    val lv20 = Graph.bfsLevels(spark, sf, maxDepth = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val lv25 = Graph.bfsLevels(spark, sf, maxDepth = 25).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(lv20 == lv25, "frontier was not exhausted by depth 20")
    // the early-exit actually fired well below the cap: the deepest
    // reached level is far under 20 on the KNN graph
    assert(lv20.filter(_._1 >= 0).map(_._1).max < 20)
  }

  test("LPA fixpoint is cap-stable: a larger round budget changes nothing") {
    def comm(rounds: Int) =
      Graph.labelPropagationFixpoint(spark, sf, maxRounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val at8 = comm(8)
    assert(at8 == comm(12),
      "LPA did not converge within the cap on the test graph")
    assert(at8.nonEmpty)
  }

  test("integer PageRank: cap defines the answer; exit fires only on stationary state") {
    // real graph: e12 integer ranks keep drifting in low digits for
    // ~170 rounds, so the loop must run the FULL cap — that IS the
    // q220 semantics the oracle unrolls (an early stop here would mean
    // the exit criterion fired on a non-stationary state: unsound)
    val (df12, it12) =
      Graph.pageRankFixpointWithStats(spark, sf, maxIters = 12)
    assert(it12 == 12, s"exit fired on a drifting state at round $it12")
    val at12 = df12.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // mass sanity: total rank stays within the e12 scale (teleport floor
    // losses and dangling leak only ever shrink it)
    val total = at12.values.sum
    assert(total > 0L && total <= 1000000000000L)
    // genuinely stationary state (an edgeless graph: rank = teleport
    // from round 1 on) → the exit detects it at round 2 instead of
    // burning the whole budget
    import spark.implicits._
    val dir = "/tmp/graft_pagerank_fixpoint_spec"
    Seq((0L, Seq(1.0f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (dfE, itE) =
      Graph.pageRankFixpointWithStats(spark, dir, maxIters = 200)
    assert(itE == 2, s"edgeless graph should exit at round 2, ran $itE")
    val rows = dfE.collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 150000000000L,
      s"edgeless rank must be exactly the teleport mass: ${rows.toSeq}")
  }

  test("fixpoint rounds run ONE standalone driver action each (lazy checkpoint + count merge)") {
    // Per exit-detected loop: warm the KNN edge memo so only the loop's
    // own jobs are counted, then count Spark jobs across one full run.
    // Per round the lazy local checkpoint must be materialized BY the
    // round's exit action — ONE action per round. Under AQE every
    // shuffle-stage materialization is its own job, so a round costs
    // several jobs; each bound is the exact count this fixture measured
    // for the loop before it moved onto Memo.fixpoint (the counts are
    // deterministic for a fixed plan and fixture). An eager round
    // checkpoint adds a job per round, and an un-cut lineage or a lost
    // cache re-runs prior rounds per action; either breaks a bound.
    Graph.pageRankFixpoint(spark, sf).collect()
    val loops = Seq[(String, Int, () => Any)](
      ("pageRankFixpoint", 92,
        () => Graph.pageRankFixpoint(spark, sf).collect()),
      ("personalizedPageRank", 92,
        () => Graph.personalizedPageRank(spark, sf).collect()),
      ("hitsFixpoint", 113, () => Graph.hitsFixpoint(spark, sf).collect()),
      ("labelPropagationFixpoint", 64,
        () => Graph.labelPropagationFixpoint(spark, sf).collect()),
      ("kCoreFixpoint", 20,
        () => Graph.kCoreFixpoint(spark, sf).collect()),
      ("bfsLevels", 21,
        () => Graph.bfsLevels(spark, sf, maxDepth = 20).collect()),
      ("harmonicCentrality", 21,
        () => Graph.harmonicCentrality(spark, sf).collect()),
      // Dedup.connectedComponents, through the KNN component census
      ("knnComponents", 31,
        () => Graph.knnComponents(spark, sf).collect()))
    loops.foreach { case (name, bound, run) =>
      val n = graft.SparkTestSession.jobsOf(run())
      info(s"$name: $n jobs (bound $bound)")
      assert(n <= bound,
        s"$name: $n jobs, bound $bound — a per-round job or recompute chain appeared")
    }
  }
}
