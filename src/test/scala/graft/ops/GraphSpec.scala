package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[Graph]]'s operators against brute-force replays on the driver: the
  * HITS integer scale and fixpoint, personalized PageRank, harmonic
  * centrality and the local clustering coefficient. The loop properties
  * every fixpoint shares live in GraphFixpointSpec.
  */
class GraphSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("hitsScale: e6 below a million nodes, n above it, loud failure past the i64 bound") {
    // fixed e6 would floor the uniform init scale/n to 0 at n >= 1e6 and
    // return all-zero centralities the oracle replays — the scale must
    // grow with n and refuse past the renormalization overflow bound
    assert(Graph.hitsScale(1L) == 1000000L)
    assert(Graph.hitsScale(999999L) == 1000000L)
    assert(Graph.hitsScale(1000000L) == 1000000L) // init = 1, still nonzero
    assert(Graph.hitsScale(1000001L) == 1000001L)
    assert(Graph.hitsScale(3000000000L) == 3000000000L)
    // scale^2 must fit i64: raw <= scale after L1-renorm, raw*scale is
    // the renormalization product
    assert(Graph.hitsScale(3000000000L) * Graph.hitsScale(3000000000L) > 0)
    intercept[IllegalArgumentException] { Graph.hitsScale(3000000001L) }
  }

  test("hitsFixpoint: L1-normalized integer state, cap-unroll equality, edgeless exit") {
    val (df6, it6) = Graph.hitsFixpointWithStats(spark, sf, maxIters = 6)
    val rows6 = df6.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(rows6.nonEmpty && it6 <= 6)
    // L1 discipline: each renormalized vector totals SCALE minus at
    // most one truncated unit per node, and never exceeds SCALE
    val scale = 1000000L
    val hubTot = rows6.map(_._2).sum
    val authTot = rows6.map(_._3).sum
    assert(hubTot <= scale && hubTot > scale - rows6.length,
      s"hub mass off-scale: $hubTot")
    assert(authTot <= scale && authTot > scale - rows6.length,
      s"auth mass off-scale: $authTot")
    assert(rows6.forall(r => r._2 >= 0 && r._3 >= 0))
    // cap-unroll argument: if the exit fired below the cap the state is
    // stationary, so a deeper cap must change NOTHING; if the loop ran
    // the full cap the oracle unrolls exactly those rounds instead
    if (it6 < 6) {
      val rows7 = Graph.hitsFixpoint(spark, sf, maxIters = 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(rows6 == rows7, "early exit changed the answer")
    }
    // hubs and authorities concentrate SOMEWHERE: the max node holds
    // more than the uniform share (the graph is not edgeless)
    assert(rows6.map(_._3).max > scale / rows6.length)
    // edgeless graph (one vector, alone in every LSH bucket): state
    // drops to all-zero in round 1 and the exit detects it at round 2
    import spark.implicits._
    val dir = "/tmp/graft_hits_fixpoint_spec"
    Seq((0L, Seq(1.0f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (dfE, itE) = Graph.hitsFixpointWithStats(spark, dir, maxIters = 50)
    assert(itE == 2, s"edgeless graph should exit at round 2, ran $itE")
    val e = dfE.collect()
    assert(e.length == 1 && e.head.getLong(1) == 0L && e.head.getLong(2) == 0L)
  }

  test("personalizedPageRank: mass concentrates on and around seeds; cap-unroll equality") {
    val (df, it) = Graph.personalizedPageRankWithStats(spark, sf, maxIters = 12)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(rows.nonEmpty && it <= 12)
    val (seeds, rest) = rows.partition(_._3)
    assert(seeds.nonEmpty && seeds.forall(_._1 < 8L))
    // seeds hold strictly more average mass than non-seeds (teleport
    // goes only to them) and every rank is non-negative
    assert(rows.forall(_._2 >= 0L))
    val seedAvg = seeds.map(_._2).sum.toDouble / seeds.length
    val restAvg = if (rest.isEmpty) 0.0 else rest.map(_._2).sum.toDouble / rest.length
    assert(seedAvg > restAvg, s"seed mass $seedAvg !> non-seed $restAvg")
    // total mass never exceeds SCALE (teleport 15% + damped 85% of a
    // sub-SCALE total, minus dangling leak)
    assert(rows.map(_._2).sum <= 1000000000000L)
    // cap-unroll: early exit below the cap must be a true fixpoint
    if (it < 12) {
      val rows13 = Graph.personalizedPageRank(spark, sf, maxIters = 13)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(rows.sortBy(_._1) == rows13.sortBy(_._1))
    }
  }

  test("harmonicCentrality: brute-force multi-source BFS replay") {
    // reference BFS over the same knn-derived undirected edge set
    val knn = Similarity.knnGraph(spark, sf, 8, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = knn.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .distinct.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val allIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val sources = allIds.filter(_ < 4)
    assert(sources.nonEmpty)
    val expect = scala.collection.mutable.Map[Long, (Long, Long)]()
      .withDefaultValue((0L, 0L))
    sources.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      var frontier = Set(s)
      var d = 1
      while (d <= 6 && frontier.nonEmpty) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
        d += 1
      }
      dist.foreach { case (v, dd) =>
        if (dd > 0) {
          val (n, h) = expect(v)
          expect(v) = (n + 1, h + 1000000L / dd)
        }
      }
    }
    val got = Graph.harmonicCentrality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.length == allIds.length, "every vector must be emitted")
    got.foreach { case (id, n, h) =>
      val (en, eh) = expect(id)
      assert(n == en && h == eh,
        s"harmonic drifted for $id: got ($n,$h) want ($en,$eh)")
    }
    // the sample reaches SOMETHING beyond itself on real data
    assert(got.exists(t => t._3 > 0 && !sources.contains(t._1)))
  }

  test("clusteringCoefficient: brute-force triangle replay; bounds hold") {
    val knn = Similarity.knnGraph(spark, sf, 8, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = knn.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toSet
    val adj = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val allIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id")).collect().map(_.getLong(0))
    val got = Graph.clusteringCoefficient(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .sortBy(_._1)
    assert(got.length == allIds.length)
    got.foreach { case (id, deg, closed, wedges, lcc) =>
      val ns = adj.getOrElse(id, Set.empty)
      assert(deg == ns.size.toLong, s"deg drifted for $id")
      val pairs = ns.toSeq.sorted
      var t = 0L
      for (i <- pairs.indices; j <- (i + 1) until pairs.length)
        if (und.contains((math.min(pairs(i), pairs(j)),
            math.max(pairs(i), pairs(j))))) t += 1
      assert(closed == t, s"closed wedges drifted for $id: $closed vs $t")
      assert(wedges == ns.size.toLong * (ns.size - 1) / 2)
      lcc match {
        case Some(v) =>
          assert(wedges > 0 && v >= 0.0 && v <= 1.0 + 1e-9)
          assert(v == round6(t.toDouble / wedges))
        case None => assert(wedges == 0)
      }
    }
    // the knn graph on real data closes SOME triangle
    assert(got.exists(_._3 > 0))
  }
}
