package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dedup-first pair operators must equal their NAIVE all-pairs
  * formulations EXACTLY on a corpus with real duplicate groups. The
  * oracle corpora carry no exact copies, so the code paths that only
  * fire under duplication — within-group pairs, multi-member value
  * inheritance, min1/min2 in-group positive legs — are exercised here
  * on a 3×-replicated corpus (every doc/vector exists in 3
  * byte-identical copies under fresh ids), pair-for-pair against the
  * pre-rewrite naive plans re-stated inline. Also pins q16's and
  * q148's Spark jobs per call.
  */
class DedupFirstPairsSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private lazy val dir: String = {
    val out = "/tmp/graft_dedup_first_spec"
    val src = "/root/testdata/sf0.001"
    val reps = spark.range(3).select($"id".as("rep"))
    val d = spark.read.parquet(s"$src/documents.parquet")
    val dShift = d.agg(max($"doc_id")).head().getLong(0) + 1
    d.crossJoin(reps).withColumn("doc_id", $"doc_id" + $"rep" * dShift)
      .drop("rep").write.mode("overwrite").parquet(s"$out/documents.parquet")
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    val eShift = e.agg(max($"vec_id")).head().getLong(0) + 1
    e.crossJoin(reps).withColumn("vec_id", $"vec_id" + $"rep" * eShift)
      .drop("rep").write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }

  private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  /** q16's naive spelling: the hashed-shingle postings self-join, its
    * grouped counts and the 6-dp Jaccard at threshold `t`. The shingle
    * set is the relational route (3-gram strings over the token array,
    * xxhash64, distinct), not the `gram_hashes` kernel the operators
    * run, so the reference shares no code with what it checks.
    */
  private def naiveJaccard(t: Double): Map[(Long, Long), (Long, Double)] = {
    val tk = $"t"
    val set = array_distinct(transform(
      when(size(tk) >= 3,
        transform(sequence(lit(0), size(tk) - lit(3)),
          i => concat_ws(" ", element_at(tk, i + 1), element_at(tk, i + 2),
            element_at(tk, i + 3))))
        .otherwise(array().cast("array<string>")),
      g => xxhash64(g)))
    val base = docs.select($"doc_id", split($"text", " ").as("t"))
    val sh = base.select($"doc_id", explode(set).as("sh"))
    val sizes = base.select($"doc_id", size(set).cast("long").as("n"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), Seq("doc_a"))
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"common",
        round($"common".cast("double") / ($"na" + $"nb" - $"common"), 6)
          .as("jaccard"))
      .filter($"jaccard" >= t)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
  }

  private def pairsOf(df: DataFrame): Map[(Long, Long), (Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

  test("q16 jaccardPairs == naive shingle-join all-pairs on a duplicated corpus") {
    val fast = pairsOf(Dedup.jaccardPairs(spark, dir, minJaccard = 0.05))
    val naive = naiveJaccard(0.05)
    assert(fast == naive)
    // duplication actually exercised: each of the 500 base docs with a
    // non-empty shingle set yields 3 within-group pairs at jaccard 1.0
    assert(naive.values.count(_._2 == 1.0) >= 1000,
      "expected replica pairs at jaccard 1.0")
  }

  test("q148 prefixJaccardJoin == naive shingle-join all-pairs on a duplicated corpus") {
    // τ = 0.6 is q148's default; at 0.3 the PPJoin prefixes are much
    // longer and the positional bound prunes differently
    for (t <- Seq(0.6, 0.3)) {
      val naive = naiveJaccard(t)
      assert(pairsOf(Dedup.prefixJaccardJoin(spark, dir, t)) == naive,
        s"τ=$t diverged")
      assert(naive.values.count(_._2 == 1.0) >= 1000,
        "expected replica pairs at jaccard 1.0")
    }
  }

  test("q16 and q148 Spark jobs per call, cold and warm") {
    // each query on its own fresh copy of the sf0.01 documents: a new
    // corpus fingerprint, so every memo of the family starts cold and
    // the second call is served warm
    def coldWarm(q: String => DataFrame): (Int, Int) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-jobs")
      try {
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
          .write.parquet(s"$tmp/documents.parquet")
        val d = tmp.toString
        (graft.SparkTestSession.jobsOf(q(d).collect()),
          graft.SparkTestSession.jobsOf(q(d).collect()))
      } finally graft.TestFiles.rmrf(tmp)
    }
    // cold: the identity tables, the pair core's df branch and the
    // eager expansion checkpoint; warm q16 reads its memoized τ=0.05
    // pair table (the collect alone), warm q148 re-runs PPJoin over the
    // memoized identity tables
    assert(coldWarm(Dedup.jaccardPairs(spark, _)) == ((22, 1)))
    // q148's cold count is 27 or 28 from run to run (adaptive stage
    // timing), so its bound is the larger
    val (cold148, warm148) = coldWarm(Dedup.prefixJaccardJoin(spark, _))
    assert(cold148 <= 28 && warm148 == 16, s"q148 jobs $cold148/$warm148")
  }

  test("q162 tfidfCosinePairs == naive tf-idf all-pairs on a duplicated corpus") {
    val fast = Dedup.tfidfCosinePairs(spark, dir, minCos = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val tf = Dedup.shingleRows(spark, dir)
      .groupBy($"doc_id", xxhash64($"sh").as("g"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"g").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val wts = tf.join(dfreq, "g").crossJoin(broadcast(nDocs))
      .select($"doc_id", $"g",
        ($"tf" * log($"n_docs".cast("double") / $"df")).as("wt"))
    val norms = wts.groupBy($"doc_id").agg(sqrt(sum($"wt" * $"wt")).as("nrm"))
    val naive = wts.select($"g", $"doc_id".as("doc_a"), $"wt".as("wa"))
      .join(wts.select($"g", $"doc_id".as("doc_b"), $"wt".as("wb")), Seq("g"))
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(sum($"wa" * $"wb").as("dot"), count(lit(1)).as("n_shared"))
      .join(norms.select($"doc_id".as("doc_a"), $"nrm".as("na")), Seq("doc_a"))
      .join(norms.select($"doc_id".as("doc_b"), $"nrm".as("nb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"n_shared",
        round($"dot" / ($"na" * $"nb"), 6).as("cosine"))
      .filter($"cosine" >= 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(fast == naive)
    assert(naive.values.count(_._2 == 1.0) >= 1000,
      "expected replica pairs at cosine 1.0")
  }

  test("q215 weightedJaccard == naive per-candidate rescore on a duplicated corpus") {
    val fast = Dedup.weightedJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val sh = Dedup.shingleRows(spark, dir).distinct()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val wts = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select($"sh",
        round(log($"n_docs" / $"df".cast("double")) * 1e6).cast("long").as("wm"))
    val shw = sh.join(wts, Seq("sh"))
    val docW = shw.groupBy($"doc_id")
      .agg(sum($"wm").as("sw"), count(lit(1)).as("n_sh"))
    val naive = Dedup.minhashCandidates(spark, dir)
      .join(shw.select($"doc_id".as("doc_a"), $"sh", $"wm"), Seq("doc_a"))
      .join(shw.select($"doc_id".as("doc_b"), $"sh"), Seq("doc_b", "sh"))
      .groupBy($"doc_a", $"doc_b")
      .agg(sum($"wm").as("iw"), count(lit(1)).as("common"))
      .join(docW.select($"doc_id".as("doc_a"), $"sw".as("swa"),
        $"n_sh".as("na")), Seq("doc_a"))
      .join(docW.select($"doc_id".as("doc_b"), $"sw".as("swb"),
        $"n_sh".as("nb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"common",
        round($"common" / ($"na" + $"nb" - $"common").cast("double"), 6)
          .as("jaccard"),
        round($"iw" / ($"swa" + $"swb" - $"iw").cast("double"), 6)
          .as("weighted_jaccard"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(fast == naive)
    assert(naive.values.count(_._2 == 1.0) >= 1000,
      "expected replica candidate pairs at jaccard 1.0")
  }

  test("q18 cosineNearDupPairs == naive label-blocked all-pairs on a duplicated corpus") {
    val fast = Similarity.cosineNearDupPairs(spark, dir, minCosine = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getDouble(3)))
      .toMap
    graft.functions.VectorOps.register(spark)
    val e = emb.select($"vec_id", $"label", $"embedding",
      call_function("vec_norm", $"embedding").as("nrm"))
    val naive = e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"),
        round(call_function("vec_dot", col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      .filter($"cosine" >= 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getDouble(3)))
      .toMap
    assert(fast == naive)
    assert(naive.values.count(_._2 == 1.0) >= 1000,
      "expected replica pairs at cosine 1.0")
  }

  test("q171 tripletMining == naive member-level mining, dense and sparse buckets") {
    graft.functions.VectorOps.register(spark)
    // nPlanes=4: dense buckets (cross positives dominate); nPlanes=8:
    // ~256 buckets over 1500 vectors — many anchors whose ONLY positive
    // is a replica of themselves, exercising the in-group (min1/min2)
    // leg and the null-cross branch
    for (nPlanes <- Seq(4, 8)) {
      val fast = Similarity.tripletMining(spark, dir, nPlanes = nPlanes)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6), r.getBoolean(7))).toMap
      val planeVecs = emb.filter($"vec_id" < nPlanes)
        .select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toSeq)).toSeq
      val bucket = planeVecs
        .map { case (pid, pe) =>
          when(call_function("vec_dot", col("embedding"),
            array(pe.map(v => lit(v)): _*)) >= 0, lit(1L << pid))
            .otherwise(lit(0L)) }
        .foldLeft(lit(0L))(_ + _).cast("long")
      val e = emb.select($"vec_id", $"label", $"embedding",
        bucket.as("bucket"), call_function("vec_norm", $"embedding").as("nrm"))
      val pairs = e.as("a").join(e.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("anchor"), col("a.label").as("label"),
          col("b.vec_id").as("cand"), col("b.label").as("cand_label"),
          round(call_function("vec_dot", col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      val wPos = org.apache.spark.sql.expressions.Window
        .partitionBy($"anchor").orderBy($"cosine".asc, $"cand")
      val pos = pairs.filter($"cand_label" === $"label")
        .withColumn("rk", row_number().over(wPos)).filter($"rk" === 1)
        .select($"anchor", $"label", $"cand".as("pos_id"), $"cosine".as("pos_cos"))
      val wNeg = org.apache.spark.sql.expressions.Window
        .partitionBy($"anchor").orderBy($"cosine".desc, $"cand")
      val neg = pairs.filter($"cand_label" =!= $"label")
        .withColumn("rk", row_number().over(wNeg)).filter($"rk" === 1)
        .select($"anchor", $"cand".as("neg_id"), $"cosine".as("neg_cos"))
      val naive = pos.join(neg, Seq("anchor"))
        .select($"anchor", $"label", $"pos_id", $"pos_cos",
          $"neg_id", $"neg_cos",
          round($"pos_cos" - $"neg_cos", 6).as("gap"),
          ($"neg_cos" > $"pos_cos" - 0.2).as("margin_violation"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6), r.getBoolean(7))).toMap
      assert(fast == naive, s"nPlanes=$nPlanes diverged")
      assert(naive.nonEmpty)
      if (nPlanes == 8) {
        // the sparse regime actually used the in-group leg somewhere:
        // some anchor's hardest positive is its own replica (cosine 1.0)
        assert(naive.values.exists(_._3 == 1.0),
          "expected an in-group (replica) positive in the sparse regime")
      }
    }
  }
}
