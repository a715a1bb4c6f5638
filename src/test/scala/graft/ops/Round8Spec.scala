package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral contracts for the round-8 operators: q232 stupid-backoff
  * LM scoring, q233 label-centroid cosines, q235 LR training, q236 SCD2
  * history.
  */
class Round8Spec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("stupidBackoff: unseen eval bigram backs off, seen one does not") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sbo")
    try {
      // doc_id 3 hashes to train (md5('3')=eccb... > 7f? doc ids chosen
      // so both splits are non-empty: the md5 split puts ~half each way)
      val rows = (1L to 40L).map { i =>
        val text = if (i % 2 == 0) "alpha beta gamma" else "alpha beta delta"
        (i, text, "en", "s1", text.length.toLong)
      }
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val out = TextAnalysis.stupidBackoffLogprob(spark, tmp.toString).collect()
      assert(out.nonEmpty)
      // every eval doc's bigrams exist in train (both variants land in
      // both splits with 40 docs) → scores finite, n_pairs = 2
      out.foreach { r =>
        assert(r.getAs[Long]("n_pairs") == 2L)
        assert(r.getAs[Long]("n_backoff") == 0L)
        assert(!r.getAs[Double]("avg_neg_logprob").isNaN)
      }
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("stupidBackoff: fully-OOV eval doc is all backoff with finite score") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sbo2")
    try {
      // md5('1').take(2) = "c4" > '7f' → doc 1 is EVAL; md5('3') = "ec"
      // > '7f' eval too; find train ids: md5('2')="c8"... use many ids
      // so some land in train; eval doc 1 uses tokens no other doc has
      val rows = Seq((1L, "zz1 zz2 zz3", "en", "s1", 11L)) ++
        (2L to 30L).map(i => (i, "common words here", "en", "s1", 17L))
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val out = TextAnalysis.stupidBackoffLogprob(spark, tmp.toString)
        .filter($"doc_id" === 1L).collect()
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[Long]("n_pairs") == 2L)
      assert(r.getAs[Long]("n_backoff") == 2L)
      val s = r.getAs[Double]("avg_neg_logprob")
      assert(!s.isNaN && !s.isInfinite && s > 0.0)
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("labelCentroidCosine: identical-vector labels have cosine 1") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-lcc")
    try {
      val v = Array(1.0f, 2.0f, 3.0f)
      val rows = Seq((0L, v, 0), (1L, v, 0), (2L, v, 1), (3L, v, 1),
        (4L, Array(-1.0f, -2.0f, -3.0f), 2))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val out = Similarity.labelCentroidCosine(spark, tmp.toString).collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(out.keySet == Set((0, 1), (0, 2), (1, 2)))
      assert(out((0, 1)) == ((2L, 2L, 1.0)))
      assert(out((0, 2))._3 == -1.0 && out((1, 2))._3 == -1.0)
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("lrQualityTrain: training separates the classes on a separable corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-lr")
    try {
      val rows = (1L to 60L).map { i =>
        if (i % 2 == 0) (i, "good clean prose text", "en", "s1", 21L)
        else (i, "zzz spam zzz spam zzz", "de", "s1", 21L)
      }
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val out = TextAnalysis.lrQualityTrain(spark, tmp.toString).collect()
      assert(out.length == 60)
      val pos = out.filter(_.getAs[Long]("label") == 1L).map(_.getAs[Double]("score"))
      val neg = out.filter(_.getAs[Long]("label") == 0L).map(_.getAs[Double]("score"))
      assert(pos.min > neg.max,
        s"classes not separated: pos.min=${pos.min} neg.max=${neg.max}")
      out.foreach(r =>
        assert(r.getAs[Boolean]("predicted") == (r.getAs[Double]("score") >= 0)))
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("scd2History: segments tile each doc's presence, current iff open") {
    val rows = PipelinePrep.scd2History(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val from = r.getAs[Int]("valid_from")
      val to = Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Int])
      assert(from >= 0 && from <= 2)
      to.foreach(t => assert(t > from && t <= 3))
      assert(r.getAs[Boolean]("is_current") == to.isEmpty)
    }
    // segments of one doc never overlap: sort by valid_from, each next
    // segment starts at or after the previous close
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, segs) =>
      val sorted = segs.sortBy(_.getAs[Int]("valid_from"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val aTo = Option(a.getAs[Any]("valid_to")).map(_.asInstanceOf[Int])
          assert(aTo.nonEmpty, "only the last segment may be open")
          assert(aTo.get <= b.getAs[Int]("valid_from"))
        case _ =>
      }
    }
    // a doc dropped before the last revision (id % 13 == 0 present
    // earlier) must close: no current segment
    val dropped = rows.filter(r => r.getAs[Long]("doc_id") % 13 == 0)
    assert(dropped.nonEmpty)
    dropped.foreach(r => assert(!r.getAs[Boolean]("is_current")))
  }
}
