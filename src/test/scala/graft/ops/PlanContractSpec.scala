package graft.ops

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts: the properties that make these queries scale
  * (pushdown into the parquet scan, column pruning, broadcast on fixed
  * dims, top-k without total sort, codegen'd vector math) asserted on the
  * plan text, so a refactor that silently de-optimizes fails here before
  * it shows up in a benchmark.
  */
class PlanContractSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q01: shipdate filter is pushed into the parquet scan, columns pruned") {
    val p = plan(Relational.pricingSummary(spark, sf))
    assert(p.contains("LessThan(l_shipdate"), p)
    // only the 6 needed columns are read, not all 11
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"), read)
  }

  test("q02: nation dim joins by broadcast, lineitem scan pruned to 3 columns") {
    val p = plan(Relational.revenueByNation(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    val lineitemRead = p.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains("l_orderkey")).get
    assert(lineitemRead.contains("l_extendedprice") && !lineitemRead.contains("l_shipdate"),
      lineitemRead)
  }

  test("q03: top-k compiles to TakeOrderedAndProject, not a total sort") {
    val p = plan(Relational.topOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q17: cosine top-k uses the codegen'd vec_dot, and TakeOrdered") {
    val p = plan(Similarity.cosineTopK(spark, sf))
    assert(p.contains("vec_dot") || p.contains("vecdot"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // no interpreted higher-order functions left in the scoring path
    assert(!p.contains("aggregate(zip_with"), p)
  }

  test("q19: IVF corpus assignment is shuffle-free; probe ranking rides the broadcast side") {
    // assignment = greatest() over static centroid-literal structs: no
    // hash exchange anywhere (round-2: corpus×8 shuffle; interim:
    // max_by agg). The ONE allowed Window ranks the single query row's
    // nCentroids probe cells and must sit under the BroadcastExchange,
    // never over the corpus.
    val p = plan(Similarity.annIvfTopK(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"assignment pays a hash exchange:\n$p")
    // in the formatted tree the join's STREAMED (corpus) child prints on
    // ":"-prefixed lines; a Window there means assignment regressed —
    // line order alone can't tell the sides apart
    val corpusSideWindow = p.linesIterator
      .exists(l => l.trim.startsWith(":") && l.contains("Window"))
    assert(!corpusSideWindow, s"corpus-side window regression:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q51: LSH signatures are a projection; candidates come from an equality join") {
    val p = plan(Similarity.cosineNearDupPairsLsh(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // static plane literals: no nested-loop plane join, no signature
    // aggregation — any BNLJ means the corpus-pair join degenerated
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the only hash exchanges are the candidate self-join + distinct +
    // the two embedding re-joins, all on equality keys
    assert(p.contains("Exchange hashpartitioning") || p.contains("BroadcastHashJoin"), p)
  }

  test("q54: KNN-graph bucketing is a projection; per-vector ranking windows on vec_id") {
    val p = plan(Similarity.knnGraph(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // static-literal signatures: the whole plan has NO aggregate at all
    // (scan → project bucket → self-join → window). The old
    // crossJoin+groupBy shape put a HashAggregate under the join — and
    // since explain prints root-first, a prefix scan would only cover
    // operators ABOVE the join and never see it; assert globally.
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"bucket signature pays an aggregate:\n$p")
  }

  test("q52: repetition ratio is a pure scan — zero exchanges, two-column read") {
    val p = plan(TextAnalysis.repetitionRatio(spark, sf))
    assert(!p.contains("Exchange"), s"quality signal pays a shuffle:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("q56: training mix pays exactly its two semantic shuffles (dedup + manifest agg)") {
    val p = plan(PipelinePrep.trainingMix(spark, sf))
    val exchanges = p.linesIterator.count(l =>
      l.trim.startsWith("Exchange") || l.contains("+- Exchange"))
    assert(exchanges <= 2, s"expected <=2 shuffles (content-hash dedup, manifest agg):\n$p")
  }

  test("q27: simhash is a pure scan projection — zero exchanges") {
    // per-doc simhash is a function of the text; the codegen'd
    // simhash32 expression must keep it in the scan stage (the old
    // explode + 32-sum aggregation shape paid a corpus-sized shuffle)
    val p = plan(Dedup.simhash(spark, sf))
    assert(!p.contains("Exchange"), s"simhash pays a shuffle:\n$p")
    assert(p.contains("simhash32"), p)
  }

  test("q13: exact dedup is a single scan + single exchange") {
    val p = plan(Dedup.exactDuplicates(spark, sf))
    val exchanges = p.linesIterator.count(l =>
      l.trim.startsWith("Exchange") || l.contains("+- Exchange"))
    assert(exchanges <= 1, s"expected <=1 shuffle, plan:\n$p")
  }

  test("q25: sessionization shares one user_id exchange across window + agg") {
    val p = plan(Sessionize.userSessions(spark, sf))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // one shuffle for the per-user window; the two follow-up groupBys
    // reuse that partitioning (plus possibly one final small agg exchange)
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$p")
  }

  test("q36: banded range join plans as an equi-join, not a nested loop") {
    val p = plan(Sessionize.rangeJoinConversions(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("q44: correlated subqueries decorrelate into joins") {
    val p = plan(Relational.correlatedSubquery(spark, sf))
    // Catalyst rewrites the scalar subquery + EXISTS into aggregated /
    // semi joins; no per-row subquery execution survives to the
    // physical plan
    assert(!p.toLowerCase.contains("subquery"), p)
    assert(p.contains("Join"), p)
  }

  test("q68: sequence packing pays exactly one exchange (the stream window)") {
    val p = plan(PipelinePrep.sequencePacking(spark, sf))
    val exchanges = p.linesIterator.count(l =>
      l.trim.startsWith("Exchange") || l.contains("- Exchange"))
    assert(exchanges == 1, s"expected the single (lang, source) window shuffle:\n$p")
    // derived chunk columns must not widen the scan
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("n_chars"), read)
  }

  test("q69: centroid assignment is a projection — first exchange only at the cell join") {
    val p = plan(Similarity.semanticDedup(spark, sf))
    // assignment must not aggregate or window: no Expand / Window nodes
    assert(!p.contains("Expand") && !p.contains("Window"), p)
    assert(p.contains("vec_dot") || p.contains("vecdot"), p)
  }

  test("q70: rank rounds run against a checkpointed result and release the edge cache") {
    // warm the SHARED memoized KNN edge table (the memo owns its
    // persist; it must not count against the leak allowance below)
    Similarity.knnGraph(spark, sf).count()
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = Graph.pageRankKnn(spark, sf, iters = 2)
    // the operator is eager (one checkpointed node-sized result); the
    // edge cache must be RELEASED on return — at most the checkpoint
    // itself may remain registered
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"pageRankKnn leaked cached RDDs: $before -> $after")
    // and the returned plan is the materialized result, not a live
    // 2-round join DAG that would recompute the KNN pipeline per action
    val p = plan(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q76: mixing rates come from a window, not a second corpus pass") {
    // the scalar-subquery crossJoin shape re-expanded the count
    // aggregate into a second corpus scan plus a BroadcastNestedLoopJoin;
    // the window form pays only the inherent two scans. Each scan
    // appears twice in formatted mode (tree + detail); count the
    // numbered detail entries only
    val p76 = plan(PipelinePrep.temperatureMix(spark, sf))
    assert(p76.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) <= 2, p76)
    assert(!p76.contains("BroadcastNestedLoopJoin"), p76)
  }

  test("q75/q77/q79/q81/q82: eager ops release their caches and return materialized results") {
    // warm the SHARED memoized tables (mins/candidates/KNN edges/gram
    // multiplicity) first: they persist by design (the memo owns them)
    // and must not count against the per-query leak allowance below
    Dedup.minhashCandidates(spark, sf).count()
    Similarity.knnGraph(spark, sf).count()
    Dedup.duplicatedWindowFraction(spark, sf).count()
    val before = spark.sparkContext.getPersistentRDDs.size
    val dfs = Seq(
      PipelinePrep.sourceReputation(spark, sf),
      Dedup.duplicatedWindowFraction(spark, sf),
      Dedup.incrementalDedup(spark, sf),
      Dedup.gramNovelty(spark, sf),
      Graph.knnTriangles(spark, sf))
    val after = spark.sparkContext.getPersistentRDDs.size
    // at most the four checkpoints themselves may remain registered —
    // every gram/signature/edge cache must be RELEASED on return
    assert(after <= before + dfs.length,
      s"gram/signature caches leaked: $before -> $after")
    dfs.foreach { df =>
      val p = plan(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"returned plan is a live DAG that would recompute per action:\n$p")
    }
  }

  test("q78: Gopher rules are a pure scan — zero exchanges, two-column read") {
    val p = plan(TextAnalysis.gopherRules(spark, sf))
    assert(!p.contains("Exchange"), s"rule battery pays a shuffle:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("q80: both gram consumers read the shared cache, not a re-expanded explode") {
    val p = plan(Dedup.substringDedupCut(spark, sf))
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      s"expected both the global count and the join-back to hit the gram cache:\n$p")
  }

  test("q86/q87/q97/q99/q100: eager retrieval stats release their caches and return materialized results") {
    // warm the SHARED memoized mins table q99 reads (the memo owns its
    // persist; it must not count against the leak allowance below)
    Dedup.minhashCandidates(spark, sf).count()
    val before = spark.sparkContext.getPersistentRDDs.size
    val dfs = Seq(
      TextAnalysis.bm25TopK(spark, sf),
      TextAnalysis.sourceDivergence(spark, sf),
      TextAnalysis.bigramLogprob(spark, sf),
      Dedup.minhashEstimateVsExact(spark, sf),
      PipelinePrep.sourceHealthReport(spark, sf))
    val after = spark.sparkContext.getPersistentRDDs.size
    // each op may retain checkpoints that BACK its returned frame (that
    // is the data): one each for q86/q87/q97/q99, three for q100 (two
    // sub-reports + the pair rollup, all referenced by its live
    // compose). Anything beyond 7 is a leaked working cache (per-doc
    // tables, sketches, count tables), which must be released on return
    assert(after <= before + 7,
      s"per-doc/count/sketch caches leaked: $before -> $after")
    dfs.foreach { df =>
      val p = plan(df)
      // the returned plan must never re-read the corpus: either a
      // materialized checkpoint, or (q100) a join of checkpointed
      // sources-sized tables
      assert(!p.contains("Scan parquet"),
        s"returned plan re-scans the corpus per action:\n$p")
    }
  }

  test("q89/q91: char profile and winnowing are pure scans — zero exchanges, pruned read") {
    Seq(TextAnalysis.charClassProfile(spark, sf) -> "q89",
      TextAnalysis.winnowingFingerprints(spark, sf) -> "q91").foreach { case (df, q) =>
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$q pays a shuffle:\n$p")
      val read = p.linesIterator.find(_.contains("ReadSchema")).get
      assert(!read.contains("lang") && !read.contains("source"), s"$q: $read")
    }
  }

  test("q88/q90/q93: pair stages are equi-joins — no nested-loop or cartesian fallback") {
    // q88's joined table is memoized+persisted (round-13 sharing with
    // q39); its plan carries the join skeleton inside the cached
    // relation, so the contract still reads it
    val q88Joined = Dedup.keeperShingleIntersections(spark, sf)
    Seq(q88Joined -> "q88",
      Dedup.crossSourceDups(spark, sf) -> "q90",
      TextAnalysis.winnowingCandidates(spark, sf) -> "q93").foreach { case (df, q) =>
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q fell back to an all-pairs join:\n$p")
    }
  }

  test("q92: eager bucketing releases its cache and returns a materialized result") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = TextAnalysis.perplexityBuckets(spark, sf)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"scored cache leaked: $before -> $after")
    // returned plan is the materialized checkpoint, not a live DAG that
    // would re-run the unigram pipeline per action
    val p = plan(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q27/q52/q89: the custom text expressions stay inside whole-stage codegen") {
    // the k-means lesson: an expression that silently falls out of
    // codegen runs interpreted and costs 3-5x. The assertion binds the
    // expression to ITS OWN Project: the detail block whose Output
    // mentions the expression must carry [codegen id] in its header —
    // some OTHER codegen'd Project in the plan must not vouch for it
    Seq(
      Dedup.simhash(spark, sf) -> "simhash",
      TextAnalysis.repetitionRatio(spark, sf) -> "gramhashes",
      TextAnalysis.charClassProfile(spark, sf) -> "charcounts").foreach {
      case (df, exprName) =>
        val p = plan(df)
        // split the formatted detail section into per-node blocks
        val blocks = p.split("""(?m)^(?=\(\d+\) )""")
        val owning = blocks.filter(b =>
          b.linesIterator.next().matches("""\(\d+\) Project.*""") &&
            b.toLowerCase.contains(exprName))
        assert(owning.nonEmpty, s"no Project emits $exprName:\n$p")
        owning.foreach { b =>
          assert(b.linesIterator.next().contains("[codegen id"),
            s"the Project emitting $exprName runs interpreted:\n$b")
        }
    }
  }

  test("q33: chunk_hash participates in whole-stage codegen") {
    val df = Dedup.chunkHashDigests(spark, sf)
    val p = plan(df)
    // formatted mode marks whole-stage-codegen'd operators with
    // "[codegen id : N]" — the projection holding chunkhash must be one
    val projLine = p.linesIterator.find(_.matches(""".*\(\d+\) Project.*""")).get
    assert(projLine.contains("[codegen id"), p)
    assert(p.contains("chunkhash"), p)
  }

  test("q101: the index build pays exactly ONE exchange (the vocabulary shuffle)") {
    val p = plan(TextAnalysis.invertedIndex(spark, sf))
    // row-local array_distinct dedup: an explode-then-distinct shape
    // would show a second exchange node here (formatted mode prints
    // each exchange as its own "(N) Exchange" detail block)
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("q102: phrase search is one scan with the substring filter pushed to parquet") {
    val p = plan(TextAnalysis.phraseSearch(spark, sf))
    assert(p.contains("StringContains"), p)
    assert(!p.contains("Exchange"), s"phrase search must not shuffle:\n$p")
    // one corpus read, not a candidates+verify double scan
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
  }

  test("q103: the snapshot join shuffles digests, not document bodies") {
    val p = plan(PipelinePrep.snapshotDiffQuery(spark, sf))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    // the join's output must be the md5 projections — text is consumed
    // inside the scan-side Projects, never carried through the exchange
    val smjBlock = p.split("""(?m)^(?=\(\d+\) )""")
      .find(_.linesIterator.next().contains("SortMergeJoin")).get
    assert(!smjBlock.contains("text#"), smjBlock)
  }

  test("q104: blocklist scrub is a pure scan — zero exchanges, two-column read") {
    val p = plan(PipelinePrep.blocklistScrub(spark, sf))
    assert(!p.contains("Exchange"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang") && !read.contains("source"), read)
  }

  test("q111: the Morton fold is pure shift/mask arithmetic — no UDF, 3-column read") {
    val p = plan(graft.sources.Layouts.zorderLocality(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("o_orderkey") && read.contains("o_custkey") &&
      read.contains("o_orderdate") && !read.contains("o_totalprice"), read)
  }

  test("q113: the reference instant arrives by broadcast, not a driver collect") {
    val p = plan(Sessionize.decayedEngagement(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // exactly one hash-partitioned data exchange (the per-user agg); the
    // only other exchange is the SinglePartition gather for the 1-row max
    assert(p.linesIterator.count(_.contains("hashpartitioning")) == 1, p)
  }

  test("q114: the bloom probe is a scan-level filter — no join, no exchange on the probe") {
    graft.functions.SketchOps.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hot = spark.read.parquet(s"$sf/orders.parquet")
      .filter($"o_totalprice" > 400000.0).select($"o_orderkey")
    val bf = hot.agg(call_function("bloom_agg", xxhash64($"o_orderkey"),
      lit(65536L), lit(1048576L))).head().getAs[Array[Byte]](0)
    val probe = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey")
      .filter(call_function("bloom_contains", lit(bf), xxhash64($"l_orderkey")))
    val p = plan(probe)
    assert(p.contains("might_contain") || p.contains("bloom"), p)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("q115: the correlation screen is ONE aggregate pass — no Expand, no second scan") {
    val p = plan(Relational.numericCorrelation(spark, sf))
    assert(!p.contains("Expand"), p)
    // one scan node: formatted explain prints it once in the tree and
    // once as a detail header
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
  }

  test("q121: PII scrub is one scan + one exchange, regexes in the projection, 2-column read") {
    val p = plan(TextAnalysis.piiScrub(spark, sf))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(p.linesIterator.count(_.contains("hashpartitioning")) == 1, p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("text") && read.contains("source") &&
      !read.contains("doc_id") && !read.contains("n_chars"), read)
  }

  test("q122: rolling actives explode the deduped activity table, not raw events") {
    val p = plan(Series.rollingActive(spark, sf))
    // the ×7 generator must sit ABOVE a HashAggregate (the (user, day)
    // dedup), i.e. some aggregate appears before the explode in the
    // bottom-up tree — a Generate directly over the scan means the
    // window fan-out multiplied raw events
    val lines = p.linesIterator.toSeq
    val scanIdx = lines.lastIndexWhere(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scanIdx >= 0, p)
    val firstGen = lines.indexWhere(_.contains("Generate"))
    val aggBetween = lines.slice(firstGen, lines.length)
      .exists(_.contains("HashAggregate"))
    assert(firstGen >= 0 && aggBetween, s"explode sits on raw events:\n$p")
  }

  test("q124: the EWMA fold is a higher-order lambda, not a UDF or driver loop") {
    val p = plan(Series.ewmaDaily(spark, sf))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // two shuffles total: (type, day) count + per-type collect
    assert(p.linesIterator.count(_.contains("hashpartitioning")) == 2, p)
  }

  test("q126: PSI bins come from a broadcast bounds row — no corpus-wide sort/ntile") {
    val p = plan(Series.psiDrift(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // a global ntile would show as an empty-partition Window over the
    // whole corpus feeding a single-partition sort; the only Window here
    // runs per event_type
    assert(!p.contains("ntile"), p)
    val windowPartByType = p.linesIterator
      .filter(_.contains("Window"))
      .forall(!_.contains("SinglePartition"))
    assert(windowPartByType, p)
  }

  test("q135: the returned k-core table has a CUT lineage (checkpointed rows, no live KNN subtree)") {
    // the un-checkpointed loop re-evaluated each prior round 3^r times
    // (19 s vs 3 s at sf0.1); a cut lineage means the result plan reads
    // materialized rows rather than replaying the KNN pipeline
    val p = plan(Graph.kCore(spark, sf))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("vec_dot"), s"KNN subtree still live in the result plan:\n$p")
  }

  test("q137: skip-gram pairs come from shifted-zip projections, not a position self-join") {
    val p = plan(TextAnalysis.skipgramPmi(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // posexplode + equi-join on doc_id would shuffle corpus-sized
    // position rows; the zip projection keeps pair generation map-side
    assert(!p.contains("posexplode"), p)
  }

  test("q140: grouping sets compile to ONE Expand over one scan") {
    val p = plan(Relational.groupingSetsSummary(spark, sf))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Expand\s*""")) == 1, p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
    assert(!p.contains("Union"), p)
  }

  test("q142: unpivot is an Expand, not a union of per-metric selects") {
    val p = plan(Relational.unpivotStats(spark, sf))
    assert(p.contains("Expand"), p)
    assert(!p.contains("Union"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
  }

  test("q156: interval merge runs on ONE customer exchange; scan pruned to 3 columns") {
    val p = plan(Relational.intervalMerge(spark, sf))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*""")) == 1, p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("o_totalprice") && !read.contains("o_orderstatus"), read)
  }

  test("q157: mode counts partial-combine BEFORE the window shuffle") {
    // the raw event stream must shrink to (user, type) counts first;
    // the window exchange then moves only the counted table
    val p = plan(Sessionize.eventTypeMode(spark, sf))
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q159: weighted quartiles share one source exchange for window and aggregate") {
    val p = plan(PipelinePrep.weightedMedianLength(spark, sf))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*""")) == 1, p)
  }

  test("q163: winsor fences join back by broadcast, never a corpus shuffle join") {
    val p = plan(Series.winsorizedStats(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q162: tf-idf cosine pair stream is an equality join, never cartesian") {
    val p = plan(Dedup.tfidfCosinePairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q166: the Misra-Gries fold partial-aggregates per partition") {
    // constant-size sketch state must combine map-side (partial) before
    // the single-row final merge — the whole point of the summary
    val p = plan(TextAnalysis.mgHeavyHitters(spark, sf))
    assert(p.contains("partial_mgaggregator") ||
      p.toLowerCase.contains("partial_mg"), p)
  }

  test("q168: the A/B report is ONE aggregate over one scan — no joins, no windows") {
    val p = plan(Series.abLift(spark, sf))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("q171: triplet result has a CUT lineage; the pair cache is released") {
    // the returned table is checkpointed (q135 pattern) so the persisted
    // bucket-pair join can be unpersisted without a recompute hazard; a
    // live vec_dot subtree here means the checkpoint regressed
    val p = plan(Similarity.tripletMining(spark, sf))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("vec_dot") && !p.contains("CartesianProduct"), p)
  }

  test("q189: outlier scoring is a shuffle-free scan projection into TakeOrdered") {
    // the 64 per-dim moments are plan-time literals (collected by a
    // separate job), so the scoring pass must be scan → project → top-k
    // with no exchange; a hash exchange here means the moments regressed
    // into a join
    val p = plan(Similarity.embeddingOutliers(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*""")) == 0, p)
    assert(!p.contains("Join"), p)
  }

  test("q184: PQ assignment pays exactly one exchange (the cell rollup)") {
    // per-block argmin is least() over literal-centroid structs in the
    // scan projection (codegen'd vec_dot); the ONLY shuffle is the
    // (block, code) aggregate — a second exchange means assignment
    // regressed into a join or window
    val p = plan(Similarity.pqCodebook(spark, sf))
    assert(p.contains("vec_dot") || p.contains("vecdot"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*""")) == 1, p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("q180: the apportionment never sorts or shuffles the corpus — one scan, source-sized rest") {
    // the only corpus-touching stage is the (source) aggregate; the
    // div/mod quota math and the remainder ranking run on the
    // sources-sized table (single-partition windows over ~20 rows)
    val p = plan(graft.ops.PipelinePrep.tokenBudget(spark, sf))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
    // one source-keyed aggregate exchange + the single-partition window
    // exchanges over the ~20-source table; no sort anywhere
    assert(!p.contains("(1) Sort") && !p.toLowerCase.contains("sortexec"), p)
    val keyed = p.linesIterator.count(_.contains("hashpartitioning(source"))
    assert(keyed <= 1, s"source-keyed exchanges: $keyed\n$p")
  }

  test("q213: BFS result is checkpointed; no live KNN subtree in the returned plan") {
    val p = plan(Graph.bfsLevels(spark, sf))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("vec_dot") && !p.contains("Scan parquet"), p)
  }

  test("q216: the census aggregates the checkpointed size table, not the contraction") {
    val p = plan(Graph.knnComponents(spark, sf))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("q217: every FK probe joins by broadcast, never cartesian") {
    val p = plan(Relational.fkAudit(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q190: the threshold sweep result is checkpointed once, ranked twice") {
    // both criteria rank the same score-granularity confusion table; a
    // live corpus scan in the final plan means the barrier regressed
    val p = plan(TextAnalysis.optimalThreshold(spark, sf))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("q262: dominant-share is a pure scan projection — no Exchange anywhere") {
    // the scaladoc claims zero shuffles (eigenvector folded in as
    // literals, per-row exact integer math); hold it to that
    val p = plan(Similarity.dominantShare(spark, sf))
    assert(!p.contains("Exchange"), s"q262 pays a shuffle:\n$p")
  }

  test("q269: PQ-ADC search is a zero-shuffle scan into TakeOrdered") {
    // the whole point of ADC: codebook + lookup table are literals, so
    // the query path is projection → TakeOrdered — no Exchange, no join
    val p = plan(Similarity.pqAdcTopK(spark, sf))
    assert(!p.contains("Exchange"), s"q269 pays a shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q269 lost top-k:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q273: the global scalar rides a broadcast; one aggregate pass over lineitem") {
    val p = plan(Relational.partValueConcentration(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"q273 global total not broadcast:\n$p")
    // two scans of lineitem (per-part agg + its rollup share one via
    // reuse or not — what matters is no correlated per-row probe)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q274: NOT IN plans as an anti join against the key-only blacklist") {
    val p = plan(Relational.partSupplierCensus(spark, sf))
    assert(p.contains("LeftAnti"), s"q274 lost the anti join:\n$p")
    assert(p.contains("LessThan(s_acctbal"), s"blacklist filter not pushed:\n$p")
  }

  test("q278: Q13 shape = LEFT OUTER of customer against the PRE-AGGREGATED fact side") {
    val p = plan(Relational.customerOrderDistribution(spark, sf))
    assert(p.contains("LeftOuter"), s"q278 lost the outer join (zero bucket):\n$p")
    // the priority exclusion reaches the orders scan; the join build
    // side is the per-custkey aggregate, never raw orders (the
    // HashAggregate must sit under the join's build exchange)
    assert(p.contains("Not(EqualTo(o_orderpriority"), s"filter not pushed:\n$p")
    // customer reads its key only (column pruning through the outer join)
    assert(p.contains("struct<c_custkey:bigint>"), s"customer not pruned:\n$p")
  }

  test("q279: Q15 shape = one revenue aggregate, scalar max by broadcast, date pushed") {
    val p = plan(Relational.topRevenueSupplier(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"q279 scalar max not broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"date not pushed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q284: Q6 shape — ALL THREE predicates reach the parquet scan") {
    val p = plan(Relational.forecastRevenue(spark, sf))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"date not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05"), s"discount not pushed:\n$p")
    assert(p.contains("LessThan(l_quantity,24.0"), s"quantity not pushed:\n$p")
    // 4-column read out of 11 — at 100 TB this query IS the row-group prune
    val read = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("l_discount")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_returnflag"), read)
  }

  test("q282: Q4 EXISTS plans as one LEFT SEMI join (interval condition rides it)") {
    val p = plan(Relational.latePriorityCensus(spark, sf))
    assert(p.contains("LeftSemi"), s"q282 lost the semi join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q288: Q10 top-20 is TakeOrderedAndProject; dimensions join after the limit") {
    val p = plan(Relational.returnedItemCustomers(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"q288 lost top-k:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"), s"returnflag not pushed:\n$p")
    // the quarter filter prunes the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"date not pushed:\n$p")
  }

  test("q292: Q19 disjunction — qty envelope pushed to the fact scan, " +
      "part-side implication pushed to the dim scan, join is broadcast") {
    val p = plan(Relational.disjunctiveRevenue(spark, sf))
    assert(p.contains("LessThanOrEqual(l_quantity,30.0"),
      s"qty envelope not pushed:\n$p")
    // Catalyst extracts the OR-of-ANDs' part-only implication and pushes
    // it into the part scan — the property that makes Q19 scan-bound
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"part disjunction not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q281: Q2 correlated min — semi-filtered single fact pass, no cartesian") {
    val p = plan(Relational.minCostSupplier(spark, sf))
    assert(p.contains("LeftSemi"), s"q281 lost the semi prune:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // part filter reaches the dimension scan that seeds the semi side
    assert(p.contains("EqualTo(p_type,STANDARD)"), s"part filter not pushed:\n$p")
  }

  test("q283: Q5's c/s nation equality rides the supplier hash join, dates pushed") {
    val p = plan(Relational.localSupplierVolume(spark, sf))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"date not pushed:\n$p")
    // the signature twist: the supplier join key includes the customer
    // nation equality — if it degenerated to a post-join filter over a
    // cross of nations the plan would grow a non-equi join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q286: Q8's PROMO prune is a LEFT SEMI against the part keys") {
    val p = plan(Relational.nationalMarketShare(spark, sf))
    assert(p.contains("LeftSemi"), s"q286 lost the semi prune:\n$p")
    assert(p.contains("EqualTo(p_type,PROMO)"), s"part filter not pushed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q287: Q9's name-filtered part dim broadcasts; profit stays scan-side") {
    val p = plan(Relational.productLineProfit(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("StringContains(p_name,widget)"),
      s"name filter not pushed:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q287 pays a shuffle join:\n$p")
  }

  test("q291: Q18's HAVING aggregate sits under the joins (fact never re-joins raw)") {
    val p = plan(Relational.largeVolumeCustomers(spark, sf))
    // the per-order sum must aggregate BEFORE any join: a HashAggregate
    // feeds the first join's build/probe, never raw lineitem
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    // lineitem reads exactly its two needed columns
    val read = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("l_orderkey")).get
    assert(read.contains("l_quantity") && !read.contains("l_extendedprice"), read)
  }

  test("q280: IVF probe arms are filter -> TakeOrdered scans, no join fallback") {
    val p = plan(Similarity.ivfPqTopK(spark, sf))
    // each probe arm: cell-filter projection into TakeOrdered(k); the
    // only joins are the k-row overlap and one-row count broadcasts
    assert(p.contains("TakeOrderedAndProject"), s"q280 lost top-k:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), s"q280 pays a shuffle join:\n$p")
  }

  test("q295: trained IVF-PQ keeps q280's probe-arm plan shape") {
    // training happens driver-side before the plan exists; the returned
    // plan must be the identical filter -> TakeOrdered index-probe shape
    val p = plan(Similarity.ivfPqTrainedTopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"q295 lost top-k:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), s"q295 pays a shuffle join:\n$p")
  }

  test("q266: both Q20 nesting levels plan as LEFT SEMI joins, part filter pushed") {
    val p = plan(Relational.dominantPartSuppliers(spark, sf))
    // level 1 (part-family filter on lineitem) + level 2 (qualifying
    // suppliers into the dimension) — two semi joins, payloads never
    // join through
    assert("LeftSemi".r.findAllIn(p).size >= 2, s"q266 lost a semi join:\n$p")
    // the name prefix reaches the part scan as a pushed filter
    assert(p.contains("StringStartsWith(p_name"), p)
    // no cartesian/nested-loop fallback anywhere in the nesting
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q267: Q22 shape = LEFT ANTI on recent orders + broadcast scalar average, date pushed") {
    val p = plan(Relational.lapsedHighBalanceCustomers(spark, sf))
    assert(p.contains("LeftAnti"), s"q267 lost the anti join:\n$p")
    // the scalar positive-balance aggregate arrives by broadcast (the
    // one-row crossJoin-total idiom), never a per-row subquery probe
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"q267 scalar average not broadcast:\n$p")
    // the cutoff reaches the orders scan as a pushed filter
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  // ---- rank-statistic family: no Exchange SinglePartition may feed a
  // Window (the one-task global sort that kills these at 100×). Walks the
  // physical plan: for every Window, the first exchange below it (through
  // unary nodes) must not be SinglePartition. prefixCum's windows are
  // bucket-partitioned; the only SinglePartition gathers left are 1-row
  // final aggregates, which never sit under a Window.

  private def singlePartitionWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def feed(p: SparkPlan): Option[ShuffleExchangeExec] = strip(p) match {
      case e: ShuffleExchangeExec => Some(e)
      case u if u.children.size == 1 => feed(u.children.head)
      case _ => None
    }
    strip(plan).collect {
      case w: WindowExec
          if feed(w.child).exists(_.outputPartitioning == SinglePartition) =>
        w.simpleStringWithNodeId()
    }
  }

  private def windowFedBySinglePartition(df: DataFrame): Seq[String] =
    singlePartitionWindows(df.queryExecution.executedPlan)

  // Queries whose SinglePartition-fed Window ranks a table whose size is
  // INDEPENDENT of corpus scale (or metadata-scale): each entry names the
  // bounded table. Anything not listed here must plan its windows
  // partitioned — the sweep below enforces it.
  private val boundedWindowAllowlist: Map[String, String] = Map(
    "q76_temperature_mix" -> "per-source count table (#sources rows)",
    "q119_zipf_profile" -> "≤64 log2 frequency classes",
    "q120_key_skew" -> "≤64 log2 fanout classes",
    "q131_vocab_growth" -> "≤64 doc-count ladder rungs",
    "q149_spearman_corr" ->
      "distinct-value domains of l_quantity/l_discount/l_tax (50/11/9)",
    "q158_mi_lang_source" -> "lang × source contingency cells",
    "q160_novelty_curve" -> "per-day table (time-bounded, not corpus-bounded)",
    "q178_kaplan_meier" -> "per-day churn table (observation-window days)",
    "q180_token_budget" -> "per-source quota table (#sources rows)",
    "q192_knn_hubness" -> "in-degree histogram (distinct degree values)",
    "q193_sax_symbols" -> "per-day event series (time-bounded)",
    "q197_compaction_plan" ->
      "shard manifest (metadata-scale: corpus bytes / shard size rows)",
    "q201_retrieval_agreement" -> "k-row per-query hit lists",
    "q206_cluster_profile" -> "cluster-size histogram (distinct sizes)",
    "q207_cramers_v" -> "categorical contingency cells (lang × source)",
    "q211_rank_biased_overlap" -> "k-row ranked lists per query")

  // UNIVERSAL sweep (round-7 verdict item 5): q172's vocabulary-sized
  // SinglePartition total window survived six rounds because the
  // contract named only six queries — so the contract now walks EVERY
  // registered query's plan. Allowlisted names carry a SinglePartition-
  // fed Window over a PROVABLY BOUNDED table (size independent of
  // corpus scale) — each entry cites the bound.
  //
  // Round-9 extension (closing the q179 laundering hole): an eager
  // localCheckpoint replaces everything above it with an ExistingRDD
  // scan, so the final plan alone cannot prove the INTERNAL plans were
  // window-clean. A QueryExecutionListener now captures every action the
  // operator runs while being constructed (localCheckpoint(true) goes
  // through Dataset.withAction, as do the bounded collect() sites) and
  // each captured physical plan is swept with the same predicate — a
  // checkpoint can no longer hide a SinglePartition window.
  // Second universal contract (round 10): a true CartesianProduct —
  // the non-broadcast both-sides-large fallback — is ALWAYS a plan bug
  // in this engine: every intentional total/scalar pairing rides a
  // one-row BroadcastNestedLoopJoin (the crossJoin-total idiom), never
  // a shuffled cartesian. Planning only, no execution — cheap enough
  // to sweep the whole surface.
  test("every registered query: no CartesianProduct anywhere in the final plan") {
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          if (plan(fn(spark, sf)).contains("CartesianProduct"))
            Seq(name)
          else Seq.empty[String]
        } catch { case e: Throwable =>
          Seq(s"$name: plan construction failed: ${e.getMessage}") }
    }
    assert(offenders.isEmpty,
      s"cartesian fallback in: ${offenders.mkString(", ")}")
  }

  test("every registered query: no SinglePartition exchange feeds any Window " +
      "(final AND checkpoint-internal plans)") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val allow: Map[String, String] = Map(
      // each value documents the bounded table the window ranks
      ) ++ boundedWindowAllowlist
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // the listener bus is async; actions themselves are blocking (eager
    // checkpoints materialize before fn returns), so only notification
    // delivery is in flight — poll until the queue is stable
    def drain(): Unit = {
      var last = -1; var stable = 0; var polls = 0
      while (stable < 2 && polls < 150) {
        val n = captured.size
        if (n == last) stable += 1 else { stable = 0; last = n }
        if (stable < 2) Thread.sleep(20)
        polls += 1
      }
    }
    spark.listenerManager.register(listener)
    var internalPlansSeen = 0L
    val offenders =
      try {
        graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
          case (name, _) if allow.contains(name) => Seq.empty[String]
          case (name, fn) =>
            drain(); captured.clear()
            try {
              val finalBad = windowFedBySinglePartition(fn(spark, sf))
                .map(w => s"$name (final): $w")
              drain()
              internalPlansSeen += captured.size
              val internalBad = captured.asScala.toSeq.flatMap { qe =>
                singlePartitionWindows(qe.executedPlan)
                  .map(w => s"$name (checkpoint-internal): $w")
              }
              finalBad ++ internalBad
            } catch { case e: Throwable =>
              Seq(s"$name: plan construction failed: ${e.getMessage}") }
        }
      } finally spark.listenerManager.unregister(listener)
    assert(offenders.isEmpty,
      s"corpus-rank windows over one task:\n${offenders.mkString("\n")}")
    // non-vacuity for the listener arm: ~80 eager-checkpoint sites exist
    // in ops/, so a sweep that captures no internal plans means the
    // listener hook silently stopped firing (e.g. a Spark upgrade moved
    // localCheckpoint off Dataset.withAction) — fail loudly, don't
    // silently revert to final-plan-only coverage
    assert(internalPlansSeen >= 50,
      s"listener captured only $internalPlansSeen internal plans — " +
        "checkpoint-internal coverage has gone vacuous")
    // non-vacuity: allowlisted names must still be registered queries
    val stale = allow.keySet -- graft.SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlist names not in the registry: $stale")
  }

  // ---- vocabulary-rank family: the round-7 rewrites. q166/q210/q194/
  // q214 keep global top-k via Ranking.topKGlobal — their final plans
  // must carry NO Window at all (the old shape ranked the full type
  // table through one task); q187 genuinely needs full-vocabulary
  // cumulative sums, so it rides prefixCum and its windows must never
  // be fed by a SinglePartition exchange.

  test("q166/q210/q194/q214: global top-k plans carry no Window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plans = Map(
      "q166" -> TextAnalysis.mgHeavyHitters(spark, sf),
      "q210" -> TextAnalysis.zipfFit(spark, sf),
      "q194" -> TextAnalysis.frequentPairs(spark, sf),
      "q214" -> TextAnalysis.queryExpansion(spark, sf))
    val offenders = plans.flatMap { case (name, df) =>
      val p0 = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      p0.collect { case w: WindowExec => s"$name: ${w.simpleStringWithNodeId()}" }
    }
    assert(offenders.isEmpty,
      s"vocabulary-rank windows crept back in:\n${offenders.mkString("\n")}")
  }

  test("q187: coverage ranks ride prefixCum — windows present, none SinglePartition-fed") {
    import spark.implicits._
    val types = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"text".isNotNull)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("token"))
      .filter(org.apache.spark.sql.functions.length($"token") >= 1)
      .groupBy($"token")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("freq"))
    val ranked = TextAnalysis.coverageRanked(types, maxK = 10000,
      eager = false)
    val bad = windowFedBySinglePartition(ranked)
    assert(bad.isEmpty, s"q187 windows over one task:\n${bad.mkString("\n")}")
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p0 = ranked.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val winCount = p0.collect { case w: WindowExec => w }.size
    assert(winCount >= 2, s"expected both prefixCum windows, saw $winCount")
  }

  test("q226: per-source cap windows are salted — no SinglePartition feed, " +
      "and phase 1 partitions on (source, salt)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = PipelinePrep.domainCap(spark, sf)
    val bad = windowFedBySinglePartition(df)
    assert(bad.isEmpty, s"q226 windows over one task:\n${bad.mkString("\n")}")
    val p0 = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val wins = p0.collect { case w: WindowExec => w }
    assert(wins.size == 2, s"expected the two topKPerGroup phases, saw ${wins.size}")
    // phase 1 must rank within (source, salt-bucket) — a single-column
    // partition spec here means the hot-host split silently regressed
    assert(wins.exists(_.partitionSpec.size >= 2),
      "no window partitions on (source, salt); phase-1 salting regressed:\n" +
        wins.map(_.simpleStringWithNodeId()).mkString("\n"))
  }

  test("q148/q228: the corpus shingle scans never re-split the text inside a lambda") {
    // an inline split(text) under an array lambda re-splits the whole
    // document once per element_at per gram; the token array must be a
    // materialized column (or not exist: gram_hashes reads the bytes)
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    def lambdas(df: DataFrame): Seq[LambdaFunction] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case lf: LambdaFunction => lf
      }))
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val identity = Dedup.identityTables(d)._1
    val kmv = TextAnalysis.kmvSketchRows(d, 128, 3)
    // the KMV scan keeps its n-gram lambda, so the guard below has teeth
    assert(lambdas(kmv).nonEmpty, kmv.queryExecution.optimizedPlan.toString)
    for ((name, df) <- Seq("q148 identity scan" -> identity, "q228 KMV scan" -> kmv)) {
      val bad = lambdas(df).filter(_.function.exists(_.isInstanceOf[StringSplit]))
      assert(bad.isEmpty, s"$name re-splits the text per lambda call:\n" +
        df.queryExecution.optimizedPlan)
    }
  }
}
