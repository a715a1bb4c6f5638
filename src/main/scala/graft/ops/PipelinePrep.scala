package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorOps

/** Training-data preparation operators (north-star surface): the steps a
  * large-scale LLM pipeline runs AFTER dedup/quality scoring — chunking
  * documents into training samples, per-stratum sampling, text cleaning,
  * per-language n-gram profiling, and embedding-space diagnostics.
  *
  * Scale shapes: chunking/cleaning are single narrow scans (no shuffle);
  * sampling is a scan + filter on a deterministic hash (no RNG, so retries
  * and re-runs are stable — rand() would break exactly-once semantics);
  * profiles and centroid stats aggregate to tiny keyed outputs (langs ×
  * bigrams, labels × dims) with map-side partial aggregation, so the
  * shuffle is constant-size regardless of corpus size.
  */
object PipelinePrep {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  private def toks: Column = split(col("text"), " ")

  /** The canonical cleaning expression (digit-run masking + whitespace
    * collapse) — ONE definition shared by textCleaning (q48),
    * trainingMix (q56) and the streaming DocStreams.prepDocs, so the
    * batch and streaming pipelines cannot drift apart (and the DuckDB
    * oracles mirror exactly this shape).
    */
  private[graft] def cleanTextCol(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "[0-9]+", "#"), " +", " "))

  /** Fixed-size token chunking: each document becomes ceil(n/chunkSize)
    * training samples of up to `chunkSize` tokens. One narrow scan, rows
    * explode 1→(n/chunkSize) — no shuffle, so at 100 TB this is purely
    * map-side and the output partitioning follows the input files.
    */
  def docChunks(spark: SparkSession, dir: String, chunkSize: Int = 32): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", $"t", size($"t").cast("long").as("n"))
      // guard like shinglesOf: a 0-token doc yields no chunks, not a
      // descending-sequence error
      .select($"doc_id", $"t", $"n",
        explode(when($"n" >= 1,
            sequence(lit(0L), floor(($"n" - 1) / chunkSize)))
          .otherwise(array().cast("array<bigint>"))).as("chunk_idx"))
      .select($"doc_id", $"chunk_idx",
        concat_ws(" ", slice($"t", ($"chunk_idx" * chunkSize + 1).cast("int"),
          lit(chunkSize))).as("chunk_text"),
        least(lit(chunkSize.toLong), $"n" - $"chunk_idx" * chunkSize)
          .as("n_chunk_tokens"))
  }

  /** Top-k documents per language by lexical diversity (type-token
    * ratio) — the "keep the best slice of each stratum" selection step.
    * Ranks via [[Ranking.topKPerGroup]]: a plain lang-partitioned window
    * would funnel a fifth of a 100-TB corpus through each of 5 tasks;
    * the salted two-phase ranking bounds every task at corpus/(5·32)
    * and re-ranks only the ≤32·k survivors per language. Ties broken by
    * doc_id (total order), so the output is the single-window result
    * exactly.
    */
  def qualityTopKPerLang(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val scored = docs(spark, dir)
      .select($"doc_id", $"lang", toks.as("t"))
      .select($"doc_id", $"lang",
        round(size(array_distinct($"t")).cast("double") / size($"t"), 6)
          .as("type_token_ratio"))
    Ranking.topKPerGroup(scored, Seq("lang"),
      Seq($"type_token_ratio".desc, $"doc_id"), $"doc_id", k)
  }

  /** Deterministic ~10% stratified sample: keep a doc iff the first two
    * hex chars of md5(doc_id) fall in [00, 19] (26/256 ≈ 10.2%). Hash
    * sampling (vs rand()) is reproducible across retries, executors and
    * engines — the property a training-data pipeline needs for exactly-
    * once sample manifests. Scan + filter; no shuffle.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", $"lang",
        substring(md5($"doc_id".cast("string")), 1, 2).as("bucket"))
      .filter($"bucket" <= "19")
  }

  /** Text cleaning: digit-run masking + whitespace collapapse — the
    * scrub-normalize step before tokenization. Single codegen'd scan;
    * emits the cleaned text plus the change counters quality dashboards
    * aggregate.
    */
  def textCleaning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id",
        cleanTextCol($"text").as("clean_text"),
        size(regexp_extract_all($"text", lit("[0-9]+"), lit(0)))
          .cast("long").as("n_digit_runs"),
        length($"text").cast("long").as("n_chars_raw"))
      .withColumn("n_chars_clean", length($"clean_text").cast("long"))
  }

  /** Per-language character-bigram profile (top `k` bigrams): the
    * classic n-gram language-ID model's training step. The codegen'd
    * `bigram_counts` expression folds each document into ONE map row of
    * per-doc counts, so the generator emits distinct-bigrams-per-doc
    * rows (≈ hundreds) instead of one row per character of the corpus
    * (~50-100× fewer rows — the earlier explode(zip_with) plan spent
    * 24% of the whole bench here). The (lang, bigram) aggregation keeps
    * map-side partial aggregation; the shuffle is bounded by the
    * alphabet, not the corpus.
    */
  def charBigramProfile(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    val grams = docs(spark, dir)
      .select($"lang",
        explode(call_function("bigram_counts", $"text")).as(Seq("bigram", "cnt")))
    val counts = grams.groupBy($"lang", $"bigram").agg(sum($"cnt").as("n"))
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"bigram")
    counts.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= k)
  }

  /** The end-to-end training-data manifest — the production composition
    * of the whole prep surface in ONE distributed DAG: clean (q48's
    * normalization) → exact-dedup on the cleaned content hash (keeper =
    * min doc_id) → quality gate (length + lexical diversity) →
    * deterministic hash sample (~50%) → fixed-size chunk accounting →
    * per-(lang, source) manifest rollup. The shapes compose exactly as
    * documented on the individual operators: one narrow scan feeds a
    * single content-hash shuffle (dedup), everything after is map-side
    * until the final tiny (lang, source) aggregate. Chunk counts use
    * integer math ((n + size − 1) div size), not doubles, so the oracle
    * comparison is exact.
    */
  /** Deterministic shard manifest — the "prepare training shards" step:
    * every document lands in one of `nShards` shards by an md5 coin on
    * its id (retry-stable, no RNG), and each shard reports counts,
    * token/char totals, the id range, and an ORDER-INDEPENDENT content
    * digest PAIR (bit_xor of a per-doc 60-bit md5 prefix, plus the
    * AdHash sum of the same hashes — see [[adhashP]]). Order
    * independence is the point: distributed writers cannot cheaply
    * guarantee row order, and the reference's order-dependent digest
    * fold needs a total sort to be reproducible — XOR and modular SUM
    * both commute, so two runs that shard identically verify
    * byte-identical content with no sort at all (a corrupted/missing
    * doc flips both digests with probability ~1 − 2⁻⁶⁰, and a
    * duplicated PAIR — invisible to XOR — still flips the sum).
    *
    * Scale: one narrow scan into an nShards-sized aggregate with
    * map-side combine — flat in corpus size, the q13 absorption shape.
    */
  def shardManifest(spark: SparkSession, dir: String, nShards: Int = 16): DataFrame =
    manifestAgg(withShardCols(docs(spark, dir), nShards))

  /** Snapshot delta between two corpus revisions — the incremental-
    * ingest primitive: which docs a new crawl ADDED, REMOVED, or
    * CHANGED relative to the previous snapshot. Both sides are reduced
    * to (doc_id, md5) BEFORE the full-outer join, so the id-keyed
    * sort-merge shuffles 16-byte digests, never document bodies — at
    * 100 TB the join input is ~0.1% of the corpus size. Unchanged docs
    * (the overwhelming majority of a re-crawl) are dropped.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    import oldDf.sparkSession.implicits._
    val o = oldDf.select($"doc_id".as("old_id"), md5($"text").as("old_digest"))
    val n = newDf.select($"doc_id".as("new_id"), md5($"text").as("new_digest"))
    o.join(n, $"old_id" === $"new_id", "full_outer")
      .select(
        coalesce($"old_id", $"new_id").as("doc_id"),
        when($"old_id".isNull, "added")
          .when($"new_id".isNull, "removed")
          // null-SAFE compare: a doc whose text transitions between
          // null and non-null IS a change; plain =!= yields NULL there
          // and would silently drop the row as "unchanged"
          .when(!($"old_digest" <=> $"new_digest"), "changed")
          .otherwise("unchanged").as("status"))
      .filter($"status" =!= "unchanged")
  }

  /** The q104 query wrapper: both snapshots derived deterministically
    * from the one documents table (old = drop every 7th doc, age every
    * 5th's content; new = drop every 11th) so the oracle can replay the
    * derivation — the operator under test is [[snapshotDiff]] itself.
    */
  def snapshotDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val old = d.filter($"doc_id" % 7 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 5 === 0, concat($"text", lit(" legacy rev")))
          .otherwise($"text").as("text"))
    val nw = d.filter($"doc_id" % 11 =!= 0).select($"doc_id", $"text")
    snapshotDiff(old, nw)
  }

  /** Blocklist scrub: drop exact blocklisted tokens from every doc and
    * report how many were removed plus a digest of the scrubbed text —
    * the targeted-removal pass (toxic terms, markup debris, stop-phrases)
    * that runs after cleaning and before tokenization. Pure row-local
    * array filter in the scan stage: no shuffle, no UDF, and the
    * blocklist is a literal folded into codegen (a production-sized
    * blocklist would broadcast-join on the token instead).
    */
  def blocklistScrub(spark: SparkSession, dir: String,
      blocklist: Seq[String] = Seq("customer", "order", "slow")): DataFrame = {
    import spark.implicits._
    val bl = array(blocklist.map(lit): _*)
    docs(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", $"t",
        filter($"t", x => !array_contains(bl, x)).as("kept"))
      .select($"doc_id",
        (size($"t") - size($"kept")).cast("long").as("n_removed"),
        md5(concat_ws(" ", $"kept")).as("clean_digest"))
  }

  /** The per-doc manifest projection and the shard aggregate, split out
    * so the batch query (q94) and the streaming accounting stage
    * (`DocStreams.manifestStream`) share one definition — XOR commutes
    * and every other aggregate here is mergeable, which is exactly why
    * the incremental per-micro-batch state converges to the batch
    * answer. Input needs the document contract's (doc_id, text).
    */
  private[graft] def withShardCols(df: DataFrame, nShards: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select(
      (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10).cast("long")
        % nShards).as("shard_id"),
      $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"),
      length($"text").cast("long").as("n_chars"),
      conv(substring(md5($"text"), 1, 15), 16, 10).cast("long").as("h"))
  }

  /** AdHash modulus: the Mersenne prime 2⁶¹−1. The SUM digest closes
    * the one documented corner of the XOR digest — any EVEN number of
    * byte-identical docs XORs to nothing, so a duplicated-pair
    * insertion (the commonest real corruption in a re-crawl merge) is
    * digest-invisible — by folding the same per-doc 60-bit hashes with
    * addition mod p instead (Bellare–Micciancio incremental multiset
    * hashing, the public AdHash construction): duplicates ADD, never
    * cancel. Chosen over a BLAKE3/xxh128 re-digest because it keeps
    * the property the manifest exists for — mergeability across any
    * partitioning — and both engines evaluate it in exact integer
    * arithmetic (Spark sums into DECIMAL(38,0), DuckDB into HUGEINT;
    * 2⁶⁰-bounded terms keep either exact past 10¹⁹ docs). Both digests
    * are emitted: XOR for bitwise-merge compatibility, SUM for
    * cancellation resistance.
    */
  private[graft] val adhashP = 2305843009213693951L

  private[graft] def manifestAgg(sharded: DataFrame): DataFrame = {
    import sharded.sparkSession.implicits._
    sharded
      .groupBy($"shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum($"n_chars").as("total_chars"),
        bit_xor($"h").as("content_digest"),
        (sum($"h".cast("decimal(38,0)")) % lit(adhashP)).cast("long")
          .as("content_digest_sum"),
        min($"doc_id").as("min_doc_id"),
        max($"doc_id").as("max_doc_id"))
  }

  /** The per-source corpus-health REPORT — the q85 composite pattern at
    * source level: reputation signals (q75), distribution drift vs the
    * corpus mixture (q87) and near-dup pair counts split self/cross
    * (q90 rolled to one row per source), joined on the source key. One
    * table answers "which feeds should we keep, down-weight, or
    * investigate" — each signal keeps its own documented scale shape
    * and the report adds only sources-sized joins. The oracle composes
    * the three signal oracles verbatim, so the report cannot drift from
    * the operators it summarizes.
    */
  def sourceHealthReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rep = sourceReputation(spark, dir)
    val div = TextAnalysis.sourceDivergence(spark, dir)
    val x = Dedup.crossSourceDups(spark, dir)
    // self pairs count once for their source; cross pairs once for EACH
    // endpoint. One conditional explode, not a union of two reads of x —
    // a second consumer would re-run the whole MinHash candidate
    // pipeline (measured: 5.8 s → 4.0 s for the report at sf0.1).
    // Checkpointed so the candidate DAG never re-runs per action; the
    // final compose stays a LIVE join of three sources-sized
    // checkpointed tables — trivially cheap per action, and every
    // retained RDD backs the returned frame (nothing unreachable)
    val pairRollup = x.select(explode(
        when($"source_a" === $"source_b",
          array(struct($"source_a".as("source"),
            $"n_pairs".as("sp"), lit(0L).as("cp"))))
        .otherwise(array(
          struct($"source_a".as("source"), lit(0L).as("sp"), $"n_pairs".as("cp")),
          struct($"source_b".as("source"), lit(0L).as("sp"), $"n_pairs".as("cp")))))
        .as("e"))
      .select($"e.source".as("source"), $"e.sp".as("sp"), $"e.cp".as("cp"))
      .groupBy($"source")
      .agg(sum($"sp").as("n_self_dup_pairs"), sum($"cp").as("n_cross_dup_pairs"))
      .localCheckpoint(true)
    rep
      .join(div.select($"source", $"n_tokens", $"n_types", $"kl_divergence"),
        Seq("source"), "left")
      .join(pairRollup, Seq("source"), "left")
      .select($"source", $"n_docs", $"mean_ttr", $"dup_rate", $"keep",
        $"n_tokens", $"n_types", $"kl_divergence",
        coalesce($"n_self_dup_pairs", lit(0L)).as("n_self_dup_pairs"),
        coalesce($"n_cross_dup_pairs", lit(0L)).as("n_cross_dup_pairs"))
  }

  def trainingMix(spark: SparkSession, dir: String, chunkSize: Int = 64): DataFrame = {
    import spark.implicits._
    val cleaned = docs(spark, dir)
      .select($"doc_id", $"lang", $"source", cleanTextCol($"text").as("clean_text"))
    // keeper = min doc_id per cleaned-content hash; min over a struct
    // ordered by the unique doc_id is deterministic and gets map-side
    // partial aggregation (same shape as q13)
    val keepers = cleaned
      .groupBy(sha2($"clean_text", 256).as("content_hash"))
      .agg(min(struct($"doc_id", $"lang", $"source", $"clean_text")).as("r"))
      .select($"r.doc_id".as("doc_id"), $"r.lang".as("lang"),
        $"r.source".as("source"), $"r.clean_text".as("clean_text"))
    val scored = keepers
      .select($"doc_id", $"lang", $"source", split($"clean_text", " ").as("t"))
      .select($"doc_id", $"lang", $"source",
        size($"t").cast("long").as("n_tokens"),
        (size(array_distinct($"t")).cast("double") / size($"t")).as("ttr"))
    val selected = scored
      .filter($"n_tokens" >= 30 && $"ttr" >= 0.45)
      .filter(substring(md5($"doc_id".cast("string")), 1, 2) <= "7f")
    selected
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum(expr(s"(n_tokens + ${chunkSize - 1}) div $chunkSize")).as("total_chunks"))
  }

  /** Embedding-space diagnostics: per-label centroid norm and mean
    * cosine-to-centroid (cluster tightness). The centroid is the only
    * part that needs a shuffle — (label, dim) keyed partial aggregation,
    * output bounded by labels×dims regardless of corpus size. The
    * centroid matrix is then collapsed to one array row per label and
    * broadcast back, so the per-vector cosine is a single scan with the
    * codegen'd vec_dot/vec_norm expressions (graft.functions.VectorOps)
    * — no N×dims re-explosion, no driver-side vector math.
    */
  def labelCentroidStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cent = e
      .select($"label", posexplode($"embedding").as(Seq("i", "xf")))
      .groupBy($"label", $"i").agg(avg($"xf".cast("double")).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"i", $"c"))),
        s => s("c")).as("centroid"))
      .withColumn("nc", VectorOps.vecNorm(spark, $"centroid"))
    e.join(broadcast(cent), Seq("label"))
      .select($"label",
        VectorOps.vecDot(spark, $"embedding", $"centroid").as("d"),
        VectorOps.vecNorm(spark, $"embedding").as("nv"),
        $"nc")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        round(max($"nc"), 4).as("centroid_norm"),
        round(avg($"d" / ($"nv" * $"nc")), 4).as("avg_cosine"))
  }

  /** Concat-and-chunk sequence packing: docs are concatenated in doc_id
    * order within a packing stream — (lang, source) here — and the token
    * stream is cut into fixed `chunkTokens` context windows, exactly the
    * GPT-style pretraining layout. Emits, per doc, the chunk its first
    * token lands in and the offset inside that chunk (a doc may straddle
    * a boundary; chunk_id is where it STARTS).
    *
    * One running-sum window per stream. Streams are the unit of
    * parallelism, which is how packing works at 100 TB too: you never
    * pack one global sequence — you pack per shard, and the window
    * partitions on the shard key. With heavier per-stream volume, shard
    * finer (e.g. (lang, source, day)); the running sum stays exact
    * within each stream and no cross-stream coordination exists to
    * bottleneck on.
    */
  def sequencePacking(spark: SparkSession, dir: String,
      chunkTokens: Int = 256): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", $"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs(spark, dir)
      .select($"doc_id", $"lang", $"source",
        size(toks).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      // start offset of this doc in the stream = cum - n; integer div /
      // mod give the window index and in-window offset exactly
      .select($"doc_id", $"lang", $"source", $"n_tokens", $"cum_tokens",
        floor(($"cum_tokens" - $"n_tokens") / lit(chunkTokens)).cast("long").as("chunk_id"),
        (($"cum_tokens" - $"n_tokens") % lit(chunkTokens)).as("chunk_off"))
  }

  /** Balanced per-stratum selection: exactly `k` docs per language,
    * chosen in md5-coin order — the "balanced eval split" builder
    * (equal-size per-language slices regardless of how skewed the
    * corpus mix is), deterministic across engines, retries and
    * partitionings. Ranks via [[Ranking.topKPerGroup]]: a plain
    * lang-partitioned window would funnel each language's full corpus
    * slice through one task; the salted two-phase ranking bounds every
    * task and re-ranks only the ≤32·k survivors per language.
    */
  def balancedSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
      .select($"doc_id", $"lang", md5($"doc_id".cast("string")).as("coin"))
    Ranking.topKPerGroup(d, Seq("lang"), Seq($"coin", $"doc_id"), $"doc_id", k)
  }

  /** Source-reputation filter — the domain-level gate of web-scale
    * pipelines (C4 blocklists, RefinedWeb URL scoring): aggregate per-
    * document signals to their source, score each source, and decide
    * keep/drop at SOURCE granularity so one decision covers millions of
    * documents. Signals: mean lexical diversity (type-token ratio) and
    * the exact-duplicate rate (share of docs whose full text appears
    * more than once corpus-wide). The keep rule is data-adaptive —
    * sources at or above the mean of source means, with ≤50% dups.
    *
    * Scale: per-doc signals are one narrow scan; the dup flag is the
    * q13 content-hash aggregate joined back on the hash (uniform 256-bit
    * keys — no skew); the source rollup gets map-side combine and its
    * output is sources-sized, not corpus-sized. The threshold is a
    * one-row broadcast scalar. Nothing here grows faster than the
    * source dimension.
    */
  private val sourceRepCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Long), DataFrame]

  def sourceReputation(spark: SparkSession, dir: String): DataFrame =
    // memoized (round-13 optimization): q75 is also recomputed wholesale
    // inside q100's health report — the sources-sized checkpointed frame
    // is served once per (session, corpus fingerprint)
    Memo.cached(sourceRepCache,
        (spark, dir, Memo.fingerprint(spark, s"$dir/documents.parquet")),
        label = "sourceReputation") {
      sourceReputationUncached(spark, dir)
    }

  private def sourceReputationUncached(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    // persisted: perDoc feeds both the copy-count aggregate and the
    // join back — without the cache Catalyst re-expands it into a
    // second full scan + sha256 pass over the corpus (the q77 shape);
    // the sources-sized result is checkpointed and the cache released
    val perDoc = docs(spark, dir)
      .select($"doc_id", $"source", sha2($"text", 256).as("ch"), toks.as("t"))
      .select($"doc_id", $"source", $"ch",
        when(size($"t") > 0,
          size(array_distinct($"t")).cast("double") / size($"t"))
          .as("ttr"))
    Memo.withPersisted(perDoc) {
      val copies = perDoc.groupBy($"ch").agg(count(lit(1)).as("n_copies"))
      val bySource = perDoc.join(copies, Seq("ch"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg($"ttr"), 6).as("mean_ttr"),
          round(avg(($"n_copies" > 1).cast("double")), 6).as("dup_rate"))
      // threshold as an unpartitioned window over the SOURCES-sized
      // rollup — a scalar-subquery crossJoin would re-expand the whole
      // per-doc pipeline into yet another corpus pass (verified in the
      // plan); the window funnels only the tiny aggregate through one
      // task
      bySource
        .withColumn("thr", round(avg($"mean_ttr").over(
          org.apache.spark.sql.expressions.Window.partitionBy()), 6))
        .select($"source", $"n_docs", $"mean_ttr", $"dup_rate",
          ($"mean_ttr" >= $"thr" && $"dup_rate" <= 0.5).as("keep"))
        .localCheckpoint(true)
    }
  }

  /** Temperature-scaled source mixing (alpha = 0.5): resample so source
    * s keeps ~n_s^alpha documents instead of n_s — the standard
    * multilingual/multi-domain rebalancing step (up-weight the tail,
    * down-weight the head). Normalized against the LARGEST source
    * (p_s = f0·sqrt(n_max/n_s), capped at 1), deliberately not against
    * sum(w_s): max of integers is exact and order-independent, so the
    * whole rate computation is bit-deterministic across engines and
    * partitionings, where a floating sum over sources would depend on
    * merge order. The per-doc coin is the md5 hash-sampling trick
    * ([[stratifiedSample]]) at 24-bit granularity: keep iff the first 6
    * hex chars, as an integer, fall below floor(p_s·2²⁴) — compared in
    * zero-padded hex-string space, which orders identically to the
    * integers and needs no hex-to-int conversion on either engine.
    *
    * Scale: one source-sized count aggregate (map-side combine), a
    * one-row max, and a rate join back on `source`. The rate table
    * grows with the source dimension (web domains are unbounded), so it
    * is NOT force-broadcast — AQE broadcasts it while it measures
    * small. The coin is a pure projection; retries and re-runs keep the
    * identical sample.
    */
  def temperatureMix(spark: SparkSession, dir: String,
      f0: Double = 0.25): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id", $"source")
    val counts = d.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    // n_max via an unpartitioned window over the sources-sized count
    // table (same reasoning as sourceReputation's threshold: a scalar
    // crossJoin would recompute the count aggregate from the corpus)
    val rates = counts
      .withColumn("n_max", max($"n_docs").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select($"source", $"n_docs",
        least(lit(1.0),
          lit(f0) * sqrt($"n_max".cast("double") / $"n_docs")).as("p"))
      .select($"source", $"n_docs", round($"p", 6).as("p_keep"),
        // 7-hex-digit zero-padded threshold: p = 1 yields 0x1000000,
        // which must compare above every 24-bit coin
        format_string("%07x", floor($"p" * lit(16777216.0)).cast("long"))
          .as("thr_hex"))
    d.join(rates, Seq("source"))
      .select($"doc_id", $"source", $"n_docs", $"p_keep",
        (concat(lit("0"), substring(md5($"doc_id".cast("string")), 1, 6))
          < $"thr_hex").as("keep"))
  }

  /** Deterministic global training order + shard assignment: every doc
    * gets a contiguous position 0..n-1 in a seeded-hash permutation and
    * a round-robin shard (pos % nShards). Training runs need a
    * reproducible epoch shuffle — rand() would give each retry a
    * different order — and contiguous positions, so readers can seek to
    * "sample 3.2B" without scanning.
    *
    * Scale: the naive row_number() OVER (ORDER BY key) coalesces the
    * whole corpus into ONE partition for the window — a driver-sized
    * bottleneck at 100 TB. Here the sort is a distributed range sort
    * (sampled range boundaries, each partition sorts locally) and the
    * contiguous index comes from `zipWithIndex`, which runs one extra
    * lightweight count-per-partition job and then offsets each
    * partition's local indices — the standard two-phase global
    * numbering. This is the one deliberate RDD drop-down in the repo:
    * per-partition offset arithmetic is imperative by nature, and no
    * Dataset operator exposes it.
    */
  def trainingOrder(spark: SparkSession, dir: String,
      nShards: Int = 8): DataFrame = {
    import spark.implicits._
    val keyed = docs(spark, dir)
      .select($"doc_id",
        // seeded permutation key both engines can recompute
        md5(concat(lit("seed42:"), $"doc_id".cast("string")))
          .as("shuffle_key"))
      // doc_id tiebreak makes the order total even under key collisions
      .orderBy($"shuffle_key", $"doc_id")
      .as[(Long, String)]
    keyed.rdd.zipWithIndex()
      .map { case ((id, key), pos) => (id, key, pos, pos % nShards) }
      .toDF("doc_id", "shuffle_key", "pos", "shard")
  }

  /** Data-contract audit (q146): the schema-level assertions a corpus
    * intake gate runs as DATA, not as exceptions — per source: row
    * count, id uniqueness, null-payload count, and the declared-vs-
    * actual length mismatch count (n_chars must equal length(text)).
    * Violations become queryable numbers a dashboard can trend instead
    * of a job that dies on the first bad row. One scan, one aggregate
    * over source-many keys; the distinct-id check is the only extra
    * shuffle and it carries (source, id) pairs, nothing wider.
    */
  def contractAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"doc_id").as("n_ids"),
        sum(when($"text".isNull, 1L).otherwise(0L)).as("n_null_text"),
        sum(when($"text".isNotNull &&
          length($"text").cast("long") =!= $"n_chars", 1L).otherwise(0L))
          .as("n_len_mismatch"))
      .withColumn("id_unique", $"n_ids" === $"n_rows")
  }

  /** Cross-source rank normalization (q144): each document's length
    * score mapped to its percent_rank WITHIN its source, then bucketed
    * into global deciles — the calibration step before mixing sources
    * whose raw score scales disagree (one source's "long" is another's
    * median). The per-source rank is `Ranking.prefixCum` (bucket-split
    * by n_chars), not a source-partitioned window: a plain
    * `percent_rank over partitionBy(source)` sends EVERY row of a
    * source to one task, so one 90%-of-corpus feed becomes a one-task
    * sort — here a hot source spreads across the rank buckets instead.
    * (n_chars, doc_id) is a total order, so rank == row_number and
    * percent_rank = cum_before/(n−1) exactly; output is
    * (source × 10)-bounded.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = docs(spark, dir).select($"source", $"doc_id", $"n_chars")
    val srcN = rows.groupBy($"source").agg(count(lit(1)).as("n_src"))
    graft.ops.Ranking
      .prefixCum(rows, Seq("source"), $"n_chars",
        Seq($"n_chars", $"doc_id"), lit(1L))
      .join(broadcast(srcN), Seq("source"))
      .withColumn("pct",
        when($"n_src" > 1, $"cum_before" / ($"n_src" - 1).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("decile", least(lit(9L), floor($"pct" * 10)))
      .groupBy($"source", $"decile")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 4).as("avg_chars"))
  }

  /** Deterministic train/val/test split assignment (q128): bucket =
    * md5(doc_id) nibbles mod 100 → 80/10/10. Hash-based (not random, not
    * modulo-on-id): membership is a pure function of the id, so re-runs,
    * backfills and late-arriving shards land every document in the SAME
    * split — the property that prevents silent train/test leakage when
    * the corpus is rebuilt. Summary is per (source, split) with the
    * observed bucket range as an audit column; the assignment itself is
    * a scan-stage projection (no shuffle, no sort, no RNG state).
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"source", $"n_chars",
        (expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint)")
          % 100).as("bucket"))
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 4).as("avg_chars"),
        min($"bucket").as("lo_bucket"), max($"bucket").as("hi_bucket"))
  }

  /** Size-weighted systematic sampling per source (q154): k picks per
    * source, each doc drawn with multiplicity proportional to its
    * character weight — the deterministic "sample tokens, not documents"
    * primitive for assembling a training mix where a 10× longer doc
    * should be 10× as likely per pick. A doc is picked n times where n =
    * ⌊cum·k/W⌋ − ⌊(cum−w)·k/W⌋ (cum = running weight in doc_id order, W
    * = source total): the classic systematic estimator, EXACT-integer on
    * both engines — no pow/ln keys whose libm ulps could flip a
    * boundary pick (the Efraimidis–Spirakis trap for cross-engine
    * determinism). Per-source picks sum to k by telescoping, which the
    * spec asserts. One source-partitioned window over the doc-weight
    * table; no corpus-sized sort, no driver state. The packed products
    * stay under 2^63 for any per-source corpus below ~9·10^18/k chars;
    * beyond that, widen to DECIMAL or sample within sub-shards.
    */
  def weightedSystematicSample(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy($"source")
    docs(spark, dir)
      .select($"source", $"doc_id",
        coalesce(length($"text").cast("long"), lit(0L)).as("wt"))
      .withColumn("cum", sum($"wt").over(w))
      .withColumn("total", sum($"wt").over(whole))
      // degenerate all-empty source: total weight 0 picks nothing (the
      // guard never fires on a corpus with any non-empty text, so the
      // oracle keeps the unguarded formula)
      .withColumn("n_picks",
        expr(s"if(total > 0, (cum * $k) div total" +
          s" - ((cum - wt) * $k) div total, 0L)"))
      .filter($"n_picks" > 0)
      .select($"source", $"doc_id", $"wt", $"cum", $"n_picks")
  }

  /** Token-weighted length quartiles per source (q159): the weighted
    * median (and p25/p75) of document length where each doc counts with
    * its TOKEN weight — "the median token lives in a doc of this many
    * chars", the statistic that tells a packing/truncation policy what a
    * typical training token actually sees (a doc-median is dominated by
    * the many short docs that contribute few tokens). Lower weighted
    * quartile: smallest v with m·cumw(v) ≥ q·W — all-integer
    * comparisons, so both engines pick identical docs (no FP rank
    * interpolation). One source-partitioned window in (v, doc_id) order;
    * the quartile extraction is a conditional min in the SAME
    * source-keyed aggregate, so the op is one Exchange end-to-end.
    */
  def weightedMedianLength(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byLen = Window.partitionBy($"source").orderBy($"v", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .select($"source", $"doc_id",
        length($"text").cast("long").as("v"),
        size(toks).cast("long").as("wt"))
      .withColumn("cum", sum($"wt").over(byLen))
      .withColumn("total", sum($"wt").over(Window.partitionBy($"source")))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        max($"total").as("n_tokens"),
        min(when($"cum" * 4 >= $"total", $"v")).as("w_p25"),
        min(when($"cum" * 2 >= $"total", $"v")).as("w_median"),
        min(when($"cum" * 4 >= $"total" * 3, $"v")).as("w_p75"))
  }

  /** One-row dataset card (q164): the datasheet summary a corpus release
    * ships with — volume (docs/tokens/chars), diversity (sources,
    * langs, modal language), exact-duplicate rate from content hashes,
    * and the median document length. Composes the engine's cheap
    * aggregates into one DataFrame so the card can never drift from the
    * signals it summarizes.
    *
    * Scale: the distinct counts are SPLIT out of the main aggregate
    * (the q29 lesson — three countDistincts in one agg compile to an
    * Expand that multiplies every wide row, measured 7.9 s at the 10×
    * ScaleBench vs ~2 s split): the plain moments run over one scan
    * with no Expand, the sha256 uniqueness count is its own q13-shaped
    * aggregate, the source/lang distincts expand only two narrow
    * columns, and the single-row sides meet by broadcast. The exact
    * interpolated median is the one per-key sorted buffer — at 100 TB
    * swap in percentile_approx (q58) and keep the card's schema.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val base = d
      .select(size(toks).cast("long").as("n_toks"),
        length($"text").cast("long").as("n_chars"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        sum($"n_chars").as("total_chars"),
        round(avg($"n_toks"), 4).as("avg_tokens"),
        expr("percentile(n_chars, 0.5)").as("p50_chars"))
    val dims = d.select($"lang", $"source")
      .agg(countDistinct($"source").as("n_sources"),
        countDistinct($"lang").as("n_langs"))
    val uniq = d.select(sha2($"text", 256).as("h"))
      .agg(countDistinct($"h").as("n_unique_texts"))
    val topLang = d.groupBy($"lang").agg(count(lit(1)).as("top_lang_docs"))
      .withColumn("rk", row_number().over(
        Window.orderBy($"top_lang_docs".desc, $"lang")))
      .filter($"rk" === 1)
      .select($"lang".as("top_lang"), $"top_lang_docs")
    base.crossJoin(broadcast(dims)).crossJoin(broadcast(uniq))
      .crossJoin(broadcast(topLang))
      .withColumn("dup_rate",
        round(lit(1.0) - $"n_unique_texts".cast("double") / $"n_docs", 6))
  }

  /** Token-budget apportionment (q180): split a global training-token
    * budget across sources proportionally to their corpus share, with
    * the largest-remainder (Hamilton) method — floor every quota, then
    * hand the leftover tokens to the largest fractional remainders —
    * so the allocations are INTEGERS that sum exactly to the budget
    * (naive per-source rounding over- or under-shoots, and at trillions
    * of tokens "approximately the budget" is a real money difference).
    * Entirely integer arithmetic: quota floor = (budget·n_s) div N,
    * remainder = (budget·n_s) mod N, ties on source name.
    *
    * Scale: one corpus scan (map-side combined token sum per source);
    * everything after runs on the sources-sized table where the global
    * windows are O(sources). budget·n_s stays within i64 for any budget
    * × share product under ~9e18 — beyond that, swap in decimal(38,0)
    * and keep the identical div/mod shape.
    */
  /** Temperature-ladder effective sample size (q205): for each
    * temperature T, source-sampling weights ∝ share^T (the multilingual
    * /multi-source mixing rule), reported as the effective number of
    * sources 1/Σq² and the largest single-source share — the two
    * numbers that decide a mixing temperature: T=1 keeps the corpus's
    * head-heavy mix, T→0 flattens it, and ESS says where the knee is
    * for THIS corpus. Weights are rounded to 6 before normalization so
    * both engines square identical values; squared shares are summed
    * in exact micro-units of 1e-12.
    *
    * Scale: one corpus aggregate to source counts; the ladder math is
    * sources × |T| arithmetic.
    */
  def temperatureEss(spark: SparkSession, dir: String,
      ladder: Seq[Double] = Seq(0.3, 0.5, 0.7, 1.0)): DataFrame = {
    import spark.implicits._
    val tot = Window.partitionBy(lit(1))
    val perT = Window.partitionBy($"t")
    val counts = docs(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum($"n_docs").over(tot))
      .localCheckpoint(true)
    val ts = ladder.toDF("t")
    counts.crossJoin(broadcast(ts))
      .withColumn("w",
        round(pow($"n_docs" / $"total".cast("double"), $"t"), 6))
      .withColumn("q", round($"w" / sum($"w").over(perT), 6))
      .groupBy($"t".as("temperature"))
      .agg(count(lit(1)).as("n_sources"),
        sum(round(pow($"q", 2) * 1e12).cast("long")).as("ssq_micro"),
        round(max($"q"), 6).as("max_share"))
      .select($"temperature", $"n_sources", $"max_share",
        round(lit(1e12) / $"ssq_micro", 4).as("effective_sources"))
  }

  /** Consistent-hash-ring negative sampling (q199): for every anchor
    * document, `k` deterministic "random" negatives — the next k
    * documents around an md5-ordered ring — the contrastive-training
    * primitive that needs negatives UNCORRELATED with content (the hash
    * order guarantees it) yet exactly reproducible across runs and
    * engines (no RNG state to ship). Self-pairs from small-corpus
    * wrap-around are excluded.
    *
    * Scale: one global rank over (md5, doc_id) via `Ranking.prefixCum`
    * (skew-free two-level prefix — the rank key is a 56-bit numeric
    * prefix of the md5, monotone in the hex string since fixed-length
    * lowercase hex orders identically as text and as a number; no
    * SinglePartition window over the corpus), the ring size by
    * broadcast, then ONE equi-join on the cyclic successor rank, k rows
    * per anchor. No RNG, no per-anchor sampling pass.
    */
  def negativeSampling(spark: SparkSession, dir: String,
      k: Int = 4): DataFrame = {
    import spark.implicits._
    val hashed = docs(spark, dir)
      .select($"doc_id", md5($"doc_id".cast("string")).as("h"))
    val nn = broadcast(hashed.agg(count(lit(1)).as("n")))
    val ring = graft.ops.Ranking
      .prefixCum(hashed,
        Nil,
        expr("cast(conv(substring(h, 1, 14), 16, 10) as bigint)"),
        Seq($"h", $"doc_id"), lit(1L))
      .withColumn("rn", ($"cum_before" + 1).cast("long"))
      .drop("cum_before")
      .crossJoin(nn)
      .localCheckpoint(true)
    val offsets = (1 to k).map(_.toLong).toDF("neg_rank")
    ring.as("a").crossJoin(broadcast(offsets))
      .withColumn("rn2", expr("(rn + neg_rank - 1) % n + 1"))
      .join(ring.as("b").select($"rn".as("rn2"), $"doc_id".as("negative")),
        Seq("rn2"))
      .filter(col("a.doc_id") =!= $"negative")
      .select(col("a.doc_id").as("anchor"), $"neg_rank", $"negative")
  }

  /** Weighted sample without replacement via the Efraimidis–Spirakis
    * exponential race (A-ES, 2006): every doc draws a deterministic
    * uniform u ∈ (0,1) from its md5 (the q199 56-bit-prefix discipline,
    * here the first 8 hex chars), is assigned the exponential key
    * e = −ln(u) / w with w = max(n_chars, 1), and the k smallest keys
    * ARE a without-replacement sample with inclusion probability
    * proportional to weight — the "sample long documents more" curation
    * primitive, reproducible bit-for-bit across runs and engines
    * because there is no RNG, only the hash.
    *
    * The key rounds to 9 dp before ranking (doc_id breaks ties), so
    * both engines rank identical literals; u is (h32+1)/(2³²+1),
    * bounded away from 0 and 1, so ln never sees a pole.
    *
    * Scale: one scan projection into `orderBy(key).limit(k)` —
    * TakeOrderedAndProject, per-partition k-row heaps merged on the
    * driver — then [[Ranking.topKGlobal]]'s broadcast k²-pair rank; no
    * corpus shuffle, no SinglePartition window, no RNG state to
    * coordinate across 1000 executors.
    */
  def weightedSample(spark: SparkSession, dir: String,
      k: Int = 25): DataFrame = {
    import spark.implicits._
    val keyed = docs(spark, dir)
      .select($"doc_id",
        greatest(coalesce($"n_chars", lit(1L)), lit(1L)).as("weight"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
          .as("h32"))
      .select($"doc_id", $"weight",
        round(-log(($"h32" + 1) / lit(4294967297.0)) /
          $"weight".cast("double"), 9).as("sample_key"))
    graft.ops.Ranking
      .topKGlobal(keyed, Seq("sample_key" -> false, "doc_id" -> false), k,
        rankCol = "rk")
      .select($"doc_id", $"weight", $"sample_key", $"rk")
  }

  /** Contiguous compaction plan over the q94 shard manifest (q197):
    * group shards, in shard-id order, into bins of roughly
    * total/`nBins` characters by integer division on the running byte
    * count — the lakehouse table-maintenance primitive ("these small
    * files merge into that target-size file") as a deterministic query
    * instead of an engine-internal heuristic. Emitted per bin: the
    * contiguous shard range, its byte mass, and the fill ratio against
    * the target.
    *
    * Scale: everything after the q94 manifest aggregate runs on the
    * shards-sized table; the plan math is pure i64 (cumulative sums,
    * (cum−1) div target binning), so the plan is bit-identical across
    * engines and re-runs.
    */
  def compactionPlan(spark: SparkSession, dir: String,
      nBins: Int = 4): DataFrame = {
    import spark.implicits._
    val m = shardManifest(spark, dir)
      .select($"shard_id", $"total_chars")
    val w = Window.orderBy($"shard_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(lit(1))
    m.withColumn("cum", sum($"total_chars").over(w))
      .withColumn("total", sum($"total_chars").over(tot))
      .withColumn("target", expr(s"(total + ${nBins - 1}) div $nBins"))
      .withColumn("bin", expr("(cum - 1) div target"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_shards"),
        min($"shard_id").as("first_shard"),
        max($"shard_id").as("last_shard"),
        sum($"total_chars").as("bin_chars"),
        max($"target").as("target_chars"))
      .select($"bin", $"n_shards", $"first_shard", $"last_shard",
        $"bin_chars",
        round($"bin_chars" / $"target_chars".cast("double"), 6)
          .as("fill_ratio"))
  }

  /** Leakage-safe train/val/test split (q191): the q128 md5-bucket
    * split keyed on the q41 near-dup CLUSTER id instead of the doc id —
    * near-duplicates of a validation document must not land in train
    * (the canonical eval-contamination bug; a doc-keyed split puts ~80%
    * of every duplicate family in train). Composes [[Dedup.dedupClusters]]
    * verbatim; emits per-split doc/cluster counts plus the
    * leaked_clusters count (clusters spanning >1 split), which the
    * construction forces to 0 — reported, not assumed, so a refactor
    * that breaks the invariant fails the oracle on VALUES.
    *
    * Scale: the cluster pass is q41's (banded, never all-pairs); the
    * split is a hash projection on the cluster key and the rollups are
    * splits- and clusters-sized.
    */
  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tagged = Dedup.dedupClusters(spark, dir)
      .withColumn("bucket",
        expr("cast(conv(substring(md5(cast(cluster_id as string)), 1, 4)," +
          " 16, 10) as bigint) % 100"))
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val")
          .otherwise("test"))
    val leaked = tagged
      .groupBy($"cluster_id")
      .agg(countDistinct($"split").as("n_splits"))
      .agg(coalesce(sum(when($"n_splits" > 1, 1L).otherwise(0L)), lit(0L))
        .as("leaked_clusters"))
    tagged
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_clusters"))
      .crossJoin(broadcast(leaked))
  }

  def tokenBudget(spark: SparkSession, dir: String,
      budget: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy(lit(1))
    val src = docs(spark, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("n"))
      .groupBy($"source").agg(sum($"n").as("n_tokens"))
      .withColumn("total", sum($"n_tokens").over(w))
    val quotas = src
      .withColumn("floor_alloc", expr(s"($budget * n_tokens) div total"))
      .withColumn("rem", expr(s"($budget * n_tokens) % total"))
      .withColumn("leftover", lit(budget) - sum($"floor_alloc").over(w))
      .withColumn("rk", row_number().over(
        Window.orderBy($"rem".desc, $"source")).cast("long"))
    quotas
      .select($"source", $"n_tokens",
        ($"floor_alloc" + when($"rk" <= $"leftover", 1L).otherwise(0L))
          .as("alloc_tokens"),
        ($"rk" <= $"leftover").as("got_extra"))
  }

  /** Per-source document cap (q226) — the host/domain quota step of
    * web-scale curation (C4-style per-host limits, RefinedWeb URL
    * dedup caps): each source keeps at most `cap` documents, chosen by
    * quality (q106's type-token-ratio score) with doc_id as the
    * deterministic tiebreak, and the emitted `rn` is each keeper's
    * 1-based quality rank within its source. Everything past the cap is
    * dropped — the overflow of a boilerplate-heavy host never reaches
    * the training mix.
    *
    * Scale: the naive spelling is `row_number` partitioned by source —
    * and web corpora are EXACTLY where that dies: hosts are Zipfian, so
    * one mega-domain (10⁸ pages) lands its whole partition in one task.
    * [[Ranking.topKPerGroup]] is built for that shape: per-(source,
    * salt-bucket) local top-`cap` first (hot host splits 32 ways; the
    * global top-`cap` provably survives), then the true ranks over the
    * ≤ 32·cap survivors per source. Score is a scan-stage projection;
    * no corpus-sized sort anywhere.
    */
  /** DSIR-style importance weights (q227) — Data Selection via
    * Importance Resampling (Xie et al. 2023, arXiv:2302.03169): score
    * every document by how target-like its hashed-unigram distribution
    * is. The target here is the `lang = 'en'` slice standing in for
    * "high-quality in-domain corpus"; raw is the whole corpus. Each
    * token hashes to one of `buckets` bins (md5-prefix mod — the exact
    * q57 feature-hashing scheme, reproducible bit-for-bit in DuckDB),
    * both distributions get add-one smoothing, and a doc's weight is
    * the MEAN log p_target/p_raw over its tokens (the length-normalized
    * log importance weight). `is_targetlike` = rounded weight > 0 — the
    * selection predicate; DSIR's Gumbel resampling step is deliberately
    * omitted because cross-engine `ln(-ln(u))` determinism is exactly
    * the interpolation trap the oracle playbook forbids, and the
    * threshold form is the analyzable core.
    *
    * Scale: the log-ratio table is `buckets` rows — CONSTANT-size
    * regardless of corpus — built by one map-side-combined aggregate
    * over the token stream (target counts ride the same pass as a
    * conditional sum, not a second scan), then broadcast back onto the
    * stream; the only corpus-sized shuffle is the per-doc partial-sum
    * aggregate that any per-document score needs. avg-of-logs rounded
    * to 4 dp follows the q64 determinism recipe (double sum-order noise
    * is ~1e-13 relative; irrational logs never sit on a half-boundary).
    */
  def dsirWeights(spark: SparkSession, dir: String,
      buckets: Int = 256): DataFrame = {
    import spark.implicits._
    val tok = docs(spark, dir)
      .select($"doc_id", $"lang", explode(toks).as("tok"))
      .select($"doc_id", $"lang",
        (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long")
          % buckets).as("b"))
    val ratio = tok
      .groupBy($"b")
      .agg(count(lit(1)).as("cr"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("ct"))
      .agg(collect_list(struct($"b", $"cr", $"ct")).as("rows"),
        sum($"cr").as("nr"), sum($"ct").as("nt"))
      .select(explode($"rows").as("r"), $"nr", $"nt")
      .select($"r.b".as("b"),
        (log(($"r.ct" + 1).cast("double") / ($"nt" + buckets)) -
          log(($"r.cr" + 1).cast("double") / ($"nr" + buckets)))
          .as("logratio"))
    tok
      .join(broadcast(ratio), Seq("b"))
      .groupBy($"doc_id")
      .agg(first($"lang").as("lang"),
        count(lit(1)).as("n_tokens"),
        round(avg($"logratio"), 4).as("logweight"))
      .withColumn("is_targetlike", $"logweight" > 0.0)
  }

  def domainCap(spark: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    import spark.implicits._
    val scored = docs(spark, dir)
      .select($"source", $"doc_id", toks.as("t"))
      .select($"source", $"doc_id",
        round(size(array_distinct($"t")).cast("double") / size($"t"), 6)
          .as("score"))
    Ranking.topKPerGroup(scored, Seq("source"),
        Seq($"score".desc, $"doc_id".asc), saltKey = $"doc_id", k = cap)
      .select($"source", $"doc_id", $"score", $"rn")
  }

  /** SCD2 (slowly-changing-dimension type 2) history across corpus
    * revisions — the lakehouse answer to "what did this document say at
    * revision r": one row per (doc, content) SEGMENT with
    * [valid_from, valid_to) revision bounds and an is_current flag.
    * Upgrades q103's pairwise snapshotDiff to a full multi-revision
    * lineage: a doc absent from a middle revision closes its segment (a
    * gap is a delete + re-add, even at identical content), and a content
    * change opens a new one. Three revisions derive deterministically
    * from the one documents table (the q103 replay trick) so the oracle
    * reconstructs them; null text digests to a sentinel so null↔non-null
    * transitions are real changes (the q103 null-safety rule).
    *
    * Scale: rows reduce to (doc_id, rev, md5) BEFORE anything shuffles
    * (the q103 digest-only-shuffle rule); the lag/sum windows partition
    * by doc_id over ≤ nRevs rows — never SinglePartition — and the
    * segment rollup is (doc, seg)-keyed.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    def rev(df: DataFrame, r: Int): DataFrame = df.select($"doc_id",
      lit(r).as("rev"), coalesce(md5($"text"), lit("<null>")).as("digest"))
    val r0 = rev(d.filter($"doc_id" % 7 =!= 0)
      .select($"doc_id", when($"doc_id" % 5 === 0,
        concat($"text", lit(" legacy rev"))).otherwise($"text").as("text")), 0)
    val r1 = rev(d.filter($"doc_id" % 11 =!= 0)
      .select($"doc_id", $"text"), 1)
    val r2 = rev(d.filter($"doc_id" % 13 =!= 0)
      .select($"doc_id", when($"doc_id" % 3 === 0,
        concat($"text", lit(" rev2"))).otherwise($"text").as("text")), 2)
    val all = r0.unionByName(r1).unionByName(r2)
    val byDoc = Window.partitionBy($"doc_id").orderBy($"rev")
    val seg = all
      .withColumn("new_seg",
        when(lag($"rev", 1).over(byDoc).isNull, 1)
          .when(lag($"rev", 1).over(byDoc) =!= $"rev" - 1, 1)
          .when(lag($"digest", 1).over(byDoc) =!= $"digest", 1)
          .otherwise(0))
      .withColumn("seg", sum($"new_seg").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    seg.groupBy($"doc_id", $"seg")
      .agg(min($"digest").as("digest"),
        min($"rev").as("valid_from"), max($"rev").as("last_rev"))
      .select($"doc_id", $"digest",
        $"valid_from".cast("int").as("valid_from"),
        when($"last_rev" === 2, lit(null).cast("int"))
          .otherwise($"last_rev" + 1).cast("int").as("valid_to"),
        ($"last_rev" === 2).as("is_current"))
  }

  /** 1-D Wasserstein (earth-mover) drift of each source's length
    * distribution against the corpus — the distribution-shift audit
    * that, unlike PSI (q126, bin-sensitive) and KS (sup-norm only),
    * reports HOW MUCH mass moves HOW FAR, in the metric's own units
    * (chars). W1 is approximated on a `grid`-point rank-exact quantile
    * lattice: W1 ≈ (1/G) Σ_g |Q_src(g/G) − Q_corpus(g/G)| — rank-exact
    * order statistics, not interpolated percentiles, because an actual
    * data value is the same BIGINT on both engines (the round-5
    * percentile-interpolation lesson) and the whole computation stays
    * exact integer arithmetic.
    *
    * Scale: both rank passes ride `Ranking.prefixCum` (bucket-split
    * prefix sums — the global corpus rank has NO SinglePartition
    * window); the quantile lattice is a broadcast sources×G / G-row
    * join against `cum_before = ceil(g·n/G) − 1`, so one corpus scan
    * per side is the whole cost.
    */
  def wassersteinDrift(spark: SparkSession, dir: String,
      grid: Int = 20): DataFrame = {
    import spark.implicits._
    require(grid > 0, s"grid must be positive, got $grid")
    val rows = docs(spark, dir)
      .select($"source", $"doc_id", coalesce($"n_chars", lit(0L)).as("v"))
    val gs = spark.range(1, grid + 1).select($"id".as("g"))
    val srcRanked = graft.ops.Ranking
      .prefixCum(rows, Seq("source"), $"v", Seq($"v", $"doc_id"), lit(1L))
    val srcTargets = rows.groupBy($"source").agg(count(lit(1)).as("n_src"))
      .crossJoin(gs)
      .select($"source", $"g", $"n_src",
        expr(s"(g * n_src + ${grid - 1}) div $grid").as("rk"))
    val srcQ = srcRanked.as("sr")
      .join(broadcast(srcTargets.as("st")),
        col("sr.source") === col("st.source") &&
          $"cum_before" === $"rk" - 1)
      .select(col("st.source"), $"g", $"n_src", $"v".as("q_src"))
    val corRanked = graft.ops.Ranking
      .prefixCum(rows.select($"doc_id", $"v"), Nil, $"v",
        Seq($"v", $"doc_id"), lit(1L))
    val corTargets = rows.agg(count(lit(1)).as("n_tot"))
      .crossJoin(gs)
      .select($"g", expr(s"(g * n_tot + ${grid - 1}) div $grid").as("rk"))
    val corQ = corRanked.join(broadcast(corTargets),
        $"cum_before" === $"rk" - 1)
      .select($"g", $"v".as("q_cor"))
    srcQ.join(corQ, Seq("g"))
      .groupBy($"source", $"n_src")
      .agg(expr(s"sum(abs(q_src - q_cor)) div $grid").as("w1_chars"),
        max(abs($"q_src" - $"q_cor")).as("max_gap"))
  }

  /** Content-defined chunking dedup audit — the modern counterpart of
    * the reference's FIXED-length chunker (dirhash.py:313-344 chunks at
    * byte offsets, so a one-char insertion shifts every later chunk;
    * CDC cuts where the CONTENT says to, so shared spans re-align):
    * a position i is a cut iff the gear-style rolling polynomial hash
    * of the w-char window at i ≡ 0 (mod `modulus`) — STATELESS cut
    * points (no min/max-size carry), so the boundary set is a pure
    * per-position function both engines replay verbatim (the oracle
    * recomputes the identical mod-2³¹−1 integer polynomial per
    * position). Round 9 swapped the md5-per-position stub for the O(1)
    * rolling update ([[graft.functions.TextOps.cdcCuts]]) — one digest
    * per corpus character was ~100× the production per-byte constant.
    * Emits per source the chunk count, distinct-chunk count,
    * duplicated-chunk ratio (the dedup win CDC exists to harvest) and
    * the realized average chunk length (≈ modulus + w − 1 expected).
    *
    * Scale: the rolling hash is the honest O(text) CDC cost and runs
    * scan-side (one codegen'd expression per doc, no shuffle); the only
    * shuffle is the (source, chunk) distinct rollup — hash 8-byte keys
    * at 100 TB (the q16 trick) instead of chunk strings. Docs shorter
    * than the window (or null) have no interior windows and are
    * excluded, reported via n_docs.
    */
  /** [[cdcChunkStats]] parameter sweep over NESTED moduli: because a
    * position with windowHash ≡ 0 (mod 64) is also ≡ 0 (mod 32) and
    * (mod 16), the three cut sets are derivable from ONE window-hash
    * pass — the whole sweep costs one scan, not |moduli| scans (the
    * tuning table for picking the q250 chunk size would otherwise
    * triple the dominant rolling-hash cost). The checkpointed state is
    * O(cuts), not O(text): `cdc_cut_hashes` keeps only the mod-16
    * positions (the SUPERSET cut set — ~1/16 of positions) with h mod
    * 64, from which every nested cut set filters (the round-8 spelling
    * materialized a per-character struct, a >10× corpus blow-up on
    * local disk). Emits per (source, modulus): chunk count, distinct
    * chunks, dup ratio, realized average length — read it to pick the
    * modulus where dup harvest saturates.
    */
  def cdcModulusSweep(spark: SparkSession, dir: String,
      window: Int = 8): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    // materialize the hash pass ONCE — the three modulus branches below
    // would otherwise each re-run it, tripling the dominant cost
    val base = docs(spark, dir)
      .filter($"text".isNotNull && length($"text") >= window)
      .select($"source", $"doc_id", $"text",
        expr(s"cdc_cut_hashes(text, $window)").as("ph"),
        length($"text").as("len"))
      .localCheckpoint(true)
    val perModulus = Seq(16, 32, 64).map { m =>
      base
        .withColumn("cuts",
          expr(s"transform(filter(ph, x -> pmod(x.h, $m) = 0)," +
            " x -> cast(x.p as int))"))
        .withColumn("b", expr("concat(array(0), cuts, array(len))"))
        .select($"source", $"doc_id",
          explode(expr(
            """transform(sequence(1, size(b) - 1),
              | j -> substring(text, element_at(b, j) + 1,
              |   element_at(b, j + 1) - element_at(b, j)))""".stripMargin))
            .as("chunk"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_chunks"),
          count_distinct($"chunk").as("n_distinct_chunks"),
          sum(length($"chunk").cast("long")).as("total_len"))
        .select($"source", lit(m.toLong).as("modulus"),
          $"n_chunks", $"n_distinct_chunks",
          expr("total_len div n_chunks").as("avg_chunk_len"),
          round(lit(1.0) -
            $"n_distinct_chunks".cast("double") / $"n_chunks", 6)
            .as("dup_chunk_ratio"))
    }
    perModulus.reduce(_ unionByName _)
  }

  def cdcChunkStats(spark: SparkSession, dir: String, window: Int = 8,
      modulus: Int = 32): DataFrame = {
    import spark.implicits._
    require(window > 0 && modulus > 0)
    graft.functions.TextOps.register(spark)
    val chunks = docs(spark, dir)
      .filter($"text".isNotNull && length($"text") >= window)
      .select($"source", $"doc_id", $"text",
        expr(s"transform(cdc_cuts(text, $window, $modulus)," +
          " c -> cast(c as int))").as("cuts"),
        length($"text").as("len"))
      // materialize the boundary array once per doc (0, cuts…, len)
      .withColumn("b", expr("concat(array(0), cuts, array(len))"))
      .select($"source", $"doc_id",
        explode(expr(
          """transform(sequence(1, size(b) - 1),
            | j -> substring(text, element_at(b, j) + 1,
            |   element_at(b, j + 1) - element_at(b, j)))""".stripMargin))
          .as("chunk"))
    chunks
      .groupBy($"source")
      .agg(count_distinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        count_distinct($"chunk").as("n_distinct_chunks"),
        sum(length($"chunk").cast("long")).as("total_len"))
      .select($"source", $"n_docs", $"n_chunks", $"n_distinct_chunks",
        expr("total_len div n_chunks").as("avg_chunk_len"),
        round(lit(1.0) -
          $"n_distinct_chunks".cast("double") / $"n_chunks", 6)
          .as("dup_chunk_ratio"))
  }
}
