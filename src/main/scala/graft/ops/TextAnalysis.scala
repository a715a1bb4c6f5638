package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY.md §2.12 /
  * north-star): token counting, quality scoring, language-ID scoring and
  * document fingerprinting. All single-scan, codegen'd built-ins — no UDFs
  * — so at 100 TB each is one pass over the text column with a small-key
  * aggregation behind it.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def toks: Column = split(col("text"), " ")

  /** Per-language corpus stats: doc count, token count, avg tokens/chars.
    * Whitespace tokenization; aggregation keys are the 5 langs, so the
    * shuffle is constant-size regardless of corpus scale.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"lang", size(toks).cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        round(avg($"n_tokens"), 4).as("avg_tokens"),
        round(avg($"n_chars"), 4).as("avg_chars"),
        max($"n_tokens").as("max_tokens"))
  }

  /** BPE-ish regex token count: runs of letters, runs of digits, or single
    * non-space symbols — the standard subword-ish pre-tokenizer shape.
    */
  def regexTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id",
        size(toks).cast("long").as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("re_tokens"),
        length($"text").cast("long").as("n_chars"))
  }

  /** Per-document quality signals: length, lexical diversity (type-token
    * ratio), stopword ratio, mean word length — the usual pre-training
    * quality-filter features.
    */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stopwords = Seq("the", "a", "of", "and", "to")
    docs(spark, dir)
      .select($"doc_id", $"lang", $"text", toks.as("t"))
      .select(
        $"doc_id", $"lang",
        size($"t").cast("long").as("n_tokens"),
        size(array_distinct($"t")).cast("long").as("n_types"),
        size(filter($"t", tk => tk.isin(stopwords: _*))).cast("long").as("n_stop"),
        length($"text").cast("long").as("n_chars"))
      .select(
        $"doc_id", $"lang", $"n_tokens", $"n_types",
        round($"n_types".cast("double") / $"n_tokens", 6).as("type_token_ratio"),
        round($"n_stop".cast("double") / $"n_tokens", 6).as("stopword_ratio"),
        // tokens are single-space separated: chars = sum(len)+n-1
        round(($"n_chars" - $"n_tokens" + 1).cast("double") / $"n_tokens", 6)
          .as("avg_word_len"))
  }

  /** Language-ID scoring: marker-token hit rates per candidate language,
    * predicted label = argmax with a fixed tie order. (A real n-gram model
    * slots into the same shape; the synthetic corpus shares one vocabulary
    * so the value here is the deterministic scoring pipeline.)
    */
  def langIdScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and"),
      "de" -> Seq("der", "die", "und"),
      "fr" -> Seq("le", "la", "et"),
      "es" -> Seq("el", "la", "y"))
    val base = docs(spark, dir).select($"doc_id", $"lang", toks.as("t"))
    val scored = markers.foldLeft(base) { case (df, (l, ms)) =>
      df.withColumn(s"score_$l",
        round(size(filter(col("t"), tk => tk.isin(ms: _*))).cast("double") /
          size(col("t")), 6))
    }
    scored.select(
      $"doc_id", $"lang".as("true_lang"),
      $"score_en", $"score_de", $"score_fr", $"score_es",
      when($"score_en" >= $"score_de" && $"score_en" >= $"score_fr" && $"score_en" >= $"score_es", "en")
        .when($"score_de" >= $"score_fr" && $"score_de" >= $"score_es", "de")
        .when($"score_fr" >= $"score_es", "fr")
        .otherwise("es").as("pred_lang"))
  }

  /** Order-sensitive rolling-hash fingerprint: polynomial fold
    * (acc·257 + md5₃₂(token)) mod 2³¹ over the token SEQUENCE — two docs
    * with the same bag of words but different order fingerprint
    * differently (complement of the order-invariant `fingerprints`).
    * Single narrow scan, no shuffle.
    */
  def rollingFingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id",
        aggregate(
          transform($"t", x => conv(substring(md5(x), 1, 8), 16, 10).cast("long")),
          lit(0L),
          (acc, x) => pmod(acc * lit(257L) + x, lit(2147483648L))).as("rolling_fp"),
        size($"t").cast("long").as("n_tokens"))
  }

  /** Canonical bag-of-words fingerprint: md5 over the sorted distinct
    * token set — an order-invariant content fingerprint (same idea as the
    * dirhash listing canonicalization, one level up).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id",
        md5(concat_ws(" ", array_sort(array_distinct(toks)))).as("fingerprint"),
        size(array_distinct(toks)).cast("long").as("n_types"))
  }

  /** Feature-hashing document vectors (the "hashing trick"): every doc
    * becomes a fixed-`dim` token-count vector with index = md5-prefix
    * mod dim — the no-vocabulary featurizer that feeds clustering /
    * similarity when no trained embedding exists. The codegen'd
    * `feature_hash` expression folds each doc in ONE pass (no explode,
    * no shuffle — the same scale argument as `bigram_counts`); emitted
    * as CSV + summary stats so the oracle compare stays scalar.
    */
  def featureHashVectors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    docs(spark, dir)
      .select($"doc_id", call_function("feature_hash", $"text").as("f"),
        size(toks).cast("long").as("n_tokens"))
      .select($"doc_id",
        concat_ws(",", transform($"f", x => x.cast("string"))).as("features_csv"),
        size(filter($"f", x => x > 0)).cast("long").as("nnz"),
        $"n_tokens")
  }

  /** Benchmark decontamination: which eval-split documents share word
    * n-grams with the train split — the C4/GPT-style train/test overlap
    * check every LLM data pipeline runs before shipping an eval set.
    * The split is the deterministic md5 hash sample (retry-stable, as
    * q47), the train-gram table is per-doc-distinct n-grams, and
    * contamination = equality join of eval grams against it. Joining on
    * the gram STRING keeps the check exact end to end; at 100 TB you'd
    * join on xxhash64(gram) (8-byte keys, the q16 trick) and accept the
    * 2⁻⁶⁴ collision. Real pipelines use n = 8–13; the synthetic corpus
    * shares one vocabulary so n = 3 exercises the same plan with
    * non-degenerate output.
    */
  def decontamination(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    import spark.implicits._
    val grams = docs(spark, dir)
      .select($"doc_id", toks.as("t"),
        (substring(md5($"doc_id".cast("string")), 1, 2) <= "7f").as("is_train"))
      .select($"doc_id", $"is_train",
        explode(array_distinct(Dedup.ngramsOf("t", n))).as("gram"))
    val trainGrams = grams.filter($"is_train").select($"gram").distinct()
    val evalGrams = grams.filter(!$"is_train")
    val perDoc = evalGrams.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    evalGrams
      .join(trainGrams, "gram")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_grams"))
      .join(perDoc, "doc_id")
      .select($"doc_id", $"n_shared_grams", $"n_grams",
        round($"n_shared_grams".cast("double") / $"n_grams", 6).as("shared_frac"))
  }

  /** Decontamination EXCISION (q275): the removal step the detection
    * queries (q63/q66/q243) stop short of — for every TRAIN doc, the
    * token positions covered by ANY n-gram shared with the eval split
    * are marked for surgical removal (the Lee et al. span-excision
    * recipe: cut the leaked span, keep the document), and the corpus
    * rollup reports docs touched and exact tokens removed. Coverage is
    * computed as the distinct union of per-match windows [i, i+n−1] —
    * overlapping matches never double-count — via one explode of n
    * offsets per shared-gram position.
    *
    * Scale: gram extraction is the scan-stage ngram projection; the
    * shared-gram probe is an equi-join against the DISTINCT eval gram
    * set (semi-join, key-only); the coverage union is per-doc bounded
    * (≤ n_tokens positions). No stage holds more than (doc, position)
    * pairs for MATCHED spans — clean corpora cost one empty join.
    */
  def decontamExcise(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import spark.implicits._
    val tok = docs(spark, dir)
      .select($"doc_id", toks.as("t"),
        (substring(md5($"doc_id".cast("string")), 1, 2) <= "7f").as("is_train"))
    val train = tok.filter($"is_train")
      .select($"doc_id", $"t", size($"t").cast("long").as("n_tokens"))
    val evalGrams = tok.filter(!$"is_train")
      .select(explode(array_distinct(Dedup.ngramsOf("t", n))).as("g"))
      .distinct()
    val sharedPos = train
      .select($"doc_id", posexplode(Dedup.ngramsOf("t", n)).as(Seq("pos", "gram")))
      .join(evalGrams, $"gram" === $"g", "left_semi")
      .select($"doc_id", $"pos")
    val covered = sharedPos
      .select($"doc_id",
        explode(sequence($"pos", $"pos" + lit(n - 1))).as("p"))
      .groupBy($"doc_id").agg(count_distinct($"p").as("removed"))
    train.join(covered, Seq("doc_id"), "left")
      .select($"n_tokens", coalesce($"removed", lit(0L)).as("removed"))
      .agg(count(lit(1)).as("n_train_docs"),
        sum(when($"removed" > 0L, 1L).otherwise(0L)).as("n_docs_touched"),
        sum($"n_tokens").as("total_tokens"),
        sum($"removed").as("tokens_removed"))
      .select(
        coalesce($"n_train_docs", lit(0L)).as("n_train_docs"),
        coalesce($"n_docs_touched", lit(0L)).as("n_docs_touched"),
        coalesce($"total_tokens", lit(0L)).as("total_tokens"),
        coalesce($"tokens_removed", lit(0L)).as("tokens_removed"))
      .withColumn("removed_frac",
        round($"tokens_removed" /
          greatest($"total_tokens", lit(1L)).cast("double"), 6))
  }

  /** Decontamination at realistic gram length (n = 8, the C4/GPT range)
    * on HASHED grams: the join key is the codegen'd `gram_hashes` output
    * — 8-byte longs hashed straight off the document bytes — instead of
    * ~50-byte 8-gram strings, which is what a 100-TB overlap check
    * actually shuffles (the xxhash64-key variant [[decontamination]]'s
    * scaladoc promises). Emits EVERY eval doc (left join, 0 shared grams
    * for clean ones) so "nothing is contaminated" is a checked result,
    * not an empty table. The oracle joins exact gram STRINGS — two
    * different keying strategies must produce identical counts, which
    * also bounds the hash-collision risk the 8-byte key accepts.
    */
  def decontaminationHashed(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    val grams = docs(spark, dir)
      .select($"doc_id",
        (substring(md5($"doc_id".cast("string")), 1, 2) <= "7f").as("is_train"),
        array_distinct(call_function("gram_hashes", $"text", lit(n))).as("g"))
    val trainGrams = grams.filter($"is_train").select(explode($"g").as("gh")).distinct()
    val shared = grams.filter(!$"is_train")
      .select($"doc_id", explode($"g").as("gh"))
      .join(trainGrams, "gh")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_grams"))
    grams.filter(!$"is_train")
      .select($"doc_id", size($"g").cast("long").as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_shared_grams", lit(0L)).as("n_shared_grams"),
        $"n_grams",
        // total output admits gram-less docs (< n tokens, empty/null
        // text): null fraction, not an ANSI divide-by-zero
        when($"n_grams" > 0,
          round(coalesce($"n_shared_grams", lit(0L)).cast("double") / $"n_grams", 6))
          .as("shared_frac"))
  }

  /** [[decontaminationHashed]] behind a broadcast BLOOM prefilter — the
    * shape a 100-TB overlap check actually runs: the train gram-hash
    * set is folded into ONE mBits bitmap by a mergeable typed
    * Aggregator ([[graft.functions.BloomFilter]] — map-side partials,
    * the shuffle carries bitmaps, not keys), the bitmap rides a one-row
    * broadcast cross join, and only bloom-PASSING eval grams reach the
    * exact train-gram join. False positives are killed by that exact
    * join, so the OUTPUT is bit-identical to [[decontaminationHashed]]
    * (they share the oracle); what the bloom buys is the shuffle: with
    * a clean eval set, ~zero eval grams shuffle toward the train join
    * instead of all of them — the runtime-filter idea, made explicit
    * and deterministic (seed-fixed xxhash64 positions, OR-fold bitmap,
    * so the prefilter's pass set is reproducible across partitionings).
    *
    * Sizing: defaults (2²⁰ bits, 4 hashes) hold ~130k train grams at
    * <2% FP; at 100 TB you size mBits to the measured train-gram
    * cardinality (the q230 KMV estimate) — the bitmap stays a few
    * hundred MB broadcast, still far below shuffling the eval grams.
    */
  def decontaminationBloom(spark: SparkSession, dir: String, n: Int = 8,
      mBits: Int = graft.functions.BloomFilter.DefaultMBits, nHashes: Int = graft.functions.BloomFilter.DefaultNHashes): DataFrame = {
    import spark.implicits._
    import graft.functions.BloomFilter
    graft.functions.TextOps.register(spark)
    val grams = docs(spark, dir)
      .select($"doc_id",
        (substring(md5($"doc_id".cast("string")), 1, 2) <= "7f").as("is_train"),
        array_distinct(call_function("gram_hashes", $"text", lit(n))).as("g"))
    val trainGrams = grams.filter($"is_train")
      .select(explode($"g").as("gh")).distinct()
    val bm = trainGrams
      .select(explode(BloomFilter.positionsOf($"gh", mBits, nHashes)).as("p"))
      .agg(BloomFilter.bloomBuild(mBits)($"p").as("bm"))
    val pass = grams.filter(!$"is_train")
      .select($"doc_id", explode($"g").as("gh"))
      .withColumn("ps", BloomFilter.positionsOf($"gh", mBits, nHashes))
      .crossJoin(broadcast(bm))
      .filter(BloomFilter.mightContain($"bm", $"ps", nHashes))
      .select($"doc_id", $"gh")
    val shared = pass.join(trainGrams, "gh")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_grams"))
    grams.filter(!$"is_train")
      .select($"doc_id", size($"g").cast("long").as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_shared_grams", lit(0L)).as("n_shared_grams"),
        $"n_grams",
        when($"n_grams" > 0,
          round(coalesce($"n_shared_grams", lit(0L)).cast("double") / $"n_grams", 6))
          .as("shared_frac"))
  }

  /** Driver-visible batch twin of the STREAMING contamination tripwire
    * (q254): runs [[graft.streaming.DocStreams.contaminationGate]] —
    * the exact function the live pipeline deploys, on the batch frame
    * it also accepts — over the eval split, joins the exact
    * decontamination arm ([[decontaminationHashed]], q66's law), and
    * emits per eval doc the exact-checkable columns plus `gate_sound`:
    * the gate's gram count equals the exact arm's, its bloom-hit count
    * sandwiches between the exact hits and the gram count (no false
    * negatives / hits bounded by probes), and every exactly-contaminated
    * doc is flagged. The oracle recomputes doc_id/n_grams/n_exact_hits
    * with string grams and asserts `gate_sound` LITERALLY TRUE — the
    * bloom's bit pattern is not SQL-replayable (xxhash64 positions),
    * but its soundness LAW is, so a bloom regression hash-mismatches
    * the driver sweep instead of hiding in a spec-only gate (round-8
    * verdict item 7).
    *
    * Scale: the gate is stateless scan work against a broadcast bitmap;
    * the exact arm is q66's bounded join — the audit costs one q66 plus
    * one bloom pass.
    */
  def contaminationGateAudit(spark: SparkSession, dir: String,
      n: Int = 8): DataFrame = {
    import spark.implicits._
    val evalDocs = docs(spark, dir)
      .filter(substring(md5($"doc_id".cast("string")), 1, 2) > "7f")
    val gate = graft.streaming.DocStreams.contaminationGate(evalDocs, dir, n)
      .select($"doc_id", $"n_grams".as("n_grams_gate"), $"n_bloom_hits",
        $"is_flagged")
    val exact = decontaminationHashed(spark, dir, n)
      .select($"doc_id", $"n_grams", $"n_shared_grams".as("n_exact_hits"))
    val ng = coalesce($"n_grams", lit(0L))
    gate.join(exact, Seq("doc_id"))
      .select($"doc_id", $"n_grams", $"n_exact_hits",
        ($"n_grams_gate" === ng &&
          $"n_bloom_hits" >= $"n_exact_hits" &&
          $"n_bloom_hits" <= ng &&
          ($"n_exact_hits" === 0 || $"is_flagged")).as("gate_sound"))
  }

  /** Spec hook: (eval grams probed, bloom passes, exact members) — the
    * sandwich `exact ≤ pass ≤ probed` plus the measured FP margin.
    */
  private[ops] def bloomPrefilterCounts(spark: SparkSession, dir: String,
      n: Int = 8, mBits: Int = graft.functions.BloomFilter.DefaultMBits, nHashes: Int = graft.functions.BloomFilter.DefaultNHashes): (Long, Long, Long) = {
    import spark.implicits._
    import graft.functions.BloomFilter
    graft.functions.TextOps.register(spark)
    val grams = docs(spark, dir)
      .select($"doc_id",
        (substring(md5($"doc_id".cast("string")), 1, 2) <= "7f").as("is_train"),
        array_distinct(call_function("gram_hashes", $"text", lit(n))).as("g"))
    val trainGrams = grams.filter($"is_train")
      .select(explode($"g").as("gh")).distinct()
    val bm = trainGrams
      .select(explode(BloomFilter.positionsOf($"gh", mBits, nHashes)).as("p"))
      .agg(BloomFilter.bloomBuild(mBits)($"p").as("bm"))
    val evalGrams = grams.filter(!$"is_train")
      .select($"doc_id", explode($"g").as("gh"))
    Memo.withPersisted(evalGrams) {
      val probed = evalGrams.count()
      val pass = evalGrams
        .withColumn("ps", BloomFilter.positionsOf($"gh", mBits, nHashes))
        .crossJoin(broadcast(bm))
        .filter(BloomFilter.mightContain($"bm", $"ps", nHashes))
        .count()
      val exact = evalGrams.join(trainGrams, "gh").count()
      (probed, pass, exact)
    }
  }

  /** Unigram language-model score (CCNet-style perplexity proxy): mean
    * negative log-probability of a doc's tokens under the corpus unigram
    * distribution — high values flag gibberish / vocabulary-atypical
    * docs. Two passes: the token-frequency table (bounded by vocabulary,
    * broadcast), then one exploded join + per-doc mean. At 100 TB the
    * frequency table is capped to a top-K vocab with an OOV floor — the
    * plan shape is unchanged; the synthetic corpus's closed vocabulary
    * needs no cap.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = docs(spark, dir).select($"doc_id", explode(toks).as("tok"))
    val freq = tok.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    // the corpus total rides the plan as a one-row cross join (exactly
    // the oracle's CROSS JOIN tot) — an eager .head() here would run a
    // full corpus aggregation at DataFrame-CONSTRUCTION time, once per
    // invocation, and again when the returned plan executes
    val tot = freq.agg(sum($"cnt").as("total"))
    tok
      .join(broadcast(freq), "tok")
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log($"cnt".cast("double") / $"total")), 4).as("avg_neg_logprob"))
  }

  /** Bigram language-model score — the order-2 upgrade of
    * [[unigramLogprob]]: mean −ln p(w₂|w₁) over a doc's adjacent token
    * pairs, with add-one smoothing over the observed continuation
    * vocabulary (p = (c(w₁w₂)+1) / (c(w₁·)+V)). Conditional
    * probabilities catch scrambled/templated text that unigram
    * frequency cannot (same words, impossible transitions).
    *
    * Scale: the q84 shape — one adjacent-pair explode (n−1 rows per
    * doc, never a co-occurrence matrix), then every table downstream is
    * vocabulary-sized: bigram counts with map-side combine, context
    * counts as a rollup OF the bigram table, V as a one-row broadcast.
    * The pair stream is cached because counts and scoring both consume
    * it. Docs with <2 tokens emit 0 pairs and a null score (q81's
    * total-output contract).
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = docs(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", explode(zip_with(
        slice($"t", lit(1), greatest(size($"t") - 1, lit(0))),
        slice($"t", lit(2), greatest(size($"t") - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    Memo.withPersisted(pairs) {
      val cb = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
      val cctx = cb.groupBy($"w1").agg(sum($"cb").as("cctx"))
      val vocab = cb.agg(count_distinct($"w2").as("v"))
      val scored = pairs
        .join(cb, Seq("w1", "w2"))
        .join(cctx, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(-log(($"cb" + lit(1L)).cast("double") / ($"cctx" + $"v"))), 4)
            .as("avg_neg_logprob"))
      docs(spark, dir).select($"doc_id")
        .join(scored, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"),
          $"avg_neg_logprob")
        .localCheckpoint(true)
    }
  }

  /** Within-document repetition ratio: the fraction of word 3-grams that
    * are repeats of an earlier 3-gram in the same doc — the Gopher-style
    * "repetitious text" quality signal (high values flag spam/template
    * docs for removal before training). The codegen'd `gram_hashes`
    * expression emits 8-byte gram hashes straight off the document bytes
    * (no token array, no per-position concat_ws lambda), so counting and
    * distinct-counting grams is primitive-long array math in one
    * map-side scan. Distinct-over-hashes equals distinct-over-strings up
    * to a 64-bit collision (≈2⁻⁶⁴ per doc) — the q16 argument.
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    docs(spark, dir)
      // null text → empty gram array, matching ngramsOf's null contract
      .select($"doc_id",
        coalesce(call_function("gram_hashes", $"text", lit(3)),
          array().cast("array<bigint>")).as("g"))
      .select($"doc_id",
        size($"g").cast("long").as("n_grams"),
        size(array_distinct($"g")).cast("long").as("n_distinct_grams"))
      .withColumn("dup_gram_frac",
        when($"n_grams" === 0, lit(0.0))
          .otherwise(round(lit(1.0) - $"n_distinct_grams".cast("double") / $"n_grams", 6)))
  }

  /** Cross-document boilerplate phrases: the `k` word 5-grams appearing
    * in the most documents per language — the C4/CCNet-style signal for
    * template/boilerplate text shared across a corpus (navigation bars,
    * license footers). Per-doc DISTINCT n-grams so document frequency —
    * not raw occurrence count — ranks phrases; the (lang, phrase)
    * aggregation gets map-side partial combine and the final window only
    * ranks the already-aggregated phrase table, never raw rows.
    */
  def boilerplatePhrases(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    // distinct_grams dedups on the 64-bit gram hash and materializes only
    // the distinct phrase strings (the output needs the phrase itself, so
    // the string can't be hashed away — but building EVERY gram to then
    // array_distinct strings can be)
    val phrases = docs(spark, dir)
      .select($"lang", explode(call_function("distinct_grams", $"text", lit(5))).as("phrase"))
      .groupBy($"lang", $"phrase").agg(count(lit(1)).as("n_docs"))
    // the phrase table is distinct-phrases-sized (can be billions of
    // rows at corpus scale, still 5 langs): salted two-phase ranking
    // instead of a 5-partition window — see Ranking.topKPerGroup
    Ranking.topKPerGroup(phrases, Seq("lang"),
      Seq($"n_docs".desc, $"phrase"), $"phrase", k)
  }

  /** Model-scored quality filter — the fastText-classifier stage of the
    * standard LLM data pipeline (score each doc with a trained linear
    * model over hashed features; keep above threshold), with the model
    * weights derived DETERMINISTICALLY from md5 so the DuckDB oracle
    * recomputes the identical scores (a shipped pipeline loads trained
    * weights into the same literal array — the plan is what matters).
    *
    * score = σ(w · tf(x)): the codegen'd `feature_hash` expression
    * builds the 64-dim token-count vector in one pass, the dot product
    * unrolls to 64 element_at terms (left-associated, matching the
    * oracle's list_sum order), and everything stays in the scan stage —
    * zero shuffles, the cheapest possible shape for a 100-TB scoring
    * sweep.
    */
  // w_i ∈ [-1, 1] from md5("w<i>"): integer arithmetic until the final
  // division, so both engines materialize the identical double
  private lazy val classifierWeights: IndexedSeq[Double] = (0 until 64).map { i =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"w$i".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000) / 1000.0
  }

  /** The classifier score as a pure column over (text, n_tokens) —
    * STATELESS, so the batch query and the streaming ingest stage
    * (DocStreams.scoreDocs) share one FORMULA. Note what is and isn't
    * shared: the formula cannot drift, but the two surfaces feed it
    * different inputs by design — q73 scores the raw corpus text, the
    * ingest stage scores the CLEANED text of its prep contract — so
    * their absolute scores are not comparable doc for doc.
    * Caller must have registered graft.functions.TextOps on the session.
    */
  private[graft] def classifierScoreCol(text: Column, nTokens: Column): Column = {
    val f = call_function("feature_hash", text)
    val dotp = (0 until 64)
      .map(i => element_at(f, i + 1).cast("double") * lit(classifierWeights(i)))
      .reduce(_ + _)
    round(lit(1.0) / (lit(1.0) + exp(-(dotp / greatest(nTokens, lit(1L))))), 6)
  }

  def qualityClassifierScores(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    docs(spark, dir)
      .select($"doc_id", size(toks).cast("long").as("n_tokens"),
        classifierScoreCol($"text", size(toks).cast("long")).as("score"))
      .withColumn("keep", $"score" >= threshold)
  }

  /** Classifier DECILE LIFT table (q261): rank the corpus by the q73
    * quality score (descending, doc_id tie-break), cut into `buckets`
    * equal-population rank bands, and report per band the en-precision
    * and its lift over the base rate — the standard "is the top decile
    * actually better" calibration read on a model-scored filter (q179
    * says the score RANKS, q190 where to CUT, this what each band
    * BUYS). Ranks ride [[Ranking.prefixCum]] (bucket-split, no
    * SinglePartition window); band id = (buckets·rank) div n with the
    * corpus totals on a one-row broadcast; precision/lift divide exact
    * counts once, products cast to double BEFORE multiplying (the
    * moment-formula overflow rule).
    *
    * Scale: one scored scan, the prefixCum rank machinery, a
    * buckets-sized rollup.
    */
  def scoreLift(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    import spark.implicits._
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val scored = qualityClassifierScores(spark, dir)
      .select($"doc_id", $"score")
    val lang = docs(spark, dir)
      .select($"doc_id", ($"lang" === "en").as("is_pos"))
    val base = scored.join(lang, "doc_id")
    val totals = broadcast(base.agg(count(lit(1)).as("n_total"),
      sum(when($"is_pos", 1L).otherwise(0L)).as("pos_total")))
    val ranked = Ranking.prefixCum(base, Nil, -$"score",
      Seq($"score".desc, $"doc_id"), lit(1L))
    ranked.crossJoin(totals)
      .withColumn("decile", expr(s"($buckets * cum_before) div n_total"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"is_pos", 1L).otherwise(0L)).as("n_pos"),
        max($"n_total").as("nt"), max($"pos_total").as("pt"))
      .select($"decile", $"n_docs", $"n_pos",
        round($"n_pos".cast("double") / $"n_docs", 6).as("band_precision"),
        when($"pt" > 0,
          round(($"n_pos".cast("double") * $"nt") /
            ($"n_docs".cast("double") * $"pt"), 6)).as("lift"))
  }

  /** TF-IDF keyterm extraction: the `k` highest tf·idf terms per document
    * (idf = ln(N/df), document frequency over per-doc distinct terms).
    * Two shuffles, both on aggregated rows: (doc_id, term) term counts
    * get map-side combine off the scan, and the document-frequency table
    * is one more groupBy over those already-unique rows — vocabulary-
    * sized, not corpus-sized. The df join stays a plain equi-join (the
    * vocabulary GROWS with corpus size — typos, ids, urls — so a forced
    * broadcast would be a 100-TB lie; AQE broadcasts it when it measures
    * small). Ranking windows on doc_id — millions of tiny partitions, no
    * skew. Scores round to 6 before ranking so the rank is a function of
    * the values the oracle also computes.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val tf = d
      .select($"doc_id", explode(toks).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // tf rows are unique per (doc, term), so counting rows per term IS
    // the document frequency — no second distinct pass over raw tokens
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select($"doc_id", $"term", $"tf", $"df",
        round($"tf" * log($"n_docs".cast("double") / $"df"), 6).as("tfidf"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= k)
  }

  /** Gopher-style rule battery — the heuristic keep/drop DECISION stage
    * (the Gopher paper's document filters), distinct from the signal
    * computation (q22): each rule is a named boolean over per-doc
    * statistics, `keep` is their conjunction, and both the raw signals
    * and the per-rule verdicts are emitted so a pipeline can audit WHY
    * a document was dropped. Rules: word count in [50, 100000], mean
    * word length in [3, 10], ≥2 stopword occurrences, and the most
    * frequent token covering ≤20% of the document.
    *
    * Scale: a single narrow scan, zero shuffles — the per-doc mode
    * count is array math bounded by tokens×types of one document, never
    * corpus-sized. The higher-order-function expressions sit outside
    * whole-stage codegen, but the stage stays scan-local; the 100-TB
    * cost is one pass over the corpus bytes.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withGopherRules(docs(spark, dir).select($"doc_id", $"text"), "text")
      .drop("text")
  }

  /** Word-bigram collocations by pointwise mutual information —
    * PMI = ln(p(ab) / (p(a)·p(b))) over adjacent token pairs, the
    * classic corpus-statistics pass for multi-word expressions ("new
    * york") a tokenizer or phrase-mining stage consumes. Bigram and
    * unigram counts are vocabulary-sized aggregates with map-side
    * combine off one scan each; the two totals are unpartitioned
    * windows over those vocabulary tables (no second corpus pass — the
    * q75/q76 lesson); the final join keys bigrams to their two unigram
    * counts (vocabulary joins, AQE-broadcast when small). `minCount`
    * suppresses the unstable low-frequency tail, exactly as Church &
    * Hanks prescribe. Top `k` by rounded PMI, ties broken by the pair.
    *
    * Scale: nothing corpus-sized survives the first aggregation, and
    * nothing VOCABULARY-sized funnels through one task either — the two
    * totals are one-row aggregates of the persisted count tables
    * crossJoin-broadcast back (an unpartitioned window would move the
    * whole growing vocabulary to a single partition). The pair stream
    * is adjacent-only (n−1 rows per n-token doc), never the quadratic
    * co-occurrence matrix; the tiny top-k result is checkpointed and
    * the count caches released.
    */
  def bigramPmi(spark: SparkSession, dir: String, k: Int = 20,
      minCount: Int = 5): DataFrame = {
    import spark.implicits._
    val uni = docs(spark, dir)
      .select(explode(toks).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cw"))
    // adjacent pairs: zip the array with itself shifted by one
    val pairs = docs(spark, dir)
      .select(toks.as("t"))
      .select(explode(zip_with(
        slice($"t", lit(1), greatest(size($"t") - 1, lit(0))),
        slice($"t", lit(2), greatest(size($"t") - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select($"p.w1".as("w1"), $"p.w2".as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    Memo.withPersisted(uni, pairs) {
      pairs
        .filter($"cb" >= minCount)
        .crossJoin(broadcast(pairs.agg(sum($"cb").as("n_bigrams"))))
        .join(uni.select($"w".as("w1"), $"cw".as("cw1")), Seq("w1"))
        .join(uni.select($"w".as("w2"), $"cw".as("cw2")), Seq("w2"))
        .crossJoin(broadcast(uni.agg(sum($"cw").as("n_tokens"))))
        .select($"w1", $"w2", $"cb", $"cw1", $"cw2",
          round(log(($"cb".cast("double") / $"n_bigrams") /
            (($"cw1".cast("double") / $"n_tokens") *
              ($"cw2".cast("double") / $"n_tokens"))), 6).as("pmi"))
        .orderBy($"pmi".desc, $"w1", $"w2")
        .limit(k)
        .localCheckpoint(true)
    }
  }

  /** Count-min-sketch token frequencies (q147): Spark's native
    * `count_min_sketch` aggregate folded over the token stream, probed
    * for the deterministic top-`k` tokens and checked against BOTH
    * sketch guarantees — never undercounts, overcounts by at most
    * ε·N with the configured confidence. The sketch is the streaming/
    * mergeable path to frequency under a fixed KB budget at 100 TB
    * (exact counts shuffle the vocabulary; the sketch is one fixed-size
    * map-side fold). Estimates are seed-deterministic but engine-
    * specific, so (the q29/q138 pattern) the oracle pins exact counts
    * and `true` guarantee booleans. The only driver-side step probes k
    * tokens against the collected KB-sized sketch — bounded by k, not
    * the corpus or the vocabulary.
    */
  def cmsTokenFreq(spark: SparkSession, dir: String, k: Int = 20,
      eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    import spark.implicits._
    val stream = docs(spark, dir)
      .select(explode(toks).as("tok")).filter($"tok" =!= "")
    Memo.withPersisted(stream) {
      val exact = stream.groupBy($"tok").agg(count(lit(1)).as("n_exact"))
        .orderBy($"n_exact".desc, $"tok").limit(k)
      val agg = stream.agg(
        expr(s"count_min_sketch(tok, ${eps}d, ${confidence}d, 42)").as("sk"),
        count(lit(1)).as("n_total")).head()
      val n = agg.getAs[Long]("n_total")
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(agg.getAs[Array[Byte]]("sk")))
      val bound = math.ceil(eps * n).toLong
      val rows = exact.collect().map { r =>
        val est = cms.estimateCount(r.getString(0))
        (r.getString(0), r.getLong(1), est >= r.getLong(1),
          est <= r.getLong(1) + bound)
      }
      spark.createDataFrame(rows.toSeq)
        .toDF("tok", "n_exact", "never_undercounts", "within_eps")
    }
  }

  /** Language-ID confusion matrix (q143): (true lang, predicted lang)
    * counts with per-true-lang recall — the eval view of the q23 scorer
    * that says WHICH languages the n-gram heuristic confuses, not just
    * how often. Composes [[langIdScores]] verbatim (one scan, scoring
    * in the projection) and adds a langs²-bounded aggregate + window.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    langIdScores(spark, dir)
      .groupBy($"true_lang", $"pred_lang").agg(count(lit(1)).as("n"))
      .withColumn("recall", round($"n".cast("double") /
        sum($"n").over(Window.partitionBy($"true_lang")), 6))
  }

  /** Skip-gram PMI at context distances 1..`window` (q137): the
    * co-occurrence statistic embedding training actually consumes —
    * adjacent-only PMI (q84) misses "hash ... join" at distance 2. Pair
    * generation is the same zip-with-shifted-self projection as q84 run
    * once per distance — a constant ×window map-side fan-out of the
    * token stream, never a per-doc position self-join (whose fan-out is
    * tokens² within a document). Count aggregates, two broadcast
    * unigram joins, deterministic (pmi, w1, w2) top-k.
    */
  def skipgramPmi(spark: SparkSession, dir: String, window: Int = 2,
      k: Int = 20, minCount: Int = 5): DataFrame = {
    import spark.implicits._
    val uni = docs(spark, dir)
      .select(explode(toks).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cw"))
    val arr = docs(spark, dir).select(toks.as("t"))
    val pairCols = (1 to window).map { d =>
      zip_with(
        slice($"t", lit(1), greatest(size($"t") - d, lit(0))),
        slice($"t", lit(d + 1), greatest(size($"t") - d, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    val pairs = arr
      .select(explode(flatten(array(pairCols: _*))).as("p"))
      .select($"p.w1".as("w1"), $"p.w2".as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("cp"))
    Memo.withPersisted(uni, pairs) {
      pairs
        .filter($"cp" >= minCount)
        .crossJoin(broadcast(pairs.agg(sum($"cp").as("n_pairs"))))
        .join(uni.select($"w".as("w1"), $"cw".as("cw1")), Seq("w1"))
        .join(uni.select($"w".as("w2"), $"cw".as("cw2")), Seq("w2"))
        .crossJoin(broadcast(uni.agg(sum($"cw").as("n_tokens"))))
        .select($"w1", $"w2", $"cp", $"cw1", $"cw2",
          round(log(($"cp".cast("double") / $"n_pairs") /
            (($"cw1".cast("double") / $"n_tokens") *
              ($"cw2".cast("double") / $"n_tokens"))), 6).as("pmi"))
        .orderBy($"pmi".desc, $"w1", $"w2")
        .limit(k)
        .localCheckpoint(true)
    }
  }

  /** The composite decontamination REPORT — the multi-signal gate a
    * production eval-protection pipeline actually runs: per eval
    * document, the n=3 exact-gram overlap (q63), the n=8 hashed-gram
    * overlap (q66) and the embedding-space max train cosine (q72),
    * with one `flagged` verdict over all three. Lexical overlap and
    * semantic similarity catch different leaks (verbatim spans vs
    * paraphrases), which is why the report carries all signals rather
    * than one winner. Composes the three oracle-gated operators
    * verbatim — doc and vector ids share the md5 split, so the eval
    * populations align; a doc absent from the n=3 result shares zero
    * 3-grams and coalesces to 0.
    *
    * Scale: each signal keeps its own documented shape (hash joins,
    * bucket-blocked cosine); the report adds only three eval-sized
    * left joins on the id.
    */
  def contaminationReport(spark: SparkSession, dir: String,
      frac3Threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val d3 = decontamination(spark, dir).select($"doc_id", $"shared_frac".as("sf3"))
    val d8 = decontaminationHashed(spark, dir)
      .select($"doc_id", $"shared_frac".as("shared_frac_n8"))
    Similarity.embeddingDecontamination(spark, dir)
      .select($"vec_id".as("doc_id"), $"max_train_cosine", $"contaminated")
      .join(d3, Seq("doc_id"), "left")
      .join(d8, Seq("doc_id"), "left")
      .select($"doc_id",
        round(coalesce($"sf3", lit(0.0)), 6).as("shared_frac_n3"),
        $"shared_frac_n8",
        $"max_train_cosine",
        (coalesce($"sf3", lit(0.0)) >= frac3Threshold ||
          coalesce($"shared_frac_n8" > 0, lit(false)) ||
          $"contaminated").as("flagged"))
  }

  /** Per-document character-class profile + Shannon entropy — the
    * gibberish/binary-junk detector of the quality battery (random bytes
    * score near the uniform-distribution maximum, templated spam scores
    * low; both tails get cut). The codegen'd `char_counts` expression
    * folds the doc into one char→count map in a single pass, and every
    * statistic is per-doc map math in the scan stage — zero shuffles,
    * never one-row-per-corpus-character (the q49 lesson). Entropy uses
    * H = ln(n) − (Σ c·ln c)/n over exact integer counts folded in
    * char-sorted order; rounded to 4 like every float-fold signal.
    */
  def charClassProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    def classCount(m: Column, lo: String, hi: String): Column =
      aggregate(map_entries(m), lit(0L),
        (acc, e) => acc + when(e.getField("key") >= lo && e.getField("key") <= hi,
          e.getField("value")).otherwise(lit(0L)))
    docs(spark, dir)
      .select($"doc_id", call_function("char_counts", $"text").as("m"),
        length($"text").cast("long").as("n_chars"))
      .select($"doc_id", $"n_chars",
        size(map_keys($"m")).cast("long").as("n_distinct_chars"),
        coalesce(element_at($"m", lit(" ")), lit(0L)).as("n_space"),
        classCount($"m", "0", "9").as("n_digit"),
        classCount($"m", "a", "z").as("n_alpha"),
        aggregate(map_values($"m"), lit(0.0),
          (acc, c) => acc + c.cast("double") * log(c.cast("double"))).as("sum_clnc"))
      .select($"doc_id", $"n_chars", $"n_distinct_chars",
        // empty docs get null ratios/entropy, not NaN/ln(0) — and the
        // oracle totals over documents so both sides emit the row
        when($"n_chars" > 0,
          round($"n_space".cast("double") / $"n_chars", 6)).as("space_frac"),
        when($"n_chars" > 0,
          round($"n_digit".cast("double") / $"n_chars", 6)).as("digit_frac"),
        when($"n_chars" > 0,
          round($"n_alpha".cast("double") / $"n_chars", 6)).as("alpha_frac"),
        when($"n_chars" > 0,
          round(log($"n_chars".cast("double")) - $"sum_clnc" / $"n_chars", 4))
          .as("char_entropy"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): per doc, hash every word n-gram, slide a w-window over
    * the hash sequence and keep each window's MINIMUM — the guaranteed-
    * coverage local fingerprint set (any shared substring of ≥ n+w−1
    * tokens shares a fingerprint) at ~1/w the density of the full gram
    * set. Emitted as count + an order-canonical md5 digest of the set,
    * so two docs' sets compare as scalars. Gram hash = first 32 md5
    * bits (the engine-portable construction the MinHash base uses), and
    * the whole computation is per-doc array math in the scan stage —
    * zero shuffles; downstream dedup joins on exploded fingerprints
    * exactly like shingles, at 1/w the volume.
    */
  def winnowingFingerprints(spark: SparkSession, dir: String,
      n: Int = 3, w: Int = 4): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", winnowGramHashes("t", n).as("g"))
      .select($"doc_id", $"g", winnowFps($"g", w).as("fps"))
      .select($"doc_id",
        size($"g").cast("long").as("n_grams"),
        greatest(size($"g") - w + 1, lit(0)).cast("long").as("n_windows"),
        size($"fps").cast("long").as("n_fingerprints"),
        md5(concat_ws(",", transform(array_sort($"fps"), x => x.cast("string"))))
          .as("fp_digest"))
  }

  /** The winnowing hash/selection pipeline split out so the fingerprint
    * REPORT (q91) and the candidate JOIN (q93) share one definition.
    * `t` names the materialized token column (the [[Dedup.ngramsOf]]
    * rule).
    */
  private def winnowGramHashes(t: String, n: Int): Column =
    transform(Dedup.ngramsOf(t, n),
      g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))

  private def winnowFps(g: Column, w: Int): Column =
    when(size(g) >= w,
      array_distinct(transform(sequence(lit(1), size(g) - w + 1),
        i => array_min(slice(g, i, lit(w))))))
      .otherwise(array().cast("array<bigint>"))

  /** CCNet-style per-language quality bucketing: split each language's
    * documents into head/middle/tail by unigram-LM score quantiles —
    * the calibration step that makes a perplexity filter comparable
    * ACROSS languages (an absolute threshold would gut low-resource
    * languages whose scores run higher). Thresholds are the exact
    * per-lang quartiles of [[unigramLogprob]]'s score; the bucket CASE
    * reads the ROUNDED thresholds on both engines.
    *
    * Scale: no per-lang window over the corpus (a 5-partition total
    * sort funnel — the q46 lesson). Thresholds come from one percentile
    * AGGREGATE (langs-sized output, the shared-buffer q37 shape) joined
    * back as a broadcast; bucket assignment is then a pure projection.
    * The scored table is cached because thresholds and assignment both
    * consume it — without it the unigram join pipeline runs twice.
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = unigramLogprob(spark, dir)
      .join(docs(spark, dir).select($"doc_id", $"lang"), "doc_id")
    Memo.withPersisted(scored) {
      val th = scored.groupBy($"lang")
        .agg(expr("percentile(avg_neg_logprob, array(0.25D, 0.75D))").as("ps"))
        .select($"lang", round($"ps"(0), 4).as("t1"), round($"ps"(1), 4).as("t2"))
      scored.join(broadcast(th), "lang")
        .select($"doc_id", $"lang", $"avg_neg_logprob",
          when($"avg_neg_logprob" <= $"t1", "head")
            .when($"avg_neg_logprob" <= $"t2", "middle")
            .otherwise("tail").as("bucket"))
        .localCheckpoint(true)
    }
  }

  /** Near-dup candidates from shared winnowing fingerprints — the
    * [[winnowingFingerprints]] sets put to work as a candidate
    * generator: explode each doc's fingerprint set and bucket-join on
    * the fingerprint, exactly the MinHash-banding shape (q15) at ~1/w
    * the row volume of a full shingle join, with winnowing's coverage
    * guarantee (any ≥ n+w−1-token overlap shares a fingerprint, so
    * long-span duplicates cannot be missed). `minShared` suppresses
    * single-fingerprint coincidences; downstream exact verification
    * (q16/q39 Jaccard) consumes these pairs as it does MinHash's.
    *
    * Scale: output-bound, and pair count is quadratic in per-fingerprint
    * duplication (ScaleBench: 10×-replicated corpus → 1.03M pairs,
    * 38.7 s — ~0.3 ms/pair vs 8.1k pairs in 2.6 s at 1×). On dup-heavy
    * corpora run exact dedup FIRST and fingerprint only the keepers —
    * the q39 composition rule, verbatim.
    */
  def winnowingCandidates(spark: SparkSession, dir: String,
      n: Int = 3, w: Int = 4, minShared: Int = 2): DataFrame = {
    import spark.implicits._
    val fp = docs(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", winnowGramHashes("t", n).as("g"))
      .select($"doc_id", explode(winnowFps($"g", w)).as("fp"))
    fp.as("a")
      .join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
  }

  /** The per-doc distinct (term, doc_id) projection behind the inverted
    * index. The distinct is LOCAL to the row — `array_distinct` before
    * the explode — because each doc_id owns exactly one document row, so
    * no cross-row shuffle is ever needed to dedup (the naive
    * explode-then-distinct shape pays a full (term, doc) exchange for
    * nothing). Stateless, which is what lets the streaming index twin
    * ([[graft.streaming.DocStreams.indexStream]]) share it verbatim.
    */
  private[graft] def termDocs(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))

  /** The MERGEABLE half of the index aggregate: document frequency and
    * TWO order-independent posting digests over a per-doc md5 prefix —
    * bit_xor (the q94 manifest technique) and the AdHash sum mod 2⁶¹−1
    * (see `PipelinePrep.adhashP`: the xor digest cannot see an even
    * number of identical insertions; the sum digest can). ONE
    * column-list definition serves the batch build (which appends the
    * order-canonical md5) and the streaming twin — XOR, SUM and count
    * all commute, so per-micro-batch state converges to the batch
    * answer, and per-shard index builds merge without re-reading
    * postings.
    */
  private def mergeableIndexCols: Seq[Column] = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    Seq(
      count(lit(1)).as("df"),
      bit_xor(h).as("posting_xor"),
      (sum(h.cast("decimal(38,0)")) % lit(graft.ops.PipelinePrep.adhashP))
        .cast("long").as("posting_sum"))
  }

  private[graft] def indexAgg(td: DataFrame): DataFrame =
    td.groupBy(col("term"))
      .agg(mergeableIndexCols.head, mergeableIndexCols.tail: _*)

  /** Inverted-index construction: one row per term with document
    * frequency, an order-canonical digest of the posting list (md5 of
    * the sorted id list) and the mergeable xor digest — the batch
    * index-build pass behind BM25/phrase retrieval. Postings are
    * digested rather than materialized as an array column: the
    * engine-side contract a sharded index verifies against, and what
    * keeps the oracle compare scalar.
    *
    * Scale: ONE shuffle — the per-doc row-local distinct feeds the
    * vocabulary-keyed aggregate with map-side combine directly. A
    * common term's posting list is corpus-sized — a production index
    * SHARDS postings (term, shard) exactly like q94 shards documents;
    * the md5 contract composes over sorted id ranges, the xor contract
    * composes over ANY partitioning. `minDf` drops hapax noise.
    */
  def invertedIndex(spark: SparkSession, dir: String, minDf: Int = 2): DataFrame = {
    import spark.implicits._
    val aggs = mergeableIndexCols :+
      md5(concat_ws(",",
        transform(sort_array(collect_list($"doc_id")), x => x.cast("string"))))
        .as("posting_digest")
    termDocs(docs(spark, dir))
      .groupBy($"term")
      .agg(aggs.head, aggs.tail: _*)
      .filter($"df" >= minDf)
  }

  /** Index-accelerated exact phrase search: candidate docs from the
    * word-gram hash index (every doc whose gram set contains the
    * phrase's hash — the q91/q77 gram machinery as a SEARCH structure),
    * then exact substring verification on the candidates only. The
    * verify step can never be wrong (contains() on the raw text); the
    * index step makes it cheap — at 100 TB the gram hashes are the
    * precomputed posting table and the candidate fetch touches ONE
    * hash key instead of scanning every document; a false candidate
    * (64-bit collision) is filtered by the verify — membership is
    * exact; the per-doc occurrence COUNT is exact up to a residual
    * 2⁻⁶⁴ per-gram collision (a colliding gram in a doc that also
    * genuinely contains the phrase would inflate its count). Here both
    * steps fuse into a single scan — contains() short-circuits first,
    * so gram hashing runs only on substring survivors — no second read
    * of the corpus, no join.
    */
  def phraseSearch(spark: SparkSession, dir: String,
      phrase: String = "big order scan"): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    val n = phrase.split(" ", -1).length
    docs(spark, dir)
      .select($"doc_id", $"text",
        // occurrences of the phrase as a WORD n-gram (not mid-token)
        size(filter(call_function("gram_hashes", $"text", lit(n)),
          h => h === xxhash64(lit(phrase)))).cast("long").as("n_occurrences"))
      .filter($"text".contains(phrase) && $"n_occurrences" > 0)
      .select($"doc_id", $"n_occurrences")
  }

  /** BM25 relevance ranking (Robertson/Spärck Jones, the Lucene-default
    * scoring): top-k documents for a fixed query term set, with the
    * +1-smoothed idf (always positive, so common terms rank by tf
    * instead of flipping negative). The per-doc stage is ZERO-shuffle:
    * one scan computes document length and each query term's tf as
    * array math — the query is a handful of terms, so tf columns beat
    * an explode + isin join by the whole corpus-sized generator. The
    * corpus stats (N, avgdl, per-term df) are ONE one-row aggregate of
    * that same cached per-doc table, cross-joined back as a broadcast —
    * at 100 TB this is a scan plus a scalar, and the top-k is a
    * TakeOrdered, never a global sort.
    *
    * Constants are written as plain literals (2.2 = k1+1, 0.25 = 1−b)
    * on BOTH engines, so no derived double can differ in its last bit.
    */
  def bm25TopK(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "join", "window"),
      k: Int = 15): DataFrame = {
    import spark.implicits._
    val perDoc = docs(spark, dir)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id" +: size($"t").cast("long").as("dl") +:
        terms.zipWithIndex.map { case (tm, i) =>
          size(filter($"t", x => x === tm)).cast("long").as(s"tf$i")
        }: _*)
    Memo.withPersisted(perDoc) {
      val statAggs =
        count(lit(1)).as("n_docs") +: avg($"dl").as("avgdl") +:
          terms.indices.map(i =>
            sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))
      val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
      // one term of the BM25 sum; literal-for-literal the oracle's text
      val termScore = terms.indices.map { i =>
        val tf = col(s"tf$i").cast("double")
        val df = col(s"df$i")
        when(col(s"tf$i") > 0,
          log((($"n_docs" - df).cast("double") + lit(0.5)) /
              (df.cast("double") + lit(0.5)) + lit(1.0)) *
            (tf * lit(2.2)) /
            (tf + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl".cast("double") / $"avgdl")))
          .otherwise(lit(0.0))
      }.reduce(_ + _)
      perDoc.crossJoin(broadcast(stats))
        .select($"doc_id", $"dl".as("n_tokens"), round(termScore, 6).as("score"))
        .filter($"score" > 0)
        .orderBy($"score".desc, $"doc_id")
        .limit(k)
        .localCheckpoint(true)
    }
  }

  /** Per-source distribution drift: KL(source ‖ corpus) over unigram
    * distributions — the corpus-curation pass that flags sources whose
    * vocabulary usage diverges from the mix (scraped spam, wrong-domain
    * feeds) before they skew training. KL against the corpus mixture is
    * always finite (every source token occurs in the corpus by
    * construction), unlike source-vs-source KL.
    *
    * Scale: the corpus scan ends at the FIRST aggregate — (source, word)
    * counts with map-side combine. Corpus word counts, per-source totals
    * and the corpus total all derive from that vocabulary-sized table
    * (no second corpus pass, the q84 lesson); the one-row total rides
    * back as a broadcast cross join. Rounded to 4: the KL sum is a
    * float reduction whose merge order Spark doesn't pin (the q64
    * precedent).
    */
  private val sourceDivCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Long), DataFrame]

  def sourceDivergence(spark: SparkSession, dir: String): DataFrame =
    // memoized (round-13 optimization): q87 is also recomputed wholesale
    // inside q100's health report — the sources-sized checkpointed frame
    // is served once per (session, corpus fingerprint)
    Memo.cached(sourceDivCache,
        (spark, dir, Memo.fingerprint(spark, s"$dir/documents.parquet")),
        label = "sourceDivergence") {
      sourceDivergenceUncached(spark, dir)
    }

  private def sourceDivergenceUncached(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val sw = docs(spark, dir)
      .select($"source", explode(toks).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("cw"))
    Memo.withPersisted(sw) {
      val corpus = sw.groupBy($"w").agg(sum($"cw").as("ct"))
      val perSource = sw.groupBy($"source").agg(sum($"cw").as("ts"))
      val total = corpus.agg(sum($"ct").as("tc"))
      val p = $"cw".cast("double") / $"ts"
      val q = $"ct".cast("double") / $"tc"
      sw.join(corpus, "w")
        .join(broadcast(perSource), "source")
        .crossJoin(broadcast(total))
        .groupBy($"source")
        .agg(
          max($"ts").as("n_tokens"),
          count(lit(1)).as("n_types"),
          round(sum(p * log(p / q)), 4).as("kl_divergence"))
        .localCheckpoint(true)
    }
  }

  /** Source-vocabulary overlap matrix: Jaccard over each source pair's
    * DISTINCT word sets — the coarse complement of [[sourceDivergence]]
    * (KL weighs frequencies; this asks only "do these feeds even speak
    * the same vocabulary", the cheap first split between same-domain
    * mirrors and unrelated feeds).
    *
    * Scale: the corpus scan ends at the distinct (source, word) table —
    * vocabulary × sources bounded, like q87's first aggregate. The
    * word-keyed self-join fans out at most sources²/2 pairs per word
    * (sources is small and fixed; the vocabulary grows, the pair space
    * doesn't), and per-source set sizes broadcast back.
    */
  def sourceVocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sv = docs(spark, dir)
      .select($"source", explode(toks).as("w")).distinct()
    Memo.withPersisted(sv) {
      val sizes = sv.groupBy($"source").agg(count(lit(1)).as("n"))
      sv.as("a")
        .join(sv.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("common"))
        .join(broadcast(sizes.select($"source".as("source_a"), $"n".as("na"))), "source_a")
        .join(broadcast(sizes.select($"source".as("source_b"), $"n".as("nb"))), "source_b")
        .select($"source_a", $"source_b", $"common",
          Dedup.jaccard6($"common", $"na", $"nb").as("jaccard"))
        .localCheckpoint(true)
    }
  }

  /** The rule battery as appended columns over any frame with a raw
    * text column — STATELESS, so the batch query (q78) and the
    * streaming ingest gate (DocStreams.ruleGate) share one definition
    * and the verdicts cannot drift between the two surfaces.
    */
  private[graft] def withGopherRules(df: DataFrame, textCol: String): DataFrame = {
    import df.sparkSession.implicits._
    // every emitted name is written with withColumn — a caller column of
    // the same name would be silently REPLACED and then selected back
    // under the caller's schema (the Ranking.topKPerGroup hazard)
    val emitted = Seq("__t", "n_words", "mean_word_len", "n_stop",
      "top_word_frac", "r_word_count", "r_mean_word_len", "r_stopwords",
      "r_repetition", "keep")
    emitted.foreach(c => require(!df.columns.contains(c),
      s"withGopherRules emits `$c`; input already has it"))
    val stopwords = Seq("the", "a", "of", "and", "to")
    df
      .withColumn("__t", split(col(textCol), " "))
      .withColumn("n_words", size($"__t").cast("long"))
      // single-space separation: chars = sum(len) + n - 1 (q22 trick)
      .withColumn("mean_word_len",
        round((length(col(textCol)) - size($"__t") + 1).cast("double") /
          size($"__t"), 6))
      .withColumn("n_stop",
        size(filter($"__t", x => x.isin(stopwords: _*))).cast("long"))
      .withColumn("top_word_frac",
        round(array_max(transform(array_distinct($"__t"),
          w => size(filter($"__t", x => x === w)))).cast("double") /
          size($"__t"), 6))
      .drop("__t")
      .withColumn("r_word_count", $"n_words" >= 50 && $"n_words" <= 100000)
      .withColumn("r_mean_word_len", $"mean_word_len" >= 3 && $"mean_word_len" <= 10)
      .withColumn("r_stopwords", $"n_stop" >= 2)
      .withColumn("r_repetition", $"top_word_frac" <= 0.2)
      .withColumn("keep",
        $"r_word_count" && $"r_mean_word_len" && $"r_stopwords" && $"r_repetition")
  }

  /** Corpus Zipf profile (q119): token types and occurrences grouped
    * into power-of-two frequency classes, with the cumulative share of
    * all occurrences covered by classes at-or-above each class — the
    * head-coverage curve that sizes a tokenizer vocabulary ("the top
    * classes cover X% of the corpus") without EVER ranking the
    * vocabulary: a global row_number over a 100-TB corpus's vocab is a
    * single-partition sort, while the frequency-class histogram is one
    * token-count aggregate plus a window over ≤64 rows. The class index
    * is `length(bin(count)) - 1` = floor(log2) in exact integer/string
    * arithmetic — no floating log for the engines to disagree on.
    */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val classes = counts
      .withColumn("freq_class", (length(bin($"cnt")) - 1).cast("long"))
      .groupBy($"freq_class")
      .agg(count(lit(1)).as("n_types"), sum($"cnt").as("occurrences"))
    val wDesc = Window.orderBy($"freq_class".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = Window.partitionBy()
    classes
      .withColumn("cum_occurrences", sum($"occurrences").over(wDesc))
      .withColumn("coverage",
        round($"cum_occurrences" / sum($"occurrences").over(total), 6))
  }

  /** Tokenizer vocabulary coverage / OOV rate per language (q127): fix
    * the top-`k` corpus tokens (count desc, token asc — the tie at the
    * rank-k boundary is deterministic) as the "vocabulary", then measure
    * per language the share of token OCCURRENCES falling outside it plus
    * the distinct OOV type count — the first number a tokenizer budget
    * decision needs.
    *
    * Scale: the vocabulary is top-k of a token-count aggregate
    * (TakeOrdered, never a full vocab sort) and joins back by broadcast
    * — k rows against the exploded corpus; the per-lang rollup
    * map-side-combines. Nothing is ever corpus-sized but the scan.
    */
  def vocabOov(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    val tokens = docs(spark, dir)
      .select($"lang", explode(toks).as("tok"))
      .filter($"tok" =!= "")
    val vocab = tokens.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok").limit(k)
      .select($"tok", lit(1).as("in_vocab"))
    tokens.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when($"in_vocab".isNull, $"tok")).as("n_oov_types"))
      .withColumn("oov_rate", round($"n_oov".cast("double") / $"n_tokens", 6))
  }

  /** Heaps-law vocabulary growth curve (q131): distinct token types seen
    * within the first 2^c documents, for every power-of-two ladder rung
    * — the sizing curve for "how much more vocab does 10× more data
    * buy". Each token carries only its FIRST document (a min aggregate);
    * the ladder class is exact integer log2 via binary-string length
    * (the q119 trick) and the cumulative window runs over ≤64 rung rows.
    * Never ranks or re-scans: one explode + one token-keyed aggregate.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val firstDoc = docs(spark, dir)
      .select($"doc_id", explode(toks).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok").agg(min($"doc_id").as("first_doc"))
    val rungs = firstDoc
      .withColumn("ladder", (length(bin($"first_doc" + 1)) - 1).cast("long"))
      .groupBy($"ladder").agg(count(lit(1)).as("new_types"))
    rungs
      .withColumn("cum_vocab", sum($"new_types").over(
        Window.orderBy($"ladder")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("docs_seen", expr("2L * shiftleft(1L, cast(ladder as int)) - 1L"))
  }

  /** PII / sensitive-content scrub profile per source (q121): the
    * redaction pass every corpus runs before release. Three detector
    * families — emails, IPv4 literals, and a configurable sensitive-term
    * list — each counted per document, plus the total character delta a
    * term redaction would remove. The synthetic corpus contains no real
    * PII, so the email/IPv4 columns exercise the structural path (and
    * honestly report 0), while the term detector matches live tokens —
    * the oracle checks real non-zero values end to end.
    *
    * All regex work (`rlike`, `regexp_extract_all`, `regexp_replace`) is
    * codegen'd per-row scan projection — no UDF, no explode; the only
    * shuffle is the per-source aggregate over ~source-many keys. The
    * patterns stay inside the RE2 ∩ java.util.regex common subset
    * (character classes, bounded repeats, `\b`, alternation — no
    * lookarounds/backrefs) so the DuckDB oracle evaluates the SAME
    * pattern strings.
    */
  def piiScrub(spark: SparkSession, dir: String,
      termPattern: String = "\\b(customer|key|value)\\b"): DataFrame = {
    import spark.implicits._
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
    docs(spark, dir)
      .select($"source",
        $"text".rlike(email).cast("long").as("has_email"),
        $"text".rlike(ipv4).cast("long").as("has_ipv4"),
        $"text".rlike(termPattern).cast("long").as("has_term"),
        size(regexp_extract_all($"text", lit(termPattern), lit(0)))
          .cast("long").as("n_terms"),
        (length($"text") -
          length(regexp_replace($"text", termPattern, "[X]")))
          .cast("long").as("redacted_chars"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"has_email").as("n_email_docs"),
        sum($"has_ipv4").as("n_ipv4_docs"),
        sum($"has_term").as("n_term_docs"),
        sum($"n_terms").as("n_term_matches"),
        sum($"redacted_chars").as("n_redacted_chars"))
  }

  /** Per-document Shannon entropy of the token distribution (q152) — the
    * information-density quality signal (low entropy = repetitive/
    * boilerplate text, the q52 ratio's principled cousin). Computed with
    * ZERO shuffles: sort each doc's token array and fold it once,
    * accumulating run lengths and Σ c·ln c as runs close — entropy =
    * ln n − (Σ c·ln c)/n falls out of the final accumulator, all inside
    * the scan projection. No (doc, token) explode, no corpus-sized
    * aggregation; the plan is a pure narrow map at any scale. The
    * oracle recomputes per-doc counts the explode-and-group way, so the
    * run-length fold is value-checked against an independent
    * construction (summation order differs → round(4)).
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", array_sort(toks).as("t"))
      .select($"doc_id", expr(
        """aggregate(
          |  t,
          |  named_struct('prev', cast(null as string), 'run', 0L,
          |    'n', 0L, 'types', 0L, 's', 0.0d),
          |  (acc, x) -> if(acc.prev is null or x != acc.prev,
          |    named_struct('prev', x, 'run', 1L, 'n', acc.n + 1L,
          |      'types', acc.types + 1L,
          |      's', acc.s + if(acc.run > 1L,
          |        acc.run * ln(cast(acc.run as double)), 0.0d)),
          |    named_struct('prev', x, 'run', acc.run + 1L, 'n', acc.n + 1L,
          |      'types', acc.types, 's', acc.s)),
          |  acc -> named_struct('n', acc.n, 'types', acc.types,
          |    's', acc.s + if(acc.run > 1L,
          |      acc.run * ln(cast(acc.run as double)), 0.0d)))
          |""".stripMargin).as("e"))
      .select($"doc_id", $"e.n".as("n_tokens"), $"e.types".as("n_types"),
        round(log($"e.n".cast("double")) - $"e.s" / $"e.n", 4).as("entropy"),
        when($"e.types" > 1,
          round((log($"e.n".cast("double")) - $"e.s" / $"e.n")
            / log($"e.types".cast("double")), 6)).as("norm_entropy"))
  }

  /** Vocabulary concentration per source (q155): the Gini coefficient of
    * each source's token-frequency distribution — 0 = every type equally
    * frequent, →1 = a few types dominate. Complements q119's Zipf curve
    * (shape of the head) with a single inequality number a curation
    * dashboard can threshold. Gini = 2·Σᵢ i·fᵢ / (n·Σf) − (n+1)/n over
    * frequencies sorted ascending (ties broken by token so the rank
    * assignment — though not the Gini value, which is tie-invariant — is
    * deterministic). Every term is an exact integer sum; one double
    * division at the end. The corpus-sized work is the map-side-combined
    * (source, token) count; the rank window runs over each source's
    * VOCABULARY (Heaps-law-bounded), not its token stream.
    */
  def vocabGini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = docs(spark, dir)
      .select($"source", explode(toks).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("f"))
    val ranked = freq.withColumn("i", row_number().over(
      Window.partitionBy($"source").orderBy($"f", $"tok")))
    ranked.groupBy($"source")
      .agg(count(lit(1)).as("n_types"), sum($"f").as("n_tokens"),
        sum($"i" * $"f").as("sif"))
      .select($"source", $"n_types", $"n_tokens",
        round(lit(2.0) * $"sif" / ($"n_types" * $"n_tokens")
          - ($"n_types" + lit(1.0)) / $"n_types", 6).as("gini"))
  }

  /** Lang × source dependence audit (q158): per contingency cell the
    * observed count, independence-expected count, pointwise mutual
    * information and the cell's contributions to total MI and chi².
    * The "is my language mix confounded with my crawl sources?" check a
    * curation dashboard runs before per-source sampling decisions —
    * corr() can't see it because both variables are categorical.
    *
    * Scale: the corpus-sized work is ONE map-side-combined (lang,
    * source) count; marginals and the grand total are window sums over
    * the CELL table (langs × sources rows — vocabulary-bounded, so the
    * single-partition global window is a few-hundred-row driver-free
    * reduction, the same boundedness argument as q118's profile).
    */
  def langSourceMI(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = docs(spark, dir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
    val enriched = cells
      .withColumn("n_lang", sum($"n").over(Window.partitionBy($"lang")))
      .withColumn("n_source", sum($"n").over(Window.partitionBy($"source")))
      .withColumn("total", sum($"n").over(Window.partitionBy()))
    enriched.select($"lang", $"source", $"n",
        round($"n_lang" * $"n_source" / $"total".cast("double"), 6)
          .as("expected"),
        round(log($"n" * $"total" / ($"n_lang" * $"n_source").cast("double")),
          6).as("pmi"),
        round(($"n" / $"total".cast("double")) *
          log($"n" * $"total" / ($"n_lang" * $"n_source").cast("double")), 6)
          .as("mi_contrib"),
        round(pow($"n" - $"n_lang" * $"n_source" / $"total".cast("double"), 2)
          / ($"n_lang" * $"n_source" / $"total".cast("double")), 4).as("chi2"))
  }

  /** Misra–Gries heavy hitters vs exact truth (q166): one capacity-k
    * [[graft.functions.MisraGries]] typed-Aggregator fold over the token
    * stream beside the exact counts, reporting the deterministic top
    * `kReport` tokens with BOTH sketch guarantees checked per token —
    * stored(x) ≤ true(x) and true(x) − stored(x) ≤ n/(capacity+1),
    * stored(x) = 0 when evicted. The q147 pattern: stored values are
    * merge-order-dependent, so the oracle pins exact counts and `true`
    * booleans, never the sketch internals.
    *
    * Scale: the summary is capacity-bounded per partition partial and
    * merges in one constant-size reduction — frequency monitoring
    * without shuffling the vocabulary. The exact side (the audit
    * baseline) is a map-side-combined vocabulary aggregate; its top-k
    * rides [[graft.ops.Ranking.topKGlobal]] (TakeOrderedAndProject +
    * k-row rank join) so no task ever sorts the full type table.
    */
  def mgHeavyHitters(spark: SparkSession, dir: String, capacity: Int = 20,
      kReport: Int = 10): DataFrame = {
    import spark.implicits._
    val tok = docs(spark, dir).select(explode(toks).as("tok"))
    val summary = tok.agg(
      graft.functions.MisraGries.mgSummary(capacity)($"tok").as("mg"))
    val totals = tok.agg(count(lit(1)).as("n_total"))
    val top = Ranking.topKGlobal(
      tok.groupBy($"tok").agg(count(lit(1)).as("n_exact")),
      Seq("n_exact" -> true, "tok" -> false), kReport)
    val est = coalesce(element_at($"mg", $"tok"), lit(0L))
    top.crossJoin(broadcast(summary)).crossJoin(broadcast(totals))
      .select($"tok".as("token"), $"n_exact", $"rk",
        (est <= $"n_exact" && ($"n_exact" - est).cast("double") <=
          $"n_total".cast("double") / (capacity + 1)).as("within_bound"))
  }

  /** Source keyness (q172): the tokens that DISTINGUISH each source from
    * the rest of the corpus, ranked by signed chi² on the 2×2 table
    * (token-in-source vs token-elsewhere) — corpus-linguistics keyness,
    * the "what is this crawl actually full of?" fingerprint that raw
    * top-k frequency can't show (it returns the same stopwords for every
    * source). Keeps each source's top `k` positively-associated tokens;
    * expected counts from the independence margins, sign from observed −
    * expected.
    *
    * Scale: one map-side-combined (source, token) count; marginals are
    * windows over the vocabulary-sized count table (Heaps-bounded), and
    * the per-source ranking windows run over each source's vocabulary.
    * Nothing re-touches the corpus after the first aggregate.
    */
  def sourceKeyness(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val cells = docs(spark, dir)
      .select($"source", explode(toks).as("token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("n"))
    // the corpus total rides a one-row broadcast cross join (q48 idiom) —
    // a Window.partitionBy() here would funnel the vocabulary-sized
    // (source, token) table through one task
    val tot = cells.agg(sum($"n").as("total"))
    val enriched = cells
      .withColumn("n_source", sum($"n").over(Window.partitionBy($"source")))
      .withColumn("n_token", sum($"n").over(Window.partitionBy($"token")))
      .crossJoin(broadcast(tot))
    // chi² is ROUNDED BEFORE ranking (the q67 rule): the rank must be a
    // function of the very values the oracle compares, or a last-ulp
    // libm difference flips adjacent ranks
    val scored = enriched
      .withColumn("expected",
        $"n_source" * $"n_token" / $"total".cast("double"))
      .filter($"n" > $"expected")
      .withColumn("chi2",
        round(pow($"n" - $"expected", 2) / $"expected", 6))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy($"source")
        .orderBy($"chi2".desc, $"token")).cast("long"))
      .filter($"rk" <= k)
      .select($"source", $"token", $"n", round($"expected", 4).as("expected"),
        $"chi2", $"rk")
  }

  /** Exact ROC-AUC of the q23 English marker score as a detector of
    * lang='en' (q179): the Mann–Whitney rank-sum identity
    * AUC = (Σ midrank(positives) − P(P+1)/2) / (P·N), with MIDRANKS for
    * tied scores — the exact probability a random (positive, negative)
    * pair is ordered correctly, counting ties as ½. This is the "is my
    * quality/langid classifier any good" eval primitive that a filtering
    * pipeline needs before it trusts a score threshold.
    *
    * Scale: NO per-document rank at all. A doc's midrank is a pure
    * function of its score VALUE — cumBefore(v) + (cnt(v)+1)/2 — so the
    * whole statistic reduces to the score value-frequency table (≤10⁶+1
    * rows for a 6-dp score): one map-side-combined aggregate off the
    * scan, `Ranking.prefixCum`'s bucket-split exclusive prefix for
    * cumBefore, and rank_sum = Σ_v pos_cnt(v)·midrank(v). No corpus
    * sort, no SinglePartition window (the q149 Spearman construction,
    * generalized). Scores are rounded to 6 BEFORE the frequency table
    * so the tie structure is identical across engines; midranks are
    * halves of integers, so the products are exact. Output is one row.
    */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = docs(spark, dir)
      .select(($"lang" === "en").as("pos"), toks.as("t"))
      .select($"pos",
        round(size(filter($"t", tk => tk.isin("the", "a", "and")))
          .cast("double") / size($"t"), 6).as("score"))
    val freq = scored.groupBy($"score")
      .agg(count(lit(1)).as("cnt"),
        sum(when($"pos", 1L).otherwise(0L)).as("pos_cnt"))
    Ranking.prefixCum(freq, Nil, $"score", Seq($"score"), $"cnt")
      .withColumn("midrank", $"cum_before" + ($"cnt" + 1) / lit(2.0))
      .agg(
        sum($"pos_cnt").as("n_pos"),
        sum($"cnt" - $"pos_cnt").as("n_neg"),
        sum($"pos_cnt" * $"midrank").as("rank_sum"))
      .select($"n_pos", $"n_neg",
        round(($"rank_sum" - $"n_pos" * ($"n_pos" + 1) / 2.0)
          / ($"n_pos" * $"n_neg"), 6).as("auc"))
  }

  /** Calibration reliability bins (q181): the q179 companion — AUC says
    * the score RANKS well, calibration says whether its VALUE means
    * anything. Equal-count deciles of the q23 en-marker score, each with
    * its mean predicted score and observed positive rate; the per-bin
    * |gap| is the reliability-diagram deviation an ECE would average.
    *
    * Scale: one scan for the score, then the global rank is DECOMPOSED —
    * rn = (#docs with a smaller score) + (#same-score docs with a smaller
    * doc_id) + 1. The first term is a value-frequency prefix over the
    * ≤10⁶-row distinct-score table; the second ranks doc_ids WITHIN each
    * score tie, bucket-split by doc_id so a hot score value spreads over
    * `buckets` tasks. Both run on `Ranking.prefixCum` — no corpus-wide
    * sort, no SinglePartition window anywhere; n_total arrives by
    * broadcast, not a count-over-everything window. Scores are 6-dp
    * rationals, so the per-bin mean is summed in exact integer
    * MICRO-units and divided once — a double sum's order-dependence
    * would make the 6-dp rounding engine-dependent (the q173 lesson).
    */
  def calibrationBins(spark: SparkSession, dir: String,
      nBins: Int = 10): DataFrame = {
    import spark.implicits._
    val scored = docs(spark, dir)
      .select(($"lang" === "en").as("pos"), $"doc_id", toks.as("t"))
      .select($"pos", $"doc_id",
        round(size(filter($"t", tk => tk.isin("the", "a", "and")))
          .cast("double") / size($"t"), 6).as("score"))
    val freq = scored.groupBy($"score").agg(count(lit(1)).as("cnt"))
    val below = Ranking.prefixCum(freq, Nil, $"score", Seq($"score"), $"cnt")
      .select($"score", $"cum_before".as("below"))
    val tot = freq.agg(sum($"cnt").as("n_total"))
    Ranking.prefixCum(scored, Seq("score"), $"doc_id", Seq($"doc_id"), lit(1L))
      .join(below, Seq("score"))
      .withColumn("rn", ($"below" + $"cum_before" + 1).cast("long"))
      .drop("below", "cum_before")
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr(s"((rn - 1) * $nBins) div n_total"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"pos", 1L).otherwise(0L)).as("n_pos"),
        sum(round($"score" * 1000000).cast("long")).as("score_micro"))
      .select($"bin", $"n_docs", $"n_pos",
        round($"score_micro" / ($"n_docs" * 1000000.0), 6)
          .as("mean_score"),
        round($"n_pos".cast("double") / $"n_docs", 6).as("pos_rate"))
      .withColumn("gap", round(abs($"mean_score" - $"pos_rate"), 6))
  }

  /** Burrows' Delta stylometric distance between sources (q183): the
    * classic authorship-attribution measure — relative frequencies of
    * the corpus's top `m` function words, z-scored ACROSS sources per
    * word (so every word contributes on the same scale regardless of
    * its absolute frequency), then Delta(s₁,s₂) = mean |z₁ − z₂|. Where
    * q87's KL asks "does this source's word DISTRIBUTION diverge", Delta
    * asks "does its STYLE differ on the words everyone uses" — the
    * signal that catches machine-generated or templated feeds whose
    * topic mix looks normal.
    *
    * Scale: one (source, token) aggregate off the corpus scan; the top-m
    * pick and the z-scores run on the vocabulary- and sources-sized
    * tables, and the pairwise matrix is sources², never corpus-sized.
    * Frequencies are fixed to 6-dp integer micro-units before the
    * cross-source moments so both engines see identical inputs.
    */
  def burrowsDelta(spark: SparkSession, dir: String,
      m: Int = 20): DataFrame = {
    import spark.implicits._
    val cells = docs(spark, dir)
      .select($"source", explode(toks).as("token"))
      .filter(length($"token") >= 1)
      .groupBy($"source", $"token").agg(count(lit(1)).as("n"))
    val srcTotals = cells.groupBy($"source").agg(sum($"n").as("n_source"))
    val top = cells.groupBy($"token").agg(sum($"n").as("n_global"))
      .orderBy($"n_global".desc, $"token").limit(m)
      .select($"token")
    // dense sources × top-m grid: absent cells are REAL zeros, not
    // missing rows — a sparse z-score would bias every mean upward
    val grid = srcTotals.crossJoin(broadcast(top))
      .join(cells, Seq("source", "token"), "left")
      .select($"source", $"token",
        round(coalesce($"n", lit(0L)) * 1000000.0 / $"n_source")
          .cast("long").as("f_micro"))
    // moments in exact integer arithmetic (scaled deviation
    // ds = f·n − Σf stays i64), so the z-scores are bit-identical
    // across engines — a double sum's partition order is not
    val byTok = Window.partitionBy($"token")
    val z = grid
      .withColumn("nsrc", count(lit(1)).over(byTok))
      .withColumn("s", sum($"f_micro").over(byTok))
      .withColumn("ds", $"f_micro" * $"nsrc" - $"s")
      .withColumn("ssq", sum($"ds" * $"ds").over(byTok))
      .withColumn("sd", sqrt($"ssq".cast("double") / pow($"nsrc", 3)))
      .select($"source", $"token",
        round(($"ds".cast("double") / $"nsrc") /
          when($"sd" > 0, $"sd").otherwise(lit(1.0)), 6).as("z"))
    z.as("a").join(z.as("b"),
        $"a.token" === $"b.token" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(round(avg(abs($"a.z" - $"b.z")), 4).as("delta"),
        count(lit(1)).as("n_words"))
  }

  /** Two-component Gaussian-mixture EM on log document length (q182),
    * `iters` fixed rounds — the soft-clustering companion to q74's hard
    * Lloyd assignment: doc-length distributions are classically bimodal
    * (snippets vs articles), and the fitted mixture is how a pipeline
    * picks a PRINCIPLED length cutoff instead of an eyeballed one. Each
    * round scores every doc's responsibility under the current
    * (π, μ, σ) literals, aggregates soft counts, and updates on the
    * driver; the emitted table is the full (iter, component) parameter
    * trajectory, so convergence is visible, not just the endpoint.
    *
    * Scale: the q74/q105 iterative pattern — per round ONE corpus scan
    * against broadcast literal parameters (the E-step is codegen'd
    * arithmetic in the projection, no shuffle), a 5-value aggregate, a
    * one-row driver collect. Aggregates are rounded to 4 before the
    * M-step (q105 rule) so both engines re-broadcast identical
    * parameters; component-2 sums come from totals minus component-1
    * (exact combos of the rounded values, no second scan). The
    * responsibility denominator carries an 1e-300 epsilon so a
    * double-tail exp-underflow yields 0, never a 0/0 whose NULL-vs-NaN
    * outcome is engine-dependent.
    */
  /** The q182 init's order-statistic lookup as a plan (package-private so
    * the plan contract can gate its shape): the p25/p75 ORDER STATISTICS
    * from the value-frequency table via Ranking.prefixCum — the value at
    * rank r is the one whose cumulative range covers r, so ties in x
    * collapse into one frequency row and "the value at rank r" is
    * identical to a per-row rn === r filter, with no corpus-wide rank
    * window and no SinglePartition exchange feeding a Window.
    */
  private[ops] def emInitQuantiles(xs: DataFrame): DataFrame = {
    import xs.sparkSession.implicits._
    val freq = xs.groupBy($"x").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum($"cnt").as("nn"))
    Ranking.prefixCum(freq, Nil, $"x", Seq($"x"), $"cnt")
      .crossJoin(broadcast(tot))
      .withColumn("r25", expr("(nn * 25 + 99) div 100"))
      .withColumn("r75", expr("(nn * 75 + 99) div 100"))
      .filter(($"cum_before" < $"r25" && $"r25" <= $"cum_before" + $"cnt")
        || ($"cum_before" < $"r75" && $"r75" <= $"cum_before" + $"cnt"))
      .orderBy($"x").select($"x")
  }

  def emMixture(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    import spark.implicits._
    val xs = docs(spark, dir)
      .filter($"n_chars".isNotNull)
      .select(round(log($"n_chars" + 1), 6).as("x"))
    // RANK-EXACT quartiles for the init, not interpolated percentile:
    // the two engines interpolate with differently-associated arithmetic
    // (a+(b-a)f vs a(1-f)+bf), and a last-ulp init difference amplified
    // through three E-steps is a visible trajectory fork (measured at
    // sf0.1). An order statistic is an actual 6-dp data value — the
    // same binary on both engines.
    val init = emInitQuantiles(xs).collect()
    val emptyOut = Seq.empty[(Long, Long, Double, Double, Double, Double)]
      .toDF("iter", "component", "pi", "mu", "sigma", "resp_mass")
    if (init.isEmpty) return emptyOut
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    var mu1 = init(0).getDouble(0)
    var mu2 = init(init.length - 1).getDouble(0)
    var s1 = r4(math.max((mu2 - mu1) / 2, 0.05)); var s2 = s1
    var pi = 0.5
    val rows =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double, Double, Double)]
    for (it <- 1 to iters) {
      val d1 = (lit(pi) / s1) *
        exp(-pow($"x" - mu1, 2) / (2 * s1 * s1))
      val d2 = (lit(1.0 - pi) / s2) *
        exp(-pow($"x" - mu2, 2) / (2 * s2 * s2))
      val agg = xs.select((d1 / (d1 + d2 + lit(1e-300))).as("g"), $"x")
        .agg(count(lit(1)).as("n"),
          round(sum($"g"), 4).as("a"),
          round(sum($"g" * $"x"), 4).as("b"),
          round(sum($"g" * $"x" * $"x"), 4).as("c"),
          round(sum($"x"), 4).as("x1"),
          round(sum($"x" * $"x"), 4).as("x2")).head()
      val n = agg.getLong(0).toDouble
      val (a, b, c) = (agg.getDouble(1), agg.getDouble(2), agg.getDouble(3))
      val (t1, t2) = (agg.getDouble(4), agg.getDouble(5))
      val (a2, b2, c2) = (r4(n - a), r4(t1 - b), r4(t2 - c))
      pi = r4(a / n)
      mu1 = r4(b / a); s1 = r4(math.sqrt(math.max(c / a - mu1 * mu1, 1e-4)))
      mu2 = r4(b2 / a2); s2 = r4(math.sqrt(math.max(c2 / a2 - mu2 * mu2, 1e-4)))
      rows += ((it.toLong, 1L, pi, mu1, s1, a))
      rows += ((it.toLong, 2L, r4(1.0 - pi), mu2, s2, a2))
    }
    rows.toSeq.toDF("iter", "component", "pi", "mu", "sigma", "resp_mass")
  }

  /** A-Priori frequent token pairs (q194): unordered token pairs
    * co-occurring in at least 5% of documents — market-basket mining on
    * the corpus, the UNORDERED complement of q84's adjacent-bigram PMI
    * (collocations need adjacency; topic/template co-occurrence does
    * not). The A-Priori pruning is the scale move: only tokens that are
    * themselves document-frequent can appear in a frequent pair, so the
    * per-doc self-join runs on the pruned item lists, never the full
    * vocabulary — Σ_d m_d² with m_d = frequent items in doc d, the
    * classic candidate-bound.
    *
    * Support threshold is the integer ceiling (n_docs+19) div 20 —
    * exact on both engines, scale-relative. Top `k` pairs by (support
    * DESC, pair ASC).
    */
  def frequentPairs(spark: SparkSession, dir: String,
      k: Int = 25): DataFrame = {
    import spark.implicits._
    val items = docs(spark, dir)
      .select($"doc_id", explode(array_distinct(toks)).as("w"))
      .filter(length($"w") >= 1)
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val freq = items.groupBy($"w").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter($"df" >= expr("(n_docs + 19) div 20"))
      .select($"w")
    val pruned = items.join(freq, Seq("w"))
    val scored = pruned.as("a")
      .join(pruned.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(nDocs))
      .filter($"support" >= expr("(n_docs + 19) div 20"))
      .select($"w1", $"w2", $"support",
        round($"support" / $"n_docs".cast("double"), 6).as("support_frac"))
    Ranking.topKGlobal(scored,
      Seq("support" -> true, "w1" -> false, "w2" -> false), k)
  }

  /** Gopher-rule ablation (q195): per filter rule, how many documents
    * fail it, how many it is the SOLE blocker for (the docs you would
    * regain by dropping just that rule), and the keep-rate the corpus
    * would have without it — the sensitivity report that turns a filter
    * stack from dogma into a measured trade ("r_stopwords only ever
    * fires alongside r_word_count" is an argument for deleting it).
    * Composes [[withGopherRules]] verbatim so the ablation can't drift
    * from the filter it analyzes.
    *
    * Scale: one rule pass (q78's scan shape), a 4-way conditional
    * explode of one row per doc, and a 4-key rollup.
    */
  def ruleAblation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rules = Seq("r_word_count", "r_mean_word_len", "r_stopwords",
      "r_repetition")
    val flagged = withGopherRules(
      docs(spark, dir).select($"doc_id", $"text"), "text")
    val exploded = flagged.select(explode(array(rules.map { r =>
      val others = rules.filterNot(_ == r)
        .map(o => col(o)).reduce(_ && _)
      struct(lit(r).as("rule"),
        (!col(r)).cast("long").as("failing"),
        (!col(r) && others).cast("long").as("sole_blocker"),
        $"keep".cast("long").as("kept"))
    }: _*)).as("e"))
    exploded
      .groupBy($"e.rule".as("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"e.failing").as("n_failing"),
        sum($"e.sole_blocker").as("n_sole_blocker"),
        sum($"e.kept").as("n_kept"))
      .select($"rule", $"n_failing", $"n_sole_blocker",
        round(($"n_kept" + $"n_sole_blocker") / $"n_docs".cast("double"), 6)
          .as("keep_rate_without_rule"),
        round($"n_kept" / $"n_docs".cast("double"), 6).as("keep_rate"))
  }

  /** Pseudo-relevance-feedback query expansion (q214): take the q86
    * BM25 hit set, and rank the terms that DISTINGUISH those hits from
    * the corpus — tf-in-hits × ln(n_docs/df) (the Rocchio/RSJ shape) —
    * excluding the original query terms. The top terms are what a
    * second retrieval pass would add: the classic recall lever when
    * the seed query undershoots.
    *
    * Scale: the hit list is k docs (broadcast); tf comes from scanning
    * only those k documents via a broadcast semi-join; df is a
    * vocabulary-sized corpus aggregate semi-joined down to the hit
    * vocabulary before the join. Scores round to 6 before ranking.
    */
  def queryExpansion(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "join", "window"),
      kDocs: Int = 15, kTerms: Int = 10): DataFrame = {
    import spark.implicits._
    val hits = bm25TopK(spark, dir, terms, kDocs).select($"doc_id")
    val hitToks = docs(spark, dir)
      .join(broadcast(hits), Seq("doc_id"), "left_semi")
      .select(explode(toks).as("token"))
      .filter(length($"token") >= 1 && !$"token".isin(terms: _*))
      .groupBy($"token").agg(count(lit(1)).as("tf_hits"))
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val df = docs(spark, dir)
      .select($"doc_id", explode(array_distinct(toks)).as("token"))
      .join(hitToks.select($"token"), Seq("token"), "left_semi")
      .groupBy($"token").agg(count(lit(1)).as("df"))
    val scored = hitToks.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select($"token", $"tf_hits", $"df",
        round($"tf_hits" * log($"n_docs" / $"df".cast("double")), 6)
          .as("expansion_score"))
    Ranking.topKGlobal(scored,
      Seq("expansion_score" -> true, "token" -> false), kTerms)
  }

  /** Zipf exponent fit (q210): OLS of ln(freq) on ln(rank) over the
    * top `n` types — the one-number version of q119's class profile:
    * the slope IS the (negated) Zipf exponent, and how far it sits from
    * −1 says whether this corpus's head is heavier (templated/synthetic
    * text) or lighter (diverse prose) than natural language. Log terms
    * are rounded to 6 per point and every OLS moment is summed in
    * exact 1e-8 units, so the fit is partition-order independent.
    *
    * Scale: one type-count aggregate; the top-n types come from
    * [[graft.ops.Ranking.topKGlobal]] (TakeOrderedAndProject, no global
    * rank window over the vocabulary); the fit runs on n rows.
    */
  def zipfFit(spark: SparkSession, dir: String, n: Int = 100): DataFrame = {
    import spark.implicits._
    val pts = Ranking.topKGlobal(
        docs(spark, dir)
          .select(explode(toks).as("token"))
          .filter(length($"token") >= 1)
          .groupBy($"token").agg(count(lit(1)).as("freq")),
        Seq("freq" -> true, "token" -> false), n)
      .select(round(log($"rk"), 6).as("x"), round(log($"freq"), 6).as("y"))
    pts.agg(count(lit(1)).as("m"),
        sum(round($"x" * 1e8).cast("long")).as("sx"),
        sum(round($"y" * 1e8).cast("long")).as("sy"),
        sum(round($"x" * $"y" * 1e8).cast("long")).as("sxy"),
        sum(round($"x" * $"x" * 1e8).cast("long")).as("sxx"))
      .select($"m", $"sx", $"sy",
        round((($"m".cast("double") * $"sxy") -
          ($"sx".cast("double") * $"sy" / 1e8)) /
          (($"m".cast("double") * $"sxx") -
            ($"sx".cast("double") * $"sx" / 1e8)), 6).as("slope"))
      .select($"m".as("n_points"), $"slope",
        round(($"sy" / 1e8 - $"slope" * ($"sx" / 1e8))
          / $"m".cast("double"), 6).as("intercept"))
  }

  /** Cramér's V association matrix (q207): the strength of association
    * between every pair of the corpus's categorical fields (lang,
    * source, digit-length size class) — schema profiling's "which
    * columns actually carry independent information" answer, on a
    * comparable 0..1 scale unlike raw chi². A near-1 V between source
    * and lang means stratifying by both is redundant; near-0 means a
    * per-source language mix audit is load-bearing.
    *
    * Scale: one scan per field pair to a contingency table bounded by
    * the category-cardinality product; per-cell chi² contributions are
    * rounded to 6 and summed in exact micro-units so the statistic is
    * order-independent.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir)
      .select($"lang", $"source",
        length($"n_chars".cast("string")).cast("string").as("size_class"))
    def pairV(f1: String, f2: String): DataFrame = {
      val cells = base.groupBy(col(f1).as("a"), col(f2).as("b"))
        .agg(count(lit(1)).as("n"))
        .withColumn("na", sum($"n").over(Window.partitionBy($"a")))
        .withColumn("nb", sum($"n").over(Window.partitionBy($"b")))
        .withColumn("tot", sum($"n").over(Window.partitionBy(lit(1))))
        .withColumn("e", $"na" * $"nb" / $"tot".cast("double"))
        .withColumn("chi2_micro",
          round(pow($"n" - $"e", 2) / $"e" * 1e6).cast("long"))
      cells.agg(
          countDistinct($"a").as("r"), countDistinct($"b").as("c"),
          max($"tot").as("n_rows"), sum($"chi2_micro").as("cm"))
        .select(lit(s"${f1}_x_$f2").as("field_pair"), $"n_rows",
          $"r".as("card_a"), $"c".as("card_b"),
          round($"cm" / 1e6, 6).as("chi2"),
          round(sqrt(($"cm" / 1e6) /
            ($"n_rows" * (least($"r", $"c") - 1)).cast("double")), 6)
            .as("cramers_v"))
    }
    pairV("lang", "source")
      .unionByName(pairV("lang", "size_class"))
      .unionByName(pairV("source", "size_class"))
  }

  /** k-anonymity audit (q202): group the corpus by its quasi-identifier
    * tuple (lang, source, power-of-two length class) and report, for a
    * ladder of k values, how many groups and documents sit BELOW each k
    * — the data-governance gate run before releasing per-document
    * metadata: a (lang, source, size) combination shared by two
    * documents is re-identification surface. Length classes are the
    * DIGIT COUNT of n_chars (order of magnitude as string length) —
    * pure integer on both engines, where floor(log2) flips at exact
    * powers of two under ln-ratio rounding.
    *
    * Scale: one aggregate to QI group sizes (map-side combined), then
    * a groups-sized ladder rollup; the corpus is touched once.
    */
  def kAnonymity(spark: SparkSession, dir: String,
      ladder: Seq[Int] = Seq(2, 5, 10, 25)): DataFrame = {
    import spark.implicits._
    val groups = docs(spark, dir)
      .select($"lang", $"source",
        length($"n_chars".cast("string")).cast("long").as("size_class"))
      .groupBy($"lang", $"source", $"size_class")
      .agg(count(lit(1)).as("gsize"))
      .localCheckpoint(true)
    val ks = ladder.map(_.toLong).toDF("k")
    groups.crossJoin(broadcast(ks))
      .groupBy($"k")
      .agg(count(lit(1)).as("n_groups"),
        sum($"gsize").as("n_docs"),
        sum(when($"gsize" < $"k", 1L).otherwise(0L)).as("groups_below_k"),
        sum(when($"gsize" < $"k", $"gsize").otherwise(0L)).as("docs_below_k"))
      .select($"k", $"n_groups", $"groups_below_k", $"docs_below_k",
        round($"docs_below_k" / $"n_docs".cast("double"), 6)
          .as("frac_docs_below_k"))
  }

  /** Sentence-shape statistics (q203): per document, the sentence count
    * and token-per-sentence profile from a [.!?]+ segmentation — the
    * syntactic-shape quality signal (wall-of-text vs staccato fragments)
    * that word-level stats like q22 can't see. Empty segments from
    * trailing punctuation are dropped identically on both engines.
    *
    * Scale: pure per-doc string work in the scan projection; no
    * shuffle at all.
    */
  def sentenceStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sents = filter(
      transform(split($"text", "[.!?]+"), s => trim(s)),
      s => length(s) >= 1)
    docs(spark, dir)
      .select($"doc_id", sents.as("ss"))
      .select($"doc_id",
        size($"ss").cast("long").as("n_sentences"),
        when(size($"ss") > 0, round(
          aggregate($"ss", lit(0L), (acc, s) => acc + size(split(s, " ")))
            / size($"ss").cast("double"), 4)).as("mean_sentence_toks"),
        when(size($"ss") > 0,
          array_max(transform($"ss", s => size(split(s, " ")))).cast("long"))
          .as("max_sentence_toks"))
  }

  /** Sliced (per-source) ROC-AUC of the q23 en-score (q198): the q179
    * global number can hide a feed where the score is useless or
    * inverted — robustness of a filter is a property of every SLICE it
    * will be applied to, so this computes the exact midrank AUC within
    * each source. Sources lacking either class report a NULL AUC (no
    * ordering to measure) rather than a fabricated 0.5.
    *
    * Scale: the q179 value-frequency reduction, per source — midranks
    * come from the (source, score) frequency table (≤ sources × distinct
    * 6-dp scores), with `Ranking.prefixCum`'s bucket-split prefix keyed
    * by source. NO per-document rank window at all, so a source holding
    * 90% of the corpus costs one frequency aggregate, never a one-task
    * sort of 90% of the data — per-source work is bounded by SCORE
    * GRANULARITY, not source size.
    */
  def slicedAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = docs(spark, dir)
      .select($"source", ($"lang" === "en").as("pos"), toks.as("t"))
      .select($"source", $"pos",
        round(size(filter($"t", tk => tk.isin("the", "a", "and")))
          .cast("double") / size($"t"), 6).as("score"))
    val freq = scored.groupBy($"source", $"score")
      .agg(count(lit(1)).as("cnt"),
        sum(when($"pos", 1L).otherwise(0L)).as("pos_cnt"))
    Ranking.prefixCum(freq, Seq("source"), $"score", Seq($"score"), $"cnt")
      .withColumn("midrank", $"cum_before" + ($"cnt" + 1) / lit(2.0))
      .groupBy($"source")
      .agg(sum($"pos_cnt").as("n_pos"),
        sum($"cnt" - $"pos_cnt").as("n_neg"),
        sum($"pos_cnt" * $"midrank").as("rank_sum"))
      .select($"source", $"n_pos", $"n_neg",
        when($"n_pos" > 0 && $"n_neg" > 0,
          round(($"rank_sum" - $"n_pos" * ($"n_pos" + 1) / 2.0)
            / ($"n_pos" * $"n_neg"), 6)).as("auc"))
  }

  /** Operating-point selection for the q23 en-score (q190): sweep every
    * distinct score as a "predict positive if score ≥ t" threshold and
    * report the best by Youden's J (TPR − FPR, the balanced-error
    * choice) and by F1 (the precision-weighted choice) — the last step
    * of the eval trilogy: q179 says the score ranks, q181 says what its
    * values mean, this says WHERE to cut. Confusion counts come from
    * reverse-cumulative windows over the distinct-score table, so every
    * candidate threshold is scored in one pass; all metrics are exact
    * integer ratios, rounded once; ties prefer the LOWER threshold
    * (keep more data at equal quality).
    *
    * Scale: one scan for scores, a distinct-score aggregate (bounded by
    * score granularity, 6-dp ratios); the reverse-cumulative confusion
    * counts ride [[Ranking.prefixCum]] (bucket-partitioned, never a
    * SinglePartition window — round-9 rework: the old spelling hid two
    * `Window.orderBy` globals behind the checkpoint), totals are a
    * one-row broadcast, and each criterion's argmax is
    * `orderBy(...).limit(1)` — TakeOrdered, no window at all.
    */
  def optimalThreshold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = docs(spark, dir)
      .select(($"lang" === "en").as("pos"), toks.as("t"))
      .select($"pos",
        round(size(filter($"t", tk => tk.isin("the", "a", "and")))
          .cast("double") / size($"t"), 6).as("score"))
    val byScore = scored.groupBy($"score")
      .agg(sum(when($"pos", 1L).otherwise(0L)).as("pos_at"),
        count(lit(1)).as("n_at"))
    // tp(t) = Σ_{score ≥ t} pos_at = total_pos − exclusive-prefix(pos_at);
    // two prefixCum passes over the (bounded) distinct-score table
    val withPos = Ranking.prefixCum(byScore, Nil, $"score", Seq($"score"),
        $"pos_at")
      .withColumnRenamed("cum_before", "cum_pos_before")
    val withBoth = Ranking.prefixCum(withPos, Nil, $"score", Seq($"score"),
        $"n_at")
      .withColumnRenamed("cum_before", "cum_n_before")
    val totals = broadcast(byScore.agg(sum($"pos_at").as("p"),
      sum($"n_at").as("n_all")))
    val conf = withBoth.crossJoin(totals)
      .withColumn("tp", $"p" - $"cum_pos_before")
      .withColumn("pred_pos", $"n_all" - $"cum_n_before")
      .select($"score".as("threshold"), $"tp",
        ($"pred_pos" - $"tp").as("fp"),
        ($"p" - $"tp").as("fn"),
        ($"n_all" - $"p" - ($"pred_pos" - $"tp")).as("tn"),
        round($"tp" / $"p".cast("double"), 6).as("tpr"),
        round(($"pred_pos" - $"tp") / ($"n_all" - $"p").cast("double"), 6)
          .as("fpr"))
      // score-granularity-sized barrier: both criteria rank this table
      .localCheckpoint(true)
    val youden = conf
      .withColumn("metric_value",
        round($"tpr" - $"fpr", 6))
      .orderBy($"metric_value".desc, $"threshold")
      .limit(1)
      .select(lit("youden").as("criterion"), $"threshold", $"tp", $"fp",
        $"fn", $"tn", $"metric_value")
    val f1 = conf
      .withColumn("metric_value",
        round(lit(2.0) * $"tp" / (lit(2.0) * $"tp" + $"fp" + $"fn"), 6))
      .orderBy($"metric_value".desc, $"threshold")
      .limit(1)
      .select(lit("f1").as("criterion"), $"threshold", $"tp", $"fp",
        $"fn", $"tn", $"metric_value")
    youden.unionByName(f1)
  }

  /** Byte-pair-encoding merge learning (q176): the first `k` BPE merges
    * over the corpus vocabulary — each round counts every adjacent
    * symbol pair (frequency-weighted by word count), merges the argmax
    * pair ((count DESC, pair ASC) tie-break) greedily left-to-right in
    * every word, and repeats on the merged segmentation. This is the
    * tokenizer-training primitive itself, not a proxy: the output is the
    * ordered merge table a BPE tokenizer would ship.
    *
    * The greedy left-to-right merge is expressed in closed form so both
    * engines replay it identically: a position merges iff it starts a
    * pair occurrence AND sits at an EVEN offset within its maximal
    * streak of consecutive occurrences — for left≠right streaks are
    * singletons (every occurrence merges); for the self-pair case
    * ("aaa" under merge "aa") the parity rule reproduces the sequential
    * scan without sequential dependency, via two windows (streak id =
    * pos − running occurrence count; offset = pos − streak min).
    *
    * Scale: the corpus is touched ONCE (the word-frequency aggregate);
    * all k rounds operate on the VOCABULARY-sized position table
    * (Heaps-bounded — millions of types at 100 TB, not trillions of
    * tokens), per-word windows only. Each round's argmax is a one-row
    * collect (the q74 Lloyd pattern: k scalar driver decisions steering
    * distributed passes) and the positions table is checkpointed per
    * round — the kcore convergence-loop rule: it is re-read by three
    * windows next round, and an un-cut lineage would re-run every prior
    * round's windows each reference.
    */
  def bpeMerges(spark: SparkSession, dir: String, k: Int = 6): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, dir, k)._1.toSeq
      .toDF("merge_order", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** BPE tokenizer fertility report (q185): apply [[bpeMerges]]'
    * learned merges and measure what the tokenizer DELIVERS — weighted
    * symbols-per-word (fertility, the number a serving-cost estimate
    * multiplies by), chars-per-symbol (compression), the symbol-table
    * size, and the share of word occurrences already collapsed to one
    * symbol. This is the accept/reject gate for a merge budget: q176
    * says WHAT was learned, q185 says whether it was worth k merges.
    *
    * Scale: the training pass is q176's (vocabulary-sized rounds); the
    * report is one aggregate over the final per-word segment table —
    * all integer sums (token counts × symbol counts), divided once.
    */
  def bpeFertility(spark: SparkSession, dir: String, k: Int = 6): DataFrame = {
    import spark.implicits._
    val (_, positions) = bpeTrain(spark, dir, k)
    val perWord = positions
      .groupBy($"word", $"freq")
      .agg(max($"pos").as("n_syms"))
    perWord.agg(
        sum($"freq").as("n_word_occurrences"),
        count(lit(1)).as("n_word_types"),
        sum($"freq" * $"n_syms").as("n_symbol_occurrences"),
        sum($"freq" * length($"word")).as("n_char_occurrences"),
        sum(when($"n_syms" === 1L, $"freq").otherwise(0L)).as("n_single_symbol"))
      .crossJoin(broadcast(
        positions.select($"sym").distinct().agg(count(lit(1)).as("symbol_table_size"))))
      .select($"n_word_occurrences", $"n_word_types", $"symbol_table_size",
        round($"n_symbol_occurrences" / $"n_word_occurrences".cast("double"), 6)
          .as("fertility"),
        round($"n_char_occurrences" / $"n_symbol_occurrences".cast("double"), 6)
          .as("chars_per_symbol"),
        round($"n_single_symbol" / $"n_word_occurrences".cast("double"), 6)
          .as("single_symbol_rate"))
  }

  /** BPE APPLY/encode (q253): re-tokenize the corpus with a TRAINED
    * merge table — the step an actual data pipeline runs after training
    * a tokenizer, which q185 only proxied by reading the training
    * positions table. The k learned merges ([[bpeMerges]]' trajectory)
    * are applied as a literal-folded chain of `aggregate` higher-order
    * folds over each word's character array: per merge (a, b), a
    * left-to-right fold that replaces a trailing `a` followed by `b`
    * with the merged symbol — the sequential greedy scan itself, which
    * the training loop's closed-form parity rule provably equals (the
    * merged symbol `a||b` can never re-match `a`, so overlapping
    * occurrences resolve left-first exactly as the even-offset rule
    * does). Output is per-document: whitespace token count, encoded BPE
    * token count, char count, fertility (BPE tokens per word) and chars
    * per BPE token — the serving-cost numbers for THIS corpus under the
    * trained tokenizer.
    *
    * The oracle replays training (the q176-gated CTE chain) and reads
    * the final segmentation's per-word symbol count — so the equality
    * PROVES the scan-side re-application reproduces the training
    * segmentation word-for-word, not just that two copies of the same
    * code agree.
    *
    * Scale: encoding is a pure function of the word, so the fold runs
    * over the DISTINCT word table (Heaps-bounded vocabulary, not the
    * corpus), k merges deep × O(|word|) each; the corpus is touched
    * once for the (doc, word) count table, which joins the encoded
    * vocabulary on its natural key. The merge table itself is k driver
    * rows folded into the plan as literals — the SRP-plane/centroid
    * broadcast pattern. Unseen-at-train words (a real train/apply
    * split) would fall out of the join and keep character
    * segmentation; here train corpus = apply corpus, so coverage is
    * total.
    */
  def bpeEncode(spark: SparkSession, dir: String, k: Int = 6): DataFrame = {
    import spark.implicits._
    val merges = bpeTrain(spark, dir, k)._1
    val words = docs(spark, dir)
      .select($"doc_id", explode(toks).as("word"))
      .filter(length($"word") >= 1)
    val perDocWord = words.groupBy($"doc_id", $"word")
      .agg(count(lit(1)).as("cnt"))
    val initSyms = transform(sequence(lit(1), length($"word")),
      i => $"word".substr(i, lit(1)))
    val encoded = merges.foldLeft(initSyms) {
      case (symsCol, (_, a, b, m, _)) =>
        aggregate(symsCol, lit(Array.empty[String]), (acc, s) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && s === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
            .otherwise(concat(acc, array(s))))
    }
    val vocabEncoded = words.select($"word").distinct()
      .select($"word", size(encoded).cast("long").as("n_syms"))
    perDocWord.join(vocabEncoded, Seq("word"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_words"),
        sum($"cnt" * $"n_syms").as("n_bpe_tokens"),
        sum($"cnt" * length($"word")).as("n_chars"))
      .select($"doc_id", $"n_words", $"n_bpe_tokens", $"n_chars",
        round($"n_bpe_tokens" / $"n_words".cast("double"), 6).as("fertility"),
        round($"n_chars" / $"n_bpe_tokens".cast("double"), 6)
          .as("chars_per_token"))
  }

  /** Shared q176/q185 training loop: returns (merge table rows, final
    * vocabulary segmentation). See [[bpeMerges]] for the algorithm and
    * scale argument.
    */
  private val bpeTrainCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Long),
      (Seq[(Long, String, String, String, Long)], DataFrame)]

  private def bpeTrain(spark: SparkSession, dir: String, k: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) =
    // memoized (round-13 optimization): q176 (merge table), q185
    // (fertility report) and q253 (corpus re-encode) each replayed the
    // identical k-round training loop — k argmax collects + k
    // checkpointed window passes. Trained once per (session, corpus
    // fingerprint, k); the merge rows are driver state and the final
    // positions table is already checkpointed.
    Memo.cached(bpeTrainCache,
        (spark, dir, k, Memo.fingerprint(spark, s"$dir/documents.parquet")),
        label = s"bpeTrain/$k") {
      bpeTrainUncached(spark, dir, k)
    }

  private def bpeTrainUncached(spark: SparkSession, dir: String, k: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    import spark.implicits._
    val w = Window.partitionBy($"word").orderBy($"pos")
    val vocab = docs(spark, dir)
      .select(explode(toks).as("word"))
      .filter(length($"word") >= 1)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    var positions = vocab
      .select($"word", $"freq",
        explode(sequence(lit(1L), length($"word").cast("long"))).as("pos"))
      .withColumn("sym", expr("substring(word, cast(pos as int), 1)"))
      .localCheckpoint(true)
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val staged = positions.withColumn("nxt", lead($"sym", 1).over(w))
      val best = staged.filter($"nxt".isNotNull)
        .groupBy($"sym", $"nxt").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"sym", $"nxt").limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, a, b, a + b, cnt))
        val marked = staged
          .withColumn("ip",
            coalesce($"sym" === lit(a) && $"nxt" === lit(b), lit(false)))
          .withColumn("cum_ip", sum(when($"ip", 1L).otherwise(0L)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("streak", when($"ip", $"pos" - $"cum_ip"))
          .withColumn("off", when($"ip", $"pos" -
            min($"pos").over(Window.partitionBy($"word", $"streak"))))
          .withColumn("ms", $"ip" && $"off" % 2 === 0)
          .withColumn("prev_ms", lag($"ms", 1, false).over(w))
        positions = marked.filter(!$"prev_ms")
          .select($"word", $"freq",
            row_number().over(w).cast("long").as("pos"),
            when($"ms", concat($"sym", $"nxt")).otherwise($"sym").as("sym"))
          .localCheckpoint(true)
      }
      r += 1
    }
    (merges.toSeq, positions)
  }

  /** Vocabulary coverage curve (q187): what fraction of all token
    * OCCURRENCES the top-k most frequent types cover, for a ladder of
    * candidate vocabulary sizes — the empirical curve behind every
    * "how big should the vocab/OOV budget be" decision (Zipf says ~90%
    * coverage comes absurdly early; this measures where, for THIS
    * corpus). Ranks are (freq DESC, token ASC) so the cumulative sums
    * are deterministic under frequency ties.
    *
    * Scale: one map-side-combined type count; only the top `max(ladder)`
    * types can ever contribute to the rollup, so the rank/running-sum
    * work is restricted to those survivors FIRST — `orderBy().limit()`
    * plans as TakeOrderedAndProject (per-partition heaps, no global
    * sort), and because the limit shares the ranks' total order the
    * survivor set is exactly the global top-maxK. Both order statistics
    * then ride [[graft.ops.Ranking.prefixCum]] over the ≤ maxK survivors
    * — rank as the exclusive count of strictly-earlier types (bucketed
    * on −freq) and the inclusive running occurrence sum on top of the
    * rank — so no task ever holds the whole vocabulary (the naive
    * rank+running-sum windows funnel the full type table through ONE
    * `Exchange SinglePartition`; the first prefixCum spelling ranked the
    * FULL vocabulary — right contract, but it shuffled the type table
    * three times to rank rows the ladder then discarded: 0.34→4.3 s at
    * sf0.1). The corpus-wide totals stay a 1-row broadcast aggregate
    * over the FULL type table, the ladder rollup a constant-size
    * aggregate of exact integer counts.
    */
  def coverageCurve(spark: SparkSession, dir: String,
      ladder: Seq[Int] = Seq(10, 100, 1000, 10000)): DataFrame = {
    import spark.implicits._
    val types = docs(spark, dir)
      .select(explode(toks).as("token"))
      .filter(length($"token") >= 1)
      .groupBy($"token").agg(count(lit(1)).as("freq"))
    Memo.withPersisted(types) {
      // the ladder rollup references `ranked` exactly once, and
      // coverageRanked checkpoints its own ≤ maxK intermediates, so no
      // outer barrier is needed
      val ranked = coverageRanked(types, ladder.max)
      val ks = ladder.map(_.toLong).toDF("k")
      ranked
        .crossJoin(broadcast(ks))
        .filter($"rk" <= $"k")
        .groupBy($"k".as("vocab_size"))
        .agg(max($"cum").as("covered_tokens"),
          max($"total").as("total_tokens"),
          count(lit(1)).as("n_types_used"),
          round(max($"cum") / max($"total").cast("double"), 6).as("coverage"))
    }
  }

  /** The windowed core of [[coverageCurve]], un-checkpointed so
    * PlanContractSpec can walk the physical plan: (token, freq) →
    * top-`maxK` survivors (TakeOrderedAndProject in the ranks' total
    * order, so survivor rank = global rank) → + rk (1 + exclusive
    * unit-weight prefix count in (freq DESC, token)) + cum (inclusive
    * freq running sum in rank order) + total (over the FULL type table,
    * not the survivors). Both prefix sums are two-level bucket-split —
    * no SinglePartition exchange feeds any window.
    */
  private[graft] def coverageRanked(types: DataFrame, maxK: Int,
      eager: Boolean = true): DataFrame = {
    // prefixCum references its input several times (range-bound agg,
    // bucket totals, final join), and the two stacked calls COMPOUND
    // that fan-out — without the checkpoints each r2-internal reference
    // re-runs all of r1, whose own references each re-run the
    // TakeOrdered over the type table (~16 re-sorts). Both checkpoints
    // hold ≤ maxK rows; tests pass eager=false to walk the raw plan.
    val top0 = types.orderBy(col("freq").desc, col("token").asc).limit(maxK)
    val top = if (eager) top0.localCheckpoint(true) else top0
    val r1c = Ranking
      .prefixCum(top, Nil, -col("freq"),
        Seq(col("freq").desc, col("token").asc), lit(1L))
      .withColumn("rk", (col("cum_before") + 1).cast("long"))
      .drop("cum_before")
    val r1 = if (eager) r1c.localCheckpoint(true) else r1c
    val r2 = Ranking
      .prefixCum(r1, Nil, col("rk"), Seq(col("rk").asc), col("freq"))
      .withColumn("cum", (col("cum_before") + col("freq")).cast("long"))
      .drop("cum_before")
    val totals = broadcast(types.agg(sum(col("freq")).as("total")))
    r2.crossJoin(totals)
  }

  /** The per-source KMV sketch + exact-distinct table shared by q228
    * and q230, memoized per (session, dir, k, n) as an eagerly
    * checkpointed #sources-row table: both consumers need the SAME
    * corpus-dominating pass ([[kmvSketchRows]]), and running them back
    * to back used to pay it twice cold (19.1 + 5.5 s at sf0.1, round-8
    * BASELINE). This is the in-session stand-in for what production
    * does structurally — a sketch TABLE maintained by ingest that
    * analysis queries read in place. The cached state is
    * #sources × (k longs + 1 count); the key folds in a corpus
    * fingerprint and the cache is entry-capped (both via
    * [[graft.ops.Memo]]), so an in-session rewrite of `dir` recomputes
    * instead of serving the stale checkpoint and pinned blocks can't
    * accumulate without bound.
    */
  private val kmvTableCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int, Long), DataFrame]

  private def kmvSketchTable(spark: SparkSession, dir: String, k: Int,
      n: Int): DataFrame = {
    val fp = Memo.fingerprint(spark, s"$dir/documents.parquet")
    // values are localCheckpoint'd: on eviction Memo's release rule
    // unpersists the checkpoint RDD (round-10 ADVICE)
    Memo.cached(kmvTableCache, (spark, dir, k, n, fp),
        label = s"kmvSketch/$k/$n") {
      kmvSketchRows(docs(spark, dir), k, n).localCheckpoint(true)
    }
  }

  /** The unmemoized (source, ks, n_exact) build over `d`: explode the
    * n-shingles of a materialized token column, md5-hash them, take the
    * (source, h) distinct once, then one aggregate of the sketch and the
    * row count. Distinct first is value-neutral (the sketch dedups on
    * insert) and cheaper than the sketch beside a `count_distinct`,
    * whose Expand adds shuffle stages; the exact arm shuffles the same
    * distinct set either way.
    */
  private[ops] def kmvSketchRows(d: DataFrame, k: Int, n: Int): DataFrame =
    d.select(col("source"), toks.as("t"))
      .select(col("source"), explode(Dedup.ngramsOf("t", n)).as("gram"))
      .select(col("source"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .groupBy(col("source"))
      .agg(graft.functions.KmvSketch.kmvSketch(k)(col("h")).as("ks"),
        count(lit(1)).as("n_exact"))

  /** Pairwise source-overlap matrix from K-minimum-values sketches: per
    * source, the k smallest md5-derived hashes of its distinct 3-word
    * shingles ([[graft.functions.KmvSketch]]); per source pair, the
    * Beyer et al. 2007 estimator Ĵ = |A_k ∩ B_k ∩ U| / |U| with
    * U = k smallest of A_k ∪ B_k (when both sets have < k elements the
    * sketches ARE the sets and Ĵ is exact Jaccard).
    *
    * The sketch itself needs no distinct — duplicates are absorbed by
    * its distinct-insert and its partials are O(k) per partition — but
    * the shared table ([[kmvSketchTable]]) also carries q230's exact
    * distinct count, so it pays a vocabulary-sized (source, hash)
    * distinct shuffle, as the exact [[sourceVocabOverlap]] pays its
    * (source, word) one. A sketch-only build (the 100 TB shape) would
    * shuffle #sources × k longs. The pairwise stage is |sources|² over
    * a sketch table of #sources rows — driver-scale by construction.
    *
    * Hash = first 15 md5 hex chars as a long (60 bits, positive, exactly
    * reproducible in DuckDB as ('0x' || substring(md5(g),1,15))::UBIGINT),
    * so the oracle replays the identical sketch with row_number.
    */
  def kmvSourceOverlap(spark: SparkSession, dir: String, k: Int = 128,
      n: Int = 3): DataFrame = {
    import spark.implicits._
    val sk = kmvSketchTable(spark, dir, k, n).select($"source", $"ks")
    val u = slice(array_sort(array_union($"a.ks", $"b.ks")), 1, k)
    sk.as("a").join(sk.as("b"), $"a.source" < $"b.source")
      .select(
        $"a.source".as("source_a"), $"b.source".as("source_b"),
        size(u).cast("long").as("k_used"),
        size(array_intersect(array_intersect($"a.ks", $"b.ks"), u))
          .cast("long").as("n_common"))
      .withColumn("jaccard_est",
        round($"n_common".cast("double") / $"k_used", 6))
  }

  /** Per-source distinct-shingle cardinality from the SAME KMV sketch as
    * [[kmvSourceOverlap]]: the Bar-Yossef et al. 2002 estimator
    * (k−1)/v̂_k with v̂_k = kth smallest hash normalized to [0,1) over
    * the 2⁶⁰ hash domain — the mergeable O(k)-state counterpart of the
    * q138 HLL union (DataSketches HLL estimates are engine-specific;
    * KMV is deterministic, so THIS oracle replays the estimate
    * bit-for-bit with row_number instead of settling for tolerance
    * booleans). Under-full sketches (n < k) ARE the distinct set and the
    * estimate is exact.
    *
    * Emits the exact distinct count beside the estimate plus a ±30%
    * relative-error gate (3σ for k=128: RSE ≈ 1/√(k−2) ≈ 8.9%) — the
    * q29 accuracy-ground-truth pattern. At 100 TB only the sketch arm is
    * runnable (O(k) partials, #sources × k longs shuffled); the exact
    * arm is the verification twin.
    */
  def kmvSourceDistinct(spark: SparkSession, dir: String, k: Int = 128,
      n: Int = 3): DataFrame = {
    import spark.implicits._
    // one pass (shared with q228 via kmvSketchTable) carries both
    // arms: the O(k) sketch and the exact distinct count (the
    // expensive truth twin, q29 pattern)
    val agg = kmvSketchTable(spark, dir, k, n)
    // 2^60 as an exact double; (k-1)*2^60 stays exactly representable
    // (7 significant bits), so both engines divide identical doubles
    val num = lit((k - 1).toDouble * 1152921504606846976.0)
    agg.select($"source", $"n_exact",
      when(size($"ks") < k, round(size($"ks").cast("double"), 4))
        .otherwise(round(num / element_at($"ks", k).cast("double"), 4))
        .as("est_distinct"))
      .withColumn("within_tol",
        abs($"est_distinct" - $"n_exact") <= lit(0.3) * $"n_exact")
  }

  /** Intra-document language mixture: tokens are cut into fixed
    * non-overlapping w-token windows (window id = pos div w), each
    * window voted a language by the [[langIdScores]] marker counts (same
    * en≥de≥fr≥es tie ladder), then per doc: window count, adjacent-window
    * switch count, majority-language window count, number of distinct
    * window languages, the Shannon entropy of the window-language
    * distribution, and a mixed flag. The doc-level langid family
    * (q23/q143) scores whole documents; this is the "is the doc itself
    * code-switched" signal a cleaning pipeline cuts on.
    *
    * Shape: one narrow posexplode scan → groupBy (doc_id, wid) with
    * map-side combine → a lag window PARTITIONED BY doc_id (per-doc
    * partitions, bounded by doc length — never SinglePartition) whose
    * exchange is reused by the final doc-level aggregate. Entropy sums
    * its four when-guarded terms in fixed textual order and adds +0.0
    * so the single-language −0.0 corner canonicalizes identically in
    * both engines.
    */
  def langMixture(spark: SparkSession, dir: String, w: Int = 16): DataFrame = {
    import spark.implicits._
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and"),
      "de" -> Seq("der", "die", "und"),
      "fr" -> Seq("le", "la", "et"),
      "es" -> Seq("el", "la", "y"))
    val markerCounts = markers.map { case (l, ms) =>
      sum(when($"tok".isin(ms: _*), 1L).otherwise(0L)).as(s"c_$l")
    }
    val perWin = docs(spark, dir)
      .select($"doc_id", posexplode(toks).as(Seq("pos", "tok")))
      .select($"doc_id", expr(s"pos div $w").as("wid"), $"tok")
      .groupBy($"doc_id", $"wid")
      .agg(markerCounts.head, markerCounts.tail: _*)
      .select($"doc_id", $"wid",
        when($"c_en" >= $"c_de" && $"c_en" >= $"c_fr" && $"c_en" >= $"c_es", "en")
          .when($"c_de" >= $"c_fr" && $"c_de" >= $"c_es", "de")
          .when($"c_fr" >= $"c_es", "fr")
          .otherwise("es").as("wlang"))
    val withPrev = perWin.withColumn("prev",
      lag($"wlang", 1).over(Window.partitionBy($"doc_id").orderBy($"wid")))
    val counted = withPrev.groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when($"prev".isNotNull && $"prev" =!= $"wlang", 1L).otherwise(0L))
          .as("n_switches"),
        sum(when($"wlang" === "en", 1L).otherwise(0L)).as("c_en"),
        sum(when($"wlang" === "de", 1L).otherwise(0L)).as("c_de"),
        sum(when($"wlang" === "fr", 1L).otherwise(0L)).as("c_fr"),
        sum(when($"wlang" === "es", 1L).otherwise(0L)).as("c_es"))
    def term(c: Column): Column = {
      val p = c.cast("double") / $"n_windows"
      when(c > 0L, p * log(p)).otherwise(lit(0.0))
    }
    counted.select(
      $"doc_id", $"n_windows", $"n_switches",
      greatest($"c_en", $"c_de", $"c_fr", $"c_es").as("majority_n"),
      (when($"c_en" > 0L, 1L).otherwise(0L) + when($"c_de" > 0L, 1L).otherwise(0L) +
        when($"c_fr" > 0L, 1L).otherwise(0L) + when($"c_es" > 0L, 1L).otherwise(0L))
        .as("n_langs"),
      (round(-(term($"c_en") + term($"c_de") + term($"c_fr") + term($"c_es")), 6)
        + lit(0.0)).as("mix_entropy"))
      .withColumn("is_mixed", $"n_langs" > 1L)
  }

  /** Stupid-backoff LM scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — the smoothing DESIGNED for
    * distributed LMs: no normalization pass, so the model tables stay
    * mergeable counts): eval-split documents scored against a bigram
    * model trained on the md5 train split (the q63/q98 split, so unseen
    * bigrams actually occur). Per pair, S(w2|w1) = cb/cctx when the
    * train bigram exists, else alpha * add-one unigram
    * (cw+1)/(N+V) — the add-one floor keeps fully-OOV continuations
    * finite and deterministic.
    *
    * Scale: one pair explode over eval docs; everything joined in is
    * vocabulary-sized (AQE broadcasts when small) and the (N, V) totals
    * ride a one-row broadcast. The per-doc aggregate is doc-keyed. At
    * 100 TB this is the q97 plan with a train/eval split — no new
    * shuffle class.
    */
  def stupidBackoffLogprob(spark: SparkSession, dir: String,
      alpha: Double = 0.4): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir).select($"doc_id", toks.as("t"),
      (substring(md5($"doc_id".cast("string")), 1, 2) <= "7f").as("is_train"))
    def pairsOf(df: DataFrame) = df.select($"doc_id", explode(zip_with(
        slice($"t", lit(1), greatest(size($"t") - 1, lit(0))),
        slice($"t", lit(2), greatest(size($"t") - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val train = base.filter($"is_train")
    val trainToks = train.select(explode($"t").as("w"))
    val cb = pairsOf(train).groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val cctx = cb.groupBy($"w1").agg(sum($"cb").as("cctx"))
    val uni = trainToks.groupBy($"w").agg(count(lit(1)).as("cw"))
    val tot = trainToks.agg(count(lit(1)).as("nn"),
      count_distinct($"w").as("vv"))
    val scored = pairsOf(base.filter(!$"is_train"))
      .join(cb, Seq("w1", "w2"), "left")
      .join(cctx, Seq("w1"), "left")
      .join(uni.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"cb".isNull.as("backoff"),
        when($"cb".isNotNull, $"cb".cast("double") / $"cctx")
          .otherwise(lit(alpha) * (coalesce($"cw", lit(0L)) + lit(1L)).cast("double") /
            // greatest(·, 1): an all-null/empty TRAIN split has N = V =
            // 0 and ANSI turns the add-one denominator into a
            // divide-by-zero error; with no train mass every eval pair
            // backs off to a flat alpha·1/1 — finite and deterministic
            greatest($"nn" + $"vv", lit(1L)).cast("double")).as("s"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"backoff", 1L).otherwise(0L)).as("n_backoff"),
        round(avg(-log($"s")), 4).as("avg_neg_logprob"))
    base.filter(!$"is_train").select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_backoff", lit(0L)).as("n_backoff"),
        $"avg_neg_logprob")
  }

  /** TRAINED quality classifier — the upgrade of q73's fixed-weight
    * scorer: full-batch logistic-regression gradient descent over the
    * codegen'd 64-dim `feature_hash` vectors, label = (lang == 'en').
    * Classic scalable LM-pipeline shape (fastText-style linear probe):
    * per round ONE pass computes every per-dim gradient component
    * (posexplode → dim-keyed sum, map-side combined — the shuffle is
    * 64 cells), only the 64-double weight vector reaches the driver,
    * and weights round to 1e-6 between rounds so the whole trajectory
    * is deterministic and the DuckDB oracle unrolls the identical
    * rounds (the q74/q105 rounded-trajectory discipline). Scoring
    * against weight LITERALS is a pure scan projection.
    */
  def lrQualityTrain(spark: SparkSession, dir: String, rounds: Int = 3,
      lrate: Double = 0.5, dim: Int = 64): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.register(spark)
    val base = docs(spark, dir).select($"doc_id",
        ($"lang" === "en").cast("double").as("y"),
        coalesce(call_function("feature_hash", $"text"),
          array().cast("array<int>")).as("f"))
    Memo.withPersisted(base) {
      val n = base.count()
      if (n == 0L) {
        base.select($"doc_id", lit(0L).as("label"),
          lit(0.0).as("score"), lit(false).as("predicted")).limit(0)
      } else {
        var w: IndexedSeq[Double] = IndexedSeq.fill(dim)(0.0)
        // left-to-right fold over the full dim in index order — adding
        // exact 0.0 terms for absent buckets, so the sum equals the
        // oracle's sparse join-sum up to double merge order (≪ the 1e-6
        // rounding grid)
        def scoreCol(wv: IndexedSeq[Double]): Column =
          aggregate(zip_with($"f", array(wv.map(lit): _*),
            (x, wj) => x.cast("double") * wj), lit(0.0), (acc, v) => acc + v)
        for (_ <- 1 to rounds) {
          val g = base
            .select((lit(1.0) / (lit(1.0) + exp(-scoreCol(w))) - $"y").as("r"),
              posexplode($"f").as(Seq("j", "x")))
            .filter($"x" =!= 0)
            .groupBy($"j").agg(sum($"r" * $"x".cast("double")).as("g"))
            .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
          w = w.indices.map(j => BigDecimal(w(j) - lrate * g.getOrElse(j, 0.0) / n)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        base.select($"doc_id", $"y".cast("long").as("label"),
            round(scoreCol(w), 6).as("score"))
          .withColumn("predicted", $"score" >= 0)
          .localCheckpoint(true)
      }
    }
  }

  /** Flesch reading-ease per document — the classic readability screen
    * (Flesch 1948): 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), banded easy/medium/hard at 60/30. All
    * three counts are regex-deterministic so both engines see identical
    * integers: sentences = `[.!?]+` runs (floor 1), syllables = vowel-
    * group runs `[aeiouy]+` plus one per vowel-less word (the standard
    * min-one-syllable correction), words = the NON-EMPTY whitespace
    * tokens (round 9: consecutive spaces / leading punctuation used to
    * mint empty-string "words" that inflated n_words AND each added a
    * phantom vowel-less syllable, skewing Flesch on irregular
    * whitespace; a doc with no non-empty token gets a NULL score, not a
    * division by zero). The score then divides identical i64 pairs —
    * one rounding, at the end (q97 rule).
    *
    * Scale: pure per-row scan projection — no shuffle, no UDF, all
    * regex inside whole-stage codegen; the hard part of readability at
    * 100 TB is not compute but determinism, hence integer counts.
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", $"lang",
        size(filter(toks, w => length(w) >= 1)).cast("long").as("n_words"),
        greatest(size(regexp_extract_all($"text", lit("[.!?]+"), lit(0))),
          lit(1)).cast("long").as("n_sentences"),
        (size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0))) +
          size(filter(split(lower($"text"), " "),
            w => length(w) >= 1 && !w.rlike("[aeiouy]"))))
          .cast("long").as("n_syllables"))
      .withColumn("flesch",
        when($"n_words" > 0,
          round(lit(206.835) -
            lit(1.015) * ($"n_words" / $"n_sentences") -
            lit(84.6) * ($"n_syllables" / $"n_words"), 4)))
      .withColumn("band",
        when($"flesch".isNull, lit(null).cast("string"))
          .when($"flesch" >= 60, "easy")
          .when($"flesch" >= 30, "medium")
          .otherwise("hard"))
  }

  /** Distinct-n lexical diversity per source (the distinct-1/2/3
    * metric of Li et al. 2016, the standard repetitiveness /
    * template-spam screen for generated or scraped corpora): for each
    * n ≤ maxN, the fraction of a source's n-gram OCCURRENCES that are
    * distinct types — a low distinct-2/3 source is boilerplate or
    * model-generated loops. One (source, gram) rollup per n over the
    * shared [[graft.ops.Dedup.ngramsOf]] windows (docs with < n tokens
    * contribute nothing, null text contributes nothing — identical
    * guards to the decontamination family).
    *
    * Scale: the shuffle is (source, gram)-keyed with map-side partial
    * counts — the exact twin of what q230's KMV sketch estimates in
    * O(k) state; run THIS when you need the true ratio on a slice and
    * the sketch on the full 100 TB corpus.
    */
  def distinctNgramDiversity(spark: SparkSession, dir: String,
      maxN: Int = 3): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir).select($"source", toks.as("t"))
    (1 to maxN).map { n =>
      base.select($"source", explode(Dedup.ngramsOf("t", n)).as("gram"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          count_distinct($"gram").as("n_distinct"))
        .select($"source", lit(n.toLong).as("n"), $"n_total", $"n_distinct",
          when($"n_total" > 0,
            round($"n_distinct".cast("double") / $"n_total", 6))
            .as("distinct_ratio"))
    }.reduce(_ unionByName _)
  }
}
