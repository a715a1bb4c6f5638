package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst text expressions (SURVEY.md §2.12 text-analysis
  * surface). `bigram_counts(text)` folds a document's adjacent-char
  * bigrams into one `map<string,bigint>` row.
  *
  * Why an expression and not `explode(zip_with(slice, slice))`: the HOF
  * route emits ONE ROW PER CHARACTER of the corpus before aggregating —
  * at sf0.1 that is ~10⁷ exploded rows (14.4 s, 24% of the whole bench)
  * and the row volume grows linearly in corpus bytes with a terrible
  * constant. Per-doc count maps emit one row per document; the later
  * `explode(map)` is bounded by distinct-bigrams-per-doc (≈ hundreds),
  * cutting generator output ~50-100× while the (lang, bigram) shuffle
  * stays identical. At 100 TB the explode row count, not the shuffle,
  * is the scale-killer this removes.
  */
object TextOps {

  /** Adjacent char-pair counts of `text` as a MapData, bigrams in a
    * deterministic order (signed packed-int order — lexicographic for
    * chars below U+8000, which covers ASCII corpora; see the note on
    * the case class).
    *
    * Chars are UTF-16 code units; a bigram spanning an astral-plane
    * surrogate pair would differ from code-point (DuckDB `substr`)
    * semantics — the corpus is BMP, where the two coincide.
    */
  def bigramCounts(text: UTF8String): MapData = {
    val s = text.toString
    val n = s.length
    if (n < 2) {
      return new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any]))
    }
    // pack each (char, nextChar) pair into one int; sort + run-length
    // encode — allocation-light vs a boxed per-position hash map
    val packed = new Array[Int](n - 1)
    var i = 0
    while (i < n - 1) {
      packed(i) = (s.charAt(i).toInt << 16) | s.charAt(i + 1).toInt
      i += 1
    }
    java.util.Arrays.sort(packed)
    var distinct = 1
    i = 1
    while (i < packed.length) {
      if (packed(i) != packed(i - 1)) distinct += 1
      i += 1
    }
    val keys = new Array[Any](distinct)
    val vals = new Array[Any](distinct)
    var out = 0
    var runStart = 0
    i = 1
    while (i <= packed.length) {
      if (i == packed.length || packed(i) != packed(runStart)) {
        val k = packed(runStart)
        keys(out) = UTF8String.fromString(
          new String(Array((k >>> 16).toChar, (k & 0xffff).toChar)))
        vals(out) = (i - runStart).toLong
        out += 1
        runStart = i
      }
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  /** Single-char counts of `text` as a MapData, keys in code-point
    * order (== UTF-8 byte order == DuckDB string order). Same run-length
    * construction as [[bigramCounts]]; consumers fold the map per doc —
    * char-level profiling never explodes one row per corpus character.
    * Iterates CODE POINTS (a surrogate pair is one key), so the value
    * total always equals Spark's `length(text)` / DuckDB's `len(text)`
    * — counting UTF-16 units here would make entropy derived from a
    * different total than n_chars (negative entropy on astral text).
    */
  def charCounts(text: UTF8String): MapData = {
    val s = text.toString
    if (s.isEmpty) {
      return new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any]))
    }
    val n = s.codePointCount(0, s.length)
    val packed = new Array[Int](n)
    var i = 0
    var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      packed(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    java.util.Arrays.sort(packed)
    var distinct = 1
    i = 1
    while (i < packed.length) {
      if (packed(i) != packed(i - 1)) distinct += 1
      i += 1
    }
    val keys = new Array[Any](distinct)
    val vals = new Array[Any](distinct)
    var out = 0
    var runStart = 0
    i = 1
    while (i <= packed.length) {
      if (i == packed.length || packed(i) != packed(runStart)) {
        keys(out) = UTF8String.fromString(
          new String(Character.toChars(packed(runStart))))
        vals(out) = (i - runStart).toLong
        out += 1
        runStart = i
      }
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  case class CharCounts(child: Expression) extends UnaryExpression {
    override def dataType: DataType =
      MapType(StringType, LongType, valueContainsNull = false)
    override def nullSafeEval(t: Any): Any =
      charCounts(t.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.charCounts($t)")
    override protected def withNewChildInternal(c: Expression): CharCounts =
      copy(child = c)
  }

  // sorted ints compare as unsigned char-pairs only for BMP chars below
  // 0x8000 in the high position; the testdata corpus is ASCII, where int
  // order == lexicographic order. Map ordering is cosmetic anyway — every
  // consumer aggregates over the exploded entries.
  case class BigramCounts(child: Expression) extends UnaryExpression {
    override def dataType: DataType =
      MapType(StringType, LongType, valueContainsNull = false)
    override def nullSafeEval(t: Any): Any =
      bigramCounts(t.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.bigramCounts($t)")
    override protected def withNewChildInternal(c: Expression): BigramCounts =
      copy(child = c)
  }

  /** Feature-hashing ("hashing trick") token counts: one `dim`-length
    * count vector per document, index = first 32 md5 bits of the token
    * mod `dim` — the classic no-vocabulary text featurizer. One pass per
    * row, no explode/shuffle; the engine-portable hash (md5 prefix as
    * unsigned 32-bit, exactly `('0x' || substring(md5(tok),1,8))::UBIGINT
    * % dim` in DuckDB) keeps the oracle byte-exact.
    *
    * Tokenization matches `split(text, ' ')` with trailing empties kept
    * (Spark's split limit -1 / DuckDB string_split): empty text is one
    * empty token, consecutive spaces produce empty tokens.
    */
  /** The ONE tokenize-and-hash loop behind feature_hash and simhash32:
    * split on single spaces keeping ALL empties (`split(text, ' ')`
    * limit -1 / DuckDB string_split semantics), token hash = first 32
    * md5 bits as an unsigned long — identical to
    * `conv(substring(md5(tok),1,8),16,10)`. Both oracles depend on this
    * exact behavior, so it must not fork into per-expression copies.
    */
  private def foreachTokenHash(text: UTF8String)(f: Long => Unit): Unit = {
    val s = text.toString
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = s.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val d = md.digest(s.substring(start, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.reset()
        f(((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL))
        start = i + 1
      }
      i += 1
    }
  }

  def featureHash(text: UTF8String, dim: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val counts = new Array[Long](dim)
    foreachTokenHash(text)(h => counts((h % dim).toInt) += 1)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(counts)
  }

  /** 32-bit SimHash of a document in one pass: token hash = first 32 md5
    * bits (identical to `conv(substring(md5(tok),1,8),16,10)`), one
    * ±1 vote per bit per token OCCURRENCE, bit set iff its vote sum is
    * positive. Replaces the explode + 32-sum-column aggregation shape —
    * per-doc SimHash is a pure function of the text, so at 100 TB it
    * belongs in the scan projection, not behind a corpus-sized shuffle.
    * Tokenization = `split(text, ' ')` with trailing empties kept, same
    * as the relational pipeline.
    */
  def simhash32(text: UTF8String): Long = {
    val votes = new Array[Int](32)
    foreachTokenHash(text) { h =>
      var b = 0
      while (b < 32) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  case class SimHash32(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(t: Any): Any =
      simhash32(t.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.simhash32($t)")
    override protected def withNewChildInternal(c: Expression): SimHash32 =
      copy(child = c)
  }

  case class FeatureHash(child: Expression, dim: Int) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      featureHash(t.asInstanceOf[UTF8String], dim)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.featureHash($t, $dim)")
    override protected def withNewChildInternal(c: Expression): FeatureHash =
      copy(child = c)
  }

  /** Byte offsets of `split(text, ' ')` token starts, plus a sentinel:
    * starts(k) = first byte of token k, starts(nTokens) = numBytes + 1
    * (as if one more space sat past the end), so token k spans bytes
    * [starts(k), starts(k+1) − 1). Found directly in UTF-8 — 0x20 never
    * occurs inside a multi-byte sequence — and because tokens are joined
    * by single spaces, the word n-gram (t[i] ⧺ ' ' ⧺ … ⧺ t[i+n−1]) is
    * EXACTLY the byte range [starts(i), starts(i+n) − 1) of the original
    * document. That identity is what lets the gram expressions below
    * hash/slice grams with zero concatenation.
    */
  private def tokenStarts(text: UTF8String): Array[Int] = {
    val nb = text.numBytes
    var spaces = 0
    var i = 0
    while (i < nb) { if (text.getByte(i) == 0x20) spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 2)
    var k = 1
    i = 0
    while (i < nb) {
      if (text.getByte(i) == 0x20) { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(spaces + 1) = nb + 1
    starts
  }

  /** All word n-gram hashes of a document, in document order: hash =
    * Spark's xxhash64 (XXH64, seed 42) over the gram's UTF-8 bytes — by
    * the substring identity above, bit-identical to
    * `xxhash64(concat_ws(' ', tokens i..i+n−1))` without ever building
    * the gram string (the concat_ws-per-position shape paid one
    * interpreted lambda + string allocation per gram per doc; this is a
    * single primitive loop in the scan stage). Repetition/boilerplate/
    * decontamination consumers count, distinct, or join these 8-byte
    * keys instead of ~50-byte strings.
    */
  def gramHashes(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val starts = tokenStarts(text)
    val nGrams = starts.length - 1 - n + 1
    if (nGrams <= 0) {
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.emptyLongArray)
    }
    val out = new Array[Long](nGrams)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var g = 0
    while (g < nGrams) {
      val s = starts(g)
      val e = starts(g + n) - 1
      out(g) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + s, e - s, 42L)
      g += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The per-doc DISTINCT word n-gram STRINGS (first occurrence kept),
    * for consumers whose OUTPUT is the phrase itself (boilerplate
    * ranking): dedup happens on the 64-bit gram hash, and only distinct
    * grams are materialized as strings — one byte-range copy each,
    * replacing build-every-gram + array_distinct-on-strings.
    */
  def distinctGrams(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val starts = tokenStarts(text)
    val nGrams = starts.length - 1 - n + 1
    if (nGrams <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[Long]()
    val out = new java.util.ArrayList[Any]()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var g = 0
    while (g < nGrams) {
      val s = starts(g)
      val e = starts(g + n) - 1
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + s, e - s, 42L)
      if (seen.add(h)) {
        val b = new Array[Byte](e - s)
        org.apache.spark.unsafe.Platform.copyMemory(
          base, off + s, b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, e - s)
        out.add(UTF8String.fromBytes(b))
      }
      g += 1
    }
    new GenericArrayData(out.toArray)
  }

  // ---- rolling-hash CDC (q250/q251) ----------------------------------
  // Gear-style content-defined chunking cuts in ONE O(1)-per-position
  // rolling pass, replacing the md5-per-position stub (which paid a full
  // digest per corpus character — ~100× the production constant). The
  // hash is a Rabin–Karp polynomial over per-codepoint "gear" values:
  //
  //   g(c)  = (c · 2654435761) mod P          (Knuth multiplicative mix)
  //   h(i)  = Σ_{k=0}^{w−1} g(cp_{i+k}) · B^{w−1−k}  mod P
  //   cut(i) ⇔ h(i) ≡ 0 (mod modulus)
  //
  // with P = 2^31 − 1 and B = 256, chosen so every intermediate fits
  // comfortably in i64 (products ≤ 2^62) and the SAME value is exactly
  // replayable in DuckDB integer SQL (B^j mod P are 8 literals; the
  // 8-term sum promotes to HUGEINT before the final mod). Positions are
  // 1-based in CODEPOINT coordinates — Spark's length()/substring() and
  // DuckDB's len()/substring() both count codepoints, so the chunk
  // extraction downstream agrees byte-for-byte.

  private val CdcP = 2147483647L // 2^31 − 1 (prime)
  private val CdcB = 256L

  private def cdcGear(cp: Int): Long = (cp.toLong * 2654435761L) % CdcP

  /** Folds `f(position, windowHash)` over every w-codepoint window of
    * `text` (positions 1..n−w+1), hash maintained by the O(1) rolling
    * update h' = ((h − g(out)·B^{w−1})·B + g(in)) mod P.
    */
  private def cdcHashFold(text: UTF8String, window: Int)(
      f: (Long, Long) => Unit): Unit = {
    val s = text.toString
    val sl = s.length
    val cps = new Array[Int](sl)
    var n = 0
    var i = 0
    while (i < sl) {
      val cp = s.codePointAt(i)
      cps(n) = cp
      n += 1
      i += Character.charCount(cp)
    }
    if (n < window) return
    var bw = 1L // B^{w−1} mod P
    var j = 0
    while (j < window - 1) { bw = (bw * CdcB) % CdcP; j += 1 }
    var h = 0L
    j = 0
    while (j < window) { h = (h * CdcB + cdcGear(cps(j))) % CdcP; j += 1 }
    f(1L, h)
    var start = 1
    while (start <= n - window) {
      // (h + P − x) ≤ 2P < 2^32; ·B ≤ 2^40; + g < 2^41 — exact in i64
      h = (((h + CdcP - (cdcGear(cps(start - 1)) * bw) % CdcP) % CdcP)
        * CdcB + cdcGear(cps(start + window - 1))) % CdcP
      f((start + 1).toLong, h)
      start += 1
    }
  }

  /** CDC cut positions of `text` at `modulus` (q250): ascending 1-based
    * codepoint positions i with h(i) ≡ 0 (mod modulus).
    */
  def cdcCuts(text: UTF8String, window: Int,
      modulus: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new java.util.ArrayList[Any]()
    cdcHashFold(text, window) { (p, h) =>
      if (h % modulus == 0L) out.add(p)
    }
    new GenericArrayData(out.toArray)
  }

  /** The q251 sweep's compact state: only positions with h ≡ 0 (mod 16)
    * — the SUPERSET cut set, since mod-32/mod-64 cuts are its subsets —
    * each carrying h mod 64 so the per-modulus filter `h % m = 0`
    * re-derives every nested cut set. O(cuts) per doc, not O(text): the
    * round-8 sweep checkpointed a per-character struct for EVERY
    * position (a >10× corpus materialization); expected cut density at
    * mod 16 is 1/16 of positions.
    */
  def cdcCutHashes(text: UTF8String,
      window: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new java.util.ArrayList[Any]()
    cdcHashFold(text, window) { (p, h) =>
      if (h % 16L == 0L)
        out.add(new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](p, h % 64L)))
    }
    new GenericArrayData(out.toArray)
  }

  case class CdcCuts(child: Expression, window: Int, modulus: Int)
      extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      cdcCuts(t.asInstanceOf[UTF8String], window, modulus)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        t => s"graft.functions.TextOps.cdcCuts($t, $window, $modulus)")
    override protected def withNewChildInternal(c: Expression): CdcCuts =
      copy(child = c)
  }

  case class CdcCutHashes(child: Expression, window: Int)
      extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("p", LongType, nullable = false),
          org.apache.spark.sql.types.StructField("h", LongType, nullable = false))),
        containsNull = false)
    override def nullSafeEval(t: Any): Any =
      cdcCutHashes(t.asInstanceOf[UTF8String], window)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        t => s"graft.functions.TextOps.cdcCutHashes($t, $window)")
    override protected def withNewChildInternal(c: Expression): CdcCutHashes =
      copy(child = c)
  }

  case class GramHashes(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      gramHashes(t.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.gramHashes($t, $n)")
    override protected def withNewChildInternal(c: Expression): GramHashes =
      copy(child = c)
  }

  case class DistinctGrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      distinctGrams(t.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.distinctGrams($t, $n)")
    override protected def withNewChildInternal(c: Expression): DistinctGrams =
      copy(child = c)
  }

  /** Registers `bigram_counts` / `feature_hash` / `simhash32` on the
    * session (idempotent). `feature_hash(text)` uses dim 64; the
    * expression itself takes any dim.
    */
  /** The ONE literal-only gram-length extractor, shared by this
    * register() route and GraftExtensions, so the two deployment routes
    * cannot drift on what they reject.
    */
  private[graft] def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"gram length must be an integer literal, got $other")
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "bigram_counts", exprs => BigramCounts(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "char_counts", exprs => CharCounts(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "feature_hash", exprs => FeatureHash(exprs.head, 64), "built-in")
    reg.createOrReplaceTempFunction(
      "simhash32", exprs => SimHash32(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "gram_hashes", exprs => GramHashes(exprs.head, litInt(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction(
      "distinct_grams", exprs => DistinctGrams(exprs.head, litInt(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction(
      "cdc_cuts", exprs =>
        CdcCuts(exprs.head, litInt(exprs(1)), litInt(exprs(2))), "built-in")
    reg.createOrReplaceTempFunction(
      "cdc_cut_hashes", exprs =>
        CdcCutHashes(exprs.head, litInt(exprs(1))), "built-in")
  }
}
