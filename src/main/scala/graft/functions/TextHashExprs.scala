package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot text-hashing kernels.
  *
  * The higher-order-function formulations (transform/filter over arrays)
  * are correct but evaluate one interpreted lambda per (row × hash ×
  * token); these expressions do one compiled pass per row, which is what
  * makes MinHash/SimHash dedup viable at 100 TB.
  *
  * Hashing uses Spark's XXH64 on each token's UTF-8 bytes; the k MinHash
  * permutations derive from one base hash per shingle with odd
  * multiplicative constants (one-hash MinHash construction), so each
  * shingle is hashed exactly once.
  */
object TextHashExprs {

  private val GOLDEN = 0x9E3779B97F4A7C15L

  private[functions] def splitWs(text: UTF8String): Array[String] = {
    val s = text.toString.toLowerCase.trim
    if (s.isEmpty) Array.empty else s.split("\\s+")
  }

  /** Static kernels shared by the interpreted and generated code paths —
    * `doGenCode` emits one static call, so the expressions stay inside
    * whole-stage codegen instead of falling back to interpreted eval. */
  def minhashSigKernel(text: UTF8String, as: Array[Long], bs: Array[Long],
      shingleWidth: Int): GenericArrayData = {
    val numHashes = as.length
    val toks = splitWs(text)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    if (toks.isEmpty) return new GenericArrayData(mins)
    val w = math.min(shingleWidth, toks.length)
    val nSh = toks.length - w + 1
    var s = 0
    while (s < nSh) {
      // base hash of the shingle = chained token hashes (order-sensitive)
      var h = 0L
      var j = 0
      while (j < w) { h = hashToken(toks(s + j), h ^ GOLDEN); j += 1 }
      var i = 0
      while (i < numHashes) {
        val v = as(i) * h + bs(i)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  def simhash64Kernel(text: UTF8String): Long = {
    val toks = splitWs(text)
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = hashToken(toks(t), 42L)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      t += 1
    }
    var sim = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) sim |= (1L << i); i += 1 }
    sim
  }

  def rollingHash64Kernel(text: UTF8String): Long = {
    val bytes = text.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 131L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  private def hashToken(t: String, seed: Long): Long = {
    val b = t.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5 digests (16-byte binary) of every `width`-token window of the
    * whitespace-tokenized text — value-identical to
    * `transform(sequence(1, n-width+1),
    *    i => unhex(md5(array_join(slice(toks, i, width), " "))))`
    * over `toks = filter(split(text, "\\s+"), _ != "")`, but one compiled
    * pass per row: the HOF formulation is CodegenFallback, so every
    * window paid an interpreted lambda walk plus a slice copy, a join
    * allocation and a hex/unhex round-trip (r15 measured the span gate
    * spending most of its kernel time there). md5 is fed the window's
    * UTF-8 bytes directly (tokens + single spaces — bytewise equal to the
    * joined string), so the digest, and with it the DuckDB oracle
    * identity, is unchanged. Docs with fewer than `width` tokens yield an
    * empty array (the caller's `size(toks) >= width` filter). */
  def spanWindowKernel(text: UTF8String, width: Int): GenericArrayData = {
    val toks = text.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length - width + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val tb = new Array[Array[Byte]](toks.length)
    var i = 0
    while (i < toks.length) {
      tb(i) = toks(i).getBytes(StandardCharsets.UTF_8)
      i += 1
    }
    val d = md5Local.get()
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      d.reset()
      var j = 0
      while (j < width) {
        if (j > 0) d.update(' '.toByte)
        d.update(tb(i + j))
        j += 1
      }
      out(i) = d.digest()
      i += 1
    }
    new GenericArrayData(out)
  }

  private val HEX = "0123456789abcdef".toCharArray

  private def hexString(b: Array[Byte]): UTF8String = {
    val out = new Array[Byte](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = HEX((b(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HEX(b(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Content-defined chunks of a text, computed in one compiled pass —
    * the fused form of [[graft.operators.TextOps.cdcChunksOf]]'s HOF
    * chain (boundary positions via a per-gram interpreted lambda, chunk
    * slices + md5 per chunk): boundaries fall where the trailing k-gram's
    * first-7-md5-byte integer lands in residue 0 mod d, chunk ids are
    * POSITIONAL including the degenerate trailing chunk the e >= s filter
    * drops, and each chunk hash is the 32-char lowercase md5 hex of the
    * chunk's space-joined tokens — all bit-identical to the DataFrame
    * formulation (and the DuckDB oracle). Docs with zero tokens yield an
    * empty array (the caller's size >= 1 filter). */
  def cdcChunksKernel(text: UTF8String, k: Int,
      d: Int): GenericArrayData = {
    val toks = text.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { tb(i) = toks(i).getBytes(StandardCharsets.UTF_8); i += 1 }
    val dig = md5Local.get()
    def hash56Of(from: Int, until: Int): Long = {
      dig.reset()
      var j = from
      while (j < until) {
        if (j > from) dig.update(' '.toByte)
        dig.update(tb(j))
        j += 1
      }
      val b = dig.digest()
      var h = 0L
      var m = 0
      while (m < 7) { h = (h << 8) | (b(m) & 0xffL); m += 1 }
      h
    }
    // boundary positions (1-based, i in [k..n]) where the trailing k-gram
    // toks[i-k+1..i] hashes to residue 0
    val bpos = new scala.collection.mutable.ArrayBuffer[Int]()
    if (n >= k) {
      var p = k
      while (p <= n) {
        if (hash56Of(p - k, p) % d == 0) bpos += p
        p += 1
      }
    }
    // chunks: ss = 1 +: bpos.map(_+1), es = bpos :+ n; POSITIONAL ids,
    // degenerate trailing chunk (e < s) skipped after numbering
    val out = new scala.collection.mutable.ArrayBuffer[Any](bpos.length + 1)
    var j = 0
    while (j <= bpos.length) {
      val s0 = if (j == 0) 1 else bpos(j - 1) + 1
      val e0 = if (j < bpos.length) bpos(j) else n
      if (e0 >= s0) {
        dig.reset()
        var t = s0 - 1
        while (t < e0) {
          if (t > s0 - 1) dig.update(' '.toByte)
          dig.update(tb(t))
          t += 1
        }
        out += new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any]((j + 1).toLong,
            (e0 - s0 + 1).toLong, hexString(dig.digest())))
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** array<struct<chunk_id, n_tokens, h>> — see [[cdcChunksKernel]]. */
  case class CdcChunks(child: Expression, k: Int, d: Int)
      extends UnaryExpression {
    // deterministic in fact; declared nondeterministic so the optimizer
    // cannot clone the kernel into the generator's inferred pre-filter
    // (guide §4.4, same as SpanWindowHashes)
    override lazy val deterministic: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("chunk_id", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("h", StringType, nullable = false))), containsNull = false)
    override def prettyName: String = "cdc_chunks"

    override def nullSafeEval(input: Any): Any =
      cdcChunksKernel(input.asInstanceOf[UTF8String], k, d)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.cdcChunksKernel(" +
          s"$c, $k, $d);")
    override protected def withNewChildInternal(c: Expression): CdcChunks =
      copy(child = c)
  }

  /** One-pass C4 page screen (the [[graft.operators.TextOps.c4FiltersFrame]]
    * signals computed in-row): line split keeping trailing empties
    * (Spark `split(text, "\n")` keeps them), per-line keep =
    * space-rtrimmed line ends in `[.!?"]` AND has ≥ minLineWords
    * `\s+`-separated words AND no "javascript" (lowered), sentence count
    * = `[.!?]` occurrences across kept lines, plus the page-level
    * lorem-ipsum / brace / blocklist screens. The DataFrame formulation
    * evaluated an interpreted filter lambda per LINE (rlike + split +
    * HOF inside); this kernel is the same integer/boolean arithmetic in
    * one compiled pass, so every signal — and the DuckDB oracle hash —
    * is unchanged. */
  def c4ScreenKernel(text: UTF8String, minLineWords: Int,
      badWords: Array[String]): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    // split('\n') KEEPING trailing empties — Java's split drops them,
    // Spark's split(_, _, -1) keeps them; n_lines must match Spark's
    var nLines = 1
    var li = 0
    while (li < s.length) { if (s.charAt(li) == '\n') nLines += 1; li += 1 }
    var kept = 0
    var sentences = 0
    var start = 0
    var idx = 0
    while (idx <= s.length) {
      if (idx == s.length || s.charAt(idx) == '\n') {
        // line = s[start, idx)
        if (c4LineKeepKernel(s, start, idx, minLineWords)) {
          kept += 1
          var j = start
          while (j < idx) {
            val c = s.charAt(j)
            if (c == '.' || c == '!' || c == '?') sentences += 1
            j += 1
          }
        }
        start = idx + 1
      }
      idx += 1
    }
    val lowered = s.toLowerCase(java.util.Locale.ROOT)
    val noLorem = !lowered.contains("lorem ipsum")
    val noBrace = s.indexOf('{') < 0
    val noBad = badWords.isEmpty || !hasBadWordRun(lowered, badWords)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nLines, kept, sentences, noLorem, noBrace, noBad))
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** rtrim(line) ends in [.!?"] && ≥ minWords \s+-words && no
    * "javascript" in the lowered line — `c4LineKeep` on s[from, to). */
  private def c4LineKeepKernel(s: String, from: Int, to: Int,
      minWords: Int): Boolean = {
    var end = to
    // spaces only, as DuckDB's rtrim: a line ending ".\r" is not kept,
    // as the oracle's `regexp_matches(rtrim(l), '[.!?"]$')` is false
    // there (Java's `$` would match before the final \r)
    while (end > from && s.charAt(end - 1) == ' ') end -= 1
    if (end == from) return false
    val last = s.charAt(end - 1)
    if (last != '.' && last != '!' && last != '?' && last != '"') return false
    var words = 0
    var inWord = false
    var j = from
    while (j < to && words < minWords) {
      val ws = isWs(s.charAt(j))
      if (!ws && !inWord) { words += 1; inWord = true }
      else if (ws) inWord = false
      j += 1
    }
    if (words < minWords) return false
    !s.substring(from, to).toLowerCase(java.util.Locale.ROOT)
      .contains("javascript")
  }

  /** Does any maximal [a-z] run of the lowered text equal a blocklist
    * word? (= array_intersect(distinct split(lower, "[^a-z]+"),
    * badWords) non-empty, empty tokens never matching.) */
  private def hasBadWordRun(lowered: String, badWords: Array[String]): Boolean = {
    var i = 0
    val n = lowered.length
    while (i < n) {
      if (lowered.charAt(i) >= 'a' && lowered.charAt(i) <= 'z') {
        var j = i + 1
        while (j < n && lowered.charAt(j) >= 'a' && lowered.charAt(j) <= 'z')
          j += 1
        var b = 0
        while (b < badWords.length) {
          val w = badWords(b)
          if (w.length == j - i && lowered.regionMatches(i, w, 0, w.length))
            return true
          b += 1
        }
        i = j
      } else i += 1
    }
    false
  }

  /** One-pass Gopher structural signals (the
    * [[graft.operators.TextOps.gopherRulesFrame]] counters computed
    * in-row): `\s+` tokens of the text (no lowering; empties dropped),
    * newline lines kept with trailing empties, `#|\.\.\.` regex-match
    * count via the same leftmost-non-overlapping scan, bullet/ellipsis
    * line tests, ASCII-letter word count, and the count of distinct
    * required words present. The DataFrame form ran five interpreted
    * filter/aggregate lambdas per doc; same integers, one compiled
    * pass. */
  def gopherScreenKernel(text: UTF8String,
      required: Array[String]): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    // ---- token signals
    var nWords = 0
    var sumLen = 0L
    var nAlpha = 0
    val matched = new java.util.HashSet[String](required.length * 2)
    val reqSet = new java.util.HashSet[String](required.length * 2)
    var r = 0
    while (r < required.length) { reqSet.add(required(r)); r += 1 }
    var i = 0
    val n = s.length
    while (i < n) {
      if (!isWs(s.charAt(i))) {
        var j = i + 1
        while (j < n && !isWs(s.charAt(j))) j += 1
        nWords += 1
        sumLen += s.codePointCount(i, j)
        var hasAlpha = false
        var k = i
        while (k < j && !hasAlpha) {
          val c = s.charAt(k)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))
            hasAlpha = true
          k += 1
        }
        if (hasAlpha) nAlpha += 1
        if (!reqSet.isEmpty) {
          val w = s.substring(i, j)
          if (reqSet.contains(w)) matched.add(w)
        }
        i = j
      } else i += 1
    }
    // ---- symbol matches: leftmost non-overlapping '#|\.\.\.'
    var nSym = 0
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '#') { nSym += 1; i += 1 }
      else if (c == '.' && i + 2 < n && s.charAt(i + 1) == '.' &&
        s.charAt(i + 2) == '.') { nSym += 1; i += 3 }
      else i += 1
    }
    // ---- line signals (split('\n') keeping trailing empties)
    var nLines = 0
    var nBullet = 0
    var nEll = 0
    var start = 0
    var idx = 0
    while (idx <= n) {
      if (idx == n || s.charAt(idx) == '\n') {
        nLines += 1
        if (idx > start) {
          val f = s.charAt(start)
          if (f == '-' || f == '*' || f == '•') nBullet += 1
          if (idx - start >= 3 && s.charAt(idx - 1) == '.' &&
            s.charAt(idx - 2) == '.' && s.charAt(idx - 3) == '.') nEll += 1
        }
        start = idx + 1
      }
      idx += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, sumLen, nSym, nLines, nBullet, nEll, nAlpha,
        matched.size))
  }

  /** struct of the eight Gopher signals — see [[gopherScreenKernel]]. */
  case class GopherScreen(child: Expression, required: Array[String])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_words", IntegerType, nullable = false),
      StructField("sum_len", LongType, nullable = false),
      StructField("n_symbols", IntegerType, nullable = false),
      StructField("n_lines", IntegerType, nullable = false),
      StructField("n_bullet", IntegerType, nullable = false),
      StructField("n_ellipsis", IntegerType, nullable = false),
      StructField("n_alpha_words", IntegerType, nullable = false),
      StructField("n_required", IntegerType, nullable = false)))
    override def prettyName: String = "gopher_screen"

    override def nullSafeEval(input: Any): Any =
      gopherScreenKernel(input.asInstanceOf[UTF8String], required)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val reqRef = ctx.addReferenceObj("gopherReq", required, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.gopherScreenKernel(" +
          s"$c, $reqRef);")
    }
    override protected def withNewChildInternal(c: Expression): GopherScreen =
      copy(child = c)
  }

  /** struct of the six C4 page signals — see [[c4ScreenKernel]]. */
  case class C4Screen(child: Expression, minLineWords: Int,
      badWords: Array[String])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_lines", IntegerType, nullable = false),
      StructField("n_kept_lines", IntegerType, nullable = false),
      StructField("n_sentences", IntegerType, nullable = false),
      StructField("r_no_lorem", BooleanType, nullable = false),
      StructField("r_no_brace", BooleanType, nullable = false),
      StructField("r_no_badwords", BooleanType, nullable = false)))
    override def prettyName: String = "c4_screen"

    override def nullSafeEval(input: Any): Any =
      c4ScreenKernel(input.asInstanceOf[UTF8String], minLineWords, badWords)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bwRef = ctx.addReferenceObj("c4BadWords", badWords, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.c4ScreenKernel(" +
          s"$c, $minLineWords, $bwRef);")
    }
    override protected def withNewChildInternal(c: Expression): C4Screen =
      copy(child = c)
  }

  /** Binary md5 of every width-token window — see [[spanWindowKernel]]. */
  case class SpanWindowHashes(child: Expression, width: Int)
      extends UnaryExpression {
    // The kernel IS deterministic; declaring otherwise stops
    // InferFiltersFromGenerate substituting it into the pre-explode
    // size(...)>0 filter, which evaluated the whole kernel TWICE per row
    // (r15 plan audit: the Filter and the Project both carried the call).
    // The trade (no filter/project reordering through this expression) is
    // the guide's §4.4 pattern for expensive kernels.
    override lazy val deterministic: Boolean = false
    override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
    override def prettyName: String = "span_window_hashes"

    override def nullSafeEval(input: Any): Any =
      spanWindowKernel(input.asInstanceOf[UTF8String], width)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.spanWindowKernel(" +
          s"$c, $width);")
    override protected def withNewChildInternal(c: Expression): SpanWindowHashes =
      copy(child = c)
  }

  /** One-pass token/bigram repetition statistics (the Gopher-style
    * repetition quality signals): token count, distinct-token count, and
    * the highest single-token and adjacent-bigram frequencies. Row-local —
    * at 100 TB this runs inside the scan's codegen stage with zero
    * shuffle, unlike the explode + double-groupBy formulation. */
  /** Per-thread one-row memo for the repetition kernels. Spark's Filter
    * codegen performs NO subexpression elimination (only Project and
    * HashAggregate do), so a screen predicate pushed down through the
    * signal projection re-extracts every struct field from a FRESH
    * kernel call — the 13-rule repetition filter invokes the 17-signal
    * kernel 26× per row (measured: the streaming gate ran 33× its batch
    * sibling until this memo, stream_repetition_filter 7.1s → sibling
    * level). All duplicate invocations see the same input back-to-back,
    * so one (cloned — row getters return wrappers over reused buffers)
    * input + result pair per thread turns them into a byte-compare. The
    * kernels are pure, so memoization is invisible semantically. */
  private final class RowMemo {
    var key: UTF8String = _
    var value: org.apache.spark.sql.catalyst.InternalRow = _
  }
  private val tokMemo =
    ThreadLocal.withInitial[RowMemo](() => new RowMemo)
  private val sigMemo =
    ThreadLocal.withInitial[RowMemo](() => new RowMemo)

  private def memoized(memo: ThreadLocal[RowMemo], text: UTF8String)(
      compute: UTF8String => org.apache.spark.sql.catalyst.InternalRow)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val m = memo.get()
    if (m.key != null && m.key.equals(text)) m.value
    else {
      val r = compute(text)
      m.key = text.clone()
      m.value = r
      r
    }
  }

  def tokenRepetitionKernel(
      text: UTF8String): org.apache.spark.sql.catalyst.InternalRow =
    memoized(tokMemo, text)(tokenRepetitionCompute)

  private def tokenRepetitionCompute(
      text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = splitWs(text)
    val n = toks.length
    val tokCounts = new java.util.HashMap[String, Integer](n * 2)
    var topTok = 0
    var i = 0
    while (i < n) {
      val c = tokCounts.merge(toks(i), Integer.valueOf(1),
        (a, b) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > topTok) topTok = c.intValue
      i += 1
    }
    val biCounts = new java.util.HashMap[String, Integer](n * 2)
    var topBi = 0
    i = 0
    while (i < n - 1) {
      val c = biCounts.merge(toks(i) + " " + toks(i + 1), Integer.valueOf(1),
        (a, b) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > topBi) topBi = c.intValue
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, tokCounts.size, topTok, topBi))
  }

  /** One-pass repetition signals for the Gopher §A1.2 screens (see
    * [[graft.operators.TextOps.repetitionRulesFrame]] for the definitions
    * and the higher-order-function reference formulation this must agree
    * with): line/paragraph totals, distincts, char sums and duplicate
    * chars, top {2,3,4}-gram chars under the (count, len)-lexicographic
    * tie-break, and duplicated {5..10}-gram chars. All lengths are code
    * points (what Spark `length` and DuckDB `LENGTH` count), tokens are
    * whitespace splits with empties dropped and NO case folding, and
    * line/paragraph splits keep trailing empties (Spark `split` keeps
    * them; `String.split` needs limit -1 to match). */
  def repetitionSignalsKernel(
      text: UTF8String): org.apache.spark.sql.catalyst.InternalRow =
    memoized(sigMemo, text)(repetitionSignalsCompute)

  private def repetitionSignalsCompute(
      text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    // (n, distinct, chars, dupChars, topChars) of a string multiset
    def stats(items: Array[String]): Array[Long] = {
      val counts = new java.util.HashMap[String, Integer](items.length * 2)
      var i = 0
      while (i < items.length) {
        counts.merge(items(i), Integer.valueOf(1),
          (a, b) => Integer.valueOf(a.intValue + b.intValue))
        i += 1
      }
      var chars = 0L; var dup = 0L
      var bestC = 0L; var bestL = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        val len = k.codePointCount(0, k.length).toLong
        val c = e.getValue.longValue
        chars += c * len
        dup += (c - 1) * len
        if (c > bestC || (c == bestC && len > bestL)) { bestC = c; bestL = len }
      }
      Array(items.length.toLong, counts.size.toLong, chars, dup,
        bestC * bestL)
    }
    def ngramStats(toks: Array[String], n: Int): Array[Long] = {
      val m = toks.length - n + 1
      if (m <= 0) return Array(0L, 0L, 0L, 0L, 0L)
      val grams = new Array[String](m)
      var i = 0
      while (i < m) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        grams(i) = sb.toString; i += 1
      }
      stats(grams)
    }
    val toks = s.split("\\s+").filter(_.nonEmpty)
    val ls = stats(s.split("\n", -1))
    val ps = stats(s.split("\n\n", -1))
    val out = new Array[Any](17)
    out(0) = ls(0); out(1) = ls(1); out(2) = ls(2); out(3) = ls(3)
    out(4) = ps(0); out(5) = ps(1); out(6) = ps(2); out(7) = ps(3)
    var k = 8
    var n = 2
    while (n <= 4) { out(k) = ngramStats(toks, n)(4); k += 1; n += 1 }
    n = 5
    while (n <= 10) { out(k) = ngramStats(toks, n)(3); k += 1; n += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  /** MinHash signature over word `shingleWidth`-gram shingles of a text
    * column. Returns array<long> of length `numHashes`. */
  case class MinHashSig(child: Expression, numHashes: Int, shingleWidth: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    private lazy val as: Array[Long] =
      Array.tabulate(numHashes)(i => (GOLDEN * (2L * i + 1)) | 1L)
    private lazy val bs: Array[Long] =
      Array.tabulate(numHashes)(i =>
        java.lang.Long.rotateLeft(GOLDEN, i) ^ (i * 0xC2B2AE3D27D4EB4FL))

    override def nullSafeEval(input: Any): Any =
      minhashSigKernel(input.asInstanceOf[UTF8String], as, bs, shingleWidth)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("minhashSigAs", as, "long[]")
      val bsRef = ctx.addReferenceObj("minhashSigBs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.minhashSigKernel(" +
          s"$c, $asRef, $bsRef, $shingleWidth);")
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig =
      copy(child = c)
  }

  /** 64-bit SimHash of the token multiset of a text column. */
  case class SimHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(simhash64Kernel(input.asInstanceOf[UTF8String]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.simhash64Kernel($c);")
    override protected def withNewChildInternal(c: Expression): SimHash64 =
      copy(child = c)
  }

  /** Rolling polynomial fingerprint over the text bytes (base-131
    * wrap-around polynomial — the classic Karp-Rabin form). */
  case class RollingHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "rolling_hash64"

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(rollingHash64Kernel(input.asInstanceOf[UTF8String]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.rollingHash64Kernel($c);")
    override protected def withNewChildInternal(c: Expression): RollingHash64 =
      copy(child = c)
  }

  /** Per-doc BPE subword count under a trained merge table. */
  case class BpeSegmentCount(child: Expression, codec: graft.functions.BpeCodec)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "bpe_segment_count"

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(
        codec.segmentCountText(input.asInstanceOf[UTF8String]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeCodec", codec,
        "graft.functions.BpeCodec")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $ref.segmentCountText($c);")
    }
    override protected def withNewChildInternal(c: Expression): BpeSegmentCount =
      copy(child = c)
  }

  /** Struct of the 17 Gopher-repetition signals — see
    * [[repetitionSignalsKernel]]. */
  case class RepetitionSignals(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StructType(
      (Seq("n_lines", "n_lines_d", "line_chars", "dup_line_chars",
        "n_paras", "n_paras_d", "para_chars", "dup_para_chars") ++
        (2 to 4).map(n => s"top${n}_chars") ++
        (5 to 10).map(n => s"dup${n}_chars"))
        .map(StructField(_, LongType, nullable = false)))
    override def prettyName: String = "repetition_signals"

    override def nullSafeEval(input: Any): Any =
      repetitionSignalsKernel(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.repetitionSignalsKernel($c);")
    override protected def withNewChildInternal(c: Expression): RepetitionSignals =
      copy(child = c)
  }

  /** Struct(n_tokens, n_distinct, top_token_n, top_bigram_n) of the token
    * stream — see [[tokenRepetitionKernel]]. */
  case class TokenRepetition(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("top_token_n", IntegerType, nullable = false),
      StructField("top_bigram_n", IntegerType, nullable = false)))
    override def prettyName: String = "token_repetition"

    override def nullSafeEval(input: Any): Any =
      tokenRepetitionKernel(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextHashExprs.tokenRepetitionKernel($c);")
    override protected def withNewChildInternal(c: Expression): TokenRepetition =
      copy(child = c)
  }

  // ------------------------------------------------------------ Column API

  import org.apache.spark.sql.GraftShims.{column, expression}

  def minhash_signature(c: Column, numHashes: Int = 64,
      shingleWidth: Int = 3): Column =
    column(MinHashSig(expression(c), numHashes, shingleWidth))

  def simhash64(c: Column): Column = column(SimHash64(expression(c)))

  def rolling_hash64(c: Column): Column = column(RollingHash64(expression(c)))

  def token_repetition(c: Column): Column =
    column(TokenRepetition(expression(c)))

  def repetition_signals(c: Column): Column =
    column(RepetitionSignals(expression(c)))

  def bpe_segment_count(c: Column, codec: graft.functions.BpeCodec): Column =
    column(BpeSegmentCount(expression(c), codec))

  def span_window_hashes(c: Column, width: Int): Column =
    column(SpanWindowHashes(expression(c), width))

  def c4_screen(c: Column, minLineWords: Int,
      badWords: Seq[String]): Column =
    column(C4Screen(expression(c), minLineWords, badWords.toArray))

  def gopher_screen(c: Column, required: Seq[String]): Column =
    column(GopherScreen(expression(c), required.toArray))

  def cdc_chunks(c: Column, k: Int, d: Int): Column =
    column(CdcChunks(expression(c), k, d))

  /** Register the kernels for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("minhash_signature",
      es => MinHashSig(es.head, 64, 3), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64",
      es => SimHash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("rolling_hash64",
      es => RollingHash64(es.head), "scala_udf")
  }
}

/** The BPE encoder as a shippable object: ranked merges in, subword
  * counts out. Built once driver-side from
  * [[graft.operators.TextOps.bpeTrain]]'s merge table and shipped as
  * an expression reference (merge tables are vocabulary-bounded — KBs
  * to MBs — the broadcast contract). Word→count results memoize in a
  * bounded per-executor cache, so a Zipfian token stream hits the
  * cache for almost every word. Encoding replays merges lowest-rank-
  * first with greedy left-to-right application — the standard encoder,
  * which by construction reproduces the trainer's final representation
  * on every training word (spec-pinned). */
class BpeCodec(val merges: Array[String]) extends Serializable {
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.put(merges(i), Integer.valueOf(i)); i += 1
    }
    m
  }
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val cacheCap = 1 << 20

  def segmentCountText(text: UTF8String): Long = {
    val toks = PortableHashExprs.tokenize(text)
    var total = 0L
    var i = 0
    while (i < toks.length) { total += wordCount(toks(i)); i += 1 }
    total
  }

  private def wordCount(w: String): Int = {
    val hit = cache.get(w)
    if (hit != null) return hit.intValue
    val n = segment(graft.operators.TextOps.bpeInitialSymbols(w)).length
    if (cache.size < cacheCap) cache.put(w, Integer.valueOf(n))
    n
  }

  /** Stable vocabulary id of a post-segmentation symbol: merge products
    * take their (lowest) merge rank (0..M-1); base symbols take
    * M + codepoint — disjoint by construction, since products are
    * multi-codepoint strings — with the `</w>` marker at M + 0x110000
    * (one past the codepoint space). Total over every symbol
    * [[segment]] can emit, and deterministic, so any two executors
    * agree. */
  def vocabId(sym: String): Int = {
    val hit = productIds.get(sym)
    if (hit != null) hit.intValue
    else if (sym == "</w>") merges.length + 0x110000
    else if (sym.codePointCount(0, sym.length) == 1)
      merges.length + sym.codePointAt(0)
    else throw new IllegalArgumentException(s"unknown BPE symbol: $sym")
  }

  @transient private lazy val productIds: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      val key = merges(i)
      val sep = key.indexOf(' ')
      val prod = key.substring(0, sep) + key.substring(sep + 1)
      // first (lowest-rank) wins when two merges yield one product
      if (!m.containsKey(prod)) m.put(prod, Integer.valueOf(i))
      i += 1
    }
    m
  }

  /** Token ids of a whole text: whitespace-tokenize, segment each word,
    * id each symbol ([[vocabId]] semantics via the precomputed product
    * table). The id stream a packed-shard writer consumes
    * ([[graft.operators.Packing.packTokens]]). */
  def idsText(text: String): Array[Int] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < toks.length) {
      val sy = segment(graft.operators.TextOps.bpeInitialSymbols(toks(i)))
      var j = 0
      while (j < sy.length) { out += vocabId(sy(j)); j += 1 }
      i += 1
    }
    out.result()
  }

  /** Greedy lowest-rank-first merge replay over a symbol sequence. */
  def segment(initial: Array[String]): Array[String] = {
    var sy = initial
    var continue = true
    while (continue && sy.length > 1) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < sy.length - 1) {
        val r = ranks.get(sy(i) + " " + sy(i + 1))
        if (r != null && r.intValue < bestRank) bestRank = r.intValue
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        val key = merges(bestRank)
        val sep = key.indexOf(' ')
        val l = key.substring(0, sep); val rr = key.substring(sep + 1)
        val nb = Array.newBuilder[String]
        i = 0
        while (i < sy.length) {
          if (i < sy.length - 1 && sy(i) == l && sy(i + 1) == rr) {
            nb += l + rr; i += 2
          } else { nb += sy(i); i += 1 }
        }
        sy = nb.result()
      }
    }
    sy
  }
}
