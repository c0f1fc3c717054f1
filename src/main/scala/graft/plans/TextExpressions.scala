package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions.lower
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The per-row kernel of cost-budgeted chunking, bound into plans by
  * [[TextExpressions.costChunks]] (the [[ShingleHash]] convention). */
object ChunkKernel {
  private final class Acc {
    val text = new java.lang.StringBuilder
    var sum = 0L
    var hasCost = false
  }

  /**
   * Row-local cost-budgeted chunking — the kernel behind
   * [[graft.operators.Corpus.chunkDocsByCost]]: given a doc's tokens and
   * their per-token costs, emit the (chunk, chunk_text, n_tokens) rows the
   * former explode → per-doc-window running sum → (doc, chunk) aggregation
   * computed — but in ONE pass over the row, no exchange at all. A
   * document's chunk assignment depends only on its own token stream, so
   * shipping every token through a corpus-sized shuffle just to run a
   * per-doc prefix sum was pure overhead: at sf0.1 the window form
   * exchanged ~1M exploded token rows (0.43 s vs DuckDB's 0.057 — the r16
   * verdict's 7.6× tail); at 100 TB that exchange is corpus-sized. The
   * map-only form scans, chunks in-row, and explodes only the ≤
   * tokens/chunk-budget output rows.
   *
   * Semantics are the window form's, exactly: running = inclusive prefix
   * sum of costs (null costs contribute nothing — SUM-over-window's null
   * rule), chunk = (max(running,1) − 1) div budget, chunk_text = the
   * chunk's tokens joined by single spaces in token order, n_tokens = the
   * chunk's cost sum (null when every member cost is null — SUM's rule
   * again). Chunk indices need not be contiguous or monotone (negative
   * costs can revisit a chunk); grouping is by chunk VALUE in first-
   * appearance order, matching the aggregation.
   */
  def costChunks(toks: ArrayData, costs: ArrayData, budget: Long): ArrayData = {
    val n = toks.numElements()
    // by-construction equal lengths (costs = transform over the same
    // token array); a drifted caller must fail loudly, not mis-chunk
    require(costs.numElements() == n,
      s"cost_chunks: ${costs.numElements()} costs for $n tokens")
    val order = new java.util.ArrayList[java.lang.Long]
    val accs = new java.util.HashMap[java.lang.Long, Acc]
    var run = 0L
    var i = 0
    while (i < n) {
      val hasCost = !costs.isNullAt(i)
      if (hasCost) run += costs.getLong(i)
      val chunk: java.lang.Long = (math.max(run, 1L) - 1L) / budget
      var acc = accs.get(chunk)
      if (acc == null) {
        acc = new Acc; accs.put(chunk, acc); order.add(chunk)
      }
      if (acc.text.length > 0) acc.text.append(' ')
      acc.text.append(toks.getUTF8String(i).toString)
      if (hasCost) { acc.sum += costs.getLong(i); acc.hasCost = true }
      i += 1
    }
    val out = new Array[Any](order.size())
    var j = 0
    while (j < order.size()) {
      val chunk = order.get(j)
      val acc = accs.get(chunk)
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        chunk.longValue(), UTF8String.fromString(acc.text.toString),
        if (acc.hasCost) acc.sum else null)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** The row-local text kernels. Each is a static method (the scalac
  * static forwarder) that one [[NativeKernel]] binding in
  * [[TextExpressions]] calls, from generated code and from the
  * interpreted path alike. */
object ShingleHash {
  /** Reused per-thread digest: getInstance per row would dominate the
    * kernel (allocation + provider lookup); digest() resets in place. */
  private val Md5Digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** Two-pass maximal `[a-z0-9]`-run scanner shared by
    * [[md5FeatureBuckets]] and [[alnumHashes]] — the byte-scan equivalent
    * of `regexp_extract_all(lower(text), '[a-z0-9]+')` boundaries, exact
    * because those code points are single-byte in UTF-8 and never occur
    * inside multi-byte sequences. Returns (starts, ends) per run; empty
    * arrays when the text has no run. */
  private def alnumRuns(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
    val len = bytes.length
    def isAl(b: Byte): Boolean = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
    var count = 0
    var i = 0
    var in = false
    while (i < len) {
      if (isAl(bytes(i))) { if (!in) { count += 1; in = true } } else in = false
      i += 1
    }
    val starts = new Array[Int](count)
    val ends = new Array[Int](count)
    var t = -1
    in = false
    i = 0
    while (i < len) {
      if (isAl(bytes(i))) {
        if (!in) { t += 1; starts(t) = i; in = true }
        ends(t) = i + 1
      } else in = false
      i += 1
    }
    (starts, ends)
  }

  /**
   * md5-hex of every n-token window of the (pre-lowered) text — the
   * ExactSubstr oracle bridge's window keys as ONE row-local kernel
   * ([[ShingleHash.windowMd5s]]): each window is a contiguous byte range
   * (the [[ShingleHash.hashes]] observation), so no shingle strings are
   * ever built — the `shingles` column formulation chained (n−1)
   * interpreted `zip_with` concats and was the measured dominant cost of
   * the bridge (6.2 s → sub-second at sf0.1). Values are bit-identical
   * to `md5(shingle_string)` / DuckDB `md5(array_to_string(...))`.
   * Fewer than n tokens → empty array; null text → null.
   *
   * The md5-hex twin of [[hashes]] for the
   * ExactSubstr ORACLE BRIDGE — each n-token window of the
   * (pre-lowered) text is a contiguous byte range, hashed in place
   * with the thread-local digest; emitted as lowercase hex, identical
   * to `md5(window_string)` in any engine. No short-doc fallback:
   * fewer than `n` tokens → empty array (the caller's eligibility
   * filter semantics, kept here so the bridge cannot silently widen).
   */
  def windowMd5s(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) {
      if (bytes(i) == 0x20) spaces += 1
      i += 1
    }
    val numToks = spaces + 1
    if (numToks < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](numToks)
    var t = 0
    i = 0
    while (i < len) {
      if (bytes(i) == 0x20) { t += 1; starts(t) = i + 1 }
      i += 1
    }
    val md = Md5Digest.get()
    val hex = HexDigits
    val m = numToks - n + 1
    val out = new Array[Any](m)
    var k = 0
    while (k < m) {
      val st = starts(k)
      val en = if (k + n == numToks) len else starts(k + n) - 1
      md.reset()
      md.update(bytes, st, en - st)
      val dig = md.digest()
      val h = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        h(b * 2) = hex((dig(b) >> 4) & 0xF)
        h(b * 2 + 1) = hex(dig(b) & 0xF)
        b += 1
      }
      out(k) = UTF8String.fromBytes(h)
      k += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Token-span removal for substring-level exact dedup (the rebuild step
   * of [[graft.operators.Dedup.dedupSubstrings]]): given text and the
   * ASCENDING 1-based token indices where duplicated `n`-token
   * windows start, emit the text with every covered token removed and the
   * survivors re-joined by single spaces.
   *
   * Tokens are the single-space split of the child — the kernel itself is
   * CASE-AGNOSTIC (the [[graft.plans.TextExpressions.cutSpans]] wrapper
   * pre-lowers for the oracle family; the preserve-case wrapper passes
   * the original text — valid because token indices are identical in
   * `text` and `lower(text)`: Unicode lowering never produces or consumes
   * U+0020) — so each token is a contiguous byte range and the whole cut is one byte scan with a
   * pointer walk over the starts array: O(bytes + |starts|), zero
   * allocation beyond the output buffer. An empty starts array makes the
   * expression the identity on its input (single-space split + re-join
   * round-trips exactly), which is what lets callers
   * `coalesce(starts, empty)` instead of branching per row.
   *
   * Contract (caller-enforced, see the operator): starts ascending;
   * coverage of start s is tokens [s, s+n). Null text or null starts →
   * null (null-intolerant BinaryExpression default).
   *
   * One byte scan over the (pre-lowered) text with
   * a pointer walk over the ascending starts array. Token j (1-based,
   * single-space split semantics — empty tokens count) is dropped iff
   * some start s ≤ j has j < s + n; survivors re-join with single
   * spaces. Output length ≤ input length, so one exact-size scratch
   * buffer suffices.
   */
  def cutSpans(s: UTF8String, starts: ArrayData, n: Int): UTF8String = {
    val b = s.getBytes
    val len = b.length
    val nS = starts.numElements()
    // nothing to cut → identity: single-space split + single-space
    // re-join reconstructs any string exactly
    if (nS == 0) return s
    val out = new Array[Byte](len)
    var w = 0
    var first = true
    var p = 0
    var coverEnd = 0L
    var j = 1L
    var i = 0
    while (i <= len) { // i == len handles the final (possibly empty) token
      var e = i
      while (e < len && b(e) != ' ') e += 1
      while (p < nS && starts.getLong(p) <= j) {
        val ce = starts.getLong(p) + n
        if (ce > coverEnd) coverEnd = ce
        p += 1
      }
      if (j >= coverEnd) { // not covered by any seen span
        if (!first) { out(w) = ' '; w += 1 }
        System.arraycopy(b, i, out, w, e - i)
        w += e - i
        first = false
      }
      j += 1
      i = e + 1
    }
    UTF8String.fromBytes(out, 0, w)
  }

  /** First-occurrence dedup + compaction shared by [[hashes]] and
    * [[alnumHashes]]: keeps each value's earliest position (the
    * `array_distinct` contract both kernels document). */
  private def dedupFirst(out: Array[Long]): ArrayData = {
    val m = out.length
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val ded = new Array[Long](m)
    var w = 0
    var k = 0
    while (k < m) {
      if (seen.add(out(k))) { ded(w) = out(k); w += 1 }
      k += 1
    }
    new GenericArrayData(if (w == m) out else java.util.Arrays.copyOf(ded, w))
  }

  /**
   * DSIR hashed feature buckets as ONE native expression: for every alnum
   * token and every adjacent token pair of the (pre-lowered) text, the
   * md5-prefix bucket `conv(substr(md5(feature ++ salt), 1, 8), 16, 10) %
   * buckets` — BIT-IDENTICAL to hashing the built feature strings through
   * [[graft.operators.Corpus.hashBucket]], so the engine-portable oracle
   * contract is unchanged. The column formulation builds every uni+bigram
   * STRING through interpreted zip_with/concat lambdas and then runs the
   * five-expression md5→substring→conv→cast→pmod chain per exploded row;
   * this kernel runs one byte scan for token bounds and streams token
   * bytes straight into a thread-local MessageDigest — no feature strings,
   * no hex round-trip (the first 8 hex digits of md5 ARE its first 4
   * bytes). Zero tokens → empty array; null text → null (explode_outer
   * then keeps the doc either way).
   *
   * Bucket value = first 4 md5 bytes as an unsigned 32-bit int
   * (≡ parsing the first 8 hex digits), mod `buckets`.
   */
  def md5FeatureBuckets(s: UTF8String, buckets: Int,
      saltBytes: Array[Byte]): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends) = alnumRuns(bytes)
    val count = starts.length
    if (count == 0) return new GenericArrayData(Array.emptyIntArray)
    val md = Md5Digest.get()
    md.reset()
    val out = new Array[Int](count + count - 1)
    def bucketOf(): Int = {
      val d = md.digest() // emits and resets
      (((((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL))) % buckets).toInt
    }
    var k = 0
    while (k < count) {
      md.update(bytes, starts(k), ends(k) - starts(k))
      md.update(saltBytes)
      out(k) = bucketOf()
      k += 1
    }
    k = 0
    while (k < count - 1) {
      md.update(bytes, starts(k), ends(k) - starts(k))
      md.update(' '.toByte)
      md.update(bytes, starts(k + 1), ends(k + 1) - starts(k + 1))
      md.update(saltBytes)
      out(count + k) = bucketOf()
      k += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Hashed word n-gram shingles as ONE native expression — the hot path of
   * the whole set-overlap dedup family (Jaccard/containment pairs, the df
   * cap, decontamination, repetition ratios, MinHash input).
   *
   * The column-function formulation ([[graft.functions.TextFunctions
   * .shingles]]: n `slice`s + (n−1) `zip_with` concats, then `xxhash64`
   * per exploded row) materializes every n-gram STRING and pays an
   * interpreted lambda per array element — higher-order functions don't
   * participate in whole-stage codegen. Measured at sf0.1 it is the
   * dominant cost of every consumer (~0.6 s of each pass over 5k docs).
   *
   * This kernel never builds the n-gram strings at all. Because
   * shingles are the tokens of `split(lower(text), " ", -1)` re-joined
   * with single spaces, every n-gram is a CONTIGUOUS BYTE RANGE of the
   * lowered text (the separators between adjacent tokens are exactly the
   * single spaces split removed) — so the whole computation is one byte
   * scan for space positions plus one XXH64 call per window, zero
   * allocation beyond the output array. The hash is Spark's own
   * `xxhash64` (XXH64 over the UTF-8 bytes, seed 42), so emitted values
   * are BIT-IDENTICAL to `xxhash64(shingle_string)` of the column
   * formulation — MinHash signatures, banded tables and any persisted
   * hash registry built either way interoperate.
   *
   * `dedup = true` first-occurrence-dedups IN-ROW (what the Jaccard
   * family's per-doc `distinct()` exchange used to do globally — set
   * dedup within a document is row-local work, no shuffle needed).
   *
   * Documents with fewer than `n` tokens fall back to one whole-text
   * shingle, matching the column function ([[graft.functions
   * .TextFunctions.shingles]] `when(size < n)` branch: `concat_ws` over
   * the split re-joins to the input itself). Hashes are internal-only
   * (consumers emit counts and ratios, never the hash), so oracle
   * statements stay expressible over string shingles; collisions are the
   * family's documented ~n²·2⁻⁶⁴ risk, unchanged.
   */
  def hashes(s: UTF8String, n: Int, dedup: Boolean): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // token starts = 0 plus every position after a 0x20 byte. In UTF-8 a
    // space byte never occurs inside a multi-byte sequence, so the byte
    // scan is exact for any Unicode text.
    var spaces = 0
    var i = 0
    while (i < len) {
      if (bytes(i) == 0x20) spaces += 1
      i += 1
    }
    val numToks = spaces + 1
    if (numToks < n) {
      // short-doc fallback: one whole-text shingle (concat_ws(" ", split)
      // re-joins to the input itself)
      return new GenericArrayData(Array(
        XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, len, 42L)))
    }
    val starts = new Array[Int](numToks)
    var t = 0
    i = 0
    while (i < len) {
      if (bytes(i) == 0x20) { t += 1; starts(t) = i + 1 }
      i += 1
    }
    val m = numToks - n + 1
    val out = new Array[Long](m)
    var k = 0
    while (k < m) {
      val st = starts(k)
      // the window ends where token k+n-1 does: at the space before the
      // next token, or at end-of-string for the final window
      val en = if (k + n == numToks) len else starts(k + n) - 1
      out(k) = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + st, en - st, 42L)
      k += 1
    }
    if (!dedup) return new GenericArrayData(out)
    dedupFirst(out)
  }

  /**
   * The `alnum` tokenizer twin: tokens are maximal `[a-z0-9]` runs of the
   * (pre-lowered) text — the byte-scan equivalent of
   * `regexp_extract_all(lower(text), '[a-z0-9]+')`
   * ([[graft.functions.TextFunctions.tokens]]); exact because those code
   * points are single-byte in UTF-8 and never occur inside multi-byte
   * sequences. Tokens are NOT contiguous here (separators vary), so
   * n ≥ 2 windows copy token bytes + single-space joins into one
   * per-row scratch buffer before hashing — hash values still equal
   * `xxhash64(n-gram string)`. Fewer than `n` tokens → EMPTY array (the
   * n-instance semantics of every consumer: a 1-token doc has no
   * bigrams), unlike the space mode's whole-text fallback.
   */
  def alnumHashes(s: UTF8String, n: Int, dedup: Boolean): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends) = alnumRuns(bytes)
    val count = starts.length
    if (count < n) return new GenericArrayData(Array.emptyLongArray)
    val m = count - n + 1
    val out = new Array[Long](m)
    if (n == 1) {
      var k = 0
      while (k < m) {
        out(k) = XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + starts(k), ends(k) - starts(k), 42L)
        k += 1
      }
    } else {
      var maxLen = 0
      var k = 0
      while (k < m) {
        var wl = n - 1
        var j = k
        while (j < k + n) { wl += ends(j) - starts(j); j += 1 }
        if (wl > maxLen) maxLen = wl
        k += 1
      }
      val buf = new Array[Byte](maxLen)
      k = 0
      while (k < m) {
        var w = 0
        var j = k
        while (j < k + n) {
          if (j > k) { buf(w) = ' '; w += 1 }
          val tl = ends(j) - starts(j)
          System.arraycopy(bytes, starts(j), buf, w, tl)
          w += tl
          j += 1
        }
        out(k) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, w, 42L)
        k += 1
      }
    }
    if (!dedup) return new GenericArrayData(out)
    dedupFirst(out)
  }

  /**
   * Per-document tf-idf top-k, row-local: given the doc's
   * [[ShingleHash.tokenCounts]] array, the corpus term→df map and `n_docs` (both
   * from one broadcast row), emit `array<struct<term,tf,tfidf,rnk>>` of
   * the `k` highest-scoring terms — row_number tie-break (tfidf desc, term
   * binary asc) baked in.
   *
   * Exists because the same computation spelled with higher-order
   * functions (`transform` + `array_sort` + `element_at`) runs INTERPRETED
   * — lambda expressions don't participate in whole-stage codegen, and the
   * per-row object churn measured ~5× the cost of the scan itself at
   * sf0.1. This kernel is one static call inside codegen: an O(m·k)
   * selection, no sort, no per-element closures.
   *
   * tfidf = quantize₆(tf · ln(n_docs / df)) with plain IEEE double ops in
   * source order — bit-identical to the Column/SQL twins
   * ([[graft.functions.Quantize]]).
   *
   * CONTRACT: `dfm`'s keys must be in
   * ascending binary order (build the map with
   * `map_from_entries(sort_array(collect_list(...)))`) — lookups binary-
   * search the key array, so no per-row hash structure is built and the
   * per-term cost is O(log vocab). A miss means the map wasn't built
   * from the same corpus/tokenizer and raises rather than mis-scoring.
   */
  def tfidfTopK(tc: ArrayData, dfm: MapData, nDocs: Long, k: Int): ArrayData = {
    val m = tc.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val keys = dfm.keyArray()
    val vals = dfm.valueArray()
    val n = dfm.numElements()
    val nd = nDocs.toDouble
    val kk = math.min(k, m)
    // insertion-ordered top-k (tfidf desc, term binary asc) — O(m·k)
    val topTerm = new Array[UTF8String](kk)
    val topTf = new Array[Long](kk)
    val topScore = new Array[Double](kk)
    var filled = 0
    var i = 0
    while (i < m) {
      val row = tc.getStruct(i, 2)
      val term = row.getUTF8String(0)
      val tf = row.getLong(1)
      var lo = 0
      var hi = n - 1
      var df = -1L
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = keys.getUTF8String(mid).compareTo(term)
        if (c == 0) { df = vals.getLong(mid); lo = hi + 1 }
        else if (c < 0) lo = mid + 1
        else hi = mid - 1
      }
      if (df < 0) throw new IllegalStateException(
        s"tfidf_top_terms: term absent from df map (map not sorted, or built " +
          s"from a different corpus/tokenizer): $term")
      // quantize₆(tf · ln(n_docs/df)) — the IEEE ops of Quantize.quantize,
      // in the Column twin's evaluation order
      val score = Math.floor(tf * Math.log(nd / df) * 1e6 + 0.5) / 1e6
      var pos = filled
      while (pos > 0 && (topScore(pos - 1) < score ||
          (topScore(pos - 1) == score && topTerm(pos - 1).compareTo(term) > 0))) {
        pos -= 1
      }
      if (pos < kk) {
        var j = math.min(filled, kk - 1)
        while (j > pos) {
          topTerm(j) = topTerm(j - 1); topTf(j) = topTf(j - 1)
          topScore(j) = topScore(j - 1); j -= 1
        }
        topTerm(pos) = term; topTf(pos) = tf; topScore(pos) = score
        if (filled < kk) filled += 1
      }
      i += 1
    }
    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      out(r) = org.apache.spark.sql.catalyst.InternalRow(
        topTerm(r), topTf(r), topScore(r), (r + 1).toLong)
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Binary search over a broadcast model's SORTED long key array
    * ([[tfidfTopK]] contract, long-keyed). A miss means the model wasn't
    * built from the same corpus/tokenizer — raise rather than mis-score. */
  private def lookupCount(keys: ArrayData, vals: ArrayData, n: Int,
      h: Long, who: String): Long = {
    var lo = 0
    var hi = n - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val k = keys.getLong(mid)
      if (k == h) return vals.getLong(mid)
      else if (k < h) lo = mid + 1
      else hi = mid - 1
    }
    throw new IllegalStateException(
      s"$who: hash absent from broadcast model (map not sorted, or built " +
        "from a different corpus/tokenizer)")
  }

  /** quantize₆ with the non-finite passthrough of
    * [[graft.functions.Quantize.quantize]] — same IEEE ops, same order. */
  private def q6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else Math.floor(x * 1e6 + 0.5) / 1e6

  /**
   * Row-local unigram-LM score: quantize₆ of the mean ln(cnt/total) over a
   * document's token-hash instances against a broadcast hash→count model —
   * the scoring half of [[graft.operators.Corpus.unigramLogProb]] with the
   * corpus-wide term-join exchange deleted (the model is vocabulary-sized,
   * so it broadcasts; the per-instance average is then a fact of the row).
   * Callers filter empty arrays first (token-less docs emit nothing, the
   * explode form's behavior).
   *
   * Summation is in token order; the
   * pre-kernel join form summed in shuffle order — both land on the same
   * quantized value (quantize₆ absorbs sub-ulp order noise, the same
   * argument the oracle compare already relies on).
   */
  def logProbAvg(hashes: ArrayData, model: MapData, total: Long): Double = {
    val m = hashes.numElements()
    val keys = model.keyArray()
    val vals = model.valueArray()
    val n = model.numElements()
    val tot = total.toDouble
    var sum = 0.0
    var i = 0
    while (i < m) {
      val cnt = lookupCount(keys, vals, n, hashes.getLong(i), "hash_log_prob_avg")
      sum += Math.log(cnt / tot)
      i += 1
    }
    q6(sum / m)
  }

  /**
   * Row-local bigram-LM score: quantize₆ of the mean ln(c(w1,w2)/c(w1,·))
   * over a document's adjacent token pairs, both counts from broadcast
   * hash→count models ([[graft.operators.Corpus.bigramLogProb]]). Takes the
   * FULL unigram-hash array plus the bigram-window array and zips
   * positionally (token i ↔ window starting at i), so no sliced w1 array is
   * ever allocated. Callers filter docs with no bigram (< 2 tokens).
   *
   * Pairs w1s(i) with bgs(i) (the
   * window starting at token i), ignoring w1s' trailing element.
   */
  def bigramLogProbAvg(w1s: ArrayData, bgs: ArrayData, cbg: MapData,
      cw: MapData): Double = {
    val m = bgs.numElements()
    val bk = cbg.keyArray(); val bv = cbg.valueArray(); val bn = cbg.numElements()
    val wk = cw.keyArray(); val wv = cw.valueArray(); val wn = cw.numElements()
    var sum = 0.0
    var i = 0
    while (i < m) {
      val c2 = lookupCount(bk, bv, bn, bgs.getLong(i), "hash_bigram_log_prob_avg")
      val c1 = lookupCount(wk, wv, wn, w1s.getLong(i), "hash_bigram_log_prob_avg")
      sum += Math.log(c2.toDouble / c1.toDouble)
      i += 1
    }
    q6(sum / m)
  }

  /**
   * 64-bit SimHash signature as ONE row-local expression: each single-space
   * token of `lower(text)` votes ±1 per bit of its xxhash64 (seed 42 —
   * bit-identical to the Column `xxhash64(tok)`), positive vote sums set
   * signature bits. Integer votes commute, so the kernel is EXACTLY the
   * explode → groupBy(doc) 64-conditional-sum aggregation it replaces —
   * minus the token fan-out and the aggregation exchange (a signature is a
   * per-document fact). Callers drop null texts (the explode form dropped
   * them by emitting no rows).
   *
   * ±1 bit votes per single-space token's
   * xxhash64, positive sums set bits.
   */
  def simhash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    val votes = new Array[Int](64)
    var from = 0
    var p = 0
    while (p <= n) {
      if (p == n || bytes(p) == ' ') {
        val h = XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + from, p - from, 42L)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
        from = p + 1
      }
      p += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  /**
   * Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD
   * 2003) as ONE row-local expression: word k-gram md5-prefix hashes →
   * rightmost-minimum of every g-window → deduplicated (pos, fp) pairs.
   * The whole computation is a per-DOCUMENT fact, but the previous shape
   * paid corpus-wide machinery for it: posexplode + a per-doc sort for the
   * `lead` window, a second windowed frame aggregate for the rightmost
   * min, and a global `distinct` exchange. This kernel does the same
   * selection inside the scan — selection dedup exploits winnowing's
   * non-decreasing selected-position property, so a last-selected check
   * IS the distinct.
   *
   * Parity contract (the `fingerprint_winnow` oracle): tokens are the
   * single-space split of `lower(text)` INCLUDING empty tokens, so every
   * k-gram `concat_ws(" ", t_i..t_{i+k-1})` is a contiguous byte range of
   * the lowered text; fp = the first 8 md5 hex chars as a long
   * (engine-reproducible); docs under k tokens emit nothing,
   * and with fewer than g complete windows (g > 1) nothing is selected.
   */
  def winnowFps(s: UTF8String, k: Int, g: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // single-space split boundaries, empty tokens included (wsTokens /
    // Spark `split` with the default -1 limit keeps trailing empties)
    var spaces = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == ' ') spaces += 1
      i += 1
    }
    val nTok = spaces + 1
    val nGrams = nTok - k + 1
    if (nGrams <= 0) return new GenericArrayData(Array.empty[Any])
    val tokStart = new Array[Int](nTok)
    val tokEnd = new Array[Int](nTok)
    var t = 0
    var p = 0
    tokStart(0) = 0
    while (p < n) {
      if (bytes(p) == ' ') {
        tokEnd(t) = p
        t += 1
        tokStart(t) = p + 1
      }
      p += 1
    }
    tokEnd(t) = n
    // gram i = bytes [tokStart(i), tokEnd(i+k-1)); fp = first 4 md5
    // bytes as an unsigned 32-bit value (the first 8 md5 hex chars)
    val md = Md5Digest.get()
    val hs = new Array[Long](nGrams)
    var gi = 0
    while (gi < nGrams) {
      val from = tokStart(gi)
      md.reset()
      md.update(bytes, from, tokEnd(gi + k - 1) - from)
      val d = md.digest()
      hs(gi) = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      gi += 1
    }
    if (g == 1) {
      val out = new Array[Any](nGrams)
      var j = 0
      while (j < nGrams) {
        out(j) = org.apache.spark.sql.catalyst.InternalRow((j + 1).toLong, hs(j))
        j += 1
      }
      return new GenericArrayData(out)
    }
    val nWin = nGrams - g + 1
    if (nWin <= 0) return new GenericArrayData(Array.empty[Any])
    // rightmost-min per window; selected positions never decrease, so a
    // last-selected check deduplicates completely
    val buf = new scala.collection.mutable.ArrayBuffer[Any](nWin)
    var lastSel = -1
    var w = 0
    while (w < nWin) {
      var bi = w
      var bh = hs(w)
      var j = w + 1
      while (j <= w + g - 1) {
        if (hs(j) <= bh) { bh = hs(j); bi = j }
        j += 1
      }
      if (bi != lastSel) {
        buf += org.apache.spark.sql.catalyst.InternalRow((bi + 1).toLong, bh)
        lastSel = bi
      }
      w += 1
    }
    new GenericArrayData(buf.toArray)
  }

  /**
   * Row-local MinHash signature over a [[ShingleHash.hashes]] array: for
   * each seed j, min over shingle hashes h of `(h & 0xFFFFFFFF)·a_j + b_j`
   * — the universal-hash fold of [[graft.operators.Dedup.minhashSignatures]]
   * as ONE codegen'd kernel call (the `aggregate`/`zip_with` spelling ran
   * every per-element lambda interpreted, which dominated the signature
   * projection). Constants ride the plan as kernel constants (31-bit a odd,
   * 31-bit b — the 32-bit h keeps the multiply under 2⁶³, no wrap).
   * Min over the in-row SET equals min over the multiset, so deduped
   * shingle input produces bit-identical signatures faster.
   *
   * All-seeds running minima in one pass.
   */
  def minhashFold(hashes: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val m = hashes.numElements()
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i) & 0xFFFFFFFFL
      var j = 0
      while (j < k) {
        val v = h * a(j) + b(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /**
   * Row-local token-frequency entropy over a [[ShingleHash.tokenCounts]] tf array:
   * quantize₆(ln(Σtf) − Σ tf·ln(tf) / Σtf). Exists because the same two
   * folds spelled with `aggregate` higher-order functions run INTERPRETED
   * (lambdas don't join whole-stage codegen) — measured as the dominant
   * cost of `text_entropy` at sf0.1. Callers filter empty arrays (tf
   * entries are ≥ 1 by construction, so non-empty ⇒ total > 0).
   *
   * Folds in array order, matching the HOF
   * twin's sequential accumulation (quantize₆ absorbs order noise).
   */
  def countEntropy(tfs: ArrayData): Double = {
    val m = tfs.numElements()
    var total = 0L
    var plogp = 0.0
    var i = 0
    while (i < m) {
      val tf = tfs.getLong(i)
      total += tf
      plogp += tf.toDouble * Math.log(tf.toDouble)
      i += 1
    }
    val t = total.toDouble
    q6(Math.log(t) - plogp / t)
  }

  /**
   * A chain of `regexp_replace` passes as ONE expression — same
   * `java.util.regex` engine, same patterns, same sequential-pass
   * semantics (pass i sees pass i−1's output), so output is IDENTICAL to
   * the folded `regexp_replace` column chain by construction. What it
   * deletes is the per-pass plumbing: Spark's `RegExpReplace` decodes
   * UTF8String → java String and re-encodes on EVERY pass (the markup
   * chain is 13 passes = 13 UTF-8↔UTF-16 round trips per document, which
   * dominated the measured cost); this decodes once, runs every
   * precompiled matcher over the UTF-16 string, and encodes once.
   * Replacements here are plain literals without `$`/`\` references —
   * `Matcher.replaceAll` then agrees byte-for-byte with `RegExpReplace`'s
   * appendReplacement loop (asserted by the builder, so the equivalence
   * can't silently erode if a pattern gains a group reference).
   *
   * One UTF-16 decode, N in-place
   * matcher passes, one UTF-8 encode.
   */
  def chainedReplace(s: UTF8String,
      pats: Array[java.util.regex.Pattern],
      repls: Array[String]): UTF8String = {
    var cur = s.toString
    var i = 0
    while (i < pats.length) {
      cur = pats(i).matcher(cur).replaceAll(repls(i))
      i += 1
    }
    UTF8String.fromString(cur)
  }

  private val LangUnd = UTF8String.fromString("und")
  private val LangZh = UTF8String.fromString("zh")

  /**
   * Stopword language-ID decision as ONE pass over the bytes — the
   * byte-scan twin of [[graft.functions.TextFunctions.langId]]'s regex +
   * higher-order-function formulation, which paid a CJK `regexp_count`, a
   * 32-alternative `\b(...)\b` extract-all (allocating every match), and
   * an INTERPRETED fold over the matches (lambda expressions don't
   * participate in whole-stage codegen) — measured ~4× the per-byte cost
   * of the winnowing fingerprint pass.
   *
   * Exact-match contract — ASCII boundaries, the ORACLE's semantics: a
   * stopword matches iff a MAXIMAL `[a-z0-9_]` run of the lowered text
   * equals it. This is RE2/DuckDB `\b` (word set `[0-9A-Za-z_]`) — the
   * authority the engine's correctness gate runs — and equivalently Java
   * `(?<![a-z0-9_])w(?![a-z0-9_])`. It is NOT Java's `\b`, whose word
   * set is `Character.isLetterOrDigit || '_'`: there Unicode letters and
   * combining marks extend words ("éthe" hides "the"), a cross-engine
   * divergence the randomized kernel pin surfaced (PropertySpec). The
   * scan counts word-runs of the lowered bytes against a word→languages
   * map.
   * A word listed by several languages increments each (e.g. "la" is in
   * both fr and es — the membership-array semantics of the fold). Winner
   * is strictly-greater max in declaration order (first-listed wins
   * ties), zero hits → "und", and any original-text code point in
   * U+4E00–U+9FFF short-circuits to "zh" (the `when(cjk > 0)` guard) —
   * decoded from the UTF-8 lead/continuation bytes directly.
   *
   * CJK scan over the original bytes (aligned
   * UTF-8 decode of 3-byte sequences), then word-run lookups over the
   * lowered bytes. Token UTF8Strings wrap sub-ranges — no copies.
   */
  def langIdDecide(orig: UTF8String, low: UTF8String,
      wordMap: java.util.HashMap[UTF8String, Array[Int]],
      langs: Array[UTF8String]): UTF8String = {
    val ob = orig.getBytes
    var i = 0
    while (i < ob.length) {
      val b = ob(i) & 0xFF
      if (b >= 0xE0 && b <= 0xEF && i + 2 < ob.length) {
        val cp = ((b & 0x0F) << 12) | ((ob(i + 1) & 0x3F) << 6) | (ob(i + 2) & 0x3F)
        if (cp >= 0x4E00 && cp <= 0x9FFF) return LangZh
      }
      i += (if (b < 0x80) 1 else if (b < 0xC0) 1 else if (b < 0xE0) 2
            else if (b < 0xF0) 3 else 4)
    }
    val lb = low.getBytes
    val counts = new Array[Int](langs.length)
    // word chars are the regex \w class (ASCII [a-z0-9_] after lower)
    def isW(b: Byte): Boolean =
      (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '_'
    i = 0
    var st = -1
    while (i <= lb.length) {
      val w = i < lb.length && isW(lb(i))
      if (w && st < 0) st = i
      else if (!w && st >= 0) {
        val hit = wordMap.get(UTF8String.fromBytes(lb, st, i - st))
        if (hit != null) {
          var j = 0
          while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
        }
        st = -1
      }
      i += 1
    }
    var best = -1
    var bestHits = 0
    i = 0
    while (i < counts.length) {
      if (counts(i) > bestHits) { bestHits = counts(i); best = i }
      i += 1
    }
    if (best < 0) LangUnd else langs(best)
  }

  /**
   * The five per-document quality counters in ONE pass over the bytes —
   * `struct<n_chars, n_tokens, n_punct, n_digit, n_alnum>` (all bigint).
   *
   * The Column formulation ([[graft.functions.TextFunctions
   * .qualityColumns]]'s former body) paid five separate engines per row:
   * `length`, a token-ARRAY materialization just to `size` it
   * (`regexp_extract_all` allocates every match string), and three
   * `regexp_count` scans — the most per-byte-expensive projection in the
   * whole scoring family (measured: the 128× scale sweep put `quality` at
   * ~4× the cost of the winnowing fingerprint pass over the same bytes).
   *
   * Two children, matching the oracle's shapes exactly: `n_chars`,
   * `n_punct`, `n_digit` count the ORIGINAL text (`length(text)`,
   * `regexp_count(text, '[.,;:!?]')`, `regexp_count(text, '[0-9]')`);
   * `n_tokens`, `n_alnum` count the LOWERED text (maximal / individual
   * `[a-z0-9]` byte runs — `regexp_extract_all(lower(text), '[a-z0-9]+')`
   * / `regexp_count(lower(text), '[a-z0-9]')`). Lowering stays Spark's own
   * `Lower` (Unicode-exact, e.g. U+212A → 'k'); the byte scans are exact
   * on any UTF-8 input because every class member is a single ASCII byte
   * that never occurs inside a multi-byte sequence, and `n_chars` uses
   * `UTF8String.numChars` — the same call `length()` compiles to.
   * Spec-pinned bit-identical to the regex formulation, Unicode included.
   *
   * One byte scan per child. ASCII class
   * tests never match UTF-8 continuation/lead bytes (all >= 0x80), so
   * the counts are exact on any Unicode text.
   */
  def qualitySignals(orig: UTF8String, low: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val ob = orig.getBytes
    var punct = 0L
    var digit = 0L
    var i = 0
    while (i < ob.length) {
      val b = ob(i)
      if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?') punct += 1
      else if (b >= '0' && b <= '9') digit += 1
      i += 1
    }
    val lb = low.getBytes
    var toks = 0L
    var alnum = 0L
    var inRun = false
    i = 0
    while (i < lb.length) {
      val b = lb(i)
      val al = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (al) { alnum += 1; if (!inRun) toks += 1 }
      inRun = al
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      orig.numChars().toLong, toks, punct, digit, alnum)
  }

  // c4LineClean pattern constants, hoisted so the zero-allocation kernel
  // doesn't rebuild them per row (LangUnd/LangZh precedent)
  private val C4Javascript = "javascript".getBytes
  private val C4LoremIpsum = "lorem ipsum".getBytes
  private val C4OpenBrace = Array[Byte]('{')

  /**
   * C4-style line-level cleaning (Raffel et al. 2020, §2.2 — public) as ONE
   * pass: keep only lines that end in a terminal punctuation mark
   * (`[.!?"”]`, trailing blanks allowed), contain ≥ 5 words, and do not
   * contain "javascript" (case-insensitive); page flags for "lorem ipsum" /
   * '{' and a ≥3-kept-lines verdict. `left` = original text (line content,
   * word counts, punctuation, brace), `right` = lowered text (the
   * javascript / lorem-ipsum searches — full Unicode lowering, same as the
   * oracle's `lower()`). Lowering never maps anything to '\n', so both
   * children split into the SAME line count and line i of one is line i of
   * the other — the kernel walks them in lockstep, so the emitted clean
   * text is original bytes while the containment checks see the oracle's
   * lowered view. Returns struct<clean_text, n_lines_kept, keep>; null
   * text → null.
   *
   * Lockstep line walk over original + lowered
   * bytes. Line rules match the oracle lambda exactly: terminal
   * `[.!?"”]` after trailing `[ \t\r\f]*`, ≥ 5 `[^ \t\r\f]+` word runs,
   * no "javascript" in the lowered line. Kept original lines re-join
   * with '\n'.
   */
  def c4LineClean(orig: UTF8String, low: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val ob = orig.getBytes
    val lb = low.getBytes
    @inline def isBlank(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\r' || b == '\f'
    def lineEnd(a: Array[Byte], from: Int): Int = {
      var i = from
      while (i < a.length && a(i) != '\n') i += 1
      i
    }
    def containsAt(a: Array[Byte], from: Int, to: Int, pat: Array[Byte]): Boolean = {
      var i = from
      val last = to - pat.length
      while (i <= last) {
        var j = 0
        while (j < pat.length && a(i + j) == pat(j)) j += 1
        if (j == pat.length) return true
        i += 1
      }
      false
    }
    def keepLine(os: Int, oe: Int, ls: Int, le: Int): Boolean = {
      // terminal punctuation after trailing blanks
      var e = oe
      while (e > os && isBlank(ob(e - 1))) e -= 1
      if (e == os) return false
      val lastB = ob(e - 1)
      val punct =
        lastB == '.' || lastB == '!' || lastB == '?' || lastB == '"' ||
          (e - os >= 3 && (ob(e - 3) & 0xFF) == 0xE2 &&
            (ob(e - 2) & 0xFF) == 0x80 && (ob(e - 1) & 0xFF) == 0x9D) // ”
      if (!punct) return false
      // ≥ 5 word runs
      var words = 0
      var inRun = false
      var i = os
      while (i < oe && words < 5) {
        val blank = isBlank(ob(i))
        if (!blank && !inRun) words += 1
        inRun = !blank
        i += 1
      }
      if (words < 5) return false
      !containsAt(lb, ls, le, C4Javascript)
    }
    val out = new java.io.ByteArrayOutputStream(ob.length)
    var kept = 0L
    var oi = 0
    var li = 0
    var done = false
    while (!done) {
      val oe = lineEnd(ob, oi)
      val le = lineEnd(lb, li)
      if (keepLine(oi, oe, li, le)) {
        if (kept > 0) out.write('\n')
        out.write(ob, oi, oe - oi)
        kept += 1
      }
      done = oe >= ob.length
      oi = oe + 1
      li = le + 1
    }
    val keep = kept >= 3 && !containsAt(lb, 0, lb.length, C4LoremIpsum) &&
      !containsAt(ob, 0, ob.length, C4OpenBrace)
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromBytes(out.toByteArray), kept, keep)
  }

  /**
   * The Gopher rule-gate counters as ONE byte scan — the fused form of
   * seven `regexp_count`s plus eight stop-word `rlike`s (15 regex passes,
   * each a UTF-8↔UTF-16 round trip, measured as the dominant
   * `quality_gopher` cost). `left` = original text (words, symbols, line
   * shapes, alpha), `right` = lowered text (stop-word runs). Semantics are
   * pinned to the RE2/ORACLE reading of the shared patterns:
   *  - "word" = maximal run of bytes outside the explicit class
   *    [ \t\n\r\f]; `n_nonws` counts non-ws CODE POINTS (non-continuation
   *    bytes — exact on any Unicode text, same trick as [[ShingleHash.qualitySignals]]);
   *  - symbol/ellipsis automata emulate leftmost NON-OVERLAPPING regex
   *    matching (a successful match consumes its span; a failed one
   *    advances one position) — all trigger bytes are ASCII or UTF-8 lead
   *    bytes, so mid-character false starts are impossible;
   *  - stop-word hit = some maximal [A-Za-z0-9_]-run of the LOWERED text
   *    equals the stop word — RE2's ASCII `\b` semantics (the DuckDB
   *    oracle's), NOT Java's Unicode `\b`; the pin formulation spells the
   *    same ASCII boundary with Java lookarounds (same resolution as the
   *    langId kernel's boundary note in
   *    [[graft.functions.TextFunctions.PiiPatterns]]).
   *
   * Every Gopher-gate counter in one byte
   * scan of the original text + one of the lowered text. Automata
   * emulate leftmost non-overlapping regex matching, with the exact
   * semantics contract above.
   */
  def gopherSignals(orig: UTF8String, low: UTF8String,
      stops: Array[Array[Byte]]): org.apache.spark.sql.catalyst.InternalRow = {
    val ob = orig.getBytes
    val n = ob.length
    var nWords = 0L; var nNonWs = 0L; var nSym = 0L; var nLines = 1L
    var nBullet = 0L; var nEll = 0L; var nAlphaW = 0L
    var inWord = false; var wordAlpha = false
    var symSkip = 0; var ellSkip = 0
    // `(^|\n)[ \t]*[-*•]` from scan-start j (the trigger is at ^ or a \n)
    def bulletFrom(j0: Int): Boolean = {
      var j = j0
      while (j < n && (ob(j) == ' ' || ob(j) == '\t')) j += 1
      j < n && (ob(j) == '-' || ob(j) == '*' ||
        ((ob(j) & 0xFF) == 0xE2 && j + 2 < n &&
          (ob(j + 1) & 0xFF) == 0x80 && (ob(j + 2) & 0xFF) == 0xA2))
    }
    if (bulletFrom(0)) nBullet += 1 // the zero-width ^ trigger
    var i = 0
    while (i < n) {
      val b = ob(i)
      if (b == '\n') {
        nLines += 1
        if (bulletFrom(i + 1)) nBullet += 1
      }
      if (b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f') {
        inWord = false
      } else {
        if ((b & 0xC0) != 0x80) nNonWs += 1
        if (!inWord) { inWord = true; wordAlpha = false; nWords += 1 }
        if (!wordAlpha && ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z'))) {
          wordAlpha = true; nAlphaW += 1
        }
      }
      // `(#|\.\.\.|…)`, leftmost non-overlapping
      if (i >= symSkip) {
        if (b == '#') { nSym += 1; symSkip = i + 1 }
        else if (b == '.' && i + 2 < n && ob(i + 1) == '.' && ob(i + 2) == '.') {
          nSym += 1; symSkip = i + 3
        } else if ((b & 0xFF) == 0xE2 && i + 2 < n &&
            (ob(i + 1) & 0xFF) == 0x80 && (ob(i + 2) & 0xFF) == 0xA6) {
          nSym += 1; symSkip = i + 3
        }
      }
      // `(\.\.\.|…)[ \t]*(\n|\z)`: on success consume through the \n;
      // on failure fall through (the regex advances one position too)
      if (i >= ellSkip) {
        val ell = (b == '.' && i + 2 < n && ob(i + 1) == '.' && ob(i + 2) == '.') ||
          ((b & 0xFF) == 0xE2 && i + 2 < n &&
            (ob(i + 1) & 0xFF) == 0x80 && (ob(i + 2) & 0xFF) == 0xA6)
        if (ell) {
          var j = i + 3
          while (j < n && (ob(j) == ' ' || ob(j) == '\t')) j += 1
          if (j >= n || ob(j) == '\n') { nEll += 1; ellSkip = j + 1 }
        }
      }
      i += 1
    }
    // stop-word presence over the LOWERED bytes: maximal ASCII-word runs
    val lb = low.getBytes
    var mask = 0
    var st = -1
    var k = 0
    while (k <= lb.length) {
      val isw = k < lb.length && {
        val c = lb(k)
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
          (c >= 'A' && c <= 'Z') || c == '_'
      }
      if (isw) { if (st < 0) st = k }
      else if (st >= 0) {
        var s = 0
        while (s < stops.length) {
          if ((mask & (1 << s)) == 0 && stops(s).length == k - st) {
            var t = 0
            while (t < stops(s).length && stops(s)(t) == lb(st + t)) t += 1
            if (t == stops(s).length) mask |= (1 << s)
          }
          s += 1
        }
        st = -1
      }
      k += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nWords, nNonWs, nSym, nLines,
      nBullet, nEll, nAlphaW, java.lang.Integer.bitCount(mask).toLong)
  }

  // Gopher-gate thresholds (Rae et al. 2021 §A1.1) — the single home for
  // the rule constants; the Column formulation
  // (TextFunctions.gopherColumnsFromSignals) reads THESE, so the verdict
  // arithmetic below and the assembled keep can't drift apart silently
  // (and a spec pins them equal over real corpus text regardless).
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMaxBulletRatio = 0.9
  val GopherMaxEllipsisRatio = 0.3
  val GopherMinAlphaRatio = 0.8

  /**
   * The Gopher-gate VERDICT alone as one boolean kernel —
   * [[gopherSignals]] plus the rule arithmetic, for use as a Filter
   * predicate. A single expression instance is the only shape that
   * survives the optimizer with one byte-scan per row: filtering on the
   * keep column assembled from the signals struct re-evaluates the kernel
   * per struct reference (FilterExec does no subexpression elimination; a
   * hand-projected alias — or even Catalyst's own `With` wrapper, whose
   * `RewriteWithExpression` batch runs BEFORE predicate pushdown in this
   * Spark — gets re-substituted per reference by
   * `PushPredicateThroughNonJoin`, measured at 63 kernel copies in the
   * optimized predicate). The rule arithmetic here is spec-pinned equal to
   * the Column formulation
   * ([[graft.functions.TextFunctions.gopherColumns]]'s keep) over real
   * corpus text, so the duplication is verified, not trusted.
   *
   * [[gopherSignals]] + the gate verdict in one
   * call. The ratio quantization is the EXACT arithmetic of
   * [[graft.functions.Quantize.quantize]](·, 6) — floor(x·10⁶ + 0.5)/10⁶
   * on doubles with non-finite passthrough — so this verdict is
   * bit-identical to comparing the assembled columns.
   */
  def gopherKeep(orig: UTF8String, low: UTF8String,
      stops: Array[Array[Byte]]): Boolean = {
    val r = gopherSignals(orig, low, stops)
    val nWords = r.getLong(0)
    val nNonWs = r.getLong(1)
    val nSym = r.getLong(2)
    val nLines = r.getLong(3)
    val nBullet = r.getLong(4)
    val nEll = r.getLong(5)
    val nAlphaW = r.getLong(6)
    val stopHits = r.getLong(7)
    val wDen = math.max(nWords, 1L).toDouble
    val meanWordLen = q6(nNonWs.toDouble / wDen)
    val symbolRatio = q6(nSym.toDouble / wDen)
    val bulletRatio = q6(nBullet.toDouble / nLines.toDouble)
    val ellipsisRatio = q6(nEll.toDouble / nLines.toDouble)
    val alphaRatio = q6(nAlphaW.toDouble / wDen)
    nWords >= GopherMinWords && nWords <= GopherMaxWords &&
      meanWordLen >= GopherMinMeanWordLen && meanWordLen <= GopherMaxMeanWordLen &&
      symbolRatio < GopherMaxSymbolRatio && bulletRatio < GopherMaxBulletRatio &&
      ellipsisRatio < GopherMaxEllipsisRatio && alphaRatio > GopherMinAlphaRatio &&
      stopHits >= graft.functions.TextFunctions.GopherMinStopHits
  }

  /**
   * Per-document term frequencies as ONE row-local expression:
   * `array<struct<term string, tf bigint>>` over the alnum-run tokens of
   * the (pre-lowered) text, first-occurrence order.
   *
   * The point is the SHUFFLE this deletes, not the per-row constant: a
   * document's term frequencies depend on nothing but its own text, so the
   * (doc, term, tf) relation every term-statistics operator starts from
   * ([[graft.operators.Corpus.termFrequencies]]) is embarrassingly
   * parallel — the explode + corpus-wide (doc, term) exchange + aggregate
   * the column formulation pays is pure overhead. This emits the counted
   * pairs straight from the row; `explode` of the result IS the tf
   * relation, map-only.
   *
   * Tokens are maximal `[a-z0-9]` runs — the byte-scan twin of
   * `regexp_extract_all(lower(text), '[a-z0-9]+')`
   * ([[graft.functions.TextFunctions.tokens]]) — so counts are identical
   * to `explode(tokens) → groupBy(doc, term) → count`. Zero tokens → empty
   * array (explode then drops the doc, matching the groupBy form's absent
   * group).
   *
   * Count the alnum-run tokens of `s` into
   * (term, tf) struct rows, first-occurrence order. Token UTF8Strings
   * wrap sub-ranges of the input's byte array — zero copies until the
   * row is written out.
   */
  def tokenCounts(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    def isAl(b: Byte): Boolean = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
    // LinkedHashMap: deterministic first-occurrence output order
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    var st = -1
    while (i <= len) {
      val al = i < len && isAl(bytes(i))
      if (al && st < 0) st = i
      else if (!al && st >= 0) {
        val tok = UTF8String.fromBytes(bytes, st, i - st)
        val c = m.get(tok)
        if (c == null) m.put(tok, Array(1L)) else c(0) += 1
        st = -1
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }
}

object TextExpressions {
  private val Shingle = NativeKernel.of(ShingleHash)
  private val Str = StringType
  private val Longs = ArrayType(LongType, containsNull = false)
  private val LongMap = MapType(LongType, LongType)
  private val TermCounts = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  private def longStruct(names: String*) =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** array<long> of xxhash64'd word n-gram shingles of `lower(text)`
    * (single-space tokens, whole-text fallback under `n` tokens — the
    * [[graft.functions.TextFunctions.shingles]] semantics) — codegen'd,
    * zero-string-allocation; `dedup` gives the in-row SET. Null text →
    * null (explode drops the doc — what the SQL twins' `unnest` of a
    * null list does too). */
  def shingleHashes(text: Column, n: Int, dedup: Boolean = true): Column = {
    require(n >= 1, s"shingle width must be >= 1: $n")
    Shingle.hashes(lower(text) -> Str, n, dedup).as("word_shingle_hashes", Longs)
  }

  /** array<long> of xxhash64'd n-grams over ALNUM-run tokens (the
    * [[graft.functions.TextFunctions.tokens]] tokenizer); fewer than `n`
    * tokens → empty array. Internal-hash twin for consumers that emit
    * only counts/scores, never the token strings. */
  def tokenGramHashes(text: Column, n: Int, dedup: Boolean = false): Column = {
    require(n >= 1, s"shingle width must be >= 1: $n")
    Shingle.alnumHashes(lower(text) -> Str, n, dedup).as("word_shingle_hashes", Longs)
  }

  /** array<struct<term,tf>> of per-document term frequencies (alnum-run
    * tokens, first-occurrence order) — the row-local form of the tf
    * relation; `explode` of it replaces a corpus-wide (doc, term)
    * aggregation exchange. Null text → null. */
  def tokenCounts(text: Column): Column =
    Shingle.tokenCounts(lower(text) -> Str).as("token_count_pairs", TermCounts)

  /** array<struct<chunk,chunk_text,n_tokens>> of cost-budgeted chunks
    * over a token array + per-token cost array
    * ([[ChunkKernel.costChunks]]) — the map-only replacement for explode
    * → per-doc window → re-aggregate. Null tokens/costs → null (the
    * upstream coalesce decides). */
  def costChunks(toks: Column, costs: Column, budget: Long): Column = {
    require(budget > 0, s"budget must be positive: $budget")
    NativeKernel.of(ChunkKernel).costChunks(
        toks -> ArrayType(StringType), costs -> ArrayType(LongType), budget)
      .as("cost_chunks", ArrayType(StructType(Seq(
        StructField("chunk", LongType, nullable = false),
        StructField("chunk_text", StringType, nullable = false),
        StructField("n_tokens", LongType, nullable = true)))))
  }

  /** Row-local tf-idf top-k over a [[tokenCounts]] array; `dfMap` must
    * have binary-sorted keys (see [[ShingleHash.tfidfTopK]]). Returns
    * array<struct<term,tf,tfidf,rnk>>. */
  def tfidfTopTerms(tc: Column, dfMap: Column, nDocs: Column, k: Int): Column = {
    require(k >= 1, s"top-k width must be >= 1: $k")
    Shingle.tfidfTopK(tc -> TermCounts, dfMap -> MapType(StringType, LongType),
        nDocs -> LongType, k)
      .as("tfidf_top_terms", ArrayType(StructType(Seq(
        StructField("term", StringType, nullable = false),
        StructField("tf", LongType, nullable = false),
        StructField("tfidf", DoubleType, nullable = false),
        StructField("rnk", LongType, nullable = false))), containsNull = false))
  }

  /** struct<n_chars,n_tokens,n_punct,n_digit,n_alnum> quality counters
    * of `text` in one byte pass per child
    * ([[ShingleHash.qualitySignals]]); null text → null struct (each
    * derived column then nulls, matching the regex formulation).
    * Reference the SAME Column for several derived fields —
    * subexpression elimination evaluates the kernel once per row inside
    * whole-stage codegen. */
  def qualitySignals(text: Column): Column =
    Shingle.qualitySignals(text -> Str, lower(text) -> Str).as("quality_signals",
      longStruct("n_chars", "n_tokens", "n_punct", "n_digit", "n_alnum"))

  /** The stop list as one kernel constant; at most 32 words, the width
    * of the kernel's hit bitmask. */
  private def stops(stopwords: Seq[String]) = {
    require(stopwords.nonEmpty && stopwords.size <= 32,
      s"stop list must fit the hit bitmask: ${stopwords.size}")
    KernelConst("stopwords", stopwords)(stopwords.map(_.getBytes("UTF-8")).toArray)
  }

  /** struct of the eight Gopher-gate counters in one byte pass per child
    * ([[ShingleHash.gopherSignals]]); null text → null. */
  def gopherSignals(text: Column, stopwords: Seq[String]): Column =
    Shingle.gopherSignals(text -> Str, lower(text) -> Str, stops(stopwords))
      .as("gopher_signals", longStruct("n_words", "n_nonws", "n_symbol",
        "n_lines", "n_bullet_lines", "n_ellipsis_lines", "n_alpha_words",
        "stop_hits"))

  /** The Gopher-gate verdict alone, one boolean kernel call
    * ([[ShingleHash.gopherKeep]]) for use as a Filter predicate; null
    * text → null. */
  def gopherKeep(text: Column, stopwords: Seq[String]): Column =
    Shingle.gopherKeep(text -> Str, lower(text) -> Str, stops(stopwords))
      .as("gopher_keep", BooleanType)

  /** struct<clean_text, n_lines_kept, keep> C4 line cleaning in one
    * lockstep pass over original + lowered bytes
    * ([[ShingleHash.c4LineClean]]); null text → null. */
  def c4LineClean(text: Column): Column =
    Shingle.c4LineClean(text -> Str, lower(text) -> Str).as("c4_line_clean",
      StructType(Seq(
        StructField("clean_text", StringType, nullable = false),
        StructField("n_lines_kept", LongType, nullable = false),
        StructField("keep", BooleanType, nullable = false))))

  /** array<int> of DSIR hashed uni+bigram feature buckets
    * ([[ShingleHash.md5FeatureBuckets]]) — bit-identical to hashing
    * the uni+bigram feature strings through `Corpus.hashBucket`; null
    * text → null, zero tokens → empty. */
  def md5FeatureBuckets(text: Column, buckets: Int, salt: String): Column = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    Shingle.md5FeatureBuckets(lower(text) -> Str, buckets,
        KernelConst("salt", salt)(salt.getBytes("UTF-8")))
      .as("md5_feature_buckets", ArrayType(IntegerType, containsNull = false))
  }

  /** N sequential regexp_replace passes as one expression
    * ([[ShingleHash.chainedReplace]]); null text → null. Replacements
    * must be plain literals (no `$` group references, no `\` escapes):
    * only then does `Matcher.replaceAll` agree byte-for-byte with
    * `RegExpReplace`, so this is checked here. */
  def chainedRegexReplace(text: Column, passes: Seq[(String, String)]): Column = {
    val (patterns, repls) = passes.unzip
    require(patterns.nonEmpty, "one replacement per pattern")
    require(repls.forall(r => !r.contains("$") && !r.contains("\\")),
      "replacements must be literals (no group references/escapes)")
    Shingle.chainedReplace(text -> Str,
        KernelConst("patterns", patterns)(
          patterns.map(java.util.regex.Pattern.compile).toArray),
        KernelConst("replacements", repls)(repls.toArray))
      .as("chained_regex_replace", StringType)
  }

  /** Stopword language-ID decision over `text`
    * ([[ShingleHash.langIdDecide]]) — `sets` in declaration order
    * (first-listed wins ties); null text → null (the regex
    * formulation's behavior). */
  def langIdDecide(text: Column, sets: Seq[(String, Seq[String])]): Column = {
    require(sets.nonEmpty, "one word set per language")
    // word → indices of every language listing it
    val words = KernelConst("langid_words", sets) {
      val m = new java.util.HashMap[UTF8String, Array[Int]]()
      for (((_, ws), li) <- sets.zipWithIndex; w <- ws) {
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, if (prev == null) Array(li) else prev :+ li)
      }
      m
    }
    Shingle.langIdDecide(text -> Str, lower(text) -> Str, words,
        KernelConst("langid_langs", sets.map(_._1))(
          sets.map(s => UTF8String.fromString(s._1)).toArray))
      .as("langid_decide", StringType)
  }

  /** 64-bit SimHash signature of `lower(text)` ([[ShingleHash.simhash64]]);
    * null text → null (callers drop, the explode form's behavior). */
  def simhash64(text: Column): Column =
    Shingle.simhash64(lower(text) -> Str).as("simhash64", LongType)

  /** Winnowing-selected (pos, fp) fingerprint pairs of `lower(text)`
    * ([[ShingleHash.winnowFps]]); null text → null (explode drops the
    * doc, the posexplode form's behavior). */
  def winnowFingerprints(text: Column, k: Int, g: Int): Column = {
    require(k >= 1 && g >= 1, s"k and g must be positive: k=$k g=$g")
    Shingle.winnowFps(lower(text) -> Str, k, g).as("winnow_fingerprints",
      ArrayType(longStruct("pos", "fp"), containsNull = false))
  }

  /** array<string> md5-hex of every n-token window of `lower(text)`
    * ([[ShingleHash.windowMd5s]]) — under-n-token docs yield an empty
    * array; null text → null. */
  def windowMd5s(text: Column, n: Int): Column = {
    require(n >= 1, s"window width must be >= 1: $n")
    Shingle.windowMd5s(lower(text) -> Str, n)
      .as("window_md5s", ArrayType(StringType, containsNull = false))
  }

  /** `lower(text)` with the `n`-token windows starting at the ASCENDING
    * 1-based token indices in `starts` removed and survivors re-joined
    * by single spaces ([[ShingleHash.cutSpans]]); empty starts →
    * identity on the lowered text; null text or starts → null. */
  def cutSpans(text: Column, starts: Column, n: Int): Column =
    cutSpansOf(lower(text), starts, n)

  /** The CASE-PRESERVING cut: same span removal over the ORIGINAL text.
    * Token indices are identical in `text` and `lower(text)` (Unicode
    * lowering never produces or consumes U+0020), so starts computed
    * over lowered windows apply verbatim — matching stays
    * case-insensitive, the surviving text keeps its casing. */
  def cutSpansPreserveCase(text: Column, starts: Column, n: Int): Column =
    cutSpansOf(text, starts, n)

  private def cutSpansOf(text: Column, starts: Column, n: Int): Column = {
    require(n >= 1, s"window width must be >= 1: $n")
    Shingle.cutSpans(text -> Str, starts -> ArrayType(LongType), n)
      .as("cut_spans", StringType)
  }

  /** Row-local MinHash signature (all seeds' minima) over a
    * [[shingleHashes]] array ([[ShingleHash.minhashFold]]). */
  def minhashFold(hashes: Column, a: Seq[Long], b: Seq[Long]): Column = {
    require(a.nonEmpty && a.length == b.length,
      "minhash_fold needs one (a,b) per seed")
    Shingle.minhashFold(hashes -> ArrayType(LongType),
        KernelConst("minhash_a", a)(a.toArray), KernelConst("minhash_b", b)(b.toArray))
      .as("minhash_fold", Longs)
  }

  /** Row-local token-frequency entropy over a non-empty tf array
    * ([[ShingleHash.countEntropy]]). */
  def countEntropy(tfs: Column): Column =
    Shingle.countEntropy(tfs -> ArrayType(LongType)).as("count_entropy", DoubleType)

  /** Row-local unigram-LM score against a broadcast hash→count model
    * (binary-sorted long keys); `hashes` must be non-empty
    * ([[ShingleHash.logProbAvg]]). */
  def hashLogProbAvg(hashes: Column, model: Column, total: Column): Column =
    Shingle.logProbAvg(hashes -> ArrayType(LongType), model -> LongMap,
      total -> LongType).as("hash_log_prob_avg", DoubleType)

  /** Row-local bigram-LM score against broadcast (w1,w2)→count and
    * w1→count models; `bgs` must be non-empty
    * ([[ShingleHash.bigramLogProbAvg]]). */
  def hashBigramLogProbAvg(w1s: Column, bgs: Column, cbg: Column,
      cw: Column): Column =
    Shingle.bigramLogProbAvg(w1s -> ArrayType(LongType), bgs -> ArrayType(LongType),
      cbg -> LongMap, cw -> LongMap).as("hash_bigram_log_prob_avg", DoubleType)
}
