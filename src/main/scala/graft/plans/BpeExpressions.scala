package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The merge-ranks model: (pair → rank) lookup plus the reference merge
 * loop. One instance per plan (a [[KernelConst]]), shared by every task
 * thread — the word cache is a bounded ConcurrentHashMap.
 */
final class BpeMatcher(merges: Seq[(String, String)]) extends Serializable {
  private val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + "\u0001" + b, i) }
    m
  }
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val MaxCache = 1 << 16
  private val MaxCachedWordLen = 32

  /** Canonical merges-derived vocabulary: base symbols `a-z` (0–25) and
    * `0-9` (26–35), then one token per merge in rank order (36 + rank) —
    * the standard id space of a merges-only BPE model. Every part the
    * merge loop can produce is in it by construction (parts are base
    * chars or concatenations a merge created). */
  private val vocabId: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    for (c <- 'a' to 'z') m.put(String.valueOf(c), c - 'a')
    for (c <- '0' to '9') m.put(String.valueOf(c), 26 + (c - '0'))
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + b, 36 + i) }
    m
  }

  /** The reference merge loop: repeatedly merge every occurrence of the
    * lowest-rank adjacent pair until no merge applies. */
  private def mergeWord(word: String): java.util.ArrayList[String] = {
    var parts = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) { parts.add(String.valueOf(word.charAt(i))); i += 1 }
    var done = false
    while (!done && parts.size() > 1) {
      // lowest-rank adjacent pair present in the word
      var best = -1
      var bestRank = Integer.MAX_VALUE
      var j = 0
      while (j < parts.size() - 1) {
        val r = rank.get(parts.get(j) + "\u0001" + parts.get(j + 1))
        if (r != null && r.intValue() < bestRank) { bestRank = r.intValue(); best = j }
        j += 1
      }
      if (best < 0) done = true
      else {
        // merge ALL occurrences of that pair, left to right
        val a = parts.get(best)
        val b = parts.get(best + 1)
        val next = new java.util.ArrayList[String](parts.size())
        var k = 0
        while (k < parts.size()) {
          if (k < parts.size() - 1 && parts.get(k) == a && parts.get(k + 1) == b) {
            next.add(a + b); k += 2
          } else { next.add(parts.get(k)); k += 1 }
        }
        parts = next
      }
    }
    parts
  }

  /** Merged-BPE token count of one word. */
  def countWord(word: String): Long = {
    if (word.length <= 1) return word.length.toLong
    val cached = if (word.length <= MaxCachedWordLen) cache.get(word) else null
    if (cached != null) return cached.longValue()
    val n = mergeWord(word).size().toLong
    if (word.length <= MaxCachedWordLen && cache.size() < MaxCache)
      cache.put(word, java.lang.Long.valueOf(n))
    n
  }

  @transient private lazy val idCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()

  /** Merged-BPE token ids of one word under the canonical vocab
    * ([[vocabId]]). Same loop and cache discipline as [[countWord]]. */
  def encodeWord(word: String): Array[Int] = {
    if (word.isEmpty) return Array.emptyIntArray
    val cached = if (word.length <= MaxCachedWordLen) idCache.get(word) else null
    if (cached != null) return cached
    val parts = mergeWord(word)
    val ids = new Array[Int](parts.size())
    var i = 0
    while (i < parts.size()) {
      val id = vocabId.get(parts.get(i))
      ids(i) = if (id == null) -1 else id.intValue() // unreachable by construction
      i += 1
    }
    if (word.length <= MaxCachedWordLen && idCache.size() < MaxCache)
      idCache.put(word, ids)
    ids
  }

  /** Concatenated [[encodeWord]] ids over the text's lowercased
    * `[a-z0-9]+` runs — the id-sequence twin of [[countText]], so
    * `encodeText(t).numElements == countText(t)` by construction (the
    * invariant the spec pins). Same locale-safe lowercasing. */
  def encodeText(text: String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val t = org.apache.spark.unsafe.types.UTF8String.fromString(text)
      .toLowerCase.toString
    val words = new java.util.ArrayList[Array[Int]]()
    var total = 0
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= t.length) {
      val c = if (i < t.length) t.charAt(i) else ' '
      val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (alnum) sb.append(c)
      else if (sb.length() > 0) {
        val ids = encodeWord(sb.toString)
        words.add(ids); total += ids.length
        sb.setLength(0)
      }
      i += 1
    }
    val flat = new Array[Int](total)
    var o = 0
    val it = words.iterator()
    while (it.hasNext) {
      val a = it.next(); System.arraycopy(a, 0, flat, o, a.length); o += a.length
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(flat)
  }

  /** Sum of [[countWord]] over the text's lowercased `[a-z0-9]+` runs.
    * Lowercasing goes through Spark's OWN `UTF8String.toLowerCase` — the
    * exact code `lower()` runs — so run segmentation can never diverge
    * from `TextFunctions.tokens` by JVM default locale (a tr_TR executor
    * lowercases 'I' differently under plain `String.toLowerCase`) or by
    * multi-char expansions (U+0130 → "i" + combining dot). */
  def countText(text: String): Long = {
    val t = org.apache.spark.unsafe.types.UTF8String.fromString(text)
      .toLowerCase.toString
    var total = 0L
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= t.length) {
      val c = if (i < t.length) t.charAt(i) else ' '
      val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (alnum) sb.append(c)
      else if (sb.length() > 0) { total += countWord(sb.toString); sb.setLength(0) }
      i += 1
    }
    total
  }
}

/**
 * Tokenizer-faithful BPE token counting and id emission, the static
 * kernels the `bpe_token_count` / `bpe_encode` expressions call.
 *
 * `TextFunctions.tokenCount` (alnum runs) and the GPT-2-style
 * PRE-tokenization proxy both over/under-count vs a real subword
 * tokenizer, so packing budgets computed from them drift from the token
 * counts training actually sees. [[count]] counts MERGED-BPE tokens:
 * each word's characters are repeatedly merged by a (pair → rank) table
 * — always the lowest-rank adjacent pair, all its occurrences, until no
 * merge applies — exactly the reference BPE algorithm (Sennrich et al.
 * 2016; the GPT-2 encoder's `bpe()` loop), and the count is the number
 * of surviving segments.
 *
 * Why a native kernel and not `functions._`: BPE is a data-dependent
 * fixed-point loop (merge until quiescent) over each word. Declarative
 * higher-order functions express only bounded-depth folds — encoding "a
 * merge pass that repeats until no pair matches" needs either a
 * worst-case-depth expression tree (word length × vocab, interpreted
 * per element, unusably slow — the same reason FloatVectorDot exists) or
 * a UDF (opaque to codegen, serialization overhead per row). Bound
 * through [[NativeKernel]], this stays INSIDE whole-stage codegen; the
 * merge table rides along as a plan constant, the Catalyst-native
 * equivalent of a broadcast: shipped once per plan, shared across rows
 * (with a bounded per-executor word-count cache — Zipf reuse makes most
 * words cache hits).
 *
 * Pre-tokenization matches [[graft.functions.TextFunctions.tokens]]
 * (lowercased maximal `[a-z0-9]+` runs) so counts stay comparable with
 * the engine's other token statistics; characters outside the vocab
 * count one token each (byte-fallback analog).
 */
object BpeMatcher {
  /** Merged-BPE token count of `text`. */
  def count(text: UTF8String, m: BpeMatcher): Long = m.countText(text.toString)

  /** Merged-BPE token-id emission — the id-sequence twin of [[count]]:
    * the same reference merge loop, but emitting one vocab id per
    * surviving segment (`array<int>`), where the vocabulary derives
    * canonically from the merges (base symbols a–z/0–9 = 0–35, merge of
    * rank r = 36 + r — the id space a merges-only BPE model defines).
    * This is the step that turns a cleaned corpus into model input, so
    * the packing/chunking budgets ([[count]]) and the actual sequences
    * come from ONE tokenizer with a structural invariant:
    * `size(bpe_encode(t)) == bpe_token_count(t)` for every row. */
  def encode(text: UTF8String, m: BpeMatcher): ArrayData = m.encodeText(text.toString)
}

object BpeExpressions {
  private val Bpe = NativeKernel.of(BpeMatcher)
  private def matcher(merges: Seq[(String, String)]) =
    KernelConst("bpe_merges", merges)(new BpeMatcher(merges))

  /** Merged-BPE token count of `text` under a merge-ranks table. */
  def bpeCount(text: Column, merges: Seq[(String, String)]): Column =
    Bpe.count(text -> StringType, matcher(merges)).as("bpe_token_count", LongType)

  /** Merged-BPE token ids of `text` (canonical merges-derived vocab). */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    Bpe.encode(text -> StringType, matcher(merges))
      .as("bpe_encode", ArrayType(IntegerType, containsNull = false))
}
