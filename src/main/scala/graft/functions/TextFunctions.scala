package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis column functions for large-scale training-data pipelines
 * (BASELINE.json north star: beyond-reference LLM-data operators).
 *
 * All built from `org.apache.spark.sql.functions` primitives (codegen'd /
 * vectorized) — no UDFs, so the whole pipeline stays inside whole-stage
 * codegen and pushes down through Catalyst.
 *
 * Every function is expressible in ANSI SQL too (the DuckDB oracle mirrors
 * each one), keeping the operators hash-verifiable at sf scale.
 */
object TextFunctions {

  /** Word tokens: maximal alphanumeric runs. Language-neutral, cheap. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Token count (BPE-ish proxy: alnum runs; CJK counted per char below).
    * For packing budgets that must match a real tokenizer, use
    * [[bpeCount]] — merged-BPE counts under a merge-ranks table.
    * Counts via the [[graft.plans.ShingleHash.qualitySignals]] byte-scan kernel —
    * `size(tokens(text))` materializes every token string just to count
    * them (spec-pinned equal, null text → null either way). */
  def tokenCount(text: Column): Column =
    graft.plans.TextExpressions.qualitySignals(text).getField("n_tokens")

  /**
   * Demonstration merge-ranks table (rank = position, the shape a real
   * tokenizer ships as `merges.txt`): common English character pairs,
   * each later merge only referencing segments earlier ranks can build.
   * Swap in a production merges list for real counting — the expression
   * takes any table.
   */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("i", "n"), ("e", "r"), ("a", "n"), ("r", "e"), ("o", "n"),
    ("th", "e"), ("a", "t"), ("e", "n"), ("o", "r"), ("s", "t"), ("e", "s"),
    ("in", "g"), ("a", "r"), ("a", "l"), ("o", "u"), ("e", "d"), ("i", "s"),
    ("i", "t"), ("l", "e"), ("an", "d"), ("r", "o"), ("e", "l"), ("o", "f"),
    ("u", "s"), ("a", "s"), ("i", "c"), ("o", "m"), ("i", "l"), ("e", "t"),
    ("v", "e"), ("c", "h"), ("a", "m"), ("u", "r"), ("c", "o"), ("th", "er"),
    ("l", "y"), ("s", "e"), ("m", "e"), ("d", "e"), ("o", "w"), ("w", "h"),
    ("n", "e"), ("l", "i"), ("t", "o"), ("h", "a"), ("es", "t"), ("er", "s"))

  /** Tokenizer-faithful token count: merged-BPE segments under `merges`
    * (reference merge loop, native codegen'd expression —
    * [[graft.plans.BpeMatcher.count]] documents why this one can't be
    * declarative). Drop-in for [[tokenCount]] wherever budgets must match
    * what a real tokenizer would produce, e.g. `Corpus.packSequences`
    * fed with this as its `tokenCol`. */
  def bpeCount(text: Column, merges: Seq[(String, String)] = BpeMerges): Column =
    graft.plans.BpeExpressions.bpeCount(text, merges)

  /** Merged-BPE token-id sequence (`array<int>`, canonical
    * merges-derived vocab: a–z/0–9 = 0–35, merge rank r = 36 + r) — the
    * emission twin of [[bpeCount]], turning a cleaned corpus into model
    * input with `size(bpeEncode(t)) == bpeCount(t)` structurally. */
  def bpeEncode(text: Column, merges: Seq[(String, String)] = BpeMerges): Column =
    graft.plans.BpeExpressions.bpeEncode(text, merges)

  /**
   * Load a production merges table in the GPT-2 `merges.txt` format: one
   * merge per line, the two segments space-separated, rank = line order;
   * an optional leading `#version:` header and blank lines are skipped.
   * Driver-side (the table is kilobytes and rides in the plan as a
   * codegen reference object, like a broadcast) — read the file locally
   * and pass the result to [[bpeCount]], or set
   * `TrainingSetConfig.bpeMergesPath` to have `TrainingSetJob` budget its
   * chunking and packing in merged-BPE tokens.
   *
   * Fidelity note: this engine pre-tokenizes on lowercased alnum runs
   * (see [[graft.plans.BpeMatcher.countText]]), which carries no
   * leading-space marker — byte-level vocab entries like GPT-2's `Ġ`-
   * prefixed segments are loaded verbatim and simply never match, so
   * counts under such a table approximate the real tokenizer from above
   * (fewer merges fire → more tokens counted). A merges table built on
   * word-internal pairs (the common case for packing budgets) reproduces
   * exactly.
   */
  def loadBpeMerges(path: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path),
      java.nio.charset.StandardCharsets.UTF_8).asScala
    lines.iterator.zipWithIndex
      .filterNot { case (l, i) => l.isEmpty || (i == 0 && l.startsWith("#version")) }
      .map { case (l, i) =>
        val parts = l.split(" ", -1)
        require(parts.length == 2 && parts.forall(_.nonEmpty),
          s"$path:${i + 1}: expected 'left right', got '$l'")
        (parts(0), parts(1))
      }.toSeq
  }

  /**
   * Distributed BPE merge TRAINING (Sennrich et al. 2016's learning
   * loop) — the piece that closes the tokenizer loop: a pipeline that
   * only COUNTS under someone else's merges still drifts if that table
   * wasn't trained on this corpus.
   *
   * Architecture is the standard tokenizer-training reduction: the
   * corpus collapses to an exact WORD HISTOGRAM in one map-side-combined
   * `groupBy(word).count()` — the only distributed pass, reading each
   * document once — and the merge loop runs driver-side over the
   * histogram (Zipf makes distinct words a driver-sized model at any
   * corpus scale, the codebook/centroid precedent; `maxWords` caps it
   * deterministically by (count desc, word) BEFORE the collect so driver
   * memory is bounded even on adversarial vocabularies — NOTE this cap
   * TRUNCATES: words past the 2²⁰-by-default most frequent are SILENTLY
   * absent from the histogram, so their pair counts don't vote on
   * merges; Zipf mass makes the effect negligible on natural text, but a
   * flat synthetic vocabulary larger than `maxWords` trains on a biased
   * sample — raise `maxWords` there). Each iteration
   * counts adjacent symbol pairs weighted by word count, merges the most
   * frequent pair everywhere, and records it; ties break to the
   * lexicographically smallest pair, so the trained table is
   * DETERMINISTIC across partitionings and engines (counts are exact).
   *
   * Pre-tokenization matches [[tokens]]/`BpeMatcher.countText`
   * (lowercased alnum runs), so the trained table plugs straight into
   * [[bpeCount]] and ranks are consistent by construction (merge i can
   * only reference segments buildable from merges < i).
   */
  def trainBpeMerges(docs: org.apache.spark.sql.DataFrame, numMerges: Int,
      textCol: String = "text", maxWords: Int = 1 << 20): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be non-negative: $numMerges")
    require(maxWords > 0, s"maxWords must be positive: $maxWords")
    val hist = graft.operators.Selection.topKBy(docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")), "c", "w", maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Array[String], Long)] =
      hist.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- words if syms.length > 1; j <- 0 until syms.length - 1)
        pairCounts.updateWith((syms(j), syms(j + 1)))(o => Some(o.getOrElse(0L) + c))
      if (pairCounts.isEmpty) exhausted = true
      else {
        // most frequent pair; ties → lexicographically smallest (a, b)
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = Array.newBuilder[String]
            var k = 0
            while (k < syms.length) {
              if (k < syms.length - 1 && syms(k) == best._1 && syms(k + 1) == best._2) {
                out += (best._1 + best._2); k += 2
              } else { out += syms(k); k += 1 }
            }
            (out.result(), c)
          }
        }
      }
      i += 1
    }
    merges.toSeq
  }

  /**
   * Space-split tokens — the shingling basis. Literal single-space split
   * (matches SQL `string_split(lower(text), ' ')`): ~7× faster than a
   * `\s+` regex split and exact on whitespace-normalized text. For raw
   * corpora, normalize first (the `fingerprint` normalization:
   * `regexp_replace(text, '\s+', ' ')`) — dedup pipelines want that
   * canonicalization anyway.
   */
  def wsTokens(text: Column): Column = split(lower(text), " ")

  /**
   * Word n-gram shingles: shingle_i = t[i] ⧺ ' ' ⧺ … ⧺ t[i+n-1].
   *
   * Shape matters: n bulk `slice`s + (n-1) `zip_with` concats = O(n) array
   * operations per ROW. The obvious `transform(sequence(...), i =>
   * concat_ws(slice(t, i, n)))` allocates a slice per SHINGLE and ran ~10×
   * slower at sf0.1 (shingling 5k docs: 6s → sub-second).
   */
  def shingles(text: Column, n: Int): Column = {
    val t = wsTokens(text)
    val m = size(t) - (n - 1) // shingle count; only used when size >= n
    val parts = (1 to n).map(k => slice(t, lit(k), m))
    val combined = parts.reduceLeft((acc, p) =>
      zip_with(acc, p, (a, b) => concat(a, lit(" "), b)))
    when(size(t) >= n, combined).otherwise(array(concat_ws(" ", t)))
  }

  /** Canonical-form fingerprint: md5 of lowercased, whitespace-collapsed
    * text (document identity robust to formatting noise). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")).cast("binary"))

  /** Ratio helpers — each a single divide over regexp counts.
    * `regexp_count` counts matches WITHOUT materializing them as an array
    * (`size(regexp_extract_all(...))` allocates every match string first —
    * same value, measurably slower on long documents). */
  private[functions] def countMatches(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))

  /**
   * Quality signals per document: length, token stats, punctuation and
   * digit ratios, mean token length — the standard cheap filters
   * (C4/Gopher-style rules) a 100 TB text pipeline runs first.
   */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    // ONE codegen'd byte-scan kernel for all five counters; referencing
    // the same Column per field lets subexpression elimination evaluate
    // it once per row. Spec-pinned bit-identical to the
    // regex form (`TextOracles.qualityColumnsRegex`).
    val sig = graft.plans.TextExpressions.qualitySignals(text)
    val nChars = sig.getField("n_chars")
    val nTok = sig.getField("n_tokens")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTok,
      "punct_ratio" -> Quantize.quantize(sig.getField("n_punct").cast("double") /
        greatest(nChars, lit(1L)), 6),
      "digit_ratio" -> Quantize.quantize(sig.getField("n_digit").cast("double") /
        greatest(nChars, lit(1L)), 6),
      "mean_token_len" -> Quantize.quantize(sig.getField("n_alnum").cast("double") /
        greatest(nTok, lit(1L)), 6))
  }

  /** Gopher rule-filter stop set (Rae et al. 2021, §A1.1): a document
    * must contain at least [[GopherMinStopHits]] DISTINCT words of this
    * list to pass the stop-word rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  /**
   * Gopher-style repetition/format rule signals + verdict (Rae et al.
   * 2021, §A1.1 "quality filtering" — public) — the standard
   * document-level gate a web-scale pipeline runs after the cheap
   * [[qualityColumns]] counters. Emits every rule's measured signal plus
   * the fused `keep`, so a threshold sweep re-reads signals without
   * re-scanning text. Rules (ratios compared on their 6dp-quantized
   * values, so both engines threshold identical doubles):
   *  - 50 ≤ words ≤ 100 000; 3 ≤ mean word length ≤ 10
   *  - symbol-to-word ratio ('#' or ellipsis) < 0.1
   *  - < 90% of lines start with a bullet; < 30% end with an ellipsis
   *  - > 80% of words contain an alphabetic character
   *  - ≥ 2 distinct stop words present ([[GopherStopwords]])
   *
   * Everything is one projection of `regexp_count`s — codegen'd,
   * map-only, shuffle-free; the patterns are RE2-compatible (no
   * lookaround, explicit whitespace classes, `\z` not `$`) so the DuckDB
   * oracle runs the IDENTICAL regex strings (same discipline as
   * [[PiiPatterns]]). "Word" is a maximal run of non-whitespace —
   * spelled as the explicit class `[^ \t\n\r\f]` because Java's `\S`
   * excludes U+000B where RE2's does not.
   */
  def gopherColumns(text: Column): Seq[(String, Column)] = {
    // ONE codegen'd byte-scan kernel for all eight counters (the regex
    // formulation is 15 passes, each decoding UTF-8→UTF-16); spec-pinned
    // bit-identical to `TextOracles.gopherColumnsRegex`
    val sig = graft.plans.TextExpressions.gopherSignals(text, GopherStopwords)
    gopherColumnsFromSignals(sig)
  }

  /**
   * The Gopher-gate verdict alone, safe to use directly as a Filter
   * predicate: ONE boolean kernel ([[graft.plans.ShingleHash.gopherKeep]]) that runs
   * the byte scan exactly once per row. Filtering on
   * `gopherColumns(...)("keep")` instead would re-run the kernel per
   * struct reference (FilterExec has no subexpression elimination, and
   * every evaluate-once plan shape — hand-projected alias, Catalyst
   * `With` — is re-substituted per reference by predicate pushdown; the
   * measured blowup was 63 kernel copies in the optimized predicate).
   * Spec-pinned verdict-identical to the assembled keep.
   */
  def gopherKeep(text: Column): Column =
    graft.plans.TextExpressions.gopherKeep(text, GopherStopwords)

  /** [[gopherColumns]] over an ALREADY-PROJECTED [[graft.plans.ShingleHash.gopherSignals]]
    * struct column (or the evaluate-once ref [[gopherKeep]] supplies) —
    * the raw-counter → (signal, verdict) arithmetic shared by every
    * formulation. */
  def gopherColumnsFromSignals(sig: Column): Seq[(String, Column)] =
    assemble(sig.getField("n_words"), sig.getField("n_nonws"),
      sig.getField("n_symbol"), sig.getField("n_lines"),
      sig.getField("n_bullet_lines"), sig.getField("n_ellipsis_lines"),
      sig.getField("n_alpha_words"), sig.getField("stop_hits"))

  /**
   * C4-style line-level cleaning (Raffel et al. 2020 §2.2, public): keep
   * lines ending in terminal punctuation (`[.!?"”]`, trailing blanks
   * allowed) with ≥ 5 words and no "javascript"; page verdict = ≥ 3 kept
   * lines and no "lorem ipsum" / '{'. Emits (clean_text, n_lines_kept,
   * keep) — the line-dropping twin of the document-level [[gopherColumns]]
   * gate (C4 §2.2's sentence-count page rule is realized as the
   * kept-LINE count — deterministic and engine-portable where sentence
   * segmentation is neither). ONE byte-scan kernel
   * ([[graft.plans.ShingleHash.c4LineClean]]); the higher-order formulation
   * `TextOracles.c4ColumnsHof` is the spec oracle pinning it (and the
   * shape the DuckDB SQL mirrors with `list_filter`).
   */
  def c4Columns(text: Column): Seq[(String, Column)] = {
    val sig = graft.plans.TextExpressions.c4LineClean(text)
    Seq(
      "clean_text" -> sig.getField("clean_text"),
      "n_lines_kept" -> sig.getField("n_lines_kept"),
      "keep" -> sig.getField("keep"))
  }

  /** Raw Gopher counters → emitted (signal, verdict) columns — shared by
    * the kernel and regex formulations so the rule arithmetic exists
    * exactly once. */
  private[functions] def assemble(nWords: Column, nNonWs: Column, nSymbol: Column,
      nLines: Column, nBullet: Column, nEllipsis: Column,
      nAlphaWords: Column, stopHits: Column): Seq[(String, Column)] = {
    val meanWordLen = Quantize.quantize(
      nNonWs.cast("double") / greatest(nWords, lit(1L)), 6)
    val symbolRatio = Quantize.quantize(
      nSymbol.cast("double") / greatest(nWords, lit(1L)), 6)
    val bulletRatio = Quantize.quantize(nBullet.cast("double") / nLines, 6)
    val ellipsisRatio = Quantize.quantize(nEllipsis.cast("double") / nLines, 6)
    val alphaRatio = Quantize.quantize(
      nAlphaWords.cast("double") / greatest(nWords, lit(1L)), 6)
    import graft.plans.{ShingleHash => SH}
    val keep = nWords.between(SH.GopherMinWords, SH.GopherMaxWords) &&
      meanWordLen.between(SH.GopherMinMeanWordLen, SH.GopherMaxMeanWordLen) &&
      symbolRatio < SH.GopherMaxSymbolRatio &&
      bulletRatio < SH.GopherMaxBulletRatio &&
      ellipsisRatio < SH.GopherMaxEllipsisRatio &&
      alphaRatio > SH.GopherMinAlphaRatio && stopHits >= GopherMinStopHits
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> meanWordLen,
      "symbol_ratio" -> symbolRatio,
      "bullet_ratio" -> bulletRatio,
      "ellipsis_ratio" -> ellipsisRatio,
      "alpha_ratio" -> alphaRatio,
      "stop_hits" -> stopHits,
      "keep" -> keep)
  }

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small + deterministic (SQL-mirrorable). */
  val StopwordSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "dans"),
    "es" -> Seq("el", "la", "los", "que", "es", "una", "por", "con"))

  /**
   * PII patterns, applied in order: (name, regex, replacement). Order
   * matters — emails go first (their local parts contain digits), IPs
   * before bare digit runs (an octet is not an account number), phones
   * before digit runs (separators keep phone digits out of the 9+-run
   * class). Patterns are deliberately RE2-compatible (no backrefs, no
   * lookaround) so the DuckDB oracle applies the IDENTICAL regexes —
   * redaction is hash-verified, not spot-checked.
   *
   * These are the cheap high-recall filters a 100 TB scrub runs in the
   * scan projection (one codegen'd `regexp_replace` chain, no UDF, no
   * shuffle); precision-critical redaction (names, addresses) needs a
   * model pass and is out of scope here.
   *
   * Known cross-engine nuance (see `TextOracles.langIdRegex`): `\b` is
   * ASCII-word-based in RE2/DuckDB but Unicode-word-based in Java, so a
   * digit run glued to a Unicode letter ("é123456789") redacts under
   * the oracle's engine and not under Spark's. The shared-pattern
   * discipline can't paper over it — RE2 has no lookbehind, so the
   * ASCII boundary can't be spelled portably in one pattern. The PII
   * fixture is ASCII (hash parity holds); on Unicode-heavy corpora the
   * Java semantics are the engine's behavior, and marginally more
   * conservative (fewer boundaries → fewer redactions).
   */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b", "<PHONE>"),
    ("idnum", "\\b[0-9]{9,}\\b", "<ID>"))

  /** Unicode punctuation folded to ASCII by [[normalizeText]]: curly
    * single/double quotes, en/em dashes, NBSP — a 1:1 codepoint map, so
    * any engine's `translate` reproduces it exactly. */
  val FoldFrom = "‘’“”–— "
  val FoldTo = "''\"\"-- "

  /**
   * Normalization regex chain, applied in order after the punctuation
   * fold: (pattern, replacement). RE2-compatible like [[PiiPatterns]], so
   * the DuckDB oracle applies the IDENTICAL steps and normalization is
   * hash-verified. Order matters: CR folding feeds the whitespace rules,
   * horizontal collapse feeds the newline-hugging rule, and the
   * paragraph-gap cap sees only clean newline runs.
   */
  val NormalizePatterns: Seq[(String, String)] = Seq(
    ("\\r\\n?", "\n"), // CRLF / bare CR → LF
    ("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""), // control chars (not \t\n\r) out
    ("[ \\t]+", " "), // horizontal whitespace runs → one space
    (" ?\\n ?", "\n"), // spaces hugging a newline
    ("\\n{3,}", "\n\n"), // paragraph gap cap
    ("^[ \\n]+|[ \\n]+$", "")) // leading/trailing whitespace

  /**
   * Text normalization — the pre-cleaning stage every web-scale corpus
   * runs before quality scoring and dedup (ragged whitespace and curly
   * punctuation otherwise split near-duplicate shingles that differ only
   * typographically). One codegen'd `translate` + `regexp_replace` chain
   * in the scan projection: map-only, no UDF, fuses with whatever gate
   * follows.
   */
  def normalizeText(text: Column): Column =
    graft.plans.TextExpressions.chainedRegexReplace(
      translate(text, FoldFrom, FoldTo), NormalizePatterns)

  /**
   * Markup-strip chain, applied in order: (pattern, replacement) —
   * RE2-compatible like [[PiiPatterns]]/[[NormalizePatterns]] so the
   * DuckDB oracle applies the IDENTICAL steps and stripping is
   * hash-verified. Order matters: script/style/comment bodies go before
   * the generic tag rule (their CONTENT must vanish, not just their
   * tags); entities decode after tags (a decoded `&lt;` must not create
   * a new "tag"); `&amp;` decodes LAST so double-escapes like
   * `&amp;lt;` come out as the literal `&lt;` — decoded exactly once;
   * whitespace collapse + edge trim run last over the seams the
   * removals left. Tags are replaced by a SPACE, not "", so
   * `<li>one</li><li>two</li>` reads "one two", not "onetwo".
   */
  val MarkupPatterns: Seq[(String, String)] = Seq(
    ("(?is)<script[^>]*>.*?</script>", " "),
    ("(?is)<style[^>]*>.*?</style>", " "),
    ("(?s)<!--.*?-->", " "),
    ("<[^>]+>", " "),
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&apos;", "'"),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ("[ \\t]+", " "),
    ("^ +| +$", ""))

  /**
   * HTML/markup stripping — the web-corpus pre-clean stage upstream even
   * of [[normalizeText]]: raw crawl text arrives as markup, and every
   * downstream signal (shingles, quality ratios, token counts) is
   * garbage over tag soup. One codegen'd `regexp_replace` chain in the
   * scan projection, map-only; precision-critical extraction (boilerplate
   * DOM pruning, main-content detection) needs a DOM pass and is out of
   * scope — this is the cheap high-recall form, like [[PiiPatterns]].
   */
  def stripMarkup(text: Column): Column =
    // one decode/encode for the whole 13-pass chain (same engine, same
    // sequence — [[graft.plans.ShingleHash.chainedReplace]]); spec-pinned equal
    // to the folded regexp_replace form
    graft.plans.TextExpressions.chainedRegexReplace(text, MarkupPatterns)

  /** Redact all [[PiiPatterns]] occurrences (every match — Spark's
    * `regexp_replace` is global, mirrored by the oracle's `'g'` flag). */
  def redactPii(text: Column): Column =
    graft.plans.TextExpressions.chainedRegexReplace(text,
      PiiPatterns.map { case (_, pat, repl) => (pat, repl) })

  /** Per-pattern audit counts (`n_<name>` columns): how many matches each
    * redaction stage ACTUALLY replaced. Pattern i is counted on the text
    * with patterns 0..i-1 already applied — the same prefix its
    * `regexp_replace` sees in [[redactPii]] — so the counts always
    * reconcile with the redacted output (counting every pattern on the raw
    * text would report phantom PII when patterns overlap, e.g. the 9-digit
    * local part of an already-redacted `123456789@example.com`). */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val prefixes = PiiPatterns.scanLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, lit(pat), lit(repl))
    }
    PiiPatterns.zip(prefixes).map { case ((name, pat, _), pre) =>
      s"n_$name" -> countMatches(pre, pat).cast("long")
    }
  }

  /**
   * Language-ID heuristic: argmax of stopword hits; CJK scripts win by
   * character-class presence first (stopwords don't apply). Ties resolve
   * by the fixed language order — deterministic.
   *
   * ONE regex pass, not one per language: all languages' stopwords form a
   * single alternation, and per-language hit counts come from a fold over
   * the (small) extracted-match array. Equivalent to per-language
   * `\b(w…)\b` passes — a shared word ("la" in fr AND es) is extracted
   * once and counted for every language that lists it, exactly as the
   * separate passes would, and `\b` semantics are unchanged. Measured at
   * sf0.1: ~4× faster steady-state than the per-language passes (0.5 s vs
   * 2.1 s for the filter) — the boundary-anchored alternation scan is the
   * real cost, so running it once instead of once per language wins even
   * though the counting fold is an interpreted HOF. The DuckDB oracle
   * keeps the per-language form — hash parity proves equivalence.
   */
  def langId(text: Column): Column =
    // One codegen'd byte-scan decision ([[graft.plans.ShingleHash.langIdDecide]]) —
    // spec-pinned bit-identical to `TextOracles.langIdRegex` (the regex +
    // interpreted-fold formulation this replaced; the DuckDB oracle
    // keeps the per-language regex form — hash parity proves all three
    // agree).
    graft.plans.TextExpressions.langIdDecide(text, StopwordSets)
}
