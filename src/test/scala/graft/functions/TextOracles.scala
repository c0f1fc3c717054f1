package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** The literal formulations [[TextFunctions]]' native kernels replaced,
  * kept as the spec oracles that pin each kernel bit-identical (most are
  * also the shape the DuckDB oracle SQL mirrors), plus the merges-file
  * writer the tokenizer round-trip specs use. */
object TextOracles {

  /** Write a merges table in the same GPT-2 format [[loadBpeMerges]]
    * reads (version header, rank = line order) — the save half of the
    * train → save → load → count → budget tokenizer loop. */
  def saveBpeMerges(merges: Seq[(String, String)], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      ("#version: 0.2" +: merges.map { case (a, b) => s"$a $b" }).asJava,
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Engine-reproducible 32-bit string hash (md5-prefix long) — for
    * operators whose SELECTION depends on hash ORDER (winnowing): any
    * engine that can md5 reproduces not just the match set but the
    * chosen positions, so the oracle can hash-verify them. */
  def strHash32(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long")

  /** The five-regex-engine formulation [[qualityColumns]] replaced —
    * kept as the spec oracle pinning the [[graft.plans.QualitySignals]]
    * kernel (and the shape the DuckDB oracle SQL mirrors). */
  def qualityColumnsRegex(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("long")
    // size(tokens(..)), NOT tokenCount: tokenCount routes through the
    // QualitySignals kernel this formulation exists to pin — the oracle
    // must share no code with the kernel under test. (size → -1 on null
    // input; the when() keeps null text → null like the kernel.)
    val nTok = when(text.isNull, lit(null).cast("long"))
      .otherwise(size(tokens(text)).cast("long"))
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTok,
      "punct_ratio" -> Quantize.quantize(countMatches(text, "[.,;:!?]").cast("double") /
        greatest(nChars, lit(1L)), 6),
      "digit_ratio" -> Quantize.quantize(countMatches(text, "[0-9]").cast("double") /
        greatest(nChars, lit(1L)), 6),
      "mean_token_len" -> Quantize.quantize(countMatches(lower(text), "[a-z0-9]").cast("double") / greatest(nTok, lit(1L)), 6))
  }

  /** The 15-regex-engine formulation [[gopherColumns]] replaced — kept
    * as the spec oracle pinning the [[graft.plans.GopherSignals]] kernel
    * (and the shape the DuckDB oracle SQL mirrors). Stop-word boundaries
    * are spelled as ASCII lookarounds, NOT `\b`: Java's `\b` is
    * Unicode-word-based where RE2's (= the kernel's, = the DuckDB
    * oracle's) is ASCII-word-based, so `\bthe\b` would diverge from both
    * on text like "the中文" — the lookaround spells the RE2 reading in
    * Java (same engine nuance documented on [[PiiPatterns]]). */
  def gopherColumnsRegex(text: Column): Seq[(String, Column)] = {
    val nw = "[^ \\t\\n\\r\\f]" // one non-whitespace char, engine-identical
    val stopHits = GopherStopwords
      .map(w => when(lower(text).rlike(s"(?<![A-Za-z0-9_])$w(?![A-Za-z0-9_])"), 1L)
        .otherwise(0L))
      .reduce(_ + _)
    assemble(
      countMatches(text, s"$nw+").cast("long"),
      countMatches(text, nw).cast("long"),
      countMatches(text, "(#|\\.\\.\\.|…)").cast("long"),
      (countMatches(text, "\\n") + lit(1)).cast("long"),
      countMatches(text, "(^|\\n)[ \\t]*[-*•]").cast("long"),
      countMatches(text, "(\\.\\.\\.|…)[ \\t]*(\\n|\\z)").cast("long"),
      countMatches(text, s"$nw*[A-Za-z]$nw*").cast("long"),
      when(text.isNull, lit(null).cast("long")).otherwise(stopHits))
  }

  /** The higher-order (interpreted-lambda) formulation pinning
    * [[c4Columns]] — `filter(split(text, '\n'))` with the IDENTICAL
    * line predicates, reassembled with `array_join`. */
  def c4ColumnsHof(text: Column): Seq[(String, Column)] = {
    val kept = filter(split(text, "\n"), l =>
      l.rlike("[.!?\"”][ \\t\\r\\f]*\\z") &&
        regexp_count(l, lit("[^ \\t\\r\\f]+")) >= 5 &&
        !lower(l).contains("javascript"))
    Seq(
      "clean_text" -> array_join(kept, "\n"),
      "n_lines_kept" -> size(kept).cast("long"),
      "keep" -> (size(kept) >= 3 &&
        !lower(text).contains("lorem ipsum") && !text.contains("{")))
  }

  /** Folded form of [[normalizeText]] — spec oracle for the chain. */
  def normalizeTextFolded(text: Column): Column =
    NormalizePatterns.foldLeft(translate(text, FoldFrom, FoldTo)) {
      case (c, (pat, repl)) => regexp_replace(c, lit(pat), lit(repl))
    }

  /** Folded-regexp_replace forms of [[stripMarkup]] / [[redactPii]] —
    * kept as the spec oracles pinning [[graft.plans.ChainedRegexReplace]]. */
  def stripMarkupFolded(text: Column): Column =
    MarkupPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, lit(pat), lit(repl))
    }
  def redactPiiFolded(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, lit(pat), lit(repl))
    }

  /** The regex formulation [[langId]] replaced — kept as the spec oracle
    * pinning the [[graft.plans.LangIdDecide]] kernel.
    *
    * Boundary semantics, learned the hard way (randomized kernel pin in
    * PropertySpec): Java's `\b` is NOT the ASCII boundary RE2 uses —
    * its word set is `Character.isLetterOrDigit || '_'`, so Unicode
    * letters AND combining marks extend words ("éthe" has no boundary
    * before "the" in Java; it does in RE2/DuckDB, where `\b` is
    * `[0-9A-Za-z_]`-based). The declared oracle is DuckDB, so the
    * engine's contract is the ASCII boundary — the kernel implements
    * it, and this pin spells it explicitly as ASCII lookarounds
    * `(?<![a-z0-9_])(w)(?![a-z0-9_])` (legal in Java; RE2 has no
    * lookbehind, which is why the SQL side writes `\b` and means the
    * same thing). Winner selection uses SINGLE-LEVEL higher-order
    * functions only (one `filter` per language over the shared extract,
    * `array_max` over (hits, −index, lang) structs — max hits,
    * first-listed on ties, "und" at zero). */
  def langIdRegex(text: Column): Column = {
    val cjk = countMatches(text, "[\\x{4e00}-\\x{9fff}]")
    val allWords = StopwordSets.flatMap(_._2).distinct
    val hitWords = regexp_extract_all(lower(text),
      lit(s"(?<![a-z0-9_])(${allWords.mkString("|")})(?![a-z0-9_])"), lit(0))
    val best = array_max(array(StopwordSets.zipWithIndex.map {
      case ((lang, words), i) =>
        val hits = size(filter(hitWords,
          w => array_contains(array(words.map(lit): _*), w)))
        struct(hits.as("hits"), lit(-i).as("negidx"), lit(lang).as("lang"))
    }: _*))
    val decided = when(best.getField("hits") === 0, lit("und"))
      .otherwise(best.getField("lang"))
    // null text → null (the kernel's null-intolerant behavior; without
    // this guard size(filter(null)) feeds the argmax a null hit count)
    when(text.isNull, lit(null).cast("string"))
      .when(cjk > 0, lit("zh")).otherwise(decided)
  }
}
