package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{KeyedStore, Reshape}

/** Seeded randomized invariants (SURVEY §5.3): reshape round-trip and merge
  * algebra over generated station matrices. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(1234)

  /** Random wide matrix: `n` stations × `d` days, ~20% nodata cells. */
  private def randomWide(n: Int, d: Int) = {
    val dates = (1 to d).map(i => f"2022-01-$i%02d")
    val rows = (1 to n).map { s =>
      val id = s"st$s"
      val cells = dates.map(_ => if (rnd.nextDouble() < 0.2) "NA"
        else BigDecimal(rnd.nextDouble() * 100).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString)
      (id +: cells).toList
    }
    val df = rows.map {
      case head :: tail => (head, tail)
      case Nil => sys.error("unreachable")
    }.toDF("skn", "cells")
    dates.zipWithIndex.foldLeft(df) { case (acc, (dt, i)) =>
      acc.withColumn(dt, col("cells").getItem(i))
    }.drop("cells")
  }

  /** Random text drawn from an alphabet chosen to collide with every
    * branch of the round-10 byte-scan kernels: ASCII letters/digits,
    * the counted punctuation, regex metachars as DATA, word-extending
    * '_', stopwords from several languages (incl. the fr/es-shared
    * "la"), 2/3/4-byte UTF-8 (é, CJK in and out of the zh range, emoji),
    * and the exotic lowercase mappings (U+212A→'k', U+0130→2 code
    * points). */
  private def randomText(maxLen: Int): String = {
    val atoms = Seq(
      "the", "and", "der", "die", "le", "la", "les", "el", "los", "es",
      "a", "Z", "9", "_", " ", "  ", ".", ",", ";", ":", "!", "?",
      "$1", "\\", "(", ")", "[", "]", "é", "中", "卡", "😀", "K",
      "İ", "\t", "\n", "x@y.zz", "123-456-7890", "<b>", "&amp;")
    val n = rnd.nextInt(maxLen)
    (1 to n).map(_ => atoms(rnd.nextInt(atoms.length))).mkString
  }

  test("property: gopherSignals kernel == regex formulation on random gopher-trigger text") {
    import graft.functions.{TextFunctions, TextOracles}
    // the gopher-specific triggers on top of the usual unicode traps:
    // '#'/ellipsis symbol runs, dot runs that overlap the ellipsis
    // automaton, bullets with indentation, line shapes, stop words with
    // word-char-extended neighbors ("the_"), and lowercase-mapping exotica
    val atoms = Seq(
      "the", "be", "to", "of", "and", "that", "have", "with", "the_",
      "a", "Z", "9", "_", " ", "  ", "\t", "\n", "\n\n", "\r", "\f",
      ".", "...", "....", ".....", "…", "#", "##", "-", "*", "•",
      "- item", "* x", "• z", "  - ", "\n- a", "...\n", "… \n", "e...",
      "é", "中", "😀", "K", "İ", "the中")
    def gtext(maxLen: Int): String =
      (1 to rnd.nextInt(maxLen)).map(_ => atoms(rnd.nextInt(atoms.length))).mkString
    val docs = ((1 to 400).map(i => (i.toLong, gtext(40))) :+
      (9999L -> null.asInstanceOf[String])).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val gK = canon(docs.select(col("doc_id") +:
      TextFunctions.gopherColumns(col("text")).map { case (n, c) => c.as(n) }: _*))
    val gR = canon(docs.select(col("doc_id") +:
      TextOracles.gopherColumnsRegex(col("text")).map { case (n, c) => c.as(n) }: _*))
    assert(gK == gR, "gopherSignals diverges on random text")
    // C4 line cleaner vs its higher-order pin on the same line-shaped fuzz
    // plus its own triggers (terminal marks, word-count edges, javascript
    // in mixed case, lorem/brace page flags, CRLF tails)
    val c4atoms = atoms ++ Seq("?", "\"", "”", "one two three four five.",
      "JavaScript", "javascript", "lorem ipsum", "{", "\r\n", " .", ".\r",
      "a b c d e f.", "w x y")
    def ctext(maxLen: Int): String =
      (1 to rnd.nextInt(maxLen)).map(_ => c4atoms(rnd.nextInt(c4atoms.length))).mkString
    val cdocs = ((1 to 400).map(i => (i.toLong, ctext(40))) :+
      (9999L -> null.asInstanceOf[String])).toDF("doc_id", "text")
    val cK = canon(cdocs.select(col("doc_id") +:
      TextFunctions.c4Columns(col("text")).map { case (n, c) => c.as(n) }: _*))
    val cH = canon(cdocs.select(col("doc_id") +:
      TextOracles.c4ColumnsHof(col("text")).map { case (n, c) => c.as(n) }: _*))
    assert(cK == cH, "c4LineClean diverges on random text")
  }

  test("property: round-10 kernels == regex formulations on random unicode text") {
    import graft.functions.{TextFunctions, TextOracles}
    val docs = (1 to 400).map(i => (i.toLong, randomText(40)))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val qK = canon(docs.select(col("doc_id") +:
      TextFunctions.qualityColumns(col("text")).map { case (n, c) => c.as(n) }: _*))
    val qR = canon(docs.select(col("doc_id") +:
      TextOracles.qualityColumnsRegex(col("text")).map { case (n, c) => c.as(n) }: _*))
    assert(qK == qR, "qualitySignals diverges on random text")
    val lK = canon(docs.select(col("doc_id"), TextFunctions.langId(col("text"))))
    val lR = canon(docs.select(col("doc_id"), TextOracles.langIdRegex(col("text"))))
    assert(lK == lR, "langIdDecide diverges on random text")
    val cK = canon(docs.select(col("doc_id"),
      TextFunctions.stripMarkup(col("text")), TextFunctions.redactPii(col("text"))))
    val cR = canon(docs.select(col("doc_id"),
      TextOracles.stripMarkupFolded(col("text")), TextOracles.redactPiiFolded(col("text"))))
    assert(cK == cR, "chainedRegexReplace diverges on random text")
  }

  test("property: round-9 text kernels == column formulations on random unicode text") {
    import graft.functions.TextFunctions
    import graft.plans.TextExpressions
    // the same adversarial-alphabet fuzz, aimed at the round-9 kernels:
    // shingle hashing (space tokens), alnum-run token counting, SimHash
    val docs = (1 to 300).map(i => (i.toLong, randomText(30)))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    for (dedup <- Seq(true, false)) {
      val n = canon(docs.select(col("doc_id"),
        explode(TextExpressions.shingleHashes(col("text"), 3, dedup)).as("h")))
      val sh = TextFunctions.shingles(col("text"), 3)
      val c = canon(docs.select(col("doc_id"),
          explode(if (dedup) array_distinct(sh) else sh).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h")))
      assert(n == c, s"shingleHashes diverges on random text (dedup=$dedup)")
    }
    val tcN = canon(docs.select(col("doc_id"),
      explode(TextExpressions.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term"), col("tc.tf")))
    val tcC = canon(docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    assert(tcN == tcC, "tokenCounts diverges on random text")
  }

  test("property: pivot(unpivot(wide)) == wide for random matrices") {
    for (_ <- 1 to 3) {
      val wide = randomWide(n = 20, d = 8)
      val dates = wide.columns.filterNot(_ == "skn").toSeq
      val long = Reshape.unpivot(wide) // keeps NA cells as strings
      val back = long.groupBy(col("station_id").as("skn"))
        .pivot(col("date"), dates)
        .agg(first(col("value")))
      val orig = wide.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val rt = back.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(rt == orig)
    }
  }

  test("property: merge stats conserve and merge is idempotent on random increments") {
    val keys = Seq("datatype", "period", "date", "fill", "station_id")
    for (_ <- 1 to 3) {
      val inc = (1 to 60).map { _ =>
        ("t", "day", f"2022-01-${rnd.nextInt(5) + 1}%02d", "raw",
          s"st${rnd.nextInt(20)}", rnd.nextInt(50).toDouble)
      }.toDF("datatype", "period", "date", "fill", "station_id", "value")
      val deduped = KeyedStore.dedupIncrement(inc, keys)
      val existing = deduped.limit(10)
        .withColumn("value", col("value") + (rnd.nextInt(2) * 100))
        .withColumn("uuid", concat(lit("u"), col("station_id"), col("date")))
      val st = KeyedStore.stats(KeyedStore.classify(deduped, existing, keys))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // conservation: actions partition the (deduped) increment
      assert(st.values.sum == deduped.count())
      val m1 = KeyedStore.merge(inc, existing, keys)
      // post-merge table: every increment key present exactly once, plus
      // untouched existing keys
      assert(KeyedStore.uniquenessViolations(m1, keys).isEmpty)
      val m2 = KeyedStore.merge(inc, m1, keys)
      assert(m1.exceptAll(m2).isEmpty && m2.exceptAll(m1).isEmpty)
      // second-run classification is all-unchanged
      val st2 = KeyedStore.stats(KeyedStore.classify(deduped, m1, keys))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(st2.keySet == Set("unchanged"))
    }
  }

  test("property: dedupSubstrings equals a brute-force reference on random corpora") {
    // driver-side reference: enumerate every n-window string, elect the
    // min-(doc, pos) keeper per duplicated window, mark covered tokens,
    // rebuild — the operator's whole pipeline in ~15 transparent lines
    def reference(docs: Seq[(Long, Array[String])], n: Int): Map[Long, String] = {
      val wins = for {
        (id, t) <- docs
        i <- 0 to t.length - n
      } yield (id, i, t.slice(i, i + n).mkString(" "))
      val cut = wins.groupBy(_._3).valuesIterator
        .filter(_.size > 1)
        .flatMap(_.sortBy(o => (o._1, o._2)).tail)
        .map(o => (o._1, o._2)).toSet
      docs.map { case (id, t) =>
        val covered = Array.fill(t.length)(false)
        for ((d, s) <- cut if d == id; j <- s until math.min(s + n, t.length))
          covered(j) = true
        id -> t.zipWithIndex.collect { case (tok, j) if !covered(j) => tok }
          .mkString(" ")
      }.toMap
    }
    val vocab = Array("aa", "bb", "cc", "dd", "ee")
    for (round <- 1 to 3) {
      val n = 3 + round % 2
      // small vocab => dense accidental duplication, incl. within-doc
      // repeats; lengths 0..39 cover empty and sub-n docs
      val docs = (0L until 12L).map { i =>
        i -> Array.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length)))
      }
      val df = docs.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text")
      val want = reference(docs, n)
      for (bridge <- Seq(false, true)) {
        val got = graft.operators.Dedup.dedupSubstrings(df, n, md5Bridge = bridge)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == want, s"round $round n=$n bridge=$bridge: " +
          s"diff=${got.toSet.diff(want.toSet).take(2)} / ${want.toSet.diff(got.toSet).take(2)}")
      }
    }
  }

  test("property: verbatimSpans equals a brute-force reference on random corpora") {
    // driver-side reference: all maximal >= w runs of shared tokens per
    // pair, by direct diagonal walk over the token arrays
    def reference(docs: Seq[(Long, Array[String])], w: Int): Set[(Long, Long, Long, Long, Long)] = {
      val out = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Long)]
      for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        diag <- -(tb.length - 1) to (ta.length - 1)
      } {
        // walk the diagonal: positions pa = pb + diag
        var run = 0
        var pa = math.max(0, diag)
        val end = math.min(ta.length, tb.length + diag)
        var runStart = pa
        def flush(): Unit = if (run >= w) {
          out += ((ia, ib, runStart + 1L, runStart + 1L - diag, run.toLong))
        }
        while (pa < end) {
          if (ta(pa) == tb(pa - diag)) { if (run == 0) runStart = pa; run += 1 }
          else { flush(); run = 0 }
          pa += 1
        }
        flush()
      }
      out.toSet
    }
    val vocab = Array("aa", "bb", "cc", "dd", "ee")
    for (round <- 1 to 3) {
      val w = 3 + round % 2 // windows 4, 3, 4
      // small vocab => plenty of accidental shared runs, in and out of range
      val docs = (0L until 12L).map { i =>
        i -> Array.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length)))
      }
      val df = docs.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text")
      val got = graft.operators.Dedup.verbatimSpans(df, window = w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("a_start"),
          r.getAs[Long]("b_start"), r.getAs[Long]("n_tokens"))).toSet
      val want = reference(docs, w)
      assert(got == want,
        s"round $round w=$w: extra=${got.diff(want).take(3)} missing=${want.diff(got).take(3)}")
    }
  }
}
