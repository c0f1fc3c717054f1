package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, TextOracles}
import graft.operators.Corpus
import graft.plans.TextExpressions

/**
 * Pins the native text kernels ([[graft.plans.WordShingleHashes]],
 * [[graft.plans.TokenCountPairs]], [[graft.plans.TfidfTopTerms]]) to the
 * column-function formulations they replace — every pin runs over the
 * sf0.001 documents fixture (real multi-line text) plus adversarial
 * literals (unicode, punctuation, empty, single-token).
 */
class TextExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def fixture: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def edgeDocs: DataFrame = Seq(
    (9001L, "one"),
    (9002L, ""),
    (9003L, "  leading and   multiple   spaces "),
    (9004L, "Ünïcode tokens blend ascii and ünïcode tokens"),
    (9005L, "punct,separated;tokens!and123digits456mixed"),
    (9006L, "repeat repeat repeat repeat"),
    (9007L, "ONE"))
    .toDF("doc_id", "text")

  private def both: DataFrame = fixture.unionByName(edgeDocs)

  test("qualitySignals kernel == five-regex qualityColumns formulation") {
    // Unicode-adversarial additions: U+212A (KELVIN SIGN) lowercases to
    // ASCII 'k' (a token under lower-then-scan, never under scan-then-
    // lower); U+0130 lowercases to TWO code points; CJK and emoji are
    // multi-byte non-members whose continuation bytes must not miscount.
    val uni = Seq(
      (9101L, "Kelvin temperature"),
      (9102L, "İstanbul city"),
      (9103L, "中文 text with 数字 123 and spaces"),
      (9104L, "emoji 😀 inside; punct: yes!"),
      (9105L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docs = both.unionByName(uni)
    val kernel = docs.select(col("doc_id") +:
      TextFunctions.qualityColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
    val regex = docs.select(col("doc_id") +:
      TextOracles.qualityColumnsRegex(col("text")).map { case (n, c) => c.as(n) }: _*)
    assert(kernel.exceptAll(regex).isEmpty && regex.exceptAll(kernel).isEmpty,
      "quality signals mismatch vs regex formulation")
    // standalone tokenCount rides the same kernel field
    val tcK = docs.select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n"))
    val tcR = docs.select(col("doc_id"), size(TextFunctions.tokens(col("text"))).cast("long").as("n"))
    assert(tcK.exceptAll(tcR).isEmpty && tcR.exceptAll(tcK).isEmpty,
      "tokenCount mismatch vs size(tokens)")
  }

  test("gopherSignals kernel == fifteen-regex gopherColumns formulation") {
    val adv = Seq(
      (9301L, "- bullet at start\n  - indented\n\t* tab star\n• unicode bullet"),
      (9302L, "trailing dots...\nmore dots...  \nunicode trail…\t\nno trail ."),
      (9303L, "......\n"),            // overlapping dot runs: ONE symbol+line match each
      (9304L, "#tag ## and #"),       // hash run: non-overlapping counts
      (9305L, "the中文 with that boundary"), // RE2-vs-Java \b divergence case
      (9306L, "\n\n- after blanks"),
      (9307L, "ends with ellipsis…"),
      (9308L, "the_ and2 of3 have"),  // word-char-extended stop words
      (9309L, ""),
      (9310L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docs = both.unionByName(adv)
    val kernel = docs.select(col("doc_id") +:
      TextFunctions.gopherColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
    val regex = docs.select(col("doc_id") +:
      TextOracles.gopherColumnsRegex(col("text")).map { case (n, c) => c.as(n) }: _*)
    assert(kernel.exceptAll(regex).isEmpty && regex.exceptAll(kernel).isEmpty,
      "gopher signals mismatch vs regex formulation")
    // spot-check the designed cases against hand counts
    val m = kernel.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(9301L).getAs[Double]("bullet_ratio") == 1.0)
    assert(m(9302L).getAs[Double]("ellipsis_ratio") == 0.75)
    assert(m(9304L).getAs[Long]("n_words") == 4)
    assert(m(9308L).getAs[Long]("stop_hits") == 1) // only bare "have" hits
    // the one-expression GopherKeep verdict is row-identical to the
    // assembled keep (including null text → null → both drop the row);
    // doc 9320 is crafted to PASS every rule so the agreement isn't
    // vacuous all-false (the synthetic corpus keeps nothing: no doc has
    // ≥ 2 distinct stop words)
    val keeper = (("the quick brown fox jumps over the lazy dog and " +
      "rests with a friend that came to visit of late ") * 3).trim
    val docsK = docs.unionByName(Seq((9320L, keeper)).toDF("doc_id", "text"))
    val viaKernel = docsK
      .filter(TextFunctions.gopherKeep(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaColumns = docsK
      .filter(TextFunctions.gopherColumns(col("text")).toMap.apply("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaKernel == viaColumns, "GopherKeep verdict diverges from assembled keep")
    assert(viaKernel.contains(9320L), "crafted keeper must pass the gate")
    // and over real corpus text the two formulations still agree
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ck = corpus.filter(TextFunctions.gopherKeep(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val cc = corpus.filter(TextFunctions.gopherColumns(col("text")).toMap.apply("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ck == cc)
  }

  test("c4LineClean kernel == higher-order filter formulation") {
    val adv = Seq(
      (9401L, "This line has five words total.\nshort line.\ntoo few words\n" +
        "Another proper sentence with enough words here!\nAnd a third keeper sentence right here?"),
      (9402L, "Embedded javascript should drop this whole line now.\n" +
        "A clean line with plenty of words stays.  \nJAVASCRIPT in caps also drops the line here."),
      (9403L, "lorem ipsum dolor sit amet consectetur adipiscing elit.\n" +
        "Second valid sentence with the required word count.\n" +
        "Third valid sentence with the required word count too."),
      (9404L, "A brace { disqualifies the page despite clean lines one.\n" +
        "A second sentence with enough words to keep going.\n" +
        "A third sentence with enough words to keep going."),
      (9405L, "Unicode terminal quote line with six words here”\nNo terminal punctuation here at all"),
      (9406L, "trailing blanks after punct still keep this line .   \r\n" +
        "CRLF line endings must not break the terminal check.\r\nthird one keeps the page verdict alive.\r"),
      (9407L, ""),
      (9408L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docs = both.unionByName(adv)
    val kernel = docs.select(col("doc_id") +:
      TextFunctions.c4Columns(col("text")).map { case (n, c) => c.as(n) }: _*)
    val hof = docs.select(col("doc_id") +:
      TextOracles.c4ColumnsHof(col("text")).map { case (n, c) => c.as(n) }: _*)
    assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty,
      "c4 clean mismatch vs higher-order formulation")
    val m = kernel.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(9401L).getAs[Long]("n_lines_kept") == 3 && m(9401L).getAs[Boolean]("keep"))
    assert(m(9402L).getAs[Long]("n_lines_kept") == 1 &&
      m(9402L).getAs[String]("clean_text").startsWith("A clean line"))
    assert(!m(9403L).getAs[Boolean]("keep"), "lorem ipsum page must drop")
    assert(!m(9404L).getAs[Boolean]("keep"), "brace page must drop")
    assert(m(9405L).getAs[Long]("n_lines_kept") == 1)
    assert(m(9406L).getAs[Long]("n_lines_kept") == 3 && m(9406L).getAs[Boolean]("keep"))
    assert(m(9407L).getAs[Long]("n_lines_kept") == 0 && !m(9407L).getAs[Boolean]("keep"))
    assert(m(9408L).isNullAt(m(9408L).fieldIndex("keep")))
  }

  test("langIdDecide kernel == regex + fold langId formulation") {
    val adv = Seq(
      (9201L, "the and of to in is that for"),          // clean en
      (9202L, "der die das und ist nicht"),              // clean de
      (9203L, "la la la"),                               // fr/es shared word: tie, first-listed wins
      (9204L, "le la les et la es una"),                 // fr vs es mix
      (9205L, "中文"),                                    // CJK short-circuit
      (9206L, "the 中文 der die das"),                    // CJK wins over stopwords
      (9207L, ""),                                       // empty -> und
      (9208L, "no stopwords here xyz qqq"),              // NONE of the lists -> und... ('no'? not listed)
      (9209L, "the_ and2 of3"),                          // runs extended by word chars: no \b match
      (9210L, "THE AND OF TO"),                          // uppercase folds in
      (9211L, "the,and.of;to"),                          // punct boundaries
      (9212L, "éthe theé the"),                          // non-ASCII adjacency: only bare 'the' matches
      (9213L, "one that 卡 two"),                         // U+5361 in CJK range
      (9214L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docs = both.unionByName(adv)
    val kernel = docs.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
    val regex = docs.select(col("doc_id"), TextOracles.langIdRegex(col("text")).as("l"))
    assert(kernel.exceptAll(regex).isEmpty && regex.exceptAll(kernel).isEmpty,
      "langid mismatch vs regex formulation")
  }

  test("chainedRegexReplace == folded regexp_replace chains (markup/pii/normalize)") {
    // the chain kernel shares the java.util.regex engine and pass order
    // with the folded form; pin on the real fixtures each query reads
    // plus documents text and edge literals
    val markup = spark.read.parquet(Fixtures.MarkupParquet)
      .select(col("text"))
    val pii = spark.read.parquet(Fixtures.PiiParquet).select(col("text"))
    val messy = spark.read.parquet(Fixtures.MessyParquet).select(col("text"))
    val edges = Seq("", "<p>a</p>", "a&amp;b $1 \\ref", "x@y.zz 123-456-7890",
      "line1\r\nline2\r\r\n\n\n\nend", null.asInstanceOf[String]).toDF("text")
    val docs = both.select(col("text"))
      .unionByName(markup).unionByName(pii).unionByName(messy).unionByName(edges)
    def pin(label: String, kernel: Column, folded: Column): Unit = {
      val k = docs.select(kernel.as("t"))
      val f = docs.select(folded.as("t"))
      assert(k.exceptAll(f).isEmpty && f.exceptAll(k).isEmpty, s"$label mismatch")
    }
    pin("stripMarkup", TextFunctions.stripMarkup(col("text")),
      TextOracles.stripMarkupFolded(col("text")))
    pin("redactPii", TextFunctions.redactPii(col("text")),
      TextOracles.redactPiiFolded(col("text")))
    pin("normalizeText", TextFunctions.normalizeText(col("text")),
      TextOracles.normalizeTextFolded(col("text")))
  }

  test("round-10 kernels agree with whole-stage codegen disabled") {
    // forces the interpreted nullSafeEval path of QualitySignals /
    // LangIdDecide / ChainedRegexReplace, which the codegen'd runs above
    // never touch — a divergence between doGenCode and eval would
    // otherwise only surface when Spark falls back at runtime
    def snapshot(): Seq[String] = both
      .select(col("doc_id") +:
        (TextFunctions.qualityColumns(col("text")).map { case (n, c) => c.as(n) } ++
          TextFunctions.gopherColumns(col("text")).map { case (n, c) => c.as(s"g_$n") } ++
          Seq(TextFunctions.langId(col("text")).as("lang"),
            TextFunctions.stripMarkup(col("text")).as("sm"),
            TextFunctions.redactPii(col("text")).as("rp"))): _*)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val withCodegen = snapshot()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(snapshot() == withCodegen, "interpreted path diverges from codegen")
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("shingleHashes == xxhash64(shingle string) for n=3, dedup and raw") {
    for (dedup <- Seq(true, false)) {
      val native = both.select(col("doc_id"),
        explode(TextExpressions.shingleHashes(col("text"), 3, dedup)).as("h"))
      val sh = TextFunctions.shingles(col("text"), 3)
      val column = both.select(col("doc_id"),
          explode(if (dedup) array_distinct(sh) else sh).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
      assert(native.exceptAll(column).isEmpty && column.exceptAll(native).isEmpty,
        s"shingle hash mismatch (dedup=$dedup)")
    }
  }

  test("tokenGramHashes == xxhash64 over regexp-token n-grams; short docs empty") {
    // n=1: plain tokens
    val n1 = both.select(col("doc_id"),
      explode(TextExpressions.tokenGramHashes(col("text"), 1)).as("h"))
    val c1 = both.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    assert(n1.exceptAll(c1).isEmpty && c1.exceptAll(n1).isEmpty)
    // n=2: space-joined bigrams of the alnum tokens
    val n2 = both.select(col("doc_id"),
      explode(TextExpressions.tokenGramHashes(col("text"), 2)).as("h"))
    val toks = TextFunctions.tokens(col("text"))
    val ng = greatest(size(toks) - 1, lit(0))
    val c2 = both.select(col("doc_id"), explode(zip_with(
        slice(toks, lit(1), ng), slice(toks, lit(2), ng),
        (a, b) => concat_ws(" ", a, b))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    assert(n2.exceptAll(c2).isEmpty && c2.exceptAll(n2).isEmpty)
    // a 1-token doc has no bigrams
    val one = Seq((1L, "solo")).toDF("doc_id", "text")
    assert(one.select(explode(TextExpressions.tokenGramHashes(col("text"), 2)))
      .count() == 0)
  }

  test("tokenCounts == explode(tokens) groupBy counts") {
    val native = both.select(col("doc_id"),
        explode(TextExpressions.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val column = both.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    assert(native.exceptAll(column).isEmpty && column.exceptAll(native).isEmpty)
    // empty / no-alnum text explodes to nothing
    val none = Seq((1L, ""), (2L, "!!! ---")).toDF("doc_id", "text")
    assert(none.select(explode(TextExpressions.tokenCounts(col("text"))))
      .count() == 0)
  }

  test("tfidfTop (row-local kernel) == window-form tfidfTopFromTf") {
    val docs = both
    val kernel = Corpus.tfidfTop(docs, k = 3)
    val window = Corpus.tfidfTopFromTf(Corpus.termFrequencies(docs),
      docs.agg(count(lit(1)).as("n_docs")), k = 3)
    assert(kernel.exceptAll(window).isEmpty && window.exceptAll(kernel).isEmpty,
      "row-local tf-idf diverges from the window formulation")
    // rnk dense within each doc, bounded by k
    val byDoc = kernel.groupBy(col("doc_id"))
      .agg(collect_list(col("rnk")).as("rs"), max(col("rnk")).as("mx"))
    assert(byDoc.filter(col("mx") > 3).count() == 0)
    assert(byDoc.filter(size(col("rs")) =!= col("mx")).count() == 0)
  }

  test("LM/tf-idf kernels reject wrong-typed inputs at analysis time") {
    // without checkInputDataTypes these analyzed fine and threw
    // ClassCastException per row deep in the kernel at execution time
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
      .withColumn("tc", TextExpressions.tokenCounts(col("text")))
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(TextExpressions.tfidfTopTerms(
        col("tc"), map(lit("a"), lit(1L)), lit(100), k = 3)).collect() // int nDocs
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(TextExpressions.hashLogProbAvg(
        array(lit(1L)), map(lit(1L), lit(1)), lit(10L))).collect() // int map values
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(TextExpressions.hashBigramLogProbAvg(
        array(lit(1)), array(lit(1L)), map(lit(1L), lit(1L)),
        map(lit(1L), lit(1L)))).collect() // int w1s array
    }
  }

  test("winnowFingerprints kernel == windowed rightmost-min formulation") {
    import org.apache.spark.sql.expressions.Window
    for ((k, g) <- Seq((5, 4), (3, 1), (2, 6))) {
      val kernel = graft.operators.Dedup.winnowFingerprints(both, k, g)
      // the replaced shape: posexplode + lead window for the grams, a
      // frame aggregate for the rightmost min, global distinct
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val leads = (0 until k).map { j =>
        if (j == 0) col("__t") else lead(col("__t"), j).over(byPos)
      }
      val hashed = both
        .select(col("doc_id"), posexplode(TextFunctions.wsTokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("__t"))
        .withColumn("__h", TextOracles.strHash32(concat_ws(" ", leads: _*)))
        .withColumn("__tail", leads.last)
        .filter(col("__tail").isNotNull)
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("__h"))
      val windowed =
        if (g == 1) hashed.select(col("doc_id"), col("pos"), col("__h").as("fp"))
        else {
          val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
            .rowsBetween(0, g - 1)
          hashed
            .withColumn("__m",
              min(struct(col("__h").as("h"), (-col("pos")).as("np"))).over(frame))
            .withColumn("__n", count(lit(1)).over(frame))
            .filter(col("__n") === g)
            .select(col("doc_id"), (-col("__m.np")).as("pos"), col("__m.h").as("fp"))
            .distinct()
        }
      assert(kernel.exceptAll(windowed).isEmpty &&
        windowed.exceptAll(kernel).isEmpty,
        s"winnow kernel diverges from the windowed formulation at k=$k g=$g")
    }
  }

  test("simhash64 kernel == explode/groupBy conditional-sum formulation") {
    val kernel = graft.operators.Dedup.simhash(both)
    val tokenHashes = both
      .select(col("doc_id"), explode(TextFunctions.wsTokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v_$b")
    }
    val sig = (0 until 64).map { b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val agg = tokenHashes.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
    assert(kernel.exceptAll(agg).isEmpty && agg.exceptAll(kernel).isEmpty,
      "simhash kernel diverges from the aggregation formulation")
  }

  test("unigramLogProb broadcast-model form == join form") {
    val bcast = Corpus.unigramLogProb(both)
    val join = Corpus.unigramLogProb(both, broadcastModel = false)
    assert(bcast.exceptAll(join).isEmpty && join.exceptAll(bcast).isEmpty,
      "broadcast-model unigram score diverges from the join formulation")
    // token-less docs (empty text) emit nothing in either form
    assert(bcast.filter(col("doc_id") === 9002L).count() == 0)
  }

  test("bigramLogProb broadcast-model form == join form") {
    val bcast = Corpus.bigramLogProb(both)
    val join = Corpus.bigramLogProb(both, broadcastModel = false)
    assert(bcast.exceptAll(join).isEmpty && join.exceptAll(bcast).isEmpty,
      "broadcast-model bigram score diverges from the join formulation")
    // docs under 2 tokens emit nothing in either form
    assert(bcast.filter(col("doc_id").isin(9001L, 9002L, 9007L)).count() == 0)
  }

  test("tokenEntropy (row-local) == grouped two-sum formulation") {
    val grouped = both.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.Quantize.quantize(log(sum(col("tf"))) -
        sum(col("tf") * log(col("tf"))) / sum(col("tf")), 6).as("entropy"))
    val rowLocal = Corpus.tokenEntropy(both)
    assert(rowLocal.exceptAll(grouped).isEmpty && grouped.exceptAll(rowLocal).isEmpty)
  }

  test("windowMd5s equals md5 over shingle strings — fixture + unicode + empty tokens") {
    val adversarial = Seq(
      (1000L, "短 文 本 with 漢字 characters repeated 短 文 本"),
      (1001L, "one two"), // under n -> kernel empty, HOF side filtered out
      (1002L, "a  b   c d e"), // empty tokens count (single-space contract)
      (1003L, "MiXeD Case TOKENS here")).toDF("doc_id", "text")
    val docs = fixture.unionByName(adversarial)
    val n = 3
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val kernel = rows(docs.select(col("doc_id"),
        posexplode(TextExpressions.windowMd5s(col("text"), n)))
      .select(col("doc_id"), col("pos"), col("col")))
    val hof = rows(docs
      .filter(size(split(lower(col("text")), " ")) >= n)
      .select(col("doc_id"), posexplode(TextFunctions.shingles(col("text"), n)))
      .select(col("doc_id"), col("pos"), md5(col("col").cast("binary"))))
    assert(kernel == hof && kernel.nonEmpty)
    // null text -> null array (posexplode drops the doc)
    val nulls = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(posexplode(TextExpressions.windowMd5s(col("text"), n)))
    assert(nulls.count() == 0)
  }
}
