package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** C19 unit checks on constructed strings (the oracle verifies real data;
  * these pin the semantics on adversarial inputs). */
class TextAnalysisSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("token counting handles leading/trailing/multiple whitespace") {
    val df = docs((1L, "  a  b \t c  "), (2L, "single"))
    df.createOrReplaceTempView("documents_tmp")
    val counts = df.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts(1L) === 3)
    assert(counts(2L) === 1)
  }

  test("BPE-ish pre-tokenization splits punctuation and digit runs") {
    val df = docs((1L, "don't stop, 42 times!"))
    val n = df.select(size(regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n"))
      .first().getInt(0)
    // don ' t stop , 42 times ! -> 8 pieces
    assert(n === 8)
  }

  test("fingerprint is insensitive to case, punctuation and spacing") {
    val df = docs(
      (1L, "Hello,   World!"), (2L, "hello world"), (3L, "different text"))
    val fps = df.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("fused char-minhash equals split+minhash composition (incl. multibyte/short/empty)") {
    import graft.functions.HashExprs
    // adversarial constructed strings: empty, 1 char, < n chars, multibyte
    // CJK (3-byte UTF-8), mixed-width, exactly n chars
    val tricky = docs(
      (1L, ""), (2L, "x"), (3L, "short"), (4L, "exactly8"),
      (5L, "好久不见这是中文文本"), (6L, "mixed 中文 and ascii text"))
    val real = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    for (df <- Seq(tricky.select(col("doc_id"), col("text")), real)) {
      val norm = regexp_replace(lower(col("text")), "\\s+", " ")
      val diff = df.select(
        HashExprs.charMinhashSig(norm, 8, 16).as("fused"),
        HashExprs.minhashSig(split(norm, ""), 8, 16).as("composed"))
        .where(not(col("fused") === col("composed")))
        .count()
      assert(diff === 0L)
    }
  }

  test("language markers score the expected language highest") {
    val en = "the cat and the dog of the house is to be seen"
    val de = "der hund und die katze das ist nicht gut und der tag"
    val scored = Seq((1L, en), (2L, de))
    val df = docs(scored: _*)
    val sEn = size(regexp_extract_all(lower(col("text")), lit("\\b(the|and|of|is|was|to)\\b"), lit(0)))
    val sDe = size(regexp_extract_all(lower(col("text")), lit("\\b(der|die|das|und|ist|nicht)\\b"), lit(0)))
    val rows = df.select(col("doc_id"), sEn.as("en"), sDe.as("de"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(rows(1L)._1 > rows(1L)._2)
    assert(rows(2L)._2 > rows(2L)._1)
  }

  test("corpus typicality ranks boilerplate above rare-token documents") {
    // 4 docs of common boilerplate, 1 doc of corpus-unique tokens: the
    // rare doc's every token has frequency 1, so it must score lowest;
    // the boilerplate docs' tokens each occur 4x.
    val df = docs(
      (1L, "click accept to continue"),
      (2L, "click accept to continue"),
      (3L, "click accept to continue"),
      (4L, "click accept to continue"),
      (5L, "xylophone quasar bumblebee"))
    val out = TextAnalysis.typicality(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(5L) === 1.0)
    assert(out(1L) === 4.0)
    assert(Seq(1L, 2L, 3L, 4L).forall(i => out(i) > out(5L)))
  }

  test("gopher gate passes clean prose and fails each rule independently") {
    val clean = (1 to 20).map(i => s"word$i").mkString(" ")   // 20 words, mwl 5–6
    val tooShort = "only three words"                          // < 10 words
    val symbols = (1 to 20).map(_ => "ok").mkString(" ") + " # # # ... … #" // symbol-heavy
    val numeric = (1 to 20).map(_.toString).mkString(" ")      // no alpha words
    val longWords = (1 to 12).map(_ => "a" * 20).mkString(" ") // mwl 20 > 12
    val df = docs((1L, clean), (2L, tooShort), (3L, symbols), (4L, numeric), (5L, longWords))
    val out = TextAnalysis.gopherMetrics(df).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out === Map(1L -> true, 2L -> false, 3L -> false, 4L -> false, 5L -> false))
  }

  test("tf-idf top terms match hand-computed smoothed-idf scores") {
    val df = docs(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry"))
    val out = TextAnalysis.tfidfTop(df, topK = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3), r.getDouble(4))).toMap
    // N=3; df: apple 1, banana 2, cherry 2
    // idf(apple) = ln(4/2)+1 = 1.693147…; idf(banana|cherry) = ln(4/3)+1 = 1.287682…
    assert(out((1L, 1))._1 === "apple")
    assert(math.abs(out((1L, 1))._3 - 3.386294) < 1e-6)   // 2 × idf(apple)
    assert(out((1L, 2)) === (("banana", 1, 1.287682)))
    assert(out((2L, 1))._1 === "banana")                   // tie with cherry → term asc
    assert(out((2L, 2))._1 === "cherry")
    assert(math.abs(out((3L, 1))._3 - 3.863046) < 1e-6)   // 3 × idf(cherry)
  }

  test("naive bayes classifier recovers the labels of a cleanly separable corpus") {
    import spark.implicits._
    val df = Seq(
      (1L, "le chat noir", "fr"), (2L, "le chien blanc", "fr"),
      (3L, "the black cat", "en"), (4L, "the white dog", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.nbClassify(df).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(3), r.getBoolean(4))).toMap
    assert(out.size === 4)
    // every doc's own tokens dominate its class likelihood → resubstitution
    // is perfect on a disjoint-vocabulary corpus
    assert(out(1L) === (("fr", "fr", true)))
    assert(out(2L) === (("fr", "fr", true)))
    assert(out(3L) === (("en", "en", true)))
    assert(out(4L) === (("en", "en", true)))
  }

  test("dsir weights match hand-computed smoothed log-ratios and rank target-like docs higher") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a b", "en"),   // the target distribution
      (2L, "b c", "fr"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.dsirWeight(df, targetLang = "en").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    // target counts: a=2 b=1 (nt=3); raw: a=2 b=2 c=1 (ns=5); V=3
    // p_t = (c+1)/(nt+V): a=1/2 b=1/3 c=1/6 ; p_s = (c+1)/(ns+V): a=3/8 b=3/8 c=1/4
    // logw(1) = 2·ln(4/3) + ln(8/9)  = 0.457581
    // logw(2) = ln(8/9) + ln(2/3)    = -0.523248
    assert(out(1L)._1 === 3 && out(2L)._1 === 2)
    assert(math.abs(out(1L)._2 - 0.457581) < 1e-6)
    assert(math.abs(out(2L)._2 - (-0.523248)) < 1e-6)
    assert(math.abs(out(1L)._3 - 0.152527) < 1e-6)
    assert(out(1L)._2 > out(2L)._2)   // target-like doc weighs higher
  }

  test("bigram perplexity ranks word order: repeated fluent text beats shuffled text") {
    // corpus: many fluent copies establish the bigram statistics; one doc
    // uses the same vocabulary in scrambled order → unseen bigrams → lower
    // likelihood → higher perplexity. Unigram scores cannot separate these.
    val fluent = "the quick brown fox jumps over the lazy dog"
    val shuffled = "dog the over quick lazy fox brown jumps the"
    val df = docs(
      (1L to 8L).map(i => (i, fluent)) :+ (9L, shuffled): _*)
    val out = TextAnalysis.bigramPerplexity(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(9L) > out(1L)) // scrambled order is more perplexing
    assert(out(1L) === out(8L)) // identical docs score identically
  }

  test("bigram perplexity: sub-2-token docs are absent; model counts include them nowhere") {
    val df = docs((1L, "a b a b"), (2L, "solo"), (3L, ""))
    val out = TextAnalysis.bigramPerplexity(df).collect().map(_.getLong(0)).toSet
    assert(out === Set(1L))
  }

  test("unigram entropy: uniform two-term doc = 1 bit, single-term doc = 0") {
    val df = docs(
      (1L, "a a b b"),     // uniform over 2 terms → exactly ln 2 nats = 1 bit
      (2L, "a a a a"),     // degenerate → 0
      (3L, "a b c d"))     // uniform over 4 → 2 bits
    val out = TextAnalysis.unigramEntropy(df).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L)._1 === 4 && out(1L)._2 === 2)
    assert(math.abs(out(1L)._3 - 0.693147) < 1e-6 && math.abs(out(1L)._4 - 1.0) < 1e-6)
    assert(out(2L)._3 === 0.0 && out(2L)._4 === 0.0)
    assert(math.abs(out(3L)._4 - 2.0) < 1e-6)
  }

  test("zipf slope over the corpus: negative, in the natural-language band, deterministic") {
    val a = TextAnalysis.zipfSlope.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(a.nonEmpty)
    a.foreach { case (lang, (n, slope, intercept)) =>
      assert(n >= 3, s"$lang: degenerate fit size $n")
      // frequency must DECAY with rank; the synthetic corpus is a finite
      // word pool, so the exponent is shallower than web text's ~-1 but
      // must stay clearly negative and finite
      assert(slope < -0.05 && slope > -3.0, s"$lang: slope $slope out of band")
      assert(intercept > 0.0, s"$lang: top-rank log-frequency must be positive")
    }
    val b = TextAnalysis.zipfSlope.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(a === b) // grid-snapped fit is run-to-run deterministic
  }
}
