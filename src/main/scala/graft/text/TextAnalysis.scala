package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.Tables.SpreadOps

/** C19 — text-analysis operators over `documents` (LLM-pipeline pillar,
  * BASELINE.json north_star): token counting, quality scoring, language ID,
  * document fingerprinting.
  *
  * Everything is built from codegen'd built-ins (`regexp_*`, `split`,
  * `length`, `md5`) — no UDFs, so the whole pipeline stays inside one
  * whole-stage-codegen span and scales linearly with no shuffle (except the
  * final ORDER BY, which exists only for deterministic verification output).
  *
  * Both the Spark side and the DuckDB oracle use the same RE2/Java-compatible
  * regex subset so the two engines compute identical values.
  */
object TextAnalysis {

  /** Whitespace-token count. `trim` first: Java `Pattern.split` (Spark) and
    * DuckDB `regexp_split_to_array` both keep leading/trailing empty fields,
    * and trimming removes the asymmetry risk entirely. */
  val tokens: QueryDef = QueryDef(
    "c19_token_count", "C19",
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(length(text) AS INT) AS n_len, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"),
      length(col("text")).as("n_len"),
      col("n_chars"))
      .orderBy("doc_id")
  }

  /** BPE-ish subword token count: alpha runs, digit runs, and single
    * punctuation marks each count as one token (the pre-tokenization regex
    * most BPE vocabularies apply before merges) — compared with the
    * whitespace count as the "fertility" denominator. */
  val bpeTokens: QueryDef = QueryDef(
    "c19_bpe_token_count", "C19",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_ws,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS DOUBLE)
      |    / len(regexp_split_to_array(trim(text), '\s+')) AS fertility
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val bpe = size(regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
    val ws = size(split(trim(col("text")), "\\s+"))
    Tables.documents(s, d).select(
      col("doc_id"),
      bpe.as("n_bpe"),
      ws.as("n_ws"),
      (bpe.cast(DoubleType) / ws).as("fertility"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length, alpha ratio, stopword ratio, mean token length.
    * Single-pass narrow projection; ratios are one double division of exact
    * integer counts (deterministic on both engines). */
  val quality: QueryDef = QueryDef(
    "c19_quality_score", "C19",
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_len,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT) AS alpha_cnt,
      |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS INT) AS stop_cnt,
      |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
      |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
      |    / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val nTokens = size(split(trim(col("text")), "\\s+"))
    val alphaCnt = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    val stopCnt = size(regexp_extract_all(col("text"), lit("\\b(the|a|of|and|to|in|is)\\b"), lit(0)))
    // spread before the regex projection: the per-row regex CPU is the
    // whole query, and the documents parquet arrives under
    // maxPartitionBytes as ONE scan task — the round-16 sf10 rung
    // measured this plan at 49 s wall / 51 s process-CPU on 32 cores
    // (single-threaded; SCALECHECK10.md). Same spreadByKey pattern as
    // the fingerprint/bpe-encode CPU stages two queries down.
    Tables.documents(s, d).spreadByKey(col("doc_id")).select(
      col("doc_id"),
      length(col("text")).as("n_len"),
      nTokens.as("n_tokens"),
      alphaCnt.as("alpha_cnt"),
      stopCnt.as("stop_cnt"),
      (alphaCnt.cast(DoubleType) / length(col("text"))).as("alpha_ratio"),
      (stopCnt.cast(DoubleType) / nTokens).as("stop_ratio"))
      .orderBy("doc_id")
  }

  // Language-marker regexes, shared between predictor and oracle. The n-gram
  // heuristic: count language-specific function words, argmax with a fixed
  // tie-break order (en, es, fr, de, zh).
  private val markers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|is|was|to)\\b",
    "es" -> "\\b(el|la|los|las|de|que|es)\\b",
    "fr" -> "\\b(le|les|des|est|une|dans)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]") // hex escape parses in both RE2 and Java

  /** Language-ID by function-word/script-marker counting (deterministic
    * heuristic; compared against the labeled `lang` column). */
  val langId: QueryDef = {
    val duckScores = markers.map { case (l, re) =>
      s"CAST(len(regexp_extract_all(lower(text), '$re')) AS INT) AS s_$l"
    }.mkString(",\n      |  ")
    val duckMax = s"GREATEST(${markers.map("s_" + _._1).mkString(", ")})"
    val duckCase = markers.map { case (l, _) =>
      s"WHEN s_$l = mx THEN '$l'"
    }.mkString(" ")
    QueryDef(
      "c19_lang_id", "C19",
      s"""SELECT doc_id, s_en, s_es, s_fr, s_de, s_zh, predicted, lang AS labeled,
         |  predicted = lang AS agree
         |FROM (
         |  SELECT *, CASE $duckCase ELSE 'und' END AS predicted FROM (
         |    SELECT *, $duckMax AS mx FROM (
         |      SELECT doc_id, lang,
         |  $duckScores
         |      FROM documents) t1) t2) t3
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = markers.foldLeft(Tables.documents(s, d)) { case (df, (l, re)) =>
        df.withColumn(s"s_$l", size(regexp_extract_all(lower(col("text")), lit(re), lit(0))))
      }
      val mx = greatest(markers.map(m => col("s_" + m._1)): _*)
      val predicted = markers.foldRight(lit("und"): Column) { case ((l, _), els) =>
        when(col("s_" + l) === col("mx"), lit(l)).otherwise(els)
      }
      scored
        .withColumn("mx", mx)
        .withColumn("predicted", predicted)
        .select(
          col("doc_id"), col("s_en"), col("s_es"), col("s_fr"), col("s_de"),
          col("s_zh"), col("predicted"), col("lang").as("labeled"),
          (col("predicted") === col("lang")).as("agree"))
        .orderBy("doc_id")
    }
  }

  /** Document fingerprint: md5 of the punctuation/spacing-normalized text —
    * the canonical "same content modulo formatting" key for dedup joins. */
  val fingerprint: QueryDef = QueryDef(
    "c19_fingerprint", "C19",
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("fp"))
      .orderBy("doc_id")
  }

  /** Winnowing-style rolling-hash fingerprint: k minimum rolling hashes
    * over character 8-gram windows (the MinHash machinery over the
    * character stream — each window hash IS a rolling hash of the text,
    * window minima select the document-characteristic subset). Two
    * documents sharing formatting-insensitive content share fingerprint
    * values, enabling fingerprint-bucket dedup joins. noOracle (hash
    * values are engine-specific); determinism spec-tested, and TextSpec
    * asserts the fused char-level expression equals the
    * `split(text, "") + minhashSig` composition it replaced. */
  val winnow: QueryDef = QueryDef.noOracle("c19_winnow_fingerprint", "C19 C17") { (s, d) =>
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    // repartition: the rolling-hash signature is pure per-row CPU; spread
    // it across cores instead of one single-row-group scan task
    Tables.documents(s, d).spreadByKey(col("doc_id")).select(
      col("doc_id"),
      graft.functions.HashExprs.charMinhashSig(norm, 8, 16).as("fp"))
      .select(col("doc_id"),
        concat_ws(",", transform(col("fp"), v => format_string("%08x", v))).as("fp_hex"))
      .orderBy("doc_id")
  }

  /** Oracle twin of [[winnow]]: the SAME selection machinery — per-document
    * minima over the character-8-gram hash stream of the whitespace-
    * normalized text — re-keyed on md5, the one hash BOTH engines ship
    * (DuckDB 1.0 lacks xxhash64/sha1), so the window-min selection itself
    * is hash-checked against DuckDB instead of spec-trusted. One md5 per
    * gram; the k = 4 "permutations" are its four non-overlapping 8-hex-char
    * slices (md5-derived keys, lexicographic min ≡ numeric min on fixed-
    * width hex), aggregated as four plain min()s — no per-permutation
    * explode, so the oracle stays linear in corpus characters. The
    * xxhash64 fused-expression path ([[winnow]]) stays the default: this
    * twin exists to anchor the algorithm, not to replace the scale hash. */
  /** documents(doc_id, text) → (doc_id, fp0..fp3): the md5-keyed
    * fingerprint selection of [[winnowMd5]], factored for planted-corpus
    * specs. `gramLen` (default 8 = the registered query) is the character
    * window width — the parameter fuzz (DedupParamGen) hash-checks the
    * selection at other widths. */
  def winnowMd5Fingerprints(docs: DataFrame, gramLen: Int = 8): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    docs
      .spreadByKey(col("doc_id")) // per-row CPU: spread the gram hashing
      .select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"),
        explode(sequence(lit(1),
          greatest(length(col("norm")) - (gramLen - 1), lit(1)))).as("i"),
        col("norm"))
      .select(col("doc_id"), md5(col("norm").substr(col("i"), lit(gramLen))).as("h"))
      .groupBy("doc_id")
      .agg(
        min(substring(col("h"), 1, 8)).as("fp0"),
        min(substring(col("h"), 9, 8)).as("fp1"),
        min(substring(col("h"), 17, 8)).as("fp2"),
        min(substring(col("h"), 25, 8)).as("fp3"))
  }

  val winnowMd5: QueryDef = QueryDef(
    "c19_winnow_fingerprint_md5", "C19 C17",
    """WITH g AS (
      |  SELECT doc_id, md5(substr(norm, CAST(i AS INT), 8)) AS h
      |  FROM (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
      |        FROM documents),
      |       unnest(range(1, greatest(length(norm) - 7, 1) + 1)) t(i))
      |SELECT doc_id,
      |  min(substr(h, 1, 8)) AS fp0, min(substr(h, 9, 8)) AS fp1,
      |  min(substr(h, 17, 8)) AS fp2, min(substr(h, 25, 8)) AS fp3
      |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    winnowMd5Fingerprints(Tables.documents(s, d)).orderBy("doc_id")
  }.asBaseline("md5-keyed selection anchor; scale path is c19_winnow_fingerprint (fused xxhash64 expression)")

  /** Corpus-typicality score — the exact-arithmetic stand-in for the
    * LM-perplexity quality gate (CCNet/Gopher-style): pass 1 aggregates
    * corpus-wide token frequencies, pass 2 scores each document by the
    * average corpus frequency of its tokens. Rare-token-heavy (atypical)
    * documents score low, boilerplate scores high.
    *
    * Scale shape: the frequency table is the broadcastable dictionary (at
    * 100 TB: cap it to the top-K tokens via [[graft.functions.MisraGries]]
    * with a default count for the tail — same plan, bounded build side);
    * scoring is explode → broadcast-join → per-doc sum/count, shuffled
    * only on doc_id. All-integer accumulation; the single trailing double
    * division is bit-identical across engines. */
  def typicality(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    toks.join(broadcast(tf), Seq("tok"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast(IntegerType).as("n_tokens"),
        sum("cnt").as("freq_mass"))
      .withColumn("avg_tok_freq",
        col("freq_mass").cast(DoubleType) / col("n_tokens"))
  }

  val corpusTypicality: QueryDef = QueryDef(
    "c19_corpus_typicality", "C19",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents
      |), tf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
      |SELECT t.doc_id, CAST(count(*) AS INT) AS n_tokens,
      |  CAST(sum(tf.cnt) AS BIGINT) AS freq_mass,
      |  CAST(sum(tf.cnt) AS DOUBLE) / count(*) AS avg_tok_freq
      |FROM toks t JOIN tf USING (tok) GROUP BY t.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    typicality(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Gopher-rule document gate (Rae et al. 2021, arXiv:2112.11446 §A1.1 —
    * the public repetition/format heuristics, here the per-document shape
    * ones): word count bounds, mean word length bounds, symbol-to-word
    * ratio ('#' or ellipsis), and fraction of words containing at least one
    * alphabetic character. One narrow projection; mean word length avoids a
    * per-word lambda entirely (Σ word lengths = length of the text with all
    * whitespace removed), and the one genuinely per-word predicate
    * (has-alpha) is a bounded list_filter over a short token array. The
    * final `pass_gopher` boolean is the conjunctive gate a curation
    * pipeline filters on. */
  val gopherRules: QueryDef = QueryDef(
    "c19_gopher_rules", "C19",
    """SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
      |  (n_words BETWEEN 10 AND 100000
      |    AND mean_word_len BETWEEN 2 AND 12
      |    AND symbol_ratio < 0.1
      |    AND alpha_word_ratio > 0.6) AS pass_gopher
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(w) AS INT) AS n_words,
      |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / len(w) AS mean_word_len,
      |    CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(w) AS symbol_ratio,
      |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(w) AS alpha_word_ratio
      |  FROM (
      |    SELECT doc_id, text,
      |      list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
      |    FROM documents) t1) t2
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    gopherMetrics(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** documents(doc_id, text) → per-document Gopher shape metrics + gate;
    * `carry` columns pass through untouched (for composed pipelines that
    * gate first and need text/lang/source downstream). */
  def gopherMetrics(docs: DataFrame, carry: Seq[String] = Seq.empty): DataFrame = {
    val w = filter(split(trim(col("text")), "\\s+"), x => x =!= lit(""))
    val nWords = size(col("w"))
    val meanWordLen =
      length(regexp_replace(trim(col("text")), "\\s+", "")).cast(DoubleType) / nWords
    val symbolRatio =
      size(regexp_extract_all(col("text"), lit("#|\\.\\.\\.|…"), lit(0)))
        .cast(DoubleType) / nWords
    val alphaWordRatio =
      size(filter(col("w"), x => x.rlike("[a-zA-Z]"))).cast(DoubleType) / nWords
    docs
      .select(Seq(col("doc_id"), col("text"), w.as("w")) ++
        carry.filterNot(_ == "text").map(col): _*)
      .select(Seq(
        col("doc_id"),
        nWords.as("n_words"),
        meanWordLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"),
        alphaWordRatio.as("alpha_word_ratio")) ++ carry.map(col): _*)
      .withColumn("pass_gopher",
        col("n_words").between(10, 100000) &&
          col("mean_word_len").between(2, 12) &&
          col("symbol_ratio") < 0.1 &&
          col("alpha_word_ratio") > 0.6)
  }

  /** Bigram language-model perplexity per document, model trained
    * IN-ENGINE over the corpus itself — the CCNet/KenLM-style quality
    * filter (Wenzek et al. 2020, arXiv:1911.00359) lowered to a bigram LM
    * with add-one smoothing: P(cur|prev) = (c(prev·cur)+1) / (c(prev·)+V),
    * perplexity = exp(−mean ln P). High-perplexity documents are the
    * atypical/garbled ones a curation pipeline drops or down-weights;
    * unlike [[corpusTypicality]]'s unigram dictionary this scores word
    * ORDER, so shuffled text ranks worse than fluent text over the same
    * vocabulary.
    *
    * Scale shape — the NB/DSIR no-vocabulary-broadcast contract: bigrams
    * explode map-side (`zip_with` of the two token-array slices — no
    * position window, no self-join), the (doc, bigram) count table is
    * materialized ONCE and feeds the bigram-count aggregate, the
    * context-count aggregate AND the scoring join; both model joins are
    * plain equi-joins on the bigram/context string, and only the 1-row
    * vocabulary-size scalar broadcasts. Mean log-likelihood is a
    * double-sum under the 1e-6 grid (the word-entropy contract);
    * perplexity applies `exp` to the already-snapped mean on both
    * engines, so the last-ulp libm residual is bounded by the documented
    * grid tolerance. Documents with < 2 tokens have no bigrams and are
    * absent on both sides. */
  val bigramPpl: QueryDef = QueryDef(
    "c19_bigram_ppl", "C19",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i+1])) AS pg
      |  FROM toks WHERE len(t) >= 2
      |), bgc AS (SELECT pg, count(*) AS c2 FROM bg GROUP BY pg),
      |ctx AS (SELECT string_split(pg, ' ')[1] AS prev, count(*) AS c1
      |        FROM bg GROUP BY 1),
      |v AS (SELECT count(DISTINCT u) AS v
      |      FROM (SELECT unnest(t) AS u FROM toks) q),
      |ll AS (
      |  SELECT bg.doc_id,
      |    ln((bgc.c2 + 1.0) / (ctx.c1 + v.v)) AS ll
      |  FROM bg JOIN bgc USING (pg)
      |  JOIN ctx ON ctx.prev = string_split(bg.pg, ' ')[1]
      |  CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
      |  round(sum(ll) / count(*), 6) AS mean_ll,
      |  round(exp(-round(sum(ll) / count(*), 6)), 6) AS ppl
      |FROM ll GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    bigramPerplexity(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** documents(doc_id, text) → (doc_id, n_bigrams, mean_ll, ppl) under the
    * corpus-trained add-one bigram LM. See [[bigramPpl]]. */
  def bigramPerplexity(docs: DataFrame): DataFrame = {
    val t = split(trim(lower(col("text"))), "\\s+")
    val toks = docs.select(col("doc_id"), t.as("t"))
    // bigram strings map-side: zip of the array against its own tail
    val bg = toks
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("pg"))
      .localCheckpoint(false) // feeds both model aggregates AND the scoring join
    val bgc = bg.groupBy("pg").agg(count(lit(1)).as("c2"))
    val ctx = bg.groupBy(split(col("pg"), " ").getItem(0).as("prev"))
      .agg(count(lit(1)).as("c1"))
    val v = toks.select(explode(col("t")).as("u"))
      .agg(countDistinct(col("u")).as("v"))
    bg.join(bgc, Seq("pg"))
      .withColumn("prev", split(col("pg"), " ").getItem(0))
      .join(ctx, Seq("prev"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        log((col("c2") + 1.0) / (col("c1") + col("v"))).as("ll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum(col("ll")).as("s"))
      .select(
        col("doc_id"),
        col("n").cast(IntegerType).as("n_bigrams"),
        round(col("s") / col("n"), 6).as("mean_ll"),
        round(exp(-round(col("s") / col("n"), 6)), 6).as("ppl"))
  }

  /** TF-IDF top terms per document (smoothed idf = ln((N+1)/(df+1)) + 1,
    * the scikit-learn formulation): the keyword-extraction / relevance
    * signal a curation pipeline uses for topic balancing.
    *
    * Scale shape — NO dictionary broadcast: the (doc_id, term) count table
    * is materialized ONCE (lazy localCheckpoint — the repo's standard
    * recipe when one derived table feeds two plan branches) and both the
    * df aggregate and the join read the materialization, so the
    * explode+count work is not recomputed per branch; the tf⋈df join is a
    * plain equi-join on `term` (Catalyst broadcasts df only when it
    * actually fits — the vocabulary is never assumed driver-sized, and
    * Zipf-hot terms are unique keys on the df side, the skew-benign
    * direction). The corpus-size scalar N is the usual broadcast 1-row
    * aggregate. Scores are snapped to the 1e-6 grid on both engines
    * BEFORE ranking (ties then break on the term string), so the ranking
    * never depends on the two engines' libm `ln` agreeing in the last
    * ulp. */
  val tfidfTopTerms: QueryDef = QueryDef(
    "c19_tfidf_topterms", "C19",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, rnk, term, tf, score FROM (
      |  SELECT tf.doc_id, tf.term, CAST(tf.tf AS INT) AS tf,
      |    round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score,
      |    CAST(row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) DESC, tf.term) AS INT) AS rnk
      |  FROM tf JOIN df USING (term) CROSS JOIN n) t
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    tfidfTop(Tables.documents(s, d), topK = 3).orderBy("doc_id", "rnk")
  }

  /** Unigram count table (doc_id, lang, term, tf): ONE corpus scan and
    * one shuffle on the (doc, term) key. Every unigram-C19 query builds it
    * inside its own plan — tfidf (projects lang away), entropy (per-doc
    * aggregate), NB (per-(term,class) model + the scoring grid), DSIR
    * (distribution aggregate + scoring join), Zipf (per-language term
    * totals). `lang` is functionally dependent on `doc_id`, so carrying it
    * adds nothing to the group cardinality. */
  def termCounts(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"), col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))

  /** documents(doc_id, text) → top-`topK` TF-IDF terms per document
    * (doc_id, rnk, term, tf, score). See [[tfidfTopTerms]]. */
  def tfidfTop(docs: DataFrame, topK: Int): DataFrame = {
    // materialize once: feeds both the df aggregate and the scoring join
    val tf = termCounts(docs).localCheckpoint(false)
      .select(col("doc_id"), col("term"), col("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      .withColumn("rnk", row_number().over(w).cast(IntegerType))
      .where(col("rnk") <= topK)
      .select(col("doc_id"), col("rnk"), col("term"),
        col("tf").cast(IntegerType).as("tf"), col("score"))
  }

  /** Per-document unigram entropy (nats + bits): H = ln L − (Σ tf·ln tf)/L
    * over the word-frequency distribution — the lexical-diversity /
    * degenerate-repetition signal (H → 0 means one token dominates; H =
    * ln n_distinct means perfectly uniform). One extra aggregate over the
    * same (doc_id, term) counts as [[tfidfTopTerms]]; no joins at all.
    *
    * Parity note: Σ tf·ln(tf) is a genuine double sum, so its partition
    * merge order is not fixed — but each per-document sum has at most a
    * few dozen terms, bounding the order spread at ~1e-13 relative, six
    * orders below the 1e-6 output grid both engines snap to (same
    * contract as the radius-search score grid: verified green, and
    * deterministic for any fixed testdata unless a true value sits within
    * ulps of a .5e-6 boundary). */
  val wordEntropy: QueryDef = QueryDef(
    "c19_word_entropy", "C19",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |agg AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS l, CAST(count(*) AS INT) AS n_distinct,
      |    sum(tf * ln(tf)) AS s
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, CAST(l AS INT) AS n_tokens, n_distinct,
      |  round(ln(l) - s / l, 6) AS entropy,
      |  round((ln(l) - s / l) / ln(2.0), 6) AS entropy_bits
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    unigramEntropy(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** documents(doc_id, text) → (doc_id, n_tokens, n_distinct, entropy,
    * entropy_bits). See [[wordEntropy]]. */
  def unigramEntropy(docs: DataFrame): DataFrame = {
    // single consumer: the counts need no checkpoint
    val tf = termCounts(docs)
    val hNats = log(col("l")) - col("s") / col("l")
    tf.groupBy("doc_id")
      .agg(
        sum("tf").as("l"),
        count(lit(1)).cast(IntegerType).as("n_distinct"),
        sum(col("tf").cast(DoubleType) * log(col("tf").cast(DoubleType))).as("s"))
      .select(
        col("doc_id"),
        col("l").cast(IntegerType).as("n_tokens"),
        col("n_distinct"),
        round(hNats, 6).as("entropy"),
        round(hNats / math.log(2.0), 6).as("entropy_bits"))
  }

  /** Multinomial Naive Bayes classifier trained IN-ENGINE in one pass and
    * applied to the same corpus — the quality/domain-classifier filtering
    * step of an LLM data pipeline (CCNet/GPT-3-style) done relationally:
    * "training" is two token-count aggregates (per-(term,class) counts +
    * per-class token mass), "inference" is a per-occurrence join against
    * those counts and a per-(doc,class) log-likelihood sum, argmax by
    * window. Laplace-smoothed: ln((c(t,l)+1)/(n_l+|V|)), prior ln(d_l/N).
    *
    * Scale shape: the candidate grid is |distinct (doc, term)| × |classes|
    * (classes are a broadcast handful; per-occurrence log-likelihoods
    * collapse into a tf multiplier); the grid⋈counts join is a
    * plain equi-join on (term, class) — like [[tfidfTopTerms]], the
    * vocabulary-sized model table is NEVER broadcast or collected (it is
    * materialized once and its three consumers read the materialization;
    * Zipf-hot terms are unique keys on the model side, so the join skew
    * stays on the streamed side where AQE splits it), and the same plan
    * trains on any corpus. Scores snap to the 1e-6 grid on both engines
    * before the argmax (ties → class name ascending).
    *
    * Here the label is `lang` (self-classification; resubstitution
    * accuracy is the pinned observable) — substituting a curated
    * quality/domain label column changes nothing structurally. */
  val nbClassifier: QueryDef = QueryDef(
    "c19_nb_classifier", "C19",
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |counts AS (SELECT term, lang, count(*) AS c FROM toks GROUP BY term, lang),
      |totals AS (SELECT lang, count(*) AS n_l FROM toks GROUP BY lang),
      |vocab AS (SELECT count(DISTINCT term) AS v FROM toks),
      |priors AS (SELECT lang, count(*) AS d_l FROM documents GROUP BY lang),
      |ndocs AS (SELECT count(*) AS n_docs FROM documents),
      |grid AS (
      |  SELECT t.doc_id, t.term, t.tf, cl.lang AS cls
      |  FROM tf t
      |  CROSS JOIN (SELECT lang FROM totals) cl),
      |ll AS (
      |  SELECT g.doc_id, g.cls,
      |    g.tf * ln((coalesce(c.c, 0) + 1.0) / (tt.n_l + v.v)) AS ll
      |  FROM grid g
      |  LEFT JOIN counts c ON c.term = g.term AND c.lang = g.cls
      |  JOIN totals tt ON tt.lang = g.cls
      |  CROSS JOIN vocab v),
      |doc_scores AS (SELECT doc_id, cls, sum(ll) AS s_ll FROM ll GROUP BY doc_id, cls),
      |scored AS (
      |  SELECT d.doc_id, d.cls, round(d.s_ll + ln(p.d_l * 1.0 / n.n_docs), 6) AS score
      |  FROM doc_scores d JOIN priors p ON p.lang = d.cls CROSS JOIN ndocs n)
      |SELECT s.doc_id, s.cls AS pred_lang, s.score, dd.lang AS actual_lang,
      |  (s.cls = dd.lang) AS correct
      |FROM (
      |  SELECT doc_id, cls, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rnk
      |  FROM scored) s
      |JOIN documents dd USING (doc_id)
      |WHERE s.rnk = 1
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    nbClassify(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** documents(doc_id, text, lang) → (doc_id, pred_lang, score,
    * actual_lang, correct). See [[nbClassifier]]. */
  def nbClassify(docs: DataFrame): DataFrame = {
    val tf = termCounts(docs).localCheckpoint(false)
    // The model table is materialized ONCE (lazy localCheckpoint) and its
    // three consumers — per-class token mass, vocabulary size, and the
    // scoring join — all read the materialization instead of re-running
    // the aggregate per branch. Deriving totals/vocab FROM the model
    // (Σc per class ≡ class token mass; distinct terms ≡ corpus
    // vocabulary) is what makes them one-aggregate cheap.
    val model = tf.groupBy("term", "lang").agg(sum(col("tf")).as("c"))
      .localCheckpoint(false)
    val totals = model.groupBy("lang").agg(sum(col("c")).as("n_l"))
    val vocab = model.agg(countDistinct(col("term")).as("v"))
    val priors = docs.groupBy("lang").agg(count(lit(1)).as("d_l"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // candidate grid: one row per (DISTINCT (doc, term), candidate class) —
    // the per-occurrence explode of earlier rounds collapsed into the tf
    // multiplier (Σ_occurrences ln p ≡ Σ_terms tf·ln p), halving the grid
    // on a corpus with repeated terms
    val grid = tf.select("doc_id", "term", "tf")
      .crossJoin(broadcast(totals.select(col("lang"), col("n_l"))))
    val ll = grid
      .join(model, Seq("term", "lang"), "left")
      .crossJoin(broadcast(vocab))
      .select(
        col("doc_id"), col("lang"),
        (col("tf").cast(DoubleType) *
          log((coalesce(col("c"), lit(0L)) + 1.0) / (col("n_l") + col("v")))).as("ll"))
    val docScores = ll.groupBy("doc_id", "lang").agg(sum(col("ll")).as("s_ll"))
    val scored = docScores
      .join(broadcast(priors), Seq("lang"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("s_ll") + log(col("d_l") * 1.0 / col("n_docs")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("lang"))
    scored
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
      .join(docs.select(col("doc_id"), col("lang").as("actual_lang")), Seq("doc_id"))
      .select(
        col("doc_id"), col("lang").as("pred_lang"), col("score"),
        col("actual_lang"), (col("lang") === col("actual_lang")).as("correct"))
  }

  /** DSIR-style importance weight per document (Data Selection via
    * Importance Resampling, arXiv:2302.03169): log w(doc) = Σ_t tf_t ·
    * [ln p_target(t) − ln p_raw(t)] over the document's unigram counts,
    * with Laplace-smoothed distributions estimated IN-ENGINE from the same
    * corpus — target = the `lang = 'en'` subset, raw = the whole corpus.
    * Documents whose token mix looks like the target distribution get
    * high weight; resampling by this weight is the DSIR selection step of
    * an LLM data pipeline. (The paper hashes n-grams into buckets; the
    * term-keyed formulation here is the oracle-checkable variant — a
    * hashed-feature variant is the same plan with `pmod(xxhash64(term),B)`
    * as the key, trading oracle-ability for a bounded feature space.)
    *
    * Scale shape — NO dictionary broadcast (same contract as
    * [[tfidfTopTerms]] / [[nbClassifier]]): the (doc, lang, term) count
    * table is materialized once and feeds BOTH the per-term distribution
    * aggregate (target + raw counts in one conditional aggregate, one
    * shuffle on `term`) and the scoring equi-join on `term`; only the
    * 1-row (n_target, n_raw, |V|) scalar aggregate is broadcast. Per-doc
    * log-sums are small (≲ distinct terms per doc), so the 1e-6 output
    * grid dominates merge-order ulps — the [[wordEntropy]] parity
    * contract. */
  val dsirWeights: QueryDef = QueryDef(
    "c19_dsir_weights", "C19",
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
      |stats AS (
      |  SELECT term,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS ct,
      |    CAST(SUM(tf) AS BIGINT) AS cs
      |  FROM tf GROUP BY term),
      |scal AS (
      |  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cs) AS BIGINT) AS ns,
      |    count(*) AS v
      |  FROM stats),
      |contrib AS (
      |  SELECT f.doc_id, f.tf,
      |    f.tf * (ln((s.ct + 1.0) / (c.nt + c.v)) - ln((s.cs + 1.0) / (c.ns + c.v))) AS contrib
      |  FROM tf f JOIN stats s USING (term) CROSS JOIN scal c)
      |SELECT doc_id, CAST(SUM(tf) AS INT) AS n_tokens,
      |  round(SUM(contrib), 6) + 0.0 AS logw,
      |  round(SUM(contrib) / SUM(tf), 6) + 0.0 AS logw_per_tok
      |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    dsirWeight(Tables.documents(s, d), targetLang = "en").orderBy("doc_id")
  }

  /** documents(doc_id, text, lang) → (doc_id, n_tokens, logw,
    * logw_per_tok). See [[dsirWeights]]. */
  def dsirWeight(docs: DataFrame, targetLang: String): DataFrame = {
    // materialized once — feeds the distribution aggregate AND the
    // scoring join
    val tf = termCounts(docs).localCheckpoint(false)
    val stats = tf.groupBy("term").agg(
      sum(when(col("lang") === targetLang, col("tf")).otherwise(0L)).as("ct"),
      sum(col("tf")).as("cs"))
    val scal = stats.agg(
      sum(col("ct")).as("nt"), sum(col("cs")).as("ns"), count(lit(1)).as("v"))
    tf.join(stats, Seq("term"))
      .crossJoin(broadcast(scal))
      .select(
        col("doc_id"), col("tf"),
        (col("tf").cast(DoubleType) *
          (log((col("ct") + 1.0) / (col("nt") + col("v"))) -
            log((col("cs") + 1.0) / (col("ns") + col("v"))))).as("contrib"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("l"), sum(col("contrib")).as("w"))
      .select(
        col("doc_id"),
        col("l").cast(IntegerType).as("n_tokens"),
        // + 0.0 collapses IEEE -0.0 to +0.0: a weight whose exact sum is a
        // tiny negative rounds to -0.0 in DuckDB (C round keeps the sign)
        // but +0.0 in Spark (BigDecimal setScale) — observed at the sf1
        // gate; the normalizer makes both engines emit +0.0.
        (round(col("w"), 6) + 0.0).as("logw"),
        (round(col("w") / col("l"), 6) + 0.0).as("logw_per_tok"))
  }

  /** C19/C12: per-language Zipf exponent — the corpus-statistics health
    * check (natural language follows frequency ∝ rank^(−s) with s ≈ 1;
    * a corpus whose fitted slope drifts far from −1 is boilerplate-heavy,
    * deduplicated-to-death, or machine-generated). Fit = ordinary least
    * squares of ln(freq) on ln(rank) over each language's top-100 terms:
    * rank by frequency (ties broken by term for cross-engine determinism),
    * one window pass, five running sums, closed-form slope/intercept.
    *
    * Scale shape: term totals aggregate the (doc, term) count table
    * ([[termCounts]]) once more by (lang, term); the per-language
    * vocabulary the window sorts is bounded by the token-type space
    * (Heaps' law — ~10⁷ types at web scale), not by corpus row count, so
    * the rank window stays tractable at 100 TB while everything after the
    * top-100 cut is constant-size. Parity: ln() per term snapped only at
    * the final round(·, 6) — the same double-sum-under-grid contract as
    * [[wordEntropy]] (≤ 100 terms per sum); `+ 0.0` normalizes a −0.0
    * round like the b3 correlation query. */
  val zipfSlope: QueryDef = QueryDef(
    "c19_zipf_slope", "C19 C12 C9",
    """WITH toks AS (
      |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (SELECT lang, term, count(*) AS cnt FROM toks GROUP BY lang, term),
      |rk AS (
      |  SELECT lang, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rnk
      |  FROM tf),
      |xy AS (SELECT lang, ln(rnk) AS x, ln(cnt) AS y FROM rk WHERE rnk <= 100),
      |agg AS (
      |  SELECT lang, CAST(count(*) AS INT) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM xy GROUP BY lang)
      |SELECT lang, n,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
      |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) + 0.0 AS intercept
      |FROM agg WHERE n >= 3 ORDER BY lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cnts = termCounts(Tables.documents(s, d))
      .groupBy("lang", "term").agg(sum(col("tf")).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("term"))
    val xy = cnts.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 100)
      .select(col("lang"),
        log(col("rnk").cast(DoubleType)).as("x"),
        log(col("cnt").cast(DoubleType)).as("y"))
    val agg = xy.groupBy("lang").agg(
      count(lit(1)).cast(IntegerType).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    agg.where(col("n") >= 3)
      .select(col("lang"), col("n"),
        (round(slope, 6) + 0.0).as("zipf_slope"),
        (round((col("sy") - slope * col("sx")) / col("n"), 6) + 0.0).as("intercept"))
      .orderBy("lang")
  }

  val all: Seq[QueryDef] =
    Seq(tokens, bpeTokens, quality, langId, fingerprint, winnow, winnowMd5, corpusTypicality,
      gopherRules, tfidfTopTerms, wordEntropy, nbClassifier, dsirWeights,
      bigramPpl, zipfSlope)
}
