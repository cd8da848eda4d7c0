package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.Tables.SpreadOps

/** The composed corpus-curation pipeline a training-data run actually
  * executes — the LLM-pipeline pillars chained end-to-end instead of
  * exercised one at a time:
  *
  *   language filter → quality gates (token budget, alpha ratio) →
  *   exact dedup keep-first → per-doc token count for the batcher.
  *
  * Plan shape at 100 TB: the score-and-filter stage is one narrow
  * whole-stage-codegen projection (no shuffle, filters evaluated before
  * anything wide); the only shuffles are the dedup hash-aggregate on the
  * md5 fingerprint and its semi-join back — both keyed on uniformly
  * distributed hashes. Survivor selection uses aggregate-then-semi-join
  * (not a window) so the heavy table is shuffled once.
  */
object Curation {

  /** Reusable curation transform over a documents-shaped frame. */
  def curate(docs: DataFrame, minTokens: Int, maxTokens: Int, minAlpha: Double): DataFrame = {
    val nTokens = size(split(trim(col("text")), "\\s+"))
    val alphaCnt = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    val scored = docs.select(
      col("doc_id"), col("lang"), col("source"), col("text"),
      nTokens.as("n_tokens"),
      (alphaCnt.cast(DoubleType) / length(col("text"))).as("alpha_ratio"))
    val filtered = scored.where(
      col("lang") === "en" &&
        col("n_tokens").between(minTokens, maxTokens) &&
        col("alpha_ratio") >= minAlpha)
    val keep = filtered
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    filtered.join(keep, Seq("doc_id"), "left_semi")
      .select("doc_id", "source", "n_tokens", "alpha_ratio")
  }

  /** Registered end-to-end curation query with a full DuckDB oracle (every
    * stage is SQL-expressible: regex counts, md5 keep-first, semi-join). */
  val curateDocs: QueryDef = QueryDef(
    "pipeline_curate", "C17 C19 north_star-pipeline",
    """WITH scored AS (
      |  SELECT doc_id, lang, source, text,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
      |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |      / length(text) AS alpha_ratio
      |  FROM documents
      |), filtered AS (
      |  SELECT * FROM scored
      |  WHERE lang = 'en' AND n_tokens BETWEEN 20 AND 5000 AND alpha_ratio >= 0.8
      |), keep AS (
      |  SELECT min(doc_id) AS doc_id FROM filtered GROUP BY md5(text)
      |)
      |SELECT doc_id, source, n_tokens, alpha_ratio
      |FROM filtered WHERE doc_id IN (SELECT doc_id FROM keep)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    curate(Tables.documents(s, d), minTokens = 20, maxTokens = 5000, minAlpha = 0.8)
      .orderBy("doc_id")
  }

  /** PII scrubbing — the redaction transform every training-data pipeline
    * runs before text leaves the trust boundary: emails → <EMAIL>, US-style
    * phone numbers → <PHONE>, bare IPv4s → <IP>. The test corpus carries no
    * real PII, so the query deterministically INJECTS synthetic markers
    * (derived from doc_id) into the text first and then redacts; the oracle
    * mirrors both steps, so the check verifies the redaction regexes
    * character-for-character. The injected text never survives: the output
    * asserts redaction happened (match counts) without containing PII. */
  val piiRedact: QueryDef = QueryDef(
    "pipeline_pii_redact", "C19 north_star-pipeline",
    """WITH aug AS (
      |  SELECT doc_id,
      |    text || ' contact u' || doc_id || '@mail.example.com or call 555-01' ||
      |      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' ip 10.0.' ||
      |      CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
      |  md5(regexp_replace(
      |        regexp_replace(
      |          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |          '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
      |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS redacted_md5
      |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
    // repartition before the regex stack: the scan is a single-row-group
    // parquet file (one task), and three full-text regex passes are pure
    // per-row CPU that should spread across every core — the input shuffle
    // is tiny next to the regex work (sf1: 10.6 s at CPU/wall 1.1 before).
    val aug = Tables.documents(s, d).spreadByKey(col("doc_id")).select(
      col("doc_id"),
      concat(
        col("text"), lit(" contact u"), col("doc_id").cast(StringType),
        lit("@mail.example.com or call 555-01"),
        lpad((col("doc_id") % 100).cast(StringType), 2, "0"), lit(" ip 10.0."),
        (col("doc_id") % 256).cast(StringType), lit(".7")).as("t"))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    aug.select(
      col("doc_id"),
      size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).as("n_emails"),
      md5(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("t"), emailRe, "<EMAIL>"),
            "\\b[0-9]{3}-[0-9]{4}\\b", "<PHONE>"),
          "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination — flag corpus documents sharing word
    * 3-gram shingles with a held-out benchmark set (here: every 100th doc,
    * a deterministic stand-in for an eval suite). The overlap is computed
    * the scalable way: explode shingles, equi-join corpus grams against the
    * benchmark gram set (small side — broadcastable), count distinct shared
    * grams per doc, flag at >= 3. Never all-pairs; at 100 TB the benchmark
    * gram set is a build-once broadcast dictionary. */
  val decontaminate: QueryDef = QueryDef(
    "pipeline_decontaminate", "C17 north_star-pipeline",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [array_to_string(t, ' ')] END) AS grams
      |  FROM toks
      |), gr AS (SELECT doc_id, unnest(grams) AS g FROM sh
      |), bench AS (SELECT DISTINCT g FROM gr WHERE doc_id % 100 = 0)
      |SELECT gr.doc_id, CAST(count(*) AS INT) AS n_shared
      |FROM gr JOIN bench ON gr.g = bench.g
      |WHERE gr.doc_id % 100 <> 0
      |GROUP BY gr.doc_id HAVING count(*) >= 3
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.dedup.Dedup.shingles(col("text"))).as("g"))
    val bench = grams.where(col("doc_id") % 100 === 0).select("g").distinct()
    grams.where(col("doc_id") % 100 =!= 0)
      .join(bench, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_shared"))
      .where(col("n_shared") >= 3)
      .orderBy("doc_id")
  }

  /** Bloom-gated twin of [[decontaminate]] — identical result, same
    * oracle. The benchmark gram set is distilled into a ~100 KB Bloom
    * filter (2^17 capacity, 3% fpp) that rides inside a
    * [[graft.functions.BloomMightContain]] codegen expression, and the
    * corpus gram stream is pre-gated by the probe BEFORE the shuffle join;
    * the exact join then removes the filter's false positives, so the
    * result is provably equal to the baseline. This is the 100 TB shape:
    * at a realistic benchmark-suite size the exact gram set is tens of
    * millions of strings (too big to broadcast as a hash relation to every
    * executor), while the Bloom bit array stays fixed-size — only rows
    * that might match ever reach the shuffle. */
  val decontaminateBloom: QueryDef = QueryDef(
    "pipeline_decontaminate_bloom", "C17 C20 north_star-pipeline",
    decontaminate.oracle.get) { (s, d) =>
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.dedup.Dedup.shingles(col("text"))).as("g"))
    val bench = grams.where(col("doc_id") % 100 === 0).select("g").distinct()
    val bf = bench.stat.bloomFilter("g", 1 << 17, 0.03)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    grams.where(col("doc_id") % 100 =!= 0)
      .where(graft.functions.HashExprs.bloomMightContain(col("g"), bytes))
      .join(bench, Seq("g")) // exact verify: removes Bloom false positives
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_shared"))
      .where(col("n_shared") >= 3)
      .orderBy("doc_id")
  }

  /** CDC-style incremental snapshot merge — the upsert shape every
    * periodically-refreshed corpus needs on an append-only store: classify
    * each key as inserted (batch only), updated (both sides), or carried
    * (previous snapshot only), and emit the merged value. Simulated
    * deterministically from orders: the previous snapshot is every key
    * with o_orderkey % 10 <> 0, the incoming batch re-delivers every key
    * with o_orderkey % 3 = 0 at price + 10 (double add — bit-identical in
    * both engines).
    *
    * Plan shape at 100 TB: ONE full-outer shuffle join on the key — the
    * minimal data movement any merge can do when both sides are large
    * (MERGE INTO in lakehouse engines lowers to exactly this join); the
    * classification and value coalesce are map-side projections on the
    * join output. */
  val cdcMerge: QueryDef = QueryDef(
    "pipeline_cdc_merge", "C6 north_star-pipeline",
    """WITH old AS (
      |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_orderkey % 10 <> 0
      |), batch AS (
      |  SELECT o_orderkey AS k, o_totalprice + 10.0 AS v FROM orders WHERE o_orderkey % 3 = 0
      |)
      |SELECT COALESCE(old.k, batch.k) AS k,
      |  CASE WHEN old.k IS NULL THEN 'insert'
      |       WHEN batch.k IS NULL THEN 'carry'
      |       ELSE 'update' END AS action,
      |  COALESCE(batch.v, old.v) AS v
      |FROM old FULL JOIN batch ON old.k = batch.k
      |ORDER BY k""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val old = orders.where(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey").as("k_old"), col("o_totalprice").as("v_old"))
    val batch = orders.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k_new"),
        (col("o_totalprice") + 10.0).as("v_new"))
    old.join(batch, col("k_old") === col("k_new"), "full_outer")
      .select(
        coalesce(col("k_old"), col("k_new")).as("k"),
        when(col("k_old").isNull, "insert")
          .when(col("k_new").isNull, "carry")
          .otherwise("update").as("action"),
        coalesce(col("v_new"), col("v_old")).as("v"))
      .orderBy("k")
  }

  /** Deterministic train/val split — assignment must be a pure function of
    * the record (reproducible across runs, engines, and re-shards), so the
    * split key is a content-independent md5 of the doc id: first two hex
    * chars < '0d' ≈ 5% validation. Both engines compute identical md5 hex,
    * so the oracle checks every single assignment. */
  val trainValSplit: QueryDef = QueryDef(
    "pipeline_split", "C15 north_star-pipeline",
    """SELECT doc_id,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
      |       THEN 'val' ELSE 'train' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      when(substring(md5(col("doc_id").cast(StringType)), 1, 2) < "0d", "val")
        .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** Repetition scoring — the Gopher-rule quality signal exact token/char
    * ratios can't see: a document that repeats itself has a low
    * distinct-token fraction even when every other gate passes. One narrow
    * codegen projection (split + array ops), no shuffle. */
  val repetitionScore: QueryDef = QueryDef(
    "pipeline_repetition", "C19 north_star-pipeline",
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
      |  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_ratio
      |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = split(trim(lower(col("text"))), "\\s+")
    Tables.documents(s, d).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      (lit(1.0) - size(array_distinct(toks)).cast(DoubleType) / size(toks))
        .as("dup_token_ratio"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling — per-source keep rates as a pure
    * function of doc_id (same md5 trick as [[trainValSplit]]), the way a
    * pipeline downweights an over-represented crawl without a random seed.
    * The first two md5 hex chars are uniform over 256 values, so rate r
    * keeps hashes below the 2-hex threshold of round(r·256). Map-side
    * filter, no shuffle, reproducible across re-shards. */
  val stratifiedSample: QueryDef = QueryDef(
    "pipeline_stratified_sample", "C2 north_star-pipeline",
    """SELECT doc_id, source
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |  CASE WHEN source = 'src0' THEN '40' ELSE 'c0' END
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .where(substring(md5(col("doc_id").cast(StringType)), 1, 2) <
        when(col("source") === "src0", "40").otherwise("c0"))
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Importance resampling by Bernoulli thinning — the DoReMi/DSIR-style
    * "sample documents proportional to weight" step, Poissonized: each doc
    * is kept independently with probability wt/max(wt), so the kept corpus
    * is distributed ∝ weight without fixed-k coordination. The uniform
    * draw is a deterministic 48-bit hash of the doc id (md5 prefix), so
    * the sample is reproducible across re-shards and engines.
    *
    * Portability contract: the keep test uses ONLY IEEE-exact operations
    * (hash-integer → double is exact below 2⁵³, division and comparison
    * are bit-specified) — deliberately NOT the ln(u)/w exponential-key
    * reservoir form, whose transcendental differs in the last ulp across
    * libm implementations and could flip a selection at the cutoff. Scale
    * shape: one scan + a 1-row max broadcast + a stateless filter — no
    * shuffle, embarrassingly parallel at any corpus size. */
  val importanceThin: QueryDef = QueryDef(
    "pipeline_importance_thin", "C2 C9 north_star-pipeline",
    """WITH w AS (
      |  SELECT doc_id, least(n_chars, 2000) AS wt,
      |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS DOUBLE)
      |      / 281474976710656.0 AS u
      |  FROM documents),
      |mx AS (SELECT CAST(max(wt) AS DOUBLE) AS maxw FROM w)
      |SELECT doc_id, wt FROM w, mx
      |WHERE u < CAST(wt AS DOUBLE) / maxw
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      least(col("n_chars"), lit(2000)).as("wt"),
      (conv(substring(md5(col("doc_id").cast(StringType)), 1, 12), 16, 10)
        .cast(LongType).cast(DoubleType) / 281474976710656.0).as("u"))
    val mx = base.agg(max(col("wt")).cast(DoubleType).as("maxw"))
    base.crossJoin(broadcast(mx))
      .where(col("u") < col("wt").cast(DoubleType) / col("maxw"))
      .select("doc_id", "wt")
      .orderBy("doc_id")
  }

  /** Sequence packing — the concat-and-split layout LLM training uses:
    * documents are laid end-to-end in a deterministic order and cut into
    * fixed token-budget sequences, so each doc gets the pack it starts in,
    * its offset inside that pack, and how many packs it spans.
    *
    * The running token offset is a window cumulative sum PARTITIONed BY
    * source — each source stream packs independently, so at 100 TB every
    * partition computes its own prefix sums after one shuffle on (source)
    * and no global single-reducer window exists. Pack ids are derived with
    * integer arithmetic only (DIV / %), bit-identical across engines. */
  def pack(docs: DataFrame, budget: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tokens"))
      .withColumn("cum_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("source"),
        col("n_tokens").cast(IntegerType).as("n_tokens"),
        expr(s"cum_start DIV $budget").as("pack_id"),
        (col("cum_start") % budget).as("pack_offset"),
        (expr(s"(cum_start + n_tokens - 1) DIV $budget")
          - expr(s"cum_start DIV $budget") + 1).cast(IntegerType).as("n_packs"))
  }

  val sequencePack: QueryDef = QueryDef(
    "pipeline_pack", "C12 north_star-pipeline",
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), cum AS (
      |  SELECT doc_id, source, n_tokens,
      |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_start
      |  FROM toks
      |)
      |SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
      |  CAST(cum_start // 256 AS BIGINT) AS pack_id,
      |  CAST(cum_start % 256 AS BIGINT) AS pack_offset,
      |  CAST(((cum_start + n_tokens - 1) // 256) - (cum_start // 256) + 1 AS INT) AS n_packs
      |FROM cum ORDER BY doc_id""".stripMargin) { (s, d) =>
    pack(Tables.documents(s, d), budget = 256).orderBy("doc_id")
  }

  /** Overlapping document chunking — the RAG/embedding preprocessing shape:
    * each doc explodes into fixed-size character windows advanced by a
    * stride (size 500, stride 400 → 100-char overlap; the final chunk may
    * be short). Chunk count is closed-form integer arithmetic, so the whole
    * operator is one generate+project — no shuffle, no state, and chunk
    * boundaries are reproducible under any re-partitioning. Emits md5 +
    * length per chunk (not the text) to keep the verified output narrow. */
  def chunk(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size >= stride, "chunks must cover the text (size >= stride)")
    val nc = expr(
      s"((greatest(length(text) - $size, 0) + ${stride - 1}) DIV $stride) + 1")
    val chunkText = col("text").substr(col("chunk_idx") * stride + 1, lit(size))
    docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), (nc - 1).cast(IntegerType))).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        (col("chunk_idx") * stride).as("chunk_start"),
        length(chunkText).as("chunk_len"),
        md5(chunkText).as("chunk_md5"))
  }

  val chunkDocs: QueryDef = QueryDef(
    "pipeline_chunk", "C15 north_star-pipeline",
    """WITH base AS (
      |  SELECT doc_id, text,
      |    ((greatest(length(text) - 500, 0) + 399) // 400) + 1 AS nc
      |  FROM documents
      |), ch AS (
      |  SELECT doc_id, text, unnest(range(0, nc)) AS ci FROM base
      |)
      |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
      |  CAST(ci * 400 AS INT) AS chunk_start,
      |  CAST(length(substr(text, CAST(ci * 400 + 1 AS INT), 500)) AS INT) AS chunk_len,
      |  md5(substr(text, CAST(ci * 400 + 1 AS INT), 500)) AS chunk_md5
      |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    chunk(Tables.documents(s, d), size = 500, stride = 400)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Near-dedup APPLY — the step a curation run actually executes with the
    * duplicate clusters: keep each cluster's canonical representative (its
    * min doc_id, i.e. the cluster label) and anti-join the rest of the
    * cluster members out of the corpus. Composes the LSH pair generator and
    * the connected-components labeler; the drop set is |non-representative
    * members| — tiny next to the corpus — so the final anti-join broadcasts.
    * Oracle: recursive-CTE transitive closure over the exact-Jaccard pairs,
    * NOT IN the non-representative ids. */
  val dedupApply: QueryDef = QueryDef(
    "pipeline_dedup_apply", "C17 north_star-pipeline",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [array_to_string(t, ' ')] END) AS grams
      |  FROM toks
      |), sizes AS (SELECT doc_id, len(grams) AS n FROM sh
      |), gr AS (SELECT doc_id, unnest(grams) AS g FROM sh
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
      |), pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs
      |), walk AS (
      |  SELECT src AS id, dst AS reach FROM edges
      |  UNION
      |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
      |), clusters AS (
      |  SELECT id, least(id, min(reach)) AS cluster_id FROM walk GROUP BY id
      |)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val clusters = graft.dedup.Dedup.connectedComponents(
      graft.dedup.Dedup.minhashPairs(docs, k = 64, bands = 16, threshold = 0.7)
        .select("doc_a", "doc_b"))
    val drop = clusters.where(col("doc_id") =!= col("cluster_id")).select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Source-mixing rebalance — the data-derived version of
    * [[stratifiedSample]]: instead of hand-tuned per-source rates, compute
    * the per-language keep rate that balances the corpus to the scarcest
    * language (rate_l = min_count / count_l, i.e. a uniform target mix at
    * the largest feasible size), then apply it with the same
    * deterministic md5-uniform keep the split/sample operators use.
    *
    * The rates come from ONE tiny aggregate (|languages| rows) crossed
    * with its own min; the corpus is scanned once and filtered map-side
    * against the broadcast rate table — at 100 TB this is a single pass
    * with no shuffle of the documents at all. Thresholds are derived with
    * integer arithmetic only ((min·16^6) DIV cnt, rendered as a 6-hex-char
    * string), so Spark and DuckDB agree bit-for-bit. */
  val mixBalance: QueryDef = QueryDef(
    "pipeline_mix_balance", "C3 C9 north_star-pipeline",
    """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |m AS (SELECT min(cnt) AS min_cnt FROM c),
      |r AS (SELECT lang, (min_cnt * 16777216) // cnt AS thr FROM c, m)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN r ON d.lang = r.lang
      |WHERE thr >= 16777216
      |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) < lower(lpad(hex(thr), 6, '0'))
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
    val rates = counts.crossJoin(broadcast(counts.agg(min(col("cnt")).as("min_cnt"))))
      .select(col("lang"), expr("(min_cnt * 16777216L) DIV cnt").as("thr"))
      .withColumn("thr_hex", lower(lpad(hex(col("thr")), 6, "0")))
    docs.join(broadcast(rates), Seq("lang"))
      .where(col("thr") >= 16777216L ||
        substring(md5(col("doc_id").cast(StringType)), 1, 6) < col("thr_hex"))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** The curation pipeline, second composition: the round-8 pillars chained
    * end-to-end with ONE full oracle —
    *
    *   Gopher shape gates ([[graft.text.TextAnalysis.gopherMetrics]]) →
    *   language filter → exact dedup keep-first →
    *   benchmark decontamination (drop docs sharing ≥3 shingles with the
    *   held-out split, plus the held-out split itself).
    *
    * Plan shape at 100 TB: the gate pass is one narrow projection (the
    * per-word list_filter runs over short token arrays map-side); the
    * shuffles are the dedup fingerprint aggregate + semi-join and the
    * decontamination gram join (benchmark side broadcastable, Bloom-gated
    * variant available) — each keyed on uniform hashes, each AFTER the
    * narrow gates have already dropped most rows. */
  val curateV2: QueryDef = QueryDef(
    "pipeline_curate_v2", "C17 C19 north_star-pipeline",
    """WITH m AS (
      |  SELECT doc_id, lang, source, text, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
      |    (n_words BETWEEN 10 AND 100000 AND mean_word_len BETWEEN 2 AND 12
      |      AND symbol_ratio < 0.1 AND alpha_word_ratio > 0.6) AS pass_gopher
      |  FROM (
      |    SELECT doc_id, lang, source, text,
      |      CAST(len(w) AS INT) AS n_words,
      |      CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / len(w) AS mean_word_len,
      |      CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(w) AS symbol_ratio,
      |      CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(w) AS alpha_word_ratio
      |    FROM (SELECT doc_id, lang, source, text,
      |      list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM documents) t1) t2
      |), gated AS (SELECT * FROM m WHERE pass_gopher AND lang = 'en'),
      |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
      |deduped AS (SELECT * FROM gated WHERE doc_id IN (SELECT doc_id FROM keep)),
      |toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [array_to_string(t, ' ')] END) AS grams FROM toks),
      |gr AS (SELECT doc_id, unnest(grams) AS g FROM sh),
      |bench AS (SELECT DISTINCT g FROM gr WHERE doc_id % 100 = 0),
      |flagged AS (SELECT gr.doc_id FROM gr JOIN bench ON gr.g = bench.g
      |  WHERE gr.doc_id % 100 <> 0 GROUP BY gr.doc_id HAVING count(*) >= 3)
      |SELECT doc_id, source, n_words, mean_word_len
      |FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM flagged) AND doc_id % 100 <> 0
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // all downstream branches (gopher metrics, shingles, dedup hash) are
    // CPU-heavy narrow stages — repartition the shared scan once
    val docs = Tables.documents(s, d).spreadByKey(col("doc_id"))
    val gated = graft.text.TextAnalysis
      .gopherMetrics(docs, carry = Seq("text", "lang", "source"))
      .where(col("pass_gopher") && col("lang") === "en")
    val keep = gated
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val deduped = gated.join(keep, Seq("doc_id"), "left_semi")
    val grams = docs.select(col("doc_id"),
      explode(graft.dedup.Dedup.shingles(col("text"))).as("g"))
    val bench = grams.where(col("doc_id") % 100 === 0).select("g").distinct()
    val flagged = grams.where(col("doc_id") % 100 =!= 0)
      .join(bench, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
      .select("doc_id")
    deduped
      .where(col("doc_id") % 100 =!= 0) // the held-out split never trains
      .join(flagged, Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "n_words", "mean_word_len")
      .orderBy("doc_id")
  }

  /** Data-derived quality thresholds (the adaptive twin of fixed gates
    * like `pipeline_curate`'s token budget): per-language exact length
    * quantiles (p10/p99) are computed in one tiny aggregate, broadcast
    * back over the corpus, and documents outside their OWN language's band
    * are dropped — a fixed global cut would systematically bias against
    * languages with shorter scripts (zh) or longer compounds (de).
    *
    * Scale shape: same as [[mixBalance]] — the threshold table is |langs|
    * rows (broadcast), the corpus passes ONCE with a narrow projection and
    * a broadcast join; exact `percentile` keeps the oracle bit-exact
    * (DuckDB `quantile_cont`; at extreme cardinalities swap for the
    * mergeable `approx_percentile` twin, same plan — see c9_quantiles_approx
    * for that documented trade). */
  val adaptiveLengthGate: QueryDef = QueryDef(
    "pipeline_adaptive_length_gate", "C9 C19 north_star-pipeline",
    """WITH n AS (
      |  SELECT doc_id, lang, source,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS INT) AS n_tokens
      |  FROM documents),
      |th AS (SELECT lang, round(quantile_cont(n_tokens, 0.10), 6) AS lo,
      |  round(quantile_cont(n_tokens, 0.99), 6) AS hi FROM n GROUP BY lang)
      |SELECT n.doc_id, n.lang, n.n_tokens, th.lo, th.hi
      |FROM n JOIN th USING (lang)
      |WHERE n.n_tokens >= th.lo AND n.n_tokens <= th.hi
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val n = Tables.documents(s, d).select(
      col("doc_id"), col("lang"), col("source"),
      size(filter(split(trim(col("text")), "\\s+"), x => x =!= lit(""))).as("n_tokens"))
    // 1e-6 grid: the engines' interpolation formulas differ by ulps and a
    // threshold used in a >= filter must not sit an ulp apart (c9Quantiles)
    val th = n.groupBy("lang").agg(
      round(percentile(col("n_tokens"), lit(0.10)), 6).as("lo"),
      round(percentile(col("n_tokens"), lit(0.99)), 6).as("hi"))
    n.join(broadcast(th), Seq("lang"))
      .where(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .select("doc_id", "lang", "n_tokens", "lo", "hi")
      .orderBy("doc_id")
  }

  /** Apply step for exact-substring span dedup (the greedy keep-first
    * policy over [[graft.dedup.Dedup.spanDedupPairs]]): any document
    * sharing a verbatim 16-token window with a LOWER-id document is
    * dropped. Greedy-by-id is the standard policy for span dedup (Lee et
    * al. remove one side of every overlapping pair); because pairs are
    * emitted as doc_a < doc_b, the drop set is exactly the doc_b column —
    * one anti-join, no cluster pass needed (unlike the Jaccard-cluster
    * apply in [[dedupApply]], where transitive families are wanted).
    * Fully oracle-checked end-to-end: pair generation (df cap included)
    * AND the keep policy. */
  val spanDedupApply: QueryDef = QueryDef(
    "pipeline_span_dedup_apply", "C17 north_star-pipeline",
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(t) - ${graft.dedup.Dedup.spanTokens - 2}),
      |      i -> array_to_string(t[i:i+${graft.dedup.Dedup.spanTokens - 1}], ' ')))) AS g
      |  FROM toks WHERE len(t) >= ${graft.dedup.Dedup.spanTokens}
      |), df AS (SELECT g, count(*) AS df FROM grams GROUP BY g
      |), keep AS (
      |  SELECT gr.doc_id, gr.g FROM grams gr JOIN df USING (g)
      |  WHERE df.df <= ${graft.dedup.Dedup.ngramDfCap}
      |), drops AS (
      |  SELECT DISTINCT b.doc_id FROM keep a JOIN keep b
      |  ON a.g = b.g AND a.doc_id < b.doc_id)
      |SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val drops = graft.dedup.Dedup
      .spanDedupPairs(docs, graft.dedup.Dedup.spanTokens, graft.dedup.Dedup.ngramDfCap)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Per-source winsorization of document length: clip each token count
    * into its source's [p05, p95] band — the robust-statistics treatment
    * of outliers that KEEPS every row (unlike [[adaptiveLengthGate]],
    * which drops), standard before computing corpus statistics that a few
    * giant or empty documents would otherwise dominate.
    *
    * Scale shape: thresholds are one tiny per-source aggregate broadcast
    * back over the corpus — ONE pass over documents, no second shuffle
    * (same pattern as [[mixBalance]]). Output stays per-row, so the
    * clipped doubles are bitwise-deterministic (same interpolation
    * formula as c9_quantiles on both engines; no order-dependent double
    * summation anywhere). */
  val winsorize: QueryDef = QueryDef(
    "pipeline_winsorize", "C9 north_star-pipeline",
    """WITH n AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS INT) AS n_tokens
      |  FROM documents),
      |th AS (SELECT source, round(quantile_cont(n_tokens, 0.05), 6) AS lo,
      |  round(quantile_cont(n_tokens, 0.95), 6) AS hi FROM n GROUP BY source)
      |SELECT n.doc_id, n.source, n.n_tokens,
      |  LEAST(GREATEST(n.n_tokens::DOUBLE, th.lo), th.hi) AS w_tokens,
      |  (n.n_tokens::DOUBLE < th.lo OR n.n_tokens::DOUBLE > th.hi) AS clipped
      |FROM n JOIN th USING (source)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val n = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      size(filter(split(trim(col("text")), "\\s+"), x => x =!= lit(""))).as("n_tokens"))
    // 1e-6 grid on both engines — see adaptiveLengthGate's rationale
    val th = n.groupBy("source").agg(
      round(percentile(col("n_tokens"), lit(0.05)), 6).as("lo"),
      round(percentile(col("n_tokens"), lit(0.95)), 6).as("hi"))
    val t = col("n_tokens").cast(DoubleType)
    n.join(broadcast(th), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        least(greatest(t, col("lo")), col("hi")).as("w_tokens"),
        (t < col("lo") || t > col("hi")).as("clipped"))
      .orderBy("doc_id")
  }

  /** Token-budget curation: fill a fixed per-source token budget with the
    * highest-quality documents first — the selection step that decides
    * what actually enters a training mix once a budget is set. Quality
    * proxy is the alpha ratio (one int÷int double division, bitwise
    * deterministic per row); per source, documents are taken best-first
    * (ties by doc_id) while the running token sum stays within budget.
    *
    * Scale shape: ONE shuffle of the corpus on source for the window pass
    * (same partitioning as [[sequencePack]]); the cumulative sum is a
    * running window aggregate, no self-join, no per-group collect. The cut
    * is a take-while: documents are taken in quality order while the
    * running sum (including the current document) fits the budget; since
    * the sum is monotone, the kept set is a prefix — pinned in
    * CurationSpec. */
  val tokenBudget: QueryDef = QueryDef(
    "pipeline_token_budget", "C12 north_star-pipeline",
    """WITH q AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS INT) AS n_tokens,
      |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) AS quality
      |  FROM documents),
      |c AS (
      |  SELECT *, sum(n_tokens) OVER (PARTITION BY source
      |    ORDER BY quality DESC NULLS LAST, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM q)
      |SELECT doc_id, source, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c WHERE cum_tokens <= 800
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val q = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      size(filter(split(trim(col("text")), "\\s+"), x => x =!= lit(""))).as("n_tokens"),
      (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast(DoubleType) /
        length(col("text"))).as("quality"))
    // quality is NULL for empty text (0/0); DESC defaults to NULLS FIRST in
    // DuckDB but NULLS LAST in Spark — pin NULLS LAST explicitly on both.
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc_nulls_last, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.withColumn("cum_tokens", sum(col("n_tokens").cast(LongType)).over(w))
      .where(col("cum_tokens") <= 800)
      .select("doc_id", "source", "n_tokens", "quality", "cum_tokens")
      .orderBy("doc_id")
  }

  /** Deterministic URL planting: the documents corpus carries no URLs, so —
    * exactly like the binary-PGM asset planting in
    * [[graft.multimodal.Multimodal]] — each doc mints a REAL, varied URL
    * from (doc_id, source): 2 schemes × 4 subdomains × 2 TLDs × optional
    * port × optional query string, all decided by doc_id residues. The
    * parse step then has genuine work to do (scheme strip, port exclusion,
    * path/query boundaries) and the oracle re-derives the host with its
    * own independent machinery (regexp vs java.net.URI), so a parsing bug
    * on either side breaks the hash compare. */
  private def plantedUrl: org.apache.spark.sql.Column = {
    // every residue below is COPRIME-decorrelated from the source
    // assignment (source = doc_id % 20), so each planted domain really
    // fans out over schemes, subdomains, ports, and query strings — a
    // doc_id % 4 subdomain, say, would be constant within a source
    val m = (k: Int) => col("doc_id") % k
    val sub = m(7) % 4
    concat(
      when(m(3) === 0, lit("http")).otherwise(lit("https")), lit("://"),
      when(sub === 0, lit("")).when(sub === 1, lit("www."))
        .when(sub === 2, lit("cdn.")).otherwise(lit("blog.")),
      col("source"), lit("-example."),
      when(m(8) < 4, lit("com")).otherwise(lit("org")),
      when(m(7) === 3, lit(":8443")).otherwise(lit("")),
      lit("/d/"), col("doc_id").cast(StringType),
      when(m(9) === 0, lit("?ref=feed&x=1")).otherwise(lit("")))
  }

  /** CCNet-style domain grouping (Wenzek et al., arXiv:1911.00359 §4: web
    * corpora are curated per registered DOMAIN, not per page): extract
    * host and registered domain from each document's URL, then one
    * aggregation pass per domain — doc count, distinct hosts, exact-dup
    * collapse (distinct md5 fingerprints) and the resulting dup ratio,
    * total chars. The per-domain dup ratio is the CCNet signal for
    * mirror/boilerplate sites (a domain whose pages hash-collapse is a
    * mirror, not content).
    *
    * Scale shape: URL build + `parse_url` + domain regexp are one narrow
    * whole-stage-codegen projection; the ONLY shuffle is the hash
    * aggregate on domain (two-phase with map-side partials; the two
    * count-distincts expand map-side and still ride the same exchange).
    * Domains are ~uniform under the hash — no skew handling needed, and
    * at 100 TB the same plan holds with domain cardinality ~10⁷ ≪ rows. */
  val domainStats: QueryDef = QueryDef(
    "pipeline_domain_stats", "C15 C9 north_star-pipeline",
    """WITH u AS (
      |  SELECT doc_id, source, text, n_chars,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END) || '://' ||
      |    (CASE (doc_id % 7) % 4 WHEN 0 THEN '' WHEN 1 THEN 'www.' WHEN 2 THEN 'cdn.' ELSE 'blog.' END) ||
      |    source || '-example.' ||
      |    (CASE WHEN doc_id % 8 < 4 THEN 'com' ELSE 'org' END) ||
      |    (CASE WHEN doc_id % 7 = 3 THEN ':8443' ELSE '' END) ||
      |    '/d/' || CAST(doc_id AS VARCHAR) ||
      |    (CASE WHEN doc_id % 9 = 0 THEN '?ref=feed&x=1' ELSE '' END) AS url
      |  FROM documents),
      |h AS (SELECT *, regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host FROM u),
      |d AS (SELECT *, regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain FROM h)
      |SELECT domain,
      |  count(*) AS n_docs,
      |  count(DISTINCT host) AS n_hosts,
      |  count(DISTINCT md5(text)) AS n_unique,
      |  1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*) AS dup_ratio,
      |  CAST(sum(n_chars) AS BIGINT) AS tot_chars
      |FROM d GROUP BY domain ORDER BY domain""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"),
        plantedUrl.as("url"))
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("domain", regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
      .groupBy("domain")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        countDistinct(md5(col("text"))).as("n_unique"),
        // one IEEE division + subtraction of exact integers — bitwise
        // deterministic on both engines, no rounding grid needed
        (lit(1.0) - countDistinct(md5(col("text"))).cast(DoubleType) /
          count(lit(1))).as("dup_ratio"),
        sum(col("n_chars")).as("tot_chars"))
      .orderBy("domain")
  }

  /** URL canonicalization + exact-URL dedup — the crawl-frontier hygiene
    * step every web pipeline runs before fetching or grouping: normalize
    * scheme to https, strip the `www.` subdomain, drop ports and query
    * strings, strip the trailing slash, then keep-first dedup on the
    * canonical form. URLs are planted like [[plantedUrl]] but with
    * COLLIDING paths (`/d/<doc_id % 50>`), so distinct raw URLs (http vs
    * https, www vs bare, ports, tracking params) really do collapse into
    * shared canonical keys and the dedup has work to do. The Spark side
    * extracts the host with `parse_url` (java.net.URI machinery) while
    * the oracle re-derives it by regexp — a genuine differential check of
    * the canonicalization, like [[domainStats]].
    *
    * Scale shape: canonicalization is one codegen projection; the dedup
    * is one hash aggregate on the canonical key. Nothing else. */
  val urlCanonicalize: QueryDef = QueryDef(
    "pipeline_url_canonicalize", "C15 C17 north_star-pipeline",
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END) || '://' ||
      |    (CASE (doc_id % 7) % 4 WHEN 0 THEN '' WHEN 1 THEN 'www.' WHEN 2 THEN 'cdn.' ELSE 'blog.' END) ||
      |    source || '-example.' ||
      |    (CASE WHEN doc_id % 8 < 4 THEN 'com' ELSE 'org' END) ||
      |    (CASE WHEN doc_id % 7 = 3 THEN ':8443' ELSE '' END) ||
      |    '/d/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 9 = 0 THEN '?ref=feed&x=1' ELSE '' END) ||
      |    (CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, url,
      |    'https://' ||
      |    regexp_replace(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1), '^www\.', '') ||
      |    regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1), '/$', '')
      |      AS canonical_url
      |  FROM u)
      |SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM c GROUP BY canonical_url
      |ORDER BY canonical_url""".stripMargin) { (s, d) =>
    val m = (k: Int) => col("doc_id") % k
    val sub = m(7) % 4
    val url = concat(
      when(m(3) === 0, lit("http")).otherwise(lit("https")), lit("://"),
      when(sub === 0, lit("")).when(sub === 1, lit("www."))
        .when(sub === 2, lit("cdn.")).otherwise(lit("blog.")),
      col("source"), lit("-example."),
      when(m(8) < 4, lit("com")).otherwise(lit("org")),
      when(m(7) === 3, lit(":8443")).otherwise(lit("")),
      lit("/d/"), m(50).cast(StringType),
      when(m(9) === 0, lit("?ref=feed&x=1")).otherwise(lit("")),
      when(m(11) === 0, lit("/")).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .withColumn("canonical_url", concat(
        lit("https://"),
        regexp_replace(parse_url(col("url"), lit("HOST")), "^www\\.", ""),
        regexp_replace(
          regexp_extract(col("url"), "^[a-z]+://[^/?#]*([^?#]*)", 1), "/$", "")))
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("canonical_url")
  }

  /** Mojibake repair: fix UTF-8-read-as-Latin-1 artifacts ('Ã©' for 'é',
    * 'â€™' for a right quote, 'Â ' for a non-breaking space), strip ASCII
    * control chars, and normalize whitespace — the standard
    * encoding-hygiene projection of a web-crawl pipeline. Entirely
    * per-row `replace`/`regexp_replace`/`trim` built-ins: one
    * whole-stage-codegen projection, no shuffle, embarrassingly parallel
    * at any scale. */
  def cleanMojibake(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val fixed = Seq("Ã©" -> "é", "â€™" -> "'", "Â " -> " ")
      .foldLeft(text) { case (c, (bad, good)) => replace(c, lit(bad), lit(good)) }
    trim(regexp_replace(regexp_replace(fixed, "[\\x00-\\x1F\\x7F]", " "), "\\s+", " "))
  }

  /** Registered mojibake-repair query: the corpus is clean ASCII, so —
    * like [[plantedUrl]] and the PGM asset planting — each doc is first
    * CORRUPTED deterministically by doc_id residue (mojibake prefix,
    * mojibake suffix, NBSP-artifact + control char, or left untouched as
    * the identity control group), then repaired by [[cleanMojibake]]. The
    * oracle plants and repairs with DuckDB's own string machinery, so a
    * divergence in any fix rule, the control-strip regex, or the
    * whitespace collapse breaks the hash compare on the full cleaned
    * text. */
  val mojibakeClean: QueryDef = QueryDef(
    "pipeline_mojibake_clean", "C15 C19 north_star-pipeline",
    """WITH c AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'Ã©tÃ© ' || text
      |      WHEN 1 THEN text || ' donâ€™t'
      |      WHEN 2 THEN 'Â ' || chr(9) || text
      |      ELSE text END AS corrupted
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, corrupted,
      |    trim(regexp_replace(regexp_replace(
      |      replace(replace(replace(corrupted, 'Ã©', 'é'), 'â€™', ''''), 'Â ', ' '),
      |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text
      |  FROM c)
      |SELECT doc_id, clean_text,
      |  CAST(length(corrupted) - length(clean_text) AS INT) AS n_removed
      |FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
    val m4 = col("doc_id") % 4
    val corrupted = when(m4 === 0, concat(lit("Ã©tÃ© "), col("text")))
      .when(m4 === 1, concat(col("text"), lit(" donâ€™t")))
      .when(m4 === 2, concat(lit("Â \t"), col("text")))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), corrupted.as("corrupted"))
      .withColumn("clean_text", cleanMojibake(col("corrupted")))
      .select(col("doc_id"), col("clean_text"),
        (length(col("corrupted")) - length(col("clean_text"))).as("n_removed"))
      .orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(
    curateDocs, curateV2, piiRedact, decontaminate, decontaminateBloom, cdcMerge,
    trainValSplit, repetitionScore, stratifiedSample, importanceThin,
    sequencePack, chunkDocs,
    dedupApply, mixBalance, adaptiveLengthGate, spanDedupApply, winsorize,
    tokenBudget, domainStats, mojibakeClean, urlCanonicalize)
}
