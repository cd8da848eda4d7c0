package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.Tables.SpreadOps

/** C17 — deduplication operators over `documents` (LLM-pipeline pillar).
  *
  * Exact dedup is a hash group-by on a content fingerprint. Near-dup is
  * MinHash + LSH banding: shingle → k minhashes → b bands → bucket join —
  * candidates only ever meet inside a band bucket, NEVER all-pairs, so the
  * cost is O(n·k) map-side plus one shuffle on (band, bandHash). SimHash is
  * the bit-vector analogue with chunk-match candidate generation.
  *
  * All signature computation uses Spark higher-order functions
  * (`transform`/`aggregate`/`sequence`) over codegen'd hash primitives
  * (`hash` = murmur3, `xxhash64`) — one narrow projection per doc, no UDFs,
  * no driver-side loops. At 100 TB the only shuffles are the band-bucket
  * join and the final candidate verification join, both on uniformly
  * hash-distributed keys.
  */
object Dedup {

  /** Exact-dedup summary: content fingerprint → multiplicity + survivor id. */
  val exact: QueryDef = QueryDef(
    "c17_dedup_exact", "C17",
    """SELECT md5(text) AS fp, count(*) AS cnt, min(doc_id) AS keep_id
      |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))
      .orderBy("fp")
  }

  /** Exact-dedup survivors: first doc_id per content fingerprint. Uses a
    * min-per-group + semi-join (aggregate, not window) so the heavy table is
    * shuffled once on the fingerprint — the canonical scale shape. */
  val keepFirst: QueryDef = QueryDef(
    "c17_dedup_keep_first", "C17",
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val keep = docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(keep, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Distinct word 3-gram shingle array (lowercased, whitespace-tokenized);
    * documents shorter than 3 tokens fall back to one whole-text shingle.
    * Single-pass custom expression — see [[graft.functions.ShingleArray]]. */
  def shingles(text: Column): Column =
    graft.functions.HashExprs.shingleArray(tokens(text), 3)

  /** Whitespace token array (lowercased) — input to the signature exprs. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** MinHash-LSH near-duplicate pairs: k=64 minhashes, 16 bands × 4 rows,
    * band-bucket join for candidates, exact shingle-set Jaccard verification,
    * threshold 0.7.
    *
    * Oracle = the exact all-pairs shingle-Jaccard (DuckDB list arithmetic,
    * same shingle construction the green `c17_ngram_jaccard` oracle proves
    * equivalent). Why an exact oracle is sound for an LSH query: the
    * verification stage computes the exact Jaccard, so false positives are
    * impossible (LSH ⊆ exact always); equality additionally requires
    * recall = 1, which holds on the test corpus (verified bit-exact at
    * sf0.01: same 25 pairs, identical jaccard values) and is near-certain
    * for genuine near-dups (a j=0.9 pair collides in ≥1 of 16 bands with
    * probability 1 - (1-0.9⁴)^16 ≈ 1-3e-9). A pair sitting exactly at the
    * j=0.7 threshold has ~1.2% miss probability — the documented LSH trade.
    * Because the signatures are deterministic, that probability is resolved
    * once per corpus, not re-rolled per run: the oracle stays green until
    * the testdata changes. If testdata is ever regenerated, re-verify
    * recall before trusting strict equality (a pair landing near j=0.7
    * could legitimately be missed and would read as an engine bug).
    * DedupSpec additionally asserts planted near-dups are found and that
    * recall on the current corpus is exactly 1 vs the exact join. */
  val minhashLsh: QueryDef = QueryDef(
    "c17_minhash_lsh", "C17",
    """WITH toks AS (
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
      |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    minhashPairs(Tables.documents(s, d), k = 64, bands = 16, threshold = 0.7)
      .orderBy("doc_a", "doc_b")
  }

  /** Reusable MinHash-LSH pipeline: documents(doc_id, text) → verified
    * near-dup pairs (doc_a < doc_b, exact jaccard >= threshold).
    *
    * Stages: (1) signature — one [[graft.functions.MinHashSig]] pass per doc
    * (one murmur per shingle window + O(1) per permutation, no shingle
    * strings materialized); (2) banding — one row per (doc, band), bucket
    * join on (band, band-slice hash); (3) verification — exact Jaccard over
    * shingle sets, computed only for candidate docs. Never all-pairs: cost
    * is O(n·k) map-side + shuffles keyed on uniformly-distributed hashes.
    */
  def minhashPairs(docs: DataFrame, k: Int, bands: Int, threshold: Double): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val banded = bandedSignatures(docs, "doc_id", k, bands)
    val cand = banded.as("a")
      .join(banded.as("b"), Seq("band", "band_hash"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b") // candidates colliding in >1 band
    verifyJaccard(cand, docs, docs, "doc_a", "doc_b", threshold)
  }

  /** One row per (doc, band) with the band's slice hash — the fused
    * signature+banding stage shared by [[minhashPairs]] and
    * [[incrementalNearDups]] (same parameters ⇒ same pair space). */
  private def bandedSignatures(docs: DataFrame, idAlias: String,
      k: Int, bands: Int): DataFrame = docs.select(
    col("doc_id").as(idAlias),
    posexplode(graft.functions.HashExprs.minhashBands(tokens(col("text")), 3, k, bands)))
    .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))

  /** Exact shingle-set Jaccard verification of candidate pairs
    * (`aCol`, `bCol`) — computed ONLY for candidates, never all-pairs. */
  private def verifyJaccard(cand: DataFrame, aDocs: DataFrame, bDocs: DataFrame,
      aCol: String, bCol: String, threshold: Double): DataFrame = {
    val shA = aDocs.select(col("doc_id").as(aCol), shingles(col("text")).as("sh_a"))
    val shB = bDocs.select(col("doc_id").as(bCol), shingles(col("text")).as("sh_b"))
    cand.join(shA, Seq(aCol)).join(shB, Seq(bCol))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select(aCol, bCol, "jaccard")
  }

  /** Incremental-ingestion dedup — flag each NEW document that near-dups a
    * document already in the corpus, without ever pairing historical docs
    * with each other. This is the production shape for continuous
    * ingestion: at 100 TB the historical side's banded signatures are a
    * STORED index (computed once at ingest time, bucketed by
    * (band, band_hash)); each arriving batch computes bands only for its
    * own documents and probes the index, so per-batch cost is
    * O(batch · k) + collisions — full-corpus re-dedup never happens, and
    * the old×old quadrant (the overwhelming bulk of pair space) is never
    * generated. Here the split is simulated by doc_id % 5 (new = multiples
    * of 5); candidates are exact-verified like [[minhashLsh]], whose
    * recall-1-on-this-corpus premise covers this cross-split subset of the
    * same pair space (same signature parameters). */
  val incrementalDedup: QueryDef = QueryDef(
    "c17_incremental_dedup", "C17 C16",
    """WITH toks AS (
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
      |  SELECT n.doc_id AS new_doc, o.doc_id AS old_doc, count(*) AS i
      |  FROM gr n JOIN gr o ON n.g = o.g
      |  WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
      |  GROUP BY 1, 2)
      |SELECT new_doc, old_doc, CAST(i AS DOUBLE) / (sn.n + so.n - i) AS jaccard
      |FROM inter JOIN sizes sn ON sn.doc_id = new_doc JOIN sizes so ON so.doc_id = old_doc
      |WHERE CAST(i AS DOUBLE) / (sn.n + so.n - i) >= 0.7
      |ORDER BY new_doc, old_doc""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val isNew = col("doc_id") % 5 === 0
    incrementalNearDups(docs.where(!isNew), docs.where(isNew),
      k = 64, bands = 16, threshold = 0.7)
      .orderBy("new_doc", "old_doc")
  }

  /** (oldDocs, newDocs) → verified cross-split near-dup pairs
    * (new_doc, old_doc, jaccard ≥ threshold). The banded-probe half of
    * [[minhashPairs]]: only the new side joins against the old side's
    * band buckets, so historical pairs are never candidates. */
  def incrementalNearDups(oldDocs: DataFrame, newDocs: DataFrame,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // same bandedSignatures/verifyJaccard stages as minhashPairs — only the
    // candidate join shape differs (probe-only, never old×old), so the
    // recall premise cannot drift between the full and incremental paths
    val cand = bandedSignatures(newDocs, "new_doc", k, bands)
      .join(bandedSignatures(oldDocs, "old_doc", k, bands), Seq("band", "band_hash"))
      .select("new_doc", "old_doc")
      .dropDuplicates("new_doc", "old_doc")
    verifyJaccard(cand, newDocs, oldDocs, "new_doc", "old_doc", threshold)
  }

  /** 64-bit SimHash per document from distinct word tokens (one murmur per
    * token, single pass — [[graft.functions.SimHashSig]]). */
  def simhash(text: Column): Column =
    graft.functions.HashExprs.simhashSig(array_distinct(tokens(text)))

  /** SimHash near-dup candidates: 4 chunks of 16 bits (pigeonhole: any pair
    * with hamming <= 3 shares at least one chunk); docs sharing a chunk are
    * candidates, verified by exact hamming distance.
    *
    * Skew guard: buckets larger than 64 docs are dropped before the join —
    * an oversized bucket means that chunk carries no discriminating signal
    * for those docs (here: same-vocab synthetic text correlates the bits),
    * and candidate pairs would grow quadratically in bucket size. A pair is
    * only lost if ALL its shared chunks are degenerate. This cap is what
    * keeps the plan viable at 100 TB. noOracle; spec-tested. */
  val simhashPairs: QueryDef = QueryDef.noOracle("c17_simhash", "C17") { (s, d) =>
    val sigs = Tables.documents(s, d)
      .select(col("doc_id"), simhash(col("text")).as("sig"))
    val chunked = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(transform(
        sequence(lit(0), lit(3)),
        c => call_function("shiftrightunsigned", col("sig"), c * 16).bitwiseAND(lit(0xFFFFL)))))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
    val smallBuckets = chunked.groupBy("chunk", "chunk_val")
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") <= 64)
      .select("chunk", "chunk_val")
    val pruned = chunked.join(smallBuckets, Seq("chunk", "chunk_val"))
    val a = pruned.select(
      col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = pruned.select(
      col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle twin of [[simhashPairs]]: the SAME pipeline — 64-bit per-doc
    * signature from distinct word tokens, 4×16-bit chunk bucketing with the
    * 64-doc bucket cap, candidate pairs verified by exact hamming — with
    * the bit vector derived from md5 (the one hash both engines ship)
    * instead of murmur+mix, so the signature derivation AND the candidate
    * pair set are hash-checked against DuckDB end-to-end. Token bit b of
    * the 64-bit key = bit (b mod 4) of hex nibble (b div 4) of md5(tok);
    * signature bit b = 1 iff Σ_tokens (2·bit − 1) ≥ 0 (tie pinned to 1).
    * Chunks are materialized as four 16-bit ints, so hamming is
    * Σ bit_count(xor) over ints on both engines. Candidates are emitted
    * UNFILTERED with their hamming and the ≤3 near-dup flag, so the oracle
    * pins the whole candidate set, not just the survivors. */
  val simhashMd5: QueryDef = QueryDef(
    "c17_simhash_md5", "C17",
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents),
      |nib AS (
      |  SELECT doc_id, CAST(i AS INT) AS i,
      |    strpos('0123456789abcdef', substr(md5(tok), CAST(i + 1 AS INT), 1)) - 1 AS v
      |  FROM toks, unnest(range(0, 16)) t(i)),
      |agg AS (
      |  SELECT doc_id, i, count(*) AS n,
      |    sum((v >> 0) & 1) AS c0, sum((v >> 1) & 1) AS c1,
      |    sum((v >> 2) & 1) AS c2, sum((v >> 3) & 1) AS c3
      |  FROM nib GROUP BY doc_id, i),
      |bits AS (
      |  SELECT doc_id, i, j, CASE WHEN 2 * c - n >= 0 THEN 1 ELSE 0 END AS bit
      |  FROM (SELECT doc_id, i, n, unnest([c0, c1, c2, c3]) AS c,
      |               unnest([0, 1, 2, 3]) AS j FROM agg)),
      |chunks AS (
      |  SELECT doc_id, CAST((i * 4 + j) // 16 AS INT) AS c,
      |    CAST(sum(bit * (1 << ((i * 4 + j) % 16))) AS INT) AS chunk_val
      |  FROM bits GROUP BY doc_id, (i * 4 + j) // 16),
      |sigs AS (
      |  SELECT doc_id,
      |    max(CASE WHEN c = 0 THEN chunk_val END) AS s0,
      |    max(CASE WHEN c = 1 THEN chunk_val END) AS s1,
      |    max(CASE WHEN c = 2 THEN chunk_val END) AS s2,
      |    max(CASE WHEN c = 3 THEN chunk_val END) AS s3
      |  FROM chunks GROUP BY doc_id),
      |small AS (
      |  SELECT c, chunk_val FROM chunks GROUP BY c, chunk_val HAVING count(*) <= 64),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM chunks a JOIN small USING (c, chunk_val)
      |       JOIN chunks b USING (c, chunk_val)
      |  WHERE a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(sa.s0, sb.s0)) + bit_count(xor(sa.s1, sb.s1))
      |     + bit_count(xor(sa.s2, sb.s2)) + bit_count(xor(sa.s3, sb.s3)) AS INT) AS hamming,
      |  (bit_count(xor(sa.s0, sb.s0)) + bit_count(xor(sa.s1, sb.s1))
      |     + bit_count(xor(sa.s2, sb.s2)) + bit_count(xor(sa.s3, sb.s3))) <= 3 AS is_dup
      |FROM cand
      |JOIN sigs sa ON sa.doc_id = doc_a
      |JOIN sigs sb ON sb.doc_id = doc_b
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    simhashMd5Pairs(Tables.documents(s, d))
  }.asBaseline("md5-keyed derivation anchor; scale path is c17_simhash (fused murmur SimHashSig expression)")

  /** The md5-keyed signature derivation of [[simhashMd5]] chunked at a
    * caller-chosen width: documents(doc_id, text) → (doc_id, c, chunk_val)
    * with the 64 signature bits packed into 64/bitsPerChunk long-typed
    * chunks. Factored out so the parameter fuzz (DedupParamGen) can
    * differentially test the band/row split against DuckDB at widths other
    * than the registered 4×16. */
  def simhashMd5Chunks(documents: DataFrame, bitsPerChunk: Int): DataFrame = {
    require(64 % bitsPerChunk == 0 && bitsPerChunk <= 32,
      s"bitsPerChunk must divide 64 and fit a long shift, got $bitsPerChunk")
    val toks = documents
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .distinct()
    val nib = toks
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), lit(15)),
        i => conv(col("h").substr(i + lit(1), lit(1)), 16, 10).cast(IntegerType))))
      .withColumnsRenamed(Map("pos" -> "i", "col" -> "v"))
    val agg = nib.groupBy("doc_id", "i").agg(
      count(lit(1)).as("n"),
      sum(shiftright(col("v"), 0).bitwiseAND(lit(1))).as("c0"),
      sum(shiftright(col("v"), 1).bitwiseAND(lit(1))).as("c1"),
      sum(shiftright(col("v"), 2).bitwiseAND(lit(1))).as("c2"),
      sum(shiftright(col("v"), 3).bitwiseAND(lit(1))).as("c3"))
    val bits = agg
      .select(col("doc_id"), col("i"), col("n"),
        posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))))
      .withColumnsRenamed(Map("pos" -> "j", "col" -> "c"))
      .select(col("doc_id"), col("i"), col("j"),
        when(lit(2) * col("c") - col("n") >= 0, 1).otherwise(0).as("bit"))
    bits
      .groupBy(col("doc_id"),
        floor((col("i") * 4 + col("j")) / bitsPerChunk).cast(IntegerType).as("c"))
      .agg(sum(col("bit") * expr(s"shiftleft(1L, (i * 4 + j) % $bitsPerChunk)"))
        .as("chunk_val"))
  }

  /** documents(doc_id, text) → (doc_a, doc_b, hamming, is_dup): the
    * [[simhashMd5]] pipeline, factored for planted-corpus specs. */
  def simhashMd5Pairs(documents: DataFrame): DataFrame = {
    val chunks = simhashMd5Chunks(documents, 16)
      .withColumn("chunk_val", col("chunk_val").cast(IntegerType))
    val sigs = chunks.groupBy("doc_id").agg(
      max(when(col("c") === 0, col("chunk_val"))).as("s0"),
      max(when(col("c") === 1, col("chunk_val"))).as("s1"),
      max(when(col("c") === 2, col("chunk_val"))).as("s2"),
      max(when(col("c") === 3, col("chunk_val"))).as("s3"))
    val small = chunks.groupBy("c", "chunk_val")
      .agg(count(lit(1)).as("bsz")).where(col("bsz") <= 64)
      .select("c", "chunk_val")
    val pruned = chunks.join(small, Seq("c", "chunk_val"))
    val cand = pruned.select(col("c"), col("chunk_val"), col("doc_id").as("doc_a"))
      .join(pruned.select(col("c"), col("chunk_val"), col("doc_id").as("doc_b")),
        Seq("c", "chunk_val"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    def ham(a: String, b: String) = bit_count(col(a).bitwiseXOR(col(b)))
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("s0").as("a0"),
        col("s1").as("a1"), col("s2").as("a2"), col("s3").as("a3")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("s0").as("b0"),
        col("s1").as("b1"), col("s2").as("b2"), col("s3").as("b3")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (ham("a0", "b0") + ham("a1", "b1") + ham("a2", "b2") + ham("a3", "b3"))
          .cast(IntegerType).as("hamming"))
      .withColumn("is_dup", col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Hot-gram guard for [[ngramJaccardPairs]]: a gram present in more than
    * this many documents of a block is dropped before the self-join. A gram
    * with document frequency m yields m·(m-1)/2 candidate rows, so one
    * boilerplate shingle ("click here to subscribe" in every scraped page)
    * turns the collision-linear join quadratic. Grams that common carry no
    * similarity signal anyway (same rationale as the SimHash bucket cap
    * above). Intersections are counted over surviving grams only; set sizes
    * stay exact, so boilerplate-only pairs score lower — intended. */
  val ngramDfCap = 64

  /** Reusable capped n-gram Jaccard: documents(doc_id, source, text) →
    * pairs (source, doc_a, doc_b, jaccard >= threshold), blocked by
    * `source`. Explode shingles and build bounded postings lists in ONE
    * aggregation ([[graft.functions.BoundedDistinct]] with cap + 1): a
    * full result proves df > dfCap (the gram is boilerplate — dropped), a
    * shorter result is the exact sorted postings list. A pair is generated
    * ONLY for docs sharing a surviving shingle — linear in actual
    * collisions, never all-pairs, with the cap bounding both the
    * aggregation buffer and the per-gram pair fan-out at any corpus size.
    *
    * This is the third formulation, each a measured improvement at sf0.1:
    * pruned self-join (3.6 s) → df-count + anti-join + postings (2.6 s) →
    * fused single-pass postings. The previous one scanned documents (and
    * re-computed the regexp shingles) three times — df-count pass,
    * postings pass, sizes pass — and shuffled the exploded gram table
    * twice. Here the shingle scan runs ONCE, the gram table shuffles ONCE
    * (map-side partial BoundedDistinct buffers collapse duplicates and cap
    * hot grams at cap + 1 entries per partition — the aggregator is the
    * skew guard), and carrying the doc's shingle-set size `n` inside the
    * postings struct removes the two size joins entirely: both pair
    * members arrive with their set sizes attached, so jaccard is computed
    * straight out of the per-pair intersection count. Keeping the dfCap+1
    * SMALLEST doc ids (not first-seen) makes the hot/kept decision and the
    * kept lists pure functions of the input set — deterministic under any
    * partitioning. */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double, dfCap: Int): DataFrame =
    gramIntersections(documents, dfCap)
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("source", "doc_a", "doc_b", "jaccard")

  /** Shared candidate core of [[ngramJaccardPairs]] and [[containment]]:
    * documents → (source, doc_a, na, doc_b, nb, inter) for every doc pair
    * sharing at least one surviving (df ≤ dfCap) shingle, with exact
    * shingle-set sizes attached. All the scale machinery lives here. */
  def gramIntersections(documents: DataFrame, dfCap: Int): DataFrame = {
    // dfCap = Int.MaxValue means "uncapped" (spec-only exact mode) — keep
    // the sentinel instead of overflowing to a negative cap.
    val cap1 = if (dfCap >= Int.MaxValue) Int.MaxValue else dfCap + 1
    val postings = udaf(new graft.functions.BoundedDistinct(cap1))
    documents
      // repartition before shingling (same single-scan-task rationale as
      // spanDedupPairs)
      .spreadByKey(col("doc_id"))
      .select(col("doc_id"), col("source"), shingles(col("text")).as("sh"))
      // grams leave the map side as xxhash64 longs, not trigram strings —
      // same key-narrowing as spanDedupPairs (this was the suite's largest
      // shuffle at sf1, 98 MB of raw trigrams). Set sizes n are taken
      // BEFORE hashing; pair intersection counts and Jaccard are invariant
      // under the per-gram hash modulo the documented 2⁻⁶⁴ collision
      // residual, and the DuckDB oracle keeps grouping by raw strings,
      // which checks exactly that equivalence.
      .select(col("source"), col("doc_id"), size(col("sh")).as("n"),
        explode(transform(col("sh"), g => xxhash64(g))).as("g"))
      .groupBy("source", "g")
      .agg(postings(col("doc_id"), col("n")).as("docs"))
      // singleton postings (most grams) cannot pair — skip their Generate
      // passes; a full (dfCap+1) buffer proves df > dfCap (hot gram, drop)
      .where(size(col("docs")) >= 2 && size(col("docs")) <= dfCap)
      // ≤ dfCap²/2 candidate pairs per gram are generated map-side by the
      // two Generate operators and collapse in the partial aggregation
      // before the (doc_a, doc_b) shuffle. Sorted postings make positional
      // i<j equal value order doc_a<doc_b, independent of collect order.
      .select(col("source"), col("docs"), posexplode(col("docs")).as(Seq("i", "a")))
      .select(col("source"), col("a"), col("i"),
        posexplode(col("docs")).as(Seq("j", "b")))
      .where(col("i") < col("j"))
      .select(col("source"),
        col("a._1").as("doc_a"), col("a._2").as("na"),
        col("b._1").as("doc_b"), col("b._2").as("nb"))
      .groupBy("source", "doc_a", "na", "doc_b", "nb") // na/nb: per-doc constants
      .agg(count(lit(1)).as("inter"))
  }

  /** Exact n-gram Jaccard within a blocking key (`source`), computed the
    * scalable way: explode shingles, cap hot grams ([[ngramDfCap]]),
    * group surviving grams into bounded postings lists so a pair is
    * generated ONLY when it shares at least one surviving shingle, count
    * common shingles per pair,
    * then jaccard = |∩| / (|A|+|B|-|∩|). The naive all-pairs
    * array_intersect is quadratic in block size regardless of similarity;
    * this is linear in the number of actual collisions, with the df cap
    * bounding per-gram fan-out. Oracle mirrors the construction — df cap
    * included — with DuckDB list comprehensions. */
  val ngramJaccard: QueryDef = QueryDef(
    "c17_ngram_jaccard", "C17",
    s"""WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, source,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [array_to_string(t, ' ')] END) AS grams
      |  FROM toks
      |), sizes AS (SELECT doc_id, len(grams) AS n FROM sh
      |), gr AS (SELECT source, doc_id, unnest(grams) AS g FROM sh
      |), df AS (SELECT source, g, count(*) AS df FROM gr GROUP BY 1, 2
      |), gp AS (
      |  SELECT gr.source, gr.doc_id, gr.g
      |  FROM gr JOIN df ON gr.source = df.source AND gr.g = df.g
      |  WHERE df.df <= $ngramDfCap
      |), inter AS (
      |  SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM gp a JOIN gp b ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3)
      |SELECT source, doc_a, doc_b,
      |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    ngramJaccardPairs(Tables.documents(s, d), threshold = 0.2, dfCap = ngramDfCap)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over a near-dup pair set by ALTERNATING
    * LARGE-STAR / SMALL-STAR edge contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — public):
    * each round rewires every edge toward its neighborhood minimum, so
    * the edge set converges to a STAR FOREST in which every vertex points
    * directly at its component's smallest doc_id (the canonical
    * survivor). Rounds needed are O(log n) in the component size — a
    * diameter-D duplicate CHAIN resolves in ~log₂D rounds where one-hop
    * min-label propagation (the round-19 implementation) needed D, so a
    * legitimately deep chain is answerable instead of hitting the
    * iteration bound (round-19 verdict directive 6; the planted
    * diameter-40 path in DedupSpec converges well inside the default
    * budget).
    *
    *  - large-star(u): every neighbor v > u is re-pointed at
    *    m = min(N(u) ∪ {u}) — one symmetric-adjacency groupBy(min) plus
    *    one equi-join, shuffles keyed on doc ids;
    *  - small-star(u): with edges directed larger→smaller, u and all its
    *    smaller neighbors are re-pointed at their collective minimum —
    *    same shape.
    *
    * Both emit strictly larger→smaller edges, so the state stays
    * canonical and self-loop-free; `distinct()` bounds each round's edge
    * set by the input's. Convergence is a sound FIXPOINT test — same
    * count and an empty next∖prev anti-join (both sides are distinct
    * sets) — one cheap action pair per round; `maxIter` still bounds the
    * loop and a non-converged exit FAILS LOUDLY rather than returning
    * partially-contracted labels (wrong cluster ids with no error would
    * be the worst outcome for a dedup survivor pick). Star roots
    * concentrate degree as components contract — inherent to star
    * algorithms; dup components are tiny relative to partitions, and the
    * hot aggregate is a `min`, whose partial (map-side) combine absorbs
    * the skew before the shuffle.
    *
    * @param pairs near-dup pairs (doc_a, doc_b), doc_a < doc_b
    * @return (doc_id, cluster_id) for every doc in a cluster of size >= 2
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    // checkpointDir: None = executor-local lineage truncation (fast, not
    // node-loss-tolerant); Some(dir) = reliable file checkpoints for
    // cluster runs — see [[graft.util.IterativeCheckpointer]]
    val ckpt = graft.util.IterativeCheckpointer(checkpointDir)
    // canonical larger→smaller edges, self-loops dropped
    var edges = ckpt(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    var cnt = edges.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: for each u, point every LARGER neighbor at
      // m = min(N(u) ∪ {u}); v > u ≥ m keeps the output canonical
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR: for each u, point u and its (all smaller) neighbors
      // at their collective minimum m = min(N(u)); emitted edges are
      // (u, m) and (v, m) for v ≠ m — again strictly larger→smaller
      val sMins = large.groupBy("u").agg(min("v").as("m"))
      val next = ckpt(large.join(sMins, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sMins.select(col("u"), col("m").as("v")))
        .distinct())
      val nextCnt = next.count()
      // sound fixpoint: both sides are distinct sets, so equal counts +
      // empty next∖prev ⇒ set equality ⇒ the star ops are stationary
      converged = nextCnt == cnt &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      // the superseded edge checkpoint is dead once `next` materialized
      // and the fixpoint test above has executed; free its blocks now
      ckpt.free(edges)
      edges = next
      cnt = nextCnt
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter " +
        "alternating large-star/small-star rounds — rounds scale with " +
        "log(component size), so this means a pathologically large " +
        "component or a bound set far too low. Returning the current " +
        "edges would assign WRONG cluster ids silently — raise maxIter")
    // at the fixpoint the edge set IS the star forest: non-roots appear
    // exactly once as u pointing at their component min; roots only as v
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v"), col("v")).distinct())
  }

  /** Cluster assignment over the LSH-verified near-dup pairs (the pair
    * generator whose recall-1-vs-exact premise is pinned in DedupSpec).
    * Oracle: transitive closure of the exact-Jaccard pair set via a
    * recursive CTE, min label per reachable set. */
  val dedupClusters: QueryDef = QueryDef(
    "c17_dedup_clusters", "C17",
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
      |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), walk AS (
      |  SELECT src AS id, dst AS reach FROM edges
      |  UNION
      |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
      |)
      |SELECT id AS doc_id, least(id, min(reach)) AS cluster_id
      |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin) { (s, d) =>
    connectedComponents(
      minhashPairs(Tables.documents(s, d), k = 64, bands = 16, threshold = 0.7)
        .select("doc_a", "doc_b"))
      .orderBy("doc_id")
  }

  /** Length (in word tokens) of the exact-substring spans below. */
  val spanTokens = 16

  /** Exact-substring span dedup (the Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better" shape, arXiv:2107.06499, re-expressed
    * relationally): two documents are span-duplicates if they share a
    * verbatim run of [[spanTokens]] word tokens. Every length-16 token
    * window of each document becomes a gram; a pair is reported with the
    * count of distinct shared windows.
    *
    * Scale shape — identical machinery to [[ngramJaccardPairs]]: one shingle
    * scan, one shuffle of the exploded window table into bounded
    * [[graft.functions.BoundedDistinct]] postings (cap = [[ngramDfCap]] + 1,
    * the skew guard: a boilerplate span occurring in millions of documents
    * is detected and dropped inside the aggregation, so per-gram pair
    * fan-out is ≤ cap²/2 at any corpus size), pairs generated only from
    * surviving postings, then one count-aggregate per pair. Long windows
    * make grams near-unique, so the collision join is linear in true span
    * sharing. The suffix-array formulation of the paper finds spans ≥ L
    * across *arbitrary* positions; fixed-length window equality is the
    * standard relational lowering (any shared run of ≥ 16 tokens shares at
    * least one aligned 16-window, so recall over ≥16-token spans is
    * exact). Oracle mirrors windows and cap with DuckDB list functions. */
  val spanDedup: QueryDef = QueryDef(
    "c17_span_dedup", "C17",
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(t) - ${spanTokens - 2}),
      |      i -> array_to_string(t[i:i+${spanTokens - 1}], ' ')))) AS g
      |  FROM toks WHERE len(t) >= $spanTokens
      |), df AS (SELECT g, count(*) AS df FROM grams GROUP BY g
      |), keep AS (
      |  SELECT gr.doc_id, gr.g FROM grams gr JOIN df USING (g) WHERE df.df <= $ngramDfCap)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS INT) AS shared_spans
      |FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    spanDedupPairs(Tables.documents(s, d), spanTokens, ngramDfCap)
      .orderBy("doc_a", "doc_b")
  }

  /** documents(doc_id, text) → (doc_a, doc_b, shared_spans) pairs sharing at
    * least one verbatim `k`-token window (window df capped at `dfCap`).
    *
    * The window strings never leave the map side: each k-token window is
    * collapsed to its `xxhash64` before the distinct + explode, so the
    * postings shuffle keys on 8-byte longs instead of ~100-byte strings
    * (~20× narrower — at sf0.1 this was the suite's largest shuffle).
    * The (doc_a, doc_b, shared_spans) output is invariant under keying by
    * hash instead of string unless two distinct windows collide in 64 bits
    * (probability ≈ n²·2⁻⁶⁵; for the ~10¹¹ windows of a 100 TB corpus that
    * is ~3·10⁻⁴ per corpus — an accepted residual, and a collision only
    * inflates one pair's count by 1, it cannot drop a true pair). The
    * DuckDB oracle keeps grouping by the raw strings, which checks exactly
    * this equivalence. */
  def spanDedupPairs(documents: DataFrame, k: Int, dfCap: Int): DataFrame = {
    val cap1 = if (dfCap >= Int.MaxValue) Int.MaxValue else dfCap + 1
    val postings = udaf(new graft.functions.BoundedDistinct(cap1))
    val toks = filter(
      split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
    val windows = array_distinct(transform(
      sequence(lit(0), size(col("t")) - k),
      i => xxhash64(concat_ws(" ", slice(col("t"), i + 1, lit(k))))))
    documents
      // repartition before the tokenize + window-hash stage (heavy per-row
      // CPU; a single-row-group scan would run it in one task)
      .spreadByKey(col("doc_id"))
      .select(col("doc_id"), toks.as("t"))
      .where(size(col("t")) >= k)
      .select(col("doc_id"), explode(windows).as("g"))
      .groupBy("g")
      .agg(postings(col("doc_id"), lit(0)).as("docs"))
      // singleton postings cannot pair — skip their Generate passes; a full
      // (dfCap+1) buffer proves df > dfCap (boilerplate span, drop)
      .where(size(col("docs")) >= 2 && size(col("docs")) <= dfCap)
      .select(col("docs"), posexplode(col("docs")).as(Seq("i", "a")))
      .select(col("a"), col("i"), posexplode(col("docs")).as(Seq("j", "b")))
      .where(col("i") < col("j")) // sorted postings: i<j ⇒ doc_a < doc_b
      .select(col("a._1").as("doc_a"), col("b._1").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast(IntegerType).as("shared_spans"))
  }

  /** Text near-dup through the VECTOR path: documents are embedded
    * in-engine by [[graft.functions.FeatureHashEmbed]] (hashing-trick
    * bag-of-tokens, L2-normalized, one map-side pass — no external model),
    * then the SAME SRP-bucketed near-dup pipeline as
    * `c17_embedding_neardup_lsh` ([[graft.similarity.Similarity
    * .nearDupPairs]]) finds cosine ≥ 0.95 pairs. This closes the
    * text→vector bridge: every embedding-side operator (ANN, radius,
    * SemDeDup) now runs on raw documents too.
    *
    * The corpus has no genuine ≥0.95 multiset pairs, so 3 near-identical
    * copies are planted (doc_id + 1,000,000, one token appended) — same
    * non-vacuousness pattern as the embeddings-side injection. noOracle
    * (hash embeddings are engine-specific); DedupSpec asserts exact copies
    * embed at cosine exactly 1, planted near-copies are found, and the
    * pair set is deterministic. */
  val textEmbedNearDup: QueryDef = QueryDef.noOracle(
    "c17_text_embed_neardup", "C17 C18 C19") { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = docs.where(col("doc_id") < 3).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" appended")).as("text"))
    val emb = docs.unionAll(planted).select(
      col("doc_id").as("vec_id"),
      graft.functions.VectorExprs
        .featureHashEmbed(tokens(col("text")), 64).as("embedding"))
    // Signature width sized from the corpus (metadata-cheap count of the
    // base table, +3 plants) so bucket load stays ~64 at any scale —
    // fixed 8-bit signatures made within-bucket pair cost quadratic in
    // the corpus (sf1 gate: 35 s, 4× the adaptive plan). Deduplicates are
    // near-exact (cosine ≈ 1), so recall is unaffected by the extra bits
    // (see Similarity.bitsFor); DedupSpec pins the planted pairs.
    val bits = graft.similarity.Similarity.bitsFor(
      Tables.documents(s, d).count() + 3)
    graft.similarity.Similarity
      .nearDupPairs(emb, tables = 8, bits = bits, threshold = 0.95)
      .orderBy("vec_a", "vec_b")
  }

  /** Exact-arithmetic derivation anchor for the text→vector bridge
    * ([[textEmbedNearDup]] — previously rows-only "hash embeddings are
    * engine-specific"): the SAME embed → SRP-bucket → within-bucket
    * cosine-verify pipeline with every engine-specific ingredient replaced
    * by an md5 derivation both engines compute bit-identically:
    *
    *  - the hashing-trick embedding is SPARSE INTEGER: token dim =
    *    (md5 hex chars 1–2 as an integer) % 64, token sign = md5 hex char
    *    3 parity, per-(doc, dim) value = Σ signs over token OCCURRENCES
    *    (zero-sum dims dropped on both sides — they contribute nothing to
    *    dots or norms but would differ representationally);
    *  - 8 SRP tables × 16 planes with md5("t_p_d")-parity Rademacher
    *    weights (the [[graft.similarity.Similarity.md5Buckets]] scheme
    *    plus a table salt), bucket bit = sign of the integer dot;
    *  - candidates = distinct pairs sharing any (table, bucket); verify =
    *    the sparse vectors reconstructed to dense zero-filled 64-float
    *    arrays (small integers — exact in float) and ONE fused
    *    [[graft.functions.CosineSim]] per pair, 1e-6-rounded before the
    *    ≥ τ cut — the repo's established bit-parity contract with
    *    DuckDB's `list_cosine_similarity`.
    *
    * The float path stays the scale default (fused FeatureHashEmbed +
    * corpus-sized [[graft.similarity.Similarity.bitsFor]] signatures);
    * this twin pins 16 planes and documents the consequence: on the
    * template-synthetic corpora the hash embeddings genuinely cluster, so
    * the candidate set is dense (7.3M pairs over 50k sf1 docs) — which is
    * why the verify must be one codegen cosine per pair, not a per-dim
    * join (the first formulation's per-dim verify was 70 of the oracle's
    * 80 s; the 128×-exploding (t,p,d)-join SRP build another 20 — both
    * replaced by one-pass pivoted forms, 28.4 → ~3 s at sf1).
    *
    * Plan economics: the 64-row pivoted weight table broadcasts onto the
    * sparse dims and ALL 128 dots accumulate in one partial-aggregated
    * pass (each sparse row read once, never exploded per plane); the one
    * corpus shuffle is the bucket self-join, hinted shuffle_hash on its
    * (t, bucket) key; the verify joins key on candidate pairs. */
  /** Oracle generator for [[textEmbedNearDupMd5]]: emits the md5-parity
    * weight derivation PIVOTED to one 128-column row per dim, so the
    * corpus-sized dot aggregation reads each sparse row once (the naive
    * (t, p, d)-keyed join form multiplied the sparse dims 128× — minutes
    * of DuckDB at sf1; this form is seconds). The weights stay DERIVED in
    * SQL (md5 over the same "t_p_d" strings the Spark expression hashes),
    * never literal constants. */
  def textEmbedMd5OracleSql(planes: Int, tables: Int, tau: String): String = {
    val evensSql = "('0','2','4','6','8','a','c','e')"
    val nSig = tables * planes
    val wcols = (0 until nSig).map { k =>
      val t = k / planes; val p = k % planes
      s"""CASE WHEN substr(md5('${t}_${p}_' || dd.d), 1, 1) IN $evensSql
         |      THEN 1 ELSE -1 END AS w$k""".stripMargin
    }.mkString(",\n    ")
    val scols = (0 until nSig).map(k => s"SUM(s.v * w.w$k) AS s$k")
      .mkString(",\n    ")
    val tsel = (0 until tables).map { t =>
      val bits = (0 until planes)
        .map(p => s"(CASE WHEN s${t * planes + p} >= 0 THEN ${1 << p} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT doc_id, $t AS t, CAST($bits AS INT) AS bucket FROM dots"
    }.mkString(" UNION ALL ")
    s"""WITH corpus AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' appended'
      |  FROM documents WHERE doc_id < 3
      |), toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS tok
      |  FROM corpus
      |), hdims AS (
      |  SELECT doc_id,
      |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
      |     + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS d,
      |    CASE WHEN substr(h, 3, 1) IN $evensSql
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT doc_id, md5(tok) AS h FROM toks)
      |), sparse AS MATERIALIZED (
      |  SELECT doc_id, CAST(d AS INT) AS d, CAST(SUM(sgn) AS BIGINT) AS v
      |  FROM hdims GROUP BY 1, 2 HAVING SUM(sgn) <> 0
      |), present AS MATERIALIZED (
      |  SELECT DISTINCT doc_id FROM sparse
      |), wvec AS MATERIALIZED (
      |  SELECT CAST(dd.d AS INT) AS d,
      |    $wcols
      |  FROM range(64) dd(d)
      |), dots AS MATERIALIZED (
      |  SELECT s.doc_id,
      |    $scols
      |  FROM sparse s JOIN wvec w USING (d)
      |  GROUP BY 1
      |), buckets AS MATERIALIZED (
      |  $tsel
      |), dense AS MATERIALIZED (
      |  SELECT g.doc_id, LIST(COALESCE(s.v, 0) ORDER BY g.d)::FLOAT[] AS emb
      |  FROM (SELECT doc_id, dd.d FROM present, range(64) dd(d)) g
      |  LEFT JOIN sparse s ON s.doc_id = g.doc_id AND s.d = g.d
      |  GROUP BY 1
      |), cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS vec_a, b.doc_id AS vec_b
      |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
      |    AND a.doc_id < b.doc_id
      |), scored AS (
      |  SELECT c.vec_a, c.vec_b,
      |    round(list_cosine_similarity(da.emb::DOUBLE[], db.emb::DOUBLE[]), 6) AS score
      |  FROM cand c
      |  JOIN dense da ON da.doc_id = c.vec_a
      |  JOIN dense db ON db.doc_id = c.vec_b
      |)
      |SELECT vec_a, vec_b, score FROM scored WHERE score >= $tau
      |ORDER BY vec_a, vec_b""".stripMargin
  }

  val textEmbedNearDupMd5: QueryDef = QueryDef(
    "c17_text_embed_neardup_md5", "C17 C18 C19",
    textEmbedMd5OracleSql(planes = 16, tables = 8, tau = "0.95")) { (s, d) =>
    textEmbedMd5Pairs(Tables.documents(s, d), planes = 16, tables = 8,
      tau = 0.95)
  }

  /** The Spark side of [[textEmbedNearDupMd5]] (see its scaladoc for the
    * arithmetic contract). */
  def textEmbedMd5Pairs(documents: DataFrame, planes: Int, tables: Int,
      tau: Double): DataFrame = {
    val spark = documents.sparkSession
    val hexes = "0123456789abcdef"
    val evens = Seq("0", "2", "4", "6", "8", "a", "c", "e")
    val docs = documents.select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(docs.where(col("doc_id") < 3).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" appended")).as("text")))
    // sparse integer embedding: one map-side pass over exploded tokens,
    // then a partial-aggregated (doc, dim) groupBy; spread first — the
    // md5-per-token stage is the CPU-heavy part of a single-row-group scan
    val h = md5(col("tok").cast(BinaryType))
    val sparse = corpus.spreadByKey(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .select(col("doc_id"),
        (((instr(lit(hexes), substring(h, 1, 1)) - 1) * 16 +
          (instr(lit(hexes), substring(h, 2, 1)) - 1)) % 64)
          .cast(IntegerType).as("d"),
        when(substring(h, 3, 1).isin(evens: _*), lit(1L))
          .otherwise(lit(-1L)).as("sgn"))
      .groupBy(col("doc_id"), col("d"))
      .agg(sum(col("sgn")).as("v"))
      .where(col("v") =!= 0L)
      .localCheckpoint(false) // three consumers: buckets + both verify sides
    // dense reconstruction for the verify: order-insensitive map build,
    // zero-filled 64-float array (values are small integers — exact in
    // float), so each candidate pair costs ONE fused codegen cosine
    // instead of a per-dim join+aggregate (on template-correlated corpora
    // the SRP candidate set is legitimately dense — 7.3M pairs at sf1 —
    // and the join-per-dim verify was 70 of the oracle's 80 s)
    val dense = sparse.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("d"), col("v")))).as("m"))
      .select(col("doc_id"), transform(sequence(lit(0), lit(63)),
        i => coalesce(element_at(col("m"), i.cast(IntegerType)), lit(0L))
          .cast(FloatType)).as("emb"))
    // one-pass SRP build: the 8×16 md5("t_p_d")-parity weight table is
    // PIVOTED to one 128-long array per dim (the derivation stays in the
    // expression — Catalyst folds the 8192 md5s once into the 64-row
    // broadcast relation), so the corpus-sized aggregation reads each
    // sparse row ONCE with 128 sum buffers instead of exploding it 128×
    // through a (t, p, d) join — measured 28.4 → ~2 s at sf1, and the
    // same pivot in the oracle took its DuckDB pass from minutes to
    // seconds. Bit values are unchanged: same weights, same dots.
    val nSig = tables * planes
    val wvec = spark.range(64)
      .select(col("id").cast(IntegerType).as("d"),
        array((0 until nSig).map { k =>
          val t = k / planes; val p = k % planes
          when(substring(md5(concat_ws("_", lit(t.toString), lit(p.toString),
            col("id").cast(StringType)).cast(BinaryType)), 1, 1)
            .isin(evens: _*), lit(1L)).otherwise(lit(-1L))
        }: _*).as("wv"))
    val dots = sparse.join(broadcast(wvec), Seq("d"))
      .groupBy(col("doc_id"))
      .agg(sum(element_at(col("wv"), 1) * col("v")).as("s0"),
        (1 until nSig).map(k =>
          sum(element_at(col("wv"), k + 1) * col("v")).as(s"s$k")): _*)
    val buckets = dots.select(col("doc_id"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"),
          (0 until planes).map(p =>
            when(col(s"s${t * planes + p}") >= 0, lit(1 << p)).otherwise(lit(0)))
            .reduce(_ + _).cast(IntegerType).as("bucket"))
      }: _*)).as("tb"))
      .select(col("doc_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val a = buckets.select(col("t"), col("bucket"), col("doc_id").as("vec_a"))
    val b = buckets.select(col("t"), col("bucket"), col("doc_id").as("vec_b"))
    val cand = a.hint("shuffle_hash").join(b, Seq("t", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val da = dense.select(col("doc_id").as("vec_a"), col("emb").as("e_a"))
    val db = dense.select(col("doc_id").as("vec_b"), col("emb").as("e_b"))
    cand.join(da, Seq("vec_a")).join(db, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.VectorExprs.cosineSim(col("e_a"), col("e_b")), 6)
          .as("score"))
      .where(col("score") >= tau)
      .orderBy("vec_a", "vec_b")
  }

  /** C17/C18: edit-distance similarity join (ed ≤ 1) over an id-like string
    * column — the fuzzy-key matching step of entity resolution and
    * near-dup title/URL dedup. Candidate generation is the DELETION
    * NEIGHBORHOOD (the SymSpell/FastSS scheme): every string emits its
    * identity plus each single-character deletion (n+1 variants), and two
    * strings within edit distance 1 provably share at least one variant
    * (substitution → delete the differing position from both; insertion →
    * the deletion of the inserted char equals the other string's identity)
    * — so recall is exact and NOTHING is ever all-pairs. Variants ship as
    * map-side `xxhash64` keys (8-byte shuffle, the span-dedup discipline;
    * a hash collision can only ADD a candidate, which the verify filter
    * removes). Candidates materialize from bounded postings
    * ([[graft.functions.BoundedDistinct]], cap 64 — the skew guard for
    * pathological variant buckets; an overflowed bucket RAISES by default
    * so the exact-recall claim can never silently break), are deduped once
    * on the pair, and each
    * surviving pair pays exactly one codegen `levenshtein` verify after
    * the two name-fetch equi-joins. Scale: per-string work is O(n) variants,
    * bucket fan-out is ≤ cap²/2, and the verify join keys are uniform ids.
    *
    * Names here are zero-padded (`Customer#%09d`), so id order and
    * lexicographic name order agree — the `id_a < id_b` pair order matches
    * the oracle's `name_a < name_b`. The matched table is capped at 10k
    * names (entity resolution fuzz-matches against a reference dimension,
    * not the fact stream) — the cap bounds the BRUTE-FORCE ORACLE, which
    * is quadratic; the deletion-neighborhood plan itself needs no cap. */
  val editDistJoin: QueryDef = QueryDef(
    "c17_editdist_join", "C17 C18",
    """SELECT a.c_name AS name_a, b.c_name AS name_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      |FROM (SELECT * FROM customer WHERE c_custkey < 10000) a
      |JOIN (SELECT * FROM customer WHERE c_custkey < 10000) b
      |  ON a.c_name < b.c_name
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
    editDistPairs(Tables.customer(s, d)
      .where(col("c_custkey") < 10000)
      .select(col("c_custkey").cast(LongType).as("id"), col("c_name").as("name")))
      .orderBy("name_a", "name_b")
  }

  /** (id, name) → (name_a, name_b, dist ≤ 1) via the deletion-neighborhood
    * scheme of [[editDistJoin]] (all scale rationale there). Pair order is
    * by id; callers wanting name order need id order ≡ name order.
    *
    * Recall contract: exact ONLY while no variant bucket exceeds
    * `bucketCap` distinct ids. By default an overflowed bucket raises at
    * execution time (truncation fails loudly); pass
    * `failOnOverflow = false` to instead DROP overflowed buckets — a
    * documented recall bound for adversarial corpora where a hot variant
    * (e.g. a boilerplate prefix) would otherwise go quadratic. */
  def editDistPairs(strings: DataFrame, bucketCap: Int = 64,
      failOnOverflow: Boolean = true): DataFrame = {
    // fused codegen kernel: identity hash + every single-deletion hash in
    // one pass, already distinct (graft.functions.DeletionVariantHashes) —
    // replaces the interpreted per-position substr/concat/xxhash64 chain
    val variants = graft.functions.HashExprs.deletionVariantHashes(col("name"))
    // cap+1 postings so an overflow is DETECTABLE: size == cap+1 means the
    // bounded aggregate dropped at least one id
    val postings = udaf(new graft.functions.BoundedDistinct(bucketCap + 1))
    // Cost profile (measured at sf0.1, round 10): this operator's wall time
    // is OUTPUT-BOUND on the bench corpus — zero-padded `Customer#%09d`
    // names form dense digit neighborhoods (~13 true ed≤1 pairs per name),
    // so the candidate/verify/sort stages process O(true pairs) rows and a
    // singleton-bucket pre-filter (tried: codegen window count before the
    // object aggregate) measured neutral. On real name data, buckets are
    // singleton-dominated and the BoundedDistinct aggregate only ever sees
    // small groups either way.
    val buckets = strings
      // variant generation is CPU-heavy and the dimension fits one parquet
      // row group — spread it before the explode (single-task-scan fix)
      .spreadByKey(col("id"))
      .select(col("id"), explode(variants).as("v"))
      .groupBy("v").agg(postings(col("id"), lit(0)).as("ids"))
      // singleton buckets can't pair — drop them BEFORE the two Generate
      // passes instead of after the i<j filter
      .where(size(col("ids")) >= 2)
    val capped =
      if (failOnOverflow) buckets.select(
        when(size(col("ids")) <= bucketCap, col("ids"))
          .otherwise(raise_error(concat(
            lit(s"editDistPairs: variant bucket overflowed cap=$bucketCap (variant hash "),
            col("v").cast(StringType), lit(") — pairs would be lost; raise bucketCap " +
              "or pass failOnOverflow=false to accept the recall bound")))).as("ids"))
      else buckets.where(size(col("ids")) <= bucketCap)
    val pairs = capped
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"), col("i"), posexplode(col("ids")).as(Seq("j", "b")))
      .where(col("i") < col("j")) // sorted postings: i<j ⇒ id_a < id_b
      .select(col("a._1").as("id_a"), col("b._1").as("id_b"))
      .distinct() // one candidate per pair, however many shared variants
    pairs
      .join(strings.select(col("id").as("id_a"), col("name").as("name_a")), Seq("id_a"))
      .join(strings.select(col("id").as("id_b"), col("name").as("name_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= 1)
      .select("name_a", "name_b", "dist")
  }

  /** C17: containment (asymmetric-overlap) detection — flags a document
    * whose shingle set is mostly INSIDE another's (quote-and-extend pages,
    * a doc that is a subset of a longer one), which symmetric Jaccard
    * misses whenever the two sizes differ a lot (|∩|/|∪| stays small while
    * |∩|/min(|A|,|B|) is near 1). Same bounded-postings candidate core as
    * [[ngramJaccardPairs]] ([[gramIntersections]] — one shingle scan, one
    * hashed-gram shuffle, df-capped fan-out), different score: containment
    * of the smaller side, `|∩| / min(|A|, |B|)`. Output keeps both sizes
    * so the consumer can tell which side is the contained one. Oracle
    * mirrors the construction — df cap included — by raw gram strings. */
  val containment: QueryDef = QueryDef(
    "c17_containment", "C17",
    s"""WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, source,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [array_to_string(t, ' ')] END) AS grams
      |  FROM toks
      |), sizes AS (SELECT doc_id, len(grams) AS n FROM sh
      |), gr AS (SELECT source, doc_id, unnest(grams) AS g FROM sh
      |), df AS (SELECT source, g, count(*) AS df FROM gr GROUP BY 1, 2
      |), gp AS (
      |  SELECT gr.source, gr.doc_id, gr.g
      |  FROM gr JOIN df ON gr.source = df.source AND gr.g = df.g
      |  WHERE df.df <= $ngramDfCap
      |), inter AS (
      |  SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM gp a JOIN gp b ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3)
      |SELECT source, doc_a, doc_b,
      |  CAST(sa.n AS INT) AS na, CAST(sb.n AS INT) AS nb,
      |  round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
      |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    gramIntersections(Tables.documents(s, d), dfCap = ngramDfCap)
      .withColumn("containment",
        round(col("inter").cast(DoubleType) / least(col("na"), col("nb")), 6))
      .where(col("inter").cast(DoubleType) / least(col("na"), col("nb")) >= 0.5)
      .select(col("source"), col("doc_a"), col("doc_b"),
        col("na").cast(IntegerType).as("na"), col("nb").cast(IntegerType).as("nb"),
        col("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Token-block size for [[passageDedup]]. */
  val passageTokens = 32

  /** C17: corpus-wide exact passage dedup with document reassembly — the
    * RefinedWeb/CCNet "remove duplicated passages, keep the document"
    * step (arXiv:2306.01116 §G.2 lowered to fixed token blocks): the
    * corpus is cut into [[passageTokens]]-token blocks, every block whose
    * exact content appeared earlier (corpus-wide, first occurrence by
    * (doc_id, block_idx) — a total order) is dropped, and each document
    * re-emerges as its surviving blocks in original order (summarized as
    * a checksum so the output stays narrow).
    *
    * Scale shape: the keep decision is aggregate + equi-join, NOT a
    * row_number window — `min(position) GROUP BY block-hash` is a hash
    * aggregate with map-side partials, immune to the boilerplate-block
    * skew that would stall a per-hash window sort; blocks shuffle on
    * map-side `xxhash64` keys (8 bytes, never the block text — the
    * hashed-postings discipline; a collision can only merge two distinct
    * blocks' first-occurrence classes, probability ≈ n²·2⁻⁶⁵, and the
    * string-keyed DuckDB oracle checks exactly this equivalence). The
    * reassembly is one hash aggregate on doc_id whose per-doc state is
    * bounded by document length. */
  val passageDedup: QueryDef = QueryDef(
    "c17_passage_dedup", "C17",
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      |  FROM documents
      |), blocks AS (
      |  SELECT doc_id, CAST(i AS INT) AS idx,
      |    array_to_string(t[i*$passageTokens+1 : i*$passageTokens+$passageTokens], ' ') AS btxt
      |  FROM toks, unnest(range(0, CAST(ceil(len(t)/$passageTokens.0) AS INT))) u(i)
      |  WHERE len(t) > 0
      |), firsts AS (SELECT btxt AS k, min((doc_id, idx)) AS fp FROM blocks GROUP BY btxt
      |), flagged AS (
      |  SELECT b.doc_id, b.idx, b.btxt, (b.doc_id, b.idx) = f.fp AS kept
      |  FROM blocks b JOIN firsts f ON b.btxt = f.k)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_blocks,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS n_kept,
      |  md5(coalesce(
      |    array_to_string(list(btxt ORDER BY idx) FILTER (WHERE kept), ' '),
      |    '')) AS kept_md5
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    passageDedupSummary(Tables.documents(s, d), passageTokens)
      .orderBy("doc_id")
  }

  /** documents(doc_id, text) → (doc_id, n_blocks, n_kept, kept_md5) under
    * the keep-first passage-dedup policy of [[passageDedup]] (all scale
    * rationale there). */
  def passageDedupSummary(documents: DataFrame, k: Int): DataFrame = {
    val toks = filter(
      split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
    val nBlocks = ceil(size(col("t")) / k.toDouble).cast(IntegerType)
    val blockTexts = transform(
      sequence(lit(0), nBlocks - 1),
      i => concat_ws(" ", slice(col("t"), i * k + 1, lit(k))))
    val blocks = documents
      .spreadByKey(col("doc_id")) // tokenize is CPU-heavy; spread the scan
      .select(col("doc_id"), toks.as("t"))
      .where(size(col("t")) > 0)
      .select(col("doc_id"), posexplode(blockTexts).as(Seq("idx", "btxt")))
      .select(col("doc_id"), col("idx"), col("btxt"),
        xxhash64(col("btxt")).as("h"))
      // consumed twice (first-occurrence aggregate AND the keep join) —
      // materialize once so the tokenize+explode scan isn't re-run
      .localCheckpoint(false)
    // min over struct(doc_id, idx) IS the documented (doc_id, idx) total
    // order — unlike a doc_id*K+idx scalar key, it cannot overflow into a
    // neighboring document however many blocks a document has
    val firsts = blocks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("fp"))
    blocks.join(firsts, Seq("h"))
      .withColumn("kept", struct(col("doc_id"), col("idx")) === col("fp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast(IntegerType).as("n_blocks"),
        sum(col("kept").cast(IntegerType)).cast(IntegerType).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("idx"), col("btxt"))))),
          e => e("btxt")))).as("kept_md5"))
  }

  val all: Seq[QueryDef] =
    Seq(exact, keepFirst, minhashLsh, incrementalDedup, simhashPairs,
      simhashMd5, ngramJaccard, dedupClusters,
      spanDedup, textEmbedNearDup, textEmbedNearDupMd5, editDistJoin,
      passageDedup, containment)
}
