package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Tables.SpreadOps

/** C19/C20 — byte-pair-encoding tokenizer TRAINING and ENCODING (Sennrich
  * et al. 2016, arXiv:1508.07909 — the algorithm behind GPT-2/RoBERTa
  * vocabularies), structured the way production tokenizer training is:
  *
  *  1. ONE distributed pass builds the word-frequency dictionary — the only
  *     corpus-sized work (explode → groupBy(word) → count, one shuffle).
  *  2. The merge loop runs driver-local over the BOUNDED top-K dictionary
  *     (cnt-desc/word-asc TakeOrdered, deterministic cut). Vocabulary
  *     learning is sublinear in corpus size by construction: at 100 TB the
  *     dictionary cap — not the corpus — bounds the loop, exactly like
  *     [[graft.similarity.Similarity.kmeansCentroids]]'s bounded sample.
  *  3. Encoding applies the learned merge ranks per document distributedly
  *     (mapPartitions; the merge table is a few KB riding in the closure).
  *     The per-word merge loop is genuinely iterative — the documented
  *     case where mapPartitions beats torturing built-ins (C20 surface).
  *
  * Determinism: pair counts are exact longs; the argmax tie-break is
  * (count desc, left asc, right asc); the dictionary cut is a total order.
  * Same corpus → same merges → same token counts, on any partitioning.
  */
object Bpe {

  /** Distributed word-frequency dictionary (lowercased whitespace words). */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Deterministic top-K dictionary cut: cnt desc, word asc. */
  def boundedDict(docs: DataFrame, cap: Int): Array[(String, Long)] = {
    import docs.sparkSession.implicits._
    wordCounts(docs)
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(cap)
      .as[(String, Long)].collect()
  }

  /** Driver-local merge learning over the bounded dictionary. Each word is
    * a symbol sequence (single chars initially); every round counts all
    * adjacent symbol pairs weighted by word frequency, merges the most
    * frequent pair everywhere (left-to-right, non-overlapping), and stops
    * at `numMerges` or when no pair repeats. */
  def trainMerges(dict: Array[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      dict.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (best, n) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        if (n < 2) done = true // a pair seen once carries no compression
        else {
          merges += best
          words = words.map { case (syms, c) =>
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += best._1 + best._2; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), c)
          }
        }
      }
      round += 1
    }
    merges.result()
  }

  /** Apply learned merges to one word: repeatedly merge the present pair
    * with the LOWEST merge rank (the standard BPE encode order — identical
    * output to replaying training merges in sequence; see
    * [[encodeWordReplay]] for the replay form and the one way the
    * equivalence can break). */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    var continue = syms.length >= 2
    while (continue) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0 || bestRank == Int.MaxValue) continue = false
      else {
        val (l, r) = (syms(bestIdx), syms(bestIdx + 1))
        val out = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += l + r; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        continue = syms.length >= 2
      }
    }
    syms
  }

  /** Replay form of encoding: apply the learned merges IN TRAINING ORDER,
    * one greedy left-to-right pass each — the form the DuckDB encode
    * oracle unrolls ([[bpeEncodeOracleSql]]), because each pass is one
    * recursive position scan at a FIXED depth (numMerges), where the
    * fixpoint form ([[encodeWord]]) nests a data-dependent loop around it.
    *
    * Equivalence with the fixpoint: applying pair k can only create new
    * adjacencies involving the merged symbol `l+r`, and a pair of rank
    * j < k can reference that symbol only if it already existed as a
    * symbol at training round j — impossible when merges are the sole
    * symbol constructor, UNLESS two different merge paths collide on the
    * same symbol STRING (e.g. ("a","bc") at rank j' < j and ("ab","c") at
    * rank k both yield "abc"): then replay misses a late-created rank-j
    * occurrence the fixpoint would take. BpeSpec pins replay == fixpoint
    * over the full corpus vocabulary at spec scale, and the oracle compare
    * itself fails LOUDLY at every gate scale if a corpus ever ships such
    * colliding merges. */
  def encodeWordReplay(word: String, merges: Seq[(String, String)]): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    merges.foreach { case (l, r) =>
      if (syms.length >= 2) {
        val out = Array.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Guard for the replay≡fixpoint identity [[bpeEncode]]'s oracle rests
    * on (round-17 directive: checked, not just pinned). The identity
    * breaks exactly when two different merges collide on the same merged-
    * symbol STRING (e.g. ("a","bc") and ("ab","c") both yielding "abc" —
    * see [[encodeWordReplay]]'s scaladoc and the BpeSpec counter-example):
    * replay would then miss late-created occurrences of the earlier-rank
    * pair. The registered encode query calls this on its freshly-learned
    * merge list, so a future corpus change that ships colliding merges
    * fails LOUDLY at execution instead of silently invalidating the
    * oracle identity and surfacing as an opaque hash mismatch. */
  def requireNoMergeCollisions(merges: Seq[(String, String)]): Unit = {
    val collided = merges.groupBy { case (l, r) => l + r }
      .filter(_._2.distinct.size > 1)
    require(collided.isEmpty,
      s"BPE merge list collides on merged-symbol string(s) " +
        s"${collided.keys.toSeq.sorted.take(5).mkString(", ")} — the " +
        "replay≡fixpoint encode-oracle identity does not hold on this corpus")
  }

  val dictCap = 4096
  val numMerges = 50

  /** DuckDB oracle for [[bpeTrain]]: the dictionary cut plus `merges`
    * UNROLLED merge rounds — each round one pair-count CTE (adjacent
    * symbols weighted by word frequency), one argmax CTE (count desc,
    * left asc, right asc, `c >= 2` mirroring the no-compression stop) and
    * one RECURSIVE left-to-right greedy-apply CTE (the position scan that
    * makes "aaa" + (a,a) → [aa, a], whose feedback later rounds' counts
    * depend on). Every stateful CTE is MATERIALIZED: DuckDB inlines CTEs
    * by default, so the chained rounds would otherwise re-expand the whole
    * prefix — corpus scan included — once per round (measured: the
    * inlined form dies on file-handle exhaustion; materialized, the
    * 50-round oracle runs in ~3 s at ANY scale, because after the one
    * corpus-sized word count the dict cap bounds every round — the same
    * scale-independence the Spark side gets from driver-local training).
    *
    * Fixed-unroll premise: the oracle always emits exactly `merges` rows,
    * while [[trainMerges]] stops early if no pair repeats — on a corpus
    * that dries up early the compare fails LOUDLY on row count (never
    * silently); BpeSpec pins that the spec corpus sustains all
    * [[numMerges]] rounds, and the sf0.01/sf1/skew gate corpora were all
    * verified to (50 valid merges each). */
  /** One greedy-apply recursive CTE: left-to-right position scan over
    * `src` (carrying `carry` columns), merging adjacent (l,r) from `b$k`,
    * emitting `dst`. Shared by the train chain (dictionary words) and the
    * encode oracle's replay chain (corpus vocabulary). */
  private def greedyApplyCte(k: Int, src: String, scan: String, dst: String,
      carry: String): String =
    s"""$scan AS (
       |  SELECT $carry, syms, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS out FROM $src
       |  UNION ALL
       |  SELECT $carry, syms,
       |    CASE WHEN pos < len(syms) AND syms[CAST(pos AS INT)] = (SELECT l FROM b$k)
       |              AND syms[CAST(pos AS INT) + 1] = (SELECT r FROM b$k)
       |         THEN pos + 2 ELSE pos + 1 END,
       |    CASE WHEN pos < len(syms) AND syms[CAST(pos AS INT)] = (SELECT l FROM b$k)
       |              AND syms[CAST(pos AS INT) + 1] = (SELECT r FROM b$k)
       |         THEN list_append(out, syms[CAST(pos AS INT)] || syms[CAST(pos AS INT) + 1])
       |         ELSE list_append(out, syms[CAST(pos AS INT)]) END
       |  FROM $scan WHERE pos <= len(syms)
       |), $dst AS MATERIALIZED (
       |  SELECT $carry, out AS syms FROM $scan WHERE pos > len(syms)
       |)""".stripMargin

  /** The dict cut + `merges` unrolled training rounds (p/b/a/w CTE chain),
    * shared by the train and encode oracles. Emits b0..b{merges-1}. */
  private def trainChainCtes(cap: Int, merges: Int): String = {
    val rounds = (0 until merges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT l, r, SUM(cnt) AS c FROM (
         |    SELECT cnt, syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r
         |    FROM w$k, unnest(range(1, len(syms))) t(i))
         |  GROUP BY 1, 2
         |), b$k AS MATERIALIZED (
         |  SELECT l, r FROM p$k WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
         |), ${greedyApplyCte(k, s"w$k", s"a$k", s"w${k + 1}", "wid, cnt")}""".stripMargin
    }.mkString(", ")
    s"""dict AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS cnt FROM (
       |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS word
       |    FROM documents)
       |  GROUP BY word ORDER BY cnt DESC, word LIMIT $cap
       |), w0 AS MATERIALIZED (
       |  SELECT ROW_NUMBER() OVER (ORDER BY word) AS wid, cnt,
       |    [word[i:i] for i in range(1, length(word) + 1)] AS syms
       |  FROM dict
       |), $rounds""".stripMargin
  }

  def bpeTrainOracleSql(cap: Int, merges: Int): String = {
    val bests = (0 until merges)
      .map(k => s"SELECT $k AS rank, l, r FROM b$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE ${trainChainCtes(cap, merges)}
       |SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, l || r AS merged
       |FROM ($bests) ORDER BY rank""".stripMargin
  }

  /** DuckDB oracle for [[bpeEncode]]: the train chain (b0..b{merges-1})
    * plus `merges` MORE unrolled greedy-apply rounds over the DISTINCT
    * corpus vocabulary — the REPLAY form of encoding ([[encodeWordReplay]]:
    * apply merges in rank order, one pass each), which equals the Spark
    * side's lowest-rank-first fixpoint on any corpus whose merges don't
    * collide on a symbol string (see [[encodeWordReplay]]'s scaladoc;
    * BpeSpec pins the equivalence over the full vocabulary, and a
    * violating corpus fails this oracle compare loudly, never silently).
    * Per-doc token counts then join the word multiset against the encoded
    * vocabulary: n_bpe_tokens = Σ n·len(syms), n_word_chars = Σ n·len(word)
    * (LEFT JOIN + COALESCE so an all-whitespace doc keeps its 0,0 row,
    * mirroring the Spark side's empty split). Cost is vocabulary-bounded,
    * not corpus-bounded — the same scale-independence as training. */
  def bpeEncodeOracleSql(cap: Int, merges: Int): String = {
    val vrounds = (0 until merges)
      .map(k => greedyApplyCte(k, s"v$k", s"va$k", s"v${k + 1}", "word"))
      .mkString(", ")
    s"""WITH RECURSIVE ${trainChainCtes(cap, merges)},
       |doc_words AS MATERIALIZED (
       |  SELECT doc_id, word, COUNT(*) AS n FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS word
       |    FROM documents)
       |  GROUP BY doc_id, word
       |), v0 AS MATERIALIZED (
       |  SELECT word, [word[i:i] for i in range(1, length(word) + 1)] AS syms
       |  FROM (SELECT DISTINCT word FROM doc_words)
       |), $vrounds
       |SELECT d.doc_id,
       |  CAST(COALESCE(SUM(dw.n * len(v.syms)), 0) AS INT) AS n_bpe_tokens,
       |  CAST(COALESCE(SUM(dw.n * length(dw.word)), 0) AS INT) AS n_word_chars
       |FROM documents d
       |LEFT JOIN doc_words dw ON d.doc_id = dw.doc_id
       |LEFT JOIN v$merges v ON dw.word = v.word
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** The learned merge table over `documents` — rank, pair, merged symbol.
    * FULL ORACLE (previously rows-only "a learned vocabulary has no SQL
    * equivalent" — wrong once the merge loop is unrolled:
    * [[bpeTrainOracleSql]] reproduces the dictionary cut, the weighted
    * pair counts, the (count desc, left, right) argmax and the greedy
    * non-overlapping merge application exactly, so the learned vocabulary
    * itself is hash-checked against DuckDB at every gate scale). */
  val bpeTrain: QueryDef = QueryDef(
    "c19_bpe_train", "C19 C20", bpeTrainOracleSql(dictCap, numMerges)) { (s, d) =>
    import s.implicits._
    val merges = trainMerges(boundedDict(Tables.documents(s, d), dictCap), numMerges)
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r, l + r) }
      .toDF("rank", "left", "right", "merged")
      .orderBy("rank")
  }

  /** Per-document token count under the LEARNED vocabulary (vs the char
    * count it compresses): train once on the bounded dictionary, broadcast
    * the merge ranks inside the closure, encode distributedly.
    *
    * FULL ORACLE as of round 16 (previously rows-only: the fixpoint loop
    * — "merge the lowest-rank applicable pair until none applies" — is a
    * recursive CTE nested inside a recursive CTE with data-dependent
    * depth, which SQL cannot express). The unlock is the REPLAY identity:
    * the fixpoint equals applying the merges in training order, one
    * greedy pass each ([[encodeWordReplay]]), and the replay form IS a
    * fixed unroll — numMerges more greedy-apply rounds over the distinct
    * vocabulary, reusing the train chain's b$k argmax CTEs
    * ([[bpeEncodeOracleSql]]). Verified green at sf0.01/sf0.1/sf1/sf1skew
    * standalone before wiring (the round-15 prototype-first protocol);
    * BpeSpec pins replay == fixpoint over the full corpus vocabulary. */
  val bpeEncode: QueryDef = QueryDef(
    "c19_bpe_encode", "C19 C20", bpeEncodeOracleSql(dictCap, numMerges)) { (s, d) =>
    import s.implicits._
    val merges = trainMerges(boundedDict(Tables.documents(s, d), dictCap), numMerges)
    // fail loudly if this corpus learned string-colliding merges — the one
    // case where the replay-form oracle diverges from the fixpoint encode
    requireNoMergeCollisions(merges)
    val ranks: Map[(String, String), Int] = merges.zipWithIndex.toMap
    // repartition before the encode: the per-word merge loop is the CPU
    // stage, and a single-row-group scan would otherwise run it in one task
    Tables.documents(s, d)
      .spreadByKey(col("doc_id"))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val words = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
          val nTokens = words.map(w => encodeWord(w, ranks).length).sum
          val nChars = words.map(_.length).sum
          (id, nTokens, nChars)
        }
      }
      .toDF("doc_id", "n_bpe_tokens", "n_word_chars")
      .orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(bpeTrain, bpeEncode)
}
