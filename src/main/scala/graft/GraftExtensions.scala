package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSim, FeatureHashEmbed, MinHashBands, MinHashSig, ShingleArray, SimHashSig, SrpBuckets}

/** SparkSessionExtensions hook: registers the engine's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT cosine_sim(a, b)")`
  * works next to the Scala Column API. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`; for a session that ALREADY
  * exists (builder extensions only apply when `getOrCreate` actually
  * creates one), use [[GraftExtensions.registerInto]]. No optimizer rule
  * is injected: the `graft.plans` rules are applied to one plan at a time
  * with `GraftBridge.withRule`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** (identifier, info, builder) triples shared by the builder-injection
    * path above and the existing-session path below. */
  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(array<float>, array<float>) - fused cosine similarity"),
      ((args: Seq[Expression]) => CosineSim(args(0), args(1))): FunctionBuilder),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(tokens) - 64-permutation MinHash of word 3-grams"),
      ((args: Seq[Expression]) => MinHashSig(args.head, 3, 64)): FunctionBuilder),
    (FunctionIdentifier("simhash_sig"),
      info("simhash_sig", "simhash_sig(tokens) - 64-bit SimHash of a token array"),
      ((args: Seq[Expression]) => SimHashSig(args.head)): FunctionBuilder),
    (FunctionIdentifier("shingle_array"),
      info("shingle_array", "shingle_array(tokens) - distinct word 3-gram shingles"),
      ((args: Seq[Expression]) => ShingleArray(args.head, 3)): FunctionBuilder),
    (FunctionIdentifier("minhash_bands"),
      info("minhash_bands", "minhash_bands(tokens) - 16 LSH band hashes of a 64-perm MinHash"),
      ((args: Seq[Expression]) => MinHashBands(args.head, 3, 64, 16)): FunctionBuilder),
    (FunctionIdentifier("srp_buckets"),
      info("srp_buckets", "srp_buckets(array<float>) - 4 sign-random-projection LSH buckets"),
      ((args: Seq[Expression]) => SrpBuckets(args.head, 4, 8)): FunctionBuilder),
    (FunctionIdentifier("feature_hash_embed"),
      info("feature_hash_embed",
        "feature_hash_embed(tokens) - 64-dim hashing-trick text embedding, L2-normalized"),
      ((args: Seq[Expression]) => FeatureHashEmbed(args.head, 64)): FunctionBuilder))

  /** Register the SQL functions into a session that was ALREADY built
    * (e.g. the shared test-JVM singleton, where
    * `builder.withExtensions(...).getOrCreate()` silently returns the
    * pre-existing session and never applies the extensions). Idempotent:
    * re-registration overwrites with identical builders. */
  def registerInto(spark: SparkSession): Unit =
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
