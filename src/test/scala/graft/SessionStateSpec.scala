package graft

import org.apache.spark.sql.SparkSession

/** Queries leave no state behind: building and running every registered
  * query changes neither the session's conf, nor the optimizer rules
  * injected into it, nor its function registry. A rewrite rule a query
  * applies to its own plan (`GraftBridge.withRule`) therefore cannot reach
  * a later plan of the same shape. */
class SessionStateSpec extends SparkSpec {

  private def conf(s: SparkSession) = s.conf.getAll
  private def rules(s: SparkSession) = s.experimental.extraOptimizations
  private def functions(s: SparkSession) =
    s.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet

  test("every registered query runs without changing the session, and the as-of idiom stays unrewritten") {
    // Tables.events sets its footer conf on each load: load every table
    // once first, so that conf belongs to the baseline
    Tables.names.foreach { n =>
      if (n == "events") Tables.events(spark, sf) else Tables.load(spark, sf, n)
    }
    val (conf0, rules0, functions0) = (conf(spark), rules(spark), functions(spark))

    Registry.defs.foreach(q => q.fn(spark, sf).collect())

    val conf1 = conf(spark)
    assert(conf1 === conf0,
      s"conf changed: ${conf1.toSet.diff(conf0.toSet)} (was ${conf0.toSet.diff(conf1.toSet)})")
    assert(rules(spark) === rules0)
    val functions1 = functions(spark)
    assert(functions1 === functions0,
      s"functions added: ${functions1 -- functions0}, removed: ${functions0 -- functions1}")
    // c8_asof_rewrite ran above with AsofJoinRule on its own plan; the same
    // idiom planned without the rule keeps its join + window form
    val idiom = graft.queries.Relational.c8AsofIdiom(spark, sf)
    assert(!idiom.queryExecution.optimizedPlan.toString.contains("_graft_asof"))
  }
}
