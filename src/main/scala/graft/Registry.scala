package graft

/** Single source of truth for the declared query surface (SURVEY.md §2):
  * every implemented operator registers exactly one QueryDef here, and
  * SparkEntry.queries / oracleSql are derived from this list — the driver's
  * correctness gate runs precisely what is listed here.
  */
object Registry {

  val defs: Seq[QueryDef] =
    graft.queries.Relational.all ++
      graft.queries.PageRankLayout.all ++
      graft.queries.EtlQueries.all ++
      graft.dedup.Dedup.all ++
      graft.similarity.Similarity.all ++
      graft.text.TextAnalysis.all ++
      graft.text.Bpe.all ++
      graft.multimodal.Multimodal.all ++
      graft.pipelines.Curation.all ++
      graft.functions.Udafs.all

  require(defs.map(_.name).distinct.size == defs.size,
    "duplicate query names in Registry")

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  val oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
