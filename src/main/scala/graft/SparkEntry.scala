package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_multijoin")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.TextOps.queries ++
      graft.queries.Similarity.queries ++
      graft.queries.Temporal.all ++
      graft.queries.Extended.queries

  /** Parse a comma-separated query-name list — Bench's SPARK_GRAFT_ONLY,
    * Verify's subset argument, StreamProf's and PlanDump's name lists.
    * Blank tokens are dropped, and a name matching no registered query
    * fails fast (a typo'd subset would otherwise run the wrong thing and
    * look like a regression). Returns the names in the given order,
    * without duplicates; an empty result means every query, never a
    * silent 0-query run.
    */
  def queryNames(spec: String): Seq[String] = {
    val names = spec.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(queries.keySet)
    require(unknown.isEmpty,
      s"names match no registered query: ${unknown.sorted.mkString(", ")}")
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.oracle.Relational.oracle ++
      graft.oracle.TextOps.oracle ++
      graft.oracle.Similarity.oracle ++
      graft.oracle.Temporal.oracle ++
      graft.oracle.Extended.oracle

  /** [[oracleSql]] plus the data-dependent oracles that can only be
    * generated against a concrete data dir (emb_pca_topk embeds its
    * eigenbasis as SQL literals), for the queries in `names` (empty =
    * every query). Only the named data-dependent oracles are generated:
    * each one is Spark work over `sfDir` (PCA/OPQ bases, hybrid legs, the
    * isotonic fit). Verify dumps THIS map, so the driver's DuckDB gate
    * sees every query fully oracled.
    */
  def oracleSqlFor(spark: SparkSession, sfDir: String,
      names: Set[String]): Map[String, String] = {
    def keep(q: String) = names.isEmpty || names(q)
    oracleSql.filter { case (q, _) => keep(q) } ++
      dataOracles.collect { case (q, gen) if keep(q) => q -> gen(spark, sfDir) }
  }

  private def dataOracles: Seq[(String, (SparkSession, String) => String)] = {
    import graft.oracle.Similarity._
    Seq(
      "emb_pca_topk" -> pcaOracleSql _,
      "emb_whitening" -> whiteningOracleSql _,
      "sim_opq_code_gain" -> opqOracleSql _,
      "sim_opq_recall" -> opqRecallSql _,
      "sim_opq_ivfpq_gain" -> opqIvfpqGainSql _,
      "sim_opq_rerank_gain" -> opqRerankGainSql _,
      "stream_opq_encode" -> opqStreamCodesSql _,
      "stream_opq_probe" -> opqAdcProbeSql _,
      "pipeline_hybrid_retrieval" -> hybridRetrievalSql _,
      "pipeline_hybrid_gain" -> hybridGainSql _,
      "pipeline_hybrid_ksweep" -> hybridKsweepSql _,
      "pipeline_hybrid_depth_curve" -> hybridDepthCurveSql _,
      "pipeline_retrieval_metrics" -> hybridMetricsSql _,
      "sim_opq_train_curve" -> opqTrainCurveSql _,
      "text_quality_isotonic" -> graft.oracle.TextOps.isotonicOracleSql _)
  }
}
