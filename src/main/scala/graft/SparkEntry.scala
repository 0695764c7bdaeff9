package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All operator modules, in SURVEY §2 order. */
  def modules: Seq[Module] = Seq(
    graft.operators.RelationalA,
    graft.operators.RelationalC,
    graft.operators.RelationalD,
    graft.operators.RelationalE,
    graft.operators.PreprocessB,
    graft.sources.SourcesI,
    graft.ml.MlC,
    graft.dedup.DedupD,
    graft.similarity.SimE,
    graft.text.TextF,
    graft.multimodal.MultimodalG,
    graft.streaming.StreamingH
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each registers
    * graft's functions on its session before building the query: this is
    * the one registration point for a session graft did not build (the
    * driver passes in its own).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.qs).map { q =>
      q.name -> { (s: SparkSession, d: String) =>
        graft.functions.GraftFunctions.register(s)
        q.fn(s, d)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.qs).flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
