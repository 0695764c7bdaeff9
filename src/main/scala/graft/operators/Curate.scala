package graft.operators

import graft.{Report, SparkEntry, Tables}
import graft.Exact.GraftCheckpoint
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composed LLM-data pipeline a user
  * of this library actually runs, chaining the individually-verified
  * stages in their canonical order:
  *
  *   1. quality gate      — tx_filter_flags' Gopher-style keep rule
  *   2. exact dedup       — md5 representative per identical text
  *   3. near-dup dedup    — MinHash+LSH pairs → connected components →
  *                          min-id survivor per cluster
  *   4. token budget      — keep the longest documents until the token
  *                          budget (BudgetSelect's two-phase prefix sum)
  *   5. context packing   — concat-and-chunk the kept docs into
  *                          512-token training sequences (tx_pack's
  *                          per-shard single-counter prefix sum)
  *
  * Every stage is the same code path its standalone operator uses, so
  * correctness is inherited from their oracles/specs; CurateSpec pins
  * the funnel's monotonicity, survivor uniqueness, budget adherence and
  * determinism. Each stage is one or two shuffles keyed on doc identity
  * or content hash — the composition adds no new scale shape.
  */
object Curate {

  /** Runs the full pipeline on `d`'s documents table.
    * Returns (kept docs, funnel of (stage, surviving rows)).
    *
    * Each stage's output is materialized ONCE at the stage boundary
    * (`graftCheckpoint` — executor-loss-safe on clusters when the
    * reliable dir is set): the funnel count and every downstream stage
    * read the materialization, so the composition costs Σ stages, not
    * the O(stages²) prefix-recompute a chain of lazy counts would pay
    * at sf10+. `onStage` observes (stage, surviving rows, seconds) —
    * CurateBench's per-stage split; the default is a no-op.
    */
  def pipeline(s: SparkSession, d: String, budgetFrac: Double = 0.5,
      tau: Double = 0.7,
      onStage: (String, Long, Double) => Unit = (_, _, _) => ())
      : (DataFrame, Seq[(String, Long)]) = {
    val docs = Tables.documents(s, d)
    val funnel = Seq.newBuilder[(String, Long)]
    def stage(name: String)(df: => DataFrame): DataFrame = {
      val ((out, n), sec) = Report.sec { val out = df.graftCheckpoint(); (out, out.count()) }
      funnel += (name -> n)
      onStage(name, n, sec)
      out
    }
    locally {
      val (n, sec) = Report.sec(docs.count())
      funnel += ("input" -> n)
      onStage("input", n, sec)
    }

    // 1. quality gate (reuses the oracle-checked flags query)
    val quality = stage("quality_gate") {
      val keepIds = SparkEntry.queries("tx_filter_flags")(s, d)
        .filter(col("keep") === 1L).select("doc_id")
      docs.join(keepIds, Seq("doc_id"), "left_semi")
    }

    // 2. exact dedup: md5 representative
    val exact = stage("exact_dedup") {
      Dedup.withRepresentative(quality, "doc_id", md5(col("text")))
        .filter(col("doc_id") === col("__rep")).drop("__rep")
    }

    // 3. near-dup dedup: verified MinHash pairs → components → min-id
    val near = stage("near_dedup") {
      val pairs = Dedup.minhashNearDups(exact, "text", "doc_id", threshold = tau)
        .select("id_a", "id_b")
      val clusters = Dedup.connectedComponents(exact.select("doc_id"), "doc_id", pairs)
      exact.join(clusters, "doc_id")
        .filter(col("cluster_id") === col("doc_id")).drop("cluster_id")
    }

    // 4. token budget: longest docs first until budgetFrac of tokens
    val kept = stage("token_budget") {
      val scored = near
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("score", col("n_chars").cast("double"))
      val keptIds = BudgetSelect
        .selectToBudget(scored, "doc_id", "score", "n_tok", budgetFrac)
        .select("doc_id")
      near.join(keptIds, Seq("doc_id"), "left_semi")
        .select("doc_id", "text", "lang", "source", "n_chars")
    }

    (kept, funnel.result())
  }

  /** Stage 5 on the pipeline's kept docs: per-doc context-window
    * assignment (doc_id, shard, n_w, pack_id, straddle) — what a
    * training-data writer partitions the output files by. Same code
    * path as tx_pack, so pack semantics are oracle-inherited.
    */
  def pack(kept: DataFrame): DataFrame =
    graft.text.TextF.packAssignments(kept)
}
