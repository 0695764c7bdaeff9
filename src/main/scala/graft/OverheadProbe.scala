package graft

import org.apache.spark.sql.functions._

/** One-off decomposition of Spark's fixed per-job cost on a trivial
  * one-shuffle plan (st_window_agg) — NOT part of the driver contract.
  * The query is nominally >2× DuckDB at every SF while its plan (scan →
  * partial agg → one exchange → final agg → sort of a bounded surface)
  * is already minimal, so the gap must live in per-job machinery:
  * planning/AQE stage re-planning, the range-sort's sampling pass, the
  * commit protocol, or the scan itself. Measure each layer separately,
  * min-of-reps, one JSON line, so BASELINE.md can record where the
  * floor is and whether it is recoverable or Spark-intrinsic.
  *
  * Usage: tools/run.sh graft.OverheadProbe <sfDir> [reps]
  */
object OverheadProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = Session.local("graft-overhead-probe")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def minOf(body: => Unit): Double = Seq.fill(reps)(time(body)).min
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val full = () => SparkEntry.queries("st_window_agg")(spark, d)
    val aggOnly = () => graft.streaming.Streaming.windowAgg(Tables.events(spark, d))
    // warmup: codegen, parquet footers, JIT
    (1 to 2).foreach { _ => noop(full()) }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // planning cost alone: analysis + optimization + physical planning
    // (no job) on a fresh plan each rep
    results("plan_only") = minOf { full().queryExecution.executedPlan }
    // the scan floor: same columns, no aggregation
    results("scan_count") = minOf {
      Tables.events(spark, d).select("ts", "event_type", "value").count(): Unit
    }
    // aggregate without the final sort (drops the range exchange + its
    // bounds-sampling pass)
    results("agg_noop") = minOf { noop(aggOnly()) }
    // the full registered query (agg + orderBy)
    results("full_noop") = minOf { noop(full()) }
    // collect instead of noop-write (commit-protocol share)
    results("full_collect") = minOf { full().collect(): Unit }
    // AQE off: no per-stage re-planning (NOT the config we'd ship at
    // 100 TB — measured only to size AQE's share of the floor)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    (1 to 1).foreach { _ => noop(full()) }
    results("full_noop_aqe_off") = minOf { noop(full()) }
    results("agg_noop_aqe_off") = minOf { noop(aggOnly()) }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // empty-relation floor: the absolute per-job cost of this session
    results("empty_job") = minOf {
      spark.range(0).groupBy((col("id") % 7).as("g")).count().collect(): Unit
    }

    val body = results
      .map { case (k, v) =>
        s""""$k":${String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))}"""
      }.mkString("{", ",", "}")
    println(s"""{"mode":"overhead","sf":"$d","reps":$reps,"data_fp":"${DataFp.of(d)}","layers":$body}""")
    spark.stop()
  }
}
