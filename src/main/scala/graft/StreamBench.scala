package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.streaming.Streaming
import Report.{int, num, obj, str}

/** Streaming-at-scale evidence (round-11 verdict item #8, extended in
  * r12 to ALL heavy stateful twins) — NOT part of the driver contract.
  * The streaming twins are spec-equal to their batch plans at sf0.01
  * via MemoryStream; this main runs them on the sf1 feed as a real
  * file-source stream split into K time-ordered micro-batches
  * (maxFilesPerTrigger=1) and records what a capacity plan needs per
  * twin:
  *
  *   - throughput (input rows / summed batch wall),
  *   - peak state rows + bytes (the boundedness claim, measured: KMV is
  *     k longs per event type no matter how many events stream past,
  *     EWMA is 8 longs per key, SCD2 one open row per key),
  *   - batch count (proves the run was actually incremental).
  *
  * Progress is gathered by a StreamingQueryListener, not
  * `recentProgress` (which retains only the last ~100 entries and
  * would silently understate rows/batches/state for larger chunk
  * counts — ADVICE r11). One JSON line on stdout → STREAM_r{N}.json.
  *
  * The `*_ttl` variants run the same twin with idle-key eviction
  * (event-time TTL on last activity) — the measured state ceiling is
  * the ACTIVE key set, not every key ever seen.
  *
  * Usage: tools/run.sh graft.StreamBench <sfDir> [chunks]
  */
object StreamBench {

  /** Exact progress capture: every QueryProgressEvent for every query,
    * keyed by query id. Listener delivery is async, so `drain` polls
    * until the buffer stops growing after the query is stopped.
    */
  private final class Collector extends StreamingQueryListener {
    private val byId = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]]()
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val buf = byId.computeIfAbsent(e.progress.id,
        _ => scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]())
      buf.synchronized { buf += e.progress }
    }
    def drain(id: java.util.UUID): Seq[StreamingQueryProgress] = {
      var last = -1
      var stable = 0
      while (stable < 3) { // 3 × 200 ms with no growth = bus drained
        val cur = Option(byId.get(id)).map(b => b.synchronized(b.size)).getOrElse(0)
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(200)
      }
      Option(byId.get(id)).map(b => b.synchronized(b.toSeq)).getOrElse(Seq.empty)
    }
  }

  /** Write `df` as `chunks` single-file parquet slices of ascending
    * `orderCol`, file mtimes ascending, so FileStreamSource replays
    * them oldest-first as one micro-batch each — a time-ordered feed,
    * the in-order delivery contract the stateful twins document.
    */
  private def writeChunked(df: DataFrame, orderCols: Seq[String],
      dir: String, chunks: Int): Unit = {
    val n = df.count()
    val per = math.max(1L, (n + chunks - 1) / chunks)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols.map(col): _*)
    // the global row_number is bench PREP (one sort to fabricate the
    // ordered feed a broker would deliver), not the plan under test
    val ranked = df.withColumn("__rn", row_number().over(w))
      .withColumn("__chunk", ((col("__rn") - 1L) / per).cast("int"))
      .drop("__rn")
    val staging = s"${dir}_stage"
    new java.io.File(dir).mkdirs()
    val base = 1700000000000L
    (0 until chunks).foreach { i =>
      val stage = s"$staging/c$i"
      ranked.filter(col("__chunk") === i).drop("__chunk")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"chunk_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(base + i * 60000L)
    }
  }

  private case class Meas(rows: Long, batches: Int, wallSec: Double,
      stateRowsMax: Long, stateBytesMax: Long, stateRowsLast: Long) {
    def json: Report.Json = {
      val rps = if (wallSec > 0) rows / wallSec else -1.0
      obj("rows" -> int(rows), "batches" -> int(batches), "wall_sec" -> num(wallSec, 3),
        "rows_per_sec" -> int(rps.toLong), "state_rows_max" -> int(stateRowsMax),
        "state_bytes_max" -> int(stateBytesMax), "state_rows_last" -> int(stateRowsLast))
    }
  }

  /** Run a streaming query built over the chunked dir until the feed
    * is drained; progress comes from the listener (exact for ANY chunk
    * count). state_rows_last vs state_rows_max is the eviction
    * readout: with a TTL the final batch's state reflects only keys
    * still active inside the TTL horizon.
    */
  private def run(root: String, collector: Collector,
      out: DataFrame, mode: String): Meas = {
    val q = out.writeStream.format("noop").outputMode(mode)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(root), "ckpt").toString)
      .start()
    val id = q.id
    try {
      q.processAllAvailable()
    } finally q.stop()
    val all = collector.drain(id)
    val ps = all.filter(_.numInputRows > 0)
    Meas(
      rows = ps.map(_.numInputRows).sum,
      batches = ps.length,
      wallSec = ps.map(_.durationMs.values().stream()
        .mapToLong(_.longValue()).sum()).map(_ / 1000.0).sum,
      stateRowsMax = if (ps.isEmpty) 0L
        else ps.map(p => p.stateOperators.map(_.numRowsTotal).sum).max,
      stateBytesMax = if (ps.isEmpty) 0L
        else ps.map(p => p.stateOperators.map(_.memoryUsedBytes).sum).max,
      stateRowsLast = all.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
  }

  def main(args: Array[String]): Unit = {
    val d = args(0)
    val chunks = Session.positive(args.lift(1), 16)
    val spark = Session.local("graft-stream-bench")
    val collector = new Collector
    spark.streams.addListener(collector)

    // the fabricated feeds, their staging and every checkpoint live under
    // root, which is deleted however the run ends
    val root = java.nio.file.Files.createTempDirectory("graft_sb").toString
    try bench(spark, collector, root, d, chunks)
    finally {
      import scala.jdk.CollectionConverters._
      val paths = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try paths.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists)
      finally paths.close()
      spark.stop()
    }
  }

  private def bench(spark: SparkSession, collector: Collector, root: String,
      d: String, chunks: Int): Unit = {
    import spark.implicits._

    // feed 1: events as CdcEvent (scd2/cdc/gap-fill/funnel/growth/
    // late/transitions/kmv all read this shape)
    val cdcDir = s"$root/cdc"
    writeChunked(
      Tables.events(spark, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")),
      Seq("ts", "event_id"), cdcDir, chunks)
    val cdcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def cdcStream() = spark.readStream.schema(cdcSchema)
      .option("maxFilesPerTrigger", "1").parquet(cdcDir)

    // feed 2: orders as EwmaEvent / ExpEvent
    val ewmaDir = s"$root/ewma"
    writeChunked(
      Tables.orders(spark, d)
        .select(col("o_custkey").as("user_id"), col("o_orderkey").as("order_id"),
          col("o_orderdate").cast("timestamp").as("ts"),
          (round(col("o_totalprice") * 100.0)).cast("long").as("cents")),
      Seq("ts", "order_id"), ewmaDir, chunks)
    val ewmaSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("order_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("cents", org.apache.spark.sql.types.LongType)))
    def ewmaStream() = spark.readStream.schema(ewmaSchema)
      .option("maxFilesPerTrigger", "1").parquet(ewmaDir)

    val results = scala.collection.mutable.LinkedHashMap[String, Meas]()
    results("st_window_agg") = run(root, collector,
      Streaming.windowAggStream(cdcStream()), "append")
    results("st_sliding_distinct_kmv") = run(root, collector,
      Streaming.kmvStream(cdcStream().as[Streaming.KmvEvent], 64).toDF(), "update")
    results("st_scd2") = run(root, collector,
      Streaming.scd2Stream(cdcStream().as[Streaming.CdcEvent]).toDF(), "update")
    results("st_cdc") = run(root, collector,
      Streaming.cdcStream(cdcStream().as[Streaming.CdcEvent]).toDF(), "update")
    results("st_gap_fill") = run(root, collector,
      Streaming.gapFillStream(cdcStream().as[Streaming.CdcEvent]).toDF(), "update")
    results("q44_funnel_stream") = run(root, collector,
      Streaming.funnelStream(cdcStream().as[Streaming.CdcEvent]).toDF(), "update")
    results("q129_growth_stream") = run(root, collector,
      Streaming.growthStream(cdcStream().as[Streaming.CdcEvent]).toDF(), "append")
    results("q62_late_stream") = run(root, collector,
      Streaming.lateStream(cdcStream()
        .select(col("event_id"), col("ts"), col("user_id"))
        .as[Streaming.LateEvent]).toDF(), "append")
    results("q65_transitions_stream") = run(root, collector,
      Streaming.transitionsStream(cdcStream()
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .as[Streaming.TransEvent]).toDF(), "append")
    results("q58_ewma_stream") = run(root, collector,
      Streaming.ewmaStream(ewmaStream().as[Streaming.EwmaEvent]).toDF(), "append")
    // eviction variants: same twins, idle keys (no activity for 180
    // event-time days) evicted — the dormant-key ceiling vs the
    // ever-seen ceiling. The events feed spans ~30 days so the events
    // twins keep full equality; orders span years, so q58's TTL run
    // demonstrates the ACTIVE-set bound (returning dormant keys
    // restart — documented semantics, spec-pinned on the planted case).
    val ttlMs = 180L * 86400000L
    results("q58_ewma_stream_ttl") = run(root, collector,
      Streaming.ewmaStream(
        ewmaStream().withWatermark("ts", "1 minute").as[Streaming.EwmaEvent],
        Some(ttlMs)).toDF(), "append")
    results("q65_transitions_stream_ttl") = run(root, collector,
      Streaming.transitionsStream(cdcStream()
        .withWatermark("ts", "1 minute")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .as[Streaming.TransEvent], Some(ttlMs)).toDF(), "append")

    println(obj("mode" -> str("stream_bench"), "sf" -> str(d), "chunks" -> int(chunks),
      "data_fp" -> str(DataFp.of(d)),
      "twins" -> obj(results.toSeq.map { case (k, m) => k -> m.json }: _*)))
  }
}
