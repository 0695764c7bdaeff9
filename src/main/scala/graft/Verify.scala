package graft
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Disk-awareness (r12, verdict item #2): the r11 sf100 sweep burned
    * ~6 oracle runs because giant verify dumps, DuckDB temp blocks and
    * Spark shuffle spills share one root FS — a dump that filled the
    * disk poisoned every query after it. Two guards:
    *
    *  1. BEFORE writing, the optimizer's size estimate (clamped to
    *     4× the leaf-scan bytes — join stats multiply and would
    *     otherwise produce astronomically-large garbage) × a 0.5
    *     parquet-compression factor is gated against measured free
    *     disk minus a headroom reserve (shuffle spill + DuckDB temp
    *     live on the same FS). Refusal is a one-line "need N GB" —
    *     fail fast, batch continues.
    *  2. If the write still dies (estimate was low, or a co-tenant ate
    *     the disk), the PARTIAL dump is deleted before moving on, so
    *     the failure doesn't cascade.
    *
    * SPARK_GRAFT_VERIFY_HEADROOM_GB sizes the reserve (default 10);
    * SPARK_GRAFT_VERIFY_FORCE=1 bypasses the pre-gate (e.g. when the
    * caller KNOWS the estimate is pessimistic). Oversized per-row
    * surfaces should go through the streamed compares
    * (tools/oracle_except.py / oracle_multiset.py) with
    * SPARK_GRAFT_VERIFY_COALESCE=0 — the refusal message says so.
    */
  /** None = the plan's size is UNKNOWN (a leaf reports the
    * defaultSizeInBytes sentinel — localCheckpoint LogicalRDDs in the
    * dedup/graph fixpoints do): the gate then falls back to the pure
    * headroom floor instead of refusing on garbage.
    */
  private[graft] def estimateDumpBytes(df: DataFrame,
      inputBytes: Option[Long] = None): Option[BigInt] = {
    val plan = df.queryExecution.optimizedPlan
    val leafSizes = plan.collectLeaves().map(_.stats.sizeInBytes)
    // unknown at HALF the sentinel, not == it: iterative-fixpoint plans
    // (graph_kcore) surfaced leaves at garbage values below
    // Long.MaxValue (a 4.8e9 GB "estimate" at sf100) — anything within
    // a factor of 2 of the sentinel, or a final estimate above 1 PB, is
    // stats noise, not a size
    val unknown = BigInt(Long.MaxValue) / 2
    // A leaf can also lie BELOW the sentinel band while still being
    // garbage: ml_error_by_decile's fit-internal LogicalRDD claimed
    // 5.2 TB at sf1 (177 MB of input), and the 4× clamp inflated with
    // it — a 10 TB "estimate" refused a deciles-sized dump (r14). No
    // genuine leaf can exceed the input data actually on disk by more
    // than an in-memory-representation factor, so when the caller
    // knows the input volume, any leaf claiming over 64× it demotes
    // the plan to the unknown-size path (same bucket checkpointed
    // fixpoint plans already land in — the pure headroom floor).
    val inputCap = inputBytes.map(b => BigInt(b.max(1L)) * 64)
    if (leafSizes.exists(s =>
          s >= unknown || inputCap.exists(s > _))) None
    else {
      val leaves = leafSizes.sum
      // Size-only stats MULTIPLY across joins (garbage for any
      // lineitem⋈orders plan), so clamp at 4× the scanned bytes: every
      // graft surface is at most a small multiple of its largest input
      // (q36_melt, the worst, is 3× orders rows at narrower width).
      // Tiny-aggregate queries over-estimate to ~input volume — which
      // still passes any healthy gate, and on a nearly-full disk
      // refusing them is RIGHT (their shuffle spill shares the same FS).
      val clamp = leaves * 4 + BigInt(1L << 20)
      val est = plan.stats.sizeInBytes.min(clamp) / 2 // parquet ~0.5 of in-mem
      if (est > BigInt(1L << 50)) None else Some(est) // >1 PB = garbage
    }
  }

  /** Pure gate: Some(reason) = refuse. Spec-covered directly.
    * estBytes=None (unknown-size plan) refuses only when free disk is
    * already below the headroom reserve itself.
    */
  private[graft] def gateRefusal(estBytes: Option[BigInt], freeBytes: Long,
      headroomBytes: Long): Option[String] = {
    val budget = BigInt(freeBytes) - BigInt(headroomBytes)
    estBytes match {
      case None if freeBytes < headroomBytes =>
        Some(f"plan size unknown and free disk ${freeBytes / 1e9}%.1f GB is " +
          f"already below the ${headroomBytes / 1e9}%.1f GB headroom reserve " +
          "— free disk first (stale dumps, target/ducktmp*), or " +
          "SPARK_GRAFT_VERIFY_FORCE=1")
      case Some(est) if est > budget =>
        Some(f"estimated dump ~${est.toDouble / 1e9}%.1f GB exceeds " +
          f"free ${freeBytes / 1e9}%.1f GB minus ${headroomBytes / 1e9}%.1f GB " +
          "headroom — need " +
          f"${(est - budget).toDouble / 1e9}%.1f GB more; rerun with " +
          "SPARK_GRAFT_VERIFY_COALESCE=0 + a streamed compare " +
          "(tools/oracle_except.py or oracle_multiset.py) on a bigger disk, " +
          "or SPARK_GRAFT_VERIFY_FORCE=1 if the estimate is pessimistic")
      case _ => None
    }
  }

  private def deleteRecursively(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(deleteRecursively))
    p.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir); extra args = local-iteration
    // filter, dump only the named queries
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val headroomBytes =
      (sys.env.getOrElse("SPARK_GRAFT_VERIFY_HEADROOM_GB", "10").toDouble * 1e9).toLong
    val force = sys.env.get("SPARK_GRAFT_VERIFY_FORCE").contains("1")
    // run queries on a small thread pool: Spark's scheduler interleaves
    // the jobs and the long ML fits overlap the cheap relational dumps
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // per-query wall seconds (build + execute + dump) → timings.json.
    // NOT a certified benchmark (queries run 4-way concurrent, one
    // sample) — a COVERAGE gauge: Bench times 10 headliners, this
    // surfaces a 10x regression in any of the other ~244 in a diff.
    val timings = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    // admitted-but-unfinished dump estimates (r13, advice item): the
    // 4 pool threads gate against the same getUsableSpace snapshot, so
    // without a reservation several large dumps admitted concurrently
    // could jointly exceed free-minus-headroom. Each admission reserves
    // its estimate until its bytes are actually on disk (when
    // getUsableSpace sees them); the gate subtracts outstanding
    // reservations from the measured free space.
    val reserved = new java.util.concurrent.atomic.AtomicLong(0L)
    // actual on-disk input volume: the garbage-leaf cap's ground truth
    val inputBytes = locally {
      def size(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
        else f.length()
      size(new java.io.File(sfDir))
    }
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val dumpDir = new java.io.File(s"$outDir/$name")
          var myReservation = 0L
          try {
            val t0 = System.nanoTime()
            // coalesce(1) keeps the dump a single file for the driver's
            // reader, but it also serializes the WRITE into one task —
            // at sf100 a 600M-row per-row surface takes ~10 min alone.
            // SPARK_GRAFT_VERIFY_COALESCE=0 keeps the query's own
            // parallelism (the local compare tools glob *.parquet).
            val res = fn(spark, sfDir)
            // no early `return` here: a nonlocal return from inside the
            // Runnable would be swallowed by the Throwable catch below
            val est = estimateDumpBytes(res, Some(inputBytes))
            val freeNow = math.max(0L,
              new java.io.File(outDir).getUsableSpace - reserved.get())
            val refusal =
              if (force) None
              else gateRefusal(est, freeNow, headroomBytes)
            refusal match {
              case Some(reason) =>
                System.err.println(s"[verify] $name refused: $reason")
              case None =>
                myReservation =
                  est.map(_.min(BigInt(Long.MaxValue)).toLong).getOrElse(0L)
                reserved.addAndGet(myReservation): Unit
                val out =
                  if (sys.env.get("SPARK_GRAFT_VERIFY_COALESCE").contains("0")) res
                  else res.coalesce(1)
                out.write.mode("overwrite").parquet(s"$outDir/$name")
                timings.put(name, (System.nanoTime() - t0) / 1e9)
            }
          }
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            // disk-full (or any) write failure: free the partial dump so
            // this query's corpse doesn't take the rest of the batch down
            if (dumpDir.exists()) {
              deleteRecursively(dumpDir)
              System.err.println(s"[verify] $name partial dump deleted")
            }
          }
          finally {
            if (myReservation != 0L) reserved.addAndGet(-myReservation): Unit
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    locally {
      import scala.jdk.CollectionConverters._
      val body = timings.asScala.toSeq.sortBy(_._1)
        // Locale.ROOT: the f-interpolator honors the JVM default
        // locale, and a comma decimal separator would emit invalid JSON
        .map { case (k, v) =>
          s""""$k":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))}"""
        }
        // input-data fingerprint: timings are only comparable across
        // runs with identical data (see DataFp); the underscore prefix
        // sorts it first and can't collide with a query name
        .prepended(s""""_data_fp":"${DataFp.of(sfDir)}"""")
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/timings.json"), body)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
