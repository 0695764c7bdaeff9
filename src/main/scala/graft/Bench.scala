package graft

/** Driver-run benchmark: headline queries (SURVEY §6) on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query materializes through the `noop` sink so every projected
  * column is actually computed (a bare count() would let Catalyst prune
  * the computed columns and time nothing). One warmup pass at sf0.001
  * amortizes JIT/classloading out of the measurement, mirroring how a
  * long-lived cluster session behaves.
  */
object Bench {
  // the two round-6 additions (dd_winnow_pairs, sim_ivfpq_topk) track
  // the compute-bound LLM-pipeline half: winnowing fingerprints + the
  // PQ encode/ADC codegen path, the operators where plan quality (not
  // Spark's per-job floor) dominates the wall time
  val headline: Seq[String] = Seq(
    "q01_agg", "q03_join_agg", "q05_window", "q10_corr",
    "dd_minhash", "sim_brute_topk", "tx_quality", "st_window_agg",
    "dd_winnow_pairs", "sim_ivfpq_topk")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cores(sys.env.get("SPARK_GRAFT_CPUS"))
    val spark = Session.local("graft-bench")

    def exec(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    // warmup pass on the target SF: steady-state throughput measurement —
    // JIT, codegen, parquet footers, broadcast builds and AQE plans are
    // warm, as they would be in a long-lived cluster session
    headline.foreach { n =>
      try exec(n, sfDir)
      catch { case _: Throwable => () }
    }

    // reps per query, ROUND-ROBIN INTERLEAVED (rep loop outside, query
    // loop inside): this box's co-tenant load spikes last minutes, so
    // consecutive reps of one query can all land inside a spike — measured
    // 0.39s vs 33.6s for the identical plan across two runs. Interleaving
    // spreads a sustained spike across one round instead of one query's
    // whole sample. Report min (steady-state throughput) plus the median
    // as the noise gauge: median/min >> 1 means the box was loaded, not
    // that the plan changed.
    //
    // SELF-CERTIFICATION over a FIXED-SIZE WINDOW: a clean run has
    // median ≈ min per query. After the initial reps, keep adding
    // interleaved rounds (bounded by SPARK_GRAFT_BENCH_MAX_REPS) while
    // any query's stats stay noisy — but the REPORTED stats are always
    // computed over the best contiguous `reps`-sized window of samples
    // (the one with the lowest median), never over all accumulated
    // samples: min over a variable, noise-conditioned rep count biases
    // low and makes numbers non-comparable across runs that retried a
    // different number of times. Retrying only gives a spike-free window
    // a chance to exist; it cannot shrink the sample the headline number
    // is drawn from. The JSON reports certified + the worst windowed
    // ratio + per-query valid sample counts, so a still-dirty run (or a
    // plan with genuinely bimodal latency, which no amount of retrying
    // certifies) is visible as such rather than as a regression.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_REPS", "25").toInt
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    def oneRound(): Unit = headline.foreach { name =>
      val t0 = System.nanoTime()
      val t = try { exec(name, sfDir); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      samples(name) = samples(name) :+ t
    }
    def median(v: Vector[Double]): Double = { val s = v.sorted; s(v.size / 2) }
    // best fixed-size window of a query's valid samples: (min, median)
    def windowStats(name: String): (Double, Double) = {
      val ts = samples(name).filter(_ >= 0)
      if (ts.isEmpty) (-1.0, -1.0)
      else {
        val best = ts.sliding(math.min(reps, ts.size)).minBy(median)
        (best.min, median(best))
      }
    }
    // ratio over queries that have ≥1 valid sample: a query that fails
    // every rep (it's already visible as value -1.0 / samples 0) must not
    // return Infinity here, or one broken query would both block the
    // retry loop and mark every OTHER query's clean window uncertified.
    def worstRatio(): Double = {
      val rs = headline.flatMap { n =>
        val (mn, md) = windowStats(n)
        if (mn < 0) None else Some(md / mn)
      }
      if (rs.isEmpty) Double.PositiveInfinity else rs.max
    }
    (1 to reps).foreach(_ => oneRound())
    var done = reps
    while (worstRatio() > 1.2 && done < maxReps) {
      System.err.println(f"[bench] windowed median/min ${worstRatio()}%.2f > 1.2 — retry round ${done + 1}")
      oneRound()
      done += 1
    }
    val results = headline.map(name => name -> windowStats(name)).toMap
    val counts = headline.map(name => name -> samples(name).count(_ >= 0)).toMap
    // sf0.01 suite total — the marginal-cost denominator BASELINE.md's
    // scaling decomposition uses (total(sf0.1) − total(sf0.01) ≈ the
    // data-proportional cost; the sf0.01 total is ~all fixed per-job
    // overhead). Two interleaved rounds, per-query min, summed.
    val sf001Dir = sfDir.replace("sf0.1", "sf0.01")
    val total001 =
      if (sf001Dir != sfDir && new java.io.File(sf001Dir).isDirectory) {
        val mins = headline.map { n =>
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            try { exec(n, sf001Dir); (System.nanoTime() - t0) / 1e9 }
            catch { case _: Throwable => -1.0 }
          }.filter(_ >= 0)
          if (ts.isEmpty) 0.0 else ts.min
        }
        mins.sum
      } else -1.0
    // build/probe split for the ANN composition: the headline
    // sim_ivfpq_topk number is an end-to-end BUILD+PROBE cycle per rep
    // (the build amortizes across queries in any real deployment), so a
    // probe-path regression could hide inside build noise — time the
    // halves separately with the operator's exact parameters. min-of-3
    // each, matching the headline's steady-state convention.
    val (buildSec, probeSec) = try {
      import org.apache.spark.sql.functions.col
      val e = Tables.embeddings(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      val c = e.filter(col("vec_id") >= 10)
      // one index dir per build rep (each rep rewrites the cell layout),
      // deleted at shutdown
      var idx: graft.similarity.IvfPq.IvfPqIndex = null
      val bts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        idx = graft.similarity.IvfPq.buildIndex(c, "vec_id", "embedding", nClusters = 8,
          m = 8, ksub = 16, path = graft.similarity.IndexDirs.create("ivfpq_bench_"))
        (System.nanoTime() - t0) / 1e9
      }
      val pts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.similarity.IvfPq.probeIndex(idx, q, "vec_id", "embedding", k = 5, nProbe = 4)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      (bts.min, pts.min)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ivfpq build/probe split failed: ${e.getMessage}")
      (-1.0, -1.0)
    }
    println(render(results, counts, sfDir, done, math.min(reps, done), worstRatio(),
      calibrate(), total001, buildSec, probeSec, DataFp.of(sfDir), cpus))
    spark.stop()
  }

  /** Fixed single-thread CPU marker (~0.07 s on this box when quiet):
    * certification (windowed median ≈ min) catches INTRA-run spikes but
    * not a SUSTAINED co-tenant load that slows every query uniformly —
    * two certified runs measured 5.5 s and 7.4 s totals minutes apart.
    * A deterministic scalar loop timed beside the queries calibrates
    * that: compare `calib_sec` across runs before comparing totals.
    * min-of-3 so a scheduler blip doesn't pollute the marker itself.
    */
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 1469598103934665603L
      var i = 0
      while (i < 50000000) { h = (h ^ i) * 1099511628211L; i += 1 }
      if (h == 42L) System.err.println("") // keep the loop live
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(3)(once()).min
  }

  /** The driver-contract metrics line: ONE line of bare JSON (no log
    * prefix, no embedded newline — `run` is forked with inherited stdio
    * precisely so sbt can't prepend `[info]`; BenchContractSpec pins
    * the shape). Pure so the spec can exercise it without a 5-minute
    * bench run.
    */
  def render(results: Map[String, (Double, Double)],
      counts: Map[String, Int], sfDir: String, reps: Int, window: Int,
      ratio: Double, calib: Double, total001: Double,
      ivfpqBuild: Double, ivfpqProbe: Double, dataFp: String,
      cpus: Int): String = {
    def json(f: ((Double, Double)) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val sampleJson = counts.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    // a query with zero valid samples still fails certification — its
    // wall time is missing from `total`, so the run isn't comparable
    val certified = ratio <= 1.2 && ratio >= 0.0 && counts.values.forall(_ > 0)
    val ratioStr = if (ratio.isInfinite) "-1.0" else f"$ratio%.4f"
    val calibStr = f"$calib%.4f"
    val t001Str = f"$total001%.4f"
    val buildStr = f"$ivfpqBuild%.4f"
    val probeStr = f"$ivfpqProbe%.4f"
    // cpus/master echo the resolved $SPARK_GRAFT_CPUS contract back to the
    // driver: its 8-vs-32-core scaling heuristic fired a false
    // `suspect_cpus_ignored` in r14 because the JSON didn't say which core
    // count produced the run (observability only — no timed-path change)
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(_._1)},"queries_median":${json(_._2)},"samples":$sampleJson,"reps":$reps,"window":$window,"certified":$certified,"median_over_min":$ratioStr,"calib_sec":$calibStr,"total_sf001":$t001Str,"ivfpq_build_sec":$buildStr,"ivfpq_probe_sec":$probeStr,"data_fp":"$dataFp","cpus":$cpus,"master":"local[$cpus]","sf":"$sfDir"}"""
  }
}
