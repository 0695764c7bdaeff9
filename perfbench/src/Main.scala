package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.GraftFunctions
import graft.similarity.Similarity

/** One closed-loop client over one workload. Sets up the session (timed
  * from before the JVM was launched), runs a cold pass that also checks
  * every operation's output (outside the timed phases), warm-up passes,
  * then measured passes for the requested seconds, and writes every raw
  * sample as JSON for `perfbench/run.py` to reduce.
  *
  * With tracing on, the benchmark's own Spark listener is attached to
  * every other measured pass, spans are recorded around each call into
  * graft, and the untraced passes in between give the tracing overhead.
  */
object Main {
  /** Passes after the cold one that still run slower while the JIT
    * compiles: run, but not measured.
    */
  private val WarmUpPasses = 2
  private val MinMeasuredPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, scratch: String, t0Ms: Double, cpus: Int, probeIds: Seq[Long],
      expected: Map[String, String], rawOut: String, spansOut: String)

  final case class Sample(pass: Int, op: Op, startMs: Double, buildS: Double,
      planS: Double, execS: Double, endMs: Double, error: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val expected = m.get("expected").filter(p => new java.io.File(p).isFile).map { p =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try src.getLines().map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
      finally src.close()
    }.getOrElse(Map.empty)
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("scratch"), need("t0-ms").toDouble, need("cpus").toInt,
      need("probe-ids").split(",").filter(_.nonEmpty).map(_.toLong).toSeq,
      expected, need("raw"), need("spans"))
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def open(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => if (t == "events") Tables.events(spark, dir) else Tables.t(spark, dir, t))

  /** Fixed single-thread CPU work, so runs on differently loaded boxes
    * can be told apart: median of five timings.
    */
  private def calib(): Double = {
    val ts = (1 to 5).map { _ =>
      val t = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0.0
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += (x & 1023); i += 1 }
      if (acc < 0) println(acc)
      (System.nanoTime() - t) / 1e9
    }
    ts.sorted.apply(2)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** Memory the session still holds after its passes: heap and non-heap
    * in use right after a full collection, taken once all timing is done.
    * Steadier than peak RSS, which follows the collector's heap-growth
    * decisions rather than the program.
    */
  private def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tr = new Tracer(a.trace)
    val (tables, units) = Workloads.workload(a.workload)

    // set-up, timed from before the JVM was launched, so JVM start,
    // class loading and the first schema inference all count
    val (spark, setup) = tr.span("setup", 0, 0) { id =>
      val s = tr.span("session.build", id, 0)(_ => session(a))
      val t1 = tr.nowMs
      tr.span("functions.register", id, 0)(_ => GraftFunctions.register(s))
      val t2 = tr.nowMs
      tr.span("tables.open", id, 0)(_ => open(s, a.data, tables))
      val t3 = tr.nowMs
      (s, ((t3 - a.t0Ms) / 1e3, (t1 - a.t0Ms) / 1e3, (t2 - t1) / 1e3, (t3 - t2) / 1e3))
    }
    val calibS = calib()
    val ctx = new Ctx(spark, a.data, a.scratch, a.probeIds)
    val counters = new Counters
    val samples = ArrayBuffer[Sample]()
    val passes = ArrayBuffer[(Int, Boolean, Double, Double)]()

    def runOp(pass: Int, op: Op, parent: Int, opId: Int): (Sample, DataFrame) =
      tr.span(op.name, parent, opId) { id =>
        val s = tr.nowMs
        var t = s
        var df: DataFrame = null
        val phase = Array(0.0, 0.0, 0.0)
        def step(i: Int, name: String)(body: => Unit): Unit =
          tr.span(name, id, opId) { _ => body; val n = tr.nowMs; phase(i) = (n - t) / 1e3; t = n }
        val err = try {
          step(0, "build") { df = op.run(ctx) }
          if (df != null) {
            step(1, "plan") { df.queryExecution.executedPlan }
            step(2, "exec") { op.sink(ctx, df) }
          }
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            Some(e.toString)
        }
        (Sample(pass, op, s, phase(0), phase(1), phase(2), tr.nowMs, err), df)
      }

    // output check, untimed: fingerprint the frame the op just produced
    // (for an eager writer, what it wrote) and compare with the expected
    val checks = ArrayBuffer[(String, String, String)]()
    val outBytes = ArrayBuffer[(String, Long)]()
    var recall = -1.0
    def check(op: Op, df: DataFrame): Unit = {
      val got = try {
        op.output.foreach(o => outBytes += ((op.name, dirBytes(new java.io.File(ctx.path(o))))))
        val fpDf = if (df != null) df else spark.read.parquet(ctx.path(op.output.get))
        if (op.name == "ivf_probe" && a.trace) recall = recallAt5(ctx, df)
        Workloads.fingerprint(fpDf, op.exact)
      } catch { case e: Throwable => s"error: $e" }
      checks += ((op.name, got, a.expected.getOrElse(op.name, "")))
    }

    var opId = 0
    def runPass(p: Int, traced: Boolean): Unit = {
      tr.on = a.trace && traced
      if (tr.on) spark.sparkContext.addSparkListener(counters)
      val order = new Random(a.seed * 1000003L + p).shuffle(units).flatten
      var checkMs = 0.0
      val s = tr.nowMs
      tr.span("pass", 0, 0) { id =>
        order.foreach { op =>
          opId += 1
          val (sample, df) = runOp(p, op, id, opId)
          samples += sample
          if (p == 0 && sample.error.isEmpty) {
            val c0 = tr.nowMs
            tr.span("check", id, opId)(_ => check(op, df))
            checkMs += tr.nowMs - c0
          } else if (p == 0) checks += ((op.name, s"error: ${sample.error.get}", ""))
        }
      }
      val wall = (tr.nowMs - s - checkMs) / 1e3
      if (tr.on) {
        counters.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
      }
      tr.on = false
      passes += ((p, traced && a.trace, wall, checkMs / 1e3))
    }

    // the first pass is the cold one, and the one whose outputs are
    // checked; the warm-up passes after it are not measured
    runPass(0, traced = true)
    (1 to WarmUpPasses).foreach(runPass(_, traced = false))
    val steadyStart = System.nanoTime()
    var p = WarmUpPasses + 1
    // traced runs alternate untraced and traced passes, so with three
    // measured passes they hold at least one of each
    def enough: Boolean = p > WarmUpPasses + MinMeasuredPasses &&
      (System.nanoTime() - steadyStart) / 1e9 >= a.seconds
    while (!enough) { runPass(p, traced = p % 2 == 0); p += 1 }

    // listener counts of a time window (an op or a span of a traced pass)
    val jobs = counters.jobStarts.asScala.map(_.toDouble).toArray
    val tasks = counters.tasks.asScala.toArray
    def counts(from: Double, to: Double): String = {
      val ts = tasks.filter(t => t.at >= from && t.at <= to)
      s""""jobs": ${jobs.count(t => t >= from && t <= to)}, "tasks": ${ts.length}, """ +
        s""""cpu_s": ${ts.map(_.cpuS).sum}, "gc_s": ${ts.map(_.gcS).sum}, """ +
        s""""sched_delay_s": ${ts.map(_.schedDelayS).sum}, """ +
        s""""shuffle_bytes": ${ts.map(_.shuffleBytes).sum}, "spill_bytes": ${ts.map(_.spillBytes).sum}"""
    }
    val traced = passes.filter(_._2).map(_._1).toSet

    val rssKb = peakRssKb()
    val retained = retainedMb()
    if (a.trace) tr.write(a.spansOut, s => counts(s.startMs, s.endMs))
    val w = new java.io.PrintWriter(a.rawOut, "UTF-8")
    try {
      def q(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
      } + "\""
      w.println("{")
      w.println(s""""setup": {"total_s": ${setup._1}, "session_s": ${setup._2}, """ +
        s""""register_s": ${setup._3}, "open_s": ${setup._4}},""")
      w.println(s""""calib_s": $calibS, "peak_rss_kb": $rssKb, "retained_mb": $retained, "recall_at5": $recall,""")
      w.println(s""""passes": [${passes.map { case (i, t, s, c) =>
        s"""{"pass": $i, "measured": ${i > WarmUpPasses}, "traced": $t, "wall_s": $s, "check_s": $c}"""
      }.mkString(", ")}],""")
      w.println(s""""ops": [${samples.map { s =>
        val c = if (traced(s.pass)) ", " + counts(s.startMs, s.endMs) else ""
        s"""{"pass": ${s.pass}, "name": ${q(s.op.name)}, "module": ${q(s.op.module)}, """ +
        s""""build_s": ${s.buildS}, "plan_s": ${s.planS}, "exec_s": ${s.execS}, """ +
        s""""ok": ${s.error.isEmpty}$c}"""
      }.mkString(",\n")}],""")
      w.println(s""""output_bytes": {${outBytes.map { case (n, b) => s"${q(n)}: $b" }.mkString(", ")}},""")
      w.println(s""""checks": [${checks.map { case (n, g, e) =>
        s"""{"name": ${q(n)}, "got": ${q(g)}, "want": ${q(e)}}""" }.mkString(",\n")}],""")
      w.println(s""""info": {"master": "local[${a.cpus}]", "heap_mb": ${Runtime.getRuntime.maxMemory / 1048576}, """ +
        s""""jvm": ${q(System.getProperty("java.version"))}, "spark": ${q(spark.version)}}""")
      w.println("}")
    } finally w.close()
    spark.stop()
  }

  /** Share of brute-force top-5 neighbours that the IVF-PQ probe returns. */
  private def recallAt5(c: Ctx, probe: DataFrame): Double = {
    def pairs(df: DataFrame) =
      df.select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteTopK(Workloads.probeQueries(c),
      Tables.embeddings(c.spark, c.data), "vec_id", "embedding", k = 5))
    if (truth.isEmpty) 0.0 else (pairs(probe) & truth).size.toDouble / truth.size
  }
}
