package graft

/** Certification main for the COMPOSED LLM-data pipeline
  * (Curate.pipeline + pack): end-to-end wall time with a per-stage
  * split at a given SF dir — the BENCH sibling artifact for the
  * pipeline a reference user actually runs. Each stage is the same
  * code path its oracle-checked standalone operator uses; this main
  * adds only timing. One JSON line on stdout.
  *
  * Usage: tools/run.sh graft.CurateBench <sfDir>
  */
object CurateBench {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val spark = Session.local("graft-curate-bench")
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val stages = Seq.newBuilder[(String, Long, Double)]
    val t0 = System.nanoTime()
    val (kept, _) = graft.operators.Curate.pipeline(spark, d,
      onStage = (name, rows, sec) => stages += ((name, rows, sec)))
    val tPack = System.nanoTime()
    val packRows = graft.operators.Curate.pack(kept).count()
    val tEnd = System.nanoTime()
    stages += (("pack", packRows, (tEnd - tPack) / 1e9))
    val body = stages.result()
      .map { case (n, r, s) => s"""{"stage":"$n","rows":$r,"sec":${f(s)}}""" }
      .mkString("[", ",", "]")
    println(s"""{"pipeline":"curate","sf":"$d","total_sec":${f((tEnd - t0) / 1e9)},"stages":$body}""")
    spark.stop()
  }
}
