package graft

import Report.{arr, int, num, obj, sec, str}

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
    val stages = Seq.newBuilder[Report.Json]
    def stage(name: String, rows: Long, s: Double): Unit =
      stages += obj("stage" -> str(name), "rows" -> int(rows), "sec" -> num(s, 3))
    val ((packRows, packSec), totalSec) = sec {
      val (kept, _) = graft.operators.Curate.pipeline(spark, d, onStage = stage)
      sec(graft.operators.Curate.pack(kept).count())
    }
    stage("pack", packRows, packSec)
    println(obj("pipeline" -> str("curate"), "sf" -> str(d), "total_sec" -> num(totalSec, 3),
      "stages" -> arr(stages.result(): _*)))
    spark.stop()
  }
}
