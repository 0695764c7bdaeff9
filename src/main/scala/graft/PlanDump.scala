package graft

import java.nio.file.{Files, Paths}

/** Per-query formatted-plan dump for optimization evidence — NOT part of
  * the driver contract. Writes `<outDir>/<query>_<suffix>.txt` with the
  * `explain("formatted")` output of each named query at the given SF dir,
  * so a plan-shape claim ("2 Exchange → 1", "SortMergeJoin →
  * BroadcastHashJoin") can be checked against committed files without a
  * Spark session.
  *
  * Usage: tools/run.sh graft.PlanDump <sfDir> <outDir> <suffix> <query> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: graft.PlanDump <sfDir> <outDir> <suffix> <query> [query ...]")
    val d = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session.local("graft-plandump")
    val shape = s"local[${spark.sparkContext.defaultParallelism}], " +
      s"shuffle=${spark.conf.get("spark.sql.shuffle.partitions")}"
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val header = s"# $name @ $d ($shape) — $suffix\n\n"
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), header + plan)
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      println(s"[plandump] $name -> ${name}_$suffix.txt (Exchange lines: $exchanges)")
    }
    spark.stop()
  }
}
