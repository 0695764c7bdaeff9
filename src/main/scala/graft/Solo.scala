package graft

import Report.{int, minSec, noop, num, obj, str}

/** Solo-timing main — NOT part of the driver contract. Times named
  * SparkEntry queries ONE AT A TIME (no concurrency, unlike Verify's
  * 4-way pool, whose timings.json gauge conflates contention with
  * scaling) to a `noop` sink (plan cost, not the verify writer).
  * min-of-reps per query; one JSON line on stdout. Used for the
  * round-10 adjudication of TIMINGS_r9's superlinear sf1→sf10 tail.
  *
  * Usage: tools/run.sh graft.Solo <sfDir> [reps] <query> [query ...]
  */
object Solo {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Solo <sfDir> [reps] <query> [query ...]")
    val d = args(0)
    // an all-digits second arg is the rep count (query names never are);
    // zero or an overflowing count means the default, as for every count
    val (reps, names) =
      if (args(1).matches("\\d+")) (Session.positive(Some(args(1)), 2), args.drop(2).toSeq)
      else (2, args.drop(1).toSeq)
    require(names.nonEmpty,
      "usage: graft.Solo <sfDir> [reps] <query> [query ...]")
    val spark = Session.local("graft-solo")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val times = names.map { name =>
      name -> num(minSec(reps)(noop(SparkEntry.queries(name)(spark, d))), 3)
    }
    println(obj("mode" -> str("solo"), "sf" -> str(d), "reps" -> int(reps),
      "data_fp" -> str(DataFp.of(d)), "queries" -> obj(times: _*)))
    spark.stop()
  }
}
