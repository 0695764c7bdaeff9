package graft

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
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, d)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      name -> ts.min
    }
    val body = times
      .map { case (k, v) =>
        s""""$k":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))}"""
      }
      .mkString("{", ",", "}")
    println(s"""{"mode":"solo","sf":"$d","reps":$reps,"data_fp":"${DataFp.of(d)}","queries":$body}""")
    spark.stop()
  }
}
