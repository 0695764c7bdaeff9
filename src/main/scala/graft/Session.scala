package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for graft's mains: `local[cores]`, shuffle
  * partitions, UTC, no UI, WARN logging and graft's functions. The heap
  * is the JVM's own `-Xmx` (`tools/run.sh`, `build.sbt`); in local mode
  * `spark.driver.memory` set here would not change it, so it is not set.
  */
object Session {

  /** Cores for `local[n]`: `raw` (SPARK_GRAFT_CPUS) if a positive integer, else the machine's. */
  def cores(raw: Option[String]): Int =
    positive(raw, Runtime.getRuntime.availableProcessors())

  /** Shuffle partitions: `raw` (SPARK_GRAFT_SHUFFLE) if a positive integer,
    * else `cores`. Decoupling the two lets `tools/shape_sweep.py` prove
    * results identical on any cluster shape.
    */
  def shuffle(raw: Option[String], cores: Int): Int = positive(raw, cores)

  /** `raw` if it is a positive integer, else `default`: the one rule for
    * every count a main reads from env or argv (cores, partitions, reps,
    * chunks). Zero, negatives, fractions, overflow and junk all mean
    * the default.
    */
  def positive(raw: Option[String], default: Int): Int =
    raw.flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(default)

  /** `raw` if it is a finite non-negative number, else `default`. */
  def nonNegative(raw: Option[String], default: Double): Double =
    raw.flatMap(_.trim.toDoubleOption).filter(x => x >= 0.0 && !x.isInfinite)
      .getOrElse(default)

  def local(app: String): SparkSession = {
    val n = cores(sys.env.get("SPARK_GRAFT_CPUS"))
    val spark = SparkSession.builder()
      .appName(app).master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", shuffle(sys.env.get("SPARK_GRAFT_SHUFFLE"), n).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
