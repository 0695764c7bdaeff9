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
    positive(raw).getOrElse(Runtime.getRuntime.availableProcessors())

  /** Shuffle partitions: `raw` (SPARK_GRAFT_SHUFFLE) if a positive integer,
    * else `cores`. Decoupling the two lets `tools/shape_sweep.py` prove
    * results identical on any cluster shape.
    */
  def shuffle(raw: Option[String], cores: Int): Int = positive(raw).getOrElse(cores)

  private def positive(raw: Option[String]): Option[Int] =
    raw.flatMap(_.trim.toIntOption).filter(_ > 0)

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
