package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{SparkEntry, Tables}
import graft.similarity.IvfPq
import graft.sources.Sources

/** Everything an operation needs: the session, its inputs, the run's
  * scratch root, and state that one operation hands to the next (the
  * IVF-PQ index, the schema of a file written earlier in the pass).
  */
final class Ctx(val spark: SparkSession, val data: String, val scratch: String,
    val probeIds: Seq[Long]) {
  var index: IvfPq.IvfPqIndex = _
  val schemas = scala.collection.mutable.Map[String, StructType]()
  def path(name: String): String = s"$scratch/$name"
}

/** One timed operation. `run` is the module's query function (plus any
  * eager driver-side work it does); a null result means the work was
  * all eager and there is nothing to plan or execute. `sink` is the
  * action; `exact` picks the output check (hash vs rows + schema).
  * `output` names the scratch directory a writing operation fills.
  */
final case class Op(name: String, module: String, exact: Boolean,
    run: Ctx => DataFrame, sink: (Ctx, DataFrame) => Unit = (_, df) => Workloads.noop(df),
    output: Option[String] = None)

object Workloads {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def reg(name: String, module: String): Op =
    Op(name, module, SparkEntry.oracleSql.contains(name),
      c => SparkEntry.queries(name)(c.spark, c.data))

  /** Units run in order inside; the seed shuffles units within a pass. */
  def workload(name: String): (Seq[String], Seq[Seq[Op]]) = name match {
    case "eda" =>
      // the notebooks' flow in one session: sub-second EDA queries, the
      // preprocessed frames persisted as processed CSV and featured
      // partitioned parquet and read back, then a model fit
      val eda = Seq("q01_agg", "q05_window", "q07_quantiles", "q13_topk")
        .map(reg(_, "operators")) ++
        Seq(reg("q50_grouped_topk", "plans"), reg("st_window_agg", "streaming"))
      val processed = Seq(
        Op("write_processed_orders", "sources", exact = true, c => {
          val df = SparkEntry.queries("q20_ordinal_encode")(c.spark, c.data)
          c.schemas("processed_orders") = df.schema
          df
        }, (c, df) => Sources.writeCsv(df, c.path("processed_orders")), Some("processed_orders")),
        Op("read_processed_orders", "sources", exact = true,
          c => Sources.csvGraft(c.spark, c.path("processed_orders"), c.schemas("processed_orders"))))
      val featured = Seq(
        Op("write_featured_lineitem", "sources", exact = true,
          c => SparkEntry.queries("q28_feature_combine")(c.spark, c.data),
          (c, df) => Sources.writePartitioned(df, c.path("featured_lineitem"), Seq("l_linenumber")),
          Some("featured_lineitem")),
        Op("read_featured_lineitem", "sources", exact = true,
          c => Sources.parquet(c.spark, c.path("featured_lineitem"))))
      // model outputs are checked by rows and schema only
      val ml = Seq(reg("ml_logreg", "ml").copy(exact = false))
      (Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
        (eda ++ ml).map(Seq(_)) ++ Seq(processed, featured))
    case "curation" =>
      val ops = Seq("dd_minhash" -> "dedup", "dd_winnow_pairs" -> "dedup",
        "tx_quality" -> "text", "sim_brute_topk" -> "similarity")
        .map { case (n, m) => Seq(reg(n, m)) }
      val emb = (c: Ctx) => Tables.embeddings(c.spark, c.data)
      // IVF-PQ: a partitioned parquet write of the index, then a probe
      // that reads back only the probed cells
      val ivf = Seq(
        Op("ivf_build", "similarity", exact = false, c => {
          c.index = IvfPq.buildIndex(emb(c), "vec_id", "embedding", nClusters = 16,
            m = 8, ksub = 16, path = c.path("ivf_index"))
          null
        }, output = Some("ivf_index")),
        Op("ivf_probe", "similarity", exact = false, c =>
          IvfPq.probeIndex(c.index, probeQueries(c), "vec_id", "embedding", k = 5, nProbe = 4)))
      (Seq("documents", "embeddings"), ops :+ ivf)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def probeQueries(c: Ctx): DataFrame =
    Tables.embeddings(c.spark, c.data).filter(F.col("vec_id").isin(c.probeIds: _*))

  /** Order-independent fingerprint: row count plus, for exact ops, a sum
    * of per-row hashes; for the others, the schema.
    */
  def fingerprint(df: DataFrame, exact: Boolean): String = {
    if (!exact) return s"rows=${df.count()} schema=${df.schema.simpleString}"
    // Spark refuses to hash maps; their JSON rendering is deterministic
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    def hashable(c: Column, t: DataType): Column = if (hasMap(t)) F.to_json(c) else c
    val cols = df.schema.fields.map(f => hashable(F.col(s"`${f.name}`"), f.dataType))
    val r = df.agg(F.count(F.lit(1)),
      F.coalesce(F.sum(F.pmod(F.xxhash64(cols.toIndexedSeq: _*), F.lit(2147483647L))),
        F.lit(0L))).head()
    s"rows=${r.getLong(0)} hash=${r.getLong(1)}"
  }
}
