package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** IVF (inverted-file) ANN, the 100 TB shape:
  *
  *   build  — the k-means coarse quantizer is fit on a bounded SEEDED
  *            SAMPLE (never the full corpus), then the corpus is assigned,
  *            quantized once, and written as parquet PARTITIONED BY
  *            cluster_id. Hive-style partitioning — not hash bucketing —
  *            is the Spark-native inverted file: each cluster is a
  *            directory, so a literal cluster filter prunes at the
  *            directory level and unprobed cells are never read. (bucketBy
  *            hashes ids into buckets and a cluster_id filter would not
  *            skip bucket files on read.)
  *   probe  — the bounded query set is collected once and each query
  *            ranks the (tiny) centroid table in driver arithmetic
  *            ([[probeCells]], shared with [[IvfPq]]); the chosen cell ids
  *            become a LITERAL partition filter, and the exact
  *            integer-grid cosine + grouped top-k runs over only
  *            ~nProbe/nClusters of the data. PartitionFilters pruning is
  *            asserted in SimilaritySpec.
  */
object Ivf {

  /** Handle to a built index: the partitioned layout, the schema it was
    * written with (a probe reads it back without a schema-inference
    * job), and the (tiny) centroid table kept as driver metadata.
    */
  case class IvfIndex(path: String, centroids: Array[Array[Double]], nClusters: Int,
      schema: StructType)

  /** Fit the quantizer on ≤ maxTrainRows sampled rows (seeded driver
    * Lloyd's — the sample is bounded by contract, and the distributed
    * MLlib fit used through round 5 cost ~1.2 s of job overhead for a
    * sample whose local fit is milliseconds), assign + quantize the
    * full corpus in one pass, write it partitioned by cluster_id.
    */
  def buildIndex(corpus: DataFrame, idCol: String, embCol: String, nClusters: Int,
      path: String, seed: Long = 42L, maxTrainRows: Long = 10000L): IvfIndex = {
    val train = Similarity.boundedTrainSample(corpus, embCol, maxTrainRows, seed)
    val centers = Pq.kmeansSub(train, nClusters, seed)
    val assigned = Similarity.withQuantized(corpus, embCol)
      .withColumn("cluster_id", Similarity.nearestCell(col(embCol), centers))
      .select(col(idCol).as("corpus_id"), col("qvec").as("c_qvec"),
        col("qnorm").as("c_qnorm"), col("cluster_id"))
    graft.sources.Sources.writePartitioned(assigned, path, Seq("cluster_id"))
    IvfIndex(path, centers, nClusters, assigned.schema)
  }

  /** Squared L2, `d = a(i) − b(i)` summed left to right in doubles — the
    * one distance of the IVF cell choice and of [[Pq.kmeansSub]].
    */
  private[similarity] def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The query rows (id, embedding), collected once — the query set is
    * bounded by contract — each with its nProbe nearest cells: squared
    * L2 to every centroid summed left to right in doubles, ties to the
    * lower cell index. The cell choice of both IVF layouts.
    */
  private[similarity] def probeCells(centroids: Array[Array[Double]], queries: DataFrame,
      idCol: String, embCol: String, nProbe: Int): Seq[(Long, Seq[Float], Seq[Int])] =
    queries.select(col(idCol), col(embCol)).collect().toSeq.map { r =>
      val emb = r.getSeq[Float](1)
      val v = emb.toArray.map(_.toDouble)
      val cells = centroids.zipWithIndex
        .map { case (c, i) => (sqDist(v, c), i) }.sorted.take(nProbe).map(_._2).toSeq
      (r.getLong(0), emb, cells)
    }

  /** Top-k over only the probed cells: literal partition filter → directory
    * pruning → each (query, probed cell) pair broadcast over the pruned
    * scan → [[Similarity.exactRerank]].
    */
  def probeIndex(index: IvfIndex, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val probes = probeCells(index.centroids, queries, idCol, embCol, nProbe)
    // a join key would defeat partition pruning; the index's own schema
    // → no schema-inference job
    val inv = spark.read.schema(index.schema).parquet(index.path)
      .filter(col("cluster_id").isin(probes.flatMap(_._3).distinct: _*))
    val pairs = probes.flatMap { case (qid, _, cells) => cells.map(c => (qid, c)) }
      .toDF("query_id", "cluster_id")
    Similarity.exactRerank(inv.join(broadcast(pairs), "cluster_id"),
      probes.map { case (qid, emb, _) => (qid, emb) }, k)
  }

  /** One-shot build + probe (sim_ivf_topk); the index lands in an
    * [[IndexDirs]] directory, deleted at shutdown.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nClusters: Int, nProbe: Int): DataFrame = {
    val index = buildIndex(corpus, idCol, embCol, nClusters, IndexDirs.create("ivf_index_"))
    probeIndex(index, queries, idCol, embCol, k, nProbe)
  }
}
