package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** IVF-PQ — the production billion-scale ANN layout, composing the two
  * scale mechanisms this package already verifies separately:
  *
  *   - IVF ([[Ivf]]): a sample-fit coarse quantizer assigns each vector
  *     to a cell and the corpus is written `partitionBy(cluster_id)`, so
  *     probing nProbe cells is DIRECTORY PRUNING — unprobed cells are
  *     never read.
  *   - PQ ([[Pq]]): inside each cell a vector is stored as m small codes
  *     (8 longs, not 64 floats) and scored by ADC table lookups.
  *
  * Probe = prune to nProbe cells → ADC-scan their codes → exact
  * integer-grid re-rank of the top candidates. Codes here encode the
  * normalized vector itself (not the residual to the cell centroid —
  * the classic refinement, noted and skipped: with an exact re-rank
  * stage the residual variant only changes candidate quality, not
  * result exactness). Everything driver-side is bounded: the training
  * samples, the centroid table, the codebooks, and the per-query cell
  * lists + ADC tables.
  */
object IvfPq {

  /** A built index: its layout, the schema it was written with (a probe
    * reads it back without a schema-inference job), and the bounded
    * driver metadata (centroids, codebooks).
    */
  case class IvfPqIndex(path: String, centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]], m: Int, ksub: Int, dsub: Int,
      schema: StructType)

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Coarse quantizer + PQ codebooks, both seeded driver Lloyd's on the
    * SAME bounded collected sample (coarse on raw vectors, books on the
    * normalized ones), then ONE pass assigning + encoding the corpus,
    * written partitioned by cell. The coarse fit was MLlib KMeans
    * through round 5 — profiled at 1.2 s of pure job-scheduling
    * overhead on a ≤10k sample whose driver Lloyd's takes
    * single-digit ms; with the sample already in hand for the books,
    * the distributed fit bought nothing (the full corpus never feeds
    * the quantizer at any scale — that's the IVF contract).
    */
  def buildIndex(corpus: DataFrame, idCol: String, embCol: String,
      nClusters: Int, m: Int, ksub: Int, path: String, seed: Long = 42L,
      maxTrainRows: Long = 10000L): IvfPqIndex = {
    val trainRaw = Similarity.boundedTrainSample(corpus, embCol, maxTrainRows, seed)
    val centroids = Pq.kmeansSub(trainRaw, nClusters, seed)
    val books = Pq.trainBooks(trainRaw.map(Pq.normalize), m, ksub, seed)
    val assigned = Similarity.withQuantized(corpus, embCol)
      .withColumn("cluster_id", Similarity.nearestCell(col(embCol), centroids))
      .select(col(idCol).as("corpus_id"), col("qvec").as("c_qvec"),
        col("qnorm").as("c_qnorm"), Pq.codes(books).as("codes"), col("cluster_id"))
    graft.sources.Sources.writePartitioned(assigned, path, Seq("cluster_id"))
    IvfPqIndex(path, centroids, books, m, ksub, trainRaw(0).length / m, assigned.schema)
  }

  /** Prune → ADC → exact re-rank. The query set is bounded by contract:
    * it is collected once, and cell choice, ADC tables and the re-rank's
    * quantized query vectors are all driver arithmetic over those rows.
    */
  def probeIndex(index: IvfPqIndex, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int, candMult: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(idCol), col(embCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    // per query: nProbe nearest cells + the ADC table over the codebooks
    val probes: Seq[(Long, Seq[Int], Seq[Double])] = qRows.map { case (qid, emb) =>
      val v = emb.toArray.map(_.toDouble)
      val cells = index.centroids.zipWithIndex
        .map { case (c, i) => (sqDist(v, c), i) }.sorted.take(nProbe).map(_._2).toSeq
      (qid, cells, Pq.adcTable(emb, index.books))
    }
    val allCells = probes.flatMap(_._2).distinct
    // literal IN-list → directory pruning (a join key would defeat it);
    // the index's own schema → no schema-inference job
    val inv = spark.read.schema(index.schema).parquet(index.path)
      .filter(col("cluster_id").isin(allCells: _*))
    val qProbe = probes
      .flatMap { case (qid, cells, tbl) => cells.map(c => (qid, c, tbl)) }
      .toDF("query_id", "cluster_id", "tbl")
    // ADC over the pruned cells ranks only narrow (query, id, adc) rows
    // through the grouped top-k (map-side heaps, one exchange), so
    // per-query probed-cell volume never funnels one task; the
    // O(queries·k·candMult) surviving ids are broadcast back onto the
    // pruned index scan for the exact re-rank (stored qvecs — no
    // re-encode, no corpus shuffle).
    val scored = inv.select("corpus_id", "codes", "cluster_id")
      .join(broadcast(qProbe), "cluster_id")
      .withColumn("adc", call_function("graft_pq_adc", col("codes"), col("tbl")))
      .select(col("query_id"), col("corpus_id"), col("adc"))
    val candIds = graft.plans.GraftOps.groupedTopK(scored, Seq("query_id"), "adc",
        "corpus_id", k * candMult)
      .select("query_id", "corpus_id")
    Similarity.exactRerank(
      inv.select(col("corpus_id"), col("c_qvec"), col("c_qnorm"))
        .join(broadcast(candIds), "corpus_id"),
      qRows, k)
  }

  /** One-shot build + probe (sim_ivfpq_topk); the index lands in an
    * [[IndexDirs]] directory, deleted at shutdown.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nClusters: Int, nProbe: Int,
      m: Int = 8, ksub: Int = 16): DataFrame = {
    val index = buildIndex(corpus, idCol, embCol, nClusters, m, ksub,
      IndexDirs.create("ivfpq_index_"))
    probeIndex(index, queries, idCol, embCol, k, nProbe)
  }
}
