package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN — the memory-bound 100 TB shape:
  *
  *   build  — vectors are L2-normalized (so inner product = cosine),
  *            split into m subvectors, and each subspace gets a
  *            ksub-centroid codebook fit by seeded Lloyd's iterations on
  *            a bounded driver-side sample (m·ksub·dsub doubles of
  *            codebook — tiny). The corpus is then encoded once by the
  *            codegen expression `graft_pq_encode`: m small codes per
  *            vector — 8 longs instead of 64 floats, the compression that
  *            lets a billion-vector index sit in cluster memory.
  *   probe  — each query precomputes its per-(subspace, centroid)
  *            partial-dot table (m·ksub doubles, driver arithmetic on the
  *            bounded query set), broadcast; `graft_pq_adc` scores every
  *            corpus row with m table lookups — no float vector is read
  *            at scan time. The ADC top candMult·k candidates per query
  *            are selected by the grouped top-k operator (map-side heaps,
  *            one exchange — no per-query funnel task) over narrow
  *            (query, id, adc) rows, then RE-RANKED with the exact
  *            integer-grid cosine, so the emitted scores are exact and
  *            deterministic (ADC decides only which candidates are
  *            considered).
  *
  * Everything collected is bounded: the training sample, the codebook,
  * the per-query tables, and the candidate id set. The corpus is scanned
  * (code pass + candidate-fetch pass), never shuffled — only the narrow
  * ADC score rows move through the candidate-selection exchange.
  */
object Pq {

  /** Seeded driver-side Lloyd's k-means (deterministic: seeded init from
    * the sample, fixed iteration count, ties to the lowest index).
    */
  private[similarity] def kmeansSub(data: Array[Array[Double]], k: Int, seed: Long,
      iters: Int = 10): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val d = data(0).length
    val centers = Array.tabulate(k)(_ => data(rnd.nextInt(data.length)).clone())
    def nearest(v: Array[Double]): Int = {
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < k) {
        val dist = Ivf.sqDist(v, centers(c))
        if (dist < bd) { bd = dist; best = c }
        c += 1
      }
      best
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      data.foreach { v =>
        val c = nearest(v)
        counts(c) += 1
        var i = 0
        while (i < d) { sums(c)(i) += v(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < d) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
    }
    centers
  }

  private[similarity] def normalize(v: Array[Double]): Array[Double] = {
    var n2 = 0.0
    v.foreach(x => n2 += x * x)
    val n = math.sqrt(n2)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** m per-subspace codebooks of ksub centroids each, fit on normalized
    * training rows ([subspace][centroid][dsub]).
    */
  private[similarity] def trainBooks(train: Array[Array[Double]], m: Int, ksub: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val dsub = train(0).length / m
    Array.tabulate(m)(j => kmeansSub(train.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, seed + j))
  }

  /** The m codes of a [[Similarity.withQuantized]] row: its normalized
    * qvec encoded against `books` by the codegen `graft_pq_encode`.
    */
  private[similarity] def codes(books: Array[Array[Array[Double]]]): Column = {
    val flat: Seq[Double] = books.flatMap(_.flatMap(_.toSeq)).toSeq
    call_function("graft_pq_encode",
      transform(col("qvec"), x => x.cast("double") / sqrt(col("qnorm").cast("double"))),
      typedLit(flat), lit(books.length))
  }

  /** A query's ADC table, laid out [subspace][centroid] as `graft_pq_adc`
    * reads it: each normalized query subvector dotted with every
    * centroid of its subspace's codebook.
    */
  private[similarity] def adcTable(emb: Seq[Float],
      books: Array[Array[Array[Double]]]): Seq[Double] = {
    val qn = normalize(emb.toArray.map(_.toDouble))
    val dsub = books(0)(0).length
    books.indices.flatMap { j =>
      books(j).toSeq.map { ctr =>
        var s = 0.0
        var i = 0
        while (i < dsub) { s += qn(j * dsub + i) * ctr(i); i += 1 }
        s
      }
    }
  }

  /** PQ top-k with exact re-rank. The query set is small by contract
    * (same broadcast assumption as brute/LSH/IVF): it is collected once,
    * and its ADC tables and the re-rank's quantized query vectors are
    * driver-built bounded metadata.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, m: Int = 8, ksub: Int = 16, candMult: Int = 4, seed: Long = 42L,
      maxTrainRows: Long = 10000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    // build: bounded seeded sample → per-subspace codebooks (driver)
    val books = trainBooks(
      Similarity.boundedTrainSample(corpus, embCol, maxTrainRows, seed).map(normalize),
      m, ksub, seed)

    // encode: normalized corpus vectors → m codes each (codegen). Only
    // (id, codes) leaves this stage — no float/quantized payload rides
    // the candidate-selection shuffle
    val c = Similarity.withQuantized(corpus, embCol)
      .select(col(idCol).as("corpus_id"), codes(books).as("codes"))

    // probe: per-query ADC tables over the collected query rows
    val qRows = queries.select(col(idCol), col(embCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val qTables = qRows.map { case (qid, emb) => (qid, adcTable(emb, books)) }
      .toDF("query_id", "tbl")

    // ADC scan → grouped top-k candidate selection → exact re-rank.
    // Candidate selection moves only the narrow (query_id, corpus_id,
    // adc) rows, pruned by map-side heaps before the one exchange, so no
    // task sorts a full per-query candidate set. The surviving
    // O(queries·k·candMult) ids are broadcast back onto a candidate-fetch
    // scan for the exact integer-grid re-rank — the corpus is scanned
    // (codes pass + fetch pass), never shuffled.
    val scored = c.crossJoin(broadcast(qTables))
      .withColumn("adc", call_function("graft_pq_adc", col("codes"), col("tbl")))
      .select(col("query_id"), col("corpus_id"), col("adc"))
    val candIds = graft.plans.GraftOps.groupedTopK(scored, Seq("query_id"),
        Seq(col("adc").desc, col("corpus_id")), k * candMult)
      .select("query_id", "corpus_id")
    val cRerank = Similarity.withQuantized(corpus, embCol)
      .select(col(idCol).as("corpus_id"), col("qvec").as("c_qvec"),
        col("qnorm").as("c_qnorm"))
    Similarity.exactRerank(cRerank.join(broadcast(candIds), "corpus_id"), qRows, k)
  }
}
