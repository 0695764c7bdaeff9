package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate / exact nearest-neighbor search over embedding columns
  * (SURVEY §2.E).
  *
  * Scale shape: the query set is small and broadcast; the corpus is only
  * scanned (brute) or bucket-pruned (LSH/IVF) — no corpus self-shuffle.
  * Cosines follow the integer-grid recipe (float→double is exact, ×1e6 is
  * exact, ROUND is half-away-from-zero in both engines), so dot products
  * and norms are exact BIGINT sums and the final cosine is a deterministic
  * IEEE expression — bit-identical to the DuckDB oracle.
  */
object Similarity {

  /** Exact integer image of an embedding on the 1e-6 grid. */
  def quantized(embCol: Column): Column =
    transform(embCol, x => graft.Exact.qzl(x.cast("double"), 1000000.0))

  /** Exact long dot product via the custom codegen expression
    * [[graft.functions.DotLong]] (tight primitive loop, no intermediate
    * zip array per row). Needs graft's functions on the session, which
    * `Session.local` and the `SparkEntry.queries` boundary register.
    */
  private def dotL(a: Column, b: Column): Column =
    call_function("graft_dot_long", a, b)

  /** Deterministic cosine between two quantized vectors. */
  def cosineQ(qa: Column, qb: Column, na: Column, nb: Column): Column =
    dotL(qa, qb).cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Bounded quantizer-training sample WITHOUT a separate COUNT job:
    * pull maxTrainRows+1 rows via limit — if the corpus fits under the
    * cap, that IS the whole corpus (exact, unbiased, one job); only a
    * larger corpus pays the count + seeded-sample pair. Saves one
    * full-scan job per index build at the SFs where the corpus is
    * sample-sized, which is exactly when per-job overhead dominates the
    * build (the same profiling that evicted the MLlib KMeans fit in
    * r6). Driver memory stays ≤ maxTrainRows+1 embedding rows by
    * construction at any SF.
    */
  def boundedTrainSample(corpus: DataFrame, embCol: String,
      maxTrainRows: Long, seed: Long): Array[Array[Double]] = {
    val probe = corpus.select(col(embCol)).limit(maxTrainRows.toInt + 1).collect()
    val rows =
      if (probe.length <= maxTrainRows) probe
      else {
        val n = corpus.count()
        corpus.sample(withReplacement = false, maxTrainRows.toDouble / n, seed)
          .select(col(embCol)).collect()
      }
    rows.map(_.getSeq[Float](0).toArray.map(_.toDouble))
  }

  /** Adds `qvec` (quantized) and `qnorm` (exact |qvec|²) columns. */
  def withQuantized(df: DataFrame, embCol: String): DataFrame = {
    df.withColumn("qvec", quantized(col(embCol)))
      .withColumn("qnorm", dotL(col("qvec"), col("qvec")))
  }

  /** Nearest-centroid cell assignment over a broadcast centroid array
    * (the IVF corpus-assignment step): one per-row JVM argmin shipped in
    * the closure — k·dim flops per row, the same work any engine's
    * predict does, with no per-row allocation beyond the input. A UDF by
    * design: the k-way argmin has no builtin expression form, MLlib's
    * own transform is an identical non-codegen UDF with Vector boxing on
    * top, and the HOF formulation (k aggregate/zip_with arms) is also
    * interpreted — this is the cheapest of the three. Ties go to the
    * lowest cell index (deterministic).
    */
  def nearestCell(emb: Column, centers: Array[Array[Double]]): Column = {
    val k = centers.length
    val assign = udf { xs: Seq[Float] =>
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < k) {
        val ctr = centers(c)
        var s = 0.0
        var i = 0
        while (i < ctr.length) { val d = xs(i) - ctr(i); s += d * d; i += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      best
    }
    assign(emb)
  }

  /** Per-query top-k over a (query_id, corpus_id, `orderCol`) surface,
    * `orderCol` desc then corpus_id, with a BIGINT `rank`: the grouped
    * top-k operator ([[graft.plans.GraftOps.rankedTopK]]). Map-side heaps
    * keep ≤ k rows per (query, input partition), one exchange on
    * query_id moves only those, and the final heaps plus the rank run in
    * that exchange's partitions — so per-query candidate volume (up to
    * the whole corpus for brute force) never sorts through one task.
    * The exchange moves the narrow key+score rows; callers must not
    * attach vector payloads to `scored`.
    */
  def topKPerQuery(scored: DataFrame, orderCol: String, k: Int): DataFrame =
    graft.plans.GraftOps.rankedTopK(scored, Seq("query_id"),
      Seq(col(orderCol).desc, col("corpus_id")), k)

  /** Exact integer-grid re-rank of candidate (query_id, corpus_id,
    * c_qvec, c_qnorm) rows against the bounded query rows a probe has
    * already collected: the top k per query by exact cosine, with rank.
    * The query side is literal maps query_id → quantized vector and
    * → |qvec|², built with the IEEE steps of [[quantized]] (`Exact.qzl`:
    * x·1e6 + 0.5, floored) so the cosines are bit-identical to the
    * column-side ones — no second scan and no broadcast job for queries.
    */
  def exactRerank(cands: DataFrame, queries: Seq[(Long, Seq[Float])], k: Int): DataFrame = {
    val qv = queries.map { case (id, emb) =>
      id -> emb.map(x => math.floor(x.toDouble * 1000000.0 + 0.5).toLong)
    }
    val qn = qv.map { case (id, v) => id -> v.foldLeft(0L)((s, x) => s + x * x) }
    val scored = cands.select(col("query_id"), col("corpus_id"),
      cosineQ(element_at(typedLit(qv.toMap), col("query_id")), col("c_qvec"),
        element_at(typedLit(qn.toMap), col("query_id")), col("c_qnorm")).as("cosine"))
    topKPerQuery(scored, "cosine", k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Brute-force cosine top-k: broadcast the (small) query set across one
    * corpus scan; the per-query rank is the grouped top-k above, so no
    * task ever sorts a full per-query candidate set.
    */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val q = withQuantized(queries, embCol)
      .select(col(idCol).as("query_id"), col("qvec").as("q_qvec"), col("qnorm").as("q_qnorm"))
    val c = withQuantized(corpus, embCol)
      .select(col(idCol).as("corpus_id"), col("qvec").as("c_qvec"), col("qnorm").as("c_qnorm"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        cosineQ(col("q_qvec"), col("c_qvec"), col("q_qnorm"), col("c_qnorm")).as("cosine"))
    topKPerQuery(scored, "cosine", k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Deterministic random hyperplanes (seeded) for sign-LSH. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(r.nextGaussian()))
  }

  /** Sign-LSH bucket id from nBits hyperplane sign bits, computed by the
    * single-pass codegen expression [[graft.functions.DotPlanes]] (planes
    * flattened row-major into one literal). Needs graft's functions on
    * the session, as [[dotL]] does.
    */
  def lshBucket(embCol: Column, planes: Seq[Seq[Double]]): Column =
    call_function("graft_dot_planes", embCol, typedLit(planes.flatten))

  /** LSH ANN top-k with hamming≤1 multiprobe: each query touches
    * (nBits+1)/2^nBits of the corpus instead of all of it.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nBits: Int = 6, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nBits, dim)
    val c = withQuantized(corpus, embCol)
      .withColumn("bucket", lshBucket(col(embCol), planes))
      .select(col(idCol).as("corpus_id"), col("qvec").as("c_qvec"),
        col("qnorm").as("c_qnorm"), col("bucket"))
    val probes = Seq(-1) ++ (0 until nBits)
    val q = withQuantized(queries, embCol)
      .withColumn("bucket0", lshBucket(col(embCol), planes))
      .select(col(idCol).as("query_id"), col("qvec").as("q_qvec"),
        col("qnorm").as("q_qnorm"),
        explode(array(probes.map {
          case -1 => col("bucket0")
          case j => col("bucket0").bitwiseXOR(lit(1L << j))
        }: _*)).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .select(col("query_id"), col("corpus_id"),
        cosineQ(col("q_qvec"), col("c_qvec"), col("q_qnorm"), col("c_qnorm")).as("cosine"))
    topKPerQuery(scored, "cosine", k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }
}
