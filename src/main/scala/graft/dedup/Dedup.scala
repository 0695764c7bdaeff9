package graft.dedup

import graft.Exact.GraftCheckpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed near-duplicate detection (SURVEY §2.D).
  *
  * The 100 TB shape: exact copies are collapsed FIRST (one shuffle on a
  * content hash — boilerplate-heavy corpora routinely carry tens of
  * millions of identical pages, which would otherwise make one LSH bucket
  * quadratic); shingling/minhashing is then a narrow map over each unique
  * document; LSH banding shuffles once on (band, bucket-hash) so candidate
  * generation only ever joins rows that share a bucket; buckets that are
  * still oversized after the collapse are joined through a single min-id
  * anchor (linear fanout, never B²); exact Jaccard verification touches
  * candidate pairs only. No stage holds more than one document's shingle
  * set per row.
  *
  * All hash arithmetic stays inside [0, 2^31) so ANSI mode (Spark 4
  * default) can never overflow: h_j(x) = ((2j+1)·x + j·12345) mod p over
  * x = graft_poly_hash(shingle) — a base-31 Horner hash of the UTF-8
  * bytes mod 1e9+7, engine-reproducible so the oracle can recompute it —
  * with p = 2^31-1 (odd multiplier → permutation of Z_p).
  */
object Dedup {
  val P: Long = 2147483647L

  /** Exact-duplicate collapse: tags every row with `__rep`, the smallest
    * id among rows sharing `key` (one shuffle, map-side combined). Callers
    * emit non-representatives as linear star pairs against their rep and
    * run the quadratic-prone LSH machinery on representatives only.
    */
  def withRepresentative(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val keyed = df.withColumn("__ckey", key)
    val reps = keyed.groupBy(col("__ckey")).agg(min(col(idCol)).as("__rep"))
    keyed.join(reps, "__ckey")
  }

  /** Distinct character k-shingle set per document (narrow map; fanned
    * out first so the per-document shingle transform parallelizes past
    * single-row-group inputs).
    */
  def withShingles(df: DataFrame, textCol: String, k: Int = 5): DataFrame =
    graft.Exact.fanout(df).withColumn("shingles",
      array_distinct(transform(
        sequence(lit(1), greatest(length(col(textCol)) - (k - 1), lit(1))),
        i => col(textCol).substr(i, lit(k)))))

  /** MinHash signature per document: (idCol, sig[numHashes]).
    *
    * Shape matters: shingle hashes are EXPLODED to (doc, hash) long rows
    * and the minima come from one groupBy aggregation. A nested-lambda
    * formulation (array_min inside transform) re-evaluates the
    * shingle-hash array once per outer element after Catalyst collapses
    * projections — measured ~1000× redundant work, all in a single task.
    * The explode+agg plan hashes each shingle once, combines map-side, and
    * parallelizes past single-file inputs via the aggregation shuffle.
    *
    * The per-document shingle hashing is ONE codegen expression
    * ([[graft.functions.ShingleHashes]]): no shingle strings are ever
    * materialized — the exploded shuffle rows are longs. Hash values equal
    * graft_poly_hash of each shingle string (ASCII precondition), so the
    * signatures remain oracle-checkable bit-for-bit. All 64 permutation
    * minima come from ONE custom TypedImperativeAggregate array buffer
    * (graft.functions.MinHashAgg) — measured ~30% faster than 64 separate
    * Min aggregates, same exact integer semantics.
    */
  def minhashSig(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, numHashes: Int = 64): DataFrame = {
    require(numHashes == 64, "graft_minhash_agg is registered with 64 permutations")
    graft.Exact.fanout(docs)
      .select(col(idCol),
        explode(call_function("graft_shingle_hashes", col(textCol), lit(k))).as("x"))
      .groupBy(col(idCol))
      .agg(call_function("graft_minhash_agg", col("x")).as("sig"))
  }

  /** LSH banding: (doc, band_idx, band_hash) rows; equal band_hash within
    * a band ⇒ candidate. bands*rowsPerBand must equal the signature length.
    */
  def lshBuckets(sigDf: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    sigDf.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))))))
      .toDF(idCol, "band_idx", "band_hash")

  /** Distinct candidate pairs from shared LSH buckets, with a degenerate-
    * bucket guard: buckets of ≤ bucketCap rows pair fully (≤ cap²/2, the
    * high-precision regime), while oversized buckets — boilerplate clusters
    * that survive exact collapse — join only through their min-id anchor,
    * so fanout is O(buckets·cap² + Σ oversize) instead of O(B²). Transitive
    * closure through the anchor still connects every member of a genuine
    * duplicate cluster.
    */
  def candidatePairs(buckets0: DataFrame, idCol: String, bucketCap: Int = 64): DataFrame = {
    val buckets = buckets0.select(col(idCol).as("id"), col("band_idx"), col("band_hash"))
    val stats = buckets.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("__bn"), min(col("id")).as("__anchor"))
    val small = buckets.join(stats.filter(col("__bn") <= bucketCap), Seq("band_idx", "band_hash"))
    val sa = small.select(col("id").as("id_a"), col("band_idx"), col("band_hash"))
    val sb = small.select(col("id").as("id_b"), col("band_idx"), col("band_hash"))
    val smallPairs = sa.join(sb, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val bigPairs = buckets.join(stats.filter(col("__bn") > bucketCap), Seq("band_idx", "band_hash"))
      .filter(col("id") =!= col("__anchor"))
      .select(col("__anchor").as("id_a"), col("id").as("id_b"))
    smallPairs.unionByName(bigPairs).distinct()
  }

  /** Exact Jaccard over the shingle sets of candidate pairs only. */
  def jaccardVerify(pairs: DataFrame, shingled: DataFrame, idCol: String): DataFrame = {
    val sa = shingled.select(col(idCol).as("id_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col(idCol).as("id_b"), col("shingles").as("sh_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
  }

  /** End-to-end MinHash near-dup pairs above a Jaccard threshold.
    * Exact copies are collapsed up front: they surface as (rep, copy)
    * star pairs with jaccard 1.0 — linear in the number of copies — and
    * only unique texts reach the shingle/signature/banding stages.
    */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      bucketCap: Int = 64): DataFrame = {
    val tagged = withRepresentative(df, idCol, md5(col(textCol)))
    val star = tagged.filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"), lit(1.0).as("jaccard"))
    val uniq = tagged.filter(col(idCol) === col("__rep")).select(col(idCol), col(textCol))
    val shingled = withShingles(uniq, textCol)
    val sig = minhashSig(uniq, textCol, idCol, numHashes = numHashes)
    val pairs = candidatePairs(lshBuckets(sig, idCol, bands, numHashes / bands), idCol, bucketCap)
    jaccardVerify(pairs, shingled, idCol).filter(col("jaccard") >= threshold)
      .unionByName(star)
  }

  /** SimHash bit width: 30 bits from poly_hash(token) + 30 from
    * poly_hash(reverse(token)) — both engine-reproducible (DuckDB computes
    * the same values as power sums), which is what makes the signatures
    * oracle-checkable. reverse() flips the Horner exponents, giving an
    * independent second hash for free.
    */
  val SimhashBits = 60

  /** 60-bit SimHash over whitespace tokens: (idCol, simhash).
    *
    * Same explode+agg shape as minhashSig — each token is hashed once
    * (twice: forward + reversed) and the 60 per-bit vote counts are
    * partial-aggregable sums; the final bit assembly is shifts/ors over
    * the aggregated votes (no ANSI-overflowing arithmetic, no per-element
    * re-evaluation).
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val exploded = graft.Exact.fanout(df)
      .select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .filter(length(col("t")) > 0) // empty tokens (trailing spaces) vote nothing
      .withColumn("h1", expr("graft_poly_hash(t)"))
      .withColumn("h2", expr("graft_poly_hash(reverse(t))"))
    val votes = (0 until SimhashBits).map { k =>
      val h = if (k < 30) col("h1") else col("h2")
      sum(when(shiftrightunsigned(h, k % 30).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b_$k")
    }
    exploded.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until SimhashBits).map(k =>
          when(col(s"b_$k") >= 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Near-dup pairs by SimHash: exact collapse (hamming-0 star pairs) →
    * band-bucket candidates with the degenerate-bucket guard → hamming
    * verify on representatives only.
    */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bucketCap: Int = 64): DataFrame = {
    val tagged = withRepresentative(df, idCol, md5(col(textCol)))
    val star = tagged.filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"), lit(0L).as("hamming"))
    val uniq = tagged.filter(col(idCol) === col("__rep")).select(col(idCol), col(textCol))
    val sim = simhash(uniq, textCol, idCol)
    val bands = sim.select(col(idCol),
        posexplode(expr("transform(sequence(0, 3), b -> shiftrightunsigned(simhash, b * 15) & 32767)")))
      .toDF(idCol, "band_idx", "band_hash")
    val cand = candidatePairs(bands, idCol, bucketCap)
    val ha = sim.toDF("id_a", "sim_a")
    val hb = sim.toDF("id_b", "sim_b")
    cand.join(ha, "id_a").join(hb, "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .unionByName(star)
  }

  /** Embedding near-dup pairs at scale: sign-LSH buckets (hamming≤1
    * multiprobe) generate candidates — each vector joins only its own
    * bucket neighborhood, ~(nBits+1)/2^nBits of the corpus — then the
    * exact integer-grid cosine verifies. For cosine ≥ 0.99 pairs the
    * multiprobe miss probability is < 1%; dd_embed_cosine's bounded
    * variant is the oracle-checked twin of the verify stage.
    */
  def embedNearDups(df: DataFrame, idCol: String, embCol: String,
      threshold: Double = 0.95, nBits: Int = 8, dim: Int = 64): DataFrame = {
    import graft.similarity.Similarity
    val planes = Similarity.hyperplanes(nBits, dim)
    // exact collapse on the quantized vector: identical embeddings (the
    // boilerplate-duplication case that makes a bucket quadratic) become
    // linear (rep, copy) star pairs; only unique vectors are bucketed.
    // Bucket population for unique vectors is ~n/2^nBits by construction —
    // nBits is the knob that keeps per-bucket joins bounded at scale.
    val tagged = withRepresentative(
      Similarity.withQuantized(df, embCol), idCol, md5(to_json(col("qvec"))))
    val star = tagged.filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"), lit(1.0).as("cosine"))
    val q = tagged.filter(col(idCol) === col("__rep"))
      .withColumn("bucket0", Similarity.lshBucket(col(embCol), planes))
      .select(col(idCol), col("qvec"), col("qnorm"), col("bucket0"))
    val probes = Seq(-1) ++ (0 until nBits)
    val probed = q.select(col(idCol), col("qvec"), col("qnorm"),
      explode(array(probes.map {
        case -1 => col("bucket0")
        case j => col("bucket0").bitwiseXOR(lit(1L << j))
      }: _*)).as("bucket"))
    val a = probed.toDF("id_a", "qa", "na", "bucket")
    val b = q.select(col(idCol).as("id_b"), col("qvec").as("qb"),
      col("qnorm").as("nb"), col("bucket0").as("bucket"))
    val cand = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "qa", "na", "qb", "nb").distinct()
    cand.select(col("id_a"), col("id_b"),
        Similarity.cosineQ(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine").distinct()
      .unionByName(star)
  }

  /** Test instrumentation: rounds the last [[connectedComponents]] call
    * took to converge (driver-single-threaded).
    */
  private[graft] var lastCcIterations: Int = 0

  /** Connected components over near-dup pairs: the dedup last mile
    * (pairs → clusters → keep min-id representative per cluster).
    * Each round does (a) min-label propagation — every node takes the
    * minimum label in its neighborhood (one shuffle join) — then (b) a
    * POINTER-JUMP shortcut l(v) ← l(l(v)) (labels are node ids, so this
    * is a self-join on label = id). Propagation alone needs O(component
    * diameter) rounds — fine for the star/clique shapes
    * [[candidatePairs]] emits, a scale-killer on a pathological chain.
    * The shortcut doubles the effective hop distance per round
    * (Shiloach–Vishkin-style label doubling), so a D-diameter component
    * converges in O(log D) rounds: DedupSpec plants a 1000-node chain
    * and asserts ≤ 12 rounds. localCheckpoint truncates lineage per
    * round (the standard iterative-DataFrame discipline — without it the
    * plan doubles every iteration).
    *
    * Returns (id, cluster_id) for every id in `ids`, cluster_id = min id
    * of its component; isolated ids map to themselves.
    */
  def connectedComponents(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    var labels = ids.select(col(idCol).as("id"), col(idCol).as("label"))
      .graftCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // (a) propagate: l(v) ← min(l(v), min over neighbors' labels)
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      val prop = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .graftCheckpoint()
      // (b) shortcut: l(v) ← l(l(v)) — halves remaining chain depth
      val parents = prop.select(col("id").as("pid"), col("label").as("plabel"))
      val next = prop.join(parents, col("label") === col("pid"), "left")
        .select(col("id"),
          coalesce(col("plabel"), col("label")).as("label"),
          when(coalesce(col("plabel"), col("label")) < col("old_label"), 1L)
            .otherwise(0L).as("ch"))
        .graftCheckpoint()
      changed = next.agg(coalesce(sum(col("ch")), lit(0L))).head().getLong(0)
      labels = next.select("id", "label")
      iter += 1
    }
    lastCcIterations = iter
    labels.select(col("id").as(idCol), col("label").as("cluster_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup over
    * an embedding column. k-means cells bound the quadratic — pairwise
    * exact integer-grid cosine runs WITHIN cells only, so total pair work
    * is n²/k and k is sized to the corpus (k ≈ n / targetCellRows keeps
    * per-cell work one task's worth; parallelism scales with k). The
    * quantizer fits on a bounded seeded sample, never the full corpus
    * (the [[graft.similarity.Ivf]] discipline). Grid-identical vectors
    * are collapsed FIRST via [[withRepresentative]] — a cell full of
    * copies of one page must cost linear star pairs, not |cell|² — and
    * only representatives reach the k-means/pairwise stages. Pairs ≥ tau
    * close into components ([[connectedComponents]]); the min-id member
    * of each group is kept. Cross-cell near-dups are the quantizer's
    * recall loss — the paper's accepted trade; DedupSpec plants dup
    * groups and asserts recovery.
    *
    * Returns (idCol, cell_id, group_id, keep) for every input row.
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
      tau: Double, targetCellRows: Long = 2048L, seed: Long = 42L,
      maxTrainRows: Long = 100000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val q0 = graft.similarity.Similarity.withQuantized(df, embCol)
    val tagged = withRepresentative(q0, idCol, md5(col("qvec").cast("string")))
    val starPairs = tagged.filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    val reps = tagged.filter(col(idCol) === col("__rep"))
      .select(col(idCol), col(embCol), col("qvec"), col("qnorm"))
    // Representative count WITHOUT a full corpus pass (r13 verdict #2 —
    // the exact count() was one extra scan before the lazy plan existed).
    // The [[graft.similarity.Similarity.boundedTrainSample]] discipline:
    // a limit(maxTrainRows+1) prefix probe short-circuits once the cap
    // is hit, so a sample-sized corpus yields the EXACT count from one
    // bounded job (k-clamp semantics for tiny/degenerate corpora are
    // unchanged — DedupSpec pins them). A larger corpus gets an UPPER
    // estimate from leaf parquet bytes over the on-disk row width: k
    // only sizes cells, overshooting k merely shrinks cells (quantizer-
    // boundary recall loss, the SemDeDup paper's accepted trade) while
    // undershooting would break the n²/k pair bound — so the upper side
    // is the safe side, and no estimate can push k past the 65536 cap.
    val probeN = reps.limit(maxTrainRows.toInt + 1).count()
    val nReps: Long =
      if (probeN <= maxTrainRows) probeN
      else {
        val dim = reps.select(col(embCol)).head.getSeq[Float](0).length
        val diskRowBytes = math.max(4L * dim + 16L, 32L)
        val leafBytes = reps.queryExecution.optimizedPlan.collectLeaves()
          .map(_.stats.sizeInBytes).sum
        val est = (leafBytes / diskRowBytes).toLong
        math.max(probeN, est)
      }
    // clamp k to the representative count: a tiny or fully-duplicate
    // corpus can leave fewer (distinct) points than clusters, where
    // KMeans fails or degenerates. Below 2 cells the quadratic is
    // already one task's worth — skip the k-means stage entirely.
    val k = math.min(
      math.max(2L, math.min(nReps / targetCellRows + 1L, 65536L)), nReps).toInt
    val cells =
      if (k < 2) {
        reps.select(col(idCol).as("id"), lit(0).as("cell_id"),
          col("qvec"), col("qnorm"))
      } else {
        val feat = reps.withColumn("features",
          array_to_vector(transform(col(embCol), x => x.cast("double"))))
        val train =
          if (nReps <= maxTrainRows) feat
          else feat.sample(withReplacement = false, maxTrainRows.toDouble / nReps, seed)
        val model = new KMeans().setK(k).setSeed(seed)
          .setFeaturesCol("features").setPredictionCol("cell_id").fit(train)
        model.transform(feat)
          .select(col(idCol).as("id"), col("cell_id"), col("qvec"), col("qnorm"))
      }
    val a = cells.select(col("cell_id"), col("id").as("id_a"),
      col("qvec").as("qa"), col("qnorm").as("na"))
    val b = cells.select(col("cell_id"), col("id").as("id_b"),
      col("qvec").as("qb"), col("qnorm").as("nb"))
    val cellPairs = a.join(b, "cell_id")
      .filter(col("id_a") < col("id_b"))
      .filter(graft.similarity.Similarity.cosineQ(
        col("qa"), col("qb"), col("na"), col("nb")) >= tau)
      .select("id_a", "id_b")
    val groups = connectedComponents(df.select(col(idCol)), idCol,
        cellPairs.unionByName(starPairs))
      .withColumnRenamed("cluster_id", "group_id")
    tagged.select(col(idCol), col("__rep"))
      .join(cells.select(col("id"), col("cell_id")),
        col("__rep") === col("id"), "left")
      .select(col(idCol), col("cell_id"))
      .join(groups, idCol)
      .select(col(idCol), col("cell_id"), col("group_id"),
        (col("group_id") === col(idCol)).as("keep"))
  }

  /** Distinct word n-gram set per document. */
  def withWordNgrams(df: DataFrame, textCol: String, n: Int = 3): DataFrame =
    df.withColumn("words", split(col(textCol), " "))
      .withColumn("ngrams", array_distinct(transform(
        sequence(lit(1), greatest(size(col("words")) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(col("words"), i, lit(n))))))
      .drop("words")
}
