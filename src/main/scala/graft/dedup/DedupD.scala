package graft.dedup

import graft.Exact.GraftCheckpoint
import graft.{Q, Tables, Module}
import org.apache.spark.sql.functions._

/** SURVEY §2.D — deduplication over `documents` / `embeddings`.
  *
  * The synthetic corpus has no planted duplicates, so the pair-producing
  * operators are exercised two ways: (1) the oracle-checked queries below
  * emit the deterministic *artifacts* of each pipeline stage (content
  * hashes, LSH buckets, SimHash bands, bounded pairwise scores) so the
  * driver hash-verifies the distributed computation; (2) DedupSpec plants
  * real near-duplicates and asserts the end-to-end pair finders recover
  * exactly them.
  */
object DedupD extends Module {

  // dd_exact — exact dedup by content hash: one shuffle on the 128-bit
  // hash (at 100 TB this is the only full-data shuffle dedup needs); keeps
  // min doc_id per group, counts copies.
  private val ddExact = Q(
    "dd_exact",
    (s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_md5"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },
    Some("""SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin)
  )

  // dd_minhash — the full 64-permutation MinHash signature per document,
  // emitted long-form and ORACLE-CHECKED bit-for-bit: the shingle hash is
  // graft_poly_hash (closed-form reproducible in SQL for fixed-width
  // shingles), and each permutation is an affine map mod 2^31-1. Pair
  // recovery on planted dupes is asserted in DedupSpec; band bucketing
  // (Spark-murmur keys) rides on top of these signatures.
  //
  // Oracle preconditions, enforced/asserted rather than assumed: documents
  // shorter than the shingle width are filtered ON BOTH SIDES (the SQL's
  // fixed 5-term power sum would otherwise hash a truncated shingle
  // differently from the engine), and the corpus must be ASCII (the SQL
  // reproduces the byte-level Horner hash via ascii(); DedupSpec asserts
  // the synthetic corpus satisfies it).
  private val ddMinhash = Q(
    "dd_minhash",
    (s, d) => {
      val sig = Dedup.minhashSig(
        Tables.documents(s, d).filter(length(col("text")) >= 5), "text", "doc_id")
      sig.select(col("doc_id"), posexplode(col("sig")))
        .toDF("doc_id", "perm", "minhash")
        .select(col("doc_id"), col("perm").cast("long").as("perm"), col("minhash"))
      // NO trailing orderBy (r14): the signature surface is 64× the
      // corpus row count (320M rows at sf100) — a global sort range-
      // shuffles all of it a second time after the one doc_id
      // aggregation exchange, for an ordering nothing consumes. The
      // correctness compare is a multiset; the oracle twin drops its
      // ORDER BY too (tx_quality precedent).
    },
    Some("""WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(length(text) - 4, 1)),
      |      i -> substr(text, i, 5)))) AS s
      |  FROM documents WHERE length(text) >= 5),
      |x AS (
      |  SELECT doc_id,
      |    (CAST(ascii(substr(s,1,1)) AS BIGINT) * 923521 +
      |     CAST(ascii(substr(s,2,1)) AS BIGINT) * 29791 +
      |     CAST(ascii(substr(s,3,1)) AS BIGINT) * 961 +
      |     CAST(ascii(substr(s,4,1)) AS BIGINT) * 31 +
      |     CAST(ascii(substr(s,5,1)) AS BIGINT)) % 1000000007 AS x
      |  FROM sh),
      |j AS (SELECT unnest(generate_series(0, 63)) AS perm)
      |SELECT doc_id, CAST(perm AS BIGINT) AS perm,
      |  MIN(((2 * perm + 1) * x + 12345 * perm) % 2147483647) AS minhash
      |FROM x, j GROUP BY doc_id, perm""".stripMargin)
  )

  // dd_simhash — 60-bit SimHash signatures + 15-bit band keys
  // (hamming-candidate shuffle keys), ORACLE-CHECKED bit-for-bit: the two
  // 30-bit halves are poly hashes of each token forward and reversed,
  // which DuckDB reproduces as Horner power sums. Planted-dup recovery in
  // DedupSpec.
  //
  // The twin's vote stage is 60 SUM(CASE) columns in ONE aggregate over
  // the per-token hash surface — algebraically identical to a
  // cross-join with generate_series(0,59) + two-level aggregate, but
  // without multiplying |doc×token| rows by 60: the cross-join form
  // exhausted DuckDB at sf100 (>53 GB temp spill / 80 GB memory on a
  // 250M-token corpus — an oracle-ENGINE resource pathology, r9 class;
  // the restructured twin was validated equal at sf1 before adoption).
  private val simhashVoteCols: String = (0 until 60).map { k =>
    val h = if (k < 30) "h1" else "h2"
    s"    SUM(CASE WHEN (($h >> ${k % 30}) & 1) = 1 THEN 1 ELSE -1 END) AS v$k"
  }.mkString(",\n")
  private val simhashBitSum: String = (0 until 60).map { k =>
    s"    (CASE WHEN v$k >= 0 THEN (CAST(1 AS BIGINT) << $k) ELSE 0 END)"
  }.mkString(" +\n")
  private val ddSimhash = Q(
    "dd_simhash",
    (s, d) => {
      Dedup.simhash(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("simhash"),
          expr("transform(sequence(0, 3), b -> shiftrightunsigned(simhash, b * 15) & 32767)").as("bands"))
        .select(col("doc_id"), col("simhash"),
          col("bands").getItem(0).as("band0"), col("bands").getItem(1).as("band1"),
          col("bands").getItem(2).as("band2"), col("bands").getItem(3).as("band3"))
    },
    Some("""WITH RECURSIVE toks AS (
      |  SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS t,
      |    unnest(generate_series(1, len(string_split(text, ' ')))) AS tp
      |  FROM documents),
      |pows(e, p) AS (
      |  SELECT 0, CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT e + 1, (p * 31) % 1000000007 FROM pows
      |  WHERE e < (SELECT MAX(length(t)) FROM toks)
      |),
      |chars AS (
      |  -- empty tokens produce no char rows and therefore no votes,
      |  -- mirroring the Spark side's length>0 filter
      |  SELECT doc_id, tp, t, length(t) AS n,
      |    unnest(generate_series(1, length(t))) AS i
      |  FROM toks),
      |th AS (
      |  SELECT c.doc_id, c.tp,
      |    CAST(SUM(CAST(ascii(substr(c.t, c.i, 1)) AS BIGINT) * pf.p) % 1000000007 AS BIGINT) AS h1,
      |    CAST(SUM(CAST(ascii(substr(c.t, c.i, 1)) AS BIGINT) * pr.p) % 1000000007 AS BIGINT) AS h2
      |  FROM chars c
      |  JOIN pows pf ON pf.e = c.n - c.i
      |  JOIN pows pr ON pr.e = c.i - 1
      |  GROUP BY c.doc_id, c.tp),
      |sig AS (
      |  SELECT doc_id,
      |SIMHASH_VOTE_COLS
      |  FROM th GROUP BY doc_id),
      |sh AS (
      |  SELECT doc_id, CAST(
      |SIMHASH_BIT_SUM
      |  AS BIGINT) AS simhash
      |  FROM sig)
      |SELECT doc_id, simhash,
      |  (simhash >> 0) & 32767 AS band0,
      |  (simhash >> 15) & 32767 AS band1,
      |  (simhash >> 30) & 32767 AS band2,
      |  (simhash >> 45) & 32767 AS band3
      |FROM sh""".stripMargin
      .replace("SIMHASH_VOTE_COLS", simhashVoteCols)
      .replace("SIMHASH_BIT_SUM", simhashBitSum))
  )

  // dd_ngram_jaccard — exact word-3-gram Jaccard on a bounded candidate
  // set (doc_id < 40 pairs stands in for LSH candidates so DuckDB can
  // verify the set arithmetic bit-for-bit).
  private val ddNgramJaccard = Q(
    "dd_ngram_jaccard",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
      val ng = Dedup.withWordNgrams(docs, "text")
        .select(col("doc_id"), col("ngrams"))
      val a = ng.select(col("doc_id").as("id_a"), col("ngrams").as("ng_a"))
      val b = ng.select(col("doc_id").as("id_b"), col("ngrams").as("ng_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("ng_a"), col("ng_b"))).cast("double") /
            size(array_union(col("ng_a"), col("ng_b"))).cast("double")).as("jaccard"))
    },
    Some("""WITH ng AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS ngrams
      |  FROM documents WHERE doc_id < 40)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
      |  CAST(len(list_distinct(list_concat(a.ngrams, b.ngrams))) AS DOUBLE) AS jaccard
      |FROM ng a JOIN ng b ON a.doc_id < b.doc_id
      |""".stripMargin)
  )

  // dd_containment — ASYMMETRIC overlap (|A∩B| / |A|), the signal Jaccard
  // misses: a short document wholly quoted inside a long one has low
  // Jaccard but containment ≈ 1 from the short side — the
  // excerpt/boilerplate-inclusion detector LLM dedup pipelines run beside
  // symmetric near-dup. Same bounded candidate surface and set
  // arithmetic as dd_ngram_jaccard, both directions emitted per pair.
  private val ddContainment = Q(
    "dd_containment",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
      val ng = Dedup.withWordNgrams(docs, "text")
        .select(col("doc_id"), col("ngrams"))
      val a = ng.select(col("doc_id").as("id_a"), col("ngrams").as("ng_a"))
      val b = ng.select(col("doc_id").as("id_b"), col("ngrams").as("ng_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("ng_a"), col("ng_b"))).cast("double") /
            size(col("ng_a")).cast("double")).as("containment_a"),
          (size(array_intersect(col("ng_a"), col("ng_b"))).cast("double") /
            size(col("ng_b")).cast("double")).as("containment_b"))
    },
    Some("""WITH ng AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS ngrams
      |  FROM documents WHERE doc_id < 40)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
      |  CAST(len(a.ngrams) AS DOUBLE) AS containment_a,
      |  CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
      |  CAST(len(b.ngrams) AS DOUBLE) AS containment_b
      |FROM ng a JOIN ng b ON a.doc_id < b.doc_id
      |""".stripMargin)
  )

  // dd_clusters — the dedup last mile as ONE oracle-checked query:
  // candidate pairs (dd_ngram_jaccard's semantics, thresholded at the
  // corpus's weak-similarity level — the synthetic corpus plants no true
  // dups, so 0.01 is what yields multi-hop components: sizes 8/7/3/2/2/2
  // at sf0.01) → distributed connected components (min-label propagation
  // + pointer jumping) → (doc_id, cluster_id = min id of component) for
  // EVERY document, isolated docs mapping to themselves. The DuckDB twin
  // recomputes the pairs and closes them transitively with a recursive
  // CTE, so the iterative distributed fixpoint is hash-verified against
  // a declarative one — including the chain shapes where plain
  // propagation would need diameter rounds.
  // dd_minhash_est — the estimation side of MinHash closed end-to-end:
  // signature-agreement Jaccard (fraction of the 64 permutation minima
  // that agree) next to the EXACT 5-gram Jaccard for every candidate
  // pair, both computed in SQL-expressible arithmetic so the oracle
  // hash-checks estimator and truth together. This is the number LSH
  // thresholds are calibrated against: E[est] = J, σ ≈ √(J(1−J)/64).
  /** (id_a, id_b, est_jaccard, exact_jaccard) for every pair of the
    * doc_id < 40 slice — shared by dd_minhash_est and dd_lsh_calibrate.
    */
  private def estPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < 40 && length(col("text")) >= 5)
    val sig = Dedup.minhashSig(docs, "text", "doc_id")
    val sh = Dedup.withShingles(docs, "text").select(col("doc_id"), col("shingles"))
    val a = sig.join(sh, "doc_id")
      .select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("shingles").as("sh_a"))
    val b = sig.join(sh, "doc_id")
      .select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("shingles").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          bb => bb)).cast("double") / lit(64.0)).as("est_jaccard"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("exact_jaccard"))
  }

  /** DuckDB twin of [[estPairs]] as a WITH-body ending in a `pairs`
    * CTE — shared by dd_minhash_est and dd_lsh_calibrate.
    */
  private val estPairsCte: String = """sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(length(text) - 4, 1)),
      |      i -> substr(text, i, 5)))) AS s
      |  FROM documents WHERE doc_id < 40 AND length(text) >= 5),
      |x AS (
      |  SELECT doc_id,
      |    (CAST(ascii(substr(s,1,1)) AS BIGINT) * 923521 +
      |     CAST(ascii(substr(s,2,1)) AS BIGINT) * 29791 +
      |     CAST(ascii(substr(s,3,1)) AS BIGINT) * 961 +
      |     CAST(ascii(substr(s,4,1)) AS BIGINT) * 31 +
      |     CAST(ascii(substr(s,5,1)) AS BIGINT)) % 1000000007 AS x
      |  FROM sh),
      |j AS (SELECT unnest(generate_series(0, 63)) AS perm),
      |sig AS (
      |  SELECT doc_id, perm,
      |    MIN(((2 * perm + 1) * x + 12345 * perm) % 2147483647) AS mh
      |  FROM x, j GROUP BY doc_id, perm),
      |agree AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 64.0 AS est_jaccard
      |  FROM sig a JOIN sig b ON a.perm = b.perm AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sets AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(length(text) - 4, 1)),
      |    i -> substr(text, i, 5))) AS sh5
      |  FROM documents WHERE doc_id < 40 AND length(text) >= 5),
      |ex AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.sh5, b.sh5)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(a.sh5, b.sh5))) AS DOUBLE) AS exact_jaccard
      |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT agree.id_a, agree.id_b, est_jaccard, exact_jaccard
      |  FROM agree JOIN ex ON agree.id_a = ex.id_a AND agree.id_b = ex.id_b)""".stripMargin

  private val ddMinhashEst = Q(
    "dd_minhash_est",
    (s, d) => estPairs(s, d),
    Some(s"""WITH $estPairsCte
      |SELECT id_a, id_b, est_jaccard, exact_jaccard
      |FROM pairs""".stripMargin)
  )

  // dd_lsh_calibrate — the operating-point table an LSH deployment is
  // actually tuned from: precision/recall of "signature estimate ≥ τ"
  // against the exact-Jaccard truth (≥ 0.2, this corpus's near-dup
  // level), swept over τ = 1/64..32/64 — every threshold the 64-perm
  // signature can express. The estimates are dyadic rationals (k/64) and
  // the thresholds are built as i/64 in BOTH engines, so comparisons are
  // exact — no epsilon fudge. One pass over the shared pair surface
  // cross-joined with the 32-row broadcast threshold spine; ratios are
  // NULL-guarded (a τ above every estimate has no flagged pairs).
  private val ddLshCalibrate = Q(
    "dd_lsh_calibrate",
    (s, d) => {
      import s.implicits._
      val pairs = estPairs(s, d)
      val thr = broadcast((1 to 32).map(i => i / 64.0).toDF("tau"))
      val truth = col("exact_jaccard") >= 0.2
      val flag = col("est_jaccard") >= col("tau")
      pairs.crossJoin(thr)
        .groupBy("tau")
        .agg(
          sum(when(flag && truth, 1L).otherwise(0L)).as("tp"),
          sum(when(flag && !truth, 1L).otherwise(0L)).as("fp"),
          sum(when(!flag && truth, 1L).otherwise(0L)).as("fn"),
          sum(when(!flag && !truth, 1L).otherwise(0L)).as("tn"))
        .select(col("tau"), col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
            .as("prec"),
          when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
            .as("rec"))
        .orderBy("tau")
    },
    Some(s"""WITH $estPairsCte,
      |thr AS (SELECT CAST(unnest(generate_series(1, 32)) AS DOUBLE) / 64.0 AS tau),
      |cells AS (
      |  SELECT tau,
      |    CAST(SUM(CASE WHEN est_jaccard >= tau AND exact_jaccard >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN est_jaccard >= tau AND NOT exact_jaccard >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN NOT est_jaccard >= tau AND exact_jaccard >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(SUM(CASE WHEN NOT est_jaccard >= tau AND NOT exact_jaccard >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM pairs CROSS JOIN thr GROUP BY tau)
      |SELECT tau, tp, fp, fn, tn,
      |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec,
      |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS rec
      |FROM cells ORDER BY tau""".stripMargin)
  )

  /** Shared by dd_clusters / dd_keep_best: weak-similarity candidate
    * pairs over the doc_id < 40 slice, closed into components for EVERY
    * document (isolated docs are their own singleton cluster).
    */
  private def clusterDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    val ng = Dedup.withWordNgrams(docs.filter(col("doc_id") < 40), "text")
      .select(col("doc_id"), col("ngrams"))
    val a = ng.select(col("doc_id").as("id_a"), col("ngrams").as("ng_a"))
    val b = ng.select(col("doc_id").as("id_b"), col("ngrams").as("ng_b"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .filter((size(array_intersect(col("ng_a"), col("ng_b"))).cast("double") /
        size(array_union(col("ng_a"), col("ng_b"))).cast("double")) >= 0.01)
      .select("id_a", "id_b")
    Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs)
  }

  /** The DuckDB twin of [[clusterDf]]: recompute the pairs declaratively
    * and close them transitively with a recursive CTE.
    */
  private val clusterCte: String =
    """WITH RECURSIVE ng AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS ngrams
      |  FROM documents WHERE doc_id < 40),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM ng a JOIN ng b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.ngrams, b.ngrams))) AS DOUBLE) >= 0.01),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION
      |  SELECT id_b AS src, id_a AS dst FROM pairs),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS label FROM documents
      |  UNION
      |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
      |clusters AS (
      |  SELECT id AS doc_id, MIN(label) AS cluster_id
      |  FROM reach GROUP BY id)""".stripMargin

  private val ddClusters = Q(
    "dd_clusters",
    (s, d) => clusterDf(s, d),
    Some(clusterCte + "\nSELECT doc_id, cluster_id FROM clusters")
  )

  // dd_keep_best — the selection policy after clustering: inside each
  // duplicate cluster keep the LONGEST document (n_chars, min doc_id as
  // tiebreak) — the "keep the most complete copy" rule LLM-corpus dedup
  // uses in place of dd_exact's keep-first. The winner comes from a
  // PARTIAL-AGGREGABLE max(struct(n_chars, −doc_id)) per cluster — a
  // window partitioned by cluster_id would sort a whole boilerplate
  // cluster (exact-dup stars can be millions of rows) in one task,
  // while the struct-max combines map-side and the join back moves one
  // winner row per cluster.
  private val ddKeepBest = Q(
    "dd_keep_best",
    (s, d) => {
      val clustered = clusterDf(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      val winners = clustered.groupBy(col("cluster_id"))
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("w"))
        .select(col("cluster_id"), (-col("w.neg_id")).as("win_id"))
      clustered.join(winners, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_chars"),
          (col("doc_id") === col("win_id")).as("keep"))
    },
    Some(clusterCte +
      """
      |SELECT c.doc_id, c.cluster_id, d.n_chars,
      |  ROW_NUMBER() OVER (PARTITION BY c.cluster_id
      |    ORDER BY d.n_chars DESC, c.doc_id) = 1 AS keep
      |FROM clusters c JOIN documents d USING (doc_id)
      |""".stripMargin)
  )

  // dd_embed_cosine — embedding-cosine near-dup pairs over a bounded
  // subset, exact integer-grid cosine (threshold 0.3 yields real pairs in
  // this corpus; at scale candidates would come from sim_lsh buckets).
  private val ddEmbedCosine = Q(
    "dd_embed_cosine",
    (s, d) => {
      val e = graft.similarity.Similarity.withQuantized(
        Tables.embeddings(s, d).filter(col("vec_id") < 100), "embedding")
        .select(col("vec_id"), col("qvec"), col("qnorm"))
      val a = e.select(col("vec_id").as("id_a"), col("qvec").as("qa"), col("qnorm").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("qvec").as("qb"), col("qnorm").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.similarity.Similarity.cosineQ(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
        .filter(col("cosine") >= 0.3)
    },
    Some("""WITH q AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
      |    unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings WHERE vec_id < 100),
      |n AS (SELECT vec_id, SUM(qv * qv) AS nq FROM q GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.qv * b.qv) AS dot
      |  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  CAST(dot AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))) AS cosine
      |FROM dots JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
      |WHERE CAST(dot AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))) >= 0.3
      |""".stripMargin)
  )

  // sem_dedup — SemDeDup (Abbas et al. 2023): k-means-bucketed semantic
  // dedup over the embedding corpus ([[Dedup.semanticDedup]]). The
  // k-means cell assignment is not SQL-expressible, so this is rows-only
  // by design; DedupSpec plants grid-identical and near-identical vector
  // groups and asserts each planted group collapses to one survivor.
  private val semDedup = Q(
    "sem_dedup",
    (s, d) => Dedup.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        tau = 0.5),
    None
  )

  // dd_winnow_pairs — SUBSTRING-level near-dup candidates: documents
  // sharing ≥ 3 winnowing fingerprints (MOSS guarantee: any shared
  // ≥ 12-char passage leaves a shared print — catches excerpt reuse and
  // boilerplate that whole-document MinHash dilutes away). Fingerprints
  // come from the `graft_winnow` codegen expression (tx_winnow's
  // machinery); the pair stage joins only WITHIN a fingerprint bucket.
  // Ubiquitous prints (document frequency > 50) are dropped first — a
  // boilerplate stop-list, the same reason tf-idf down-weights common
  // terms — which also bounds per-bucket fanout at 100 TB (the
  // candidatePairs cap discipline); singleton prints (df < 2) can't
  // produce a pair and are dropped before the self-join.
  private val ddWinnowPairs = Q(
    "dd_winnow_pairs",
    (s, d) => {
      // materialize the fingerprint table once (localCheckpoint): the
      // df-filter and both self-join sides reuse it instead of
      // re-winnowing the corpus three more times — at scale this is the
      // fingerprint table a pipeline would persist. NO fanout before the
      // winnow (measured r14): unlike minhashSig, the walk feeds a
      // localCheckpoint whose materialization + the downstream df-filter
      // and self-join shuffles dominate; adding the parallelism exchange
      // measured 0.59 s → 1.00 s at sf0.1.
      val fps = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(call_function("graft_winnow", col("text"), lit(5), lit(8))).as("fp"))
        .graftCheckpoint()
      val usable = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 50)
        .select("fp")
      val f2 = fps.join(usable, "fp")
      val a = f2.select(col("fp"), col("doc_id").as("id_a"))
      val b = f2.select(col("fp"), col("doc_id").as("id_b"))
      a.join(b, "fp").filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 3)
    },
    Some("""WITH h AS (
      |  SELECT doc_id, list_transform(generate_series(1, length(text) - 4),
      |    i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT) * 923521 +
      |         ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) * 29791 +
      |         ascii(substr(text, CAST(i + 2 AS INTEGER), 1)) * 961 +
      |         ascii(substr(text, CAST(i + 3 AS INTEGER), 1)) * 31 +
      |         ascii(substr(text, CAST(i + 4 AS INTEGER), 1))) AS hs
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(hs) - 7),
      |    p -> list_min(list_slice(hs, CAST(p AS INTEGER), CAST(p + 7 AS INTEGER))))) AS fps
      |  FROM h),
      |fp AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      |usable AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 50),
      |fr AS (SELECT fp.doc_id, fp.fp FROM fp JOIN usable USING (fp))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared_fps
      |FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin)
  )

  // dd_cluster_sizes — the dedup QA readout: how big are the duplicate
  // clusters (size histogram) and how much of the corpus is redundant
  // (duplicate fraction per size class)? Two partial-aggregable
  // rollups over the cluster assignment — the |size-classes| output
  // surface is what a curation dashboard plots.
  private val ddClusterSizes = Q(
    "dd_cluster_sizes",
    (s, d) => {
      val sizes = clusterDf(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      sizes.groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"),
          sum(col("sz") - 1L).as("n_redundant"))
        .orderBy("sz")
    },
    Some(clusterCte +
      """
      |, sizes AS (
      |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
      |  FROM clusters GROUP BY cluster_id)
      |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST(SUM(sz - 1) AS BIGINT) AS n_redundant
      |FROM sizes GROUP BY sz ORDER BY sz""".stripMargin)
  )

  // dd_dup_weights — duplicate-aware training weights (the SoftDeDup
  // alternative to removal: keep every copy but down-weight it by its
  // cluster multiplicity, so the corpus-level contribution of a
  // duplicated document stays 1). weight = 1/cluster_size from the
  // same cluster assignment dd_clusters certifies; one rollup + one
  // join keyed on the high-cardinality doc/cluster ids.
  private val ddDupWeights = Q(
    "dd_dup_weights",
    (s, d) => {
      val clustered = clusterDf(s, d)
      val sizes = clustered.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      clustered.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("sz").as("cluster_size"),
          (lit(1.0) / col("sz").cast("double")).as("weight"))
    },
    Some(clusterCte +
      """
      |, sizes AS (
      |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM clusters GROUP BY 1)
      |SELECT c.doc_id, c.cluster_id, s.sz AS cluster_size,
      |  1.0 / CAST(s.sz AS DOUBLE) AS weight
      |FROM clusters c JOIN sizes s USING (cluster_id)
      |""".stripMargin)
  )

  // dd_weighted_jaccard — term-frequency-weighted Jaccard per candidate
  // pair (Σ min(tf_A,tf_B) / Σ max(tf_A,tf_B) — the multiset overlap
  // that catches repetition-heavy near-dups the SET Jaccard of
  // dd_ngram_jaccard flattens away): Σmax never materializes — it is
  // totA + totB − Σmin, so one equi-join on the token key within the
  // candidate surface plus two broadcast doc-total lookups computes the
  // score from exact integers; pairs sharing no tokens keep Σmin = 0
  // via the left join from the totals cross. Same bounded doc_id < 40
  // candidate stand-in as the other pairwise dedup oracles.
  private val ddWeightedJaccard = Q(
    "dd_weighted_jaccard",
    (s, d) => {
      val toks = Tables.documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .filter(length(col("t")) > 0)
      val tf = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
        .graftCheckpoint()
      val tot = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("tot"))
      val a = tf.select(col("doc_id").as("id_a"), col("t"), col("tf").as("tf_a"))
      val b = tf.select(col("doc_id").as("id_b"), col("t").as("t_b"), col("tf").as("tf_b"))
      val smin = a.join(b, col("t") === col("t_b") && col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(sum(least(col("tf_a"), col("tf_b"))).as("sum_min"))
      val ta = tot.select(col("doc_id").as("id_a"), col("tot").as("tot_a"))
      val tb = tot.select(col("doc_id").as("id_b"), col("tot").as("tot_b"))
      ta.join(tb, col("id_a") < col("id_b"))
        .join(smin, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"),
          coalesce(col("sum_min"), lit(0L)).as("sum_min"),
          (col("tot_a") + col("tot_b") - coalesce(col("sum_min"), lit(0L))).as("sum_max"))
        .withColumn("weighted_jaccard",
          col("sum_min").cast("double") / col("sum_max").cast("double"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |    FROM documents WHERE doc_id < 40)
      |  WHERE length(t) > 0),
      |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tot FROM tf GROUP BY 1),
      |smin AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS sum_min
      |  FROM tf a JOIN tf b ON a.t = b.t AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT ta.doc_id AS id_a, tb.doc_id AS id_b,
      |  COALESCE(sum_min, 0) AS sum_min,
      |  ta.tot + tb.tot - COALESCE(sum_min, 0) AS sum_max,
      |  CAST(COALESCE(sum_min, 0) AS DOUBLE)
      |    / CAST(ta.tot + tb.tot - COALESCE(sum_min, 0) AS DOUBLE) AS weighted_jaccard
      |FROM tot ta JOIN tot tb ON ta.doc_id < tb.doc_id
      |LEFT JOIN smin ON smin.id_a = ta.doc_id AND smin.id_b = tb.doc_id
      |""".stripMargin)
  )

  // dd_modality_agreement — do the TEXT near-dup signal and the
  // EMBEDDING near-dup signal agree? (the cross-modal QA a pipeline
  // runs before trusting either detector alone — disagreement pockets
  // are where semantic dup ≠ surface dup): per candidate pair the
  // exact token-set Jaccard and the exact grid cosine side by side,
  // thresholded at the corpus' own p90 operating points, with the 2×2
  // agreement flags. Both scores are exact/IEEE-identical, so the
  // boolean flags hash-match too. Same bounded doc_id < 40 candidate
  // surface; embeddings join by id.
  private val ddModalityAgreement = Q(
    "dd_modality_agreement",
    (s, d) => {
      import graft.similarity.Similarity
      val tk = Tables.documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      val ta = tk.select(col("doc_id").as("id_a"), col("toks").as("tk_a"))
      val tb = tk.select(col("doc_id").as("id_b"), col("toks").as("tk_b"))
      val textPairs = ta.join(tb, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("tk_a"), col("tk_b"))).cast("double") /
            size(array_union(col("tk_a"), col("tk_b"))).cast("double")).as("token_jaccard"))
      val qv = Similarity.withQuantized(
          Tables.embeddings(s, d).filter(col("vec_id") < 40), "embedding")
        .select(col("vec_id"), col("qvec"), col("qnorm"))
      val ea = qv.select(col("vec_id").as("id_a"), col("qvec").as("qa"), col("qnorm").as("na"))
      val eb = qv.select(col("vec_id").as("id_b"), col("qvec").as("qb"), col("qnorm").as("nb"))
      val embPairs = ea.join(broadcast(eb), col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Similarity.cosineQ(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      textPairs.join(embPairs, Seq("id_a", "id_b"))
        .withColumn("text_dup", col("token_jaccard") >= lit(0.8))
        .withColumn("emb_dup", col("cosine") >= lit(0.15))
        .withColumn("modality_agree", col("text_dup") === col("emb_dup"))
    },
    Some("""WITH tk AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents WHERE doc_id < 40),
      |tp AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS token_jaccard
      |  FROM tk a JOIN tk b ON a.doc_id < b.doc_id),
      |q AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
      |    unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings WHERE vec_id < 40),
      |n AS (SELECT vec_id, SUM(qv * qv) AS nq FROM q GROUP BY vec_id),
      |ep AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    CAST(SUM(a.qv * b.qv) AS DOUBLE)
      |      / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))) AS cosine
      |  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < b.vec_id
      |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
      |  GROUP BY 1, 2, na.nq, nb.nq)
      |SELECT tp.id_a AS id_a, tp.id_b AS id_b, token_jaccard, cosine,
      |  token_jaccard >= CAST(0.8 AS DOUBLE) AS text_dup,
      |  cosine >= CAST(0.15 AS DOUBLE) AS emb_dup,
      |  (token_jaccard >= CAST(0.8 AS DOUBLE)) = (cosine >= CAST(0.15 AS DOUBLE)) AS modality_agree
      |FROM tp JOIN ep ON tp.id_a = ep.id_a AND tp.id_b = ep.id_b
      |""".stripMargin)
  )

  override val qs: Seq[Q] = Seq(ddExact, ddMinhash, ddMinhashEst, ddLshCalibrate, ddSimhash,
    ddNgramJaccard, ddContainment, ddClusters, ddKeepBest, semDedup,
    ddEmbedCosine, ddWinnowPairs, ddClusterSizes, ddDupWeights, ddWeightedJaccard,
    ddModalityAgreement)
}
