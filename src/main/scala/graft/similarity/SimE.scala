package graft.similarity

import graft.{Q, Tables, Module}
import org.apache.spark.sql.functions._

/** SURVEY §2.E — similarity search over `embeddings` (64-dim float).
  * Queries = vec_id < 10, corpus = the rest; k = 5.
  */
object SimE extends Module {

  private def split(s: org.apache.spark.sql.SparkSession, d: String) = {
    val e = Tables.embeddings(s, d)
    (e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10))
  }

  // sim_brute_topk — exact cosine top-k, oracle-checked bit-for-bit
  // (integer-grid cosine + deterministic tiebreak).
  private val simBrute = Q(
    "sim_brute_topk",
    (s, d) => {
      val (q, c) = split(s, d)
      Similarity.bruteTopK(q, c, "vec_id", "embedding", k = 5)
    },
    Some("""WITH q AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
      |    unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings),
      |n AS (SELECT vec_id, SUM(qv * qv) AS nq FROM q GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id, SUM(a.qv * b.qv) AS dot
      |  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT query_id, corpus_id,
      |    CAST(dot AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))) AS cosine
      |  FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = corpus_id),
      |ranked AS (
      |  SELECT query_id, corpus_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
      |  FROM scored)
      |SELECT query_id, corpus_id, cosine, rank FROM ranked
      |WHERE rank <= 5""".stripMargin)
  )

  // sim_lsh_topk — sign-LSH bucketed ANN with hamming≤1 multiprobe.
  // ORACLE-CHECKED, unlike the learned-partition ANN ops: the
  // hyperplanes are seeded-deterministic DOUBLES, and Scala's
  // Double.toString is the shortest round-trip representation, which
  // DuckDB's literal parser converts back to the identical bits — so
  // the SQL twin embeds the 6×64 plane constants and replays the exact
  // sign computation (left-fold dot product in ascending index order,
  // the same IEEE sequence as the DotPlanes codegen loop). Bucketing,
  // multiprobe XOR, and the integer-grid cosine re-rank are then plain
  // SQL. Recall vs brute force additionally asserted in SimilaritySpec.
  private val simLsh = Q(
    "sim_lsh_topk",
    (s, d) => {
      val (q, c) = split(s, d)
      Similarity.lshTopK(q, c, "vec_id", "embedding", k = 5)
    },
    Some {
      val nBits = 6
      val planes = Similarity.hyperplanes(nBits, 64)
      // per-bit sign term: left-fold of emb[i]*plane[i] in index order
      def sgn(alias: String): String = (0 until nBits).map { j =>
        val lits = planes(j).map(_.toString).mkString(", ")
        s"""CASE WHEN list_reduce(list_transform(range(1, 65),
           |      i -> CAST($alias.embedding[i] AS DOUBLE) * (CAST([$lits] AS DOUBLE[]))[i]),
           |      (a, b) -> a + b) >= 0 THEN ${1L << j} ELSE 0 END""".stripMargin
      }.mkString(" + ")
      s"""WITH cb AS (
         |  SELECT vec_id, embedding, ${sgn("embeddings")} AS bucket
         |  FROM embeddings),
         |qp AS (
         |  SELECT vec_id AS query_id, embedding, xor(bucket, p.flip) AS bucket
         |  FROM cb, (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS flip) p
         |  WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT q.query_id, c.vec_id AS corpus_id
         |  FROM qp q JOIN cb c ON q.bucket = c.bucket AND c.vec_id >= 10),
         |g AS (
         |  SELECT vec_id,
         |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings),
         |n AS (SELECT vec_id, SUM(qv * qv) AS nq FROM g GROUP BY vec_id),
         |dots AS (
         |  SELECT cand.query_id, cand.corpus_id, SUM(a.qv * b.qv) AS dot
         |  FROM cand
         |  JOIN g a ON a.vec_id = cand.query_id
         |  JOIN g b ON b.vec_id = cand.corpus_id AND a.i = b.i
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, corpus_id,
         |    CAST(dot AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))) AS cosine
         |  FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = corpus_id),
         |ranked AS (
         |  SELECT query_id, corpus_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
         |  FROM scored)
         |SELECT query_id, corpus_id, cosine, rank FROM ranked
         |WHERE rank <= 5""".stripMargin
    }
  )

  // sim_ivf_topk — IVF: k-means coarse quantizer (seeded, trained on the
  // corpus — at 100 TB on a sample) + nprobe=3 probing; rows-checked, recall
  // asserted in SimilaritySpec.
  private val simIvf = Q(
    "sim_ivf_topk",
    (s, d) => {
      val (q, c) = split(s, d)
      Ivf.ivfTopK(q, c, "vec_id", "embedding", k = 5, nClusters = 16, nProbe = 3)
    },
    None
  )

  // sim_pq_topk — product quantization: 8-byte codes + ADC candidate scan
  // + exact re-rank (the memory-bound ANN shape); rows-checked here,
  // recall + exactness of the re-ranked scores asserted in
  // SimilaritySpec.
  private val simPq = Q(
    "sim_pq_topk",
    (s, d) => {
      val (q, c) = split(s, d)
      Pq.pqTopK(q, c, "vec_id", "embedding", k = 5)
    },
    None
  )

  // sim_ivfpq_topk — the production composition: directory-pruned IVF
  // cells scanned as PQ codes (ADC) + exact re-rank; rows-checked here,
  // recall/pruning/exactness in SimilaritySpec.
  private val simIvfPq = Q(
    "sim_ivfpq_topk",
    (s, d) => {
      val (q, c) = split(s, d)
      IvfPq.ivfPqTopK(q, c, "vec_id", "embedding", k = 5, nClusters = 8, nProbe = 4)
    },
    None
  )

  // emb_centroid — per-label mean embedding in long (label, pos) form:
  // posexplode to (label, pos, grid-int component) then ONE partial-
  // aggregable groupBy(label, pos) — sums are exact BIGINTs on the 1e-6
  // grid, so the final two fixed-order double divisions (sum/n, /1e6)
  // hash-match DuckDB bit-for-bit. The class-centroid table this emits
  // is the build step for nearest-class-mean classification and for
  // cluster-balance audits; output is |labels|·dim rows — tiny — while
  // the scan is a narrow map + one shuffle of partial sums.
  private val embCentroid = Q(
    "emb_centroid",
    (s, d) => {
      Similarity.withQuantized(Tables.embeddings(s, d), "embedding")
        .select(col("label"), posexplode(col("qvec")).as(Seq("pos", "qv")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
        .agg(count(lit(1)).as("n"), sum(col("qv")).as("sum_q"))
        .select(col("label"), col("pos"), col("n"), col("sum_q"),
          ((col("sum_q").cast("double") / col("n").cast("double")) / lit(1000000.0))
            .as("centroid"))
        .orderBy("label", "pos")
    },
    Some("""WITH q AS (
      |  SELECT label,
      |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
      |    unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings)
      |SELECT label, CAST(pos AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(qv) AS BIGINT) AS sum_q,
      |  (CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1000000.0 AS centroid
      |FROM q GROUP BY label, pos ORDER BY label, pos""".stripMargin)
  )

  // sim_range_search — the range-query sibling of top-k: every corpus
  // vector with cosine ≥ τ of each query, exact integer-grid cosine,
  // oracle-checked. Same broadcast-queries single-corpus-scan shape as
  // brute force (no rank window needed at all — the threshold filter is
  // a narrow map); at scale the LSH/IVF bucketing prefilters candidates
  // exactly as in the top-k family.
  private val simRange = Q(
    "sim_range_search",
    (s, d) => {
      val (q, c) = split(s, d)
      val qq = Similarity.withQuantized(q, "embedding")
        .select(col("vec_id").as("query_id"), col("qvec").as("q_qvec"),
          col("qnorm").as("q_qnorm"))
      val cc = Similarity.withQuantized(c, "embedding")
        .select(col("vec_id").as("corpus_id"), col("qvec").as("c_qvec"),
          col("qnorm").as("c_qnorm"))
      cc.crossJoin(broadcast(qq))
        .select(col("query_id"), col("corpus_id"),
          Similarity.cosineQ(col("q_qvec"), col("c_qvec"),
            col("q_qnorm"), col("c_qnorm")).as("cosine"))
        .filter(col("cosine") >= 0.25)
    },
    Some("""WITH q AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
      |    unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings),
      |n AS (SELECT vec_id, SUM(qv * qv) AS nq FROM q GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id, SUM(a.qv * b.qv) AS dot
      |  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
      |  GROUP BY 1, 2)
      |SELECT query_id, corpus_id,
      |  CAST(dot AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))) AS cosine
      |FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = corpus_id
      |WHERE CAST(dot AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))) >= 0.25
      |""".stripMargin)
  )

  // emb_knn_classify — k-NN label prediction (the classify-by-neighbors
  // step after any ANN index: nearest-class vote, sklearn
  // KNeighborsClassifier analog). Exact grid-cosine 10-NN per query,
  // neighbor labels joined on the high-cardinality corpus id, majority
  // vote as a partial-aggregable count + struct-argmax (ties → smaller
  // label), never a per-query sort of the label set. At 100 TB the
  // neighbor stage swaps to the IVF/PQ index; the vote is unchanged.
  private val embKnn = Q(
    "emb_knn_classify",
    (s, d) => {
      val (q, c) = split(s, d)
      val knn = Similarity.bruteTopK(q, c, "vec_id", "embedding", k = 10)
      val lbl = Tables.embeddings(s, d).select(col("vec_id").as("corpus_id"), col("label"))
      val truth = Tables.embeddings(s, d).select(col("vec_id").as("query_id"),
        col("label").as("true_label"))
      knn.join(lbl, "corpus_id")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("query_id"))
        .agg(max(struct(col("votes"), (-col("label")).as("nl"))).as("m"))
        .select(col("query_id"), (-col("m.nl")).as("pred_label"), col("m.votes").as("votes"))
        .join(broadcast(truth), "query_id")
        .select(col("query_id"), col("true_label"), col("pred_label"), col("votes"))
        .orderBy("query_id")
    },
    Some("""WITH q AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
      |    unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings),
      |n AS (SELECT vec_id, SUM(qv * qv) AS nq FROM q GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id, SUM(a.qv * b.qv) AS dot
      |  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT query_id, corpus_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
      |      CAST(dot AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))) DESC,
      |      corpus_id) AS rank
      |  FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = corpus_id),
      |v AS (
      |  SELECT r.query_id, e.label, CAST(COUNT(*) AS BIGINT) AS votes
      |  FROM ranked r JOIN embeddings e ON e.vec_id = r.corpus_id
      |  WHERE r.rank <= 10 GROUP BY 1, 2),
      |p AS (
      |  SELECT query_id, label, votes,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
      |  FROM v)
      |SELECT p.query_id, t.label AS true_label, p.label AS pred_label, p.votes
      |FROM p JOIN embeddings t ON t.vec_id = p.query_id
      |WHERE p.rn = 1 ORDER BY p.query_id""".stripMargin)
  )

  // emb_label_purity — mislabel / outlier detection by distance to the
  // label centroid (the data-curation pass that catches wrongly-tagged
  // training examples). Cosine is SCALE-invariant, so the centroid is
  // used as its exact integer SUM vector (Σqv per (label,pos)) — the
  // 1/n never needs to materialize and every sum is exact on both
  // engines; per-row cosine accumulates qv·cz products in DECIMAL(38,0)
  // (cz grows with label size — a flat long dot would overflow at
  // ~1e4-member labels). Centroid tables are |labels|·dim rows —
  // broadcast. One explode + two broadcast joins + one high-cardinality
  // groupBy(vec_id): scales with the corpus.
  private val embPurity = Q(
    "emb_label_purity",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val qv = Similarity.withQuantized(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("label"), posexplode(col("qvec")).as(Seq("pos", "qv")))
      val cent = qv.groupBy(col("label").as("c_label"), col("pos").as("c_pos"))
        .agg(sum(col("qv")).as("cz"))
      // dec2d readouts: centroid components grow with label size, so
      // Σcz² crosses 2^64 near 1e6-member labels (SURVEY §5)
      val cnorm = cent.groupBy(col("c_label").as("n_label"))
        .agg(graft.Exact.dec2d(
          sum(col("cz").cast(DecimalType(38, 0)) * col("cz").cast(DecimalType(38, 0))))
          .as("nc"))
      qv.join(broadcast(cent),
          col("label") === col("c_label") && col("pos") === col("c_pos"))
        .groupBy(col("vec_id"), col("label"))
        .agg(
          graft.Exact.dec2d(
            sum(col("qv").cast(DecimalType(38, 0)) * col("cz").cast(DecimalType(38, 0))))
            .as("dot"),
          sum(col("qv") * col("qv")).cast("double").as("nv"))
        .join(broadcast(cnorm), col("label") === col("n_label"))
        .select(col("vec_id"), col("label"),
          (col("dot") / (sqrt(col("nv")) * sqrt(col("nc")))).as("centroid_cos"))
        .withColumn("flagged", col("centroid_cos") < lit(0.1))
    },
    Some(s"""WITH q AS (
      |  SELECT vec_id, label,
      |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
      |    unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings),
      |cent AS (SELECT label AS c_label, pos AS c_pos, SUM(qv) AS cz FROM q GROUP BY 1, 2),
      |cnorm AS (SELECT c_label AS n_label, ${graft.Exact.sqlDec2d("SUM(cz * cz)")} AS nc FROM cent GROUP BY 1),
      |dots AS (
      |  SELECT q.vec_id, q.label,
      |    ${graft.Exact.sqlDec2d("SUM(q.qv * c.cz)")} AS dot,
      |    CAST(SUM(q.qv * q.qv) AS DOUBLE) AS nv
      |  FROM q JOIN cent c ON q.label = c.c_label AND q.pos = c.c_pos
      |  GROUP BY 1, 2)
      |SELECT d.vec_id, d.label,
      |  d.dot / (SQRT(d.nv) * SQRT(n.nc)) AS centroid_cos,
      |  d.dot / (SQRT(d.nv) * SQRT(n.nc)) < 0.1 AS flagged
      |FROM dots d JOIN cnorm n ON d.label = n.n_label
      |""".stripMargin)
  )

  // emb_dim_stats — per-dimension embedding statistics (the embedding
  // QA pass that catches collapsed/dead/exploding dimensions before
  // they poison an index): n/mean/std/min/max per coordinate from the
  // exact 1e-6-grid sums — one explode + one partial-aggregable shuffle
  // to a |dim|-row surface; std is the q06 IEEE expression over exact
  // integer moments.
  private val embDimStats = Q(
    "emb_dim_stats",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val qv = Similarity.withQuantized(Tables.embeddings(s, d), "embedding")
        .select(posexplode(col("qvec")).as(Seq("pos", "qv")))
      val z = col("qv").cast(DecimalType(38, 0))
      // dec2d readouts: the per-dimension Σz² crosses 2^64 near 2e7
      // corpus vectors (SURVEY §5)
      qv.groupBy((col("pos") + 1).cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.dec2d(sum(z)).as("s1"),
          graft.Exact.dec2d(sum(z * z)).as("s2"),
          min(col("qv")).as("minq"), max(col("qv")).as("maxq"))
        .select(col("pos"), col("n"),
          (col("s1") / col("n").cast("double") / lit(1000000.0)).as("mean"),
          (sqrt((col("s2") - col("s1") * col("s1") / col("n").cast("double")) /
            (col("n").cast("double") - lit(1.0))) / lit(1000000.0)).as("std"),
          (col("minq").cast("double") / lit(1000000.0)).as("min_v"),
          (col("maxq").cast("double") / lit(1000000.0)).as("max_v"))
        .orderBy("pos")
    },
    Some(s"""WITH q AS (
      |  SELECT
      |    unnest(list_transform(embedding, x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS HUGEINT))) AS qv,
      |    unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings)
      |SELECT CAST(pos AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n,
      |  ${graft.Exact.sqlDec2d("SUM(qv)")} / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean,
      |  SQRT((${graft.Exact.sqlDec2d("SUM(qv * qv)")} - ${graft.Exact.sqlDec2d("SUM(qv)")} * ${graft.Exact.sqlDec2d("SUM(qv)")} / CAST(COUNT(*) AS DOUBLE))
      |    / (CAST(COUNT(*) AS DOUBLE) - 1.0)) / 1000000.0 AS std,
      |  CAST(MIN(qv) AS DOUBLE) / 1000000.0 AS min_v,
      |  CAST(MAX(qv) AS DOUBLE) / 1000000.0 AS max_v
      |FROM q GROUP BY pos ORDER BY pos""".stripMargin)
  )

  // sim_recall_eval — the index-selection readout: recall@5 of every
  // approximate method against the exact brute-force truth on the
  // shared query set, as one table (method, n_queries, mean_recall).
  // This is the number that decides which index a deployment ships —
  // the per-method specs assert floors; this operator makes the
  // comparison a first-class queryable surface. Truth is computed once
  // and joined against each method's top-k (all bounded: queries × k
  // rows). Deterministic given the methods' fixed seeds. Rows-only —
  // the k-means/PQ fits aren't SQL; SimilaritySpec cross-checks the
  // brute self-recall anchor (exactly 1.0) and bounds.
  private val simRecallEval = Q(
    "sim_recall_eval",
    (s, d) => {
      import s.implicits._
      val (q, c) = split(s, d)
      val truth = Similarity.bruteTopK(q, c, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"))
      val nQ = truth.select("query_id").distinct().count()
      val methods: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "brute" -> Similarity.bruteTopK(q, c, "vec_id", "embedding", k = 5),
        "lsh" -> Similarity.lshTopK(q, c, "vec_id", "embedding", k = 5),
        "ivf" -> Ivf.ivfTopK(q, c, "vec_id", "embedding", k = 5, nClusters = 16, nProbe = 3),
        "pq" -> Pq.pqTopK(q, c, "vec_id", "embedding", k = 5),
        "ivfpq" -> IvfPq.ivfPqTopK(q, c, "vec_id", "embedding", k = 5, nClusters = 8, nProbe = 4))
      methods.map { case (name, res) =>
        val hits = res.select(col("query_id"), col("corpus_id"))
          .join(truth, Seq("query_id", "corpus_id"), "left_semi")
          .count()
        (name, nQ, hits.toDouble / (nQ * 5).toDouble)
      }.toDF("method", "n_queries", "recall_at_5")
        .orderBy("method")
    },
    None
  )

  // emb_quantize — int8 symmetric-quantization QA per dimension (the
  // go/no-go readout before shipping an int8 index: which dimensions
  // lose how much precision at code width 8?): per-dim max-abs scale
  // from the exact 1e-6-grid integers, codes via an INTEGER
  // round-half-away formula (identical in both engines — a double
  // round() would hang half-way ties on engine rounding modes),
  // residuals 127·q − code·s stay exact integers, and MSE / max-error
  // land in IEEE only at the final division. One explode + two
  // partial-aggregable shuffles to the |dim|-row surface; the scale
  // table is broadcast back, never collected.
  private val embQuantize = Q(
    "emb_quantize",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val qv = Similarity.withQuantized(Tables.embeddings(s, d), "embedding")
        .select(posexplode(col("qvec")).as(Seq("pos0", "q")))
        .select((col("pos0") + 1).cast("long").as("pos"), col("q"))
      val scale = qv.groupBy(col("pos")).agg(max(abs(col("q"))).as("s"))
      val code = when(col("s") === 0L, lit(0L))
        .when(col("q") >= 0L, expr("(254 * q + s) div (2 * s)"))
        .otherwise(-expr("(254 * -q + s) div (2 * s)"))
      val resid = lit(127L) * col("q") - col("code") * col("s")
      qv.join(broadcast(scale), "pos")
        .withColumn("code", code)
        .withColumn("resid", resid)
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), max(col("s")).as("sq"),
          max(abs(col("resid"))).as("maxr"),
          sum((col("resid") * col("resid")).cast(DecimalType(38, 0)))
            .cast("double").as("sse"),
          sum(when(col("code") === 0L, 1L).otherwise(0L)).as("n_zero"))
        .select(col("pos"), col("n"),
          (col("sq").cast("double") / lit(1000000.0)).as("scale"),
          (col("maxr").cast("double") / lit(127000000.0)).as("max_abs_err"),
          (col("sse") / (col("n").cast("double") * lit(16129.0) * lit(1.0e12))).as("mse"),
          col("n_zero"))
        .orderBy("pos")
    },
    Some("""WITH q AS (
      |  SELECT
      |    unnest(list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS q,
      |    unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings),
      |s AS (SELECT pos, MAX(ABS(q)) AS s FROM q GROUP BY pos),
      |c AS (
      |  SELECT q.pos, q.q, s.s,
      |    CASE WHEN s.s = 0 THEN 0
      |         WHEN q.q >= 0 THEN (254 * q.q + s.s) // (2 * s.s)
      |         ELSE -((254 * (-q.q) + s.s) // (2 * s.s)) END AS code
      |  FROM q JOIN s ON q.pos = s.pos),
      |r AS (SELECT pos, s, code, 127 * q - code * s AS resid FROM c)
      |SELECT CAST(pos AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MAX(s) AS DOUBLE) / 1000000.0 AS scale,
      |  CAST(MAX(ABS(resid)) AS DOUBLE) / 127000000.0 AS max_abs_err,
      |  CAST(SUM(CAST(resid AS HUGEINT) * CAST(resid AS HUGEINT)) AS DOUBLE)
      |    / (CAST(COUNT(*) AS DOUBLE) * 16129.0 * 1e12) AS mse,
      |  CAST(SUM(CASE WHEN code = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      |FROM r GROUP BY pos ORDER BY pos""".stripMargin)
  )

  // sim_truncate_eval — Matryoshka-style prefix-dimension evaluation
  // (Kusupati et al. 2022: can the index serve from the first m
  // coordinates and re-rank with the rest later?): recall@5 of
  // exact cosine over the 16- and 32-dim PREFIXES against the full
  // 64-dim truth, one row per dimension budget. Each budget is the same
  // broadcast-query brute scan over SLICED vectors — the slice is a
  // narrow map, the truth is computed once. Rows-only (a readout over
  // our own index family); the 64-dim row anchors at exactly 1.0 in
  // the spec.
  private val simTruncate = Q(
    "sim_truncate_eval",
    (s, d) => {
      import s.implicits._
      val (q, c) = split(s, d)
      val truth = Similarity.bruteTopK(q, c, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (k2, v) => k2 -> v.map(_._2).toSet }
      val rows = Seq(16, 32, 64).map { m =>
        val qm = q.withColumn("emb_m", slice(col("embedding"), 1, m))
        val cm = c.withColumn("emb_m", slice(col("embedding"), 1, m))
        val got = Similarity.bruteTopK(qm, cm, "vec_id", "emb_m", k = 5)
          .select(col("query_id"), col("corpus_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
          .map { case (k2, v) => k2 -> v.map(_._2).toSet }
        val recalls = truth.map { case (qid, t) =>
          got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
        }
        (m.toLong, truth.size.toLong, recalls.sum / recalls.size)
      }
      rows.toDF("dims", "n_queries", "mean_recall")
    },
    None
  )

  // sim_ivf_sweep — the IVF operating curve: recall@5 at nprobe 1, 2,
  // 4, 8, 16 against the brute-force truth, ONE index build probed
  // five times (the tuning table that picks a deployment's
  // recall/latency point; sim_recall_eval compares index FAMILIES at
  // fixed settings). Two guarantees pinned in the spec: recall is
  // NONDECREASING in nprobe (probe sets are nested), and
  // nprobe = nClusters is exhaustive — recall exactly 1.0.
  private val simIvfSweep = Q(
    "sim_ivf_sweep",
    (s, d) => {
      import s.implicits._
      val (q, c) = split(s, d)
      val truth = Similarity.bruteTopK(q, c, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (k2, v) => k2 -> v.map(_._2).toSet }
      val index = Ivf.buildIndex(c, "vec_id", "embedding", nClusters = 16,
        IndexDirs.create("ivf_sweep_"))
      val rows = Seq(1, 2, 4, 8, 16).map { np =>
        val got = Ivf.probeIndex(index, q, "vec_id", "embedding", k = 5, nProbe = np)
          .select(col("query_id"), col("corpus_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
          .map { case (k2, v) => k2 -> v.map(_._2).toSet }
        val recalls = truth.map { case (qid, t) =>
          got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
        }
        (np.toLong, truth.size.toLong, recalls.sum / recalls.size)
      }
      rows.toDF("nprobe", "n_queries", "mean_recall")
    },
    None
  )

  override val qs: Seq[Q] = Seq(simBrute, simLsh, simIvf, simPq, simIvfPq,
    embCentroid, simRange, embKnn, embPurity, embDimStats, simRecallEval,
    embQuantize, simTruncate, simIvfSweep)
}
