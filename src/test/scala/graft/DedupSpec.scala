package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val corpus = {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val vocab = Seq("spark", "query", "join", "filter", "window", "table",
      "scan", "merge", "sort", "hash", "group", "batch", "stream", "row",
      "column", "vector", "index", "cache", "shuffle", "partition")
    def doc(): String = Seq.fill(60)(vocab(r.nextInt(vocab.length))).mkString(" ")
    val base = (0L until 30L).map(i => (i, doc()))
    val d0 = base.head._2
    val planted = Seq(
      (100L, d0),                                    // exact dup of doc 0
      (101L, d0.replace("spark", "flink")),          // near dup of doc 0/100
      (102L, base(1)._2),                            // exact dup of doc 1
      (103L, base(1)._2 + " extra tail words here")) // near dup of doc 1/102
    (base ++ planted).toDF("doc_id", "text")
  }

  test("minhash LSH recovers planted near-duplicates and nothing else") {
    val pairs = Dedup.minhashNearDups(corpus, "text", "doc_id", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)), s"missed exact dup: $pairs")
    assert(pairs.contains((1L, 102L)), s"missed exact dup: $pairs")
    assert(pairs.contains((0L, 101L)) || pairs.contains((100L, 101L)),
      s"missed near dup of 0/100: $pairs")
    assert(pairs.contains((1L, 103L)) || pairs.contains((102L, 103L)),
      s"missed near dup of 1/102: $pairs")
    // no random-doc false positives at this threshold
    val falsePos = pairs.filter { case (a, b) => a < 30 && b < 30 }
    assert(falsePos.isEmpty, s"false positives: $falsePos")
  }

  test("simhash recovers exact and near duplicates") {
    val pairs = Dedup.simhashNearDups(corpus, "text", "doc_id", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)), s"missed exact dup: $pairs")
    assert(pairs.contains((1L, 102L)), s"missed exact dup: $pairs")
  }

  test("exact-dup hamming distance is zero; distinct docs differ") {
    val sims = Dedup.simhash(corpus, "text", "doc_id")
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(0L) === sims(100L))
    assert(java.lang.Long.bitCount(sims(0L) ^ sims(5L)) > 6)
  }

  test("embedNearDups recovers planted duplicate embeddings via LSH buckets") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toSeq
    val planted = Seq(
      (1000L, base(5)._2),                              // exact copy of vec 5
      (1001L, base(6)._2.map(v => v * 1.001f)))         // near copy of vec 6
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.embedNearDups(df, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((base(5)._1, 1000L)), s"missed exact dup: $pairs")
    assert(pairs.contains((base(6)._1, 1001L)), s"missed near dup: $pairs")
    // isotropic corpus: no false positives at 0.99
    assert(pairs.size === 2, s"unexpected pairs: $pairs")
  }

  test("degenerate LSH buckets stay linear, not quadratic") {
    import spark.implicits._
    // one bucket holding 1000 ids: full pairing would be 499,500 candidates;
    // the guard routes oversized buckets through their min-id anchor → 999
    val giant = (0L until 1000L).map(i => (i, 0, 42L))
    val tiny = Seq((5000L, 1, 7L), (5001L, 1, 7L), (5002L, 1, 7L))
    val buckets = (giant ++ tiny).toDF("doc_id", "band_idx", "band_hash")
    val pairs = Dedup.candidatePairs(buckets, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromGiant = pairs.filter(_._2 < 5000L)
    assert(fromGiant.size === 999, s"giant bucket fanout ${fromGiant.size}")
    assert(fromGiant.forall(_._1 === 0L), "oversized bucket must pair through its min-id anchor")
    // small buckets still pair fully (high-precision regime)
    assert(pairs.filter(_._1 >= 5000L) ===
      Set((5000L, 5001L), (5000L, 5002L), (5001L, 5002L)))
  }

  test("1000 identical documents collapse before LSH and are fully recovered") {
    import spark.implicits._
    val copies = (2000L until 3000L).map(i => (i, corpus.filter(col("doc_id") === 0L)
      .head.getString(1)))
    val df = corpus.unionByName(copies.toDF("doc_id", "text"))
    val pairs = Dedup.minhashNearDups(df, "text", "doc_id", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every copy is paired with representative 0 at jaccard 1.0 — exactly
    // 1000 linear star pairs, never the ~500k a quadratic bucket would emit
    val stars = pairs.filter(p => p._2 >= 2000L).toSet
    assert(stars.size === 1000, s"unexpected pair count ${stars.size}")
    assert(stars.forall(p => p._1 === 0L && p._3 === 1.0))
    // the near-dup of doc 0 is still found through its representative
    assert(pairs.exists(p => p._1 === 0L && p._2 === 101L))
  }

  test("connected components collapse pair chains to min-id clusters") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    // a 3-chain (transitive, as anchor-star pairs produce), a 2-clique,
    // and an isolated node
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("pointer jumping converges on a 1000-node chain in O(log n) rounds") {
    import spark.implicits._
    // worst case for plain min-label propagation: diameter 999 would need
    // 999 rounds; the per-round l(v) <- l(l(v)) shortcut doubles covered
    // distance, so 2^(r+1)-2 >= 999 converges by round 9 (+1 to observe
    // no change)
    val n = 1000
    val ids = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length === n)
    assert(cc.forall(_._2 == 0L), "all chain nodes must label to the min id")
    assert(Dedup.lastCcIterations <= 12,
      s"${Dedup.lastCcIterations} rounds — pointer jumping not effective")
  }

  test("end-to-end dedup keeps one representative per planted cluster") {
    val pairs = Dedup.minhashNearDups(corpus, "text", "doc_id", threshold = 0.6)
      .select("id_a", "id_b")
    val cc = Dedup.connectedComponents(corpus.select("doc_id"), "doc_id", pairs)
    val clusters = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {0,100,101} and {1,102,103} collapse; every other doc is its own rep
    assert(clusters(100L) === 0L && clusters(101L) === 0L)
    assert(clusters(102L) === 1L && clusters(103L) === 1L)
    val keep = clusters.values.toSet
    assert(keep.size === corpus.count() - 4)
  }

  test("semanticDedup collapses planted duplicate groups to one survivor") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toSeq
    val planted = Seq(
      (2000L, base(3)._2),                               // grid-identical copy
      (2001L, base(3)._2),                               // second identical copy
      (2002L, base(7)._2.map(v => v * 1.0005f)))         // near copy (cos ≈ 1)
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", tau = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size === base.size + 3)
    // identical copies collapse through the pre-collapse star pairs
    assert(out(2000L) === (base(3)._1, false), s"got ${out(2000L)}")
    assert(out(2001L) === (base(3)._1, false))
    assert(out(base(3)._1)._2 === true, "group min id must be the survivor")
    // the near copy goes through k-means + in-cell pairwise cosine
    assert(out(2002L) === (base(7)._1, false), s"got ${out(2002L)}")
    assert(out(base(7)._1)._2 === true)
    // isotropic corpus: nothing else merges at tau = 0.99
    assert(out.count(_._2._2) === out.size - 3)
  }

  test("semanticDedup recovers planted groups on both sides of the count-estimate boundary") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toSeq
    val planted = Seq(
      (3000L, base(3)._2), (3001L, base(3)._2),        // grid-identical copies
      (3002L, base(7)._2.map(v => v * 1.0005f)),       // near copies of 7
      (3003L, base(7)._2.map(v => v * 0.9995f)),
      (3004L, base(11)._2.map(v => v * 1.0004f)))      // near copy of 11
    val groups = Map(3000L -> base(3)._1, 3001L -> base(3)._1, 3002L -> base(7)._1,
      3003L -> base(7)._1, 3004L -> base(11)._1)
    val dir = java.nio.file.Files.createTempDirectory("graft_semdedup").toString
    try {
      // parquet-backed, so the estimate reads the leaf's on-disk bytes
      (base ++ planted).toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      val nReps = base.size + planted.size - 1 // the two identical copies collapse
      def run(maxTrainRows: Long): (Map[Long, (Long, Boolean)], Int) = {
        val out = Dedup.semanticDedup(df, "vec_id", "embedding", tau = 0.99,
            targetCellRows = 64L, maxTrainRows = maxTrainRows)
          .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
        (out, Dedup.lastSemK)
      }
      val (exact, kExact) = run(nReps.toLong)          // the count is exact
      val (estimated, kEst) = run(nReps.toLong - 5L)   // just over the cap
      for ((name, out) <- Seq("exact" -> exact, "estimate" -> estimated)) {
        assert(out.size === base.size + planted.size, name)
        groups.foreach { case (id, rep) =>
          assert(out(id) === ((rep, false)), s"$name: $id")
          assert(out(rep)._2, s"$name: group min id $rep must survive")
        }
        assert(out.count(_._2._2) === out.size - planted.size, name)
      }
      info(s"k: exact path $kExact, estimate path $kEst")
      assert(kExact === nReps / 64 + 1)
      assert(kEst >= kExact, s"estimated k $kEst below the exact path's $kExact")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("semanticDedup survives a fully-duplicate tiny corpus (k-means skipped)") {
    import spark.implicits._
    // all rows grid-identical ⇒ one representative ⇒ fewer points than
    // clusters; the k-means stage must be skipped, not crash
    val v = Array.tabulate(8)(i => 0.1f * (i + 1))
    val df = Seq((1L, v), (2L, v), (3L, v)).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", tau = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.size === 3)
    assert(out(1L) && !out(2L) && !out(3L),
      "min-id member must be the sole survivor")
  }

  test("dd_minhash oracle preconditions hold for the synthetic corpus") {
    // the DuckDB twin reproduces graft_poly_hash via ascii() power sums of
    // 5-char shingles — valid only for ASCII text of >= shingle width;
    // sub-width docs are filtered on both sides, ASCII is asserted here
    val docs = Tables.documents(spark, sf)
    assert(docs.filter(length(col("text")) < 5).count() === 0)
    assert(docs.filter(not(col("text").rlike("^[\\x00-\\x7F]*$"))).count() === 0,
      "non-ASCII text would break the byte-level ascii() oracle")
  }

  test("jaccard of identical docs is 1.0") {
    import spark.implicits._
    val pairs = Seq((0L, 100L)).toDF("id_a", "id_b")
    val shingled = Dedup.withShingles(corpus, "text")
    val j = Dedup.jaccardVerify(pairs, shingled, "doc_id").head.getDouble(2)
    assert(j === 1.0)
  }

  test("winnowing: docs sharing a long passage share >= 3 fingerprints") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // MOSS guarantee: with k=5, w=8 any shared >= 12-char substring
    // leaves >= 1 shared print; a 60-char shared passage leaves many
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"alpha beta $passage gamma delta"),
      (2L, s"unrelated prefix text here $passage and other suffix"),
      (3L, "completely different content with no overlap whatsoever zz"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(call_function("graft_winnow", col("text"), lit(5), lit(8))).as("fp"))
    val byDoc = docs.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val shared12 = byDoc(1L).intersect(byDoc(2L))
    assert(shared12.size >= 3, s"shared passage must leave >= 3 prints, got ${shared12.size}")
    assert(byDoc(1L).intersect(byDoc(3L)).size < 3)
  }

  test("dd_winnow_pairs emits ordered pairs with the declared threshold") {
    val out = SparkEntry.queries("dd_winnow_pairs")(spark, sf).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)), "pairs must be id_a < id_b")
    assert(out.forall(_.getLong(2) >= 3L), "shared_fps threshold is 3")
  }

  test("lsh calibration: counts partition the pairs, recall falls as tau rises") {
    val rows = SparkEntry.queries("dd_lsh_calibrate")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.length === 32)
    val totals = rows.map { case (_, tp, fp, fn, tn) => tp + fp + fn + tn }
    assert(totals.distinct.length === 1, "every threshold sees all pairs")
    val positives = rows.map { case (_, tp, _, fn, _) => tp + fn }
    assert(positives.distinct.length === 1, "truth set is threshold-independent")
    // flagged count (tp+fp) and tp are monotone non-increasing in tau
    val flagged = rows.map { case (_, tp, fp, _, _) => tp + fp }
    assert(flagged.zip(flagged.tail).forall { case (a, b) => b <= a })
    val tps = rows.map(_._2)
    assert(tps.zip(tps.tail).forall { case (a, b) => b <= a })
  }
  test("dd_weighted_jaccard: multiset overlap matches a local tf walk, bounds set jaccard") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 40)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.nonEmpty).toSeq)
      .toMap
    def tf(id: Long): Map[String, Long] =
      docs(id).groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val got = SparkEntry.queries("dd_weighted_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.length === docs.size * (docs.size - 1) / 2, "every candidate pair present")
    got.foreach { case (a, b, smin, smax, wj) =>
      val (ta, tb) = (tf(a), tf(b))
      val keys = ta.keySet ++ tb.keySet
      val wantMin = keys.toSeq.map(k => math.min(ta.getOrElse(k, 0L), tb.getOrElse(k, 0L))).sum
      val wantMax = keys.toSeq.map(k => math.max(ta.getOrElse(k, 0L), tb.getOrElse(k, 0L))).sum
      assert(smin === wantMin, s"pair ($a,$b) min")
      assert(smax === wantMax, s"pair ($a,$b) max")
      assert(wj === wantMin.toDouble / wantMax.toDouble)
      assert(wj >= 0.0 && wj <= 1.0)
    }
  }
  test("dd_modality_agreement: flags follow the scores, both detectors fire") {
    val rows = SparkEntry.queries("dd_modality_agreement")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    assert(rows.length === 40 * 39 / 2)
    rows.foreach { case (_, _, j, c, td, ed, agree) =>
      assert(j >= 0.0 && j <= 1.0 && c >= -1.0 && c <= 1.0)
      assert(td === (j >= 0.8) && ed === (c >= 0.15))
      assert(agree === (td == ed))
    }
    assert(rows.exists(_._5) && rows.exists(_._6),
      "both modalities should flag some pairs at their p90 operating points")
    assert(rows.exists(!_._7), "disagreement pockets are the point of the audit")
  }
}
