package graft

import graft.ml.MlC
import org.apache.spark.sql.functions._

/** Ground truth for the rows-only ML operators added in round 2: the
  * driver can't oracle model-dependent outputs, so these specs pin
  * determinism, internal consistency, and reconciliation against the
  * ml_logreg dump.
  */
class MlSpec extends SparkSpec {

  test("ml_report counts reconcile with the ml_logreg prediction dump") {
    val pred = SparkEntry.queries("ml_logreg")(spark, sf)
    val rep = SparkEntry.queries("ml_report")(spark, sf).head
    val n = pred.count()
    val tp = pred.filter(col("label") === 1.0 && col("prediction") === 1.0).count()
    val tn = pred.filter(col("label") === 0.0 && col("prediction") === 0.0).count()
    assert(rep.getAs[Long]("n") === n)
    assert(rep.getAs[Long]("tp") === tp)
    assert(rep.getAs[Long]("tn") === tn)
    assert(rep.getAs[Long]("tp") + rep.getAs[Long]("fp") +
      rep.getAs[Long]("fn") + rep.getAs[Long]("tn") === n)
    assert(rep.getAs[Double]("accuracy") === (tp + tn).toDouble / n)
    // the reference's roc_auc_score-on-binarized-predictions quirk
    assert(rep.getAs[Double]("roc_auc") ===
      (rep.getAs[Double]("recall_1") + rep.getAs[Double]("recall_0")) / 2.0)
  }

  /** ml_logreg as it was built before the fit frame: a Pipeline of the
    * assembler and the model, fit on the lazy feature plan. Kept here as
    * the reference the materialized fit frame must reproduce bit for bit.
    */
  private def pipelineLogreg(): org.apache.spark.sql.DataFrame = {
    val f = MlC.customerFeatures(spark, sf)
    val bucket = (col("c_custkey") % lit(1000000007L)) * lit(654435747L) %
      lit(1000000007L) % 1000
    val asm = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("nation", "n_orders", "total_spend", "avg_spend",
        "seg_AUTOMOBILE", "seg_BUILDING", "seg_FURNITURE", "seg_HOUSEHOLD",
        "seg_MACHINERY")).setOutputCol("features")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(20).setRegParam(0.01)
    new org.apache.spark.ml.Pipeline().setStages(Array(asm, lr))
      .fit(f.filter(bucket < 800)).transform(f.filter(bucket >= 800))
      .select(col("c_custkey"), col("label"), col("prediction"),
        org.apache.spark.ml.functions.vector_to_array(col("probability"))
          .getItem(1).as("prob_1"))
  }

  /** Rows keyed and sorted by c_custkey, every double as its raw bits. */
  private def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).sortBy(_._1)

  test("fit frame: logreg predictions bit-identical to the lazy Pipeline fit on any shape") {
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(key => key -> conf.getOption(key))
    try {
      for (parts <- Seq(1, 4, 8); aqe <- Seq("true", "false")) {
        conf.set("spark.sql.shuffle.partitions", parts.toString)
        conf.set("spark.sql.adaptive.enabled", aqe)
        val got = bits(MlC.logregPredictions(spark, sf))
        assert(got.nonEmpty)
        assert(got === bits(pipelineLogreg()), s"shuffle partitions $parts, AQE $aqe")
      }
    } finally saved.foreach {
      case (key, Some(v)) => conf.set(key, v)
      case (key, None) => conf.unset(key)
    }
  }

  test("fit frame: one logreg build and its action run the feature plan's shuffles once") {
    import org.apache.spark.scheduler._
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerEnded = new java.util.concurrent.LinkedBlockingQueue[String]()
    val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        // a shuffle map stage: its tasks wrote shuffle output
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("fit-frame-marker")).foreach(markerJobs.put(e.jobId, _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(markerJobs.get(e.jobId)).foreach(markerEnded.put)
    }
    // listeners see events in order: once a marker job's end arrives,
    // every stage of the body before it has been counted
    def shufflesOf(tag: String)(body: => Unit): Int = {
      shuffleStages.set(0)
      body
      val sc = spark.sparkContext
      sc.setJobGroup(s"fit-frame-marker-$tag", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerEnded.poll(60, java.util.concurrent.TimeUnit.SECONDS) ===
        s"fit-frame-marker-$tag")
      shuffleStages.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val once = shufflesOf("features") {
        MlC.customerFeatures(spark, sf).write.format("noop").mode("overwrite").save()
      }
      assert(once > 0, "the feature plan should shuffle")
      val logreg = shufflesOf("logreg") {
        MlC.logregPredictions(spark, sf).write.format("noop").mode("overwrite").save()
      }
      assert(logreg === once, s"logreg ran $logreg shuffle stages, the feature plan $once")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("PCA components are orthonormal, variance-ordered, deterministic") {
    def run() = SparkEntry.queries("ml_pca")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
    val a = run()
    val comps = a.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    // unit norm and pairwise orthogonality (sign-normalized loadings)
    for (c <- comps.keys) {
      val n = math.sqrt(comps(c).map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-6, s"component $c norm $n")
    }
    for (i <- comps.keys; j <- comps.keys if i < j) {
      val dot = comps(i).zip(comps(j)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot) < 1e-6, s"components $i,$j dot $dot")
    }
    val vars = a.groupBy(_._1).view.mapValues(_.head._4).toMap
    assert(vars(0L) >= vars(1L) && vars(1L) >= vars(2L))
    assert(run() === a, "PCA dump must be run-to-run deterministic")
  }

  test("threshold sweep is a valid ROC surface and anchors at its extremes") {
    val rows = SparkEntry.queries("ml_threshold_sweep")(spark, sf)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(6), r.getDouble(7)))
    assert(rows.length === 21)
    val nPos = rows.head._2 + rows.head._4 // tp + fn is constant
    assert(rows.forall(r => r._2 + r._4 === nPos))
    // thr = 0 classifies everything positive
    assert(rows.head._2 === nPos && rows.head._5 === 0L)
    // recall and fpr are non-increasing in the threshold
    val recalls = rows.map(_._6)
    val fprs = rows.map(_._7)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b <= a })
    assert(fprs.zip(fprs.tail).forall { case (a, b) => b <= a })
  }

  test("seeded k-means segmentation is deterministic and partitions the corpus") {
    def run() = SparkEntry.queries("ml_kmeans")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val a = run()
    val byCluster = a.groupBy(_._1)
    assert(byCluster.size === 4)
    val n = Tables.customer(spark, sf).count()
    assert(byCluster.values.map(_.head._2).sum === n,
      "cluster sizes must partition the customers")
    // long form: every cluster reports the same full coordinate vector
    val dims = byCluster.values.map(_.map(_._3).sorted).toSeq
    assert(dims.forall(_ === dims.head))
    assert(dims.head === dims.head.indices.toSeq)
    assert(run() === a, "seeded fit must be run-to-run deterministic")
  }

  test("GBT feature importances form a simplex and are deterministic") {
    def run() = SparkEntry.queries("ml_feature_importance")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val a = run()
    assert(a.map(_._1) === a.map(_._1).sorted)
    assert(a.forall(_._2 >= 0.0))
    assert(math.abs(a.map(_._2).sum - 1.0) < 1e-9,
      s"importances must be the normalized split-gain simplex: $a")
    assert(run() === a, "seeded training must be run-to-run deterministic")
  }

  test("ml_search reports every trial deterministically under the fixed seed") {
    val a = SparkEntry.queries("ml_search")(spark, sf).collect()
    assert(a.length === 10)
    // 6 seeded logreg draws + 4 gbt depths, params within their ranges
    val lrRows = a.filter(_.getAs[String]("model") == "logreg")
    assert(lrRows.length === 6)
    assert(lrRows.forall { r =>
      val reg = r.getAs[Double]("reg_param")
      reg >= 1e-4 && reg <= 1.0
    })
    assert(a.filter(_.getAs[String]("model") == "gbt")
      .map(_.getAs[Long]("max_depth")).sorted.toSeq === Seq(2L, 3L, 4L, 5L))
    // ranks are a permutation of 1..10; completed trials rank before
    // pruned ones, each section ordered by its score
    val byRank = a.sortBy(_.getAs[Long]("rank"))
    assert(byRank.map(_.getAs[Long]("rank")).toSeq === (1L to 10L))
    val (completed, pruned) = byRank.partition(!_.getAs[Boolean]("pruned"))
    assert(completed.map(_.getAs[Long]("rank")).toSeq ===
      (1L to completed.length.toLong), "completed trials must rank first")
    def descending(rs: Array[org.apache.spark.sql.Row]): Boolean = {
      val aucs = rs.map(_.getAs[Double]("mean_auc"))
      aucs.zip(aucs.tail).forall { case (x, y) => x >= y }
    }
    assert(descending(completed) && descending(pruned))
    // determinism: a second run draws the same params and scores
    val b = SparkEntry.queries("ml_search")(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("median pruning keeps the top trial with strictly fewer fits") {
    val (full, fullFits) = MlC.searchTrials(spark, sf, prune = false)
    val (prunedRows, prunedFits) = MlC.searchTrials(spark, sf, prune = true)
    assert(fullFits === 30, "full search fits 10 trials x 3 folds")
    assert(prunedFits < fullFits, "pruning must skip some fold fits")
    assert(prunedRows.count(_._7) === (fullFits - prunedFits) / 2,
      "each pruned trial saves exactly its folds 1-2")
    // the winning trial survives pruning (the MedianPruner contract the
    // reference relies on: below-median fold-0 trials can't win)
    val topFull = full.maxBy(r => (r._6, -r._1))._1
    val topPruned = prunedRows.filter(!_._7).maxBy(r => (r._6, -r._1))._1
    assert(topPruned === topFull)
    // completed trials score identically in both runs (pruning never
    // perturbs surviving trials)
    val fullById = full.map(r => r._1 -> r._6).toMap
    prunedRows.filter(!_._7).foreach(r => assert(r._6 === fullById(r._1)))
  }

  test("ml_search_adaptive: halving shape, per-rung selection monotone, deterministic") {
    val a = MlC.adaptiveSearchRows(spark, sf)
    // rung shape: 10 trials -> top 5 -> top 3 on doubled budgets
    val byRung = a.groupBy(_._6)
    assert(byRung(0L).size === 10 && byRung(1L).size === 5 && byRung(2L).size === 3)
    assert(byRung(0L).forall(_._7 === 0.25) && byRung(1L).forall(_._7 === 0.5) &&
      byRung(2L).forall(_._7 === 1.0))
    // nested survival: each rung's trials are exactly the prior rung's
    // survivors
    assert(byRung(1L).map(_._1).toSet === byRung(0L).filter(_._9).map(_._1).toSet)
    assert(byRung(2L).map(_._1).toSet === byRung(1L).filter(_._9).map(_._1).toSet)
    // per-rung selection monotonicity: every survivor's rung score >=
    // every eliminated trial's score at that rung
    Seq(0L, 1L).foreach { r =>
      val (kept, dropped) = byRung(r).partition(_._9)
      assert(kept.map(_._8).min >= dropped.map(_._8).max,
        s"rung $r promoted a trial below an eliminated one")
    }
    // scores are genuine AUCs
    a.foreach(row => assert(row._8 >= 0.0 && row._8 <= 1.0))
    // deterministic: the schedule has no RNG, fits are seeded
    val b = MlC.adaptiveSearchRows(spark, sf)
    assert(a === b, "adaptive search not deterministic")
  }

  test("ml_adaboost: weak-learnability bound, margin consistency, deterministic") {
    val (train, test) = {
      val f = MlC.customerFeatures(spark, sf)
      val bucket = (col("c_custkey") % lit(1000000007L)) * lit(654435747L) %
        lit(1000000007L) % 1000
      (f.filter(bucket < 800), f.filter(bucket >= 800))
    }
    val asm = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("nation", "n_orders", "total_spend", "avg_spend",
        "seg_AUTOMOBILE", "seg_BUILDING", "seg_FURNITURE", "seg_HOUSEHOLD",
        "seg_MACHINERY")).setOutputCol("features")
    val (preds, audit) = MlC.adaboostFit(asm.transform(train), asm.transform(test),
      rounds = 8, seed = 42L)
    // a depth-1 stump predicts at worst the weighted-majority class, so
    // every round's weighted error is <= 1/2 (the boosting precondition)
    audit.foreach { case (err, alpha) =>
      assert(err <= 0.5 + 1e-12, s"weighted error $err breaks weak learnability")
      assert(alpha >= -1e-12, s"alpha $alpha must be non-negative")
    }
    val rows = preds.select("label", "margin", "prediction").collect()
    assert(rows.nonEmpty)
    // prediction is exactly the margin sign
    rows.foreach { r =>
      assert(r.getDouble(2) === (if (r.getDouble(1) > 0.0) 1.0 else 0.0))
    }
    // the registered query is deterministic
    val a = SparkEntry.queries("ml_adaboost")(spark, sf).collect().map(_.toSeq)
    val b = SparkEntry.queries("ml_adaboost")(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq, "adaboost not deterministic")
  }

  test("ml_impute_eval scores the masked hold-out consistently and above chance") {
    val r = SparkEntry.queries("ml_impute_eval")(spark, sf).head
    val nEval = r.getAs[Long]("n_eval")
    val nCorrect = r.getAs[Long]("n_correct")
    val f1 = r.getAs[Double]("micro_f1")
    assert(nEval > 0)
    assert(f1 === nCorrect.toDouble / nEval)
    // 5 roughly-balanced segments: anything at or above ~chance passes;
    // this is a floor against regressions, not a model-quality claim
    assert(f1 >= 0.10, f"micro_f1 $f1%.3f below floor")
    // the hold-out slice is exactly the custkey%10==5 customers
    val expected = MlC.customerFeatures(spark, sf)
      .filter(col("c_custkey") % 10 === 5).count()
    assert(nEval === expected)
  }

  test("ml_calibration bins partition the hold-out with bounded rates") {
    val out = SparkEntry.queries("ml_calibration")(spark, sf).collect()
    val holdout = MlC.logregPredictions(spark, sf).count()
    assert(out.map(_.getLong(1)).sum === holdout, "bins must partition the hold-out")
    out.foreach { r =>
      val (bin, n, nPos, meanPred, posRate) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(nPos <= n)
      assert(posRate >= 0.0 && posRate <= 1.0)
      assert(meanPred >= bin / 10.0 - 1e-9, s"bin $bin mean_pred $meanPred below range")
      if (bin < 9) assert(meanPred < (bin + 1) / 10.0 + 1e-9)
    }
    // seeded fit: the dump is run-to-run deterministic
    val again = SparkEntry.queries("ml_calibration")(spark, sf).collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("ml_lift: capture is monotone to 1.0 and the full-population lift is 1") {
    val out = SparkEntry.queries("ml_lift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty && out.length <= 10)
    val holdout = MlC.logregPredictions(spark, sf).count()
    assert(out.map(_._2).sum === holdout, "deciles must partition the hold-out")
    val captures = out.map(_._4)
    assert(captures.zip(captures.tail).forall { case (a, b) => b >= a },
      "cumulative capture must be non-decreasing")
    assert(math.abs(captures.last - 1.0) < 1e-12, "all positives captured at decile 10")
    assert(math.abs(out.last._5 - 1.0) < 1e-12, "full-population lift is 1 by definition")
    // decile 1 holds the top scores: its positive rate should not be the
    // worst in the table (weak sanity on the model's ranking signal)
    val rates = out.map(t => t._3.toDouble / t._2)
    assert(rates.head >= rates.min)
  }

  test("ml_slice_metrics reconciles with the hold-out totals") {
    val out = SparkEntry.queries("ml_slice_metrics")(spark, sf).collect()
    val preds = MlC.logregPredictions(spark, sf)
    assert(out.map(_.getLong(1)).sum === preds.count(), "slices must partition the hold-out")
    val correct = preds.filter(col("label") === col("prediction")).count()
    val sliceCorrect = out.map(r => math.round(r.getDouble(3) * r.getLong(1))).sum
    assert(sliceCorrect === correct, "per-slice accuracy must reconcile globally")
    out.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      if (!r.isNullAt(4)) assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      if (!r.isNullAt(5)) assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("ml_psi: non-negative, stable under the same-population hash split") {
    // PSI needs enough test rows for the null noise E[PSI] ~
    // (B-1)(1/n_train + 1/n_test) to be small — sf0.001's ~30-row test
    // split reads as pure sampling noise, so this spec runs at sf0.01
    // (no model fit involved; the op is two binning passes)
    val sf01 = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("ml_psi")(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(out.map(_._1).toSeq === Seq("avg_spend", "n_orders", "total_spend"))
    val total = MlC.customerFeatures(spark, sf01).count()
    val ne = MlC.logregPredictions(spark, sf01).count()
    val noise = 9.0 * (1.0 / (total - ne).toDouble + 1.0 / ne.toDouble)
    out.foreach { case (f, psi) =>
      assert(psi >= 0.0, s"$f psi must be non-negative")
      assert(psi < math.max(0.25, 5.0 * noise),
        f"$f psi $psi%.4f vs null-noise level $noise%.4f: should read as stable")
    }
    val again = SparkEntry.queries("ml_psi")(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(again.toSeq === out.toSeq, "psi must be deterministic")
  }

  test("ml_auc equals the naive average-tie Mann-Whitney rank AUC") {
    val r = SparkEntry.queries("ml_auc")(spark, sf).head()
    val (nPos, nNeg, auc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(auc >= 0.0 && auc <= 1.0)
    // naive local recomputation with average-tie ranks
    val scored = MlC.logregPredictions(spark, sf)
      .select("prob_1", "label").collect()
      .map(row => (row.getDouble(0), row.getDouble(1)))
    val sorted = scored.sortBy(_._1)
    val ranks = scala.collection.mutable.Map[Double, Double]()
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      ranks(sorted(i)._1) = (i + 1 + j) / 2.0 // average of ranks i+1..j
      i = j
    }
    val np = scored.count(_._2 == 1.0)
    val nn = scored.length - np
    assert(nPos === np && nNeg === nn)
    val u = scored.filter(_._2 == 1.0).map(t => ranks(t._1)).sum - np.toDouble * (np + 1) / 2.0
    assert(math.abs(auc - u / (np.toDouble * nn.toDouble)) < 1e-12,
      "distributed rank AUC must equal the naive computation")
    // no model-quality claim here: the sf0.001 hold-out is ~30 rows and
    // its AUC is sampling noise — correctness of the statistic is the
    // contract (the reconciliation above), model floors live elsewhere
  }

  test("permutation importance: one row per feature, deterministic, base shared") {
    val out = SparkEntry.queries("ml_permutation_importance")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length === 9)
    assert(out.map(_._1).toSeq === out.map(_._1).sorted.toSeq)
    // every row reports the same base AUC and drop = base - permuted
    assert(out.map(_._2).distinct.length === 1)
    out.foreach { case (_, b, p, drop) => assert(math.abs(drop - (b - p)) < 1e-15) }
    val again = SparkEntry.queries("ml_permutation_importance")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(again.toSeq === out.toSeq, "hash permutation must be deterministic")
  }

  test("ols exact: closed-form betas reconcile with MLlib's normal solver") {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.LinearRegression
    val got = SparkEntry.queries("ml_ols_exact")(spark, sf).head()
    val l = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_discount"), col("l_tax"),
        col("l_extendedprice").as("y"))
    val asm = new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_discount", "l_tax"))
      .setOutputCol("features")
    val lr = new LinearRegression().setSolver("normal").setRegParam(0.0)
      .setLabelCol("y").setFeaturesCol("features")
    val m = lr.fit(asm.transform(l))
    // the operator quantizes to the 1e-3/cent grid; MLlib fits the raw
    // doubles — agreement is to grid resolution, not machine epsilon
    val want = Array(m.intercept) ++ m.coefficients.toArray
    val gotB = Array(got.getDouble(1), got.getDouble(2), got.getDouble(3), got.getDouble(4))
    want.zip(gotB).zipWithIndex.foreach { case ((w, g), i) =>
      assert(math.abs(w - g) <= 1e-4 * math.max(1.0, math.abs(w)),
        s"beta[$i]: mllib $w vs exact $g")
    }
    assert(math.abs(m.summary.r2 - got.getDouble(5)) < 1e-6,
      s"r2 ${m.summary.r2} vs ${got.getDouble(5)}")
    assert(got.getLong(0) === l.count())
  }

  test("naive bayes: confusion partitions the hold-out, deterministic") {
    val out = SparkEntry.queries("ml_naive_bayes")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    assert(out.map(_._3).sum > 0)
    out.foreach { case (l, p, _) =>
      assert(Set(0.0, 1.0)(l) && Set(0.0, 1.0)(p))
    }
    val again = SparkEntry.queries("ml_naive_bayes")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    assert(again.toSeq === out.toSeq, "gaussian NB fit must be deterministic")
  }

  test("ensemble vote: the vote rule holds row-by-row on the hold-out") {
    val rows = SparkEntry.queries("ml_ensemble_vote")(spark, sf).collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (lr, gbt, vote, pred) =>
      assert(math.abs(vote - (lr + gbt) / 2.0) < 1e-15)
      assert(pred === (if (vote >= 0.5) 1.0 else 0.0))
      assert(lr >= 0.0 && lr <= 1.0 && gbt >= 0.0 && gbt <= 1.0)
    }
  }

  test("isotonic calibration: knots are monotone in score and probability") {
    val knots = SparkEntry.queries("ml_isotonic_calibration")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(knots.nonEmpty)
    knots.foreach { case (b, p) =>
      assert(b >= 0.0 && b <= 1.0, s"boundary $b")
      assert(p >= 0.0 && p <= 1.0, s"calibrated $p")
    }
    knots.zip(knots.tail).foreach { case ((b1, p1), (b2, p2)) =>
      assert(b1 <= b2, "boundaries must ascend")
      assert(p1 <= p2, "PAV output must be non-decreasing")
    }
  }
  test("ml_learning_curve: nested deterministic fractions, sane AUC readout") {
    val a = SparkEntry.queries("ml_learning_curve")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
    val b = SparkEntry.queries("ml_learning_curve")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
    def key(t: (Double, Long, Double)) = (t._1, t._2, java.lang.Double.doubleToLongBits(t._3))
    assert(a.map(key).sameElements(b.map(key)), "learning curve must be deterministic")
    assert(a.map(_._1).toSeq === Seq(0.2, 0.4, 0.6, 0.8, 1.0))
    // Z-mod-p prefix gates nest: strictly more rows at each fraction
    assert(a.map(_._2).toSeq === a.map(_._2).sorted.toSeq)
    assert(a.map(_._2).distinct.length === a.length, "fractions must add rows")
    a.foreach { case (_, n, auc) =>
      assert(n > 0)
      assert(auc.isNaN || (auc >= 0.0 && auc <= 1.0))
    }
    // the full-train point must always be a real AUC
    assert(!a.last._3.isNaN)
  }
  test("ml_cost_threshold: reconciles with the sweep, flags the exact argmin") {
    val sweep = SparkEntry.queries("ml_threshold_sweep")(spark, sf).collect()
      .map(r => r.getDouble(0) -> (r.getLong(2), r.getLong(3))).toMap
    val rows = SparkEntry.queries("ml_cost_threshold")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(5)))
    assert(rows.length === 21)
    rows.foreach { case (thr, fp, fn, cost, _) =>
      assert((fp, fn) === sweep(thr), s"confusion at thr=$thr")
      assert(cost === fp + 5 * fn)
    }
    val optimal = rows.filter(_._5)
    assert(optimal.length === 1, "exactly one operating point")
    val minCost = rows.map(_._4).min
    assert(optimal.head._4 === minCost)
    assert(optimal.head._1 === rows.filter(_._4 == minCost).map(_._1).min,
      "smallest-threshold tiebreak")
  }
  test("ml_brier: Murphy decomposition reconciles with a local recompute") {
    val r = SparkEntry.queries("ml_brier")(spark, sf).head()
    val (n, brier, rel, res, unc) = (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val preds = graft.ml.MlC.logregPredictions(spark, sf)
      .select("prob_1", "label").collect()
      .map(x => (x.getDouble(0), x.getDouble(1)))
    assert(n === preds.length.toLong)
    val want = preds.map { case (p, y) => (p - y) * (p - y) }.sum / preds.length
    assert(math.abs(brier - want) < 1e-12)
    val yBar = preds.map(_._2).sum / preds.length
    assert(math.abs(unc - yBar * (1.0 - yBar)) < 1e-12)
    assert(rel >= 0.0 && res >= 0.0 && brier >= 0.0 && brier <= 1.0)
    // the BINNED identity: scoring with bin-mean predictions gives
    // exactly REL - RES + UNC
    val bins = preds.groupBy { case (p, _) => math.min((p * 10.0).toInt, 9) }
    val bsStar = bins.values.map { v =>
      val pb = v.map(_._1).sum / v.size
      v.map { case (_, y) => (pb - y) * (pb - y) }.sum
    }.sum / preds.length
    assert(math.abs(bsStar - (rel - res + unc)) < 1e-9,
      s"binned identity: $bsStar vs ${rel - res + unc}")
  }
  test("ml_ks_separation: equals the sweep's max TPR-FPR with its threshold") {
    val sweep = SparkEntry.queries("ml_threshold_sweep")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getDouble(6), r.getDouble(7))) // thr, recall=TPR, fpr
    val best = sweep.map { case (t, tpr, fpr) => (t, tpr - fpr) }
      .sortBy { case (t, sep) => (-sep, t) }.head
    val r = SparkEntry.queries("ml_ks_separation")(spark, sf).head()
    assert(r.getDouble(0) === best._1, "argmax threshold")
    assert(math.abs(r.getDouble(1) - best._2) < 1e-12, "KS value")
    assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    assert(r.getLong(2) > 0 && r.getLong(3) > 0)
  }
  test("ml_error_by_decile: deciles cover the hold-out, rates reconcile") {
    val rows = SparkEntry.queries("ml_error_by_decile")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSet.subsetOf((1L to 10L).toSet))
    // total rows across deciles = the scored hold-out
    val totalN = rows.map(_._2).sum
    val preds = graft.ml.MlC.logregPredictions(spark, sf).count()
    assert(totalN === preds)
    rows.foreach { case (_, n, nPos, nErr, er, mae) =>
      assert(n > 0 && nPos >= 0 && nPos <= n && nErr >= 0 && nErr <= n)
      assert(er === nErr.toDouble / n.toDouble)
      assert(mae >= 0.0 && mae <= 1.0)
    }
  }

  test("ml_mutual_info: H(X)+H(Y)-H(X,Y) recompute matches, ranks order by MI") {
    val rows = SparkEntry.queries("ml_mutual_info")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    assert(rows.length === 9)
    // independent recompute through the ENTROPY identity (different
    // formulation than the operator's direct p*log(p/q) sum) from the
    // same exact count surface
    val surf = MlC.miSurface(spark, sf).groupBy(_._1)
    def ent(ws: Iterable[Long], n: Double): Double =
      -ws.map(_ / n).filter(_ > 0).toSeq.sorted.map(p => p * math.log(p)).sum
    rows.foreach { case (feat, mi, hx, hy, _) =>
      val cells = surf(feat)
      val n = cells.map(_._4).sum.toDouble
      val hxy = ent(cells.map(_._4), n)
      val hx2 = ent(cells.groupBy(_._2).map(_._2.map(_._4).sum), n)
      val hy2 = ent(cells.groupBy(_._3).map(_._2.map(_._4).sum), n)
      // the operator reports on the 1e-9 grid (oracle-check rounding),
      // so the unrounded recompute can sit up to 5e-10 away
      assert(math.abs(hx - hx2) < 1e-9, s"$feat H(X)")
      assert(math.abs(hy - hy2) < 1e-9, s"$feat H(Y)")
      assert(math.abs(mi - math.max(hx2 + hy2 - hxy, 0.0)) < 1e-9,
        s"$feat MI identity: $mi vs ${hx2 + hy2 - hxy}")
      assert(mi >= 0.0 && mi <= math.min(hx2, hy2) + 1e-9, s"$feat MI bounds")
    }
    // ranks are 1..9 and descend with MI
    assert(rows.map(_._5).sorted === (1L to 9L))
    val byRank = rows.sortBy(_._5).map(_._2)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, "rank order")
  }

  test("ml_model_panel: >= 6 families + dummy, deterministic, metrics in range") {
    val a = MlC.modelPanelRows(spark, sf)
    val names = a.map(_._1)
    assert(names.contains("dummy"))
    assert(names.size >= 11, s"family roster too thin: $names") // 7+knn+svc_rff+adaboost+2 dummies
    Seq("adaboost", "gbt", "knn", "linear_svc", "logreg", "mlp", "naive_bayes",
      "random_forest", "ridge", "svc_rff", "dummy_uniform").foreach(f =>
      assert(names.contains(f), s"missing family $f"))
    a.foreach { case (m, acc, f1, auc) =>
      assert(acc >= 0.0 && acc <= 1.0, s"$m accuracy")
      assert(f1 >= 0.0 && f1 <= 1.0, s"$m f1")
      assert(auc >= 0.0 && auc <= 1.0, s"$m auc")
    }
    // the constant dummy's binarized AUC is exactly 0.5
    assert(a.find(_._1 == "dummy").get._4 === 0.5)
    // the uniform dummy (the reference's actual modeling.py:22 baseline)
    // reports the CLOSED FORM of strategy="uniform": accuracy exactly
    // 1/2, AUC exactly 1/2, and fold-mean F1 = mean over folds of
    // 2·π_f·½/(π_f+½) where π_f is the fold's positive rate — reconcile
    // against an independent recompute of the fold label marginals
    val u = a.find(_._1 == "dummy_uniform").get
    assert(u._2 === 0.5 && u._4 === 0.5)
    val feats = MlC.customerFeatures(spark, sf)
      .withColumn("fold", pmod(xxhash64(col("c_custkey"), lit(42L)), lit(3L)))
      .groupBy("fold").agg(avg(col("label")).as("pi"))
      .collect().map(r => r.getDouble(1))
    assert(feats.length === 3)
    val wantF1 = feats.map(pi => 2.0 * pi * 0.5 / (pi + 0.5)).sum / 3.0
    assert(math.abs(u._3 - wantF1) < 1e-12, s"uniform F1 ${u._3} vs $wantF1")
    // seeded fits + hash folds: bit-identical on a re-run
    val b = MlC.modelPanelRows(spark, sf)
    assert(a === b, "panel not deterministic")
  }

  test("ml_attrib_tree: bias + sum(contrib) telescopes to the GBT margin") {
    val rows = SparkEntry.queries("ml_attrib_tree")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty && rows.length % 9 === 0)
    val byRow = rows.groupBy(_._1)
    byRow.foreach { case (k, cs) =>
      assert(cs.length === 9, s"row $k feature fan")
      val (bias, margin) = (cs.head._4, cs.head._5)
      assert(cs.forall(c => c._4 === bias && c._5 === margin))
      assert(math.abs(bias + cs.map(_._3).sum - margin) < 1e-9,
        s"row $k: Saabas telescope broken")
    }
    // margins match the rawPrediction of an identically-seeded refit
    val att = byRow.view.mapValues(_.head._5).toMap
    val (train, test) = {
      val df = MlC.customerFeatures(spark, sf)
      val bucket = (col("c_custkey") % lit(1000000007L)) * lit(654435747L) %
        lit(1000000007L) % 1000
      (df.filter(bucket < 800), df.filter(bucket >= 800))
    }
    val gbt = new org.apache.spark.ml.classification.GBTClassifier()
      .setMaxIter(5).setMaxDepth(3).setSeed(42L)
    val asm = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("nation", "n_orders", "total_spend", "avg_spend",
        "seg_AUTOMOBILE", "seg_BUILDING", "seg_FURNITURE", "seg_HOUSEHOLD",
        "seg_MACHINERY")).setOutputCol("features")
    val m = new org.apache.spark.ml.Pipeline().setStages(Array(asm, gbt)).fit(train)
    val raw = m.transform(test).select(col("c_custkey"),
        org.apache.spark.ml.functions.vector_to_array(col("rawPrediction"))
          .getItem(1).as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(raw.keySet === att.keySet)
    raw.foreach { case (k, v) =>
      assert(math.abs(v - att(k)) < 1e-9, s"row $k margin vs rawPrediction")
    }
  }

  test("ml_woe_iv: distributions are per-feature simplexes; WoE/IV reconcile") {
    val rows = SparkEntry.queries("ml_woe_iv")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val byFeat = rows.groupBy(_._1)
    assert(byFeat.keySet === Set("nation", "n_orders", "total_spend",
      "avg_spend", "seg_AUTOMOBILE", "seg_BUILDING", "seg_FURNITURE",
      "seg_HOUSEHOLD", "seg_MACHINERY"))
    byFeat.foreach { case (f, cs) =>
      // every customer lands in exactly one bin per feature
      assert(math.abs(cs.map(_._5).sum - 1.0) < 1e-12, s"$f dist_good simplex")
      assert(math.abs(cs.map(_._6).sum - 1.0) < 1e-12, s"$f dist_bad simplex")
      val totG = cs.map(_._3).sum
      val totB = cs.map(_._4).sum
      cs.foreach { case (_, _, ng, nb, dg, db, odds) =>
        assert(dg === ng.toDouble / totG && db === nb.toDouble / totB)
        // the emitted surface is ln-free; WoE is its log readout
        val woe = math.log(odds)
        val want = math.log(((ng + 0.5) / totG.toDouble) / ((nb + 0.5) / totB.toDouble))
        assert(math.abs(woe - want) < 1e-12, s"$f WoE")
      }
      // IV from the surface is finite and non-negative (smoothed odds > 0)
      val iv = cs.map { case (_, _, _, _, dg, db, odds) =>
        (dg - db) * math.log(odds)
      }.sum
      assert(!iv.isNaN && !iv.isInfinite, s"$f IV")
    }
  }

  test("ml_vif: planted collinearity explodes, independent columns stay near 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 4000).map { _ =>
      val x1 = rnd.nextDouble() * 10.0
      val x2 = rnd.nextDouble() * 5.0
      val x3 = 2.0 * x1 - 3.0 * x2 + rnd.nextGaussian() * 1e-4 // near-exact combo
      val x4 = rnd.nextDouble() // independent
      (x1, x2, x3, x4)
    }
    val df = rows.toDF("x1", "x2", "x3", "x4")
    val vif = MlC.vifRows(df, Seq("x1", "x2", "x3", "x4")).toMap
    assert(vif("x3") > 100.0, s"collinear x3 should explode: ${vif("x3")}")
    assert(vif("x4") < 2.0, s"independent x4 near 1: ${vif("x4")}")
    assert(vif.values.forall(v => v >= 1.0 - 1e-9), "VIF >= 1")
    // real feature frame: finite, >= 1, and deterministic
    val real = SparkEntry.queries("ml_vif")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(real.map(_._1).toSeq.sorted === MlC.vifCols.sorted)
    assert(real.forall { case (_, v) => v >= 1.0 - 1e-9 && !v.isInfinite })
    val again = SparkEntry.queries("ml_vif")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(real.toSeq === again.toSeq)
  }

  test("ml_mlp early stopping: selected round validation-optimal, patience respected, deterministic") {
    val (curve, preds) = MlC.mlpEarlyStopCurve(spark, sf)
    // round budgets are the fixed 5-iteration grid, at most 6 rounds
    assert(curve.nonEmpty && curve.size <= 6)
    assert(curve.map(_._1) === curve.indices.map(i => (i + 1) * 5L))
    // exactly one selected round, and it carries the max validation AUC
    // (ties break to the EARLIEST best round — restore_best_weights)
    val sel = curve.filter(_._3)
    assert(sel.size === 1, s"one selected round, got $curve")
    val bestAuc = curve.map(_._2).max
    assert(sel.head._2 === bestAuc)
    assert(curve.takeWhile(_._1 < sel.head._1).forall(_._2 < bestAuc),
      "selection must be the earliest best round")
    // patience=2: after the selected round, at most 2 non-improving
    // rounds were evaluated before stopping (unless the cap hit first)
    val after = curve.dropWhile(_._1 <= sel.head._1)
    assert(after.size <= 2, s"patience violated: $curve")
    if (curve.size < 6) assert(after.size === 2,
      "stopped early without exhausting patience")
    // the prediction surface is the driver contract: non-empty, and the
    // whole (curve, preds) pair is bit-deterministic on a re-run
    val rows = preds.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val (curve2, preds2) = MlC.mlpEarlyStopCurve(spark, sf)
    assert(curve === curve2, "training curve not deterministic")
    val rows2 = preds2.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq === rows2.toSeq, "predictions not deterministic")
  }
}
