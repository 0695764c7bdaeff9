package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Bit-exact aggregation recipe shared by every oracle-checked operator.
  *
  * The driver hash-compares our parquet output against DuckDB running the
  * same SQL. Floating-point SUM/AVG/STDDEV are order-dependent, so instead:
  *
  *  1. per-row arithmetic stays in DOUBLE — identical IEEE-754 ops on
  *     identical inputs give bitwise-identical results in any engine;
  *  2. aggregation inputs are cast to an exact DECIMAL (order-independent,
  *     overflow-safe at 100 TB row counts: DECIMAL(38,6) holds 1e32);
  *  3. the exact decimal aggregate is cast back to DOUBLE (deterministic
  *     nearest-double), and any derived stat (mean, stddev, corr) is then a
  *     fixed IEEE expression over those doubles, written with the same
  *     shape on both sides.
  *
  * This also makes every aggregate partial-aggregable (map-side combine),
  * which is exactly what a 1000-executor shuffle needs.
  */
object Exact {
  /** Exact decimal image of a double column; 6 fractional digits. */
  def d6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Wider variant for per-row products (price*price ~ 1e10). */
  def d6w(c: Column): Column = c.cast(DecimalType(38, 6))

  /** High-scale variant for small magnitudes (discounts, cosines). */
  def d12(c: Column): Column = c.cast(DecimalType(38, 12))

  /** Order-independent SUM(double) rendered back to double. */
  def sumd(c: Column): Column = sum(d6(c)).cast("double")

  /** Integer-grid image of a double for LONG-based summation: the data's
    * values are fixed-point (≤3 decimals), so round(x·grid) is exact.
    * Long partial sums run in whole-stage codegen at primitive-add speed —
    * measured ~2.7× faster than decimal accumulation.
    *
    * Overflow bound (ANSI mode throws on int64 overflow, so this is a
    * correctness constraint, not a style note): level-1 long sums are
    * SCAN-SIDE partial aggregates — they accumulate over one input split,
    * which Spark caps at `spark.sql.files.maxPartitionBytes` (128 MiB
    * default), i.e. ≤ ~1.6e7 rows of 8-byte values and far fewer for real
    * row widths. With |qzl| ≤ 1e11 (the widest grid image in this repo:
    * price ~1e5 × grid 1e6) a partial stays ≤ ~1.6e18 < 2^63−1. Level 2
    * merges partials in DECIMAL(38,0), unconditionally overflow-safe. If a
    * future caller feeds a pre-shuffled (not scan-split) frame with wider
    * values, use [[sumd]]'s decimal accumulator instead.
    *
    * Rounding is floor(x+0.5), NOT Spark's round(): Spark rounds doubles
    * through a per-row BigDecimal (shortest-string HALF_UP) — measured
    * ~8.6 s of q01's 11.9 s at sf100 for three images over 600M rows —
    * while Floor codegens to one primitive Math.floor and yields LONG
    * directly. Under this function's fixed-point precondition the image
    * double sits within ~grid·ulp of an integer, never near a .5
    * boundary, so floor(x+0.5), Spark round() and the oracle's ROUND()
    * agree exactly (for either sign: floor(n±ε+0.5)=n). A caller whose
    * fraction can approach .5 is outside the contract for round-identity
    * reasons anyway — Spark's decimal-string HALF_UP and DuckDB's binary
    * std::round already disagree there.
    */
  def qzl(c: Column, grid: Double): Column = floor(c * lit(grid) + lit(0.5))

  /** Merge a partial long-sum column exactly (decimal accumulator) and
    * rescale to double: CAST(SUM AS DOUBLE)/grid is one correctly-rounded
    * IEEE division of the exact integer total — identical to DuckDB's
    * `CAST(SUM(BIGINT) AS DOUBLE)/grid` (hugeint total, same integer).
    * Used as level 2 of the two-level grid sum: level 1 sums longs within
    * a partition (bounded rows ⇒ no overflow), level 2 merges the ≤
    * numPartitions·groups partials in DECIMAL(38,0) ⇒ overflow-safe at any
    * scale, unlike a flat sum(long).
    */
  def mergeGrid(partial: Column, grid: Double): Column =
    sum(partial.cast(DecimalType(38, 0))).cast("double") / lit(grid)

  def sqlSumg(e: String, grid: String): String =
    s"CAST(SUM(CAST(ROUND(($e) * $grid) AS BIGINT)) AS DOUBLE) / $grid"

  /** Exact integer DECIMAL(38,0) → double through an explicit 2^32
    * hi/lo split: hi and lo are each < 2^53 (exact casts), and
    * hi·2^32 + lo is the same two IEEE ops in any engine — so the
    * (twice-rounded) result is ENGINE-IDENTICAL. A direct cast is NOT
    * once the integer exceeds 2^53: the JVM's BigDecimal path rounds
    * the exact decimal string once (correct), while DuckDB's
    * hugeint→double converts the two 64-bit halves separately and can
    * land 1 ulp away (observed at Σz² ≈ 2.2e19, sf0.1, q90). Scaled
    * decimals (38,6/12) have the same trap internally (int128 cast
    * then ÷10^s) — route anything whose backing integer can reach
    * ~2^63 through scale-0 + this split. Valid for integers of
    * magnitude < 2^85, including NEGATIVE values: Spark decimal `%`
    * and DuckDB `%`/`//` all truncate toward zero (verified), so hi =
    * trunc(c/2^32) and lo carry the dividend's sign identically in
    * both engines (ExactSpec pins a negative round-trip).
    */
  def dec2d(c: Column): Column = {
    val L = lit(4294967296L)
    val lo = c % L
    ((c - lo) / L).cast("double") * lit(4294967296.0) + lo.cast("double")
    // (c - lo) is an exact multiple of 2^32, so the decimal division is
    // exact (zero fraction at the result scale); bound: backing integer
    // ≲ 1e24 keeps intDigits + resultScale within DECIMAL(38). Beyond
    // that, split twice.
  }

  /** Exact truncating integer division a ÷ n for a DECIMAL(38,0) `a`
    * and an integral `n`, computed entirely in decimal arithmetic — no
    * double ever enters the path. (Imaging the double quotient looked
    * equivalent and was not: Spark's double→decimal cast takes the
    * SHORTEST STRING while DuckDB's double→hugeint takes the exact
    * binary integer, and past ~1e17 those are different integers — the
    * q91 divergence the sf1 sweep caught.) a − a%n is an exact multiple
    * of n, so the decimal division has a zero fraction at any result
    * scale and the scale-0 recast is the identity. Uses `%` (truncation
    * toward zero, same as Spark decimal `%`, DuckDB `%` and HUGEINT
    * `//` — dec2d's verified semantics), so negative dividends agree
    * engine-for-engine; equals ⌊a/n⌋ for a ≥ 0. Valid for quotients
    * < 1e32 (Spark's division result lands at scale 6 under the
    * 38-precision cap). SQL twin: `(a // n)` on HUGEINT.
    */
  def floorDiv(a: Column, n: Column): Column =
    ((a - a % n) / n).cast(DecimalType(38, 0))

  /** lcm(1..25) — every count a centered ±12h hourly window can take
    * divides it, so L·(y − S/n) = L·y − (L div n)·S is an exact BIGINT
    * per row. The seasonal-decomposition grid (q72/q108/q110).
    */
  val seasonLcm: Long = 26771144400L

  def sqlDec2d(e: String): String =
    s"(CAST(($e) // 4294967296 AS DOUBLE) * CAST(4294967296 AS DOUBLE) + CAST(($e) % 4294967296 AS DOUBLE))"

  /** Two-level split — [[dec2d]]'s big sibling for integers whose
    * magnitude can pass 2^85 (quartic power sums, cubic rank moments):
    * c = hi·2^64 + mid·2^32 + lo with every part < 2^53 for |c| <
    * 2^117 ≈ 1.7e35, converted by THREE exact casts and four IEEE ops
    * replayed identically by [[sqlDec2d2]]. NOT interchangeable with
    * dec2d above 2^64 (a different rounding sequence lands differently
    * by a ulp) — switch both engine sides together. Same trunc
    * semantics as dec2d, so negatives carry through.
    */
  def dec2d2(c: Column): Column = {
    val L = lit(4294967296L)
    val lo = c % L
    val rest = (c - lo) / L
    val mid = rest % L
    val hi = (rest - mid) / L
    hi.cast("double") * lit(1.8446744073709552E19) +
      mid.cast("double") * lit(4294967296.0) + lo.cast("double")
  }

  def sqlDec2d2(e: String): String =
    s"(CAST((($e) // 4294967296) // 4294967296 AS DOUBLE) * CAST(18446744073709551616 AS DOUBLE)" +
      s" + CAST((($e) // 4294967296) % 4294967296 AS DOUBLE) * CAST(4294967296 AS DOUBLE)" +
      s" + CAST(($e) % 4294967296 AS DOUBLE))"

  /** Ditto for product-magnitude inputs. */
  def sumdw(c: Column): Column = sum(d6w(c)).cast("double")

  def sumd12(c: Column): Column = sum(d12(c)).cast("double")

  /** Input-parallelism guard: the testdata parquet has a single row group
    * per file, which caps scan (and therefore scan-side partial
    * aggregation) parallelism at 1 task no matter how the file is split.
    * When input partitions < cores, redistribute before heavy per-row
    * work.
    *
    * Apply ONLY before heavy per-row pipelines — explode/shingle/hash
    * stages where per-row work × rows dwarfs one extra full-data
    * shuffle. Partial-aggregable scans (grid sums, moments, rollups)
    * must NOT fan out: the serial columnar scan bounds them anyway, the
    * repartition is a pure extra shuffle of the fact table, and the
    * level-1 overflow bounds are stated against SCAN splits (≤
    * maxPartitionBytes) — measured at sf0.1, de-fanning q01 cut 1.22 s
    * → 0.75 s while dd_minhash (60× explode + hashing) keeps its win.
    * The check costs a physical-planning pass per invocation (toRdd
    * plans the subtree — cheaper than df.rdd's extra deserializer layer,
    * but not free); with splittable inputs the condition is never true.
    */
  def fanout(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (df.queryExecution.toRdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism)
    else df
  }

  /** [[fanout]] variant that redistributes BY KEY instead of round-robin:
    * when the query's next wide operator groups or joins on `keys`, the
    * parallelism shuffle then doubles as that operator's required
    * distribution (HashPartitioning on a subset of the grouping keys
    * satisfies its ClusteredDistribution), eliminating the second
    * exchange. Same gating as fanout — a no-op on splittable inputs.
    */
  def fanoutBy(df: org.apache.spark.sql.DataFrame,
      keys: Column*): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (df.queryExecution.toRdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism, keys: _*)
    else df
  }

  /** Fact-to-dimension join with a SIZE-GATED broadcast hint: the dim
    * side is broadcast only when Catalyst's size estimate (file-size
    * statistics — computed on the driver, no job) is under
    * `spark.graft.dim.broadcast.bytes` (default 512 MiB; accepts unit
    * suffixes like `256m`/`2g`); above it the hint is omitted and AQE
    * picks the strategy at runtime. The estimate is COMPRESSED on-disk
    * size — an in-memory HashedRelation is typically several times
    * larger, which is why the default leaves most of a 24 GiB driver
    * free rather than sitting next to the heap limit. nation/region are
    * fixed-size and always qualify; customer/part/supplier scale
    * linearly with SF — proven broadcastable through sf100
    * (135/146 MB compressed, still under the gate), but at a true
    * 100 TB an unconditional `broadcast()` OOMs instead of demoting,
    * so the hint must be a measurement, not an assumption
    * (DimJoinSpec pins both regimes on the physical plan).
    */
  def dimJoin(fact: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame, cond: Column,
      joinType: String = "inner"): org.apache.spark.sql.DataFrame = {
    val thresh = fact.sparkSession.conf
      .getOption("spark.graft.dim.broadcast.bytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(512L * 1024 * 1024)
    val est = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(thresh)) fact.join(broadcast(dim), cond, joinType)
    else fact.join(dim, cond, joinType)
  }

  /** Sorted distinct item sets per group key, in ONE shuffle:
    * collect_set dedupes (ok, pk) AND groups per order inside the same
    * exchange, where the older distinct-then-self-join shape shuffled
    * the fact table three times (distinct, join left, join right) and
    * OOM'd its pair aggregate at sf100 (r12). Output: (ok, basket)
    * with basket = sort_array(set of pk).
    */
  def orderBaskets(items: org.apache.spark.sql.DataFrame,
      ok: Column, pk: Column): org.apache.spark.sql.DataFrame =
    items.select(ok.as("ok"), pk.as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("basket"))

  /** Distinct co-occurrence pair counts from [[orderBaskets]] output:
    * all C(b,2) in-basket pairs come from a codegen transform/slice
    * expression (baskets are order-line bounded — ~4-7 items — so pair
    * fanout is linear in orders, never |items|²), then ONE shuffle on
    * (pk_a, pk_b) at a widened partition count (conf
    * `spark.graft.pair.partitions`, default 8 × shuffle.partitions):
    * the pair keyspace is near-unique, so map-side combine buys
    * nothing and the fix for the r12 OOM is smaller final hash tables,
    * not partial aggregation. sort_array upstream guarantees
    * pk_a < pk_b. Output: (pk_a, pk_b, n_ab).
    */
  def basketPairCounts(baskets: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bk = col("basket")
    val pairs = flatten(transform(bk, (x, i) =>
      transform(slice(bk, i + lit(2), size(bk) - i - lit(1)),
        y => struct(x.as("pk_a"), y.as("pk_b")))))
    val pairParts = baskets.sparkSession.conf
      .getOption("spark.graft.pair.partitions").map(_.toInt)
      .getOrElse(8 * baskets.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "200").toInt)
    baskets.select(explode(pairs).as("p"))
      .select(col("p.pk_a").as("pk_a"), col("p.pk_b").as("pk_b"))
      .repartition(pairParts, col("pk_a"), col("pk_b"))
      .groupBy(col("pk_a"), col("pk_b"))
      .agg(count(lit(1)).as("n_ab"))
  }

  /** Lineage-truncation / materialization point for iterative and
    * multi-branch plans. On local[32] this is `localCheckpoint` (blocks
    * on executors — fast, no HDFS round-trip). That is NOT
    * executor-loss-safe: localCheckpoint truncates lineage, so on a
    * real cluster losing one executor (preemption is routine at 100 TB)
    * fails the job unrecoverably mid-iteration. When
    * `spark.graft.checkpoint.dir` (conf) or `SPARK_GRAFT_CHECKPOINT_DIR`
    * (env) names a reliable store (HDFS/S3), every site routes through
    * reliable `checkpoint()` instead — recomputable from durable storage
    * after executor loss. Both modes produce identical results
    * (CheckpointModeSpec pins connectedComponents + pagerank).
    *
    * Retention: reliable checkpoints persist for the SparkContext
    * lifetime by default, and the iterative operators (pagerank ×15,
    * connectedComponents, kcore) write one dataset copy per
    * materialization point. On long cluster runs set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
    * context-construction conf — it cannot be flipped here at call
    * time) so out-of-scope checkpoint data is GC-reclaimed, or size
    * the durable store for iterations × dataset copies.
    */
  def checkpoint(df: org.apache.spark.sql.DataFrame,
      eager: Boolean = true): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    // `spark.graft.checkpoint.disable=true` makes every materialization
    // point a no-op (full lineage, no build-time work). NOT for
    // production runs — fixpoint lineage would explode — it exists so
    // PlanAuditSpec's build-laziness audit can separate DESIGNED
    // checkpoint jobs (which under AQE run even for a lazy checkpoint:
    // plan.execute() materializes shuffle stages) from accidental eager
    // driver actions in a builder.
    if (spark.conf.getOption("spark.graft.checkpoint.disable")
        .exists(_.toBoolean)) return df
    // `spark.graft.checkpoint.eager=false` demotes every materialization
    // point to a LAZY checkpoint (same lineage truncation + one-shot
    // reuse, but computed under the first action instead of at build
    // time — caveat: AQE still runs the plan's shuffle stages).
    val eagerMode = eager &&
      spark.conf.getOption("spark.graft.checkpoint.eager").forall(_.toBoolean)
    val dir = spark.conf.getOption("spark.graft.checkpoint.dir")
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")).filter(_.nonEmpty)
    dir match {
      case Some(d) =>
        val sc = spark.sparkContext
        // setCheckpointDir appends a UUID subdir, so compare the
        // configured root against the CURRENT dir's parent — exact
        // path equality, not a string prefix (a prefix check treats
        // sibling roots like /x/ckpt vs /x/ckpt2 as equal and a
        // mid-session root change would silently not take effect).
        // Spark stores the dir filesystem-QUALIFIED (file:/x/ckpt/uuid),
        // so qualify the configured root the same way before comparing —
        // an unqualified root would otherwise never match and re-invoke
        // setCheckpointDir (a fresh UUID mkdir) on every call.
        val hconf = sc.hadoopConfiguration
        val wantPath = new org.apache.hadoop.fs.Path(d)
        val want = wantPath.getFileSystem(hconf).makeQualified(wantPath).toString
        val cur = sc.getCheckpointDir.map { p =>
          val parent = new org.apache.hadoop.fs.Path(p).getParent
          if (parent == null) ""
          else parent.getFileSystem(hconf).makeQualified(parent).toString
        }
        if (!cur.contains(want)) sc.setCheckpointDir(d)
        df.checkpoint(eagerMode)
      case None => df.localCheckpoint(eagerMode)
    }
  }

  /** Chained-call syntax for [[checkpoint]] so operator pipelines read
    * like the `.localCheckpoint` they replace.
    */
  implicit class GraftCheckpoint(private val df: org.apache.spark.sql.DataFrame)
      extends AnyVal {
    def graftCheckpoint(eager: Boolean = true): org.apache.spark.sql.DataFrame =
      Exact.checkpoint(df, eager)
  }

  /** Chained-call syntax for [[dimJoin]] so it drops in where
    * `.join(broadcast(dim), cond)` used to sit.
    */
  implicit class GraftDimJoin(private val fact: org.apache.spark.sql.DataFrame)
      extends AnyVal {
    def dimJoin(dim: org.apache.spark.sql.DataFrame, cond: Column,
        joinType: String = "inner"): org.apache.spark.sql.DataFrame =
      Exact.dimJoin(fact, dim, cond, joinType)
  }

  // ---- SQL fragments (DuckDB side of the same recipe) ----
  def sqlSumd(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,6))) AS DOUBLE)"
  def sqlSumdw(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(38,6))) AS DOUBLE)"
  def sqlSumd12(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(38,12))) AS DOUBLE)"
}
