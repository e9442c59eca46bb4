package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Round._

/** Function-coverage suites: pivot, percentiles, string / array / date
  * function families — each expressed once through the DataFrame API and
  * mirrored in the DuckDB oracle. Functions are restricted to those with
  * engine-identical semantics (e.g. initcap is absent in DuckDB;
  * dayofweek bases differ and are normalized; date_trunc's return TYPE
  * differs so date outputs are formatted strings).
  */
object ScalarSuites {

  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Pivot: order counts per year × priority, missing cells as 0
    * (Spark pivot yields null for empty cells; na.fill matches the
    * oracle's CASE-sum zeros).
    */
  def q43Pivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .pivot("o_orderpriority", Priorities)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_year")

  /** Interpolated percentiles (median / p90) of order value per market
    * segment — Spark's exact `percentile` and DuckDB's `quantile_cont`
    * share the standard p·(n−1) interpolation.
    */
  def q44Percentiles(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        r4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        r4(expr("percentile(o_totalprice, 0.9)")).as("p90"))
      .orderBy("c_mktsegment")
  }

  /** Sketch quantiles: approx_percentile (the t-digest-style mergeable
    * sketch — the only formulation that scales: exact percentiles need a
    * global sort or full value collection per group, the sketch merges
    * map-side in fixed memory). Rows-only at the driver gate (sketch
    * internals are engine-specific, same policy as q38's HLL); accuracy
    * is pinned by OpsSpec bounding it against the exact, oracle-gated
    * q44 twin — the q38/q63 pattern.
    */
  def q66ApproxPercentiles(s: SparkSession, d: String, accuracy: Int = 10000): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        expr(s"approx_percentile(o_totalprice, 0.5, $accuracy)").as("p50_approx"),
        expr(s"approx_percentile(o_totalprice, 0.9, $accuracy)").as("p90_approx"))
      .orderBy("c_mktsegment")
  }

  /** The ORACLE-GATED shape of [[q66ApproxPercentiles]] (registered as
    * q66): the sketch validation report. The exact percentiles (q44's
    * own expression, oracle-proven bit-parity with `quantile_cont`)
    * ride along, and the t-digest estimates are gated by the in-query
    * bound columns |approx − exact| ≤ 0.02·exact, which the oracle
    * states as literal TRUE. `approx_percentile` is deterministic for
    * a given input set (mergeable digest, order-invariant), so the
    * CORRECTNESS row goes red iff the sketch ever leaves its bound.
    * The raw estimates stay observable via [[q66ApproxPercentiles]],
    * which OpsSpec bounds against the exact q44 twin.
    */
  def q66ApproxPercentilesGated(s: SparkSession, d: String,
      accuracy: Int = 10000): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        expr("percentile(o_totalprice, 0.5)").as("p50_raw"),
        expr("percentile(o_totalprice, 0.9)").as("p90_raw"),
        expr(s"approx_percentile(o_totalprice, 0.5, $accuracy)").as("p50a"),
        expr(s"approx_percentile(o_totalprice, 0.9, $accuracy)").as("p90a"))
      .select(col("c_mktsegment"), col("n_orders"),
        r4(col("p50_raw")).as("p50"), r4(col("p90_raw")).as("p90"),
        (abs(col("p50a") - col("p50_raw")) <= col("p50_raw") * lit(0.02))
          .as("p50_within_2pct"),
        (abs(col("p90a") - col("p90_raw")) <= col("p90_raw") * lit(0.02))
          .as("p90_within_2pct"))
      .orderBy("c_mktsegment")
  }

  /** Statistical aggregates — stddev, variance, Pearson correlation —
    * computed from EXACT integer power sums (Σx, Σx², Σxy over cents)
    * with the textbook closed forms, instead of Spark's built-in
    * `stddev`/`corr`: the built-ins accumulate doubles in partition
    * order and are not bit-reproducible across layouts, the power-sum
    * formulation is (and the oracle mirrors the final arithmetic
    * expression shape exactly).
    */
  def q53StatsSuite(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .withColumn("x", cents(col("l_quantity")))
      .withColumn("y", cents(col("l_discount")))
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sx2"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("sy2"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("corr_den",
        sqrt(greatest(col("n").cast("double") * col("sx2") - col("sx").cast("double") * col("sx"), lit(0.0)))
          * sqrt(greatest(col("n").cast("double") * col("sy2") - col("sy").cast("double") * col("sy"), lit(0.0))))
      .select(
        col("l_returnflag"), col("n"),
        r4((col("sx").cast("double") / col("n")) / lit(100.0)).as("mean_qty"),
        // greatest(…, 0) clamps the −1-ulp negative a >2^53 power-sum
        // difference can produce (DuckDB throws on sqrt(negative), Spark
        // returns NaN); zero denominator → NULL on both engines
        r4(sqrt(greatest(col("n").cast("double") * col("sx2") - col("sx").cast("double") * col("sx"), lit(0.0)))
          / sqrt(col("n").cast("double") * (col("n") - lit(1))) / lit(100.0)).as("stddev_qty"),
        r4(when(col("corr_den") === 0.0, lit(null))
          .otherwise(
            (col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
              / col("corr_den"))).as("corr_qty_disc"))
      .orderBy("l_returnflag")
  }

  /** String-function family over customer names
    * ("Customer#000000042"-shaped): regexp extract/replace, pad, slice,
    * repeat, reverse, search, split_part.
    */
  def q45StringSuite(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") % 25 === 0)
      .select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("name_num"),
        regexp_replace(col("c_name"), "[0-9]", "").as("name_alpha"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("key_padded"),
        rpad(col("c_mktsegment"), 12, ".").as("seg_padded"),
        expr("left(c_name, 8)").as("name_left"),
        expr("right(c_name, 4)").as("name_right"),
        repeat(substring(col("c_mktsegment"), 1, 1), 3).as("seg_x3"),
        reverse(col("c_mktsegment")).as("seg_rev"),
        instr(col("c_name"), "#").cast("long").as("hash_pos"),
        split_part(col("c_name"), lit("#"), lit(2)).as("name_id_str"),
        length(trim(col("c_name"))).cast("long").as("name_len"))
      .orderBy("c_custkey")

  /** Array-function family over the embedding vectors (scalar outputs
    * only — array-typed result columns don't hash-compare portably).
    */
  def q46ArraySuite(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") % 10 === 0)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        element_at(col("embedding"), 1).cast("double").as("first_dim"),
        array_max(col("embedding")).cast("double").as("max_dim"),
        array_min(col("embedding")).cast("double").as("min_dim"),
        array_position(col("embedding"), array_max(col("embedding"))).as("argmax_1based"),
        size(filter(col("embedding"), x => x > 0.0f)).cast("long").as("n_positive"))
      .orderBy("vec_id")

  /** Window VALUE functions: lead, first_value / nth_value / last_value
    * over an explicit full-partition ROWS frame, with a deterministic
    * (ts, event_id) ordering.
    */
  def q61WindowValues(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .filter(col("user_id") % 10 === 0)
      .select(
        col("user_id"),
        row_number().over(ordered).cast("long").as("event_idx"),
        col("event_id"),
        lead(col("event_id"), 1).over(ordered).as("next_event_id"),
        first(col("event_type")).over(full).as("first_type"),
        nth_value(col("event_type"), 2).over(full).as("second_type"),
        last(col("event_type")).over(full).as("last_type"))
      .orderBy("user_id", "event_idx")
  }

  /** GROUPING SETS with grouping_id: per-flag totals, per-status totals,
    * and the grand total in one pass, with the bitmask distinguishing
    * rollup-NULLs from data-NULLs.
    */
  def q62GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("qty_c", cents(col("l_quantity")))
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_items"),
        fromCents(sum("qty_c")).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Range (band) join: non-equi theta join of orders against a small
    * derived band table (`lo <= price < hi`). The band side is a
    * broadcast literal relation, so the plan is a BroadcastNestedLoop
    * join over a handful of bands — the standard shape for banding /
    * histogram classification at scale (never shuffle the fact side).
    */
  def q58BandJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("b0_under_100k", 0.0, 100000.0),
      ("b1_100k_200k", 100000.0, 200000.0),
      ("b2_200k_300k", 200000.0, 300000.0),
      ("b3_300k_400k", 300000.0, 400000.0),
      ("b4_over_400k", 400000.0, 1.0e9)).toDF("band", "lo", "hi")
    Tables.orders(s, d)
      .withColumn("price_c", cents(col("o_totalprice")))
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_orders"), fromCents(sum("price_c")).as("band_total"))
      .orderBy("band")
  }

  /** Distributed total-order rank: global range-partitioned sort with
    * per-partition offsets — the standard scale-safe formulation of a
    * global rank. Spark's no-key `Window.orderBy(...)` computes the
    * same thing by moving EVERY row into a single partition (WindowExec
    * warns exactly this), which is the one unbounded-hazard plan shape
    * this engine bans (PlanSpec). Since r16 this is ONE lazy Catalyst
    * plan, structured like [[groupedRank]]'s range path but implemented
    * separately (a `lit(1)` group key would constant-fold back to the
    * banned no-key window): a pinned-width range exchange read by a
    * per-partition stats branch and the output branch, with prefix
    * offsets folded over the ≤ #partitions stats rows. Sort keys must
    * be UNIQUE for deterministic ranks.
    *
    * CORRECTNESS PRECONDITIONS (not just performance notes):
    *  - the stats branch and the output branch must read the SAME
    *    physical shuffle (exchange reuse / AQE stage reuse, both on by
    *    default). If each branch executed its own RangePartitioner, the
    *    two samplers could draw different bounds and the pid-keyed
    *    offsets join would assemble ranks from misaligned partitions
    *    with no error. Do not run this operator with
    *    spark.sql.exchange.reuse disabled.
    *  - `monotonically_increasing_id` must be CONSECUTIVE within a
    *    partition (rank = mid − min(mid) + off + 1). Spark's API
    *    contract only promises monotone+unique; consecutiveness is an
    *    implementation property (pid<<33 | rowIndex) a Spark upgrade
    *    could silently drop — OpsSpec pins this operator directly
    *    against window semantics so an upgrade fails loud.
    * [[groupedRank]]'s hash-bucket mode has neither hazard (its bucket
    * is a deterministic COLUMN); this operator keeps the range form
    * because a total order over an arbitrary key domain needs sampled
    * bounds.
    */
  def globalRank(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      rankCol: String = "rank"): DataFrame = {
    val pid = "__gr_pid"
    val mid = "__gr_mid"
    val nParts = math.max(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt, 1)
    val base = df.repartitionByRange(nParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(pid, spark_partition_id())
      .withColumn(mid, monotonically_increasing_id())
    val stats = base.groupBy(col(pid))
      .agg(count(lit(1L)).as("n"), min(col(mid)).as("m0"))
    // per-partition exclusive prefix offsets WITHOUT a window (a global
    // prefix would need a no-key window — the banned shape — and a
    // constant partition key gets constant-folded back to no-key): the
    // stats frame is ≤ #partitions rows, so it collapses to ONE array
    // row and the prefix is a higher-order-function fold over that
    // array — interpreted, but over #partitions elements exactly once.
    val offs = stats
      .agg(sort_array(collect_list(struct(
        col(pid).as("p"), col("n"), col("m0")))).as("arr"))
      .select(explode(expr(
        "transform(arr, (x, i) -> struct(x.p AS p, " +
          "aggregate(slice(arr, 1, i), CAST(0 AS BIGINT), (a, y) -> a + y.n) AS off, " +
          "x.m0 AS m0))")).as("o"))
      .select(col("o.p").as(pid), col("o.off").as("__gr_off"),
        col("o.m0").as("__gr_m0"))
    base.join(broadcast(offs), Seq(pid))
      .select(df.columns.map(col).toSeq :+
        (col(mid) - col("__gr_m0") + col("__gr_off") + lit(1L)).as(rankCol): _*)
  }

  /** Total-order rank for a provably K-BOUNDED frame (a post-`limit(k)`
    * list, a guard-bounded dictionary): one `coalesce(1)` + local sort +
    * position. A single-task sort is exactly the shape this engine bans
    * for corpus-sized frames — here the input is bounded by construction
    * (callers document the bound), and the k-row sort costs less than
    * [[globalRank]]'s exchange + stats-branch + broadcast machinery,
    * which is pure overhead at k rows (measured r16 at sf0.1: q170
    * 2.030 → 0.852 s when its three k-row ranks ride this instead of
    * the distributed rank, 1.015 s at the old RDD formulation). Same
    * contract: sort keys must be UNIQUE for deterministic ranks.
    */
  def boundedRank(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      rankCol: String = "rank"): DataFrame =
    df.coalesce(1).sortWithinPartitions(sortCols: _*)
      .withColumn(rankCol, monotonically_increasing_id() + lit(1L))

  /** Conf key + default for [[rankWithKnownCount]]'s size guard: the
    * largest row count routed through [[boundedRank]]'s single-task
    * sort. Default from the r17 measured crossover (RankProbe,
    * RANK_CROSSOVER_r17.json; details in OPTIMIZATION_r17.md): the
    * one-task sort wins up to ~2^19 rows (0.23 vs 0.59 s at 524k,
    * local[32]) and loses from ~2^21 (1.08 vs 0.69 s), so the guard
    * sits at the 2^20 midpoint. A 1M-row single partition is ~tens of
    * MB, far under executor memory at any deployment size.
    */
  val BoundedRankMaxRowsConf = "graft.rank.boundedMaxRows"
  val BoundedRankMaxRowsDefault = 1048576L

  /** Size-adaptive total-order rank for callers that already HOLD the
    * frame's row count (q60 needs n for its closed forms, q150 for its
    * top-k cutoff — the count is already paid for): dimension-table-
    * sized frames take [[boundedRank]]'s single-task sort, where the
    * distributed rank's exchange + stats-branch + broadcast machinery
    * is pure overhead (measured r17: q60 0.566 → ~0.25 s at sf0.1);
    * anything larger takes [[globalRank]] unchanged — the guard is the
    * measured crossover, not a local-mode tune (see
    * [[BoundedRankMaxRowsConf]]). Same contract as both: unique sort
    * keys.
    */
  def rankWithKnownCount(df: DataFrame, n: Long,
      sortCols: Seq[org.apache.spark.sql.Column],
      rankCol: String = "rank"): DataFrame = {
    val limit = df.sparkSession.conf
      .get(BoundedRankMaxRowsConf, BoundedRankMaxRowsDefault.toString).toLong
    if (n <= limit) boundedRank(df, sortCols, rankCol)
    else globalRank(df, sortCols, rankCol)
  }

  /** Skew-safe PER-GROUP rank — `row_number() over (partition by
    * groupCols order by sortCols)` without the single-task-per-group
    * sort. `Window.partitionBy(lowCardKey)` hashes each group onto ONE
    * task; with a dominant group (one web-crawl source in a mixed
    * corpus) that is a single-executor sort of most of the input — the
    * skewed sibling of the no-key window hazard, and the reason
    * PlanSpec bans corpus-sized low-cardinality-key windows. This
    * formulation is [[globalRank]]'s, expressed as ONE lazy Catalyst
    * plan (r16): a single explicit-width range exchange on (groupCols,
    * sortCols) — a dominant group spreads over many partitions — read
    * by two branches that ReuseExchange/AQE-stage-reuse compute once:
    * (a) a partial-aggregated per-(partition, group) run-stats frame
    * (≤ #partitions rows per group) from which exclusive prefix
    * offsets and group totals are derived, and (b) the output branch,
    * where a (partition-id, group)-keyed window — executor-bounded
    * runs whatever the skew — computes within-run rank/running sums
    * that the broadcast offsets lift to per-group values. All codegen,
    * no driver collect, no InternalRow⇄Row hop. (The previous RDD
    * two-pass formulation executed the full upstream lineage twice —
    * three times counting the range sampler — because pass 1's collect
    * and pass 2's output job could not share the sort.)
    *
    * Same contract as [[globalRank]]: sort keys must be UNIQUE within a
    * group for deterministic ranks, and group keys must be NON-NULL:
    * the offsets attach by equi-join, which would drop a null-keyed
    * row, so both paths fail the job on one instead (an in-plan
    * `raise_error` on each key — no extra job). Spark has no skew-safe
    * per-group rank primitive (`InferWindowGroupLimit` rescues only
    * constant-limit top-k, not full rankings / running sums).
    *
    * Also emitted in the SAME two passes (no extra jobs):
    *  - `totalCol`   — the group's total row count on every row (the
    *    `count(*) over (partition by g)` twin, known to the count pass);
    *  - `cumSums`    — inclusive running sums `(srcCol → outCol)` of
    *    non-null BIGINT columns in sort order (the
    *    `sum(x) over (partition by g order by … rows unbounded
    *    preceding)` twin).
    *
    * `bucket` (r17): when the caller can derive a deterministic,
    * ~uniform, sort-monotone bucket column from the leading sort key
    * (md5 draw keys via [[hexPrefixBucket]]), the operator takes
    * [[groupedRankBucketed]] instead — one hash exchange, no sampling
    * pass, no second exchange on the running-sum path, and no
    * dependence on exchange reuse or id consecutiveness. The range
    * path below remains for arbitrary key domains, where bounds must
    * be sampled.
    */
  def groupedRank(df0: DataFrame, groupCols: Seq[String],
      sortCols: Seq[org.apache.spark.sql.Column], rankCol: String = "rank",
      totalCol: Option[String] = None,
      cumSums: Seq[(String, String)] = Nil,
      bucket: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // the key itself carries the check, so column pruning cannot drop
    // it; on a non-nullable key the optimizer folds it away
    val df = groupCols.foldLeft(df0) { (f, g) =>
      f.withColumn(g, coalesce(col(g),
        raise_error(lit(s"groupedRank: null group key in column $g"))))
    }
    if (bucket.isDefined)
      return groupedRankBucketed(df, groupCols, sortCols, rankCol,
        totalCol, cumSums, bucket.get)
    import org.apache.spark.sql.expressions.Window
    val pid = "__gr_pid"
    // ONE explicit-width range exchange on (group, sort): a dominant
    // group spreads over many partitions, and only the partition
    // ASSIGNMENT must be range-monotone — the within-run ordering is
    // re-established by the (pid, group)-keyed window below on
    // executor-bounded runs, so the within-partition sort an orderBy
    // would add here is skipped. The width is pinned (not left to AQE)
    // because BOTH branches below key on the partition index: AQE
    // coalescing decides per consumer (AQEShuffleRead), and two
    // consumers of the reused exchange could in principle coalesce
    // differently, silently misaligning pids between the stats branch
    // and the output branch.
    val mid = "__gr_mid"
    val nParts = math.max(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt, 1)
    val sortExprs = groupCols.map(col) ++ sortCols
    // Strategy split: rank/total come for free from within-partition
    // POSITION over the range-sorted layout (monotonically_increasing_id
    // above the local sort encodes (pid, position) — nondeterministic-
    // flagged, so the optimizer cannot reorder it below the Sort; the
    // value itself is deterministic here because the shuffle output is
    // materialized and the sort keys are unique). Running sums need a
    // true per-row prefix, which only a window provides — that path
    // pays one more (pid, group)-keyed exchange.
    val base =
      if (cumSums.isEmpty)
        df.repartitionByRange(nParts, sortExprs: _*)
          .sortWithinPartitions(sortExprs: _*)
          .withColumn(pid, spark_partition_id())
          .withColumn(mid, monotonically_increasing_id())
      else
        df.repartitionByRange(nParts, sortExprs: _*)
          .withColumn(pid, spark_partition_id())
    // per-(pid, group) run stats — the "lightweight count pass", now a
    // sibling BRANCH of the same lazy plan: partial aggregation shrinks
    // map output to one row per run, and ReuseExchange/AQE stage reuse
    // computes the range exchange ONCE for both branches. (The previous
    // RDD formulation ran pass 1 as a separate collect job and pass 2
    // as a second full job, so the entire upstream lineage — scans,
    // tokenization, md5 — executed twice, three times counting the
    // range sampler, with two InternalRow⇄Row conversions on top.)
    val statAggs = (count(lit(1L)).as("__gr_n") +:
      (if (cumSums.isEmpty) Seq(min(col(mid)).as("__gr_m0")) else Nil)) ++
      cumSums.map { case (src, _) => sum(col(src)).as(s"__gr_s_$src") }
    val stats = base.groupBy((col(pid) +: groupCols.map(col)): _*)
      .agg(statAggs.head, statAggs.tail: _*)
    // exclusive per-(pid, group) prefix offsets + group totals over the
    // run-stats frame (≤ #partitions rows per group — partition-count-
    // bounded, never corpus-sized). The group columns are RENAMED to
    // internal names before the tiny window: PlanSpec's low-cardinality
    // window gate matches attribute NAMES (source/lang/label) because it
    // cannot see frame sizes, and this window is exactly the bounded
    // exception the gate's comment carves out.
    val gRen = groupCols.zipWithIndex.map { case (g, i) => g -> s"__gr_g$i" }
    val statsRen = gRen.foldLeft(stats) { case (f, (g, r)) => f.withColumnRenamed(g, r) }
    val wOrd = Window.partitionBy(gRen.map(p => col(p._2)): _*).orderBy(col(pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(gRen.map(p => col(p._2)): _*)
    val offCols =
      (coalesce(sum(col("__gr_n")).over(wOrd), lit(0L)).as("__gr_off") +:
        (if (cumSums.isEmpty) Seq(col("__gr_m0")) else Nil)) ++
      totalCol.map(_ => sum(col("__gr_n")).over(wAll).as("__gr_tot")).toSeq ++
      cumSums.map { case (src, _) =>
        coalesce(sum(col(s"__gr_s_$src")).over(wOrd), lit(0L)).as(s"__gr_o_$src") }
    val offs = statsRen.select((col(pid) +: gRen.map(p => col(p._2))) ++ offCols: _*)
    val offsBack = gRen.foldLeft(offs) { case (f, (g, r)) => f.withColumnRenamed(r, g) }
    val joined =
      if (cumSums.isEmpty) {
        // rank = prefix offset + within-run position, both from the ONE
        // range exchange — no second full-data exchange at all
        base.join(broadcast(offsBack), pid +: groupCols)
      } else {
        // within-run rank / running sums: one (pid, group)-keyed window —
        // high-cardinality key (the partition index rides in it), runs
        // bounded by the range partition size whatever the group skew.
        val wRun = Window.partitionBy((col(pid) +: groupCols.map(col)): _*)
          .orderBy(sortCols: _*)
        val wRunCum = wRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withRun = base
          .withColumn("__gr_rk", row_number().over(wRun).cast("long"))
        cumSums.foldLeft(withRun) { case (f, (src, _)) =>
          f.withColumn(s"__gr_c_$src", sum(col(src)).over(wRunCum))
        }.join(broadcast(offsBack), pid +: groupCols)
      }
    val rankExpr =
      if (cumSums.isEmpty) col(mid) - col("__gr_m0") + col("__gr_off") + lit(1L)
      else col("__gr_rk") + col("__gr_off")
    val outCols = df.columns.map(col).toSeq ++
      Seq(rankExpr.as(rankCol)) ++
      totalCol.map(t => col("__gr_tot").as(t)).toSeq ++
      cumSums.map { case (src, out) =>
        (col(s"__gr_c_$src") + col(s"__gr_o_$src")).as(out) }
    joined.select(outCols: _*)
  }

  /** Conf key + default for the hash-bucket rank's bucket count factor:
    * nBuckets = next power of two ≥ factor × shuffle partitions. The
    * factor trades key-collision balance in the ONE hash exchange
    * (buckets land on partitions by hash — guide-standard many-more-
    * keys-than-partitions spreading; 32× keeps the expected max/median
    * partition load under ~1.4) against the offsets frame's size
    * (nBuckets × #groups rows, windowed tiny and broadcast — at 32×
    * and 10² sources that is still ≤ a few hundred thousand rows on a
    * 100k-partition deployment). Override per job at extreme partition
    * counts.
    */
  val RankBucketFactorConf = "graft.rank.bucketFactor"
  val RankBucketFactorDefault = 32

  /** Deterministic uniform monotone bucket over a fixed-width lowercase
    * HEX key column (the engine's md5-derived draw/sort keys): the
    * first 8 hex chars as an integer, scaled to [0, nBuckets). For
    * fixed-width lowercase hex, lexicographic string order equals
    * numeric order of the value, so the bucket is monotone
    * non-decreasing in the column's sort order — the contract
    * [[groupedRank]]'s `bucket` parameter requires — and md5 keys make
    * it uniform. Rows whose first 8 chars tie land in the same bucket
    * by construction, so a bucket boundary can never split a tie.
    */
  def hexPrefixBucket(hexCol: org.apache.spark.sql.Column,
      nBuckets: Int): org.apache.spark.sql.Column = {
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0 &&
      nBuckets <= (1 << 30), s"nBuckets must be a power of two, got $nBuckets")
    val shift = 32 - Integer.numberOfTrailingZeros(nBuckets)
    shiftrightunsigned(conv(substring(hexCol, 1, 8), 16, 10).cast("long"),
      shift)
  }

  /** The bucket count [[hexPrefixBucket]] callers should use: factor ×
    * the session's shuffle width, rounded up to a power of two (see
    * [[RankBucketFactorConf]]).
    */
  def rankBuckets(s: SparkSession): Int = {
    val nParts = math.max(
      s.conf.get("spark.sql.shuffle.partitions", "200").toInt, 1)
    val factor = s.conf
      .get(RankBucketFactorConf, RankBucketFactorDefault.toString).toInt
    Integer.highestOneBit(math.max(nParts * factor - 1, 1)) * 2
  }

  /** [[groupedRank]]'s HASH-BUCKET mode (r17) — taken when the caller
    * supplies a `bucket` column satisfying: (1) deterministic pure
    * function of the leading sort key(s), (2) monotone non-decreasing
    * along the sort order within every group, (3) ~uniform over
    * [0, nBuckets) ([[hexPrefixBucket]] over an md5 draw key is the
    * canonical instance — q124/q128/q134). Then the range exchange is
    * unnecessary: ONE hash exchange on the bucket column clusters the
    * data, and because the bucket is a REAL deterministic column (not
    * `spark_partition_id()`), the within-run rank/running-sum window
    * keyed on (bucket, group) is satisfied by that single exchange's
    * HashPartitioning — Spark inserts NO further full-data exchange —
    * while the run-stats branch partial-aggregates BELOW its own
    * model-sized exchange. Versus the range path this removes (a) the
    * RangePartitioner's SAMPLING pass (a whole extra execution of the
    * input lineage — the stats branch's pruned re-scan replaces it at
    * strictly lower cost), (b) the cumSums path's second full-data
    * (pid, group) exchange, and (c) both range-path correctness
    * hazards: nothing here depends on exchange reuse (a recomputed
    * bucket column is byte-identical), and no
    * monotonically_increasing_id is used at all.
    *
    * Same output contract as the range path (OpsSpec pins both against
    * true window semantics): unique sort keys per group, NON-NULL group
    * keys ([[groupedRank]] checks them in-plan before either path).
    */
  private def groupedRankBucketed(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[org.apache.spark.sql.Column], rankCol: String,
      totalCol: Option[String], cumSums: Seq[(String, String)],
      bucket: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bk = "__gr_bk"
    val nParts = math.max(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt, 1)
    // explicit width like the range path: AQE coalescing would be
    // CORRECT here (runs key on the bucket column, not the physical
    // partition) but would shrink local parallelism on this workload's
    // small exchanges (the r14/r15 advisory-size finding); at cluster
    // scale shuffle.partitions/AQE governs instead — see
    // OPTIMIZATION_r17.md.
    val pre = df.withColumn(bk, bucket)
    val base = pre.repartition(nParts, col(bk))
    // within-run rank / running sums: the (bucket, group) window's
    // ClusteredDistribution is satisfied by the hash exchange itself —
    // WindowExec adds only the within-partition sort
    val wRun = Window.partitionBy((col(bk) +: groupCols.map(col)): _*)
      .orderBy(sortCols: _*)
    val wRunCum = wRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRun0 = base.withColumn("__gr_rk", row_number().over(wRun).cast("long"))
    val withRun = cumSums.foldLeft(withRun0) { case (f, (src, _)) =>
      f.withColumn(s"__gr_c_$src", sum(col(src)).over(wRunCum)) }
    // per-(bucket, group) run stats, aggregated BELOW any exchange: the
    // bucket is a pure column, so the stats branch needs no particular
    // partitioning at all — partial aggregation collapses each map
    // partition to ≤ one row per run before its exchange, which
    // therefore carries ≤ (map partitions × runs) stat rows, never the
    // corpus. The branch re-executes the pruned input lineage once —
    // the same extra pass the range path's RangePartitioner sampler
    // paid, but bought here with a column-pruned scan and a model-sized
    // exchange instead of a full sampling job. (Sharing the big
    // exchange between the two branches — r16's ReusedExchange — does
    // not survive this mode: with no nondeterministic columns pinning
    // the projection, each branch prunes differently and the exchange
    // subtrees stop being equal; the tiny-exchange form is cheaper than
    // un-pruning to force reuse.)
    val statAggs = count(lit(1L)).as("__gr_n") +:
      cumSums.map { case (src, _) => sum(col(src)).as(s"__gr_s_$src") }
    val stats = pre.groupBy((col(bk) +: groupCols.map(col)): _*)
      .agg(statAggs.head, statAggs.tail: _*)
    // exclusive prefix offsets + group totals over the run-stats frame
    // (≤ nBuckets rows per group — bucket-count-bounded, never
    // corpus-sized). Group columns renamed to __gr_g* before the tiny
    // window: PlanSpec's low-cardinality gate recognizes the pattern
    // and verifies it sits above an Aggregate (the structural bound).
    val gRen = groupCols.zipWithIndex.map { case (g, i) => g -> s"__gr_g$i" }
    val statsRen = gRen.foldLeft(stats) { case (f, (g, r)) => f.withColumnRenamed(g, r) }
    val wOrd = Window.partitionBy(gRen.map(p => col(p._2)): _*).orderBy(col(bk))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(gRen.map(p => col(p._2)): _*)
    val offCols =
      coalesce(sum(col("__gr_n")).over(wOrd), lit(0L)).as("__gr_off") +:
        (totalCol.map(_ => sum(col("__gr_n")).over(wAll).as("__gr_tot")).toSeq ++
          cumSums.map { case (src, _) =>
            coalesce(sum(col(s"__gr_s_$src")).over(wOrd), lit(0L))
              .as(s"__gr_o_$src") })
    val offs = statsRen.select((col(bk) +: gRen.map(p => col(p._2))) ++ offCols: _*)
    val offsBack = gRen.foldLeft(offs) { case (f, (g, r)) => f.withColumnRenamed(r, g) }
    val joined = withRun.join(broadcast(offsBack), bk +: groupCols)
    val outCols = df.columns.map(col).toSeq ++
      Seq((col("__gr_rk") + col("__gr_off")).as(rankCol)) ++
      totalCol.map(t => col("__gr_tot").as(t)).toSeq ++
      cumSums.map { case (src, out) =>
        (col(s"__gr_c_$src") + col(s"__gr_o_$src")).as(out) }
    joined.select(outCols: _*)
  }

  /** Ranking-distribution windows: ntile quartiles, percent_rank,
    * cume_dist over a UNIQUE ordering key (balance-cents, custkey) —
    * ties on raw balance would make ntile's bucket split engine-defined.
    *
    * Built on [[globalRank]], not a no-key window: with unique keys the
    * SQL definitions collapse to closed forms of the total rank —
    * percent_rank = (rank−1)/(n−1), cume_dist = rank/n, and ntile(k)'s
    * first n mod k buckets carry ⌈n/k⌉ rows (computed with integer
    * division, engine-exact). The DuckDB oracle keeps the native window
    * functions, so the hash gate proves the closed forms match SQL
    * semantics value-for-value.
    */
  def q60RankDistributions(s: SparkSession, d: String): DataFrame = {
    val cc = Tables.customer(s, d)
      .withColumn("bal_c", cents(col("c_acctbal")))
      .select(col("c_custkey"), col("bal_c"))
    val n = cc.count()
    val k = 4L
    val base = n / k
    val rem = n % k
    val cut = rem * (base + 1) // rows in the ⌈n/k⌉-sized leading buckets
    // n is already in hand for the closed forms, so the size-adaptive
    // rank costs nothing extra: the customer frame is dimension-table-
    // sized at any SF this harness runs (the r16 verdict measured the
    // distributed rank 2.3× worse here), and past the measured
    // crossover the guard falls back to globalRank unchanged
    val ranked = rankWithKnownCount(cc, n, Seq(col("bal_c"), col("c_custkey")))
    val quartile =
      if (base == 0) col("rank") // degenerate n < k: one row per bucket
      else when(col("rank") <= cut, expr(s"(rank - 1) div ${base + 1}"))
        .otherwise(lit(rem) + expr(s"(rank - 1 - $cut) div $base")) + 1L
    val pct =
      if (n <= 1) lit(0.0d)
      else r6((col("rank") - 1L).cast("double") / lit((n - 1).toDouble))
    ranked.select(
      col("c_custkey"),
      quartile.cast("long").as("quartile"),
      pct.as("pct_rank"),
      r6(col("rank").cast("double") / lit(n.toDouble)).as("cume"))
      .orderBy("c_custkey")
  }

  /** Positional explode: (doc, position, token) triples — the UDTF-style
    * generation shape with ordinality (Spark posexplode ↔ DuckDB
    * unnest-over-range + list indexing).
    */
  def q54Posexplode(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    Tables.documents(s, d)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .orderBy("doc_id", "pos")
  }

  /** Conditional aggregation (the FILTER-clause family): per priority,
    * sub-population counts and a filtered exact-cents sum.
    */
  def q55ConditionalAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("price_c", cents(col("o_totalprice")))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
        count(when(col("o_totalprice") > 250000.0, 1)).as("n_big"),
        fromCents(coalesce(sum(when(col("o_totalprice") > 250000.0, col("price_c"))), lit(0L)))
          .as("big_total"))
      .orderBy("o_orderpriority")

  /** arg-max/arg-min aggregates (max_by/min_by) with a DETERMINISTIC
    * composite ordering key: ties on raw price would make max_by's pick
    * engine-defined, so the key is price-cents·10^9 + orderkey — unique
    * (and price-ordered) as long as orderkey < 10^9, i.e. far beyond any
    * fixture scale; price-cents ≤ 5·10^7 keeps the product inside Long.
    */
  def q56ArgMax(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("ord_key", cents(col("o_totalprice")) * lit(1000000000L) + col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        max_by(col("o_orderkey"), col("ord_key")).as("best_order"),
        fromCents(max_by(cents(col("o_totalprice")), col("ord_key"))).as("best_price"),
        min_by(col("o_orderkey"), col("ord_key")).as("worst_order"))
      .orderBy("o_custkey")

  /** Array predicates (exists / forall) and grouped boolean aggregates
    * (bool_or / bool_and) over the embedding vectors.
    */
  def q57ArrayPredicates(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(
        col("vec_id"), col("label"),
        exists(col("embedding"), x => x > 0.25f).as("has_big"),
        forall(col("embedding"), x => abs(x) < lit(1.0f)).as("all_unit"),
        exists(slice(col("embedding"), 1, 8), x => x < 0.0f).as("neg_in_head"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("has_big").cast("long")).as("n_has_big"),
        bool_and(col("all_unit")).as("all_all_unit"),
        bool_or(col("neg_in_head")).as("any_neg_in_head"))
      .orderBy("label")

  /** Date/time-function family over order dates: truncation, month
    * arithmetic, day/week/quarter parts, diffs. Date-typed results are
    * formatted to strings (DuckDB's date_trunc returns DATE where
    * Spark returns TIMESTAMP).
    */
  def q47DateSuite(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 100 === 0)
      .select(
        col("o_orderkey"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus_3m"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since_epoch95"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow_sun0"),
        weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
        quarter(col("o_orderdate")).cast("long").as("qtr"))
      .orderBy("o_orderkey")

  /** EQUI-DEPTH histogram of order totals — the CBO/file-skipping feed
    * that q91's ANALYZE stats don't carry (min/max alone can't see a
    * skewed interior; equal-POPULATION buckets can). Scale shape: one
    * exact-percentile aggregate produces the `buckets−1` interior
    * boundaries as a SINGLE broadcast row (the nested-loop join this
    * plans is one row × the table — PlanSpec-allowlisted like q26/q49's
    * totals frames), then bucket assignment is a map-side fold over the
    * boundary array and the counts are one partial-aggregated groupBy on
    * an integer key. No global sort, no global window — the ntile
    * formulation would serialize the table through one partition.
    * Boundary arithmetic is the interpolated exact percentile whose
    * cross-engine bit-parity q44 already hash-proves; assignment uses
    * strict `>` so a value equal to a boundary lands in the lower
    * bucket deterministically in both engines.
    */
  def q104EquiDepthHistogram(s: SparkSession, d: String,
      buckets: Int = 8): DataFrame = {
    val probs = (1 until buckets).map(i => i.toDouble / buckets)
    val bounds = Tables.orders(s, d)
      .agg(expr(s"percentile(o_totalprice, array(${probs.mkString(", ")}))")
        .as("bs"))
    Tables.orders(s, d)
      .crossJoin(broadcast(bounds))
      .select(col("o_totalprice"),
        expr("""aggregate(bs, 1L,
               | (acc, x) -> acc + CASE WHEN o_totalprice > x THEN 1L ELSE 0L END)
               |""".stripMargin.replace('\n', ' ')).as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_orders"),
        min("o_totalprice").as("lo"),
        max("o_totalprice").as("hi"))
      .orderBy("bucket")
  }
}
