package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Distributed EXACT order statistics over a weighted, totally-ordered
  * column — the scale shape behind `quantileExactWeighted` /
  * `quantilesExactWeighted` (o_a27 / o_a27b).
  *
  * The naive formulation — `sum(wt).over(Window.partitionBy(groupKey)
  * .orderBy(valueOrder))` — is exact but serializes each group into ONE
  * task: with a low-cardinality group key (l_returnflag has 3 values)
  * the whole corpus sorts in 3 tasks regardless of cluster size, the
  * textbook plan that dies at 100x. This helper computes the SAME
  * cumulative-weight column with full parallelism, as a two-phase
  * prefix sum (the standard distributed-scan construction):
  *
  *  1. `repartitionByRange(key, ord...)` — a range exchange splits the
  *     data into `numShufflePartitions` value-contiguous slices;
  *     parallelism = shuffle partitions, not group-key cardinality.
  *  2. The partition-LOCAL cumulative weight is a window partitioned by
  *     `(slice_id, key)` — cardinality = partitions x keys, so each
  *     window group is ONE slice of one key (~|data|/partitions rows)
  *     and the sort parallelizes across all slices. (A `mapPartitions`
  *     running sum would avoid this hash exchange but leaves Tungsten:
  *     measured 2-4x slower through the Row encoder than the extra
  *     codegen'd shuffle — the window form wins on both axes.)
  *  3. Per-(slice, key) weight totals — a second consumer of the
  *     same PERSISTED slice table (one physical instantiation of the
  *     range shuffle, so both consumers share one boundary sampling and
  *     one slice-id space by construction, not by ReuseExchange),
  *     aggregated map-side to exactly one row per slice per
  *     key — give a table of `numShufflePartitions x |keys|` rows.
  *     Prefix-summing THAT tiny table (a window over <=1e5 rows at any
  *     corpus size) yields each slice's global offset, broadcast
  *     back onto the local cums.
  *
  * Global cum = local cum + offset, bit-equal to the single-task window
  * (the total order (key, ord...) fixes every prefix regardless of where
  * range boundaries land). OrderStatsSpec pins equality on random data.
  *
  * 100 TB design: every full-data operation (range shuffle, local sort,
  * local scan) is per-partition; the only cross-partition state is the
  * offset table, whose size is partitions x group-keys — this helper
  * targets LOW-cardinality group keys (the regime where the naive window
  * degenerates); high-cardinality keys should keep the plain window,
  * which already parallelizes.
  */
object OrderStats {

  /** Appends `cum` (global cumulative weight within `key`, in
    * (ord...) order) and `tot` (total weight within `key`) to the
    * (key, ord..., wt) projection of `df`. `wt` must be LongType
    * (exact integer weights — no summation-order hazard); `ord` must be
    * a total order within `key` (include tiebreak columns).
    *
    * Returns (cdf, persisted-intermediates): the slice table is CACHED
    * (correctness depends on one physical instantiation — see below),
    * so callers must release it after their action
    * (`Materialize.drop(result, caches: _*)` or `_.unpersist()`).
    * There is deliberately no cache-discarding convenience overload —
    * it leaked a corpus-sized cached block per call.
    *
    * Adaptive gate (plan-stats bytes against the shared small-input
    * threshold, [[graft.plans.SingleStage.gateBytes]]): the distributed
    * form pays ~3 extra stages of fixed scheduling latency plus the range
    * boundary sampling (~0.45 s measured at sf0.1, BENCH_NOTES) — pure
    * win at corpus scale, pure tax when the input fits a handful of tasks
    * anyway. At or below the gate the SAME cum/tot columns come from the
    * naive one-window plan (bit-equal by construction — OrderStatsSpec
    * pins equality across the gate). Plan-statistics-driven, so the
    * decision costs no extra job. Specs pin the distributed form with
    * `SingleStage.withGateBytes(0)`.
    */
  def weightedCdfPlan(df: DataFrame, key: String, ord: Seq[String],
                      wt: String): (DataFrame, Seq[DataFrame]) =
    weightedCdfPlanImpl(df, key, ord, wt, valueGranular = false)

  /** VALUE-GRANULAR weighted CDF — for THRESHOLD-PICK consumers
    * (weighted quantiles: "the smallest `ord` value whose cumulative
    * weight crosses q·tot", o_a27/o_a27b). `cum` at each row includes
    * ALL rows tied on `ord` (the SQL default RANGE frame), i.e.
    * cum = W(key, ≤ ord-tuple): tiebreak columns are NOT needed for the
    * picks to be exact, because a tied group qualifies iff its shared
    * end-of-group cum qualifies and min-over-rows = min-over-groups for
    * any cum-monotone predicate. Dropping the tiebreaks means the scan
    * reads fewer columns, the exchange carries fewer bytes, and the
    * sort compares shorter keys (r19 opt; o_a27's scan dropped
    * l_orderkey + l_linenumber entirely).
    *
    * Contract note (distributed branch): a value-group split across two
    * range slices yields mid-group rows whose cum counts only their own
    * slice's ties — still bracketed by [W(<v), W(≤v)], and every
    * group's maximal row carries the exact W(≤v), so threshold picks
    * (filter by pred(cum, tot), then MIN(ord) per key) are exact. Use
    * [[weightedCdfPlan]] when every row's cum must be its unique prefix
    * sum. OrderStatsSpec pins pick-equality across modes and the gate. */
  def weightedCdfByValuePlan(df: DataFrame, key: String, ord: Seq[String],
                             wt: String): (DataFrame, Seq[DataFrame]) =
    weightedCdfPlanImpl(df, key, ord, wt, valueGranular = true)

  private def weightedCdfPlanImpl(df: DataFrame, key: String, ord: Seq[String],
                                  wt: String, valueGranular: Boolean)
      : (DataFrame, Seq[DataFrame]) = {
    val spark = df.sparkSession
    val orderCols = (key +: ord).map(col)
    val src = df.select((key +: ord).map(col) :+ col(wt): _*)
    require(src.schema(wt).dataType == LongType,
      s"weight column '$wt' must be LongType, got ${src.schema(wt).dataType}")
    val est = src.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(graft.plans.SingleStage.gateBytes)) {
      // small-input fast path: the textbook window — bounded parallelism
      // is irrelevant at this size, and it skips the range sampling and
      // the extra exchanges. The cum window runs FIRST: its required
      // child order (key, ord...) prefix-satisfies the tot window's
      // (key), so both windows share ONE exchange and ONE sort (tot
      // first planned sort-by-key then RE-sorted by (key, ord...) — a
      // second full pass over the data for nothing; r18 opt). The final
      // select restores the distributed branch's (..., tot, cum) column
      // order. Value-granular mode keeps the default RANGE frame
      // (peer-inclusive) instead of pinning ROWS.
      val ordered = Window.partitionBy(key).orderBy(ord.map(col): _*)
      val byVal =
        if (valueGranular) ordered
        else ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = src
        .withColumn("cum", sum(col(wt)).over(byVal))
        .withColumn("tot", sum(col(wt)).over(Window.partitionBy(key)))
        .select(src.columns.map(col) :+ col("tot") :+ col("cum"): _*)
      return (out, Seq.empty)
    }
    val n = spark.sessionState.conf.numShufflePartitions
    // the narrow (key, ord..., wt) projection is persisted BEFORE the
    // range exchange (r18 opt, guide §1.2 "don't compute things you
    // throw away"): repartitionByRange SAMPLES its child to pick range
    // boundaries, i.e. evaluates the un-cached input lineage a second
    // time before the shuffle-map pass evaluates it again — measured as
    // the dominant cost when the input rides an expensive projection
    // (the BPE-encode keys paid the encode 2-3x). The cache holds only
    // these few narrow columns (the projection above strips everything
    // else), spills to disk, and is released by the caller with the
    // slice cache below.
    val srcP = src.persist(StorageLevel.MEMORY_AND_DISK)
    // explicit partition count (AQE must not re-split the exchange) AND
    // persisted: the two consumers below must see the SAME slice-id
    // space. The cache pins ONE physical instantiation of the range
    // shuffle — one boundary sampling, one pid mapping — so correctness
    // never rides on ReuseExchange being enabled; even a partition
    // evicted and recomputed re-runs the same RDD against the same
    // registered map outputs, keeping pids stable.
    val ranged = srcP.repartitionByRange(n, orderCols: _*)
      .withColumn("pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)

    // branch 1 (no sort needed): per-(slice, key) weight totals ->
    // global offsets. One row per (pid, key) after map-side combine.
    val perPart = ranged.groupBy(col("pid"), col(key))
      .agg(sum(col(wt)).as("psum"))
    val before = Window.partitionBy(key).orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perPart
      .withColumn("cum_off", coalesce(sum("psum").over(before), lit(0L)))
      .withColumn("tot", sum("psum").over(Window.partitionBy(key)))
      .select(col("pid"), col(key), col("cum_off"), col("tot"))

    // branch 2: slice-local prefix sum — each (pid, key) window group is
    // one value-contiguous slice of one key, so the sort parallelizes
    // across slices and stays inside Tungsten. Value-granular mode keeps
    // the default RANGE frame (slice-local peers included; see the
    // contract note on weightedCdfByValuePlan).
    val orderedLocal = Window.partitionBy(col("pid"), col(key))
      .orderBy(ord.map(col): _*)
    val localW =
      if (valueGranular) orderedLocal
      else orderedLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = ranged.withColumn("lcum", sum(col(wt)).over(localW))

    // <=> on the group key: a NULL key is a legal group (the naive
    // window this is bit-equal to keeps NULL as its own partition); a
    // null-unsafe equi-join would silently drop every NULL-key row
    val offs = offsets.withColumnRenamed("pid", "__opid")
      .withColumnRenamed(key, "__okey")
    val out = withLocal.join(broadcast(offs),
        col("pid") === col("__opid") && col(key) <=> col("__okey"))
      .withColumn("cum", col("lcum") + col("cum_off"))
      .drop("pid", "lcum", "cum_off", "__opid", "__okey")
    (out, Seq(ranged, srcP))
  }
}
