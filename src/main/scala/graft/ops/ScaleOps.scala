package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-out utilities: the knobs a 100 TB job reaches for when exact /
  * unsalted plans hit their limits. Kept as library functions (not
  * driver queries) because their outputs are approximate or
  * plan-shaping — the exact operators remain the correctness surface.
  */
object ScaleOps {

  /** HyperLogLog++ distinct counts — the sketch alternative to
    * [[graft.queries.Analytics.qDistinctParts]]'s exact two-stage
    * expansion. `rsd` is the target relative standard deviation; state
    * is O(1) per group instead of O(distinct). */
  def approxDistinct(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    df.agg(
      approx_count_distinct(col(cols.head), rsd).as(s"n_${cols.head}"),
      cols.tail.map(c => approx_count_distinct(col(c), rsd).as(s"n_$c")): _*)

  /** Widen a LOW-PARALLELISM scan feeding a compute-heavy map stage
    * (guide §2.5 "input skew — one huge unsplittable file … repartition
    * immediately after the read"): when the incoming plan materializes
    * in fewer partitions than the session's default parallelism (the
    * bench corpus is ONE single-row-group parquet file per table, so
    * every scan is ONE task and a per-char explode/hash/pack stage
    * runs at 1/cores capacity), hash-repartition by `key` so the
    * expensive per-row work spreads across the cluster. The exchange
    * moves each input row ONCE (docs, not chars — cheap relative to
    * the map it unblocks). At scale inputs arrive as many splits, the
    * partition count already meets the default, and this is a NO-OP —
    * no exchange is added — so the plan stays scale-adaptive instead
    * of tuned for either regime. Results are unaffected: partitioning
    * is a placement decision, every consumer here keys its own
    * windows/aggregations. */
  def widenScan(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    scanPartitions(df) match {
      case Some(p) if p < n => df.repartition(n, col(key))
      case _ => df
    }
  }

  /** `df` at the session's parallelism: [[widenScan]] when it arrives
    * in fewer partitions than `defaultParallelism`, and a shuffle-free
    * `coalesce` when it arrives in more. A micro-batch source can hand
    * over one partition per arrival (MemoryStream makes one per
    * `addData`), and without the coalesce every stage over such a
    * batch runs one tiny task per arrival. */
  def fitScan(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    scanPartitions(df) match {
      case Some(p) if p < n => df.repartition(n, col(key))
      case Some(p) if p > n => df.coalesce(n)
      case _ => df
    }
  }

  /** The partition count `df` would scan in, when that is known
    * without running anything. */
  private def scanPartitions(df: DataFrame): Option[Int] =
    // streaming plans cannot be probed (toRdd) or repartitioned here;
    // micro-batches arrive pre-partitioned by the source anyway
    if (df.isStreaming) None
    else df.queryExecution.executedPlan match {
      // A plan AQE wrapped contains an exchange (or subquery): its
      // expensive map side already runs at shuffle-partition width, so
      // there is nothing to widen — and probing it would EXECUTE it:
      // toRdd on an AdaptiveSparkPlanExec materializes every upstream
      // query stage at plan-construction time, then the work repeats
      // when the returned frame is actioned under a new QueryExecution
      // (r15 advisor finding). Exchange-free plans (bare scans,
      // narrow maps, checkpoint-backed frames) are never wrapped, so
      // the probe below stays job-free.
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => None
      case _ => Some(df.queryExecution.toRdd.getNumPartitions)
    }

  /** Skew-mitigated equi-join: salt the big side into `buckets`
    * pseudo-keys and replicate the small side once per bucket, so a hot
    * join key spreads over `buckets` reducers instead of one straggler.
    * Result is EXACTLY the plain inner join's rows (the salt is a
    * partitioning refinement, never a semantic key).
    *
    * The default salt is a pure CONTENT hash of the row — a
    * deterministic function of the row's values, so a task retry or
    * speculative attempt recomputes the identical shuffle key and the
    * join stays exactly-once under stage retries for ANY input plan
    * (the SPARK-23207 hazard class: a positional or random salt on a
    * shuffled input can differ between attempts, duplicating or
    * dropping rows when old and recomputed map outputs mix).
    *
    * Caveat: BYTE-IDENTICAL duplicate rows (the same record repeated
    * millions of times) share a content hash and land in one bucket,
    * un-spread. `positionalSalt = true` mixes in the row's
    * partition-local position ([[monotonically_increasing_id]]) to
    * spread those too — opt in ONLY when `big` is a deterministic-order
    * scan (parquet/file splits), never a shuffle/aggregation output,
    * or the retry hazard above applies.
    *
    * At 100 TB this (or AQE's skew-join, which does the same adaptively)
    * is the difference between a 10-minute stage and one 6-hour reducer.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      buckets: Int = 16,
      positionalSalt: Boolean = false): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val mix = big.columns.toSeq.map(col) ++
      (if (positionalSalt) Seq(monotonically_increasing_id()) else Nil)
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(mix: _*), lit(buckets.toLong)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedBig.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** Sketch-based percentiles — the O(1)-state alternative to
    * [[graft.queries.Analytics]]'s exact order statistics
    * (q_percentiles), for when sorting 100 TB per group is off the
    * table. `accuracy` trades memory for error ≈ 1/accuracy of rank. */
  def approxPercentiles(
      df: DataFrame,
      valueCol: String,
      keys: Seq[String],
      percentiles: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    val pcts = array(percentiles.map(lit): _*)
    val agg = percentile_approx(col(valueCol), pcts, lit(accuracy)).as("pcts")
    val out = if (keys.isEmpty) df.agg(agg)
      else df.groupBy(keys.map(col): _*).agg(agg)
    percentiles.zipWithIndex.foldLeft(out) { case (d, (p, i)) =>
      // injective names: p0.999 -> p99_9 (rounding to p100 would both
      // mislabel the percentile and collide with a real p100 column)
      val label = (BigDecimal(p.toString) * 100).underlying
        .stripTrailingZeros.toPlainString.replace('.', '_').replace("-", "neg")
      d.withColumn(s"p$label", element_at(col("pcts"), i + 1))
    }.drop("pcts")
  }

  /** Scale-safe global running sum of `valueCol` in `orderCol` order —
    * the distributed form of `sum(v) OVER (ORDER BY k)`, which Spark
    * executes by moving ALL data to one partition (the classic
    * "No Partition Defined for Window" trap). Here: range-partition on
    * the order column (partition i holds a contiguous key range),
    * accumulate WITHIN each partition, and add broadcast offsets — the
    * running totals of the preceding partitions, a #partitions-row
    * frame. The data shuffles exactly once (the range exchange); only
    * per-partition SUBTOTALS ever pass through a single node.
    *
    * The within-partition pass is a `mapPartitions` accumulation on
    * purpose: a `Window.partitionBy(spark_partition_id())` would
    * re-exchange the whole dataset (Catalyst cannot know the rows are
    * already clustered by their own partition id) — running state over
    * an existing partitioning is the case imperative per-partition
    * logic exists for. Null values count as 0.
    *
    * `orderCol` must be unique (as with any cumulative sum, ties make
    * the prefix order — hence the output — ill-defined). */
  def prefixSum(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      out: String = "cum"): DataFrame = {
    require(!df.columns.contains(out), s"output column $out already exists")
    require(!df.columns.exists(_.startsWith("__")),
      "input columns must not use the reserved __ prefix")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.LongType
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val prepared = df
      .withColumn("__v", col(valueCol).cast("long"))
      .repartitionByRange(n, col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .withColumn("__pid", spark_partition_id())
    val vIdx = prepared.schema.fieldIndex("__v")
    val localSchema = prepared.schema.add("__local", LongType)
    // checkpoint the accumulated frame: the offsets side and the join
    // side must see the SAME partition boundaries, and a re-evaluated
    // range exchange does not guarantee that (RangePartitioner samples
    // its bounds from upstream row order, which is not stable across
    // evaluations when the input sits behind a shuffle). One
    // materializing pass; swap for `checkpoint` + a reliable dir on a
    // real cluster.
    val local = prepared.mapPartitions { it =>
      var acc = 0L
      it.map { r =>
        if (!r.isNullAt(vIdx)) acc += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ acc)
      }
    }(Encoders.row(localSchema)).localCheckpoint(false)
    val offsets = local.groupBy("__pid").agg(sum(col("__v")).as("__psum"))
      .withColumn("__off", coalesce(
        sum(col("__psum")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), "__pid")
      .withColumn(out, col("__local") + col("__off"))
      .drop("__pid", "__local", "__off", "__v")
  }

  /** Two-phase (salted) aggregation for heavy-state aggregates: phase 1
    * pre-aggregates per (keys, salt), phase 2 merges the partials. Use
    * for aggregates whose per-group STATE is big (collect_set, exact
    * distinct) where map-side combine alone can't tame a hot key. The
    * caller supplies both phases; for algebraic aggregates they're the
    * same function. */
  def twoPhaseAgg(
      df: DataFrame,
      keys: Seq[String],
      partial: Seq[Column],
      merge: Seq[Column],
      buckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col): _*), lit(buckets.toLong)).cast("int"))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partial.head, partial.tail: _*)
    phase1.groupBy(keys.map(col): _*).agg(merge.head, merge.tail: _*)
  }
}
