package graft.core

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism for the operators' explicit repartitions.
  *
  * The CPU-heavy text/similarity operators repartition their input
  * before tokenize/shingle stages so a single-split source still
  * parallelizes. Sizing that width as a CONSTANT (defaultParallelism)
  * is wrong at both ends: on a 100 TB corpus the scan already yields
  * thousands of splits and the constant under-parallelizes the
  * cluster, while on a small corpus it fans tiny inputs out into
  * `cores` near-empty tasks whose launch/codegen overhead dwarfs the
  * work (measured at sf0.1: the same pipeline at width 4 runs ~40%
  * faster than at width 32 on the same 32 cores — guide §2.2's
  * "fewer, larger partitions").
  *
  * [[widthFor]] derives the width from the plan's size estimate
  * instead: ceil(bytes / BytesPerTask), clamped to [1, 2·cores].
  *  - bytes come from Catalyst's optimized-plan stats — exact file
  *    size for a parquet scan, a conservative estimate downstream;
  *  - [[BytesPerTask]] (2 MiB of source bytes ≈ 8 MiB of decoded
  *    tokens) keeps each task big enough to amortize launch overhead
  *    yet small enough that a CPU-heavy map stage saturates well
  *    before the cap;
  *  - the 2·cores cap restores today's behavior at scale (a 100 TB
  *    input hits the cap, with the extra 2× for stragglers — the
  *    size-derived part only ever REDUCES the width for small
  *    inputs).
  */
object Par {

  val BytesPerTask: Long = 2L << 20

  /** Byte bound for [[boundedBroadcast]]; unset (the default) trusts
    * the call site's documented boundedness contract. */
  val MaxBroadcastBytesConf = "spark.graft.broadcast.maxBytes"

  /** A broadcast() hint gated by a size bound — the enforcement arm of
    * every "this table is bounded by design" broadcast in the
    * operators (the LM model tables, the verify paths' pair/id sets).
    *
    * Unset (default), the hint is unconditional: the call sites'
    * contracts (vocab-bounded model, batch-sized id set, O(collisions)
    * checkpoint) hold at the scales the suite and oracle exercise, and
    * plans stay byte-identical to the unguarded ones. With
    * `spark.graft.broadcast.maxBytes` set, the hint applies only when
    * Catalyst's optimized-plan size estimate is at or under the bound;
    * anything larger — including frames whose stats are UNKNOWN (the
    * defaultSizeInBytes sentinel: localCheckpoints, derived aggregates
    * that inherit child size) — falls back to the unhinted join, where
    * the planner/AQE picks shuffle vs runtime-broadcast from real
    * sizes. That is deliberately conservative: at 100 TB a mis-hinted
    * broadcast is a driver OOM or the 8 GB hard-cap failure, while a
    * skipped hint costs one shuffle that AQE can still convert. */
  def boundedBroadcast(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(MaxBroadcastBytesConf).map(_.toLong) match {
      case Some(bound)
          if df.queryExecution.optimizedPlan.stats.sizeInBytes > bound => df
      case _ => org.apache.spark.sql.functions.broadcast(df)
    }

  /** Size-derived repartition width for `df`: see the object doc.
    * `factor` scales the size estimate for stages whose downstream
    * CPU work is a known multiple of the input bytes (e.g. a per-row
    * gram explosion that fans each byte out ~100×) — the width then
    * tracks the WORK, not just the bytes read. */
  def widthFor(df: DataFrame, factor: Double = 1.0): Int = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // stats-less inputs (localCheckpoint/LogicalRDD, foreachBatch
    // frames) report the defaultSizeInBytes sentinel (Long.MaxValue):
    // "unknown" must get the pre-derivation width (cores), not the
    // 2×cores straggler cap reserved for inputs MEASURED to be large
    if (bytes >= BigInt(Long.MaxValue)) return math.max(1, cores)
    val cap = BigInt(math.max(1, 2 * cores))
    val scaled = (BigDecimal(bytes) * factor).toBigInt
    ((scaled + BytesPerTask - 1) / BytesPerTask).max(1).min(cap).toInt
  }
}
