package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** The ONE place the engine materializes a multi-consumer intermediate
  * (r11 consolidation of the ~20 r10 call sites — one definition, one
  * documented trade).
  *
  * WHY EAGER, WHY CHECKPOINT (r10 finding, guide §2.4/§5): a lazily
  * `persist()`ed intermediate whose consumers are launched by Spark as
  * CONCURRENT broadcast-exchange jobs makes every consumer race the
  * cold cache — each one recomputes the upstream pipeline (profiled at
  * sf0.1: 8-9 duplicate scan+explode stages per pass on the shingle
  * index). An eager localCheckpoint materializes the intermediate
  * exactly once BEFORE consumers launch, and truncates lineage so each
  * consumer's plan (and Catalyst re-analysis) is O(intermediate), not
  * O(upstream pipeline). Storage level underneath is the same
  * MEMORY_AND_DISK blocks a persist would use.
  *
  * THE TRADE (documented once, here): localCheckpoint truncates
  * lineage, so on a multi-executor cluster an executor loss makes the
  * checkpointed partitions unrecoverable — the job retries instead of
  * recomputing partitions. The right trade for a single-process
  * profile; on a real cluster set `spark.graft.checkpointDir` (plus
  * `SparkContext.setCheckpointDir`-compatible storage) and [[eager]]
  * switches to RELIABLE checkpoints with full fault tolerance —
  * operators never need to change.
  *
  * WIDTH (r11, VERDICT r10 task 1): the materialization job runs at
  * the plan's own width (AQE-coalesced where eligible). The r10
  * 32-core overhead at these barriers was NOT the width itself but the
  * bypass-merge shuffle writer's M×R file churn — fixed session-wide in
  * [[graft.Engine.session]] (`spark.shuffle.sort.bypassMergeThreshold`),
  * so no per-site width clamp is needed; a clamp here would contract
  * production parallelism for no local gain.
  */
object Materialize {

  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir")
      .filter(_.nonEmpty)

  /** Materialize `df` NOW and truncate its lineage (see object doc). */
  def eager(df: DataFrame): DataFrame = reliableDir(df) match {
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      df.checkpoint(true)
    case None => df.localCheckpoint(true)
  }

  /** [[eager]] after hash-partitioning by `keys` (guide §2.4 "two
    * operations keyed the same way can share one exchange"): the
    * checkpoint's LogicalRDD preserves outputPartitioning, so the one
    * shuffle paid at materialization replaces the exchange of EVERY
    * downstream consumer that aggregates/joins on `keys` — aggregate +
    * both self-join sides, in the index-shaped operators. Width follows
    * `spark.sql.shuffle.partitions` (AQE-coalesced locally), never a
    * local constant.
    *
    * SKEW (guide §2.5): partitioning by key ships every occurrence of a
    * hot key to one partition — callers with skew-prone keys must drop
    * hot keys BEFORE calling this (see Dedup.shingleIndex: the
    * doc-frequency cap runs upstream of this shuffle).
    */
  def eagerByKey(df: DataFrame, keys: Column*): DataFrame =
    eager(df.repartition(keys: _*))

  /** [[eagerByKey]] + in-partition sort — for loop-invariant relations
    * consumed by a sort-merge join keyed on `keys` every iteration
    * (connectedComponents' edge list): EnsureRequirements elides the
    * relation-side exchange AND sort in every round, so the big
    * invariant relation is shuffled once per run, not once per round.
    */
  def eagerByKeySorted(df: DataFrame, keys: Column*): DataFrame =
    eager(df.repartition(keys: _*)
      .sortWithinPartitions(keys: _*))

  /** Expand-only fan-out for CPU-bound per-row stages (r10, guide
    * §2.5 input-skew / §2.6 idle capacity): single-file test inputs
    * scan as ONE partition, so a CPU-heavy projection / explode /
    * codec stage serializes on one core. Repartition up to the
    * session's parallelism ONLY when the input has fewer partitions —
    * at production scale the scan already has more partitions than
    * cores and this is a no-op (never a contraction); locally it is a
    * tiny round-robin shuffle of the scan projection.
    *
    * Call it on plain scans (ADVICE r10): `.rdd.getNumPartitions`
    * finalizes the physical plan, so a derived input would execute its
    * upstream pipeline here AND at consumption; a streaming input
    * (which cannot answer `.rdd`) passes through untouched.
    */
  def fanOut(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val n = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < n) df.repartition(n) else df
    }
}
