package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Storage-block hygiene for checkpointed plans and long-lived sessions.
  *
  * Iterative operators checkpoint every round through [[Iterate]], and
  * the session-scoped indexes (kg_build, graph_build) are local
  * checkpoints too. Their blocks live until the RDD is garbage-collected
  * or the session ends — on a long-lived session (or a bench harness
  * running 160+ queries back to back) dead rounds accrete without bound
  * and evict genuinely hot data. Two remedies, both used:
  *
  *   - inside a loop, [[free]] round N's blocks as soon as round N+1 has
  *     materialized ([[Iterate.fixpoint]] does this for its frames);
  *   - between independent units of work, [[sweep]] everything except a
  *     caller-supplied keep-set (the session-scoped indexes).
  */
object Caches {

  /** Free the storage blocks behind a `localCheckpoint`ed (or otherwise
    * RDD-backed) DataFrame. Safe only once nothing will read the frame
    * again — a checkpointed RDD cannot recompute evicted blocks.
    * No-op for plans that are not RDD-backed. Walks RDD lineage so a
    * [[checkpointReset]] wrapper (whose own RDD is an unpersisted map
    * over the checkpoint) still frees the blocks beneath it — but the
    * walk is BOUNDED: it descends only through unpersisted wrappers
    * (depth ≤ 3, the wrapper → deserialize-map → checkpoint shape) and
    * stops at the first persisted RDD it frees. An unbounded walk
    * would evict ancestors shared with live frames (e.g. a lazy
    * localCheckpoint not yet materialized, or a cached RDD two frames
    * derive from), and checkpointed RDDs cannot recompute evicted
    * blocks. "Not yet materialized" means its final stage: under AQE
    * (the runtime default) building a lazy checkpoint already ran the
    * shuffle and broadcast stages below it ([[Iterate.rounds]]).
    */
  def free(df: DataFrame): Unit = {
    import org.apache.spark.storage.StorageLevel
    def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Unit = {
      val persisted = r.getStorageLevel != StorageLevel.NONE
      if (persisted) r.unpersist(blocking = false)
      else if (depth < 3) r.dependencies.foreach(d => walk(d.rdd, depth + 1))
    }
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => walk(lr.rdd, 0)
      case _ => ()
    }
  }

  /** Eager local checkpoint that ALSO resets Catalyst's size
    * statistics. `localCheckpoint` preserves the origin plan's BigInt
    * sizeInBytes; an iterative loop whose round joins k copies of the
    * previous round multiplies that estimate by k PER ROUND, so its
    * digit count grows geometrically and, past ~20 compounded rounds,
    * the optimizer's SizeInBytesOnlyStatsPlanVisitor spends minutes in
    * BigInteger.multiplyToomCook3 (measured: a 36-row frame in
    * graph_mst round 2 hung >500 s in stats estimation; jstack pinned
    * the main thread under visitJoin). Re-wrapping the checkpointed
    * RDD in a fresh LogicalRDD drops the poisoned estimate to the
    * default, bounding every round. The wrapper adds one
    * Row↔InternalRow hop per read — callers are loop frames bounded by
    * graph/alphabet size, never the corpus.
    */
  def checkpointReset(df: DataFrame): DataFrame = resetStats(df.localCheckpoint(true))

  /** Re-wrap a local checkpoint's RDD in a fresh LogicalRDD with
    * default stats (the reset half of [[checkpointReset]]; also applied
    * by [[Iterate.fixpoint]] after a lazy checkpoint has materialized).
    */
  private[graft] def resetStats(ck: DataFrame): DataFrame =
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)

  /** Whether `df`'s checkpoint blocks still exist: a session-scoped
    * index is only servable while they do. An external [[sweep]] (a
    * bench or stress harness, a multi-tenant janitor) can free them
    * without touching the index's memo, and the stale frame would fail
    * every later consumer with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Cheap
    * driver-side check: every LogicalRDD id in the analyzed plan (a
    * prepared op's bound tree included) must still be registered as
    * persistent.
    */
  def alive(df: DataFrame): Boolean =
    alive(df.sparkSession, graft.query.Prepared.unfold(df.queryExecution.analyzed))

  /** Whether every checkpoint `plan` reads still exists in `spark`. */
  def alive(spark: SparkSession, plan: LogicalPlan): Boolean = {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    plan.collect { case lr: LogicalRDD => lr.rdd.id }.forall(persisted.contains)
  }

  /** Snapshot the ids of every currently-persisted RDD — call after
    * building session-scoped indexes to form the keep-set for [[sweep]].
    */
  def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drop every cache-manager entry and every persisted/checkpointed RDD
    * whose id is not in `keep`. The keep-set protects session-scoped
    * indexes (which live as localCheckpoint blocks, untouched by
    * `clearCache`); everything else — per-query `.cache()` barriers and
    * loop checkpoints that escaped their query — is freed.
    */
  def sweep(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false)
    }
  }
}
