package graft.operators

import org.apache.spark.sql.Dataset

/** Deploy-aware lineage cut for the engine's bounded loop/training
  * frames (the [[Components]] round frames, the k-means/PQ training
  * frames, the token-budget bucket table).
  *
  * These frames MUST materialize with truncated lineage — a persist
  * alone leaves the iterative plan doubling per round, and training
  * samples must freeze so a recompute can never silently diverge
  * mid-query. But HOW they materialize is a deploy decision, and the
  * r18 chaos probe measured why: `localCheckpoint` stores its blocks
  * on whichever executors computed them, replication 1, with lineage
  * GONE — so one lost executor JVM makes the block unrecoverable and
  * aborts the whole job ([CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND] on
  * q160's training frame under a deliberate mid-query executor kill,
  * CHAOS_r18.md). On a 1000-executor fleet an executor loss is a
  * weekly event, not a chaos experiment.
  *
  *  - fleets (`local-cluster`, standalone, YARN, K8s — every master
  *    [[graft.SessionDefaults.inProcess]] rejects): RELIABLE
  *    `checkpoint` — files under `spark.checkpoint.dir`
  *    ([[graft.SessionDefaults]] defaults it to target/checkpoints
  *    for the shared-filesystem local-cluster topology; a multi-node
  *    deploy sets a DFS path). Any executor can read them, any loss
  *    is survivable. The frames are bounded by construction
  *    (edge-sized loop rounds, ≤100k-row training samples), so the
  *    file I/O is corpus-size-independent.
  *  - in-process masters (`local[n]`): `localCheckpoint` — the
  *    driver JVM cannot lose an executor, so the memory-speed path
  *    is safe exactly where it is used.
  *
  * The switch is the session's master, the same rule that picks the
  * plan tuning: no run-time mode overrides it. The SCALE_PROBE r19
  * A/B priced the paths against each other: reliable stays the fleet
  * path, and replication-2 `localCheckpoint` was not cheaper.
  */
object Checkpoints {

  def stable[T](ds: Dataset[T]): Dataset[T] =
    stable(ds, !graft.SessionDefaults.inProcess(ds.sparkSession.sparkContext.master))

  def stable[T](ds: Dataset[T], reliable: Boolean): Dataset[T] =
    if (!reliable) ds.localCheckpoint(eager = true)
    else if (ds.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      // caller already persisted this plan — the checkpoint write job
      // reads those blocks, and they stay the CALLER'S to drop:
      // CacheManager is plan-keyed, so the scaffolding unpersist below
      // would silently evict the caller's cache along with ours
      ds.checkpoint(eager = true)
    else {
      // RDD.checkpoint's documented contract: the checkpoint WRITE is
      // a SEPARATE job that re-runs the RDD's lineage, so an eager
      // reliable checkpoint without a prior persist computes every
      // frame TWICE (materialize job + write job). Persisting first
      // makes the write job read the cached blocks — the pattern
      // Spark's own RDD.checkpoint scaladoc recommends. The cache is
      // scaffolding for that one write: the returned Dataset reads
      // the checkpoint FILES (its plan is a flat LogicalRDD over the
      // reliable-checkpoint RDD), so the source cache is dropped
      // immediately after materialization. CheckpointsSpec counts the
      // per-row evaluations to pin single-compute.
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint(eager = true)
      finally ds.unpersist(blocking = false)
    }

  /** Eagerly free a SUPERSEDED checkpoint's cached blocks (the
    * [[Components]] loop discipline, shared with [[BpeTrainer]]):
    * a checkpointed Dataset's plan is a `LogicalRDD` over the
    * materialized internal RDD, and `Dataset.unpersist` only consults
    * the cache manager (it ignores checkpoint storage), so without
    * this each loop round's frame lingers until driver GC. Under
    * RELIABLE checkpoints the data lives as files —
    * `spark.cleaner.referenceTracking.cleanCheckpoints` deletes them
    * on driver GC, [[graft.SessionDefaults.stopAndReap]] bounds the
    * residue at session end, and this unpersist is a harmless no-op.
    * Non-blocking: freeing is advisory, never on the critical path.
    */
  def free(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
