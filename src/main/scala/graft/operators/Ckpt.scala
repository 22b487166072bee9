package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Shared round/fan-out lineage truncation with a cluster-durable
  * escape hatch — the one place the reliable-vs-local choice is made.
  *
  * Default is `localCheckpoint()` — eager executor-local blocks, the
  * right cost for plan-depth control and multi-consumer
  * materialization, but blocks die with their executor: on a real
  * cluster an executor loss kills the query instead of recomputing.
  * Reliable mode switches to `checkpoint()` (written to
  * `spark.sparkContext.setCheckpointDir`, survives executor loss).
  * The SESSION conf `graft.reliableCheckpoint` (default false) is the
  * one switch — no operator takes a per-call mode. Every eager
  * checkpoint in the engine goes through here — each [[Iterate]]
  * round, the Graph operators and all the query builders
  * (EntryPointSpec pins it) — so all follow it; Similarity's lazy
  * `localCheckpoint(false)` ANN stores are not eager and stay local.
  * Output-identical either way — both forms eagerly materialize the
  * same frame (CkptSpec pins it).
  */
object Ckpt {
  /** Reliable mode with no checkpoint dir fails HERE, naming the
    * settings, instead of with Spark's generic error from inside
    * whichever plan first materializes. */
  def apply(df: DataFrame): DataFrame =
    if (!df.sparkSession.conf.get("graft.reliableCheckpoint", "false").toBoolean)
      df.localCheckpoint()
    else if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        "reliable checkpointing is on (graft.reliableCheckpoint = true) " +
          "but no checkpoint dir is set: call " +
          "spark.sparkContext.setCheckpointDir(<durable dir>) first")
    else df.checkpoint()

  /** Unregisters and drops the blocks of a frame [[apply]] returned,
    * once nothing will read it again; a no-op on any other frame. A
    * local checkpoint otherwise stays registered until the driver
    * garbage-collects its frame. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
