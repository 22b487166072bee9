package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared round/fan-out lineage truncation with a cluster-durable
  * escape hatch (r19 verdict item 2, threaded r20) — the one place the
  * reliable-vs-local choice is made.
  *
  * Default is `localCheckpoint()` — eager executor-local blocks, the
  * right cost for plan-depth control and multi-consumer
  * materialization, but blocks die with their executor: on a real
  * cluster an executor loss kills the query instead of recomputing.
  * Reliable mode switches to `checkpoint()` (written to
  * `spark.sparkContext.setCheckpointDir`, survives executor loss).
  * The iterative Graph operators and Dedup.clusterPairs thread an
  * explicit `reliableCheckpoint` parameter into `Ckpt(df, reliable)`;
  * the call sites inside query builders have no parameter path, so
  * `Ckpt(df)` reads the SESSION conf `graft.reliableCheckpoint`
  * (default false). Output-identical either way — both forms eagerly
  * materialize the same frame (CkptSpec pins it).
  */
object Ckpt {
  def apply(df: DataFrame): DataFrame =
    apply(df, df.sparkSession.conf.get("graft.reliableCheckpoint", "false").toBoolean)

  /** Reliable mode with no checkpoint dir fails HERE, naming the
    * settings, instead of with Spark's generic error from inside
    * whichever plan first materializes. */
  def apply(df: DataFrame, reliable: Boolean): DataFrame =
    if (!reliable) df.localCheckpoint()
    else if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        "reliable checkpointing is on (graft.reliableCheckpoint / " +
          "reliableCheckpoint = true) but no checkpoint dir is set: call " +
          "spark.sparkContext.setCheckpointDir(<durable dir>) first")
    else df.checkpoint()
}
