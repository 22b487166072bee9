package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC materialization operators — the batch/Spark expression of the
  * reference's keyed `ValueState` upsert semantics
  * (`EnrichmentJoin.java:64`: latest row per key wins; a delete
  * tombstone removes the key).
  *
  * Scale: latest-image is one shuffle on the key (window partition);
  * at 100 TB the changelog is typically date-partitioned, so the
  * window runs per partition after partition pruning. No collect, no
  * driver state.
  */
object Cdc {

  /** Newest non-tombstoned row per key, ordered by (opTs, seq). */
  def latestImage(changelog: DataFrame, key: String,
                  opTs: String = "op_ts", seq: String = "seq",
                  manip: String = "manip"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(opTs).desc, col(seq).desc)
    changelog
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(manip) =!= "D")
      .drop("__rn")
  }

  /** SCD Type 2: the changelog materialized as validity-interval
    * VERSIONS instead of one latest image — each I/U row becomes a
    * version valid from its own op time until the NEXT change of the
    * same key (exclusive), open-ended (`valid_to` null,
    * `is_current` true) if nothing follows. A delete tombstone emits
    * no version; it only closes the one before it — so a key deleted
    * and never re-inserted has no current version, which is exactly
    * the latest-image semantics ([[latestImage]]) projected onto
    * history.
    *
    * Scale: identical shape to latest-image — ONE shuffle on the key
    * for the lead window, no state beyond the window frame. The
    * output is what a warehouse dimension table stores; [[latestImage]]
    * is `is_current = true` of this. */
  def scd2(changelog: DataFrame, key: String,
           opTs: String = "op_ts", seq: String = "seq",
           manip: String = "manip"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(opTs), col(seq))
    changelog
      .withColumn("valid_to", lead(col(opTs), 1).over(w))
      .filter(col(manip) =!= "D")
      .withColumnRenamed(opTs, "valid_from")
      .withColumn("is_current", col("valid_to").isNull)
      .drop(seq, manip)
  }

  /** Point-in-time lookup against an SCD2 dimension ([[scd2]] output):
    * each probe row joins the version whose validity interval covers
    * its timestamp — LEFT, so a probe inside a deletion gap keeps its
    * row with null attributes (the "entity did not exist then"
    * answer).
    *
    * Scale: an equi-join on the key plus an interval predicate.
    * `broadcastDim` (default) hints the dimension side — an SCD2
    * dimension is keys × versions-per-key rows, and versions-per-key
    * is the CHANGE count, bounded for real dimensions (customers,
    * parts, suppliers change rarely), so the versioned table fits the
    * broadcast budget whenever the unversioned dimension does and the
    * probe/fact side never shuffles (PlanSpec pins the
    * BroadcastHashJoin). HIGH-CHURN fallback: a dimension whose
    * versions-per-key grows with time (sensor state, price ticks)
    * eventually doesn't fit — pass `broadcastDim = false` for a
    * key-shuffled join, or reformulate as an as-of join on
    * (key, valid_from ≤ ts, latest wins) — the B11 asof formulation,
    * one sort-merge pass with no interval fan-out. */
  def pointInTime(probes: DataFrame, scd: DataFrame, key: String,
                  probeTs: String, broadcastDim: Boolean = true): DataFrame = {
    val dim = if (broadcastDim) broadcast(scd) else scd
    val cond = probes(key) === dim(key) &&
      probes(probeTs) >= dim("valid_from") &&
      (dim("valid_to").isNull || probes(probeTs) < dim("valid_to"))
    probes.join(dim, cond, "left").drop(dim(key))
  }

  /** MERGE INTO: apply a changelog DELTA to a materialized snapshot —
    * the incremental form of [[latestImage]], which recomputes from
    * the full changelog. The delta collapses to its own latest image
    * first (including tombstones, which here must SURVIVE collapse to
    * delete snapshot keys), then: snapshot rows keep unless the delta
    * touches their key; touched keys take the delta's latest non-D
    * row. `applyChanges(latestImage(chg < t), chg ≥ t) ≡
    * latestImage(chg)` — the contract, and the oracle.
    *
    * Scale: the snapshot is rescanned but never re-windowed — one
    * anti-join on the key (broadcast when the delta's key set fits,
    * the common case for incremental loads) + the delta-only window.
    * Cost O(snapshot scan + delta log delta), vs latest-image's full
    * re-sort of the whole changelog history. */
  def applyChanges(snapshot: DataFrame, delta: DataFrame, key: String,
                   opTs: String = "op_ts", seq: String = "seq",
                   manip: String = "manip"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(opTs).desc, col(seq).desc)
    val deltaLatest = delta
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val untouched = snapshot.join(
      deltaLatest.select(col(key)), Seq(key), "left_anti")
    val cols = snapshot.columns.toIndexedSeq
    untouched.unionByName(
      deltaLatest.filter(col(manip) =!= "D").select(cols.head, cols.tail: _*))
  }

  /** Snapshot DIFF: what changed between two materialized images of
    * the same table — per key `added` / `removed` / `changed`
    * (unchanged keys are omitted; they are the bulk and carry no
    * information). The reconciliation/audit step between a rebuilt
    * snapshot and yesterday's, or between replica and source.
    *
    * `compareCols` are null-safe-compared (`<=>`), so a null→value
    * transition counts as changed, not as a silent equality.
    *
    * Scale: one full-outer join shuffled on the key, comparisons in
    * the join projection — no window, no collect; output is bounded
    * by the churn, not the table. */
  def snapshotDiff(before: DataFrame, after: DataFrame, key: String,
                   compareCols: Seq[String]): DataFrame = {
    val b = before.select((key +: compareCols).map(c => col(c).as(s"b_$c")): _*)
    val a = after.select((key +: compareCols).map(c => col(c).as(s"a_$c")): _*)
    val joined = b.join(a, col(s"b_$key") === col(s"a_$key"), "full_outer")
    val changed = compareCols
      .map(c => !(col(s"b_$c") <=> col(s"a_$c")))
      .reduce(_ || _)
    joined
      .withColumn("change_type",
        when(col(s"b_$key").isNull, lit("added"))
          .when(col(s"a_$key").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(coalesce(col(s"b_$key"), col(s"a_$key")).as(key) +:
        col("change_type") +:
        compareCols.flatMap(c => Seq(col(s"b_$c").as(s"${c}_before"),
          col(s"a_$c").as(s"${c}_after"))): _*)
  }

  /** Change-volume profile per manip type (I/U/D). */
  def changelogStats(changelog: DataFrame, key: String,
                     manip: String = "manip"): DataFrame =
    changelog.groupBy(col(manip).as("manip_type")).agg(
      count(lit(1)).as("n_changes"),
      countDistinct(col(key)).as("n_keys"))
}
