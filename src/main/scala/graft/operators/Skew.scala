package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew diagnostics and mitigation — the operational pair every
  * 100 TB join plan needs: MEASURE the key distribution first
  * ([[keySkew]]), then, where one key's weight would pin a shuffle
  * partition to a single straggler task, join through a salt
  * ([[saltedJoin]]) so the hot key spreads over `nSalts` tasks.
  *
  * AQE's skew-join split (on by default in GraftSession) handles most
  * skew at runtime by splitting oversized partitions. [[saltedJoin]]
  * is the explicit pre-AQE form for engines/paths AQE can't touch
  * (e.g. a skewed aggregation feeding a window, or a build side too
  * large to split), and its cost model is visible: the replicated
  * side's shuffle volume × nSalts — use for a small-ish replicated
  * side and genuinely hot keys, else AQE alone is cheaper (and at dim
  * sizes where nSalts× replication hurts, the dim belonged in a
  * broadcast join instead).
  */
object Skew {

  /** Per-key occupancy profile of `df` keyed by `keyCol`: the top
    * `topN` keys by row count with their corpus share in basis
    * points, their multiple of the mean key weight in milli-units
    * (`skew_x1000` = 1000 ⇒ exactly average; a key at 50 000 means a
    * 50× straggler if it lands on one task), and the dense rank.
    * The pre-join planning read: feed keys with `skew_x1000` over
    * ~10–50× into [[saltedJoin]] or AQE skew handling.
    *
    * Scale posture: ONE map-side-combined aggregation shuffle keyed
    * by the key (counters only); the totals ride a broadcast
    * single-row re-aggregation of the same count frame (AQE reuses
    * the exchange), and the top-N window input is the KEY frame, with
    * `rank <= topN` pushed down as WindowGroupLimit — per-partition
    * top-N then one bounded merge, never a full sort. */
  def keySkew(df: DataFrame, keyCol: String, topN: Int = 20): DataFrame = {
    require(topN >= 1, s"topN ($topN) must be >= 1")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .withColumn("share_bp", expr("n * 10000 div total"))
      .withColumn("skew_x1000", expr("n * 1000 * n_keys div total"))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("n").desc, col(keyCol).asc)).cast("long"))
      .filter(col("rank") <= topN)
      .select(col(keyCol), col("n"), col("share_bp"), col("skew_x1000"),
        col("rank"))
  }

  /** Per-group distribution DRIFT against the pooled reference: for
    * every value of `groupCol`, a chi-square-form statistic in ppm
    * space between the group's `bucketCol` histogram and the
    * whole-frame histogram — the "did this source/shard/day silently
    * change shape" monitor that runs before a training mix or a
    * retrain is trusted. `items` is one row per item (pre-bucketed);
    * output is (group, n_docs, drift_score) with
    * `drift = Σ_b (p_g(b) − p_ref(b))² div max(p_ref(b), 1)` where
    * p·(b) are ppm shares by integer division — exact 64-bit in every
    * engine AT ANY SIZE: ppm ≤ 10⁶ caps each term at 10¹² no matter
    * the row count, unlike raw-count chi-square whose count products
    * overflow past ~10⁹ rows. A group matching the pooled mix scores
    * ~0 (floor dust); disjoint support scores ~2×10⁶ per divergent
    * bucket's mass.
    *
    * Scale: ONE scan of `items` into a (groups × buckets)-key
    * map-side-combined agg; that profile frame is localCheckpointed
    * (bounded: groups × buckets counters) and every derived total
    * re-aggregates it, so the full group × bucket grid — including
    * the zero cells a drifted group must be charged for — comes from
    * a broadcast cross join of two bounded frames, never a second
    * corpus pass. */
  def distributionDrift(items: DataFrame, groupCol: String,
                        bucketCol: String): DataFrame = {
    val b = Ckpt(items
      .groupBy(col(groupCol), col(bucketCol))
      .agg(count(lit(1)).as("c_s")))
    val grpTot = b.groupBy(col(groupCol)).agg(sum(col("c_s")).as("n_s"))
    val ref = b.groupBy(col(bucketCol)).agg(sum(col("c_s")).as("c_r"))
    val tot = ref.agg(sum(col("c_r")).as("n_r"))
    grpTot.crossJoin(broadcast(ref)).crossJoin(broadcast(tot))
      .join(b, Seq(groupCol, bucketCol), "left")
      .select(col(groupCol), col("n_s"),
        expr("coalesce(c_s, CAST(0 AS BIGINT)) * 1000000 div n_s").as("p_s"),
        expr("c_r * 1000000 div n_r").as("p_r"))
      .groupBy(col(groupCol))
      .agg(min(col("n_s")).as("n_docs"),
        sum(expr("((p_s - p_r) * (p_s - p_r)) div greatest(p_r, CAST(1 AS BIGINT))"))
          .as("drift_score"))
  }

  /** Inner equi-join `skewed ⋈ other` on `key`, salted `nSalts` ways.
    * Result rows are identical to a plain inner join: each skewed-side
    * row carries exactly one salt and the other side replicates across
    * all salts, so every matching pair meets exactly once.
    *
    * `saltCols` is the salt's hash basis. Default (empty) = the whole
    * row — always correct, but referencing every column DEFEATS COLUMN
    * PRUNING on the skewed side's scan (SCANAUDIT_r14: the C47 query
    * read orders 6/6 columns for a 2-column projection; at 100 TB
    * that is the whole fact table's width in wasted I/O). When the
    * skewed side has a unique id, pass it: a unique basis spreads a
    * hot key's rows exactly as well, placement stays deterministic
    * (reruns and retries see the same salt, keeping shuffle-file
    * reuse valid — why this is a hash, not rand()), and the result
    * set is basis-independent either way (salt only picks WHICH task
    * a pair meets in, never whether it meets). */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
                 nSalts: Int, saltCols: Seq[String] = Nil): DataFrame = {
    val basis = if (saltCols.isEmpty) skewed.columns.toSeq else saltCols
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(struct(basis.map(col): _*)), lit(nSalts)).cast("int"))
    val replicated = other.withColumn("__salt",
      explode(array((0 until nSalts).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
