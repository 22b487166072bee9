package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time window aggregations — batch expressions of the
  * reference's `TUMBLE(OrderAsOf, INTERVAL '10' MINUTE)` group window
  * (`output.sql`) plus the hop/session variants every stream engine
  * pairs with it. The same `window()`/`session_window()` calls run
  * unchanged under Structured Streaming with a watermark
  * (see `graft.streaming.CdcPipeline`, [[sessions]] and
  * [[dayGapMoments]]): window finality is the engine's watermark, not
  * per-operator timer code.
  *
  * Scale: tumble/hop are pure projections before a hash aggregate —
  * partial (map-side) aggregation happens before the shuffle, so bytes
  * shuffled ∝ groups, not rows. Session windows require per-key
  * ordering: Spark's `session_window` agg shuffles once on the group
  * keys and merges sessions within partitions.
  */
object Windows {

  /** Fixed (tumbling) windows of `width` on `ts`. */
  def tumble(df: DataFrame, ts: String, width: String,
             groupCols: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(ts), width) +: groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")

  /** Sliding (hopping) windows: `width` every `slide`. */
  def hop(df: DataFrame, ts: String, width: String, slide: String,
          groupCols: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(ts), width, slide) +: groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")

  /** Session windows with `gap` inactivity timeout per group key. */
  def session(df: DataFrame, ts: String, gap: String,
              groupCols: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(session_window(col(ts), gap) +: groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .drop("session_window")

  /** Gap-island sessions per user (B32 `sessionize`) on an events frame
    * (`user_id, ts`): `(user_id, start_ms, end_ms, n_events)`, where
    * `end_ms` is the session's last event. Events chain while the next
    * one is at most `gapSecs` later: `diff == gap` joins, `diff == gap +
    * 1 ms` splits — the batch rule `diff > gap`, which [[session]] at
    * `gap` keeps because Spark merges a session that starts exactly at
    * the previous one's end (last event + gap).
    *
    * `delay` is the watermark lateness allowance and has no effect on a
    * batch frame. On a stream, out-of-order fragments merge in Spark's
    * session state, and a session emits once (append mode) when the
    * watermark passes its last event + gap. */
  def sessions(events: DataFrame, gapSecs: Long, delay: String): DataFrame =
    session(
      events.select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts")).withWatermark("ts", delay),
      "ts", s"$gapSecs seconds", Seq(col("user_id")),
      Seq(max(col("ts")).as("last"), count(lit(1)).as("n_events")))
      .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("last")).as("end_ms"), col("n_events"))

  /** Integer inter-arrival gap moments per (event_type, UTC day) on the
    * seconds grid — the inputs of the B119 burstiness index
    * B = (√D − S)/(√D + S), D = n_gaps·Σg² − S²:
    * `(event_type, day, n_events, n_gaps, sum_gap_s, sum_gap2_s)` for
    * every (type, day) with at least two events. Same-second events
    * add zero-length gaps (they still count in `n_gaps`), so Σgap
    * telescopes to last − first and only steps between occupied
    * seconds carry squared mass; the aggregate keeps the day's
    * distinct seconds, so state is ≤ 86 400 entries per (type, day)
    * whatever the day's volume.
    *
    * `delay` is the watermark lateness allowance and has no effect on a
    * batch frame. On a stream, a day emits once (append mode) when the
    * watermark reaches its exclusive end. */
  def dayGapMoments(events: DataFrame, delay: String): DataFrame =
    tumble(
      events.select(col("event_type").cast("string").as("event_type"),
        col("ts").cast("timestamp").as("ts")).withWatermark("ts", delay),
      "ts", "1 day", Seq(col("event_type")),
      Seq(count(lit(1)).as("n_events"),
        array_sort(collect_set(col("ts").cast("long"))).as("secs")))
      .filter(col("n_events") >= 2)
      .select(col("event_type"),
        (unix_seconds(col("window_start")) / 86400L).cast("long").as("day"),
        col("n_events"), (col("n_events") - 1L).as("n_gaps"),
        (element_at(col("secs"), -1) - element_at(col("secs"), 1)).as("sum_gap_s"),
        expr("aggregate(transform(slice(secs, 2, size(secs) - 1), " +
          "(s, i) -> s - secs[i]), 0L, (acc, g) -> acc + g * g)").as("sum_gap2_s"))

  /** Dense hourly gap fill per key: an hourly spine between each key's
    * first and last event, left-joined back and zero-filled.
    *
    * `maxSpineHours` caps the generated spine per key: the spine is
    * O(span × keys) — at 100 TB a single key spanning years would
    * explode the sequence; the cap bounds row amplification and is
    * the knob a pipeline sets to its SLA horizon. `None` = unbounded
    * (matches the SQL-oracle semantics). */
  def gapFillHourly(df: DataFrame, keyCol: String, ts: String,
                    maxSpineHours: Option[Int] = None): DataFrame = {
    require(maxSpineHours.forall(_ > 0),
      s"maxSpineHours must be positive, got $maxSpineHours")
    val hourly = df.groupBy(col(keyCol),
        date_trunc("hour", col(ts)).as("hour_start"))
      .agg(count(lit(1)).as("n_events"))
    val bounds = df.groupBy(col(keyCol))
      .agg(min(date_trunc("hour", col(ts))).as("t0"),
        max(date_trunc("hour", col(ts))).as("t1"))
    val capped = maxSpineHours match {
      case Some(h) => bounds.withColumn("t1",
        least(col("t1"), col("t0") + expr(s"INTERVAL ${h - 1} HOUR")))
      case None => bounds
    }
    val spine = capped.select(col(keyCol),
      explode(expr("sequence(t0, t1, INTERVAL 1 HOUR)")).as("hour_start"))
    spine.join(hourly, Seq(keyCol, "hour_start"), "left")
      .select(col(keyCol), col("hour_start"),
        coalesce(col("n_events"), lit(0L)).as("n_events_filled"))
  }

  /** Interval-intersection alignment of two per-key interval frames —
    * the temporal-algebra join behind "how much of each session fell
    * inside an incident window", SCD2-era × activity-period overlap
    * reports, and any two-timeline reconciliation. For every pair of
    * same-key intervals that OVERLAP (closed intervals:
    * `aStart ≤ bEnd ∧ bStart ≤ aEnd`), emits both source intervals
    * plus the intersection `[greatest(starts), least(ends)]` and its
    * width in seconds.
    *
    * Scale: ONE equi-join shuffled on the key; the overlap predicate
    * evaluates post-join, so per-key cost is intervals_a × intervals_b
    * FOR THAT KEY — both sides are aggregated interval frames
    * (sessions, eras), orders of magnitude smaller than their event
    * inputs, and real keys carry few intervals. Timestamps
    * compare as integers — engine-exact, SQL-oracle replayable.
    *
    * HOT KEYS: a key owning a large share of either side makes the
    * key-shuffled join a one-reducer stall (that key's entire
    * intervals_a × intervals_b product lands on one task). `nSalts > 1`
    * switches to the [[Skew.saltedJoin]] pair path — the a-side salts
    * by row hash, the b-side replicates ×nSalts, so the hot key's pair
    * product spreads across nSalts tasks. Output identical (each (a, b)
    * pair joins under exactly one salt; OperatorSpec pins equality on
    * an adversarial frame where one key owns half of all intervals).
    * The b-side replication costs nSalts× its scan — cheap, interval
    * frames are small by construction. */
  def intervalAlign(a: DataFrame, b: DataFrame, key: String,
                    aStart: String, aEnd: String,
                    bStart: String, bEnd: String,
                    nSalts: Int = 1): DataFrame = {
    require(nSalts >= 1, s"nSalts ($nSalts) must be >= 1")
    val bb = b.withColumnRenamed(key, "__bk")
    val joined =
      if (nSalts == 1)
        a.join(bb, col(key) === col("__bk") &&
          col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd))
      else
        Skew.saltedJoin(a, b, key, nSalts)
          .filter(col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd))
    joined
      .drop("__bk")
      .withColumn("ov_start", greatest(col(aStart), col(bStart)))
      .withColumn("ov_end", least(col(aEnd), col(bEnd)))
      .withColumn("ov_secs",
        col("ov_end").cast("long") - col("ov_start").cast("long"))
  }

  /** Merged-interval (union) coverage per key over half-open integer
    * intervals [start, end): overlapping/adjacent-overlapping
    * intervals collapse into islands via the classic running-max-end
    * scan, and the summary reports per-key totals. Intervals with
    * `start > end` are the caller's bug (not validated here); ties in
    * (start, end) break on `tieCols`, which must make the ordering a
    * total order for the island ids to be deterministic.
    *
    * Scale: ONE key-partitioned shuffle; the island scan is a single
    * sorted window pass (two window functions sharing the sort), the
    * summary a map-side-combined agg — per-key cost is n·log n in that
    * key's intervals, never pairwise.
    */
  def intervalUnion(df: DataFrame, key: String, start: String, end: String,
                    tieCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = (col(start).asc +: col(end).asc +: tieCols.map(col(_).asc))
    val byStart = Window.partitionBy(col(key)).orderBy(order: _*)
    val prevMax = byStart.rowsBetween(Window.unboundedPreceding, -1)
    val islands = df
      .withColumn("__prev_end", max(col(end)).over(prevMax))
      .withColumn("__new_island",
        when(col("__prev_end").isNull || col(start) > col("__prev_end"), 1L)
          .otherwise(0L))
      .withColumn("__island_id", sum(col("__new_island")).over(
        byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(key), col("__island_id"))
      .agg(count(lit(1)).as("__n_iv"), min(col(start)).as("__i0"),
        max(col(end)).as("__i1"))
    islands.groupBy(col(key))
      .agg(sum(col("__n_iv")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__i1") - col("__i0")).as("covered"),
        (max(col("__i1")) - min(col("__i0"))).as("span"))
  }
}
