package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** STREAMING MEAN-SHIFT detection — the live twin of the batch
  * two-window changepoint rule (B77 `mean_shift_detect`): per key, a
  * point is a level shift when the sum of the `win` observations from
  * it (inclusive) moves more than `win·threshCents` against the sum
  * of the `win` strictly before it, both windows full.
  *
  * WATERMARK-FINAL CONTRACT: a point's verdict depends on the `win`
  * events that FOLLOW it in final event-time order, so it may emit
  * only when its win-th follower is provably complete — i.e. the
  * watermark has passed that follower's timestamp (any event that
  * could still slot in at or before it would be below the watermark
  * and late-dropped by contract). Emitting on arrival order instead
  * would mis-window any point whose followers arrive out of order;
  * the spec feeds exactly that slicing and pins equality with the
  * batch frames.
  *
  * MECHANICS: events buffer in per-key list state; each micro-batch
  * registers ONE event-time timer at its max event time + 1. A firing timer sorts the buffer,
  * walks points past the emission cursor whose win-th follower is
  * final (`follower.ts + 1 <= expiry` — finality is monotone along
  * the sort, so the walk breaks at the first non-final point), emits
  * the flagged ones, advances the cursor, and prunes every event more
  * than `win` positions behind the first unevaluated point. State per
  * key is therefore the undetermined tail: ≤ 2·win events plus
  * whatever the watermark still holds open — constant per key at any
  * stream length. Keys shard by hash like every Tws operator; RocksDB
  * holds the tails on the large-state path.
  */
object TwsMeanShift {

  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                cents: Long)
  case class Shift(user_id: Long, event_id: Long, ms: Long,
                   before_sum: Long, after_sum: Long, shift_cents: Long)

  class Detector(win: Int, threshCents: Long)
    extends StatefulProcessor[Long, Ev, Shift] {

    @transient private var buf: ListState[(Long, Long, Long)] = _
    @transient private var cursor: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState("buf",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
      cursor = getHandle.getValueState("cur",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[Shift] = {
      val timers = scala.collection.mutable.Set.empty[Long]
      timers ++= getHandle.listTimers()
      var mx = Long.MinValue
      rows.foreach { r =>
        val ms = r.ts.getTime
        buf.appendValue((ms, r.event_id, r.cents))
        if (ms > mx) mx = ms
      }
      // +1: fires at the first instant the watermark proves this
      // batch's own events can serve as final followers
      if (mx != Long.MinValue) {
        val at = mx + 1
        if (timers.add(at)) getHandle.registerTimer(at)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Shift] = {
      val expiry = info.getExpiryTimeInMs()
      val evs = (if (buf.exists()) buf.get().toArray
        else Array.empty[(Long, Long, Long)]).sortBy(e => (e._1, e._2))
      if (evs.isEmpty) return Iterator.empty
      val cur = if (cursor.exists()) cursor.get() else (Long.MinValue, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer.empty[Shift]
      var lastEval = -1
      var i = 0
      var broke = false
      while (i < evs.length && !broke) {
        val p = evs(i)
        // win-th follower final? (monotone along the sort — break once
        // false; an equal-ts late event would be below the watermark)
        if (i + win - 1 < evs.length && evs(i + win - 1)._1 + 1 <= expiry) {
          if (p._1 > cur._1 || (p._1 == cur._1 && p._2 > cur._2)) {
            lastEval = i
            if (i >= win) {
              var before = 0L; var after = 0L
              var j = i - win
              while (j < i) { before += evs(j)._3; j += 1 }
              j = i
              while (j < i + win) { after += evs(j)._3; j += 1 }
              if (math.abs(after - before) > win.toLong * threshCents)
                out += Shift(key, p._2, p._1, before, after,
                  if (after >= before) (after - before) / win
                  else -((before - after) / win))
            }
          } else lastEval = i // already emitted; still usable context
        } else broke = true
        i += 1
      }
      if (lastEval >= 0) {
        cursor.update((evs(lastEval)._1, evs(lastEval)._2))
        // the first unevaluated point is lastEval + 1; it needs the
        // win events before it — everything earlier is dead context
        val keepFrom = math.max(0, lastEval + 1 - win)
        if (keepFrom > 0) {
          val keep = evs.drop(keepFrom)
          if (keep.isEmpty) buf.clear() else buf.put(keep)
        }
      }
      out.iterator
    }
  }

  /** Streaming events frame (`user_id, ts, event_id, cents`) →
    * watermark-final mean-shift flags. `delay` is the watermark
    * lateness allowance; `win`/`threshCents` match B77 (8, ¢30). */
  def shifts(events: DataFrame, delay: String, win: Int = 8,
             threshCents: Long = 3000L): Dataset[Shift] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_id").cast("long").as("event_id"),
        col("cents").cast("long").as("cents"))
      .withWatermark("ts", delay)
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new Detector(win, threshCents),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
