package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** STREAMING CEP episode matching — the live twin of
  * [[graft.operators.Cep.nextMatchEpisodes]] (skip-till-next-match
  * NEXT/FOLLOWED-BY chains, the deterministic core of a Flink-CEP
  * pattern): per trigger event, bind each later step to the earliest
  * same-key event of that type at-or-after the previous binding,
  * WITHIN the episode window.
  *
  * EMISSION IS WATERMARK-CORRECT, NOT EAGER: binding greedily on
  * arrival would bind a later event when an earlier one is still in
  * flight (late but inside the watermark), silently diverging from
  * the batch result. Instead every candidate event buffers in state,
  * one event-time timer per episode fires at `trigger_ts + window`
  * once the WATERMARK passes it — every bindable event is final by
  * then — and the episode binds deterministically ((ts, id) order,
  * smallest id at an instant, the batch tie contract) and emits
  * exactly once. The spec feeds the same stream in adversarial
  * micro-batch slicings (including a late-but-in-watermark step
  * arriving after its binder would have fired eagerly) and pins
  * equality with the batch operator.
  *
  * BATCH-PARITY CONTRACT: completed episodes equal the batch
  * `completed = true` rows exactly (step ids included). A batch
  * dangling row may still record step bindings arbitrarily far past
  * the window (it binds first, then flags); the stream cannot wait
  * past the watermark, so expired episodes emit with the bindings
  * that fit the window and `completed = false` — same trigger set,
  * documented truncation of the binding columns.
  *
  * State per key: open triggers (16 bytes each) + buffered step-type
  * events (24 bytes each), pruned at every timer to events still
  * bindable by a live episode (`ts + window ≥ watermark`) — the
  * buffer horizon is one episode window, exactly the
  * dedupWithinWatermark retention shape. */
object TwsCep {

  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                event_type: String)
  case class Episode(user_id: Long, trigger_id: Long, trigger_ts: Long,
                     step_ids: Seq[Long], completed: Boolean)

  class EpisodeMatcher(steps: Seq[String], windowMs: Long)
      extends StatefulProcessor[Long, Ev, Episode] {

    @transient private var open: ListState[(Long, Long)] = _
    @transient private var buf: ListState[(Long, Long, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getListState("open",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      buf = getHandle.getListState("buf",
        Encoders.product[(Long, Long, String)], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[Episode] = {
      val later = steps.tail.toSet
      val timers = scala.collection.mutable.Set.empty[Long]
      timers ++= getHandle.listTimers()
      rows.foreach { r =>
        val ms = r.ts.getTime
        if (r.event_type == steps.head) {
          open.appendValue((r.event_id, ms))
          // +1: an event exactly at trigger+window is bindable
          // (inclusive window), so it must be final before the fire
          val at = ms + windowMs + 1
          if (timers.add(at)) getHandle.registerTimer(at)
        }
        // step types are distinct by contract (episodes() requires
        // it), so the trigger type is never also a later step; the
        // buffer covers later-step bindings only
        if (later.contains(r.event_type))
          buf.appendValue((ms, r.event_id, r.event_type))
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Episode] = {
      val expiry = info.getExpiryTimeInMs()
      val allOpen = if (open.exists()) open.get().toArray else Array.empty[(Long, Long)]
      val (due, stillOpen) = allOpen.partition(_._2 + windowMs + 1 <= expiry)
      val events = (if (buf.exists()) buf.get().toArray
        else Array.empty[(Long, Long, String)]).sortBy(e => (e._1, e._2))
      val out = due.sortBy(t => (t._2, t._1)).map { case (trigId, trigMs) =>
        var prevMs = trigMs
        val bound = Vector.newBuilder[Long]
        var n = 0
        var ok = true
        steps.drop(1).foreach { st =>
          if (ok) {
            events.find(e => e._3 == st && e._1 >= prevMs &&
              e._1 <= trigMs + windowMs) match {
              case Some((ms, id, _)) => bound += id; prevMs = ms; n += 1
              case None => ok = false
            }
          }
        }
        Episode(key, trigId, trigMs, bound.result(), n == steps.size - 1)
      }
      if (stillOpen.isEmpty) open.clear() else open.put(stillOpen)
      // retention: an event is dead once no live or future episode can
      // bind it — future triggers have ts ≥ watermark, so anything
      // older than watermark − window is out of every FUTURE window;
      // but one watermark jump can cross several timer expiries for this
      // key, and this (first-firing) invocation must not prune events a
      // surviving open trigger can still bind — clamp the horizon to the
      // earliest surviving trigger ts (its window starts there).
      val openFloor =
        if (stillOpen.isEmpty) Long.MaxValue else stillOpen.iterator.map(_._2).min
      val horizon = math.max(
        math.min(tv.getCurrentWatermarkInMs() - windowMs, openFloor), 0L)
      val keep = events.filter(_._1 >= horizon)
      if (keep.isEmpty) buf.clear() else buf.put(keep)
      out.iterator
    }
  }

  /** Streaming events frame (`user_id, ts, event_id, event_type`) →
    * watermark-final episodes. `delay` is the watermark lateness
    * allowance. */
  def episodes(events: DataFrame, steps: Seq[String], windowSecs: Long,
               delay: String): Dataset[Episode] = {
    import events.sparkSession.implicits._
    require(steps.size >= 2, s"need at least trigger + 1 step, got $steps")
    // same restriction as the batch matcher (Cep.nextMatchEpisodes):
    // repeated step types would let a tied-timestamp event bind twice
    require(steps.distinct.size == steps.size,
      s"steps must be distinct event types, got $steps")
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_id").cast("long").as("event_id"),
        col("event_type").cast("string").as("event_type"))
      .withWatermark("ts", delay)
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new EpisodeMatcher(steps, windowSecs * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
