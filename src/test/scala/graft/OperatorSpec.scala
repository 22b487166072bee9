package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Cdc, RangeJoin}

/** Batch operator semantics on hand-built frames. */
class OperatorSpec extends SparkTestBase {
  import java.time.Instant
  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  test("latestImage: newest wins, tombstone removes, seq breaks ties") {
    import spark.implicits._
    val chg = Seq(
      (1L, "v1", ts("2024-01-01T00:00:00Z"), 1, "I"),
      (1L, "v2", ts("2024-01-01T01:00:00Z"), 2, "U"), // newest for key 1
      (2L, "x1", ts("2024-01-01T00:00:00Z"), 1, "I"),
      (2L, "x2", ts("2024-01-01T02:00:00Z"), 2, "D"), // tombstoned
      (3L, "a", ts("2024-01-01T00:00:00Z"), 1, "I"),
      (3L, "b", ts("2024-01-01T00:00:00Z"), 2, "U")   // same ts, higher seq
    ).toDF("k", "v", "op_ts", "seq", "manip")
    val got = Cdc.latestImage(chg, "k")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "v2", 3L -> "b"))
  }

  test("asof join picks latest right <= left ts, null when none") {
    import spark.implicits._
    val left = Seq(
      (10L, ts("2024-01-01T10:00:00Z"), "e1"),
      (10L, ts("2024-01-01T12:00:00Z"), "e2"),
      (20L, ts("2024-01-01T10:00:00Z"), "e3"), // before any right row
      (30L, ts("2024-01-01T10:00:00Z"), "e4")  // key with no right rows
    ).toDF("k", "t", "name")
    val right = Seq(
      (10L, ts("2024-01-01T09:00:00Z"), 100.0),
      (10L, ts("2024-01-01T11:00:00Z"), 200.0),
      (10L, ts("2024-01-01T12:00:00Z"), 300.0), // == e2's ts → counts
      (20L, ts("2024-01-01T11:00:00Z"), 400.0)
    ).toDF("rk", "rt", "price")
    val got = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt", Seq("price"))
      .select("name", "price").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got == Map("e1" -> Some(100.0), "e2" -> Some(300.0),
      "e3" -> None, "e4" -> None))
  }

  test("forward asof picks earliest right >= left ts, smallest tie-break, null when none") {
    import spark.implicits._
    val left = Seq(
      (10L, ts("2024-01-01T10:00:00Z"), "e1"),
      (10L, ts("2024-01-01T12:00:00Z"), "e2"), // == right ts → counts
      (10L, ts("2024-01-01T13:00:00Z"), "e3"), // after all right rows
      (30L, ts("2024-01-01T10:00:00Z"), "e4")  // key with no right rows
    ).toDF("k", "t", "name")
    val right = Seq(
      (10L, ts("2024-01-01T09:00:00Z"), 100.0),
      (10L, ts("2024-01-01T11:00:00Z"), 250.0),
      (10L, ts("2024-01-01T11:00:00Z"), 200.0), // same instant: smallest wins
      (10L, ts("2024-01-01T12:00:00Z"), 300.0)
    ).toDF("rk", "rt", "price")
    val got = AsOfJoin.leftAsOfForward(left, right, "k", "rk", "t", "rt",
        Seq("price"), rightTieBreak = Seq("price"))
      .select("name", "price").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got == Map("e1" -> Some(200.0), "e2" -> Some(300.0),
      "e3" -> None, "e4" -> None))
  }

  test("range join equals the naive theta join") {
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val iv = ev.filter(col("event_id") % 7 === 0)
      .select(col("event_id").as("iv_id"), col("user_id").as("iv_user"),
        col("ts").as("t0"), (col("ts") + expr("INTERVAL 10 MINUTES")).as("t1"))
    val bucketed = RangeJoin.pointInInterval(ev, iv,
        "user_id", "iv_user", "ts", "t0", "t1", bucketWidthSec = 600)
      .select("iv_id", "event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = ev.join(iv,
        col("user_id") === col("iv_user") && col("ts") >= col("t0") && col("ts") < col("t1"))
      .select("iv_id", "event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == naive && bucketed.nonEmpty)
  }

  test("salted join returns exactly the plain join's rows") {
    import spark.implicits._
    // heavy skew: 90% of left rows share key 1
    val left = (1 to 1000).map(i => (if (i % 10 == 0) i.toLong else 1L, i))
      .toDF("k", "v")
    val right = (1 to 100).map(i => (i.toLong, s"dim$i")).toDF("k", "d")
    val plain = left.join(right, "k").select("k", "v", "d")
      .collect().map(_.toSeq).toSet
    val salted = graft.operators.Skew.saltedJoin(left, right, "k", nSalts = 8)
      .select("k", "v", "d").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("enrichSalted: salted fallback equals the shuffled enrich, plan is salted") {
    import spark.implicits._
    // the fallback case: a non-broadcastable enrichment + a hot-keyed
    // fact side (90% of facts share one key)
    val facts = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 1L, i))
      .toDF("k", "v")
    val dim = (1 to 200).map(i => (i.toLong, s"dim$i")).toDF("k", "d")
    val plain = graft.operators.EnrichmentJoin
      .enrich(facts, dim, "k", broadcastEnrichment = false)
      .collect().map(_.toSeq).toSet
    val salted = graft.operators.EnrichmentJoin.enrichSalted(facts, dim, "k", nSalts = 8)
    assert(salted.collect().map(_.toSeq).toSet == plain && plain.nonEmpty)
    // plan shape: the join runs on (k, __salt) — the hot key is spread
    // over 8 reducers — and is NOT a broadcast join
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), plan)
  }

  test("equi_depth_quartiles equals the sorted-rank definition") {
    val rows = sources.Tables.events(spark, sfDir).select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val expect = rows.groupBy(_._1).map { case (t, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length.toLong
      def q(rank: Long) = sorted((rank - 1).toInt)
      (t, q((n + 3) / 4), q((n + 1) / 2), q((3 * n + 3) / 4), n)
    }.toSet
    val got = SparkEntry.queries("equi_depth_quartiles")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("keySkew ranks hot keys with share and multiple-of-mean") {
    import spark.implicits._
    // 500 rows on one key, 100 on another, 50 singletons: 52 keys,
    // 650 rows, mean weight 650/52 = 12.5
    val rows = ((1 to 500).map(_ => 1000L) ++ (1 to 100).map(_ => 2000L) ++
      (1L to 50L)).map(k => (k, "x")).toDF("k", "v")
    val got = graft.operators.Skew.keySkew(rows, "k", topN = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val expect = Set(
      (1000L, 500L, 500L * 10000 / 650, 500L * 1000 * 52 / 650, 1L),
      (2000L, 100L, 100L * 10000 / 650, 100L * 1000 * 52 / 650, 2L),
      (1L, 1L, 1L * 10000 / 650, 1L * 1000 * 52 / 650, 3L))
    assert(got == expect, got.toString)
  }

  test("cep episodes: skip-till-next binds earliest step, dangles cleanly, respects window") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: click@5 BEFORE the trigger is ignored; trigger view@10
    // binds click@20 (not click@30), then purchase@40 → completed.
    // user 2: view@10 → click@20 but purchase@5000 misses the 100s
    // window → bound but completed=false.
    // user 3: view@10 with no click → both steps dangle.
    // user 4: simultaneous clicks at the bind instant → smallest id.
    val ev = Seq(
      (100L, 1L, 5L, "click"), (101L, 1L, 10L, "view"),
      (102L, 1L, 20L, "click"), (103L, 1L, 30L, "click"),
      (104L, 1L, 40L, "purchase"),
      (200L, 2L, 10L, "view"), (201L, 2L, 20L, "click"),
      (202L, 2L, 5000L, "purchase"),
      (300L, 3L, 10L, "view"),
      (400L, 4L, 10L, "view"), (402L, 4L, 15L, "click"),
      (401L, 4L, 15L, "click"), (403L, 4L, 16L, "purchase"))
      .map { case (id, u, t, ty) => (id, u, ts(t), ty) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Cep.nextMatchEpisodes(ev, "user_id", "ts",
        "event_id", "event_type", Seq("view", "click", "purchase"), 100L)
      .select(col("trigger_id"), col("s1_id"), col("s2_id"), col("completed"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .toSet
    val want = Set(
      (101L, 102L, 104L, true),   // earliest click after trigger, in window
      (200L, 201L, 202L, false),  // bound, outside window
      (300L, -1L, -1L, false),    // dangling chain
      (400L, 401L, 403L, true))   // tie at instant → smallest id
    assert(got == want, s"engine $got != $want")
  }

  test("cep episodes: repeated step types are rejected, not mis-bound") {
    import spark.implicits._
    val ev = Seq((1L, 1L, new java.sql.Timestamp(1000L), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
    // view,click,click could bind one tied-timestamp click to two
    // consecutive steps — the operator refuses the pattern explicitly
    assertThrows[IllegalArgumentException] {
      graft.operators.Cep.nextMatchEpisodes(ev, "user_id", "ts",
        "event_id", "event_type", Seq("view", "click", "click"), 100L)
    }
  }

  test("intervalAlign: partial/nested/point-touch overlaps emit, disjoint and cross-key don't") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // key 1: a=[10,20]; b partial [15,25], nested [12,13], touch [20,30],
    // disjoint [21,40] (closed-interval: touch at 20 overlaps, 21 doesn't)
    val a = Seq((1L, ts(10), ts(20)), (2L, ts(100), ts(200)))
      .toDF("k", "a_start", "a_end")
    val b = Seq((1L, ts(15), ts(25)), (1L, ts(12), ts(13)), (1L, ts(20), ts(30)),
      (1L, ts(21), ts(40)), (3L, ts(10), ts(20))).toDF("k", "b_start", "b_end")
    val got = graft.operators.Windows
      .intervalAlign(a, b, "k", "a_start", "a_end", "b_start", "b_end")
      .select(col("k"), col("ov_start").cast("long"),
        col("ov_end").cast("long"), col("ov_secs"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 15L, 20L, 5L),  // partial
      (1L, 12L, 13L, 1L),  // nested
      (1L, 20L, 20L, 0L))  // point-touch
    assert(got == want, s"engine $got != $want")
  }

  test("intervalUnion: hand-built islands — overlap merges, gap splits, " +
    "containment collapses") {
    import spark.implicits._
    // key 1: [0,10) + [5,15) merge (covered 15), [20,25) separate;
    // key 2: [0,100) contains [10,20) — one island, covered 100
    val df = Seq(
      (1L, 0L, 10L, 1L), (1L, 5L, 15L, 2L), (1L, 20L, 25L, 3L),
      (2L, 0L, 100L, 4L), (2L, 10L, 20L, 5L)
    ).toDF("k", "s", "e", "tie")
    val got = graft.operators.Windows.intervalUnion(df, "k", "s", "e", Seq("tie"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((3L, 2L, 20L, 25L)), s"key 1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 100L, 100L)), s"key 2: ${got(2L)}")
  }

  test("intervalUnion matches a Scala brute-force sweep on random intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map { i =>
      val s = rnd.nextInt(200).toLong
      (rnd.nextInt(8).toLong, s, s + 1 + rnd.nextInt(30), i.toLong)
    }
    val got = graft.operators.Windows
      .intervalUnion(rows.toDF("k", "s", "e", "tie"), "k", "s", "e", Seq("tie"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    rows.groupBy(_._1).foreach { case (k, iv) =>
      val pts = iv.flatMap(r => r._2 until r._3).toSet
      // brute force: mark covered integer points; islands = runs
      val covered = pts.size.toLong
      val span = iv.map(_._3).max - iv.map(_._2).min
      val nIslands = pts.toSeq.sorted
        .foldLeft((0L, Long.MinValue)) { case ((n, prev), p) =>
          (if (p == prev + 1) n else n + 1, p)
        }._1
      assert(got(k) == ((iv.size.toLong, nIslands, covered, span)), s"key $k")
    }
  }

  test("intervalAlign salted path: identical pairs under a key owning " +
    "half of all intervals; salt reaches the join keys") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // adversarial skew: key 7 owns 50% of BOTH sides (200 of 400
    // a-intervals, 100 of 200 b-intervals); the rest spread over 200 keys
    val rnd = new scala.util.Random(3)
    val aRows = (0 until 200).map(i =>
        (7L, ts(rnd.nextInt(5000).toLong), ts(rnd.nextInt(5000).toLong + 5000L))) ++
      (0 until 200).map(i => ((i % 200).toLong + 100L,
        ts(rnd.nextInt(5000).toLong), ts(rnd.nextInt(5000).toLong + 5000L)))
    val bRows = (0 until 100).map(i =>
        (7L, ts(rnd.nextInt(5000).toLong), ts(rnd.nextInt(5000).toLong + 5000L))) ++
      (0 until 100).map(i => ((i % 200).toLong + 100L,
        ts(rnd.nextInt(5000).toLong), ts(rnd.nextInt(5000).toLong + 5000L)))
    val a = aRows.toDF("k", "a_start", "a_end")
    val b = bRows.toDF("k", "b_start", "b_end")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("k"), col("a_start"), col("a_end"), col("b_start"),
          col("b_end"), col("ov_start"), col("ov_end"), col("ov_secs"))
        .collect().map(_.toString).sorted.toSeq
    val plain = graft.operators.Windows
      .intervalAlign(a, b, "k", "a_start", "a_end", "b_start", "b_end")
    val salted = graft.operators.Windows
      .intervalAlign(a, b, "k", "a_start", "a_end", "b_start", "b_end",
        nSalts = 8)
    assert(rows(salted) == rows(plain), "salted pair set diverged")
    assert(rows(plain).nonEmpty)
    // the hot key's pair product actually spreads: the salt column is a
    // join key in the physical plan
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt not in the join keys:\n$plan")
  }

  test("distributionDrift: pooled-shaped group scores floor dust, disjoint group dominates") {
    import spark.implicits._
    // group a: 90+90 rows on buckets 1/2 (shape ≈ pooled); group b:
    // 20 rows on a bucket only it occupies
    val items = ((1 to 90).map(_ => ("a", 1L)) ++ (1 to 90).map(_ => ("a", 2L)) ++
      (1 to 20).map(_ => ("b", 3L))).toDF("g", "bucket")
    val got = graft.operators.Skew.distributionDrift(items, "g", "bucket")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // driver-side replay of the exact ppm integer formula
    def drift(own: Map[Long, Long], nS: Long): Long = {
      val ref = Map(1L -> 90L, 2L -> 90L, 3L -> 20L)
      val nR = 200L
      ref.keys.toSeq.map { b =>
        val pS = own.getOrElse(b, 0L) * 1000000L / nS
        val pR = ref(b) * 1000000L / nR
        (pS - pR) * (pS - pR) / math.max(pR, 1L)
      }.sum
    }
    val want = Map(
      "a" -> (180L, drift(Map(1L -> 90L, 2L -> 90L), 180L)),
      "b" -> (20L, drift(Map(3L -> 20L), 20L)))
    assert(got == want, s"engine $got != replay $want")
    assert(got("b")._2 > got("a")._2 * 10, "disjoint group must dominate")
    // a single group IS the pooled reference: drift exactly 0
    val solo = (1 to 30).map(i => ("only", (i % 3).toLong)).toDF("g", "bucket")
    val soloGot = graft.operators.Skew.distributionDrift(solo, "g", "bucket")
      .as[(String, Long, Long)].collect().toSeq
    assert(soloGot == Seq(("only", 30L, 0L)), soloGot.toString)
  }

  test("enrichment join drops the enrichment's key copy from output") {
    import spark.implicits._
    val stream = Seq((1L, "o1"), (2L, "o2")).toDF("k", "payload")
    val enr = Seq((1L, "dim1")).toDF("k", "dim")
    val out = graft.operators.EnrichmentJoin.enrich(stream, enr, "k")
    assert(out.columns.count(_ == "k") == 1) // deduped like the reference
    assert(out.collect().map(_.getString(2)).toSeq == Seq("dim1"))
    // shuffle-join fallback (non-broadcastable enrichment) agrees
    val noBc = graft.operators.EnrichmentJoin
      .enrich(stream, enr, "k", broadcastEnrichment = false)
    assert(noBc.collect().map(_.toSeq).toSet == out.collect().map(_.toSeq).toSet)
  }

  test("approx_sketch: bound booleans all hold; sketch values within tolerance") {
    import org.apache.spark.sql.functions._
    // the published contract: every bound boolean true on this engine
    val out = SparkEntry.queries("approx_sketch")(spark, sfDir).collect()
    assert(out.length == 5)
    for (r <- out)
      assert(r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5),
        s"${r.getString(0)}: bound violated in $r")
    // the direct numeric-tolerance check on the sketch values the
    // query no longer outputs (engine-specific, can't be oracle'd)
    val sk = sources.Tables.events(spark, sfDir).groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("an"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("a50"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("a95"),
        countDistinct(col("user_id")).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"))
      .collect()
    for (r <- sk) {
      val k = r.getString(0)
      assert(math.abs(r.getLong(1) - r.getLong(4)).toDouble / r.getLong(4) < 0.05,
        s"$k: hll ${r.getLong(1)} vs ${r.getLong(4)}")
      // accuracy=10000 → rank error ~1e-4; values are continuous, so
      // allow a small relative envelope
      assert(math.abs(r.getDouble(2) - r.getDouble(5)) <= math.abs(r.getDouble(5)) * 0.05 + 1.0,
        s"$k: p50 ${r.getDouble(2)} vs ${r.getDouble(5)}")
      assert(math.abs(r.getDouble(3) - r.getDouble(6)) <= math.abs(r.getDouble(6)) * 0.05 + 1.0,
        s"$k: p95 ${r.getDouble(3)} vs ${r.getDouble(6)}")
    }
  }

  test("gapFillHourly: dense zero-filled spine; cap bounds a key's span") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01T00:10:00Z")),
      (1L, ts("2024-01-01T03:40:00Z")), // 4-hour span, 2 active hours
      (2L, ts("2024-01-01T05:00:00Z"))
    ).toDF("user_id", "ts")
    val full = graft.operators.Windows.gapFillHourly(ev, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toString, r.getLong(2)))
    assert(full.count(_._1 == 1L) == 4) // 00,01,02,03
    assert(full.filter(_._1 == 1L).count(_._3 == 0L) == 2)
    assert(full.count(_._1 == 2L) == 1)
    val capped = graft.operators.Windows.gapFillHourly(ev, "user_id", "ts",
      maxSpineHours = Some(2))
    assert(capped.filter(col("user_id") === 1L).count() == 2) // 00,01 only
  }

  test("Windows.sessions and dayGapMoments on a batch frame equal the " +
    "brute-force gap-island and seconds-grid rules at ms resolution") {
    import spark.implicits._
    val B = 1704067200000L // 2024-01-01 UTC, ms
    val rnd = new scala.util.Random(7)
    // user 1 pins the boundary: diff == gap (1 s) joins, gap + 1 ms splits;
    // users 2-4 put random diffs around the gap
    val evs: Seq[(Long, Long, String)] =
      Seq((1L, 0L), (1L, 1000L), (1L, 2001L)).map { case (u, t) => (u, B + t, "a") } ++
        (2L to 4L).flatMap { u =>
          Seq.fill(40)(rnd.nextInt(1100).toLong).scanLeft(B)(_ + _)
            .map(t => (u, t, if (rnd.nextBoolean()) "a" else "b"))
        } ++ Seq.tabulate(30)(i =>
          (9L, B + 86400000L - 40000L + i * rnd.nextInt(4000).toLong, "c"))
    val df = evs.toDF("user_id", "ms", "event_type")
      .withColumn("ts", timestamp_millis(col("ms")))
    val sessions = graft.operators.Windows.sessions(df, gapSecs = 1L, delay = "1 minute")
      .as[(Long, Long, Long, Long)].collect().toSet
    val sessionTruth = evs.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      val t = xs.map(_._2).sorted
      val cuts = 0 +: t.indices.tail.filter(i => t(i) - t(i - 1) > 1000L) :+ t.size
      cuts.zip(cuts.tail).map { case (a, b) => (u, t(a), t(b - 1), (b - a).toLong) }
    }.toSet
    assert(sessions.filter(_._1 == 1L) ==
      Set((1L, B, B + 1000L, 2L), (1L, B + 2001L, B + 2001L, 1L)))
    assert(sessions == sessionTruth)
    val moments = graft.operators.Windows.dayGapMoments(df, delay = "1 minute")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val momentTruth = evs.groupBy(e => (e._3, e._2 / 86400000L)).collect {
      case ((ty, d), xs) if xs.size >= 2 =>
        val occ = xs.map(_._2 / 1000L).distinct.sorted
        val gaps = occ.zip(occ.tail).map { case (x, y) => y - x }
        (ty, d, xs.size.toLong, xs.size - 1L, gaps.sum, gaps.map(g => g * g).sum)
    }.toSet
    assert(momentTruth.map(_._2).size == 2, "the frame must span a day boundary")
    assert(moments == momentTruth)
  }

  test("repetition: duplicate n-gram share in basis points") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),      // 3-grams: aba bab aba bab → 4 grams, 2 distinct
      (2L, "w x y z"),          // 2 grams, both distinct
      (3L, "one two")           // shorter than n → 0 grams
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetition(docs, "text", "doc_id")
      .select("doc_id", "n_grams", "n_distinct", "dup_bp")
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4, 2, 5000L)))
    assert(got(2L) == ((2L, 2, 2, 0L)))
    assert(got(3L) == ((3L, 0, 0, 0L)))
  }

  test("contaminatedDocs: flags docs sharing an n-gram with the probe set") {
    import spark.implicits._
    val probe = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      // contains the probe's full 8-gram "the quick ... lazy" twice? once
      (1L, "prefix the quick brown fox jumps over the lazy dog suffix"),
      (2L, "completely unrelated text with no overlap at all here"),
      (3L, "the quick brown fox jumps over the lazy cat entirely")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.contaminatedDocs(corpus, probe, "text", "doc_id", n = 8)
      .as[(Long, Long)].collect().toMap
    // probe 8-grams: "the..lazy", "quick..dog"; doc 1 contains both,
    // doc 3 contains only the first, doc 2 none
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("editDistanceJoin equals the naive cross join (recall 1, precision 1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // typo'd probes: one deletion, one substitution, one insertion
    val probe = corpus.filter(col("id") % 50 === 0).select(col("id"), col("name"))
      .withColumn("pn", when(col("id") % 3 === 0,
          concat(substring(col("name"), 1, 9), expr("substring(name, 11)")))
        .when(col("id") % 3 === 1,
          concat(substring(col("name"), 1, 12), lit("X"),
            expr("substring(name, 14)")))
        .otherwise(concat(substring(col("name"), 1, 5), lit("Z"),
          expr("substring(name, 6)"))))
      .select(col("id").as("pid"), col("pn"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val blocked = pairs(graft.operators.Fuzzy.editDistanceJoin(
        corpus, "id", "name", probe, "pid", "pn", maxDist = 2)
      .select(col("probe_id"), col("match_id"), col("dist").cast("int")))
    val naive = pairs(corpus.crossJoin(probe)
      .withColumn("d", levenshtein(col("name"), col("pn")))
      .filter(col("d") <= 2)
      .select(col("pid"), col("id"), col("d").cast("int")))
    assert(blocked == naive && blocked.nonEmpty)
    // every typo'd probe recovers its source row
    val sources_ = probe.select("pid").as[Long].collect().toSet
    assert(sources_.forall(p => blocked.contains((p, p))))
  }

  test("editDistanceJoin rejects document-length keys (maxKeyLen guard)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ok = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "name")
    // a "document" smuggled in as a key: 10k chars — the k=2 deletion
    // neighborhood would be ~10^8 variants for this one row
    val doc = Seq((3L, "x" * 10000)).toDF("id", "name")
    val e = intercept[Exception] {
      graft.operators.Fuzzy.editDistanceJoin(
        ok.union(doc), "id", "name", ok, "id", "name").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("maxKeyLen")),
      s"guard did not fire: $e")
    // compliant keys at the boundary still join; the cap is adjustable
    val at64 = Seq((7L, "a" * 64)).toDF("id", "name")
    assert(graft.operators.Fuzzy.editDistanceJoin(
      at64, "id", "name", at64, "id", "name").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((7L, 7L)))
    val long = Seq((9L, "b" * 100)).toDF("id", "name")
    assert(graft.operators.Fuzzy.editDistanceJoin(
      long, "id", "name", long, "id", "name", maxKeyLen = 128).collect()
      .nonEmpty)
  }

  test("scd2: versions chain, delete closes without emitting, re-insert reopens") {
    import spark.implicits._
    val chg = Seq(
      (1L, "a1", ts("2024-01-01T00:00:00Z"), 1, "I"),
      (1L, "a2", ts("2024-01-01T01:00:00Z"), 2, "U"),
      (2L, "b1", ts("2024-01-01T00:00:00Z"), 1, "I"),
      (2L, "b1", ts("2024-01-01T02:00:00Z"), 2, "D"), // closes, emits nothing
      (2L, "b2", ts("2024-01-01T03:00:00Z"), 3, "I"), // re-insert reopens
      (3L, "c1", ts("2024-01-01T00:00:00Z"), 1, "I")
    ).toDF("k", "v", "op_ts", "seq", "manip")
    val got = Cdc.scd2(chg, "k")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime))
    assert(got.toSeq == Seq(
      (1L, "a1", ts("2024-01-01T00:00:00Z"), Some(ts("2024-01-01T01:00:00Z")), false),
      (1L, "a2", ts("2024-01-01T01:00:00Z"), None, true),
      (2L, "b1", ts("2024-01-01T00:00:00Z"), Some(ts("2024-01-01T02:00:00Z")), false),
      (2L, "b2", ts("2024-01-01T03:00:00Z"), None, true),
      (3L, "c1", ts("2024-01-01T00:00:00Z"), None, true)))
    // latestImage is exactly the is_current slice of scd2
    val latest = Cdc.latestImage(chg, "k").select("k", "v")
      .as[(Long, String)].collect().toSet
    val current = got.filter(_._5).map(r => (r._1, r._2)).toSet
    assert(latest == current)
  }

  test("applyChanges: snapshot + delta equals the full latest-image recompute") {
    import spark.implicits._
    val cut = ts("2024-01-02T00:00:00Z")
    val chg = Seq(
      (1L, "a1", ts("2024-01-01T00:00:00Z"), 1, "I"), // updated in delta
      (1L, "a2", ts("2024-01-02T01:00:00Z"), 2, "U"),
      (2L, "b1", ts("2024-01-01T00:00:00Z"), 1, "I"), // deleted in delta
      (2L, "b1", ts("2024-01-02T02:00:00Z"), 2, "D"),
      (3L, "c1", ts("2024-01-01T00:00:00Z"), 1, "I"), // untouched by delta
      (3L, "c2", ts("2024-01-01T01:00:00Z"), 2, "U"),
      (4L, "d1", ts("2024-01-02T00:30:00Z"), 1, "I"), // born in delta
      (5L, "e1", ts("2024-01-01T00:00:00Z"), 1, "I"), // dead before the cut
      (5L, "e1", ts("2024-01-01T01:00:00Z"), 2, "D"),
      (6L, "f1", ts("2024-01-02T00:00:00Z"), 1, "D"), // delete → re-insert, delta-only
      (6L, "f2", ts("2024-01-02T01:00:00Z"), 2, "I")
    ).toDF("k", "v", "op_ts", "seq", "manip")
    val snapshot = Cdc.latestImage(chg.filter(col("op_ts") < lit(cut)), "k")
    val merged = Cdc.applyChanges(snapshot, chg.filter(col("op_ts") >= lit(cut)), "k")
      .select("k", "v").as[(Long, String)].collect().toSet
    val want = Cdc.latestImage(chg, "k")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(want == Set((1L, "a2"), (3L, "c2"), (4L, "d1"), (6L, "f2")))
    assert(merged == want, s"merged $merged != recompute $want")
  }

  test("snapshotDiff: added/removed/changed with null-safe compare, unchanged omitted") {
    import spark.implicits._
    val before = Seq(
      (1L, Some("a")),  // unchanged → omitted
      (2L, Some("b")),  // changed
      (3L, Some("c")),  // removed
      (4L, None: Option[String])) // null → value = changed
      .toDF("k", "v")
    val after = Seq(
      (1L, Some("a")),
      (2L, Some("B")),
      (4L, Some("d")),
      (5L, Some("e"))) // added
      .toDF("k", "v")
    val got = Cdc.snapshotDiff(before, after, "k", Seq("v"))
      .select("k", "change_type").as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "added"), got.toString)
  }

  test("pointInTime: probe hits covering version, deletion gap yields null") {
    import spark.implicits._
    val chg = Seq(
      (1L, "v1", ts("2024-01-01T00:00:00Z"), 1, "I"),
      (1L, "v2", ts("2024-01-01T02:00:00Z"), 2, "U"),
      (1L, "v2", ts("2024-01-01T04:00:00Z"), 3, "D")
    ).toDF("k", "v", "op_ts", "seq", "manip")
    val scd = Cdc.scd2(chg, "k")
    val probes = Seq(
      (1L, ts("2024-01-01T01:00:00Z")), // v1 window
      (1L, ts("2024-01-01T02:00:00Z")), // boundary: valid_from inclusive → v2
      (1L, ts("2024-01-01T05:00:00Z")), // after delete → gap
      (9L, ts("2024-01-01T01:00:00Z"))  // unknown key → null
    ).toDF("k", "pt")
    val got = Cdc.pointInTime(probes, scd, "k", "pt")
      .select("k", "pt", "v").as[(Long, Timestamp, Option[String])]
      .collect().sortBy(r => (r._1, r._2.getTime))
    assert(got.toSeq == Seq(
      (1L, ts("2024-01-01T01:00:00Z"), Some("v1")),
      (1L, ts("2024-01-01T02:00:00Z"), Some("v2")),
      (1L, ts("2024-01-01T05:00:00Z"), None),
      (9L, ts("2024-01-01T01:00:00Z"), None)))
  }

  test("evalPairs: counts, recall/precision bp, orientation-insensitive") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    // pred covers 3 of 4 truth pairs (one reversed), plus 2 spurious
    val pred = Seq((2L, 1L), (3L, 4L), (5L, 6L), (10L, 11L), (12L, 13L))
      .toDF("doc_a", "doc_b")
    val r = graft.operators.Dedup.evalPairs(truth, pred).collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 5 && r.getLong(2) == 3)
    assert(r.getLong(3) == 7500 && r.getLong(4) == 6000)
    // empty prediction: zero hits, null precision, zero recall
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val r2 = graft.operators.Dedup.evalPairs(truth, empty).collect().head
    assert(r2.getLong(2) == 0 && r2.getLong(3) == 0 && r2.isNullAt(4))
  }

  test("pageRank equals the driver-side integer recurrence; the hub outranks") {
    import spark.implicits._
    // 1..4 all point at hub 0 (varied weights); 0 points back at 1;
    // 2 also links 3 — so 0 must rank first and 1 above 3
    val edgeSeq = Seq((1L, 0L, 1L), (2L, 0L, 2L), (3L, 0L, 1L),
      (4L, 0L, 3L), (0L, 1L, 1L), (2L, 3L, 1L))
    val got = graft.operators.Graph
      .pageRank(edgeSeq.toDF("src", "dst", "w"), "src", "dst", "w", iters = 3)
      .as[(Long, Long)].collect().toMap
    // reference: the same integer recurrence run densely on the driver
    val nodes = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size.toLong
    val init = 1000000L / n
    val base = (1500L * init) / 10000L
    val wOut = edgeSeq.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var pr = nodes.map(_ -> init).toMap
    for (_ <- 1 to 3) {
      val s = edgeSeq.groupBy(_._2).view.mapValues(
        _.map(e => (pr(e._1) * e._3) / wOut(e._1)).sum).toMap
      pr = nodes.map(v => v -> (base + (8500L * s.getOrElse(v, 0L)) / 10000L)).toMap
    }
    assert(got == pr, s"engine $got != reference $pr")
    assert(got(0L) == got.values.max, "hub is not top-ranked")
    assert(got(1L) > got(3L), "hub-fed node should outrank the leaf")
  }

  test("pageRank conserves dangling mass") {
    import spark.implicits._
    // 2 and 3 have no out-edges: their rank would leak every round
    val edgeSeq = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 3L, 2L))
    val df = edgeSeq.toDF("src", "dst", "w")
    val got = graft.operators.Graph
      .pageRank(df, "src", "dst", "w", iters = 3)
      .as[(Long, Long)].collect().toMap
    // dense driver-side reference of the conserving recurrence
    val nodes = Seq(0L, 1L, 2L, 3L)
    val n = nodes.size.toLong
    val init = 1000000L / n
    val base = (1500L * init) / 10000L
    val wOut = Map(0L -> 3L, 1L -> 1L)
    var pr = nodes.map(_ -> init).toMap
    for (_ <- 1 to 3) {
      val share = nodes.filterNot(wOut.contains).map(pr).sum / n
      val s = edgeSeq.groupBy(_._2).view.mapValues(
        _.map(e => (pr(e._1) * e._3) / wOut(e._1)).sum).toMap
      pr = nodes.map(v => v -> (base + (8500L * (s.getOrElse(v, 0L) + share)) / 10000L)).toMap
    }
    assert(got == pr, s"engine $got != reference $pr")
    // conservation: total rank stays within integer-floor dust of 1e6
    val total = got.values.sum
    assert(total > 990000L && total <= 1000000L, s"mass not conserved: $total")
  }

  test("hits equals the driver-side integer recurrence; roles separate") {
    import spark.implicits._
    // 0 and 1 are pure hubs fanning into 2 and 3 (the authorities);
    // 3 also points at 4, making it the one mixed-role node
    val edgeSeq = Seq((0L, 2L, 2L), (0L, 3L, 1L), (1L, 2L, 1L),
      (1L, 3L, 3L), (3L, 4L, 1L))
    val got = graft.operators.Graph
      .hits(edgeSeq.toDF("src", "dst", "w"), "src", "dst", "w", iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // dense driver-side replay of the integer half-rounds
    val nodes = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct
    var hub = nodes.map(_ -> 1000000L).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to 2) {
      val araw = edgeSeq.groupBy(_._2).view
        .mapValues(_.map(e => hub(e._1) * e._3).sum).toMap
      val at = math.max(araw.values.sum, 1L)
      auth = nodes.map(v => v -> araw.getOrElse(v, 0L) * 1000000L / at).toMap
      val hraw = edgeSeq.groupBy(_._1).view
        .mapValues(_.map(e => auth(e._2) * e._3).sum).toMap
      val ht = math.max(hraw.values.sum, 1L)
      hub = nodes.map(v => v -> hraw.getOrElse(v, 0L) * 1000000L / ht).toMap
    }
    val want = nodes.map(v => v -> (hub(v), auth(v))).toMap
    assert(got == want, s"engine $got != reference $want")
    // role separation: pure hubs carry hub mass and zero authority;
    // pure authorities the reverse; L1 mass conserved up to floor dust
    assert(got(0L)._2 == 0L && got(1L)._2 == 0L)
    assert(got(2L)._1 == 0L && got(2L)._2 > 0L && got(4L)._1 == 0L)
    val hubMass = got.values.map(_._1).sum
    val authMass = got.values.map(_._2).sum
    assert(hubMass > 999000L && hubMass <= 1000000L, s"hub mass $hubMass")
    assert(authMass > 999000L && authMass <= 1000000L, s"auth mass $authMass")
  }

  test("triangleCounts: K4 corners count 3 each; loops/duplicates/direction ignored") {
    import spark.implicits._
    // K4 on 0..3 (each corner in C(3,2)=3 triangles) plus a pendant
    // edge, a self-loop, and a reversed duplicate — all of which the
    // undirected-simple normalization must ignore
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (5L, 5L), (1L, 0L)).toDF("src", "dst")
    val got = graft.operators.Graph.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"unexpected triangle counts $got")
    // triangle-free graph: empty output, not zero rows per node
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    assert(graft.operators.Graph.triangleCounts(path, "src", "dst").count() == 0L)
  }

  test("commonNeighborJaccard: exact scores uncapped; the apex-degree " +
    "guard drops hub-mediated wedges but keeps exact union sizes") {
    import spark.implicits._
    // degrees: 0,1,2 → 3; 3 → 4; 4 → 1 (pendant off the hub 3)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (0L, 3L)).toDF("src", "dst")
    def rows(maxDeg: Long, k: Int) =
      graft.operators.Graph.commonNeighborJaccard(edges, "src", "dst",
        maxApexDeg = maxDeg, k = k)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    // cap above every degree: plain exact Jaccard for all 9 co-visible
    // pairs (hand-computed)
    val un = rows(100L, 20).map(r => (r._1, r._2) -> (r._3, r._6)).toMap
    assert(un == Map(
      (0L, 1L) -> (2L, 5000L), (0L, 2L) -> (2L, 5000L), (1L, 2L) -> (2L, 5000L),
      (0L, 3L) -> (2L, 4000L), (1L, 3L) -> (2L, 4000L), (2L, 3L) -> (2L, 4000L),
      (0L, 4L) -> (1L, 3333L), (1L, 4L) -> (1L, 3333L), (2L, 4L) -> (1L, 3333L)),
      s"uncapped scores: $un")
    // cap = 3 excludes node 3 (deg 4) as an apex: pairs only co-seen
    // through the hub vanish (x,4); triangle pairs lose the hub wedge
    // but keep their own. The capped common also sizes the union
    // (du+dv-common), so the guarded score is conservatively LOWER
    // than exact (1/(3+3-1) = 2000bp, not 1/4): dropped hub wedges
    // never inflate a pair's similarity
    val capped = rows(3L, 20).map(r => (r._1, r._2) -> (r._3, r._6)).toMap
    assert(capped == Map(
      (0L, 1L) -> (1L, 2000L), (0L, 2L) -> (1L, 2000L), (1L, 2L) -> (1L, 2000L),
      (0L, 3L) -> (2L, 4000L), (1L, 3L) -> (2L, 4000L), (2L, 3L) -> (2L, 4000L)),
      s"capped scores: $capped")
    // deterministic top-k order: bp desc, common desc, then the pair
    val top = rows(3L, 3).map(r => (r._1, r._2)).toSeq
    assert(top == Seq((0L, 3L), (1L, 3L), (2L, 3L)), s"top-3 order: $top")
  }

  test("kcore: peels leaf chain to the triangle; capped budget equals unrolled peels") {
    import spark.implicits._
    // triangle 0-1-2 with a 4-link chain hanging off node 2: each
    // 2-core peel round strips exactly one leaf
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val full = graft.operators.Graph.kcore(edges, "src", "dst", k = 2, rounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(0L -> 2L, 1L -> 2L, 2L -> 2L),
      s"converged 2-core should be the bare triangle, got $full")
    // budget cap below convergence: exactly 2 peels (drop 6, then 5)
    // — the frame a 2-round unrolled oracle produces
    val capped = graft.operators.Graph.kcore(edges, "src", "dst", k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(0L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 2L, 4L -> 1L),
      s"capped 2-round peel mismatch: $capped")
    // k above any core: everything peels away
    assert(graft.operators.Graph.kcore(edges, "src", "dst", k = 3, rounds = 10)
      .count() == 0L)
  }

  test("hopDistance joins only the frontier shell and exits on an empty one") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 2L),
      (7L, 8L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    var shells = Vector.empty[(Int, Long)]
    val got = graft.operators.Graph
      .hopDistance(edges, "src", "dst", seeds, maxHops = 10,
        onRound = (h, c) => shells :+= (h, c))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L), got)
    // frontier-only join inputs: per-round shells are {1,2}, {3}, {4},
    // then empty → early exit well before the 10-hop budget
    assert(shells == Vector((1, 2L), (2, 1L), (3, 1L), (4, 0L)), shells)
  }

  test("hopDistance: shortest hops win within the budget; unreached absent") {
    import spark.implicits._
    // chain 0→1→2→3→4 with a 0→2 shortcut; 7→8 disconnected
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 2L),
      (7L, 8L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = graft.operators.Graph
      .hopDistance(edges, "src", "dst", seeds, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    // 2 is reachable in 1 via the shortcut (not 2); 4 needs 3 hops
    // through it; 7/8 are unreached and must be absent
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L), got)
  }

  test("mergeAdditive equals the full recompute; schema mismatch rejected") {
    import spark.implicits._
    val rows = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L),
      ("a", 4L, 40L), ("c", 5L, 50L))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
    val base = agg(rows.take(3).toDF("k", "id", "v"))
    val delta = agg(rows.drop(3).toDF("k", "id", "v"))
    val merged = graft.operators.IncrementalAgg
      .mergeAdditive(base, delta, Seq("k"))
      .as[(String, Long, Long)].collect().toSet
    val full = agg(rows.toDF("k", "id", "v"))
      .as[(String, Long, Long)].collect().toSet
    assert(merged == full)
    intercept[IllegalArgumentException] {
      graft.operators.IncrementalAgg.mergeAdditive(
        base, delta.withColumnRenamed("s", "t"), Seq("k"))
    }
  }

  test("labelProp: synchronous rounds, (count desc, label asc) ties — bridged triangles") {
    import spark.implicits._
    // triangles {1,2,3} and {5,6,7} bridged by 3–5. Hand-unrolled:
    // round 1 is all singleton counts → every node takes its smallest
    // neighbor (1→2, 2→1, 3→1, 5→3, 6→5, 7→5); round 2 then exercises
    // BOTH tie arms: node 5 sees {1, 5, 5} and frequency (5×2) beats
    // the smaller label 1, node 2 sees {2, 1} and the tie falls to the
    // smaller label 1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 5L), (5L, 6L),
      (6L, 7L), (7L, 5L)).toDF("src", "dst")
    val r2 = graft.operators.Graph.labelProp(edges, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 3L, 7L -> 3L), r2)
  }

  test("graph operators: reliable-checkpoint mode is output-identical") {
    import spark.implicits._
    val G = graft.operators.Graph
    // one graph exercising every shape: two bridged triangles plus a
    // weighted chain with a dangling sink and a pendant leaf
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 5L, 1L),
      (5L, 6L, 4L), (6L, 7L, 1L), (7L, 5L, 2L), (7L, 9L, 1L), (9L, 10L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (() => G.pageRank(edges, "src", "dst", "w", iters = 3)),
      "hits" -> (() => G.hits(edges, "src", "dst", "w", iters = 2)),
      "hopDistance" -> (() => G.hopDistance(edges, "src", "dst", seeds, maxHops = 10)),
      "kcore" -> (() => G.kcore(edges, "src", "dst", k = 2, rounds = 10)),
      "labelProp" -> (() => G.labelProp(edges, "src", "dst", iters = 2)),
      "triangleCounts" -> (() => G.triangleCounts(edges, "src", "dst")),
      "modularityRounds" -> (() => G.modularityRounds(edges, "src", "dst",
        G.labelPropTrace(edges, "src", "dst", 2).zipWithIndex
          .map { case (l, i) => (i + 1L) -> l })),
      "commonNeighborJaccard" -> (() =>
        G.commonNeighborJaccard(edges, "src", "dst", maxApexDeg = 3L, k = 5)))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val local = ops.map { case (name, op) => name -> rows(op()) }
    withReliable { dir =>
      for (((name, op), (_, want)) <- ops.zip(local))
        assert(rows(op()) == want && want.nonEmpty, s"$name parity")
      // the reliable path actually wrote RDD checkpoints to the dir
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    }
  }

  test("pareto_front equals the O(n²) dominance definition; front non-empty") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val got = SparkEntry.queries("pareto_front")(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    val parts = sources.Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_size").cast("long"),
        col("p_retailprice").cast(DecimalType(18, 2)))
      .as[(Long, Long, java.math.BigDecimal)].collect()
    val want = parts.filter { case (_, s, p) =>
      !parts.exists { case (_, s2, p2) =>
        s2 >= s && p2.compareTo(p) <= 0 && (s2 > s || p2.compareTo(p) < 0) }
    }.map(t => (t._1, t._2, t._3.doubleValue)).toSet
    assert(got == want, s"got=$got want=$want")
    assert(got.nonEmpty)
  }

  test("ewma_anomaly equals a per-user sequential replay of the 8/4/2/1 rule") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val rows = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("long"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
      .as[(Long, Long, Long, Long)].collect()
    val weights = Seq(8L, 4L, 2L, 1L)
    val want = rows.groupBy(_._1).iterator.flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3))
      sorted.indices.flatMap { i =>
        val (_, ts, id, c) = sorted(i)
        val lags = (1 to 4).flatMap(k =>
          if (i - k >= 0) Some((sorted(i - k)._4, weights(k - 1))) else None)
        val num = lags.map { case (lc, w) => lc * w }.sum
        val den = lags.map(_._2).sum
        if (den > 0 && c * den > num * 3) Some((u, id, ts, c, num, den)) else None
      }
    }.toSet
    val got = SparkEntry.queries("ewma_anomaly")(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts").cast("long"),
        col("cents"), col("ewma_num"), col("ewma_den"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want && want.nonEmpty, s"got ${got.size} want ${want.size}")
  }

  test("attribution equals a per-user sequential carry replay; direct bucket exists") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val rows = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("long"), col("event_id"),
        col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long"),
        get_json_object(col("props"), "$.k").cast("long"))
      .as[(Long, Long, Long, String, Long, Long)].collect()
    val buckets = collection.mutable.Map.empty[String, (Long, Long)]
    rows.groupBy(_._1).foreach { case (_, evs) =>
      var carry = "direct"
      evs.sortBy(e => (e._2, e._3)).foreach { case (_, _, _, typ, cents, k) =>
        if (typ == "purchase") {
          val (n, s) = buckets.getOrElse(carry, (0L, 0L))
          buckets(carry) = (n + 1, s + cents)
        }
        if (typ == "click") carry = s"ch_${k % 4}"
      }
    }
    val got = SparkEntry.queries("attribution")(spark, sfDir)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == buckets.toMap, s"got $got want $buckets")
    assert(got.contains("direct"))
  }

  test("incr_join_merge: base+delta merge equals the one-shot full recompute") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dims = sources.Tables.customer(spark, sfDir)
      .join(sources.Tables.nation(spark, sfDir),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("o_custkey"), col("n_name"))
    val full = sources.Tables.orders(spark, sfDir)
      .join(broadcast(dims), "o_custkey")
      .groupBy(col("n_name"),
        substring(col("o_orderdate").cast("string"), 1, 7).as("ym"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("rev_cents"))
      .as[(String, String, Long, Long)].collect().toSet
    val got = SparkEntry.queries("incr_join_merge")(spark, sfDir)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == full && full.nonEmpty)
  }

  test("ri_audit: counts match direct anti-join counts on every edge") {
    import spark.implicits._
    val got = SparkEntry.queries("ri_audit")(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.size == 7)
    // hard TPC-H FK edges generate clean → zero orphans, zero ppm
    got.filter(!_._1.startsWith("events.")).foreach { case (k, (n, orph, ppm)) =>
      assert(n > 0 && orph == 0L && ppm == 0L, s"$k: $n/$orph/$ppm")
    }
    // the soft events edge must equal the directly-computed anti count
    val ev = sources.Tables.events(spark, sfDir)
    val wantOrph = ev.join(
      sources.Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("user_id")).distinct(),
      Seq("user_id"), "left_anti").count()
    val (nEv, orphEv, ppmEv) = got("events.user_id->customer.c_custkey")
    assert(nEv == ev.count() && orphEv == wantOrph &&
      ppmEv == orphEv * 1000000L / nEv)
  }

  test("modularity: two disjoint triangles — round-2 labels score the textbook Q = 1/2") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 6L), (6L, 7L), (7L, 5L))
      .toDF("src", "dst")
    val lab2 = graft.operators.Graph.labelProp(edges, "src", "dst", iters = 2)
    val got2 = graft.operators.Graph.modularity(edges, "src", "dst", lab2)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // per triangle: m_c = 3, d_c = 6, m = 6 → q_scaled = 72 − 36 = 36;
    // Σ q_scaled / (4m²) = 72/144 = 1/2 — the two-clique textbook value
    assert(got2 == Set((1L, 3L, 3L, 6L, 36L), (5L, 3L, 3L, 6L, 36L)), got2)
    // round 1 under-merges (each triangle splits 1+2) → strictly lower Q
    val lab1 = graft.operators.Graph.labelProp(edges, "src", "dst", iters = 1)
    val q1 = graft.operators.Graph.modularity(edges, "src", "dst", lab1)
      .agg(sum(col("q_scaled"))).as[Long].head()
    assert(q1 == 8L, s"round-1 Σq_scaled $q1")
  }

  test("ab_lift equals a direct per-user replay; chi2 derives from the exact cells") {
    import spark.implicits._
    val rows = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect()
    val conv = rows.groupBy(_._1).toSeq.map { case (u, es) =>
      (u % 2, es.exists(e => e._2 == "purchase" && e._3 > 150.0)) }
    val (ua, ca) = (conv.count(_._1 == 0).toLong,
      conv.count(c => c._1 == 0 && c._2).toLong)
    val (ub, cb) = (conv.count(_._1 == 1).toLong,
      conv.count(c => c._1 == 1 && c._2).toLong)
    val row = SparkEntry.queries("ab_lift")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().head
    assert((row._1, row._2, row._3, row._4) == ((ua, ca, ub, cb)), row)
    assert(row._5 == ca * 1000000L / ua && row._6 == cb * 1000000L / ub)
    // the spec mirrors the engine's exact double evaluation order
    val delta = (ca * (ub - cb) - cb * (ua - ca)).toDouble
    val want =
      if (ca + cb == 0 || ua + ub - ca - cb == 0) 0.0
      else (ua + ub).toDouble * (delta * delta) /
        (((ua.toDouble * ub.toDouble) * (ca + cb).toDouble) *
          (ua + ub - ca - cb).toDouble)
    assert(row._7 == want, s"chi2 ${row._7} vs $want")
  }

  test("knn_eval: confusion marginals equal the LOO population truth counts") {
    import spark.implicits._
    val got = SparkEntry.queries("knn_eval")(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val truth = sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 200)
      .select(col("label").cast("long").as("l"))
      .groupBy(col("l")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val rowSums = got.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._3).sum }
    assert(rowSums == truth, s"marginals $rowSums vs $truth")
    assert(got.map(_._3).sum == truth.values.sum)
  }

  test("assortativity: star is perfectly disassortative (−1), regular graphs guard to 0") {
    import spark.implicits._
    // star K1,3: hub degree 3, leaves 1 → every sample pairs (3,1) or
    // (1,3) → r = −1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val rs = graft.operators.Graph.assortativity(star, "src", "dst")
      .as[(Long, Double)].collect().head
    assert(rs == ((6L, -1.0)), rs)
    // K3 is 2-regular: zero degree variance → the guard arm, r = 0
    val k3 = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val rk = graft.operators.Graph.assortativity(k3, "src", "dst")
      .as[(Long, Double)].collect().head
    assert(rk == ((6L, 0.0)), rk)
  }

  test("burst_hours: flags exactly the hours above 2x the user's active-hour mean") {
    import spark.implicits._
    val rows = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("long"))
      .as[(Long, Long)].collect().map { case (u, s) => (u, s / 3600L) }
    val want = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
      .groupBy(_._1._1).iterator.flatMap { case (u, hours) =>
        val total = hours.values.sum
        val active = hours.size.toLong
        hours.collect { case ((_, h), n) if n * active > total * 2 =>
          (u, h, n, total, active) }
      }.toSet
    val got = SparkEntry.queries("burst_hours")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
  }

  test("window_funnel: depths derive from the cep_episodes bindings (shared chain)") {
    import spark.implicits._
    val eps = SparkEntry.queries("cep_episodes")(spark, sfDir)
      .select(col("user_id"), col("ts").cast("long"),
        col("c_ts").cast("long"), col("p_ts").cast("long"))
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    val want = eps.groupBy(_._1).view.mapValues { rows =>
      val depths = rows.map { case (_, t, c, p) =>
        val cIn = c.exists(_ - t <= 3600L)
        val pIn = p.exists(_ - t <= 3600L) && cIn
        1L + (if (cIn) 1L else 0L) + (if (pIn) 1L else 0L)
      }
      (rows.length.toLong, depths.max)
    }.toMap
    val got = SparkEntry.queries("window_funnel")(spark, sfDir)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want, s"got ${got.size} want ${want.size}")
    // sf0.001's 15 users never close view→click→purchase inside one
    // window; depth-2 runs (view→click in-window) must still appear
    assert(got.values.exists(_._2 >= 2L), "some user should reach depth 2")
  }

  test("winsorized_stats: clamped mean replay with ceil-rank disc bounds") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val rows = sources.Tables.events(spark, sfDir)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
      .as[(String, Long)].collect()
    val want = rows.groupBy(_._1).view.mapValues { es =>
      val v = es.map(_._2).sorted
      val n = v.length.toLong
      def disc(rank: Long) = v((rank - 1).toInt)
      val p05 = disc((n + 19) / 20)
      val p95 = disc((19 * n + 19) / 20)
      val winsSum = v.map(x => math.max(math.min(x, p95), p05)).sum
      (n, p05, p95, winsSum / n)
    }.toMap
    val got = SparkEntry.queries("winsorized_stats")(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got == want, s"got $got want $want")
  }

  test("rolling_retention: D to D+7 replay; every activity day reported") {
    import spark.implicits._
    val ud = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("long"))
      .as[(Long, Long)].collect()
      .map { case (u, s) => (u, s / 86400L) }.toSet
    val byDay = ud.groupBy(_._2)
    val want = byDay.map { case (day, active) =>
      val retained = active.count(a => ud.contains((a._1, day + 7))).toLong
      (day, active.size.toLong, retained,
        retained * 10000L / active.size)
    }.toSet
    val got = SparkEntry.queries("rolling_retention")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(got.map(_._1) == byDay.keySet, "every activity day must report")
  }

  test("seasonality_profile: shares partition each type's mass; hod in [0,24)") {
    import spark.implicits._
    val got = SparkEntry.queries("seasonality_profile")(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.forall(r => r._2 >= 0 && r._2 < 24))
    val totals = sources.Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val byType = got.groupBy(_._1)
    assert(byType.view.mapValues(_.map(_._3).sum).toMap == totals,
      "per-type hour masses must sum to the type totals")
    // ppm floors: each type's shares sum to 1e6 minus floor dust (< 24)
    byType.foreach { case (t, rows) =>
      val s = rows.map(_._4).sum
      assert(s > 1000000L - 24 && s <= 1000000L, s"$t share sum $s")
      rows.foreach(r => assert(r._5 == (r._4 - 41666L).abs))
    }
  }

  test("conversion_lag: first-view to first-later-purchase replay, disc quartiles") {
    import spark.implicits._
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts").cast("long"))
      .as[(Long, String, Long)].collect()
    val lags = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val views = es.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val tv = views.min
        val buys = es.filter(e => e._2 == "purchase" && e._3 > tv).map(_._3)
        if (buys.isEmpty) None else Some((tv / 604800L, buys.min - tv))
      }
    }
    val want = lags.groupBy(_._1).map { case (w, ls) =>
      val v = ls.map(_._2).sorted
      val n = v.length.toLong
      def disc(rank: Long) = v((rank - 1).toInt)
      (w, n, disc((n + 3) / 4), disc((n + 1) / 2), disc((3 * n + 3) / 4))
    }.toSet
    val got = SparkEntry.queries("conversion_lag")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want && want.nonEmpty, s"got $got want $want")
  }

  test("ngram_novelty: anti-join novelty replay over word 3-grams") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect()
    def grams(t: String): Seq[String] = {
      val w = t.split(" ")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
        .filter(_.length > 2)
    }
    val base = docs.filter(_._1 % 10 != 0).flatMap(d => grams(d._3)).toSet
    val delta = docs.filter(_._1 % 10 == 0)
      .flatMap(d => grams(d._3).map(g => (d._2, g))).toSet
    val want = delta.groupBy(_._1).map { case (src, gs) =>
      val novel = gs.count(g => !base.contains(g._2)).toLong
      (src, gs.size.toLong, novel, novel * 1000000L / gs.size)
    }.toSet
    val got = SparkEntry.queries("ngram_novelty")(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want, s"got $got want $want")
    // a pure-mirror delta would score 0 — organic deltas must not
    assert(got.exists(_._3 > 0))
  }

  test("top_movers: month-lag replay; deterministic |delta| ranking") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val rev = sources.Tables.orders(spark, sfDir)
      .join(sources.Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(sources.Tables.nation(spark, sfDir),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        substring(col("o_orderdate").cast("string"), 1, 7).as("ym"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("rev"))
      .as[(String, String, Long)].collect()
    val want = rev.groupBy(_._1).toSeq.flatMap { case (nat, ms) =>
      val sorted = ms.sortBy(_._2)
      sorted.zip(sorted.drop(1)).map { case ((_, _, prev), (_, ym, cur)) =>
        (nat, ym, cur, prev, cur - prev) }
    }.sortBy(t => (-math.abs(t._5), t._1, t._2)).take(10)
      .zipWithIndex.map { case ((nat, ym, cur, prev, d), i) =>
        (i + 1L, nat, ym, cur, prev, d) }.toSet
    val got = SparkEntry.queries("top_movers")(spark, sfDir)
      .as[(Long, String, String, Long, Long, Long)].collect().toSet
    assert(got == want, s"got $got want $want")
  }

  test("revenue_gini: sorted-rank replay in the engine's exact double order") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cr = sources.Tables.orders(spark, sfDir)
      .join(sources.Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(sources.Tables.nation(spark, sfDir),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
      .as[(String, Long, Long)].collect()
    val want = cr.groupBy(_._1).map { case (nat, cs) =>
      val sorted = cs.sortBy(c => (c._3, c._2))
      val n = sorted.length.toLong
      val sx = sorted.map(c => BigDecimal(c._3)).sum.toDouble
      val six = sorted.zipWithIndex
        .map { case (c, i) => BigDecimal(i + 1L) * BigDecimal(c._3) }
        .sum.toDouble
      val g = if (n * sx == 0) 0.0 else (2 * six - (n + 1) * sx) / (n * sx)
      (nat, n, sorted.map(_._3).sum, g)
    }.toSet
    val got = SparkEntry.queries("revenue_gini")(spark, sfDir)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == want, s"got $got want $want")
    // inequality exists in every nation but stays far from degenerate
    assert(got.forall(r => r._4 > 0.0 && r._4 < 0.9))
  }

  test("benford_audit: bins partition the rows, ppm floors sum to ~1e6, constants pinned") {
    import spark.implicits._
    val got = SparkEntry.queries("benford_audit")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got.keySet == (1L to 9L).toSet, got.keySet)
    val nRows = sources.Tables.orders(spark, sfDir)
      .filter(floor(col("o_totalprice")) >= 1).count()
    assert(got.values.map(_._1).sum == nRows)
    val ppmSum = got.values.map(_._2).sum
    assert(ppmSum > 999990L && ppmSum <= 1000000L, ppmSum)
    assert(got(1L)._3 == 301029L && got(9L)._3 == 45757L)
    got.foreach { case (_, (_, obs, ben, dev)) => assert(dev == (obs - ben).abs) }
  }

  test("window_ntile's closed-form ntile/pct_rank/cume == Spark's window " +
       "functions at every partition size, including n < buckets") {
    // the r14 two-level rank derives all three distribution functions
    // from (rank, n) with hand-written integer formulas — pin them
    // against the engine's own ntile(4)/percent_rank/cume_dist on a
    // single-partition frame across the size edge cases (n=1..9 covers
    // every n mod 4 x n div 4 ∈ {0,1,2} corner; 997/1000 the steady
    // state). Sort keys unique, so rank == row_number.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (n <- (1 to 9) ++ Seq(997, 1000)) {
      val df = (1 to n).map(i => (i.toLong, i * 7L % 1000)).toDF("k", "v")
      val w = Window.orderBy(col("v").asc, col("k").asc)
      val want = df.select(col("k"),
          ntile(4).over(w).cast("long").as("q"),
          percent_rank().over(w).as("p"),
          cume_dist().over(w).as("c"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2),
          r.getDouble(3)))).toMap
      val got = df
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("n", lit(n.toLong))
        .select(col("k"),
          expr("""CAST(CASE
              WHEN rank <= (n div 4 + 1) * (n % 4)
                THEN (rank - 1) div (n div 4 + 1) + 1
              ELSE n % 4 + (rank - (n div 4 + 1) * (n % 4) - 1)
                     div (n div 4) + 1
            END AS BIGINT)""").as("q"),
          expr("CASE WHEN n > 1 THEN CAST(rank - 1 AS DOUBLE) /" +
            " CAST(n - 1 AS DOUBLE) ELSE 0.0D END").as("p"),
          expr("CAST(rank AS DOUBLE) / CAST(n AS DOUBLE)").as("c"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2),
          r.getDouble(3)))).toMap
      assert(got == want, s"closed form diverged at n=$n")
    }
  }
}
