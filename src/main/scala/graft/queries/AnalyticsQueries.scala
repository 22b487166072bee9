package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{AsOfJoin, Ckpt, TextAnalysis, Windows}
import graft.sources.Tables

/** §2.B extension — analytic/time-series operators (B15–B19): CUBE,
  * running windows, argmax aggregation, gap filling, histograms.
  */
object AnalyticsQueries {

  import QueryMath.{dec2, sumDbl2}

  /** B129's melted session frame — (gap_s, user_id, sid, depth): ONE
    * user-keyed window pass computes all three session-id columns (the
    * running sums share the lag and the sort), an explode MELTS them
    * into (gap_s, user_id, sid) rows, and a SINGLE session aggregation
    * serves all three thresholds (r13 ran one groupBy per threshold —
    * the r13 verdict's melt ask). Exposed so PlanSpec can pin the
    * one-aggregation shape; the queries entry checkpoints the result
    * because two 3-row folds (stats + depth histogram) read it — the
    * checkpoint executes THIS plan exactly once. */
  private[graft] def sessionThresholdSessions(
      s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val thresholds = Seq(900L, 1800L, 3600L)
    val base = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_s", col("ts").cast("long") -
        lag(col("ts"), 1).over(byUser).cast("long"))
    val sids = thresholds.foldLeft(base) { (df, t) =>
      df.withColumn(s"sid_$t",
        sum(when(col("gap_s") > t, 1L).otherwise(0L)).over(byUser))
    }
    val melted = sids.select(col("user_id"),
      explode(array(thresholds.map(t =>
        struct(lit(t).as("g"), col(s"sid_$t").as("sid"))): _*)).as("m"))
      .select(col("user_id"), col("m.g").as("gap_s"), col("m.sid").as("sid"))
    melted.groupBy(col("gap_s"), col("user_id"), col("sid"))
      .agg(count(lit(1)).as("depth"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B15 — CUBE: all grouping combinations in one Expand pass.
    "cube_agg" -> { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sumDbl2(col("o_totalprice")).as("total_price"))
    },

    // B16 — running analytics per customer: cumulative sum, previous
    // value, 3-row moving sum. One shuffle (all windows share the
    // partition key), per-partition sort.
    "running_total" -> { (s, d) =>
      val byTime = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val cum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov3 = byTime.rowsBetween(-2, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_custkey").as("cust_key"), col("o_orderkey").as("order_key"),
        col("o_orderdate").as("order_date"),
        col("o_totalprice").as("price"),
        sum(dec2(col("o_totalprice"))).over(cum).cast("double").as("running_sum"),
        coalesce(lag(dec2(col("o_totalprice")), 1).over(byTime), lit(0))
          .cast("double").as("prev_price"),
        sum(dec2(col("o_totalprice"))).over(mov3).cast("double").as("moving_sum3"))
    },

    // B17 — argmax/argmin aggregation: per nation, the customer with
    // the highest / lowest balance (exact integer ordering key so ties
    // resolve identically in both engines).
    "first_last_agg" -> { (s, d) =>
      val ordKey = (round(col("c_acctbal") * 100).cast("long") * 1000000L
        + col("c_custkey"))
      Tables.customer(s, d)
        .groupBy(col("c_nationkey").as("nation_key"))
        .agg(max_by(col("c_name"), ordKey).as("richest_customer"),
          min_by(col("c_name"), ordKey).as("poorest_customer"),
          count(lit(1)).as("n_customers"))
    },

    // B18 — gap filling: a dense hourly series per user between that
    // user's first and last event, zero-filled where no events. The
    // series generation is sequence+explode (no driver loop); the fill
    // join shuffles once on (user, hour). Unbounded spine here to
    // match the SQL oracle; Windows.gapFillHourly's maxSpineHours is
    // the production cap for keys spanning years.
    "gap_fill" -> { (s, d) =>
      graft.operators.Windows.gapFillHourly(Tables.events(s, d), "user_id", "ts")
    },

    // B20 — top-3 orders per customer via the bounded-heap top_k
    // aggregate: O(n log k) with map-side partial aggregation and only
    // k values per group crossing the shuffle — no per-partition sort
    // (compare window_rank, the O(n log n) formulation of the same
    // result set).
    "topk_per_group" -> { (s, d) =>
      graft.GraftFunctions.register(s)
      val comb = (round(col("o_totalprice") * 100).cast("long") * 1000000000L
        + col("o_orderkey"))
      Tables.orders(s, d)
        .groupBy(col("o_custkey").as("cust_key"))
        .agg(graft.GraftFunctions.top_k(comb, 3).as("top"))
        .select(col("cust_key"), posexplode(col("top")).as(Seq("pos", "comb")))
        .select(col("cust_key"),
          (col("comb") % 1000000000L).as("order_key"),
          expr("comb div 1000000000").as("price_cents"),
          (col("pos") + 1).as("rn"))
    },

    // B21 — unpivot (wide → long): per-part price/size metrics melted
    // into (metric, value) rows.
    "unpivot_metrics" -> { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          col("p_retailprice").cast("double").as("retailprice"),
          col("p_size").cast("double").as("size"))
        .unpivot(Array(col("p_partkey")),
          Array(col("retailprice"), col("size")), "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          sumDbl2(col("value")).as("total"))
    },

    // B22 — JSON field extraction from the events.props payload +
    // aggregation over the extracted value.
    "json_extract_agg" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
    },

    // C58 — JSON schema profiling over a semi-structured feed: per
    // key, presence share + shape census. The synthetic feed enriches
    // events.props with conditionally-present keys (tag on id%3, a
    // boolean flag on id%7) so sparsity and every shape class are
    // exercised; the construction is mirrored in the oracle
    // byte-for-byte.
    "json_schema_profile" -> { (s, d) =>
      val enriched = Tables.events(s, d).select(concat(
        lit("{\"k\": "), (col("event_id") % 97).cast("string"),
        when(col("event_id") % 3 === 0,
          concat(lit(", \"tag\": \"t"), (col("event_id") % 5).cast("string"),
            lit("\""))).otherwise(lit("")),
        when(col("event_id") % 7 === 0,
          concat(lit(", \"flag\": "),
            when(col("event_id") % 2 === 0, lit("true")).otherwise(lit("false"))))
          .otherwise(lit("")),
        lit("}")).as("props2"))
      TextAnalysis.jsonKeyProfile(enriched, "props2")
    },

    // C96 — JSON SCHEMA DRIFT between two feed generations: the
    // alarm that catches a producer-side migration (key renamed,
    // value retyped, optional field appearing/vanishing) before a
    // downstream parser does. Generations are the event_id-parity
    // halves with a synthesized migration the profiler must surface:
    // the new half renames `flag` → `flag2` and retypes `k` from
    // integer to a non-numeric string (the engine profiles the
    // string RENDERING, so the synthetic type change is "v<n>" —
    // honest within jsonKeyProfile's documented no-lookalike
    // contract). Per key: presence share (bp, per-half denominators)
    // and the type mix on both sides, plus the presence delta — a
    // rename shows as −bp on one key and +bp on another; the retype
    // as the numeric column collapsing into string. Shapes: TWO
    // jsonKeyProfile passes (scan + key-keyed agg each, totals
    // broadcast back) and one key-keyed full-outer join of two
    // vocabulary-sized frames.
    "json_drift" -> { (s, d) =>
      val ev = Tables.events(s, d)
      def propsOf(newGen: Boolean) = concat(
        lit("{\"k\": "),
        if (newGen)
          concat(lit("\"v"), (col("event_id") % 97).cast("string"), lit("\""))
        else (col("event_id") % 97).cast("string"),
        when(col("event_id") % 3 === 0,
          concat(lit(", \"tag\": \"t"), (col("event_id") % 5).cast("string"),
            lit("\""))).otherwise(lit("")),
        when(col("event_id") % 7 === 0,
          concat(lit(", \"" + (if (newGen) "flag2" else "flag") + "\": "),
            when(col("event_id") % 2 === 0, lit("true")).otherwise(lit("false"))))
          .otherwise(lit("")),
        lit("}"))
      val oldP = TextAnalysis.jsonKeyProfile(
        ev.filter(col("event_id") % 2 === 0).select(propsOf(false).as("p")), "p")
      val newP = TextAnalysis.jsonKeyProfile(
        ev.filter(col("event_id") % 2 === 1).select(propsOf(true).as("p")), "p")
      oldP.select(col("key"), col("n_present").as("old_present"),
          col("present_bp").as("old_bp"), col("n_numeric").as("old_numeric"),
          col("n_bool").as("old_bool"), col("n_string").as("old_string"))
        .join(newP.select(col("key"), col("n_present").as("new_present"),
          col("present_bp").as("new_bp"), col("n_numeric").as("new_numeric"),
          col("n_bool").as("new_bool"), col("n_string").as("new_string")),
          Seq("key"), "full_outer")
        .select(col("key") +: Seq("old_present", "old_bp", "old_numeric",
          "old_bool", "old_string", "new_present", "new_bp", "new_numeric",
          "new_bool", "new_string").map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .withColumn("delta_bp", col("new_bp") - col("old_bp"))
    },

    // B23 — explicit GROUPING SETS with grouping_id: chosen combos
    // only (status totals, priority totals, grand total).
    "grouping_sets" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               grouping__id AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      """)
    },

    // B26 — behavioral funnel (view → click → purchase, strictly
    // ordered timestamps): earliest qualifying step per user, depth
    // reached. Three filtered min-aggregations chained by
    // user_id-keyed joins — every shuffle is on user_id, so a real
    // cluster resolves the whole funnel in one partitioning (AQE
    // reuses the exchange); no window sort over the event log.
    "funnel_steps" -> { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      s1.join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
            + when(col("t_purchase").isNotNull, 1).otherwise(0)).as("depth"))
    },

    // B27 — cohort retention: users bucketed by first-activity week,
    // counted per (cohort, weeks-since) cell over their distinct
    // active weeks. Integer-exact (counts + day arithmetic).
    "cohort_retention" -> { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"), col("ts"))
      val first = e.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val active = e
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      active.join(first, "user_id")
        .groupBy(col("cohort_week"),
          (datediff(to_date(col("week")), to_date(col("cohort_week"))) / 7)
            .cast("long").as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },

    // B28 — outlier detection without floating-point order dependence:
    // per-type mean and variance from EXACT decimal sums (Σv, Σv² at
    // scale 12), final-cast to double, and the 2σ test algebraized to
    // (v−μ)² > 4·(E[v²]−μ²) so no sqrt is needed — every double op is
    // correctly rounded from exact inputs, so any engine flags the
    // identical event set. Stats side is 5 rows → broadcast join.
    "outlier_events" -> { (s, d) =>
      val dec6 = (c: Column) => c.cast(DecimalType(18, 6))
      val e = Tables.events(s, d)
      val stats = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(dec6(col("value"))).cast("double").as("s1"),
        sum(dec6(col("value")) * dec6(col("value"))).cast("double").as("s2"))
        .select(col("event_type"), (col("s1") / col("n")).as("mu"),
          (col("s2") / col("n")).as("ex2"))
      e.join(broadcast(stats), "event_type")
        .filter((col("value") - col("mu")) * (col("value") - col("mu")) >
          lit(4.0) * (col("ex2") - col("mu") * col("mu")))
        .select(col("event_id"), col("event_type"), col("value"))
    },

    // B84 — SEASONAL outliers: B28 with the baseline moved to the
    // (event_type, hour-of-day) cohort — "is this value anomalous
    // FOR 3AM", the deseasonalized alarm that a global per-type gate
    // cannot raise (a nightly batch spike is normal at 02:00 and an
    // incident at 14:00; B28 averages the two into neither). Same
    // exactness recipe: decimal-exact moment sums per cohort, the
    // threshold compared in double on identical trees both engines.
    // Shapes: ONE corpus-scan (type, hod) moment agg (map-side
    // combined, ≤ types×24 rows), broadcast back against the scan —
    // no windows, no second corpus pass.
    "seasonal_outliers" -> { (s, d) =>
      val dec6 = (c: Column) => c.cast(DecimalType(18, 6))
      val e = Tables.events(s, d)
        .withColumn("hod", expr("CAST(ts AS BIGINT) div 3600 % 24"))
      val stats = e.groupBy(col("event_type"), col("hod")).agg(
        count(lit(1)).as("n"),
        sum(dec6(col("value"))).cast("double").as("s1"),
        sum(dec6(col("value")) * dec6(col("value"))).cast("double").as("s2"))
        .select(col("event_type"), col("hod"),
          (col("s1") / col("n")).as("mu"), (col("s2") / col("n")).as("ex2"))
      e.join(broadcast(stats), Seq("event_type", "hod"))
        .filter((col("value") - col("mu")) * (col("value") - col("mu")) >
          lit(4.0) * (col("ex2") - col("mu") * col("mu")))
        .select(col("event_id"), col("event_type"), col("hod"), col("value"))
    },

    // B48 — MAD-based robust outliers: B28's mean/stddev gate is
    // itself dragged by the outliers it hunts; median ± k·MAD is not.
    // Values go to integer micro-units first, so every interpolated
    // median/MAD is a dyadic rational both engines compute exactly
    // (zero float drift). Two per-type aggregations + broadcast
    // joins back — the per-type frames are bounded by the type count.
    // 100 TB swap (same note as table_profile): `percentile` here is
    // the exact per-group aggregate; swap `approx_percentile` in for
    // open-ended group sizes.
    "robust_outliers" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_id"),
        col("event_type"), floor(col("value") * 1e6).cast("long").as("v_us"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(v_us, 0.5D)").as("med_us"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("dev_us", abs(col("v_us") - col("med_us")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(dev_us, 0.5D)").as("mad_us"))
      dev.join(broadcast(mad), "event_type")
        .filter(col("mad_us") > 0 && col("dev_us") > lit(3.0) * col("mad_us"))
        .select(col("event_id"), col("event_type"), col("v_us"),
          col("dev_us"), col("mad_us"))
    },

    // B49 — incremental aggregate maintenance: the monthly revenue
    // rollup kept current by MERGING the persisted state with the new
    // partition's aggregate — the base is never rescanned (its
    // "state" here is built from the pre-2000 slice purely so the
    // oracle can replay it; in production it's the stored view). The
    // ORACLE IS THE FULL RECOMPUTE — merge ≡ recompute is the
    // operator's contract, exact because the partials stay additive
    // (count + decimal sum) until the final cast.
    "incr_agg_merge" -> { (s, d) =>
      def part(df: DataFrame): DataFrame = df
        .groupBy(col("o_orderstatus").as("status"),
          date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).as("revenue"))
      val orders = Tables.orders(s, d)
      val cut = lit("2000-01-01").cast("timestamp")
      val merged = graft.operators.IncrementalAgg.mergeAdditive(
        part(orders.filter(col("o_orderdate") < cut)),
        part(orders.filter(col("o_orderdate") >= cut)),
        Seq("status", "month"))
      merged.select(col("status"), col("month"), col("n_orders"),
        col("revenue").cast("double").as("revenue"))
    },

    // B50 — PageRank over the event-transition graph (B29's edges as
    // a weighted digraph): which event types are the flow hubs, by
    // 3-iteration damped rank in integer micro-units — engine-exact,
    // the oracle replays the unrolled iterations. The same
    // join+agg-per-round distribution story as dedup_clusters.
    "pagerank_events" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val edges = Tables.events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Graph.pageRank(edges, "src", "dst", "w",
        iters = 3, dampBp = 8500)
    },

    // B54 — HITS hubs & authorities on the same weighted
    // event-transition digraph (2 iterations, integer micro-units,
    // L1-renormalized per half-round): separates dispatcher states
    // (high hub — they lead INTO heavy states) from sink states
    // (high authority) — the role split B50's single PageRank score
    // can't express. Oracle replays the unrolled half-rounds.
    "hits_scores" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val edges = Tables.events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Graph.hits(edges, "src", "dst", "w", iters = 2)
    },

    // B51 — bounded-hop BFS on the same digraph: min hop distance
    // from the lexicographically-smallest event type within 3 hops
    // (deterministic seed), unreached types absent. Frontier-only
    // rounds (Graph.hopDistance) → exact under any execution order.
    "graph_reach" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val edges = Tables.events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("event_type").as("src"), col("next_type").as("dst"))
        .distinct()
      val nodes = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node"))).distinct()
      val seeds = nodes.agg(min(col("node")).as("node"))
      graft.operators.Graph.hopDistance(edges, "src", "dst", seeds, maxHops = 3)
    },

    // B53 — DEEP reachability via the same frontier-delta BFS
    // (Graph.hopDistance) on a graph that actually has fan-out: the
    // word-ADJACENCY graph of the documents corpus (distinct
    // consecutive-token edges — thousands of nodes, not B51's
    // event-type vocabulary), seeded at the lexicographically
    // smallest token. Each round joins ONLY the newly-discovered
    // shell (one checkpoint job per round, early exit on an empty
    // frontier); the oracle is the unrolled whole-set min-fold SQL —
    // value-verifying the frontier optimization end-to-end. Edges
    // build in-scan (transform over the token array, no per-token
    // shuffle); the only exchanges are the distinct and the per-round
    // frontier join, distinct and anti-join, all keyed on the term.
    "graph_reach_deep" -> { (s, d) =>
      val edges = wordAdjacencyEdges(s, d)
      val nodes = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node"))).distinct()
      val seeds = nodes.agg(min(col("node")).as("node"))
      graft.operators.Graph.hopDistance(edges, "src", "dst", seeds, maxHops = 3)
    },

    // B55 — per-node TRIANGLE participation on the (undirected view
    // of the) word-adjacency graph: the local-density signal behind
    // clustering-coefficient / community-health dashboards. Degree
    // orientation caps every out-neighborhood at O(√m), so the wedge
    // self-join does O(m^1.5) total work regardless of hub skew —
    // the distributed-triangle contract (Graph.triangleCounts);
    // oracle replays orientation + wedge + closure in SQL.
    "graph_triangles" -> { (s, d) =>
      graft.operators.Graph.triangleCounts(wordAdjacencyEdges(s, d), "src", "dst")
    },

    // B56 — 3-CORE of the word-adjacency graph under a 4-round peel
    // budget: the dense backbone left after stripping leaf chains
    // (spam-core extraction on link graphs). A no-drop round is a
    // fixpoint, so the engine's early exit and the oracle's fully
    // unrolled rounds produce identical frames whether or not the
    // budget converges (Graph.kcore).
    "graph_kcore" -> { (s, d) =>
      graft.operators.Graph.kcore(wordAdjacencyEdges(s, d), "src", "dst",
        k = 3, rounds = 4)
    },

    // B62 — COMMUNITY labels by synchronous label propagation (2
    // rounds) on the word-adjacency graph: the near-linear community
    // detector (Raghavan et al.) in its deterministic synchronous
    // form — each node adopts the most frequent neighbor label from
    // the PREVIOUS round, smaller label on ties, so the oracle
    // replays the unrolled rounds exactly (Graph.labelProp). The
    // per-node argmax is a partial-aggregable min(struct), never a
    // window.
    "label_prop" -> { (s, d) =>
      graft.operators.Graph.labelProp(wordAdjacencyEdges(s, d), "src", "dst",
        iters = 2)
    },

    // B66 — MODULARITY of the B62 communities, exact integers: per
    // community, q_scaled = 4·m·m_c − d_c² (modularity × 4m² — the
    // Newman Q with the division deferred: Q = Σ q_scaled / (4m²)),
    // so partition quality is cross-engine bit-exact with no floats —
    // computed for BOTH propagation rounds, because that comparison
    // is the operator's whole point: on this dense word graph round 2
    // OVER-COLLAPSES to one community (Σ q_scaled = 0 — definitionally
    // no better than random) while round 1's partition scores
    // positive, which is exactly the audit that tells a user when to
    // stop propagating. Shapes: labels from the same propagation as
    // B62 (the round-1 frame is the round-2 input — computed once),
    // per round one edge→label join pair (intra counts) + one degree
    // agg joined to labels, edge total broadcast back
    // (guarded-crossJoin). All node-keyed shuffles; nothing
    // driver-side.
    "modularity_score" -> { (s, d) =>
      // ONE undirected-distinct shuffle shared by BOTH operators (r17
      // verdict item 4): propagation and per-round scoring previously
      // each derived und from the cached raw edges, paying the edge-set
      // distinct twice — the dominant shuffle of this key at scale. The
      // shared frame is lazily persisted (materializes inside round 1's
      // first job, never an eager pin of a fact-scale frame) and
      // released once the scoring output (a localCheckpointed
      // per-community frame) is materialized.
      val und = graft.operators.Graph
        .undirect(wordAdjacencyEdges(s, d), "src", "dst").persist()
      val rounds = graft.operators.Graph.labelPropTraceUnd(und, iters = 2)
      val out = graft.operators.Graph.modularityRoundsUnd(und,
        Seq(1L -> rounds(0), 2L -> rounds(1)))
      und.unpersist()
      out
    },

    // B68 — degree ASSORTATIVITY of the word-adjacency graph: the
    // Pearson correlation of endpoint degrees over the symmetrized
    // edge set (both orientations — Newman's r), the one-number
    // answer to "do hubs link to hubs?" (social graphs r > 0; word /
    // web / biological graphs r < 0 — hubs surrounded by leaves).
    // The B33 exactness convention: moments Σx, Σy, Σxy, Σx², Σy²
    // accumulate as exact DECIMAL(38,0) (order-independent), the
    // statistic derives in pure double arithmetic from identical
    // exact inputs — bit-identical on any engine; zero degree
    // variance guards to r = 0 (complete-regular graphs). Shapes: one
    // distinct, one degree agg, two node-keyed joins of the 16-byte
    // degree frame, one map-side-combined moment agg.
    "assortativity" -> { (s, d) =>
      graft.operators.Graph.assortativity(wordAdjacencyEdges(s, d), "src", "dst")
    },

    // B83 — LINK-PREDICTION top-20 node pairs by common-neighbor
    // JACCARD on the word-adjacency graph — "which two entities share
    // the most context without being the same" (related-entity
    // suggestion, record-linkage candidate scoring). Wedge
    // enumeration is degree-QUADRATIC at each apex and orientation
    // does not help intersection counts, so the operator's contract
    // includes the idf-style hub guard: apexes with degree >
    // maxApexDeg generate no wedges (stopword-grade hubs connect
    // everything and carry no pair signal); union sizes stay exact.
    // At sf0.01 the cap (25) BINDS — the word graph's median degree
    // is 29 — so the oracle exercises the guarded contract, not the
    // unguarded fiction. Integers only; deterministic top-k order
    // (bp, common, pair). (Graph.commonNeighborJaccard)
    "node_jaccard" -> { (s, d) =>
      graft.operators.Graph.commonNeighborJaccard(wordAdjacencyEdges(s, d),
        "src", "dst", maxApexDeg = 25L, k = 20)
    },

    // B69 — per-user event-rate BURST hours: hours where a user's
    // event count exceeds 2× their own mean per-ACTIVE-hour rate —
    // the per-entity rate-spike alarm (bot surges, runaway clients)
    // that global outlier rules (B28) miss because every user has a
    // different baseline. Integer-exact: the comparison
    // cross-multiplies (n·active_hours > 2·total), so no engine
    // divides. ONE corpus-scan (user, hour) agg (map-side combined),
    // a users-sized re-aggregation of that frame, and a user-keyed
    // join of the two bounded frames — never a window over raw
    // events.
    "burst_hours" -> { (s, d) =>
      val perHour = Tables.events(s, d)
        .groupBy(col("user_id"),
          expr("CAST(ts AS BIGINT) div 3600").as("hour"))
        .agg(count(lit(1)).as("n"))
      val perUser = perHour.groupBy(col("user_id"))
        .agg(sum(col("n")).as("total"), count(lit(1)).as("active_hours"))
      perHour.join(perUser, "user_id")
        .filter(col("n") * col("active_hours") > col("total") * 2)
        .select(col("user_id"), col("hour"), col("n"), col("total"),
          col("active_hours"))
    },

    // B67 — A/B conversion LIFT with a division-free significance
    // statistic: users split by id parity, per-variant distinct-user
    // conversion (a HIGH-VALUE purchase, value > 150 — "any purchase"
    // saturates at 100% on this corpus and the statistic degenerates
    // to 0; the premium threshold keeps per-user conversion in the
    // discriminative range), conv in ppm, and the 2×2 chi-square
    // derived in PURE DOUBLE arithmetic from exact integer cell
    // counts (the grouped_corr convention — identical inputs +
    // identical expression order ⇒ identical bits on any engine; the
    // cell-product denominator would overflow int64 at ~10⁵ users,
    // so the doubles are the scale-correct form, not a shortcut).
    // ONE user-keyed agg (map-side combined) → 2-row variant agg →
    // one-row report.
    "ab_lift" -> { (s, d) =>
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0,
          1L).otherwise(0L)).as("converted"))
        .select((col("user_id") % 2).as("variant"), col("converted"))
      perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
        .agg(sum(when(col("variant") === 0, col("n_users"))).as("users_a"),
          sum(when(col("variant") === 0, col("n_conv"))).as("conv_a"),
          sum(when(col("variant") === 1, col("n_users"))).as("users_b"),
          sum(when(col("variant") === 1, col("n_conv"))).as("conv_b"))
        .select(col("users_a"), col("conv_a"), col("users_b"), col("conv_b"),
          expr("conv_a * 1000000 div users_a").as("conv_ppm_a"),
          expr("conv_b * 1000000 div users_b").as("conv_ppm_b"),
          expr("conv_a * (users_b - conv_b) - conv_b * (users_a - conv_a)")
            .as("delta"))
        .select(col("users_a"), col("conv_a"), col("users_b"), col("conv_b"),
          col("conv_ppm_a"), col("conv_ppm_b"),
          expr(Chi2Sql).as("chi2"))
    },

    // B52 — co-occurrence LIFT: event-type pairs done by the same
    // user, set-based (the size-2 frequent-itemset / market-basket
    // view; B29's adjacency only sees consecutive events), ranked by
    // integer lift = P(ab)/(P(a)P(b)) in basis points. One distinct
    // (user,type) shuffle; the per-user self-join fans out as
    // (items-per-user choose 2) — the standard basket shape, bounded
    // by the per-user distinct-item count (cap items per basket
    // upstream on open-ended alphabets); type totals and the user
    // count broadcast back (guarded-crossJoin convention).
    "cooccur_lift" -> { (s, d) =>
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val users = ut.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val typeCnt = ut.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
        .join(broadcast(typeCnt.select(col("event_type").as("type_a"),
          col("cnt").as("cnt_a"))), "type_a")
        .join(broadcast(typeCnt.select(col("event_type").as("type_b"),
          col("cnt").as("cnt_b"))), "type_b")
        .crossJoin(broadcast(users))
        .select(col("type_a"), col("type_b"), col("n_both"),
          col("cnt_a"), col("cnt_b"),
          expr("(n_both * n_users * 10000) div (cnt_a * cnt_b)").as("lift_bp"))
    },

    // B29 — event-transition counts (the Markov-chain view of the
    // event log): successor per user via one lead() window — single
    // shuffle on user_id, per-user sort — then a tiny (type, type)
    // count aggregation. Deterministic: (ts, event_id) is unique.
    "event_transitions" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
    },

    // B32 — sessionization with MATERIALIZED session ids: every event
    // tagged (session_id, position) per user under a 30-minute
    // inactivity gap — the per-event twin of A7's session AGGREGATES
    // (downstream per-session work needs the id on the event, not
    // just the window totals). One shuffle on user_id; both window
    // passes share the (user_id | ts, event_id) sort.
    "sessionize" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("ts").cast("long") -
            lag(col("ts"), 1).over(byUser).cast("long") > 1800L)
            .as("gap"))
        .select(col("event_id"), col("user_id"), col("ts"),
          sum(when(col("gap"), 1L).otherwise(0L)).over(byUser).as("session_id"))
    },

    // B60 — TOP session PATHS: the most common session-opening
    // event-type sequences (first 3 events of each B32 session),
    // ranked — the sequence-mining rollup of the per-event episode
    // view (B58): "how do sessions start" for funnel design. The
    // per-session path builds from ONE ordered collect per (user,
    // session) — bounded by session length — and the ranking window
    // runs over the PATH VOCABULARY (≤ |event types|³ + shorter
    // prefixes, a bounded frame by construction — the vocab-window
    // contract), never over sessions.
    "top_paths" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          (col("ts").cast("long") -
            lag(col("ts"), 1).over(byUser).cast("long") > 1800L).as("gap"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          sum(when(col("gap"), 1L).otherwise(0L)).over(byUser).as("sid"))
      val paths = sess.groupBy(col("user_id"), col("sid"))
        .agg(array_join(slice(expr(
          "transform(array_sort(collect_list(struct(ts, event_id, event_type)))," +
            " x -> x.event_type)"), 1, 3), ">").as("path"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("n_sessions").desc, col("path").asc))
          .cast("long"))
        .filter(col("rank") <= 10)
    },

    // B59 — TIME-WEIGHTED average value per user (TWAP): each
    // observation holds until the next same-user event, so the mean
    // weights value by HOLDING DURATION, not by tick count — the
    // market-data/sensor statistic a plain avg() silently gets wrong
    // on irregular streams. Integer-exact: cents × seconds sums in
    // 64-bit, twap = vt_sum div dur_secs; the window and the
    // aggregation share the user-key partitioning, so the whole
    // operator costs ONE shuffle.
    "twap_value" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .withColumn("dur",
          lead(col("ts"), 1).over(byUser).cast("long") - col("ts").cast("long"))
        .filter(col("dur").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_spans"), sum(col("dur")).as("dur_secs"),
          sum(col("cents") * col("dur")).as("vt_sum"))
        .filter(col("dur_secs") > 0)
        .select(col("user_id"), col("n_spans"), col("dur_secs"),
          col("vt_sum"), expr("vt_sum div dur_secs").as("twap_cents"))
    },

    // B63 — EWMA spike detection, integer-exact: per user, the
    // geometric-weight mean of the previous 4 observations (weights
    // 8/4/2/1 newest-first, missing lags dropped from numerator AND
    // denominator) flags any event whose value exceeds 3× it — the
    // streaming-shaped anomaly rule a global 2σ (B28) can't express
    // (it adapts per user, per instant). EXACTNESS: values in cents,
    // the mean kept as the (num, den) PAIR and the threshold
    // cross-multiplied (cents·den > 3·num) so no engine ever divides
    // — bit-identical everywhere. ONE user-keyed shuffle; the four
    // lags share the (user | ts, event_id) sort.
    "ewma_anomaly" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .withColumn("l1", lag(col("cents"), 1).over(byUser))
        .withColumn("l2", lag(col("cents"), 2).over(byUser))
        .withColumn("l3", lag(col("cents"), 3).over(byUser))
        .withColumn("l4", lag(col("cents"), 4).over(byUser))
        .select(col("user_id"), col("event_id"), col("ts"), col("cents"),
          (coalesce(col("l1") * 8, lit(0L)) + coalesce(col("l2") * 4, lit(0L)) +
            coalesce(col("l3") * 2, lit(0L)) + coalesce(col("l4"), lit(0L)))
            .as("ewma_num"),
          (when(col("l1").isNotNull, 8L).otherwise(0L) +
            when(col("l2").isNotNull, 4L).otherwise(0L) +
            when(col("l3").isNotNull, 2L).otherwise(0L) +
            when(col("l4").isNotNull, 1L).otherwise(0L)).as("ewma_den"))
        .filter(col("ewma_den") > 0 &&
          col("cents") * col("ewma_den") > col("ewma_num") * 3)
    },

    // B77 — TWO-WINDOW MEAN-SHIFT detection (the bounded-frame,
    // shuffle-once form of changepoint detection — CUSUM's recursion
    // doesn't distribute, two sliding sample means do): per user, a
    // point is a level shift when the mean of the next 8 observations
    // (current inclusive) moves more than ¢30 against the mean of the
    // previous 8, both windows full. Cents + cross-multiplied
    // comparison (|after−before| > 8·3000 on the equal-count sums) so
    // no engine divides. ONE user-keyed shuffle; frames are ±8 rows —
    // per-row cost is constant at any corpus size.
    "mean_shift_detect" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val before = byUser.rowsBetween(-8, -1)
      val after = byUser.rowsBetween(0, 7)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .withColumn("before_sum", sum(col("cents")).over(before))
        .withColumn("before_n", count(lit(1)).over(before))
        .withColumn("after_sum", sum(col("cents")).over(after))
        .withColumn("after_n", count(lit(1)).over(after))
        .filter(col("before_n") === 8 && col("after_n") === 8)
        .filter(abs(col("after_sum") - col("before_sum")) > lit(8L * 3000L))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("before_sum"), col("after_sum"),
          expr("CASE WHEN after_sum >= before_sum" +
            " THEN (after_sum - before_sum) div 8" +
            " ELSE -((before_sum - after_sum) div 8) END").as("shift_cents"))
    },

    // B78 — LAG-k AUTOCORRELATION of the hourly volume series, exact:
    // per event type, the dense hourly spine (sequence between the
    // type's min/max epoch-hour, gaps = 0) and acf at lags 1..3 from
    // exact moments only — multiply the centered terms through by n
    // (n·x−S) so the mean never becomes a float; the bp ratio is the
    // single sign-handled integral division at the end. The centered
    // term c0 = n·x−S itself fits Long at any real corpus (hours are
    // calendar-bounded, so n·x ≤ 10^5 · corpus/hours ≲ 10^15), but
    // the second moments Σc0² grow ~ n³·Var(hourly count) — Long
    // wraps silently past ~10^18 while the DuckDB oracle's HUGEINT
    // sum errors, an engine/oracle divergence at 100x sweep scale.
    // So den/num accumulate in DECIMAL(38,0) (exact to 10^38,
    // order-independent) and surface as DOUBLE per the QueryMath
    // convention; the oracle mirrors with HUGEINT → DOUBLE. The "is
    // this volume series periodic / sticky" profiler behind capacity
    // planning and anomaly baselines. Scale: the counts agg is
    // map-side combined into ≤ types×hours rows; the spine and the
    // three self-joins all live on that bounded frame, not the corpus.
    "acf_hourly" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 3600").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
      val series = Ckpt(spine.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("cnt"), lit(0L)).as("x")))
      val tot = series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("h").asc)
      val lagged = series
        .withColumn("x1", lead(col("x"), 1).over(byType))
        .withColumn("x2", lead(col("x"), 2).over(byType))
        .withColumn("x3", lead(col("x"), 3).over(byType))
        .join(broadcast(tot), "event_type")
        .withColumn("c0", col("n") * col("x") - col("s"))
      val d38 = (c: Column) => c.cast(DecimalType(38, 0))
      val moments = lagged.groupBy(col("event_type"))
        .agg(max(col("n")).as("n_hours"),
          sum(d38(col("c0")) * d38(col("c0"))).as("den"),
          sum(when(col("x1").isNotNull,
            d38(col("c0")) * d38(col("n") * col("x1") - col("s")))).as("num1"),
          sum(when(col("x2").isNotNull,
            d38(col("c0")) * d38(col("n") * col("x2") - col("s")))).as("num2"),
          sum(when(col("x3").isNotNull,
            d38(col("c0")) * d38(col("n") * col("x3") - col("s")))).as("num3"))
      def bp(num: String): Column =
        expr(s"CASE WHEN $num >= 0 THEN ($num * 10000) div den" +
          s" ELSE -((-($num) * 10000) div den) END")
      // den = 0 only for a degenerate series (every hour identical —
      // in practice a single-bucket type); acf is undefined there
      moments.filter(col("den") > 0)
        .select(col("event_type"), col("n_hours"),
        col("den").cast("double").as("den"),
        col("num1").cast("double").as("num1"),
        col("num2").cast("double").as("num2"),
        col("num3").cast("double").as("num3"),
        bp("num1").as("acf1_bp"), bp("num2").as("acf2_bp"),
        bp("num3").as("acf3_bp"))
    },

    // B85 — FANO-FACTOR overdispersion of hourly event volume per
    // type (variance-to-mean of the DENSE hour series, zeros
    // included — B78's spine): Fano ≈ 1 → Poisson-like arrivals,
    // ≫ 1 → bursty/clustered — the one-number answer to "is this
    // stream's burstiness real or just volume", feeding the same
    // capacity/anomaly baselines as B69/B78. Division-free integers:
    // fano_ppm = (H·Σx² − (Σx)²)·10⁶ div (H·Σx) with Σx² in
    // DECIMAL(38,0) (exact, order-independent — the B78/HUGEINT
    // convention); numerator ≥ 0 by Cauchy-Schwarz. ONE corpus agg →
    // calendar-bounded series → per-type fold.
    "fano_factor" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 3600").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
      val series = spine.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), coalesce(col("cnt"), lit(0L)).as("x"))
      val d38 = (c: Column) => c.cast(DecimalType(38, 0))
      series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("total"),
          sum(d38(col("x")) * d38(col("x"))).as("ss"))
        .filter(col("total") > 0)
        .withColumn("num", d38(col("n_hours")) * col("ss")
          - d38(col("total")) * d38(col("total")))
        .withColumn("den", d38(col("n_hours")) * d38(col("total")))
        .select(col("event_type"), col("n_hours"), col("total"),
          expr("(num * 1000000) div den").as("fano_ppm"))
    },

    // B86 — TRANSITION DWELL: B29's Markov edge counts extended with
    // the time spent on each transition (Σ, max, integer-mean µs) —
    // the "where do users stall" layer funnel design needs on top of
    // where they GO (a common A→B edge with a huge dwell is a UX
    // cliff, not a flow). Same single user-keyed shuffle as B29 (one
    // lead() window carries both successor type and timestamp);
    // dwell sums are exact integer µs, mean = sum div n.
    "transition_dwell" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          lead(col("ts"), 1).over(w).as("next_ts"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"),
          sum(unix_micros(col("next_ts")) - unix_micros(col("ts")))
            .as("dwell_us_sum"),
          max(unix_micros(col("next_ts")) - unix_micros(col("ts")))
            .as("dwell_us_max"))
        .withColumn("dwell_us_mean", expr("dwell_us_sum div n"))
    },

    // B87 — RESOURCE-ALLOCATION link prediction (Zhou, Lü & Zhang,
    // EPJ B 2009): RA(u,v) = Σ_{w∈N(u)∩N(v)} 1/deg(w) — B83's
    // common-neighbor count with each shared neighbor DISCOUNTED by
    // its degree, so a pair sharing three quiet specialists outranks
    // one sharing three near-hub generalists (RA beats raw counts
    // and Adamic-Adar on link-prediction benchmarks, and its 1/deg
    // weight is integer-exact where AA's 1/log deg is not:
    // ra_ppm = Σ 10⁶ div deg(w)). Same wedge machinery and hub
    // guard as B83 (apex deg ≤ 25 generates wedges; weights use the
    // EXACT uncapped degree); deterministic top-20.
    "resource_alloc" -> { (s, d) =>
      graft.operators.Graph.resourceAllocation(wordAdjacencyEdges(s, d),
        "src", "dst", maxApexDeg = 25L, k = 20)
    },

    // B89 — LOCAL CLUSTERING COEFFICIENT per node: cc = 2·tri(v) /
    // (deg(v)·(deg(v)−1)) in ppm over the word-adjacency graph — the
    // node-level "is my neighborhood a clique or a star" statistic
    // (B55 counts triangles, B68 summarizes mixing globally; cc is
    // what spam/community detectors threshold PER NODE — a high-deg
    // low-cc node is a hub/bridge, high-cc a clique member). Exact
    // integers: B55's once-per-triangle count joined to the uncapped
    // degree frame, floor division; nodes in no triangle are absent
    // (B55's contract), deg ≥ 2 guaranteed there. Cost on top of
    // B55: one node-keyed join of two vocab-bounded frames.
    "clustering_coeff" -> { (s, d) =>
      // ONE undirected-distinct shuffle shared by the triangle count
      // and the outer degree frame (r19 — the modularity_score sharing
      // lesson): the old form derived the edge-set distinct TWICE (the
      // outer `und` + triangleCounts' internal copy), re-running the
      // documents scan + token explode + distinct per consumer. The
      // shared frame is lazily persisted (materializes inside the
      // first triangle job) and released once the localCheckpointed
      // triangle output exists; values are bit-identical (same und,
      // same deg, same joins).
      val und = graft.operators.Graph
        .undirect(wordAdjacencyEdges(s, d), "src", "dst").persist()
      val deg = und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val tri = graft.operators.Graph.triangleCountsUnd(und)
      val out = Ckpt(tri
        .join(deg, "node")
        .select(col("node"), col("n_tri"), col("deg"),
          expr("(2 * n_tri * 1000000) div (deg * (deg - 1))").as("cc_ppm")))
      und.unpersist()
      out
    },

    // B90 — CUSUM ALARM (Page 1954, zero-slack one-sided form) per
    // event type on the dense daily count series: S_i = max(0,
    // S_{i−1} + (y_i − µ)) flags a SUSTAINED upward shift that B28's
    // pointwise z-scores and B77's two-window split both miss (ten
    // days each 10% hot never trips a 3σ gate; CUSUM integrates the
    // drift). The recursion is NOT a window sum, but the classic
    // prefix identity S_i = P_i − min(0, min_{j≤i} P_j) with
    // P = prefix-sum of residuals makes it two running windows over
    // the per-type CALENDAR-BOUNDED day series (the vocab-window
    // contract — partitions are ≤ #days rows at any corpus size).
    // Division-free integers: resid = n·y − total (sums to zero), so
    // cusum is in units of n·count; the alarm gate cusum > total is
    // "cumulative excess above the mean exceeds one mean-day of
    // volume" in those same units. Bounds: |P| ≤ 2·n·total — at
    // 10¹² events/type over 10⁴ days that is ~10¹⁶, inside BIGINT.
    "cusum_alarm" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
      val series = spine.join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("y"))
      val tot = series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("total"))
      val wp = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      series.join(broadcast(tot), "event_type")
        .withColumn("resid", col("n_days") * col("y") - col("total"))
        .withColumn("pfx", sum(col("resid")).over(wp))
        .withColumn("cusum",
          col("pfx") - least(lit(0L), min(col("pfx")).over(wp)))
        .groupBy(col("event_type"))
        .agg(max(col("n_days")).as("n_days"), max(col("total")).as("total"),
          max(col("cusum")).as("max_cusum"),
          sum(when(col("cusum") > col("total"), 1L).otherwise(0L))
            .as("n_alarm_days"),
          coalesce(min(when(col("cusum") > col("total"), col("day"))),
            lit(-1L)).as("first_alarm_day"))
    },

    // B91 — DAU/WAU STICKINESS per day: dau = distinct active users,
    // wau = distinct users active in the trailing 7 days, ratio in
    // bp — the product-health pulse every growth dashboard leads
    // with. The rolling DISTINCT is the trap (a naive trailing
    // count-distinct window re-scans 7 days of user ids per day);
    // instead each user's active-day sequence becomes disjoint
    // coverage intervals ([g, min(g+6, next−1)] via one lead() over
    // the USER-bounded window), intervals become ±1 deltas, and wau
    // is one running sum over the calendar-bounded day spine — the
    // B80 sweep-line posture, so the corpus-sized frames only ever
    // see a user-keyed distinct + map-side-combined aggs. Days in a
    // dead zone (> 7 days after the last activity) keep wau = 0 and
    // surface stickiness_bp = −1 rather than dividing.
    "dau_wau" -> { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .distinct()
      val wu = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val iv = ud
        .select(col("day").as("cstart"), lead(col("day"), 1).over(wu).as("nx"))
        .select(col("cstart"),
          when(col("nx").isNull || col("nx") > col("cstart") + 6,
            col("cstart") + 6).otherwise(col("nx") - 1).as("cend"))
      val deltas = iv.select(col("cstart").as("day"), lit(1L).as("delta"))
        .unionByName(iv.select((col("cend") + 1).as("day"),
          lit(-1L).as("delta")))
        .groupBy(col("day")).agg(sum(col("delta")).as("delta"))
      val spine = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(expr("sequence(d0, d1)")).as("day"))
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wd = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(deltas, Seq("day"), "left")
        .select(col("day"), coalesce(col("delta"), lit(0L)).as("delta"))
        .withColumn("wau", sum(col("delta")).over(wd))
        .join(dau, Seq("day"), "left")
        .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"),
          expr("CASE WHEN wau > 0 THEN coalesce(dau, 0L) * 10000 div wau " +
            "ELSE -1 END").as("stickiness_bp"))
    },

    // B115 — WALD–WOLFOWITZ RUNS TEST on daily up/down moves per
    // event type: are consecutive days' direction changes RANDOM, or
    // do moves cluster (momentum) / alternate (mean-reversion)?
    // Complements B78's magnitude autocorrelation with a pure sign
    // test (outlier-free by construction). Ties (flat days) drop per
    // the classic test; runs = 1 + Σ[sign ≠ prev sign] over the
    // calendar-bounded per-type day series (two lags, one window
    // spec); verdict division-free: R·n vs 2·n⁺·n⁻ + n cross-compared.
    "runs_test" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val moves = spine.join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("y"))
        .withColumn("prev", lag(col("y"), 1).over(w))
        .filter(col("prev").isNotNull && col("y") =!= col("prev"))
        .select(col("event_type"), col("day"),
          when(col("y") > col("prev"), 1L).otherwise(-1L).as("mv"))
      val wm = Window.partitionBy(col("event_type")).orderBy(col("day"))
      moves.withColumn("pmv", lag(col("mv"), 1).over(wm))
        .groupBy(col("event_type"))
        .agg(sum(when(col("mv") === 1L, 1L).otherwise(0L)).as("n_up"),
          sum(when(col("mv") === -1L, 1L).otherwise(0L)).as("n_down"),
          (sum(when(col("pmv").isNotNull && col("mv") =!= col("pmv"), 1L)
            .otherwise(0L)) + 1).as("n_runs"))
        .select(col("event_type"), col("n_up"), col("n_down"), col("n_runs"),
          when(col("n_runs") * (col("n_up") + col("n_down")) <
            col("n_up") * col("n_down") * 2 + (col("n_up") + col("n_down")),
            "clustered")
            .when(col("n_runs") * (col("n_up") + col("n_down")) >
              col("n_up") * col("n_down") * 2 + (col("n_up") + col("n_down")),
              "alternating")
            .otherwise("random").as("verdict"))
    },

    // B116 — KAPLAN–MEIER SURVIVAL TABLE of customer repeat-purchase
    // delay, per market segment: "having just ordered, how long until
    // the NEXT order?" with right-censoring done properly — the gap
    // from a customer's last order to the dataset horizon is a
    // censored duration, not an event (naive avg-gap silently drops
    // exactly the long gaps that matter). Durations via one lead()
    // window on (custkey, orderdate, orderkey); the classic KM table
    // is integers only: at_risk(t) = #durations ≥ t falls out of ONE
    // cumulative window ordered by t DESC over the per-(segment, t)
    // counts — no per-event-time scan. The survival curve itself is
    // Π(1 − d/n) over these rows, a trivial client-side fold; the
    // TABLE is the distributed product.
    "km_survival" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      val horizon = o.agg(max(col("o_orderdate")).as("dmax"))
      val seg = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val dur = o
        .withColumn("nxt", lead(col("o_orderdate"), 1).over(w))
        .crossJoin(broadcast(horizon))
        .select(col("o_custkey"),
          when(col("nxt").isNotNull, datediff(col("nxt"), col("o_orderdate")))
            .otherwise(datediff(col("dmax"), col("o_orderdate")))
            .cast("long").as("t_days"),
          when(col("nxt").isNotNull, 1L).otherwise(0L).as("ev"))
      val counts = dur.join(broadcast(seg), "o_custkey")
        .groupBy(col("c_mktsegment").as("segment"), col("t_days"))
        .agg(sum(col("ev")).as("events"),
          sum(lit(1L) - col("ev")).as("censored"))
      val wd = Window.partitionBy(col("segment")).orderBy(col("t_days").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts
        .withColumn("at_risk", sum(col("events") + col("censored")).over(wd))
        .filter(col("events") > 0)
        .select(col("segment"), col("t_days"), col("at_risk"),
          col("events"), col("censored"))
    },

    // B117 — ABC CLASSIFICATION of parts by discounted revenue (the
    // 70/90 Pareto inventory bands): rank parts by revenue desc,
    // inclusive cumulative share, class A ≤ 70 % of total mass,
    // B ≤ 90 %, C the tail. The ranked frame is part-granular — a
    // dimension, not the fact table — and even so the cumulative sum
    // is the shard_plan two-level prefix (per-band offsets from a
    // band-count-sized window + a within-band window partitioned by
    // band), NOT one global sort: band = rev_e4 div 10⁷ is monotone
    // in revenue so cross-band order is free. Revenue on the exact
    // 10⁻⁴-dollar grid; ties broken by partkey. Oracle replays the
    // NAIVE single-window cumulative — equality IS the two-level
    // prefix's correctness proof.
    "abc_classification" -> { (s, d) =>
      // r19 (guide §1/§5): `pr` feeds three consumers (the grand
      // total, the band mass table, and the final banded frame), so
      // the lineitem scan + part-keyed revenue aggregation ran three
      // times. The frame is part-granular (a dimension, not the
      // fact); one eager localCheckpoint makes every consumer a
      // block read. Values untouched.
      val pr = Ckpt(Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum((dec2(col("l_extendedprice")) *
          (lit(1) - dec2(col("l_discount"))) * 10000).cast("long"))
          .as("rev_e4")))
      val tot = pr.agg(sum(col("rev_e4")).as("total_e4"))
      val banded = pr.withColumn("band", expr("rev_e4 div 10000000"))
      val bandAgg = banded.groupBy(col("band"))
        .agg(sum(col("rev_e4")).as("b_mass"))
      val wband = Window.orderBy(col("band").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val bandOff = bandAgg
        .select(col("band"),
          coalesce(sum(col("b_mass")).over(wband), lit(0L)).as("b_off"))
      val wloc = Window.partitionBy(col("band"))
        .orderBy(col("rev_e4").desc, col("l_partkey").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      banded.join(broadcast(bandOff), "band")
        .withColumn("cum",
          col("b_off") + coalesce(sum(col("rev_e4")).over(wloc), lit(0L)) +
            col("rev_e4"))
        .crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("cum") * 100 <= col("total_e4") * 70, "A")
            .when(col("cum") * 100 <= col("total_e4") * 90, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev_e4")).as("rev_e4"),
          max(col("total_e4")).as("total_e4"))
        // div-first: rev_e4·10⁴ wraps BIGINT at 10× revenue mass, so
        // the bp share divides by the pre-scaled total instead —
        // identical floors both engines, overflow-free to any decade.
        // greatest(…, 1): under 10⁴ e4-units total the pre-scaled
        // denominator floors to 0 and the engines would diverge
        // (Spark's non-ANSI div nulls, DuckDB raises) — clamp so a
        // degenerate slice floors identically on both (r13 advice)
        .withColumn("share_bp",
          expr("rev_e4 div greatest(total_e4 div 10000, 1)"))
    },

    // B118 — CUPED-ADJUSTED A/B LIFT: variance-reduced treatment
    // effect using each user's PRE-period spend as the control
    // covariate (θ = Cov(X,Y)/Var(X), Y_adj = Y − θ(X − X̄)) — the
    // standard fix for B67's raw delta being noise-owned when user
    // spend is heavy-tailed. Calendar split at the integer midpoint
    // day; X/Y are exact milli-value sums per user; all moments
    // accumulate in DECIMAL(38,0) (BIGINT Σx² wraps at 100× event
    // scale; acf_hourly convention), and only the FINAL θ/deltas are
    // computed in DOUBLE from decimal-cast operands — identical
    // expression trees both engines, bit-identical float64.
    "cuped_ab" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"),
          expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
      val split = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(expr("(d0 + d1 + 1) div 2").as("mid"))
      val pu = ev.crossJoin(broadcast(split))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("mid"), col("v")).otherwise(0L))
          .as("x"),
          sum(when(col("day") >= col("mid"), col("v")).otherwise(0L))
            .as("y"))
        .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
      val d38 = (c: Column) => c.cast(DecimalType(38, 0))
      val m = pu.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("sx_a"),
        sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("sy_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("sx_b"),
        sum(when(col("variant") === 1, col("y")).otherwise(0L)).as("sy_b"))
      m.select(col("n_a"), col("n_b"), col("sx_a"), col("sy_a"),
          col("sx_b"), col("sy_b"),
          (d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
            .cast("double").as("theta_num"),
          (d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx")))
            .cast("double").as("theta_den"))
        .withColumn("theta", col("theta_num") / col("theta_den"))
        .withColumn("delta_raw_milli",
          col("sy_b").cast("double") / col("n_b").cast("double") -
            col("sy_a").cast("double") / col("n_a").cast("double"))
        .withColumn("delta_cuped_milli",
          col("delta_raw_milli") - col("theta") *
            (col("sx_b").cast("double") / col("n_b").cast("double") -
              col("sx_a").cast("double") / col("n_a").cast("double")))
    },

    // B119 — BURSTINESS INDEX B = (σ−μ)/(σ+μ) of inter-event gaps
    // per type: −1 = metronome-regular, 0 = Poisson, →1 = bursty —
    // the GAP-dispersion twin of B85's Fano factor (which bins counts
    // and never sees within-bin spacing). Gaps are WITHIN-DAY only so
    // the ordering window is (type, day)-partitioned — day-granular
    // partitions, never one giant per-type sort (the calendar-bounded
    // discipline); µs grid, moments in DECIMAL(38,0) (Σg² wraps
    // BIGINT at 100×), and the n-cancelled identity
    // B = (√D − S)/(√D + S) with D = n·Σg² − S² needs ONE sqrt —
    // IEEE-correctly-rounded in both engines, so the DOUBLE is
    // bit-identical.
    "burstiness_index" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("us"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("us").asc, col("event_id").asc)
      val gaps = ev.withColumn("pus", lag(col("us"), 1).over(w))
        .filter(col("pus").isNotNull)
        .select(col("event_type"), (col("us") - col("pus")).as("g"))
      val d38 = (c: Column) => c.cast(DecimalType(38, 0))
      gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sum_gap_us"),
          sum(d38(col("g")) * d38(col("g"))).as("sgg"))
        .filter(col("sum_gap_us") > 0)
        .select(col("event_type"), col("n_gaps"), col("sum_gap_us"),
          (d38(col("n_gaps")) * col("sgg") -
            d38(col("sum_gap_us")) * d38(col("sum_gap_us")))
            .cast("double").as("d_num"))
        .withColumn("burstiness",
          (sqrt(col("d_num")) - col("sum_gap_us").cast("double")) /
            (sqrt(col("d_num")) + col("sum_gap_us").cast("double")))
    },

    // B120 — ORDER BACKLOG CURVE: daily count of open orders per
    // priority (open = ordered, not yet fully shipped; close = the
    // order's LAST line shipment) — the operations dashboard behind
    // every "is fulfillment keeping up" conversation, and the
    // interval-sweep twin of B100 on the ORDERS axis: one fact-keyed
    // max(shipdate) aggregation, ±1 deltas on the epoch-day grid
    // (map-side combined to ≤ priorities×days rows), dense calendar
    // spine per priority, one cumulative window over the
    // calendar-bounded frame. An order with no observed lines closes
    // same-day (left join, documented).
    "order_backlog" -> { (s, d) =>
      val close = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("close_date"))
      val o = Tables.orders(s, d)
        .join(close, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderpriority").as("priority"),
          expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)")
            .as("d0"),
          expr("CAST(datediff(coalesce(close_date, o_orderdate)," +
            " DATE '1970-01-01') AS BIGINT)").as("dc"))
      val deltas = o.select(col("priority"), col("d0").as("day"),
          lit(1L).as("delta"))
        .unionByName(o.select(col("priority"), (col("dc") + 1).as("day"),
          lit(-1L).as("delta")))
        .groupBy(col("priority"), col("day"))
        .agg(sum(col("delta")).as("delta"))
      val spine = o.groupBy(col("priority"))
        .agg(min(col("d0")).as("lo"), max(col("dc")).as("hi"))
        .select(col("priority"), explode(expr("sequence(lo, hi)")).as("day"))
      val w = Window.partitionBy(col("priority")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(deltas, Seq("priority", "day"), "left")
        .select(col("priority"), col("day"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .withColumn("n_open", sum(col("delta")).over(w))
        .select(col("priority"), col("day"), col("n_open"))
    },

    // B121 — SHIP-LAG QUARTILES per order priority: exact disc
    // quartiles of order→ship days ("does 1-URGENT actually ship
    // faster, and is its p75 drifting") via the B34 value-vocabulary
    // machinery: lag days land on a tiny integer grid (the vocabulary
    // is ≤ observed-day-range sized, never row-sized), so cumulative
    // counts over the per-(priority, days) frame give deterministic
    // lower-quartile picks with no row-level sort anywhere; the one
    // fact-fact orderkey join carries only two narrow columns.
    "ship_lag_quartiles" -> { (s, d) =>
      val counts = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr("CAST(datediff(l_shipdate, o_orderdate) AS BIGINT)")
            .as("days"))
        .groupBy(col("priority"), col("days")).agg(count(lit(1)).as("c"))
      val byPrio = Window.partitionBy(col("priority")).orderBy(col("days"))
      counts
        .withColumn("cum", sum(col("c")).over(
          byPrio.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(
          byPrio.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .groupBy(col("priority"))
        .agg(max(col("n")).as("n_lines"),
          min(when(col("cum") >= expr("(n + 3) div 4"), col("days")))
            .as("q25_days"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("days")))
            .as("q50_days"),
          min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("days")))
            .as("q75_days"))
    },

    // B122 — DISCOUNT LIFT: quantity response per discount level —
    // "does a deeper discount actually move more units per line?"
    // (the promo-effectiveness read under B41's revenue impact).
    // Discounts live on an exact cent grid (the group key), baseline
    // = the zero-discount stratum broadcast back; per-line quantity
    // on the milli grid first, lift in bp from the two MILLI values
    // (documented double-rounding — both engines round the same
    // integers the same way, so the chain stays bit-exact). The
    // baseline is a ONE-ROW AGGREGATE (never an empty filter frame):
    // if no zero-discount lines exist, base_milli is null and every
    // stratum reports the sentinel lift_bp = -1 — the dau_wau
    // convention — instead of the crossJoin silently emptying the
    // whole result (r13 advice).
    "discount_lift" -> { (s, d) =>
      val g = Tables.lineitem(s, d)
        .groupBy((dec2(col("l_discount")) * 100).cast("long")
          .as("discount_pct"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .withColumn("qty_per_line_milli",
          expr("sum_qty * 1000 div n_lines"))
      val base = g.agg(max(when(col("discount_pct") === 0,
        col("qty_per_line_milli"))).as("base_milli"))
      g.crossJoin(broadcast(base))
        .select(col("discount_pct"), col("n_lines"), col("sum_qty"),
          col("qty_per_line_milli"),
          expr("CASE WHEN base_milli IS NULL THEN -1" +
            " ELSE qty_per_line_milli * 10000 div base_milli END")
            .as("lift_bp"))
    },

    // B123 — REVENUE BRIDGE (growth accounting): month-over-month
    // revenue delta decomposed into NEW + EXPANSION − CHURNED −
    // CONTRACTION customer money — the finance bridge behind every
    // "why did revenue move" review (B114 tracks cohorts forward;
    // this explains ONE month's delta exactly, and the identity
    // net = Δrevenue is checkable row by row). One (cust, month)
    // aggregation, then a month-shifted FULL OUTER self-join on the
    // customer key (prev-only = churn, cur-only = new); cent-exact,
    // bridge months bounded to (min, max] of the calendar.
    "revenue_bridge" -> { (s, d) =>
      val pm = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("cust"),
          expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)")
            .as("ym"))
        .agg(sum((dec2(col("o_totalprice")) * 100).cast("long")).as("cents"))
      val bounds = pm.agg(min(col("ym")).as("m_min"), max(col("ym")).as("m_max"))
      val cur = pm.select(col("cust"), col("ym").as("m"),
        col("cents").as("cur_cents"))
      val prev = pm.select(col("cust"), (col("ym") + 1).as("m"),
        col("cents").as("prev_cents"))
      cur.join(prev, Seq("cust", "m"), "full_outer")
        .crossJoin(broadcast(bounds))
        .filter(col("m") > col("m_min") && col("m") <= col("m_max"))
        .groupBy(col("m"))
        .agg(
          sum(when(col("prev_cents").isNull, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cur_cents").isNull, 1L).otherwise(0L))
            .as("n_churned"),
          sum(when(col("prev_cents").isNull, col("cur_cents"))
            .otherwise(0L)).as("new_cents"),
          sum(when(col("cur_cents").isNull, col("prev_cents"))
            .otherwise(0L)).as("churned_cents"),
          sum(when(col("cur_cents") > col("prev_cents"),
            col("cur_cents") - col("prev_cents")).otherwise(0L))
            .as("expansion_cents"),
          sum(when(col("cur_cents") < col("prev_cents"),
            col("prev_cents") - col("cur_cents")).otherwise(0L))
            .as("contraction_cents"))
        .withColumn("net_cents",
          expr("new_cents + expansion_cents - churned_cents" +
            " - contraction_cents"))
    },

    // B124 — USER LIFECYCLE STATES per week: NEW / RETAINED /
    // RESURRECTED / DORMANT counts and the growth quick ratio
    // ((new+resurrected)·10⁴ div dormant) — the user-count twin of
    // B123's money bridge and the weekly state machine B106's daily
    // ledger can't express (resurrection needs "was ever active
    // before but not last week"). One distinct (user, week) frame,
    // per-user first week, the same week-shifted FULL OUTER
    // self-join; bounded to (min, max] weeks.
    "user_lifecycle" -> { (s, d) =>
      val aw = Tables.events(s, d)
        .select(col("user_id"),
          expr("CAST(ts AS BIGINT) div 604800").as("wk"))
        .distinct()
      val fw = aw.groupBy(col("user_id")).agg(min(col("wk")).as("first_wk"))
      val bounds = aw.agg(min(col("wk")).as("w_min"), max(col("wk")).as("w_max"))
      val cur = aw.select(col("user_id"), col("wk").as("w"), lit(1L).as("cur"))
      val prev = aw.select(col("user_id"), (col("wk") + 1).as("w"),
        lit(1L).as("prv"))
      cur.join(prev, Seq("user_id", "w"), "full_outer")
        .join(fw, "user_id")
        .crossJoin(broadcast(bounds))
        .filter(col("w") > col("w_min") && col("w") <= col("w_max"))
        .groupBy(col("w"))
        .agg(
          sum(when(col("cur").isNotNull && col("first_wk") === col("w"), 1L)
            .otherwise(0L)).as("n_new"),
          sum(when(col("cur").isNotNull && col("prv").isNotNull &&
            col("first_wk") < col("w"), 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("cur").isNotNull && col("prv").isNull &&
            col("first_wk") < col("w"), 1L).otherwise(0L))
            .as("n_resurrected"),
          sum(when(col("cur").isNull, 1L).otherwise(0L)).as("n_dormant"))
        .withColumn("quick_ratio_bp",
          when(col("n_dormant") > 0,
            expr("(n_new + n_resurrected) * 10000 div n_dormant"))
            .otherwise(lit(-1L)))
    },

    // B125 — MAX DRAWDOWN of the daily volume series per type: the
    // worst peak-to-trough drop in basis points of the running peak,
    // and the (first) day it bottomed — the "worst regression ever"
    // stat an SRE reads before trusting a growth chart (B77 finds
    // WHERE the level shifted; this bounds HOW BAD the worst slide
    // was). Dense calendar spine (a zero day is a full drawdown —
    // that's the point), one running-max window over the
    // calendar-bounded frame, integer bp; the bottom day is the
    // deterministic min-day argmax via a tiny self-join.
    "max_drawdown" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = Ckpt(spine.join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("y"))
        .withColumn("runmax", max(col("y")).over(w))
        .filter(col("runmax") > 0)
        .withColumn("dd_bp",
          expr("(runmax - y) * 10000 div runmax")))
      val worst = dd.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), max(col("runmax")).as("peak"),
          max(col("dd_bp")).as("max_dd_bp"))
      worst.join(dd.select(col("event_type"), col("day"),
          col("dd_bp").as("max_dd_bp")), Seq("event_type", "max_dd_bp"))
        .groupBy(col("event_type"))
        .agg(max(col("n_days")).as("n_days"), max(col("peak")).as("peak"),
          max(col("max_dd_bp")).as("max_dd_bp"),
          min(col("day")).as("trough_day"))
    },

    // B126 — CROSS-CORRELATION (lead–lag) between event types' daily
    // series: Pearson r of type A's day-t volume vs type B's day-t+ℓ
    // volume for ℓ = 0…3 — "does today's A predict tomorrow's B",
    // the cross twin of B78's autocorrelation and the first question
    // behind any funnel-timing or capacity-echo hypothesis. All
    // series share the GLOBAL calendar spine (zero-filled), so the
    // lag join is day-keyed and the overlap is exactly N−ℓ days;
    // moments per (pair, lag) from ONE fold of the joined frame in
    // DECIMAL(38,0), r as the identical DOUBLE tree with two
    // correctly-rounded sqrts. Pair frame is types²×lags — tiny.
    "xcorr_daily" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val cal = counts.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val types = counts.select(col("event_type")).distinct()
      val series = Ckpt(types.crossJoin(broadcast(cal))
        .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
        .join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("x")))
      val lags = s.range(0, 4).select(col("id").as("lag"))
      val a = series.select(col("event_type").as("type_a"),
        col("day"), col("x"))
      val b = series.select(col("event_type").as("type_b"),
        col("day").as("bday"), col("x").as("y"))
      val d38 = (c: Column) => c.cast(DecimalType(38, 0))
      a.crossJoin(broadcast(lags))
        .join(b, col("bday") === col("day") + col("lag"))
        .filter(col("type_a") =!= col("type_b"))
        .groupBy(col("type_a"), col("type_b"), col("lag"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(d38(col("x")) * d38(col("x"))).as("sxx"),
          sum(d38(col("y")) * d38(col("y"))).as("syy"),
          sum(d38(col("x")) * d38(col("y"))).as("sxy"))
        .select(col("type_a"), col("type_b"), col("lag"), col("n_days"),
          (d38(col("n_days")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
            .cast("double").as("num"),
          (d38(col("n_days")) * col("sxx") - d38(col("sx")) * d38(col("sx")))
            .cast("double").as("den_x"),
          (d38(col("n_days")) * col("syy") - d38(col("sy")) * d38(col("sy")))
            .cast("double").as("den_y"))
        .filter(col("den_x") > 0 && col("den_y") > 0)
        .withColumn("r", col("num") / (sqrt(col("den_x")) * sqrt(col("den_y"))))
    },

    // B127 — LOAD FACTOR per type: peak hour, peak share, and the
    // utilization ratio avg/peak over the DENSE hour spine (zero
    // hours count — that's what makes it a capacity number: a system
    // sized for the peak idles at 1−LF). The single number behind
    // "how much headroom does provisioning for peak buy"; B100 finds
    // the concurrency peak, this prices the whole load shape.
    // Integer bp; peak hour is the deterministic min-hour argmax.
    "load_factor" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 3600").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
      val series = Ckpt(spine.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("cnt"), lit(0L)).as("y")))
      val agg = series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("y")).as("total"),
          max(col("y")).as("peak"))
      agg.join(series.select(col("event_type"), col("h"),
          col("y").as("peak")), Seq("event_type", "peak"))
        .groupBy(col("event_type"))
        .agg(max(col("n_hours")).as("n_hours"), max(col("total")).as("total"),
          max(col("peak")).as("peak"), min(col("h")).as("peak_hour"))
        .withColumn("peak_share_bp", expr("peak * 10000 div total"))
        .withColumn("load_factor_bp",
          expr("total * 10000 div (peak * n_hours)"))
    },

    // B128 — TOP-DECILE REVENUE SHARE (CR-10) per nation: the share
    // of a nation's revenue held by its top 10 % of customers — the
    // concentration KPI executives actually quote (B76's Gini is the
    // whole curve; CR-10 is the point on it contracts get written
    // against). Per-nation customer frames are dimension-bounded, so
    // the rank window partitions by nation exactly as B76's does;
    // K = ⌈N/10⌉, ties broken by custkey, cent-exact shares.
    "top_decile_share" -> { (s, d) =>
      val dims = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("o_custkey"), col("n_name"))
      val custRev = Tables.orders(s, d)
        .join(broadcast(dims), "o_custkey")
        .groupBy(col("n_name"), col("o_custkey"))
        .agg(sum((dec2(col("o_totalprice")) * 100).cast("long")).as("cents"))
      val ranked = Ckpt(custRev)
      val byNation = Window.partitionBy(col("n_name"))
        .orderBy(col("cents").desc, col("o_custkey").asc)
      val stats = ranked.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"), sum(col("cents")).as("total_cents"))
      ranked.withColumn("rk", row_number().over(byNation).cast("long"))
        .join(broadcast(stats), "n_name")
        .filter(col("rk") <= expr("(n_custs + 9) div 10"))
        .groupBy(col("n_name"))
        .agg(max(col("n_custs")).as("n_custs"),
          max(col("total_cents")).as("total_cents"),
          count(lit(1)).as("n_top"), sum(col("cents")).as("top_cents"))
        .withColumn("cr10_bp", expr("top_cents * 10000 div total_cents"))
    },

    // B129 — SESSIONIZATION THRESHOLD SENSITIVITY: session count,
    // sessions-per-user and median session depth at gap ∈ {15, 30,
    // 60} min — the tuning table BEHIND B32's fixed 30-min rule (every
    // downstream funnel/path metric inherits that constant; this
    // shows what moving it does before anyone moves it). The melted
    // session frame ([[sessionThresholdSessions]] — one window pass,
    // one explode, ONE session aggregation for all three thresholds)
    // is checkpointed because the stats fold and the depth histogram
    // both read it; medians via the B34 cum-count pick over the tiny
    // (threshold × depth) vocabulary, partitioned by gap_s.
    "session_threshold_sensitivity" -> { (s, d) =>
      val sess = Ckpt(sessionThresholdSessions(s, d))
      val stats = sess.groupBy(col("gap_s"))
        .agg(count(lit(1)).as("n_sessions"),
          count_distinct(col("user_id")).as("n_users"))
      val counts = sess.groupBy(col("gap_s"), col("depth"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("gap_s")).orderBy(col("depth"))
      val med = counts
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .groupBy(col("gap_s"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("depth")))
          .as("median_depth"))
      stats.join(med, "gap_s")
        .select(col("gap_s"), col("n_sessions"), col("n_users"),
          expr("n_sessions * 1000 div n_users")
            .as("sessions_per_user_milli"),
          col("median_depth"))
    },

    // B114 — COHORT LTV CURVE: cumulative revenue per acquisition
    // cohort as it ages — B27 counts RETURNING USERS per cohort week;
    // this tracks the MONEY curve finance actually plans against
    // ("month-6 LTV of the January cohort"), per-customer-normalized
    // so cohort sizes compare. Cohort = first-order month (integer
    // y·12+m — no date arithmetic ambiguity), dense age spine per
    // cohort (a zero-revenue month must still advance the cumulative
    // curve), running sum over the CALENDAR-bounded (cohort, age)
    // frame; money cent-exact, per-customer = cents div size.
    "cohort_ltv" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"),
          expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)")
            .as("ym"),
          (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
      val cohort = o.groupBy(col("o_custkey")).agg(min(col("ym")).as("c0"))
      val size = cohort.groupBy(col("c0")).agg(count(lit(1)).as("cohort_size"))
      val rev = o.join(cohort, "o_custkey")
        .groupBy(col("c0"), (col("ym") - col("c0")).as("age"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
      val spine = rev.groupBy(col("c0")).agg(max(col("age")).as("amax"))
        .select(col("c0"), explode(expr("sequence(0L, amax)")).as("age"))
      val w = Window.partitionBy(col("c0")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(rev, Seq("c0", "age"), "left")
        .select(col("c0"), col("age"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("cents"), lit(0L)).as("cents"))
        .withColumn("cum_cents", sum(col("cents")).over(w))
        .join(broadcast(size), "c0")
        .select(col("c0").as("cohort_ym"), col("age"), col("n_orders"),
          col("cents"), col("cum_cents"), col("cohort_size"),
          expr("cum_cents div cohort_size").as("cum_cents_per_cust"))
    },

    // B112 — KENDALL'S TAU between daily volume and daily value mass
    // per event type: concordant/discordant day pairs — "do busy days
    // also carry high value" as a RANK statistic (B33's Pearson is
    // moment-based and outlier-owned; τ only needs sign agreement).
    // The pairwise form is legal here because the pair frame is
    // CALENDAR-bounded (days², not rows² — the one place all-pairs is
    // the right plan); integers end-to-end: y is the exact milli-value
    // sum, τ_a_bp = (C − D)·2·10⁴ div (n·(n−1)), negative allowed.
    "kendall_tau" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .agg(count(lit(1)).as("x"),
          sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("y"))
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("x").as("x1"), col("y").as("y1"))
      val b = daily.select(col("event_type"), col("day").as("d2"),
        col("x").as("x2"), col("y").as("y2"))
      a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
        .select(col("event_type"),
          ((col("x2") - col("x1")) * (col("y2") - col("y1"))).as("p"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("p") > 0, 1L).otherwise(0L)).as("concordant"),
          sum(when(col("p") < 0, 1L).otherwise(0L)).as("discordant"),
          sum(when(col("p") === 0, 1L).otherwise(0L)).as("ties"),
          count(lit(1)).as("n_pairs"))
        .withColumn("tau_a_bp",
          expr("(concordant - discordant) * 10000 div n_pairs"))
    },

    // B113 — THEIL–SEN slope of the daily count series per event
    // type: the MEDIAN of all pairwise slopes — the robust trend B79's
    // OLS is not (one crazy day owns an OLS slope; Theil–Sen shrugs
    // off 29% contamination). Pair frame calendar-bounded as B112;
    // slopes land on a documented milli grid (slope_milli =
    // Δy·1000 div Δday, floored identically) and the median is B34's
    // cum-count pick over the ≤pairs-sized slope vocabulary — lower
    // median, deterministic.
    "theil_sen" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .agg(count(lit(1)).as("y"))
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("y").as("y1"))
      val b = daily.select(col("event_type"), col("day").as("d2"),
        col("y").as("y2"))
      val slopes = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
        .select(col("event_type"),
          expr("(y2 - y1) * 1000 div (d2 - d1)").as("slope_milli"))
        .groupBy(col("event_type"), col("slope_milli"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("slope_milli"))
      slopes
        .withColumn("cum", sum(col("c"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_pairs"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("slope_milli")))
            .as("sen_slope_milli"))
    },

    // B110 — CHI-SQUARE INDEPENDENCE of event type × day-of-week:
    // Pearson's χ² in cross-multiplied integer form — is the traffic
    // MIX a function of the weekday, the test run before building
    // per-dow models (B73 profiles each type's shape; this tests
    // whether the shapes DIFFER). Per cell: ((O·N − R·C)²·1000) div
    // (N·R·C), each term floored identically on both engines (the
    // division-free total would square 10²⁴-scale products past
    // DECIMAL(38) — the per-cell floor is the documented contract;
    // bound: O·N < 10¹⁹·10¹⁹ per DECIMAL(38,0) term, i.e. corpora to
    // ~10¹⁸ cell-pairs — past that, coarsen cells). Three
    // map-side-combined aggs; the R/C/N frames are vocabulary-sized
    // broadcasts.
    "chisq_independence" -> { (s, d) =>
      val d38 = (c: Column) => c.cast(DecimalType(38, 0))
      val o = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400 % 7").as("dow"))
        .agg(count(lit(1)).as("o"))
      val r = o.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
      val c = o.groupBy(col("dow")).agg(sum(col("o")).as("c"))
      val n = o.agg(sum(col("o")).as("n"))
      o.join(broadcast(r), "event_type").join(broadcast(c), "dow")
        .crossJoin(broadcast(n)) // guarded: one-row total
        .select(col("event_type"), col("dow"), col("o"), col("r"), col("c"),
          col("n"),
          ((d38(col("o")) * col("n") - d38(col("r")) * col("c"))
            * (d38(col("o")) * col("n") - d38(col("r")) * col("c")) * 1000)
            .as("num"),
          (d38(col("n")) * col("r") * col("c")).as("den"))
        .select(expr("num div den").cast("long").as("term_milli"))
        .agg(sum(col("term_milli")).as("chi2_milli"), count(lit(1)).as("n_cells"))
    },

    // B111 — MANN–WHITNEY RANK-SUM test (purchase vs view values):
    // the nonparametric "did the value distribution SHIFT" check that
    // works when means lie (B67 compares conversion RATES; this
    // compares whole distributions, outlier-robust). Doubled-U keeps
    // ties integer-exact: U2 = Σ_v 2·cA(v)·CB_below(v) + cA(v)·cB(v)
    // (midrank ×2), computed on the shared milli grid — the running
    // CB_below is one window over the value-RANGE-bounded grid, never
    // a row sort. Null mean of U2 is nA·nB; the verdict column is the
    // division-free comparison. Bound: U2 ≤ 2·nA·nB < 2⁶³ to ~2·10⁹
    // rows per side at any one grid — past that pre-aggregate.
    "rank_sum_test" -> { (s, d) =>
      val g = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .groupBy(expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("ca"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cb"))
      val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cb_below", coalesce(sum(col("cb")).over(w), lit(0L)))
        .select(col("ca"), col("cb"),
          (col("ca") * col("cb_below") * 2 + col("ca") * col("cb")).as("u2c"))
        .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
          sum(col("u2c")).as("u2"))
        .select(col("n_a"), col("n_b"), col("u2"),
          when(col("u2") > col("n_a") * col("n_b"), "purchase_higher")
            .when(col("u2") < col("n_a") * col("n_b"), "view_higher")
            .otherwise("tied").as("shift"))
    },

    // B109 — BEHAVIORAL DIVERSITY histogram: per user the
    // Gini–Simpson index over event-type shares — 1 − Σp², the
    // probability two random actions differ — banded into quartile
    // buckets of the ppm scale. The "specialist vs generalist"
    // behavioural feature (churn models and segment definitions both
    // consume it); Shannon entropy needs logs, Gini–Simpson is
    // INTEGER-exact: simpson_ppm = (n² − Σc²)·10⁶ div n², numerator
    // ≥ 0 by Cauchy–Schwarz. One user-keyed agg pair (type counts →
    // moment fold), then a 4-cell map-side-combined histogram. Band
    // edges 780/790/795k sit at this corpus's quartile region (max
    // possible with 5 types is 800k — a uniform generator compresses
    // the index's top); fixed literals so both engines band alike.
    "behavior_diversity" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("ss"))
        .select(expr("(n * n - ss) * 1000000 div (n * n)").as("simpson_ppm"))
        .select((lit(1L) + when(col("simpson_ppm") >= 780000, 1L).otherwise(0L)
          + when(col("simpson_ppm") >= 790000, 1L).otherwise(0L)
          + when(col("simpson_ppm") >= 795000, 1L).otherwise(0L))
          .as("diversity_band"))
        .groupBy(col("diversity_band")).agg(count(lit(1)).as("n_users"))
    },

    // B108 — FORECAST BACKTEST per event type: seasonal-naive
    // (ŷ_d = y_{d−7}) vs naive-1 (ŷ_d = y_{d−1}) scored by integer
    // MAE-milli over the dense daily series — the backtesting
    // discipline a capacity planner runs BEFORE trusting any forecast
    // (if last-week's-value beats yesterday's-value, the series has
    // weekly structure worth modeling; B79 fits the trend, this
    // measures PREDICTABILITY). Two lag() columns over one per-type
    // CALENDAR-BOUNDED window; errors are exact integers, mae_milli =
    // Σ|err|·1000 div n_eval; eval window = days with both lags.
    "forecast_backtest" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
      val series = spine.join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("y"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      series
        .withColumn("p7", lag(col("y"), 7).over(w))
        .withColumn("p1", lag(col("y"), 1).over(w))
        .filter(col("p7").isNotNull && col("p1").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("y") - col("p7"))).as("ae7"),
          sum(abs(col("y") - col("p1"))).as("ae1"))
        .select(col("event_type"), col("n_eval"),
          expr("ae7 * 1000 div n_eval").as("mae7_milli"),
          expr("ae1 * 1000 div n_eval").as("mae1_milli"),
          (col("ae7") < col("ae1")).as("weekly_structure"))
    },

    // B107 — SESSION DEPTH histogram: number of events per session
    // (B32's 30-minute-gap sessions) folded to a depth distribution —
    // the engagement-depth read ("are visits one-and-done or
    // ten-page") that sits between B32's raw session ids and B26's
    // named funnels. Same single user-keyed sort as B32 (the lag and
    // the running sum share one window spec), then two
    // map-side-combined folds; output ≤ max-depth rows.
    "session_depth_hist" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("ts").cast("long") -
            lag(col("ts"), 1).over(byUser).cast("long") > 1800L).as("gap"))
        .select(col("user_id"),
          sum(when(col("gap"), 1L).otherwise(0L)).over(byUser).as("session_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("depth"))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_sessions"))
    },

    // B105 — DAILY P95 / SLO BREACH audit per event type: exact p95
    // of the milli-quantized value per (type, day) via B34's
    // cum-count trick, folded to the SLO scorecard (days over the
    // 150.0 threshold, worst day) — the latency-SLO report every ops
    // review opens with; B28/B48 flag outlier EVENTS, this scores
    // whole DAYS against a contract. The quantile never sorts rows:
    // the window frame is the DISTINCT milli-value grid of one
    // (type, day) (value-RANGE bounded — raw doubles would make the
    // frame row-sized, the C70 quantization lesson); rank threshold
    // ceil(0.95·n) = (19n+19) div 20, floor-identical both engines.
    "daily_p95_slo" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"),
          expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("v"))
      val p95 = counts
        .withColumn("cum", sum(col("c"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .groupBy(col("event_type"), col("day"))
        .agg(min(when(col("cum") >= expr("(19 * n + 19) div 20"), col("v")))
          .as("p95_milli"))
      p95.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("p95_milli") > 150000L, 1L).otherwise(0L))
            .as("breach_days"),
          max(col("p95_milli")).as("worst_p95_milli"))
    },

    // B106 — NEW vs RETURNING users per day: dau split into
    // first-ever-seen and returning — the growth-accounting ledger
    // (acquisition vs retention) that B91's stickiness ratio sits on
    // top of. Two map-side-combined aggs (per-user first day; per-day
    // distinct actives) + one day-keyed join; no windows at all.
    "new_vs_returning" -> { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .distinct()
      val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("fday"))
        .groupBy(col("fday").as("day")).agg(count(lit(1)).as("new_users"))
      ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        .join(first, Seq("day"), "left")
        .select(col("day"), col("dau"),
          coalesce(col("new_users"), lit(0L)).as("new_users"),
          (col("dau") - coalesce(col("new_users"), lit(0L)))
            .as("returning_users"))
    },

    // B103 — INTER-ORDER GAP profile per customer: count / sum / max /
    // integer-mean days between consecutive orders — the churn-model
    // feature and reorder-cadence baseline (B102 scores recency
    // once; this measures the customer's own RHYTHM, which is what
    // "overdue" is relative to). One customer-keyed lag() window
    // (customer-bounded partitions), deterministic under same-day
    // orders (ties ordered by order key, gap 0), then one
    // map-side-combined fold per customer.
    "order_gap_stats" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"),
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400")
            .as("day"),
          col("o_orderkey"))
        .withColumn("prev", lag(col("day"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("day") - col("prev")).as("gap_days_sum"),
          max(col("day") - col("prev")).as("gap_days_max"))
        .withColumn("gap_days_mean", expr("gap_days_sum div n_gaps"))
    },

    // B104 — MARKET-BASKET rules over order line parts: top-20
    // part-pair association rules by LIFT (support ≥ 3 baskets),
    // with confidence both ways — B52 measures event-type cooccurrence
    // in sessions; this is the retail classic on the ORDER basket
    // (what to bundle/recommend). Per-basket pair explosion is
    // basket-bounded (k²/2 for k-line orders — the self-join keys on
    // the order, never the catalog); lift in exact ppm by
    // cross-multiplication (cab·N·10⁶ div (ca·cb)), deterministic
    // top-20 → TakeOrderedAndProject.
    "basket_rules" -> { (s, d) =>
      // LAZY persist (r16, the sparse_sim_topk lesson): the distinct
      // basket projection feeds four consumers (support counts,
      // basket total, the pair self-join twice) — one fact scan, not
      // four, materialized AT ACTION TIME. The r15 eager
      // localCheckpoint ran the fact distinct as a build-time job and
      // pinned non-recomputable blocks — at 10× (a ~6M-row frame) that
      // re-materialization under block-manager pressure was the 10×
      // leg's only >2× regression gate hit; persist keeps lineage
      // (eviction → recompute, not failure). Lifetime (r17, advisor
      // correction): CacheManager holds a STRONG ref to this entry —
      // ContextCleaner does NOT free it when the plan drops; it lives
      // until clearCache/uncacheQuery or session end (deduped by
      // canonicalized plan across re-invocations, so repeated calls
      // reuse rather than re-add). Long-lived callers: clearCache
      // after the action; Bench clears between timed passes.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val supp = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      val nOrders = li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      // r19 NOTE (guide §1.1 — the empirical loop beats the "ideal"
      // plan): an in-row per-basket pair explosion (groupBy orderkey +
      // collect_list + a nested-transform a<b expansion) was built,
      // oracle-proven value-identical, and MEASURED SLOWER at the
      // bench scale — 3.20 s → 5.34 s (BENCH_FULL_r19_opt leg) —
      // because the planner BROADCASTS one side of this self-join
      // (the persisted distinct basket frame fits), so the join costs
      // no exchange here, while the grouped form pays a full
      // collect_list shuffle (no map-side reduction) plus an
      // interpreted HOF expansion. At fact scale the broadcast stops
      // fitting and both forms shuffle the frame once, with the JOIN
      // form additionally covered by AQE skew splitting — so the
      // self-join is kept deliberately.
      li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("part_a"),
          col("y.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 3)
        .join(supp.select(col("l_partkey").as("part_a"), col("c").as("ca")),
          "part_a")
        .join(supp.select(col("l_partkey").as("part_b"), col("c").as("cb")),
          "part_b")
        .crossJoin(broadcast(nOrders)) // guarded: one-row aggregate
        // lift numerator in DECIMAL(38,0): cab·N·10⁶ passes 2⁶³ once
        // baskets pass ~3·10⁶ — BIGINT would wrap silently at scale
        .select(col("part_a"), col("part_b"), col("cab"), col("ca"), col("cb"),
          expr("CAST(cab AS DECIMAL(38,0)) * n_baskets * 1000000" +
            " div (CAST(ca AS DECIMAL(38,0)) * cb)").as("lift_ppm"),
          expr("cab * 10000 div ca").as("conf_a_to_b_bp"),
          expr("cab * 10000 div cb").as("conf_b_to_a_bp"))
        .orderBy(col("lift_ppm").desc, col("part_a").asc, col("part_b").asc)
        .limit(20)
    },

    // B99 — STREAK LENGTHS: distribution of each user's LONGEST run
    // of consecutive active days — the engagement metric product
    // teams headline ("7-day streak") and the one gaps-and-islands
    // shape the suite lacked at day granularity (B32 sessionizes by
    // time gap, B72 measures return-on-day-k; neither answers "how
    // long do users stay daily-active WITHOUT A BREAK"). Classic
    // island key: day − row_number() is constant exactly on
    // consecutive-day runs. Both windows are USER-bounded; the
    // histogram is one map-side-combined fold.
    "streak_lengths" -> { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .distinct()
      val wu = Window.partitionBy(col("user_id")).orderBy(col("day"))
      ud.withColumn("island", col("day") - row_number().over(wu))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id")).agg(max(col("len")).as("streak_days"))
        .groupBy(col("streak_days")).agg(count(lit(1)).as("n_users"))
    },

    // B100 — PEAK CONCURRENCY per day: the maximum number of
    // simultaneously-active sessions (B32's 30-minute-gap sessions,
    // active [first event, last event]) — the capacity number an ops
    // team sizes connection pools against; B69 finds a USER's hot
    // hours, this finds the SYSTEM's high-water mark. Sweep-line with
    // a twist that keeps every frame bounded: ±1 session-boundary
    // deltas NET-AGGREGATE per epoch second (map-side combine;
    // concurrency is sampled at second granularity — a same-second
    // handoff doesn't bump, documented), so the within-day running
    // sum is a window over ≤ 86 400 rows, and midnight carry-over
    // comes from the cumulative day-level totals (calendar-bounded
    // spine) broadcast back — the B80/B91 posture, two-level like
    // C106. Peak = carry_in + max(0, running max) (the max(0,·)
    // covers a day whose first net delta is negative — concurrency at
    // 00:00:00 IS carry_in).
    "peak_concurrency" -> { (s, d) =>
      // r19 (guide §1/§5 — the bestRepresentative lesson): `sess`
      // feeds THREE consumers (both arms of the delta union + the
      // per-day start counts) and `deltas` two (day totals + the
      // within-day running max), so uncheckpointed the event-scan +
      // double-window sessionize subtree executed three times and the
      // net-delta aggregate twice. Both frames are tiny relative to
      // the events fact (one row per session / per active second), so
      // one eager localCheckpoint each turns the recomputes into
      // block reads; values untouched (same frames, same folds).
      val sess = Ckpt(Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("long").as("t"))
        .withColumn("gap",
          when(col("t") - lag(col("t"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("t"))) > 1800L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("gap")).over(
          Window.partitionBy(col("user_id")).orderBy(col("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("t")).as("t0"), max(col("t")).as("t1")))
      val deltas = Ckpt(
        sess.select(col("t0").as("t"), lit(1L).as("delta"))
          .unionByName(sess.select((col("t1") + 1).as("t"), lit(-1L).as("delta")))
          .groupBy(col("t")).agg(sum(col("delta")).as("delta"))
          .withColumn("day", expr("t div 86400")))
      // true session starts per day (the NET deltas above cancel a
      // same-second start+end pair, so they can't count starts)
      val starts = sess.groupBy(expr("t0 div 86400").as("day"))
        .agg(count(lit(1)).as("n_starts"))
      val dayTot = deltas.groupBy(col("day"))
        .agg(sum(col("delta")).as("day_delta"))
        .join(starts, Seq("day"), "left")
      val wdays = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = dayTot
        .select(col("day"), coalesce(col("n_starts"), lit(0L)).as("n_starts"),
          coalesce(sum(col("day_delta")).over(wdays), lit(0L)).as("carry_in"))
      val wsec = Window.partitionBy(col("day")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("run", sum(col("delta")).over(wsec))
        .groupBy(col("day")).agg(max(col("run")).as("max_run"))
        .join(broadcast(carry), "day")
        .select(col("day"),
          (col("carry_in") + greatest(lit(0L), col("max_run")))
            .as("peak_concurrency"),
          col("n_starts"))
    },

    // B101 — RICH-CLUB coefficient φ(k) (Colizza et al., Nature
    // Physics 2006): among nodes with degree > k, what fraction of
    // possible edges exist — "do the hubs form a club" (assortativity
    // B68 asks if hubs PREFER hubs edge-wise; φ(k) asks how DENSE the
    // hub subgraph is — a club can exist under neutral mixing). Four
    // standard thresholds k ∈ {2,4,8,16}; per k the node set is a
    // degree filter on the vocab-bounded degree frame and the edge
    // count is two semi joins of the undirected edge list — edge-
    // linear, never pairwise. φ in exact ppm over n_k·(n_k−1)/2.
    "rich_club" -> { (s, d) =>
      // eager localCheckpoint: twelve downstream consumers (4 k's ×
      // {2 semi joins, degree}) must not re-tokenize the corpus (the
      // B83 commonNeighborJaccard convention)
      val und = Ckpt(wordAdjacencyEdges(s, d)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
      val deg = und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val ks = Seq(2L, 4L, 8L, 16L)
      ks.map { k =>
        val club = deg.filter(col("deg") > k).select(col("node"))
        val e = und
          .join(club.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(club.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
          .agg(count(lit(1)).as("n_edges"))
        val n = club.agg(count(lit(1)).as("n_nodes"))
        n.crossJoin(broadcast(e)) // guarded: both one-row aggregates
          .select(lit(k).as("k"), col("n_nodes"), col("n_edges"),
            when(col("n_nodes") > 1,
              expr("n_edges * 2 * 1000000 div (n_nodes * (n_nodes - 1))"))
              .otherwise(lit(0L)).as("phi_ppm"))
      }.reduce(_ unionByName _)
    },

    // B102 — RFM SEGMENTS (recency / frequency / monetary quartile
    // grid): every customer scored 1–4 on days-since-last-order,
    // order count, and cent-exact lifetime spend, then counted per
    // (r, f, m) cell — the marketing segmentation standard ("champions"
    // = high on all three). Quartile thresholds use B34's cum-count
    // trick over DISTINCT metric values so no corpus-sized sort ever
    // runs: recency days and order counts are naturally bounded
    // vocabularies, and monetary is quantized to a $100 grid first
    // (the documented value-vocabulary contract — the grid, not the
    // customers, bounds the window frame). Thresholds broadcast back;
    // bucket = 1 + [v > q25] + [v > q50] + [v > q75], ties floor to
    // the lower bucket on both engines.
    "rfm_segments" -> { (s, d) =>
      val mx = Tables.orders(s, d)
        .agg(max(expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400"))
          .as("maxday"))
      // eager checkpoint: four consumers (three quartile profiles + the
      // bucketing pass) must not re-aggregate the orders fact — cust is
      // customer-sized, the scan is not
      val cust = Ckpt(Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400"))
          .as("lastday"),
          count(lit(1)).as("freq"),
          sum((dec2(col("o_totalprice")) * 100).cast("long")).as("cents"))
        .crossJoin(broadcast(mx)) // guarded: one-row aggregate
        .select(col("o_custkey"), (col("maxday") - col("lastday")).as("rec"),
          col("freq"), col("cents"), expr("cents div 10000").as("mgrid")))
      def quartiles(metric: String): DataFrame = {
        val counts = cust.groupBy(col(metric).as("v"))
          .agg(count(lit(1)).as("c"))
        val w = Window.orderBy(col("v"))
        counts
          .withColumn("cum", sum(col("c"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", sum(col("c"))
            .over(w.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("v"))).as(s"${metric}_q25"),
            min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as(s"${metric}_q50"),
            min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("v"))).as(s"${metric}_q75"))
      }
      def bucket(metric: String): Column =
        lit(1L) + when(col(metric) > col(s"${metric}_q25"), 1L).otherwise(0L) +
          when(col(metric) > col(s"${metric}_q50"), 1L).otherwise(0L) +
          when(col(metric) > col(s"${metric}_q75"), 1L).otherwise(0L)
      cust
        .crossJoin(broadcast(quartiles("rec")))    // guarded: one-row each
        .crossJoin(broadcast(quartiles("freq")))
        .crossJoin(broadcast(quartiles("mgrid")))
        .select(bucket("rec").as("r_q"), bucket("freq").as("f_q"),
          bucket("mgrid").as("m_q"), col("cents"))
        .groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
    },

    // B88 — HHI market concentration (Herfindahl–Hirschman) of order
    // revenue across customers, per nation: Σ share_bp² over exact
    // integer cent revenues — the concentration gate ("is this
    // nation's demand one whale or a thousand minnows") behind the
    // same skew decisions C46/C89 make for keys, expressed in the
    // analyst's standard unit (HHI of 10⁴ bp shares; US DoJ calls
    // > 2500·10⁴ concentrated after rescaling). Floor-dust exact:
    // share_bp = rev·10⁴ div tot per customer, both engines floor
    // identically. Two map-side-combined aggs + one broadcast
    // per-nation total join; no windows.
    "hhi_concentration" -> { (s, d) =>
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"),
          col("c_custkey"))
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("rev_cents"))
      val tot = rev.groupBy(col("nationkey"))
        .agg(sum(col("rev_cents")).as("tot_cents"),
          count(lit(1)).as("n_customers"))
      rev.join(broadcast(tot), "nationkey")
        .withColumn("share_bp", expr("rev_cents * 10000 div tot_cents"))
        .groupBy(col("nationkey"))
        .agg(max(col("n_customers")).as("n_customers"),
          max(col("tot_cents")).as("tot_cents"),
          sum(col("share_bp") * col("share_bp")).as("hhi"))
    },

    // B79 — DAILY VOLUME TREND (exact OLS slope over the dense daily
    // spine): per event type, x = day index from the type's first
    // day, y = daily count, slope from the closed-form integer
    // moments n·Σxy−Σx·Σy over n·Σx²−(Σx)² — the "is this source
    // growing or decaying" gate a mix allocator runs before trusting
    // a source's share. Same bounded-frame posture as B78: one
    // map-side-combined count agg, then all algebra on ≤ types×days
    // rows; the milli-slope is the one sign-handled division.
    "daily_trend" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), col("d0"),
          explode(expr("sequence(d0, d1)")).as("day"))
      val series = spine.join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), (col("day") - col("d0")).as("x"),
          coalesce(col("cnt"), lit(0L)).as("y"))
      series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        // a single-day series has no x-variance — slope undefined
        .filter(expr("n_days * sxx - sx * sx > 0"))
        .select(col("event_type"), col("n_days"),
          (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
          expr("CASE WHEN (n_days * sxy - sx * sy) >= 0" +
            " THEN ((n_days * sxy - sx * sy) * 1000) div (n_days * sxx - sx * sx)" +
            " ELSE -((-(n_days * sxy - sx * sy) * 1000) div (n_days * sxx - sx * sx)) END")
            .as("slope_milli"))
    },

    // B80 — INTERVAL UNION (merged coverage) per supplier: each
    // lineitem opens a deterministic in-transit window
    // [ship_day, ship_day + 1 + orderkey % 14) in epoch days;
    // overlaps merge into islands via the classic running-max-end
    // scan, and the report is per-supplier coverage vs span — the
    // gaps-and-islands union B18/B32 (gap fill, sessionize) don't
    // express (intervals OVERLAP here; sessions only chain points).
    // ONE supplier-keyed shuffle; the island scan is a single sorted
    // window pass, integers end to end.
    "interval_union" -> { (s, d) =>
      val intervals = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          // l_shipdate loads as TIMESTAMP_NTZ; with the session pinned
          // UTC the LTZ hop is value-exact and matches epoch_us // 1e6
          expr("CAST(CAST(l_shipdate AS TIMESTAMP) AS BIGINT) div 86400")
            .as("start_day"))
        .withColumn("end_day",
          col("start_day") + lit(1L) + pmod(col("l_orderkey"), lit(14L)))
      Windows.intervalUnion(intervals, "l_suppkey", "start_day", "end_day",
          Seq("l_orderkey", "l_linenumber"))
        .select(col("l_suppkey"), col("n_intervals"), col("n_islands"),
          col("covered").as("covered_days"), col("span").as("span_days"))
        .withColumn("coverage_bp",
          expr("covered_days * 10000 div span_days"))
    },

    // B81 — LINEAR MULTI-TOUCH ATTRIBUTION: each purchase splits its
    // revenue across ALL strictly-preceding clicks proportionally to
    // each channel's touch count (no preceding click → 'direct') —
    // the multi-touch complement of B64's last-touch winner-takes-all.
    // Exactness: per-(purchase, channel) credit is the integer
    // truncation cents·k div n (the division dust stays un-credited —
    // documented, deterministic); the per-channel cumulative counts
    // are FOUR conditional sums over ONE shared strictly-preceding
    // frame (channels are a bounded vocabulary by construction), so
    // the whole carry costs one user-keyed shuffle + one sort like
    // B64, and the credit explode is purchases × ≤5 rows.
    "multi_touch_attribution" -> { (s, d) =>
      val carry = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
          when(col("event_type") === "click",
            get_json_object(col("props"), "$.k").cast("long") % 4).as("ck"))
      val withCounts = (0 until 4).foldLeft(base) { (df, i) =>
        // empty strictly-preceding frame sums to NULL, not 0
        df.withColumn(s"n$i",
          coalesce(sum(when(col("ck") === i, 1L).otherwise(0L)).over(carry),
            lit(0L)))
      }
      withCounts.filter(col("event_type") === "purchase")
        .withColumn("n_total", col("n0") + col("n1") + col("n2") + col("n3"))
        .select(col("cents"), col("n_total"),
          explode(expr("CASE WHEN n_total = 0" +
            " THEN map('direct', CAST(1 AS BIGINT))" +
            " ELSE map('ch_0', n0, 'ch_1', n1, 'ch_2', n2, 'ch_3', n3) END"))
            .as(Seq("channel", "k")))
        .filter(col("k") > 0)
        .withColumn("credit",
          when(col("channel") === "direct", col("cents"))
            .otherwise(expr("cents * k div n_total")))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touched_purchases"),
          sum(col("credit")).as("credit_cents"))
    },

    // B82 — event-time LATENESS profile (watermark sizing): per event
    // type, how stale events run against the per-key running max
    // event time in INGEST order (event_id = the arrival proxy; the
    // per-user frame is exactly the per-key watermark a keyed
    // stateful operator experiences) — the measurement that decides
    // every `withWatermark(delay)` in streaming/: too small drops
    // data, too large bloats state. Integer floor-second lateness,
    // share + tail-share in bp; ONE user-keyed shuffle, running max
    // over the shared sort, map-side-combined profile agg.
    "lateness_profile" -> { (s, d) =>
      val byArrival = Window.partitionBy(col("user_id"))
        .orderBy(col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("CAST(ts AS BIGINT)").as("sec"))
        .withColumn("late_s", max(col("sec")).over(byArrival) - col("sec"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_s") > 0, 1L).otherwise(0L)).as("n_late"),
          max(col("late_s")).as("max_late_s"),
          sum(when(col("late_s") > 600, 1L).otherwise(0L)).as("n_late_10m"))
        .withColumn("late_bp", expr("n_late * 10000 div n_events"))
        .withColumn("late_10m_bp", expr("n_late_10m * 10000 div n_events"))
    },

    // B64 — LAST-TOUCH revenue ATTRIBUTION: each purchase credits the
    // most recent strictly-preceding click's campaign (props.k mod 4;
    // no preceding click → 'direct') — the marketing-analytics join
    // funnels/cohorts don't answer ("which channel closed the
    // sale?"). The carry is ONE running last(ignoreNulls) window over
    // the strictly-preceding frame — never a per-purchase lookup join
    // — then a tiny channel aggregation: one user-keyed shuffle
    // total, same posture at any event volume.
    "attribution" -> { (s, d) =>
      val carry = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
          when(col("event_type") === "click",
            concat(lit("ch_"),
              (get_json_object(col("props"), "$.k").cast("long") % 4)
                .cast("string"))).as("click_ch"))
        .withColumn("channel",
          coalesce(last(col("click_ch"), ignoreNulls = true).over(carry),
            lit("direct")))
        .filter(col("event_type") === "purchase")
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("rev_cents"))
    },

    // B65 — incremental MAINTENANCE OF A JOIN VIEW: the
    // nation × order-month revenue view V = orders ⋈ customer ⋈
    // nation is kept current by merging the base state with the view
    // of a NEW ORDERS BATCH only (ΔV = Δorders ⋈ dims — joins
    // distribute over union, so merge ≡ recompute; the oracle IS the
    // full recompute). B49 maintains additive aggregates; this is
    // the join-view form — the increment path scans ONLY the delta
    // and the broadcast dimension frame, never the base fact: cost
    // O(|Δ| + |view keys|) per maintenance run at any base size.
    "incr_join_merge" -> { (s, d) =>
      val dims = Tables.customer(s, d)
        .join(Tables.nation(s, d),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("o_custkey"), col("n_name"))
      def view(df: DataFrame): DataFrame =
        df.join(broadcast(dims), "o_custkey")
          .groupBy(col("n_name"),
            substring(col("o_orderdate").cast("string"), 1, 7).as("ym"))
          .agg(count(lit(1)).as("n_orders"),
            sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
              .cast("long")).as("rev_cents"))
      val orders = Tables.orders(s, d)
      graft.operators.IncrementalAgg.mergeAdditive(
        view(orders.filter(col("o_orderkey") % 10 =!= 0)),
        view(orders.filter(col("o_orderkey") % 10 === 0)),
        Seq("n_name", "ym"))
    },

    // B58 — CEP-style EPISODE matching (skip-till-next-match): per
    // 'view' trigger, the next 'click' at-or-after it, then the next
    // 'purchase' at-or-after that click, with a completed flag when
    // the whole episode closes within 3600s of the trigger — the
    // per-event sequential-pattern lookup B26's funnel (stage
    // populations) can't answer. Built from TWO forward as-of joins
    // (AsOfJoin.leftAsOfForward): each step is one key-shuffled
    // union + running-last window — never a per-pair self-join; ties
    // at the same instant resolve to the smallest event id (the
    // forward as-of contract), so episodes are engine-exact.
    "cep_episodes" -> { (s, d) =>
      graft.operators.Cep.nextMatchEpisodes(Tables.events(s, d),
          "user_id", "ts", "event_id", "event_type",
          Seq("view", "click", "purchase"), windowSecs = 3600L)
        .select(col("trigger_id").as("event_id"), col("user_id"),
          col("trigger_ts").as("ts"), col("s1_ts").as("c_ts"),
          col("s1_id").as("c_id"), col("s2_ts").as("p_ts"),
          col("s2_id").as("p_id"), col("completed"))
    },

    // B75 — TOP month-over-month revenue MOVERS: per nation, the
    // month's revenue vs its previous month, globally top-10 by
    // absolute swing — the "what changed and where" dashboard row.
    // The corpus-sized stage is ONE map-side-combined
    // (nation, month) revenue agg; the lag and the ranking windows
    // run over that bounded nations × months frame (the vocab-window
    // contract — never raw orders). Ties rank deterministically
    // (|Δ| desc, nation, ym).
    "top_movers" -> { (s, d) =>
      val dims = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("o_custkey"), col("n_name"))
      val rev = Tables.orders(s, d)
        .join(broadcast(dims), "o_custkey")
        .groupBy(col("n_name"),
          substring(col("o_orderdate").cast("string"), 1, 7).as("ym"))
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("rev_cents"))
      val byNation = Window.partitionBy(col("n_name")).orderBy(col("ym").asc)
      rev.withColumn("prev_cents", lag(col("rev_cents"), 1).over(byNation))
        .filter(col("prev_cents").isNotNull)
        .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
        .withColumn("rank", row_number()
          .over(Window.orderBy(abs(col("delta_cents")).desc,
            col("n_name").asc, col("ym").asc)).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("rank"), col("n_name"), col("ym"), col("rev_cents"),
          col("prev_cents"), col("delta_cents"))
    },

    // B76 — REVENUE GINI per nation: how concentrated is order
    // revenue across a nation's customers — the inequality summary
    // behind "is this market a few whales or a broad base" (Gini 0 =
    // uniform, →1 = one customer is the market). The sorted-rank
    // formula G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending
    // per-customer revenue: rank via a PER-NATION window (partitioned
    // — never global), moments Σx and Σ i·x as exact DECIMAL(38,0)
    // (order-independent, no int64 ceiling at any customer count),
    // and the final ratio in pure double arithmetic from those exact
    // inputs via a verbatim-shared fragment (the B33/B68 convention).
    // ONE (nation, customer) agg shuffle + the per-nation rank pass
    // over the customer frame + one moment agg.
    "revenue_gini" -> { (s, d) =>
      val dims = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("o_custkey"), col("n_name"))
      val custRev = Tables.orders(s, d)
        .join(broadcast(dims), "o_custkey")
        .groupBy(col("n_name"), col("o_custkey"))
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("x"))
      val byNation = Window.partitionBy(col("n_name"))
        .orderBy(col("x").asc, col("o_custkey").asc)
      val d38 = (c: Column) => sum(c.cast(DecimalType(38, 0))).cast("double")
      custRev
        .withColumn("i", row_number().over(byNation).cast("long"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("x")).as("rev_cents_total"),
          d38(col("x")).as("sx"),
          d38(col("i") * col("x")).as("six"))
        .select(col("n_name"), col("n_custs"), col("rev_cents_total"),
          expr(GiniSql).as("gini"))
    },

    // B74 — TIME-TO-CONVERT by cohort week: per user, the lag from
    // their FIRST view to the first purchase strictly after it,
    // rolled up to exact disc quartiles per first-view week — "is
    // conversion getting slower for newer cohorts", the longitudinal
    // read B26/B27 (populations, retention) don't give. All times as
    // floor-seconds longs (the tz-free convention); quartiles via
    // the B34 cumulative walk over the (week, lag) DISTINCT frame —
    // bounded by converting users, never a raw-event sort. Two
    // filtered min-aggs + one user-keyed join + the bounded walk.
    "conversion_lag" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val fv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(col("ts").cast("long")).as("t_view"))
      val lags = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").cast("long").as("tp"))
        .join(fv, "user_id").filter(col("tp") > col("t_view"))
        .groupBy(col("user_id"), col("t_view"))
        .agg(min(col("tp")).as("t_buy"))
        .select(expr("t_view div 604800").as("week"),
          (col("t_buy") - col("t_view")).as("lag_secs"))
      val counts = lags.groupBy(col("week"), col("lag_secs"))
        .agg(count(lit(1)).as("c"))
      val byWeek = Window.partitionBy(col("week")).orderBy(col("lag_secs"))
      counts
        .withColumn("cum", sum(col("c"))
          .over(byWeek.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c"))
          .over(byWeek.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .groupBy(col("week"))
        .agg(max(col("n")).as("n_users"),
          min(when(col("cum") >= expr("(n + 3) div 4"), col("lag_secs")))
            .as("q25_secs"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("lag_secs")))
            .as("q50_secs"),
          min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("lag_secs")))
            .as("q75_secs"))
    },

    // B72 — ROLLING 7-DAY RETENTION: for each activity day D, the
    // share of D's active users also active on D+7 — THE product
    // health metric, and the rolling complement of B27's
    // signup-anchored cohort triangle (every day is an anchor, not
    // just the signup week). Day = epoch-seconds div 86400 (integer,
    // timezone-free — hour()/date_trunc would drag session-TZ
    // semantics into the oracle seam). ONE distinct (user, day)
    // shuffle — frames after that are (users × active days), not
    // events; the D→D+7 lookup is a self equi-join on (user, day+7),
    // key-shuffled; ppm by integer division.
    "rolling_retention" -> { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          expr("CAST(ts AS BIGINT) div 86400").as("day"))
        .distinct()
      val future = ud.select(col("user_id"), (col("day") - 7).as("day"))
        .distinct()
      ud.join(future.withColumn("retained", lit(1L)),
          Seq("user_id", "day"), "left")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          coalesce(sum(col("retained")), lit(0L)).as("n_retained"))
        .select(col("day"), col("n_active"), col("n_retained"),
          expr("n_retained * 10000 div n_active").as("ret_bp"))
    },

    // B73 — HOUR-OF-DAY SEASONALITY profile: each event type's
    // activity share per hour-of-day in ppm, with deviation from the
    // uniform 1/24 — the shape check that catches a broken ingest
    // clock or a bot source (organic traffic has a diurnal curve;
    // uniform IS the anomaly on real data, and this synthetic corpus
    // fails that check loudly — the finding). Hour-of-day =
    // (epoch div 3600) mod 24, integer and timezone-free. ONE
    // corpus-scan map-side-combined agg into a ≤ types×24 frame; the
    // type totals re-aggregate that bounded frame (broadcast back,
    // guarded-crossJoin convention — zero second scans).
    "seasonality_profile" -> { (s, d) =>
      val hod = Ckpt(Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(CAST(ts AS BIGINT) div 3600) % 24").as("hod"))
        .agg(count(lit(1)).as("n")))
      val tot = hod.groupBy(col("event_type")).agg(sum(col("n")).as("total"))
      hod.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("hod"), col("n"),
          expr("n * 1000000 div total").as("share_ppm"))
        .withColumn("dev_ppm", abs(col("share_ppm") - lit(41666L)))
    },

    // B70 — WINDOWED FUNNEL depth (the ClickHouse-windowFunnel
    // shape): per user, the deepest view→click→purchase prefix
    // reachable with every step inside 3600s of ITS OWN view trigger
    // — B26's funnel measures global stage populations with no
    // window; this scores each user by their best windowed run.
    // Reuses the B58 as-of chain VERBATIM (one operator, two
    // consumers — binding bugs can't diverge between them): depth
    // re-checks each binding against the trigger window, then one
    // user-keyed max. Costs nothing beyond B58's own shuffles plus a
    // map-side-combined agg.
    "window_funnel" -> { (s, d) =>
      val W = 3600L
      val ep = graft.operators.Cep.nextMatchEpisodes(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), windowSecs = W)
      val inWin = (c: Column) => c.isNotNull &&
        c.cast("long") - col("trigger_ts").cast("long") <= W
      ep.select(col("user_id"),
          (lit(1L) + when(inWin(col("s1_ts")), 1L).otherwise(0L)
            + when(inWin(col("s2_ts")) && inWin(col("s1_ts")), 1L)
              .otherwise(0L)).as("depth"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_triggers"), max(col("depth")).as("max_depth"))
    },

    // B71 — WINSORIZED mean per event type: clip values at the exact
    // [P5, P95] percentile_disc bounds, then average — the robust
    // mean dashboards want when a few extreme ticks poison avg()
    // (B48 flags outliers; this SUMMARIZES with them neutralized).
    // Integer-exact end to end: cents, disc bounds from the B34
    // cumulative walk over the DISTINCT-value frame (the only
    // corpus-sized stage is the map-side-combined (type, cents)
    // count), clamp-sum re-aggregates that same bounded frame with
    // the bounds broadcast back — the corpus is scanned ONCE, and no
    // raw-row sort ever happens.
    "winsorized_stats" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .select(col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      val bounds = counts
        .withColumn("cum", sum(col("c"))
          .over(byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c"))
          .over(byType.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") >= expr("(n + 19) div 20"), col("cents")))
            .as("p05_cents"),
          min(when(col("cum") >= expr("(19 * n + 19) div 20"), col("cents")))
            .as("p95_cents"),
          max(col("n")).as("n"))
      counts.join(broadcast(bounds), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(col("p05_cents")).as("p05_cents"),
          max(col("p95_cents")).as("p95_cents"),
          sum(col("c") *
            greatest(least(col("cents"), col("p95_cents")), col("p05_cents")))
            .as("wins_sum"))
        .select(col("event_type"), col("n"), col("p05_cents"),
          col("p95_cents"), expr("wins_sum div n").as("wins_mean_cents"))
    },

    // B57 — interval-intersection ALIGNMENT (Windows.intervalAlign)
    // of two per-user timelines: activity sessions (B32's 1800s-gap
    // islands) × error islands (3600s-gap islands over error events)
    // — "how much of each session fell inside an incident window",
    // the two-timeline reconciliation temporal algebra needs beyond
    // point lookups (B11 as-of) and point-in-range (B12). One
    // user-keyed equi-join of two aggregated interval frames; the
    // overlap band predicate evaluates post-join, so per-key cost is
    // that key's sessions × islands — bounded frames, not events.
    "interval_align" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      def islands(src: DataFrame, gapSecs: Long, idCol: String,
                  a: String, b: String, nCol: String): DataFrame =
        src.select(col("user_id"), col("ts"), col("event_id"),
            (col("ts").cast("long") -
              lag(col("ts"), 1).over(byUser).cast("long") > gapSecs).as("gap"))
          .select(col("user_id"), col("ts"),
            sum(when(col("gap"), 1L).otherwise(0L)).over(byUser).as(idCol))
          .groupBy(col("user_id"), col(idCol))
          .agg(min(col("ts")).as(a), max(col("ts")).as(b),
            count(lit(1)).as(nCol))
      val ev = Tables.events(s, d)
      val sess = islands(ev, 1800L, "session_id", "s_start", "s_end", "n_events")
      val errs = islands(ev.filter(col("event_type") === "error"),
        3600L, "err_island", "e_start", "e_end", "n_errors")
      graft.operators.Windows
        .intervalAlign(sess, errs, "user_id", "s_start", "s_end",
          "e_start", "e_end")
        .select(col("user_id"), col("session_id"), col("s_start"),
          col("s_end"), col("n_events"), col("err_island"), col("e_start"),
          col("e_end"), col("n_errors"), col("ov_start"), col("ov_end"),
          col("ov_secs"))
    },

    // B33 — grouped correlation/covariance WITHOUT float-order
    // nondeterminism: the five moments (Σx, Σy, Σxy, Σx², Σy²)
    // accumulate as exact decimals (order-independent), final-cast to
    // double, and corr/covar derive from those in pure double
    // arithmetic — any engine produces bit-identical statistics
    // (the same trick outlier_events uses, extended to second-order
    // cross moments). One partial-agg shuffle, no second pass.
    "grouped_corr" -> { (s, d) =>
      // integer-scaled observations (quantity is integral; price has
      // exactly 2 decimals → cents), moments summed as DECIMAL(38,0)
      // (HUGEINT on the oracle side) so they stay EXACT at any row
      // count, then every statistic derives in pure double arithmetic
      // from identical exact inputs — bit-identical on any engine.
      // corr is scale-invariant; covar divides the cents back out.
      val xq = col("l_quantity").cast("long")
      val yc = (col("l_extendedprice").cast(DecimalType(18, 2)) * lit(100))
        .cast("long")
      val d38 = (c: Column) => sum(c.cast(DecimalType(38, 0))).cast("double")
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), xq.as("xq"), yc.as("yc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          d38(col("xq")).as("sx"),
          d38(col("yc")).as("sy"),
          d38(col("xq") * col("yc")).as("sxy"),
          d38(col("xq") * col("xq")).as("sxx"),
          d38(col("yc") * col("yc")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n") / lit(100.0))
            .as("covar_pop"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
              (col("syy") - col("sy") * col("sy") / col("n")))).as("corr"))
    },

    // B19 — histogram: fixed-width value bins per event type.
    "value_histogram" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value") / 50.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
    },

    // B34 — EXACT distributed quartiles per event type, the
    // equi-depth twin of value_histogram's equal-width bins. The
    // scale-right plan: one map-side-combined count per DISTINCT
    // (type, value) — the only corpus-sized stage — then the
    // cumulative walk and the quantile pick run over the distinct
    // value frame (bounded by value cardinality, not rows). qK is
    // the smallest value whose cumulative count reaches ceil(K·n/4)
    // (percentile_disc semantics — an ACTUAL data value, so the
    // result is engine-exact with no float interpolation). A
    // per-type row_number sort would pin each type onto one task;
    // this form never sorts raw rows.
    "equi_depth_quartiles" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("value"))
      counts
        .withColumn("cum", sum(col("c"))
          .over(byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c"))
          .over(byType.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("value"))).as("q25"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("value"))).as("q50"),
          min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("value"))).as("q75"),
          max(col("n")).as("n"))
    })

  /** Distinct directed word-adjacency edges of the documents corpus
    * (consecutive-token pairs, built in-scan with a transform HOF —
    * no per-token shuffle; the only exchange is the distinct). The
    * shared graph base of B53/B55/B56. */
  private def wordAdjacencyEdges(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(split(col("text"), " ").as("t"))
    toks.select(explode(expr(
        """CASE WHEN size(t) < 2 THEN array()
          |ELSE transform(sequence(0, size(t) - 2),
          |  i -> struct(t[i] AS src, t[i + 1] AS dst)) END""".stripMargin)).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= "" && col("dst") =!= "")
      .distinct()
  }

  /** The B53/B55/B56 oracle's shared graph base: word-adjacency
    * edges `e0` (src, dst) in DuckDB, mirroring
    * [[wordAdjacencyEdges]] token-for-token. */
  private val WordAdjSql: String =
    """toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |pairs AS (SELECT unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
      |  i -> [t[CAST(i + 1 AS INT)], t[CAST(i + 2 AS INT)]])) AS p FROM toks),
      |e0 AS (SELECT DISTINCT p[1] AS src, p[2] AS dst FROM pairs
      |       WHERE p[1] <> '' AND p[2] <> '')""".stripMargin

  /** One unrolled k-core peel round for the B56 oracle: survivors of
    * `prev` with degree ≥ k keep their edges in `cur`. */
  private def kcoreRoundSql(prev: String, cur: String, k: Int): String =
    s"""${cur}_k AS (
       |  SELECT node FROM (SELECT a AS node FROM $prev
       |                    UNION ALL SELECT b FROM $prev)
       |  GROUP BY 1 HAVING count(*) >= $k),
       |$cur AS (
       |  SELECT u.a, u.b FROM $prev u
       |  WHERE EXISTS (SELECT 1 FROM ${cur}_k x WHERE x.node = u.a)
       |    AND EXISTS (SELECT 1 FROM ${cur}_k y WHERE y.node = u.b))""".stripMargin

  /** The B58 skip-till-next as-of chain as oracle CTEs (ends at
    * `s2b`: one row per view trigger with its click/purchase
    * bindings) — shared verbatim by the cep_episodes and
    * window_funnel oracles so both replay identical bindings. */
  private val CepChainSql: String =
    """v AS (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM events
      |      WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
      |      WHERE event_type = 'purchase'),
      |s1 AS (SELECT v.event_id, v.user_id, v.ts, min(c.c_ts) AS c_ts
      |       FROM v LEFT JOIN c ON c.user_id = v.user_id AND c.c_ts >= v.ts
      |       GROUP BY 1, 2, 3),
      |s1b AS (SELECT s1.event_id, s1.user_id, s1.ts, s1.c_ts,
      |               min(c.c_id) AS c_id
      |        FROM s1 LEFT JOIN c ON c.user_id = s1.user_id
      |                           AND c.c_ts = s1.c_ts
      |        GROUP BY 1, 2, 3, 4),
      |s2 AS (SELECT b.event_id, b.user_id, b.ts, b.c_ts, b.c_id,
      |              min(p.p_ts) AS p_ts
      |       FROM s1b b LEFT JOIN p ON p.user_id = b.user_id
      |                             AND b.c_ts IS NOT NULL
      |                             AND p.p_ts >= b.c_ts
      |       GROUP BY 1, 2, 3, 4, 5),
      |s2b AS (SELECT s2.event_id, s2.user_id, s2.ts, s2.c_ts, s2.c_id,
      |               s2.p_ts, min(p.p_id) AS p_id
      |        FROM s2 LEFT JOIN p ON p.user_id = s2.user_id
      |                           AND p.p_ts = s2.p_ts
      |        GROUP BY 1, 2, 3, 4, 5, 6)""".stripMargin

  /** The B76 Gini ratio over exact moment columns (n_custs, sx, six
    * — doubles derived from DECIMAL(38,0) sums), shared VERBATIM
    * with the oracle; a single-customer nation (zero denominator
    * spread) guards to 0. */
  private val GiniSql: String =
    """CASE WHEN n_custs * sx = 0 THEN CAST(0 AS DOUBLE)
      |     ELSE (2 * six - (n_custs + 1) * sx) / (n_custs * sx)
      |END""".stripMargin

  /** The B67 2×2 chi-square over exact integer cells (users_a, conv_a,
    * users_b, conv_b, delta) in pure double arithmetic — shared
    * VERBATIM by the engine projection and the DuckDB oracle so the
    * operation order (hence every IEEE rounding) is identical. */
  private val Chi2Sql: String =
    """CASE WHEN conv_a + conv_b = 0
      |       OR users_a + users_b - conv_a - conv_b = 0
      |       OR users_a = 0 OR users_b = 0 THEN CAST(0 AS DOUBLE)
      |     ELSE (CAST(users_a + users_b AS DOUBLE)
      |           * (CAST(delta AS DOUBLE) * CAST(delta AS DOUBLE)))
      |          / (((CAST(users_a AS DOUBLE) * CAST(users_b AS DOUBLE))
      |              * CAST(conv_a + conv_b AS DOUBLE))
      |             * CAST(users_a + users_b - conv_a - conv_b AS DOUBLE))
      |END""".stripMargin

  /** One unrolled synchronous label-propagation round for the B62
    * oracle: neighbor-label counts from `prev`, then the per-node
    * argmax under (count desc, label asc) — the same unique winner
    * the engine's min(struct(-c, label)) picks. */
  private def lpRoundSql(prev: String, cur: String): String =
    s"""c_$cur AS (
       |  SELECT n.node, l.label, CAST(count(*) AS BIGINT) AS c
       |  FROM nbr n JOIN $prev l ON n.nbr = l.node GROUP BY 1, 2),
       |$cur AS (
       |  SELECT node, label FROM (
       |    SELECT node, label, row_number() OVER (
       |      PARTITION BY node ORDER BY c DESC, label ASC) AS rn
       |    FROM c_$cur) WHERE rn = 1)""".stripMargin

  /** One per-partition modularity block of the B66 oracle over label
    * frame `lab` (expects `und`, `deg`, `mm` in scope). */
  private def modRoundSql(lab: String, round: Int): String =
    s"""intra_$round AS (
       |  SELECT la.label AS label, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM und u JOIN $lab la ON u.a = la.node JOIN $lab lb ON u.b = lb.node
       |  WHERE la.label = lb.label GROUP BY 1),
       |mod_$round AS (
       |  SELECT CAST($round AS BIGINT) AS round, ds.label, ds.n_nodes,
       |         coalesce(i.intra_edges, 0) AS intra_edges, ds.deg_sum,
       |         coalesce(i.intra_edges, 0) * mm.m * 4 - ds.deg_sum * ds.deg_sum
       |           AS q_scaled
       |  FROM (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS deg_sum,
       |               CAST(count(*) AS BIGINT) AS n_nodes
       |        FROM deg d JOIN $lab l ON d.node = l.node GROUP BY 1) ds
       |  LEFT JOIN intra_$round i ON ds.label = i.label CROSS JOIN mm)""".stripMargin

  /** One unrolled PageRank iteration for the B50 oracle: `cur` from
    * `prev` with the exact integer-div update the engine uses,
    * including the dangling-mass share (rank on nodes with no
    * out-edges, redistributed uniformly as `dsum div n` before
    * damping — [[graft.operators.Graph.pageRank]]'s conserving
    * form). */
  private def prIterSql(prev: String, cur: String): String =
    s"""${prev}_dg AS (
       |  SELECT coalesce(sum(p.pr), 0) // (SELECT n FROM nn) AS share
       |  FROM $prev p
       |  WHERE NOT EXISTS (SELECT 1 FROM ow o WHERE o.src = p.node)),
       |$cur AS (
       |  SELECT n0.node,
       |         (SELECT b FROM base) +
       |         (8500 * (coalesce(c.s, 0) + (SELECT share FROM ${prev}_dg))) // 10000 AS pr
       |  FROM nodes n0
       |  LEFT JOIN (
       |    SELECT e.dst AS node, sum((p.pr * e.w) // o.w_out) AS s
       |    FROM $prev p JOIN e ON p.node = e.src JOIN ow o ON o.src = e.src
       |    GROUP BY 1) c ON n0.node = c.node)""".stripMargin

  /** One HITS iteration (auth half-round then hub half-round) as SQL,
    * replaying [[graft.operators.Graph.hits]]: raw inflow sum, then
    * L1 renormalization `raw · 10⁶ // max(Σraw, 1)` — `//` and
    * Spark's `div` agree on non-negative 64-bit operands. */
  private def hitsIterSql(prevHub: String, k: Int): String =
    s"""a${k}_raw AS (
       |  SELECT e.dst AS node, CAST(sum(h.hub * e.w) AS BIGINT) AS raw
       |  FROM $prevHub h JOIN e ON h.node = e.src GROUP BY 1),
       |a${k}_t AS (
       |  SELECT greatest(coalesce(CAST(sum(raw) AS BIGINT), 0), 1) AS tot
       |  FROM a${k}_raw),
       |a$k AS (
       |  SELECT n0.node,
       |         coalesce(r.raw, 0) * 1000000 // (SELECT tot FROM a${k}_t) AS auth
       |  FROM nodes n0 LEFT JOIN a${k}_raw r ON n0.node = r.node),
       |h${k}_raw AS (
       |  SELECT e.src AS node, CAST(sum(a.auth * e.w) AS BIGINT) AS raw
       |  FROM a$k a JOIN e ON a.node = e.dst GROUP BY 1),
       |h${k}_t AS (
       |  SELECT greatest(coalesce(CAST(sum(raw) AS BIGINT), 0), 1) AS tot
       |  FROM h${k}_raw),
       |h$k AS (
       |  SELECT n0.node,
       |         coalesce(r.raw, 0) * 1000000 // (SELECT tot FROM h${k}_t) AS hub
       |  FROM nodes n0 LEFT JOIN h${k}_raw r ON n0.node = r.node)""".stripMargin

  val oracles: Map[String, String] = Map(

    "hits_scores" -> s"""
      |WITH seq AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts ASC, event_id ASC) AS next_type
      |  FROM events),
      |e AS (SELECT event_type AS src, next_type AS dst,
      |             CAST(count(*) AS BIGINT) AS w
      |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
      |${hitsIterSql("h0", 1)},
      |${hitsIterSql("h1", 2)}
      |SELECT h2.node, CAST(h2.hub AS BIGINT) AS hub,
      |       CAST(a2.auth AS BIGINT) AS auth
      |FROM h2 JOIN a2 ON h2.node = a2.node""".stripMargin,

    "pagerank_events" -> s"""
      |WITH seq AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts ASC, event_id ASC) AS next_type
      |  FROM events),
      |e AS (SELECT event_type AS src, next_type AS dst,
      |             CAST(count(*) AS BIGINT) AS w
      |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS w_out FROM e GROUP BY 1),
      |base AS (SELECT (1500 * (1000000 // n)) // 10000 AS b FROM nn),
      |pr0 AS (SELECT node, (SELECT 1000000 // n FROM nn) AS pr FROM nodes),
      |${prIterSql("pr0", "pr1")},
      |${prIterSql("pr1", "pr2")},
      |${prIterSql("pr2", "pr3")}
      |SELECT node, CAST(pr AS BIGINT) AS pr FROM pr3""".stripMargin,

    "cooccur_lift" -> """
      |WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
      |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
      |       FROM ut GROUP BY 1),
      |p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
      |             CAST(count(*) AS BIGINT) AS n_both
      |      FROM ut x JOIN ut y ON x.user_id = y.user_id
      |                         AND x.event_type < y.event_type
      |      GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, p.n_both,
      |       a.cnt AS cnt_a, b.cnt AS cnt_b,
      |       (p.n_both * n.n_users * 10000) // (a.cnt * b.cnt) AS lift_bp
      |FROM p JOIN tc a ON p.type_a = a.event_type
      |       JOIN tc b ON p.type_b = b.event_type
      |CROSS JOIN n""".stripMargin,

    "graph_reach" -> s"""
      |WITH seq AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts ASC, event_id ASC) AS next_type
      |  FROM events),
      |e AS (SELECT DISTINCT event_type AS src, next_type AS dst
      |      FROM seq WHERE next_type IS NOT NULL),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |d0 AS (SELECT min(node) AS node, CAST(0 AS BIGINT) AS hops FROM nodes),
      |d1 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM d0
      |  UNION ALL SELECT e.dst, d.hops + 1 FROM d0 d JOIN e ON d.node = e.src)
      |  GROUP BY 1),
      |d2 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM d1
      |  UNION ALL SELECT e.dst, d.hops + 1 FROM d1 d JOIN e ON d.node = e.src)
      |  GROUP BY 1),
      |d3 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM d2
      |  UNION ALL SELECT e.dst, d.hops + 1 FROM d2 d JOIN e ON d.node = e.src)
      |  GROUP BY 1)
      |SELECT node, hops FROM d3""".stripMargin,

    // B55: orientation + wedge + closure replayed in SQL over the
    // same word-adjacency base; exact integer counts both engines.
    "graph_triangles" -> s"""
      |WITH $WordAdjSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY 1),
      |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
      |                  THEN u.a ELSE u.b END AS f,
      |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
      |                  THEN u.b ELSE u.a END AS t
      |      FROM und u JOIN deg da ON u.a = da.node
      |                 JOIN deg db ON u.b = db.node),
      |tri AS (SELECT o1.f, o1.t AS v, o2.t AS w
      |        FROM o o1 JOIN o o2 ON o1.f = o2.f AND o1.t < o2.t
      |        JOIN und ON und.a = o1.t AND und.b = o2.t)
      |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |  SELECT f AS node FROM tri
      |  UNION ALL SELECT v FROM tri
      |  UNION ALL SELECT w FROM tri)
      |GROUP BY 1""".stripMargin,

    // B89: the B55 triangle CTEs joined back to the degree frame;
    // floor-division ppm replayed.
    "clustering_coeff" -> s"""
      |WITH $WordAdjSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY 1),
      |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
      |                  THEN u.a ELSE u.b END AS f,
      |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
      |                  THEN u.b ELSE u.a END AS t
      |      FROM und u JOIN deg da ON u.a = da.node
      |                 JOIN deg db ON u.b = db.node),
      |tri AS (SELECT o1.f, o1.t AS v, o2.t AS w
      |        FROM o o1 JOIN o o2 ON o1.f = o2.f AND o1.t < o2.t
      |        JOIN und ON und.a = o1.t AND und.b = o2.t),
      |nt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |         SELECT f AS node FROM tri
      |         UNION ALL SELECT v FROM tri
      |         UNION ALL SELECT w FROM tri)
      |       GROUP BY 1)
      |SELECT node, n_tri, deg,
      |       (2 * n_tri * 1000000) // (deg * (deg - 1)) AS cc_ppm
      |FROM nt JOIN deg USING (node)""".stripMargin,

    // B56: four unrolled peel rounds; a converged engine run and the
    // full unroll re-derive the same fixpoint frame.
    "graph_kcore" -> s"""
      |WITH $WordAdjSql,
      |u0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |       FROM e0 WHERE src <> dst),
      |${kcoreRoundSql("u0", "u1", 3)},
      |${kcoreRoundSql("u1", "u2", 3)},
      |${kcoreRoundSql("u2", "u3", 3)},
      |${kcoreRoundSql("u3", "u4", 3)}
      |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |  SELECT a AS node FROM u4 UNION ALL SELECT b FROM u4)
      |GROUP BY 1""".stripMargin,

    // B62: two unrolled synchronous LPA rounds over the same
    // word-adjacency base; deterministic ties → identical frames.
    "label_prop" -> s"""
      |WITH $WordAdjSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |nbr AS (SELECT a AS node, b AS nbr FROM und
      |        UNION ALL SELECT b, a FROM und),
      |l0 AS (SELECT DISTINCT node, node AS label FROM nbr),
      |${lpRoundSql("l0", "l1")},
      |${lpRoundSql("l1", "l2")}
      |SELECT node, label FROM l2""".stripMargin,

    // B66: same unrolled LPA rounds, then the integer modularity
    // identity q_scaled = 4·m·m_c − d_c² per community.
    "modularity_score" -> s"""
      |WITH $WordAdjSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |nbr AS (SELECT a AS node, b AS nbr FROM und
      |        UNION ALL SELECT b, a FROM und),
      |l0 AS (SELECT DISTINCT node, node AS label FROM nbr),
      |${lpRoundSql("l0", "l1")},
      |${lpRoundSql("l1", "l2")},
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY 1),
      |${modRoundSql("l1", 1)},
      |${modRoundSql("l2", 2)}
      |SELECT * FROM mod_1 UNION ALL SELECT * FROM mod_2""".stripMargin,

    // B68: same moments (HUGEINT-exact, cast to double), same verbatim
    // r expression over the symmetrized edge set.
    "assortativity" -> s"""
      |WITH $WordAdjSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY 1),
      |dpairs AS (
      |  SELECT da.deg AS da, db.deg AS db
      |  FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node),
      |sym AS (SELECT da AS x, db AS y FROM dpairs
      |        UNION ALL SELECT db, da FROM dpairs),
      |mom AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS sxy,
      |         CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS syy
      |  FROM sym)
      |SELECT n, ${graft.operators.Graph.AssortSql} AS r_assort FROM mom""".stripMargin,

    // B83: same undirected base + degree frame; capped apexes (deg ≤
    // 25) generate the wedges, exact degrees size the union.
    "node_jaccard" -> s"""
      |WITH $WordAdjSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY 1),
      |adj AS (SELECT t.w, t.x FROM (
      |          SELECT a AS w, b AS x FROM und
      |          UNION ALL SELECT b, a FROM und) t
      |        JOIN deg ON t.w = deg.node WHERE deg.deg <= 25),
      |cmn AS (SELECT a1.x AS u, a2.x AS v, CAST(count(*) AS BIGINT) AS common
      |        FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.x < a2.x
      |        GROUP BY 1, 2)
      |SELECT u, v, common, du.deg AS du, dv.deg AS dv,
      |       common * 10000 // (du.deg + dv.deg - common) AS jaccard_bp
      |FROM cmn JOIN deg du ON u = du.node JOIN deg dv ON v = dv.node
      |ORDER BY jaccard_bp DESC, common DESC, u, v LIMIT 20""".stripMargin,

    // B87: same wedge/guard CTEs as B83 with the apex degree carried
    // into the pair agg; Σ 10⁶ // deg(w) replayed exactly.
    "resource_alloc" -> s"""
      |WITH $WordAdjSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY 1),
      |adj AS (SELECT t.w, t.x, deg.deg FROM (
      |          SELECT a AS w, b AS x FROM und
      |          UNION ALL SELECT b, a FROM und) t
      |        JOIN deg ON t.w = deg.node WHERE deg.deg <= 25)
      |SELECT a1.x AS u, a2.x AS v, CAST(count(*) AS BIGINT) AS common,
      |       CAST(sum(1000000 // a1.deg) AS BIGINT) AS ra_ppm
      |FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.x < a2.x
      |GROUP BY 1, 2
      |ORDER BY ra_ppm DESC, common DESC, u, v LIMIT 20""".stripMargin,

    // B115: ties dropped, runs counted by sign changes + 1.
    "runs_test" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1
              FROM counts GROUP BY 1),
      spine AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
                FROM rng),
      series AS (
        SELECT sp.event_type, sp.day, coalesce(c.cnt, 0) AS y
        FROM spine sp LEFT JOIN counts c
          ON sp.event_type = c.event_type AND sp.day = c.day),
      mv AS (
        SELECT event_type, day,
               CASE WHEN y > prev THEN 1 ELSE -1 END AS mv
        FROM (SELECT event_type, day, y,
                     lag(y) OVER (PARTITION BY event_type ORDER BY day)
                       AS prev
              FROM series)
        WHERE prev IS NOT NULL AND y <> prev),
      r AS (
        SELECT event_type,
               CAST(sum(CASE WHEN mv = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_up,
               CAST(sum(CASE WHEN mv = -1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_down,
               CAST(sum(CASE WHEN pmv IS NOT NULL AND mv <> pmv
                             THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_runs
        FROM (SELECT event_type, mv,
                     lag(mv) OVER (PARTITION BY event_type ORDER BY day)
                       AS pmv
              FROM mv)
        GROUP BY 1)
      SELECT event_type, n_up, n_down, n_runs,
             CASE WHEN n_runs * (n_up + n_down) <
                       n_up * n_down * 2 + (n_up + n_down) THEN 'clustered'
                  WHEN n_runs * (n_up + n_down) >
                       n_up * n_down * 2 + (n_up + n_down) THEN 'alternating'
                  ELSE 'random' END AS verdict
      FROM r""",

    // B129: one shared lag, three running sums, per-threshold folds.
    "session_threshold_sensitivity" -> {
      val blocks = Seq(900, 1800, 3600).map { t =>
        s"""sess$t AS (
           |  SELECT user_id, sid$t, CAST(count(*) AS BIGINT) AS depth
           |  FROM sids GROUP BY 1, 2),
           |cnt$t AS (SELECT depth, CAST(count(*) AS BIGINT) AS c
           |          FROM sess$t GROUP BY 1),
           |med$t AS (
           |  SELECT min(CASE WHEN cum >= (n + 1) // 2 THEN depth END)
           |           AS median_depth
           |  FROM (SELECT depth,
           |               CAST(sum(c) OVER (ORDER BY depth
           |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |                 AS BIGINT) AS cum,
           |               CAST(sum(c) OVER () AS BIGINT) AS n
           |        FROM cnt$t)),
           |agg$t AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           |  FROM sess$t)""".stripMargin
      }.mkString(",\n")
      val selects = Seq(900, 1800, 3600).map { t =>
        s"""SELECT CAST($t AS BIGINT) AS gap_s, n_sessions, n_users,
           |       n_sessions * 1000 // n_users AS sessions_per_user_milli,
           |       median_depth
           |FROM agg$t CROSS JOIN med$t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH b AS (
         |  SELECT user_id, ts, event_id,
         |         epoch_us(ts) // 1000000
         |           - lag(epoch_us(ts) // 1000000) OVER w AS gap_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sids AS (
         |  SELECT user_id,
         |         sum(CASE WHEN gap_s > 900 THEN 1 ELSE 0 END) OVER w2 AS sid900,
         |         sum(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) OVER w2 AS sid1800,
         |         sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) OVER w2 AS sid3600
         |  FROM b
         |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |$blocks
         |$selects""".stripMargin
    },

    // B127: dense hour spine, min-hour argmax, integer bp.
    "load_factor" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS h,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      rng AS (SELECT event_type, min(h) AS h0, max(h) AS h1
              FROM counts GROUP BY 1),
      spine AS (SELECT event_type, unnest(generate_series(h0, h1)) AS h
                FROM rng),
      series AS (
        SELECT sp.event_type, sp.h, coalesce(c.cnt, 0) AS y
        FROM spine sp LEFT JOIN counts c
          ON sp.event_type = c.event_type AND sp.h = c.h),
      agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
               CAST(sum(y) AS BIGINT) AS total, max(y) AS peak
        FROM series GROUP BY 1)
      SELECT a.event_type, max(a.n_hours) AS n_hours,
             max(a.total) AS total, max(a.peak) AS peak,
             min(s.h) AS peak_hour,
             max(a.peak) * 10000 // max(a.total) AS peak_share_bp,
             max(a.total) * 10000 // (max(a.peak) * max(a.n_hours))
               AS load_factor_bp
      FROM agg a JOIN series s
        ON a.event_type = s.event_type AND s.y = a.peak
      GROUP BY 1""",

    // B128: the B76 ranked frame, K = ceil(N/10), cent-exact shares.
    "top_decile_share" -> """
      WITH dims AS (
        SELECT c_custkey AS o_custkey, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      cr AS (
        SELECT n_name, o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS cents
        FROM orders JOIN dims USING (o_custkey)
        GROUP BY 1, 2),
      stats AS (
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM cr GROUP BY 1),
      rk AS (
        SELECT n_name, cents,
               row_number() OVER (PARTITION BY n_name
                 ORDER BY cents DESC, o_custkey) AS rk
        FROM cr)
      SELECT rk.n_name, max(n_custs) AS n_custs,
             max(total_cents) AS total_cents,
             CAST(count(*) AS BIGINT) AS n_top,
             CAST(sum(cents) AS BIGINT) AS top_cents,
             CAST(sum(cents) * 10000 // max(total_cents) AS BIGINT)
               AS cr10_bp
      FROM rk JOIN stats USING (n_name)
      WHERE rk <= (n_custs + 9) // 10
      GROUP BY 1""",

    // B126: global spine, day-keyed lag join, HUGEINT moments, the
    // identical two-sqrt Pearson tree.
    "xcorr_daily" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      cal AS (SELECT min(day) AS d0, max(day) AS d1 FROM counts),
      types AS (SELECT DISTINCT event_type FROM counts),
      spine AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
                FROM types CROSS JOIN cal),
      series AS (
        SELECT sp.event_type, sp.day, coalesce(c.cnt, 0) AS x
        FROM spine sp LEFT JOIN counts c
          ON sp.event_type = c.event_type AND sp.day = c.day),
      lags AS (SELECT unnest(generate_series(0, 3)) AS lag),
      j AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
               a.x, b.x AS y
        FROM series a CROSS JOIN lags l
        JOIN series b ON b.day = a.day + l.lag
        WHERE a.event_type <> b.event_type),
      m AS (
        SELECT type_a, type_b, lag, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
               sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
               sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        FROM j GROUP BY 1, 2, 3),
      t AS (
        SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, n_days,
               CAST(CAST(n_days AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
                 AS num,
               CAST(CAST(n_days AS HUGEINT) * sxx
                    - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
                 AS den_x,
               CAST(CAST(n_days AS HUGEINT) * syy
                    - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
                 AS den_y
        FROM m)
      SELECT type_a, type_b, lag, n_days, num, den_x, den_y,
             num / (sqrt(den_x) * sqrt(den_y)) AS r
      FROM t WHERE den_x > 0 AND den_y > 0""",

    // B125: same spine + running max, the min-day argmax join.
    "max_drawdown" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1
              FROM counts GROUP BY 1),
      spine AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
                FROM rng),
      dd AS (
        SELECT event_type, day, y, runmax,
               (runmax - y) * 10000 // runmax AS dd_bp
        FROM (
          SELECT sp.event_type, sp.day, coalesce(c.cnt, 0) AS y,
                 max(coalesce(c.cnt, 0)) OVER (PARTITION BY sp.event_type
                   ORDER BY sp.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS runmax
          FROM spine sp LEFT JOIN counts c
            ON sp.event_type = c.event_type AND sp.day = c.day)
        WHERE runmax > 0),
      worst AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               max(runmax) AS peak, max(dd_bp) AS max_dd_bp
        FROM dd GROUP BY 1)
      SELECT w.event_type, max(w.n_days) AS n_days, max(w.peak) AS peak,
             CAST(max(w.max_dd_bp) AS BIGINT) AS max_dd_bp,
             min(dd.day) AS trough_day
      FROM worst w JOIN dd
        ON w.event_type = dd.event_type AND w.max_dd_bp = dd.dd_bp
      GROUP BY 1""",

    // B124: the same distinct-(user, week) frame, week-shifted FULL
    // JOIN, coalesced keys, four-state fold.
    "user_lifecycle" -> """
      WITH aw AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        FROM events),
      fw AS (SELECT user_id, min(wk) AS first_wk FROM aw GROUP BY 1),
      bounds AS (SELECT min(wk) AS w_min, max(wk) AS w_max FROM aw),
      j AS (
        SELECT coalesce(c.user_id, p.user_id) AS user_id,
               coalesce(c.w, p.w) AS w, c.cur, p.prv
        FROM (SELECT user_id, wk AS w, 1 AS cur FROM aw) c
        FULL JOIN (SELECT user_id, wk + 1 AS w, 1 AS prv FROM aw) p
          ON c.user_id = p.user_id AND c.w = p.w),
      k AS (
        SELECT j.w, j.cur, j.prv, fw.first_wk
        FROM j JOIN fw USING (user_id) CROSS JOIN bounds
        WHERE j.w > w_min AND j.w <= w_max),
      g AS (
        SELECT w,
               CAST(sum(CASE WHEN cur IS NOT NULL AND first_wk = w
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN cur IS NOT NULL AND prv IS NOT NULL
                 AND first_wk < w THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_retained,
               CAST(sum(CASE WHEN cur IS NOT NULL AND prv IS NULL
                 AND first_wk < w THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_resurrected,
               CAST(sum(CASE WHEN cur IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dormant
        FROM k GROUP BY 1)
      SELECT w, n_new, n_retained, n_resurrected, n_dormant,
             CASE WHEN n_dormant > 0
                  THEN (n_new + n_resurrected) * 10000 // n_dormant
                  ELSE -1 END AS quick_ratio_bp
      FROM g""",

    // B123: the same month-shifted FULL JOIN, coalesced keys, the
    // same four-bucket fold.
    "revenue_bridge" -> """
      WITH pm AS (
        SELECT o_custkey AS cust,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                 AS ym,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2),
      bounds AS (SELECT min(ym) AS m_min, max(ym) AS m_max FROM pm),
      j AS (
        SELECT coalesce(c.cust, p.cust) AS cust,
               coalesce(c.m, p.m) AS m, c.cur_cents, p.prev_cents
        FROM (SELECT cust, ym AS m, cents AS cur_cents FROM pm) c
        FULL JOIN (SELECT cust, ym + 1 AS m, cents AS prev_cents FROM pm) p
          ON c.cust = p.cust AND c.m = p.m)
      SELECT m,
             CAST(sum(CASE WHEN prev_cents IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN cur_cents IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_churned,
             CAST(sum(CASE WHEN prev_cents IS NULL THEN cur_cents
               ELSE 0 END) AS BIGINT) AS new_cents,
             CAST(sum(CASE WHEN cur_cents IS NULL THEN prev_cents
               ELSE 0 END) AS BIGINT) AS churned_cents,
             CAST(sum(CASE WHEN cur_cents > prev_cents
               THEN cur_cents - prev_cents ELSE 0 END) AS BIGINT)
               AS expansion_cents,
             CAST(sum(CASE WHEN cur_cents < prev_cents
               THEN prev_cents - cur_cents ELSE 0 END) AS BIGINT)
               AS contraction_cents,
             CAST(sum(CASE WHEN prev_cents IS NULL THEN cur_cents
               ELSE 0 END)
               + sum(CASE WHEN cur_cents > prev_cents
                 THEN cur_cents - prev_cents ELSE 0 END)
               - sum(CASE WHEN cur_cents IS NULL THEN prev_cents
                 ELSE 0 END)
               - sum(CASE WHEN cur_cents < prev_cents
                 THEN prev_cents - cur_cents ELSE 0 END) AS BIGINT)
               AS net_cents
      FROM j CROSS JOIN bounds
      WHERE m > m_min AND m <= m_max
      GROUP BY 1""",

    // B121: the B34 cum-count quartile picks over the
    // (priority, days) vocabulary.
    "ship_lag_quartiles" -> """
      WITH counts AS (
        SELECT o_orderpriority AS priority,
               CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT)
                 AS days,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      cum AS (
        SELECT priority, days, c,
               CAST(sum(c) OVER (PARTITION BY priority ORDER BY days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum,
               CAST(sum(c) OVER (PARTITION BY priority) AS BIGINT) AS n
        FROM counts)
      SELECT priority, max(n) AS n_lines,
             min(CASE WHEN cum >= (n + 3) // 4 THEN days END) AS q25_days,
             min(CASE WHEN cum >= (n + 1) // 2 THEN days END) AS q50_days,
             min(CASE WHEN cum >= (3 * n + 3) // 4 THEN days END)
               AS q75_days
      FROM cum GROUP BY 1""",

    // B122: cent-grid strata, zero-discount baseline as a one-row
    // aggregate (null → lift_bp = -1 sentinel, never an emptying
    // cross join), the same double-rounded milli→bp chain.
    "discount_lift" -> """
      WITH g AS (
        SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS discount_pct,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY 1),
      g2 AS (SELECT *, sum_qty * 1000 // n_lines AS qty_per_line_milli
             FROM g),
      base AS (SELECT max(CASE WHEN discount_pct = 0
                          THEN qty_per_line_milli END) AS base_milli
               FROM g2)
      SELECT discount_pct, n_lines, sum_qty, qty_per_line_milli,
             CASE WHEN base_milli IS NULL THEN -1
                  ELSE qty_per_line_milli * 10000 // base_milli
             END AS lift_bp
      FROM g2 CROSS JOIN base""",

    // B120: same close-date aggregation, ±1 deltas, dense spine,
    // one cumulative window.
    "order_backlog" -> """
      WITH close AS (
        SELECT l_orderkey, max(l_shipdate) AS close_date
        FROM lineitem GROUP BY 1),
      o AS (
        SELECT o_orderpriority AS priority,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                 AS BIGINT) AS d0,
               CAST(date_diff('day', DATE '1970-01-01',
                 coalesce(close_date, o_orderdate)) AS BIGINT) AS dc
        FROM orders LEFT JOIN close ON o_orderkey = l_orderkey),
      deltas AS (
        SELECT priority, day, CAST(sum(delta) AS BIGINT) AS delta FROM (
          SELECT priority, d0 AS day, 1 AS delta FROM o
          UNION ALL
          SELECT priority, dc + 1 AS day, -1 AS delta FROM o)
        GROUP BY 1, 2),
      rng AS (SELECT priority, min(d0) AS lo, max(dc) AS hi
              FROM o GROUP BY 1),
      spine AS (SELECT priority, unnest(generate_series(lo, hi)) AS day
                FROM rng)
      SELECT sp.priority, sp.day,
             CAST(sum(coalesce(dl.delta, 0)) OVER (PARTITION BY sp.priority
               ORDER BY sp.day) AS BIGINT) AS n_open
      FROM spine sp LEFT JOIN deltas dl
        ON sp.priority = dl.priority AND sp.day = dl.day""",

    // B119: same (type, day) window, µs gaps, HUGEINT moments, the
    // one sqrt in the n-cancelled identity.
    "burstiness_index" -> """
      WITH ev AS (
        SELECT event_type, event_id, epoch_us(ts) AS us,
               epoch_us(ts) // 86400000000 AS day
        FROM events),
      g AS (
        SELECT event_type, us - pus AS g
        FROM (SELECT event_type, us,
                     lag(us) OVER (PARTITION BY event_type, day
                       ORDER BY us, event_id) AS pus
              FROM ev)
        WHERE pus IS NOT NULL),
      m AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(g) AS BIGINT) AS sum_gap_us,
               sum(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS sgg
        FROM g GROUP BY 1),
      t AS (
        SELECT event_type, n_gaps, sum_gap_us,
               CAST(CAST(n_gaps AS HUGEINT) * sgg
                    - CAST(sum_gap_us AS HUGEINT)
                      * CAST(sum_gap_us AS HUGEINT) AS DOUBLE) AS d_num
        FROM m WHERE sum_gap_us > 0)
      SELECT event_type, n_gaps, sum_gap_us, d_num,
             (sqrt(d_num) - CAST(sum_gap_us AS DOUBLE)) /
             (sqrt(d_num) + CAST(sum_gap_us AS DOUBLE)) AS burstiness
      FROM t""",

    // B116: durations via the same lead() window, censored = horizon
    // gap; at_risk = one DESC cumulative over the (segment, t) counts.
    "km_survival" -> """
      WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey FROM orders),
      hz AS (SELECT max(o_orderdate) AS dmax FROM o),
      dur AS (
        SELECT o_custkey,
               CAST(CASE WHEN nxt IS NOT NULL
                         THEN date_diff('day', o_orderdate, nxt)
                         ELSE date_diff('day', o_orderdate, dmax) END
                 AS BIGINT) AS t_days,
               CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM (SELECT o_custkey, o_orderdate,
                     lead(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS nxt
              FROM o) CROSS JOIN hz),
      counts AS (
        SELECT c.c_mktsegment AS segment, t_days,
               CAST(sum(ev) AS BIGINT) AS events,
               CAST(sum(1 - ev) AS BIGINT) AS censored
        FROM dur JOIN customer c ON dur.o_custkey = c.c_custkey
        GROUP BY 1, 2)
      SELECT segment, t_days,
             CAST(sum(events + censored) OVER (PARTITION BY segment
               ORDER BY t_days DESC) AS BIGINT) AS at_risk,
             events, censored
      FROM counts QUALIFY events > 0""",

    // B117: the NAIVE global-window cumulative — value-equality with
    // the engine's two-level banded prefix is the correctness proof.
    "abc_classification" -> """
      WITH pr AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000)
                 AS BIGINT) AS rev_e4
        FROM lineitem GROUP BY 1),
      tot AS (SELECT CAST(sum(rev_e4) AS BIGINT) AS total_e4 FROM pr),
      c AS (
        SELECT l_partkey, rev_e4,
               CAST(sum(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey)
                 AS BIGINT) AS cum
        FROM pr),
      cl AS (
        SELECT rev_e4, total_e4,
               CASE WHEN cum * 100 <= total_e4 * 70 THEN 'A'
                    WHEN cum * 100 <= total_e4 * 90 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM c CROSS JOIN tot)
      SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(rev_e4) AS BIGINT) AS rev_e4,
             max(total_e4) AS total_e4,
             CAST(sum(rev_e4) // greatest(max(total_e4) // 10000, 1)
               AS BIGINT) AS share_bp
      FROM cl GROUP BY 1""",

    // B118: HUGEINT moments mirror the engine's DECIMAL(38,0); the
    // final θ/deltas are the same DOUBLE expression trees.
    "cuped_ab" -> """
      WITH ev AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day,
               CAST(floor(value * 1000) AS BIGINT) AS v
        FROM events),
      sp AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
      pu AS (
        SELECT user_id % 2 AS variant,
               CAST(sum(CASE WHEN day < mid THEN v ELSE 0 END) AS BIGINT)
                 AS x,
               CAST(sum(CASE WHEN day >= mid THEN v ELSE 0 END) AS BIGINT)
                 AS y
        FROM ev CROSS JOIN sp GROUP BY user_id),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
               sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
               CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_a,
               CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT)
                 AS sx_a,
               CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT)
                 AS sy_a,
               CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_b,
               CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT)
                 AS sx_b,
               CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT)
                 AS sy_b
        FROM pu),
      t AS (
        SELECT n_a, n_b, sx_a, sy_a, sx_b, sy_b,
               CAST(CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
                 AS theta_num,
               CAST(CAST(n AS HUGEINT) * sxx
                    - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
                 AS theta_den
        FROM m),
      t2 AS (
        SELECT *, theta_num / theta_den AS theta,
               CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                 - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 AS delta_raw_milli
        FROM t)
      SELECT n_a, n_b, sx_a, sy_a, sx_b, sy_b, theta_num, theta_den,
             theta, delta_raw_milli,
             delta_raw_milli - theta *
               (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               AS delta_cuped_milli
      FROM t2""",

    // B114: integer months, dense age spine, running sum per cohort.
    "cohort_ltv" -> """
      WITH o AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) AS ym,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS cents
        FROM orders),
      cohort AS (SELECT o_custkey, min(ym) AS c0 FROM o GROUP BY 1),
      sz AS (SELECT c0, CAST(count(*) AS BIGINT) AS cohort_size
             FROM cohort GROUP BY 1),
      rev AS (
        SELECT c.c0, o.ym - c.c0 AS age,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM o JOIN cohort c USING (o_custkey)
        GROUP BY 1, 2),
      spine AS (
        SELECT c0, unnest(generate_series(0, amax)) AS age
        FROM (SELECT c0, max(age) AS amax FROM rev GROUP BY 1)),
      series AS (
        SELECT sp.c0, sp.age,
               coalesce(r.n_orders, 0) AS n_orders,
               coalesce(r.cents, 0) AS cents
        FROM spine sp LEFT JOIN rev r ON sp.c0 = r.c0 AND sp.age = r.age),
      cum AS (
        SELECT *, CAST(sum(cents) OVER (PARTITION BY c0 ORDER BY age)
                  AS BIGINT) AS cum_cents
        FROM series)
      SELECT cum.c0 AS cohort_ym, CAST(age AS BIGINT) AS age,
             CAST(n_orders AS BIGINT) AS n_orders,
             CAST(cents AS BIGINT) AS cents, cum_cents, cohort_size,
             cum_cents // cohort_size AS cum_cents_per_cust
      FROM cum JOIN sz ON cum.c0 = sz.c0""",

    // B112: the same day-pair frame, sign folds.
    "kendall_tau" -> """
      WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      p AS (
        SELECT a.event_type, (b.x - a.x) * (b.y - a.y) AS p
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day),
      m AS (SELECT event_type,
                   CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS concordant,
                   CAST(sum(CASE WHEN p < 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS discordant,
                   CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS ties,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM p GROUP BY 1)
      SELECT event_type, concordant, discordant, ties, n_pairs,
             (concordant - discordant) * 10000 // n_pairs AS tau_a_bp
      FROM m""",

    // B113: floored pairwise slopes, cum-count lower median.
    "theil_sen" -> """
      WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      sl AS (
        SELECT a.event_type,
               CAST((b.y - a.y) * 1000 // (b.day - a.day) AS BIGINT)
                 AS slope_milli
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day),
      g AS (SELECT event_type, slope_milli, CAST(count(*) AS BIGINT) AS c
            FROM sl GROUP BY 1, 2),
      cum AS (SELECT event_type, slope_milli,
                     sum(c) OVER (PARTITION BY event_type
                                  ORDER BY slope_milli) AS cum,
                     sum(c) OVER (PARTITION BY event_type) AS n
              FROM g)
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
             min(CASE WHEN cum >= (n + 1) // 2 THEN slope_milli END)
               AS sen_slope_milli
      FROM cum GROUP BY 1""",

    // B110: HUGEINT per-cell terms, floored identically.
    "chisq_independence" -> """
      WITH o AS (
        SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2),
      r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
      c AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
      n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
      cells AS (
        SELECT CAST((CAST(o.o AS HUGEINT) * n.n - CAST(r.r AS HUGEINT) * c.c)
                    * (CAST(o.o AS HUGEINT) * n.n - CAST(r.r AS HUGEINT) * c.c)
                    * 1000
                    // (CAST(n.n AS HUGEINT) * r.r * c.c) AS BIGINT)
                 AS term_milli
        FROM o JOIN r USING (event_type) JOIN c USING (dow), n)
      SELECT CAST(sum(term_milli) AS BIGINT) AS chi2_milli,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM cells""",

    // B111: doubled-U over the shared milli grid.
    "rank_sum_test" -> """
      WITH g AS (
        SELECT CAST(floor(value * 1000) AS BIGINT) AS v,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1),
      cu AS (SELECT ca, cb,
                    CAST(coalesce(sum(cb) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cb_below
             FROM g),
      m AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                   CAST(sum(cb) AS BIGINT) AS n_b,
                   CAST(sum(ca * cb_below * 2 + ca * cb) AS BIGINT) AS u2
            FROM cu)
      SELECT n_a, n_b, u2,
             CASE WHEN u2 > n_a * n_b THEN 'purchase_higher'
                  WHEN u2 < n_a * n_b THEN 'view_higher'
                  ELSE 'tied' END AS shift
      FROM m""",

    // B109: the same two-level count fold, integer Simpson.
    "behavior_diversity" -> """
      WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      m AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                   CAST(sum(c * c) AS BIGINT) AS ss
            FROM c GROUP BY 1),
      sp AS (SELECT (n * n - ss) * 1000000 // (n * n) AS simpson_ppm FROM m)
      SELECT CAST(1 + CAST(simpson_ppm >= 780000 AS INT)
                    + CAST(simpson_ppm >= 790000 AS INT)
                    + CAST(simpson_ppm >= 795000 AS INT) AS BIGINT)
               AS diversity_band,
             CAST(count(*) AS BIGINT) AS n_users
      FROM sp GROUP BY 1""",

    // B108: the dense spine + two lags, integer MAE.
    "forecast_backtest" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1
              FROM counts GROUP BY 1),
      spine AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
                FROM rng),
      series AS (
        SELECT sp.event_type, sp.day, coalesce(c.cnt, 0) AS y
        FROM spine sp LEFT JOIN counts c
          ON sp.event_type = c.event_type AND sp.day = c.day),
      lagged AS (
        SELECT event_type, y,
               lag(y, 7) OVER w AS p7, lag(y, 1) OVER w AS p1
        FROM series WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
                   CAST(sum(abs(y - p7)) AS BIGINT) AS ae7,
                   CAST(sum(abs(y - p1)) AS BIGINT) AS ae1
            FROM lagged WHERE p7 IS NOT NULL AND p1 IS NOT NULL
            GROUP BY 1)
      SELECT event_type, n_eval,
             ae7 * 1000 // n_eval AS mae7_milli,
             ae1 * 1000 // n_eval AS mae1_milli,
             ae7 < ae1 AS weekly_structure
      FROM m""",

    // B107: the B32 session construction folded twice.
    "session_depth_hist" -> """
      WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN date_diff('second',
                      lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC),
                      ts) > 1800 THEN 1 ELSE 0 END AS gap
        FROM events),
      sid AS (SELECT user_id,
                     sum(gap) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) AS session_id
              FROM g),
      dep AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS depth
              FROM sid GROUP BY 1, 2)
      SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions
      FROM dep GROUP BY 1""",

    // B105: the cum-count p95 on the shared milli grid, folded.
    "daily_p95_slo" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(floor(value * 1000) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3),
      cum AS (
        SELECT event_type, day, v,
               sum(c) OVER (PARTITION BY event_type, day ORDER BY v) AS cum,
               sum(c) OVER (PARTITION BY event_type, day) AS n
        FROM counts),
      p AS (SELECT event_type, day,
                   min(CASE WHEN cum >= (19 * n + 19) // 20 THEN v END)
                     AS p95_milli
            FROM cum GROUP BY 1, 2)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CASE WHEN p95_milli > 150000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS breach_days,
             CAST(max(p95_milli) AS BIGINT) AS worst_p95_milli
      FROM p GROUP BY 1""",

    // B106: two aggs + a day join, no windows.
    "new_vs_returning" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events),
      nw AS (SELECT fday AS day, CAST(count(*) AS BIGINT) AS new_users
             FROM (SELECT user_id, min(day) AS fday FROM ud GROUP BY 1)
             GROUP BY 1),
      d AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
      SELECT d.day, d.dau, coalesce(nw.new_users, 0) AS new_users,
             d.dau - coalesce(nw.new_users, 0) AS returning_users
      FROM d LEFT JOIN nw ON d.day = nw.day""",

    // B103: the lag() window verbatim.
    "order_gap_stats" -> """
      WITH g AS (
        SELECT o_custkey,
               epoch_us(o_orderdate) // 86400000000 AS day,
               lag(epoch_us(o_orderdate) // 86400000000) OVER
                 (PARTITION BY o_custkey
                  ORDER BY epoch_us(o_orderdate) // 86400000000, o_orderkey)
                 AS prev
        FROM orders)
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(day - prev) AS BIGINT) AS gap_days_sum,
             CAST(max(day - prev) AS BIGINT) AS gap_days_max,
             CAST(sum(day - prev) AS BIGINT) // CAST(count(*) AS BIGINT)
               AS gap_days_mean
      FROM g WHERE prev IS NOT NULL
      GROUP BY 1""",

    // B104: per-basket pair self-join + cross-multiplied lift.
    "basket_rules" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      supp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
               FROM li GROUP BY 1),
      nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
             FROM li),
      pairs AS (
        SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS cab
        FROM li x JOIN li y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3)
      SELECT part_a, part_b, cab, sa.c AS ca, sb.c AS cb,
             CAST(CAST(cab AS HUGEINT) * n_baskets * 1000000
                  // (CAST(sa.c AS HUGEINT) * sb.c) AS BIGINT) AS lift_ppm,
             cab * 10000 // sa.c AS conf_a_to_b_bp,
             cab * 10000 // sb.c AS conf_b_to_a_bp
      FROM pairs JOIN supp sa ON part_a = sa.l_partkey
                 JOIN supp sb ON part_b = sb.l_partkey, nb
      ORDER BY lift_ppm DESC, part_a ASC, part_b ASC LIMIT 20""",

    // B99: the day − row_number() island key verbatim.
    "streak_lengths" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events),
      isl AS (SELECT user_id,
                     day - row_number() OVER (PARTITION BY user_id
                                              ORDER BY day) AS island
              FROM ud),
      runs AS (SELECT user_id, CAST(count(*) AS BIGINT) AS len
               FROM isl GROUP BY user_id, island),
      mx AS (SELECT user_id, max(len) AS streak_days FROM runs GROUP BY 1)
      SELECT streak_days, CAST(count(*) AS BIGINT) AS n_users
      FROM mx GROUP BY 1""",

    // B100: identical sweep-line — net per-second deltas, day-level
    // carry-over, within-day running max.
    "peak_concurrency" -> """
      WITH ev AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
      g AS (SELECT user_id, t,
                   CASE WHEN t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS gap
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      sid AS (SELECT user_id, t, sum(gap) OVER (PARTITION BY user_id
                                                ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM g),
      sess AS (SELECT user_id, session_id, min(t) AS t0, max(t) AS t1
               FROM sid GROUP BY 1, 2),
      deltas AS (
        SELECT t, CAST(sum(delta) AS BIGINT) AS delta, t // 86400 AS day
        FROM (SELECT t0 AS t, 1 AS delta FROM sess
              UNION ALL SELECT t1 + 1, -1 FROM sess)
        GROUP BY 1),
      starts AS (SELECT t0 // 86400 AS day, CAST(count(*) AS BIGINT)
                          AS n_starts
                 FROM sess GROUP BY 1),
      daytot AS (SELECT deltas.day, CAST(sum(delta) AS BIGINT) AS day_delta,
                        coalesce(max(n_starts), 0) AS n_starts
                 FROM deltas LEFT JOIN starts ON deltas.day = starts.day
                 GROUP BY 1),
      carry AS (SELECT day, CAST(n_starts AS BIGINT) AS n_starts,
                       CAST(coalesce(sum(day_delta) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS carry_in
                FROM daytot),
      runs AS (SELECT day, max(run) AS max_run FROM (
                 SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                 FROM deltas) GROUP BY 1)
      SELECT r.day, CAST(carry_in + greatest(CAST(0 AS BIGINT), max_run)
                    AS BIGINT) AS peak_concurrency, n_starts
      FROM runs r JOIN carry c ON r.day = c.day""",

    // B101: the shared word-adjacency base + per-k degree filter and
    // double semi join, unioned.
    "rich_club" -> {
      val perK = Seq(2, 4, 8, 16).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE deg > $k) AS n_nodes,
           |  (SELECT CAST(count(*) AS BIGINT) FROM und
           |   WHERE a IN (SELECT node FROM deg WHERE deg > $k)
           |     AND b IN (SELECT node FROM deg WHERE deg > $k)) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $WordAdjSql,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM e0 WHERE src <> dst),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |        GROUP BY 1),
         |base AS ($perK)
         |SELECT k, n_nodes, n_edges,
         |       CASE WHEN n_nodes > 1
         |            THEN n_edges * 2 * 1000000 // (n_nodes * (n_nodes - 1))
         |            ELSE CAST(0 AS BIGINT) END AS phi_ppm
         |FROM base""".stripMargin
    },

    // B102: B34's cum-count quartiles per metric over distinct values
    // ($100 grid on monetary), bucket by strict-greater thresholds.
    "rfm_segments" -> """
      WITH cust AS (
        SELECT o_custkey,
               (SELECT max(epoch_us(o_orderdate) // 86400000000)
                FROM orders)
                 - max(epoch_us(o_orderdate) // 86400000000) AS rec,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) // 10000 AS mgrid
        FROM orders GROUP BY 1),
      qr AS (SELECT min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q25,
                    min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS q50,
                    min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q75
             FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
                          sum(c) OVER () AS n
                   FROM (SELECT rec AS v, count(*) AS c FROM cust GROUP BY 1))),
      qf AS (SELECT min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q25,
                    min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS q50,
                    min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q75
             FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
                          sum(c) OVER () AS n
                   FROM (SELECT freq AS v, count(*) AS c FROM cust GROUP BY 1))),
      qm AS (SELECT min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q25,
                    min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS q50,
                    min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q75
             FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
                          sum(c) OVER () AS n
                   FROM (SELECT mgrid AS v, count(*) AS c FROM cust GROUP BY 1)))
      SELECT CAST(1 + CAST(rec > qr.q25 AS INT) + CAST(rec > qr.q50 AS INT)
                  + CAST(rec > qr.q75 AS INT) AS BIGINT) AS r_q,
             CAST(1 + CAST(freq > qf.q25 AS INT) + CAST(freq > qf.q50 AS INT)
                  + CAST(freq > qf.q75 AS INT) AS BIGINT) AS f_q,
             CAST(1 + CAST(mgrid > qm.q25 AS INT) + CAST(mgrid > qm.q50 AS INT)
                  + CAST(mgrid > qm.q75 AS INT) AS BIGINT) AS m_q,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM cust, qr, qf, qm
      GROUP BY 1, 2, 3""",

    // B90: same dense-series CTEs; the prefix identity
    // S = P − min(0, running-min P) mirrors the engine's two running
    // windows; alarm gate cusum > total, first alarm day −1 when none.
    "cusum_alarm" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1
              FROM counts GROUP BY 1),
      spine AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
                FROM rng),
      series AS (
        SELECT sp.event_type, sp.day, coalesce(c.cnt, 0) AS y
        FROM spine sp LEFT JOIN counts c
          ON sp.event_type = c.event_type AND sp.day = c.day),
      tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                     CAST(sum(y) AS BIGINT) AS total
              FROM series GROUP BY 1),
      p AS (SELECT s.event_type, s.day, t.n_days, t.total,
                   CAST(sum(t.n_days * s.y - t.total)
                        OVER (PARTITION BY s.event_type ORDER BY s.day)
                        AS BIGINT) AS pfx
            FROM series s JOIN tot t USING (event_type)),
      cus AS (SELECT *, pfx - least(CAST(0 AS BIGINT),
                     min(pfx) OVER (PARTITION BY event_type ORDER BY day))
                   AS cusum
              FROM p)
      SELECT event_type, max(n_days) AS n_days, max(total) AS total,
             max(cusum) AS max_cusum,
             CAST(sum(CASE WHEN cusum > total THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarm_days,
             coalesce(min(CASE WHEN cusum > total THEN day END),
                      CAST(-1 AS BIGINT)) AS first_alarm_day
      FROM cus GROUP BY 1""",

    // B91: identical sweep-line — per-user lead() intervals, ±1
    // deltas, one running sum over the day spine.
    "dau_wau" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events),
      iv AS (SELECT user_id, day AS cstart,
                    CASE WHEN lead(day) OVER w IS NULL
                           OR lead(day) OVER w > day + 6
                         THEN day + 6 ELSE lead(day) OVER w - 1 END AS cend
             FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      deltas AS (
        SELECT cstart AS day, CAST(1 AS BIGINT) AS delta FROM iv
        UNION ALL
        SELECT cend + 1 AS day, CAST(-1 AS BIGINT) AS delta FROM iv),
      dd AS (SELECT day, CAST(sum(delta) AS BIGINT) AS delta
             FROM deltas GROUP BY 1),
      rng AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
      spine AS (SELECT unnest(generate_series(d0, d1)) AS day FROM rng),
      dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
      wau AS (SELECT sp.day,
                     CAST(sum(coalesce(dd.delta, 0)) OVER (ORDER BY sp.day)
                          AS BIGINT) AS wau
              FROM spine sp LEFT JOIN dd ON sp.day = dd.day)
      SELECT w.day, coalesce(d.dau, CAST(0 AS BIGINT)) AS dau, w.wau,
             CASE WHEN w.wau > 0
                  THEN coalesce(d.dau, 0) * 10000 // w.wau
                  ELSE CAST(-1 AS BIGINT) END AS stickiness_bp
      FROM wau w LEFT JOIN dau d ON w.day = d.day""",

    // B85: the B78 dense-series CTEs folded to the three moments;
    // HUGEINT Σx² mirrors the engine's DECIMAL(38,0).
    "fano_factor" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS h,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      rng AS (SELECT event_type, min(h) AS h0, max(h) AS h1
              FROM counts GROUP BY 1),
      spine AS (SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM rng),
      series AS (
        SELECT sp.event_type, coalesce(c.cnt, 0) AS x
        FROM spine sp LEFT JOIN counts c
          ON sp.event_type = c.event_type AND sp.h = c.h),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
                   CAST(sum(x) AS BIGINT) AS total,
                   sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS ss
            FROM series GROUP BY 1)
      SELECT event_type, n_hours, total,
             CAST((CAST(n_hours AS HUGEINT) * ss
                   - CAST(total AS HUGEINT) * CAST(total AS HUGEINT)) * 1000000
                  // (CAST(n_hours AS HUGEINT) * CAST(total AS HUGEINT))
                  AS BIGINT) AS fano_ppm
      FROM m WHERE total > 0""",

    // B86: the B29 lead() window carrying next_ts too; µs sums exact.
    "transition_dwell" -> """
      WITH t AS (
        SELECT event_type,
               lead(event_type) OVER w AS next_type,
               lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dwell_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dwell_us) AS BIGINT) AS dwell_us_sum,
             CAST(max(dwell_us) AS BIGINT) AS dwell_us_max,
             CAST(sum(dwell_us) AS BIGINT) // CAST(count(*) AS BIGINT)
               AS dwell_us_mean
      FROM t WHERE next_type IS NOT NULL
      GROUP BY 1, 2""",

    // B88: cent-exact revenues, floored bp shares, Σ share² per
    // nation.
    "hhi_concentration" -> """
      WITH rev AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      tot AS (SELECT nationkey, CAST(sum(rev_cents) AS BIGINT) AS tot_cents,
                     CAST(count(*) AS BIGINT) AS n_customers
              FROM rev GROUP BY 1)
      SELECT rev.nationkey, max(n_customers) AS n_customers,
             max(tot_cents) AS tot_cents,
             CAST(sum((rev_cents * 10000 // tot_cents)
                      * (rev_cents * 10000 // tot_cents)) AS BIGINT) AS hhi
      FROM rev JOIN tot USING (nationkey)
      GROUP BY 1""",

    // B69: identical cross-multiplied rate comparison — division-free.
    "burst_hours" -> """
      WITH ph AS (
        -- epoch_us is integer-exact; // floors like Spark's
        -- cast-to-long-then-div (epoch() DOUBLE would ROUND on cast)
        SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      pu AS (
        SELECT user_id, CAST(sum(n) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS active_hours
        FROM ph GROUP BY 1)
      SELECT ph.user_id, ph.hour, ph.n, pu.total, pu.active_hours
      FROM ph JOIN pu USING (user_id)
      WHERE ph.n * pu.active_hours > pu.total * 2""",

    // B67: identical cell derivation; chi2 shares the verbatim double
    // expression with the engine.
    "ab_lift" -> s"""
      |WITH pu AS (
      |  SELECT user_id,
      |         max(CASE WHEN event_type = 'purchase' AND value > 150.0
      |                  THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY 1),
      |g AS (
      |  SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n_users,
      |         CAST(sum(converted) AS BIGINT) AS n_conv
      |  FROM pu GROUP BY 1),
      |r AS (
      |  SELECT CAST(sum(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS users_a,
      |         CAST(sum(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT) AS conv_a,
      |         CAST(sum(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS users_b,
      |         CAST(sum(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT) AS conv_b
      |  FROM g),
      |r2 AS (
      |  SELECT *, conv_a * (users_b - conv_b) - conv_b * (users_a - conv_a)
      |              AS delta
      |  FROM r)
      |SELECT users_a, conv_a, users_b, conv_b,
      |       conv_a * 1000000 // users_a AS conv_ppm_a,
      |       conv_b * 1000000 // users_b AS conv_ppm_b,
      |       $Chi2Sql AS chi2
      |FROM r2""".stripMargin,

    // B63: identical lag/coalesce formulation; the cross-multiplied
    // threshold keeps both engines division-free.
    "ewma_anomaly" -> """
      WITH b AS (
        SELECT user_id, ts, event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
      l AS (
        SELECT user_id, ts, event_id, cents,
               lag(cents, 1) OVER w AS l1, lag(cents, 2) OVER w AS l2,
               lag(cents, 3) OVER w AS l3, lag(cents, 4) OVER w AS l4
        FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (
        SELECT user_id, event_id, ts, cents,
               CAST(coalesce(l1 * 8, 0) + coalesce(l2 * 4, 0)
                    + coalesce(l3 * 2, 0) + coalesce(l4, 0) AS BIGINT) AS ewma_num,
               CAST(CASE WHEN l1 IS NOT NULL THEN 8 ELSE 0 END
                    + CASE WHEN l2 IS NOT NULL THEN 4 ELSE 0 END
                    + CASE WHEN l3 IS NOT NULL THEN 2 ELSE 0 END
                    + CASE WHEN l4 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS ewma_den
        FROM l)
      SELECT user_id, event_id, ts, cents, ewma_num, ewma_den
      FROM s WHERE ewma_den > 0 AND cents * ewma_den > ewma_num * 3""",

    // B77: identical two-frame window algebra, cents in, the one
    // sign-handled division at the end.
    "mean_shift_detect" -> """
      WITH b AS (
        SELECT user_id, ts, event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
      w AS (
        SELECT user_id, ts, event_id,
               CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS BIGINT) AS before_sum,
               count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS before_n,
               CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS BIGINT) AS after_sum,
               count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS after_n
        FROM b)
      SELECT user_id, event_id, ts, before_sum, after_sum,
             CASE WHEN after_sum >= before_sum
                  THEN (after_sum - before_sum) // 8
                  ELSE -((before_sum - after_sum) // 8) END AS shift_cents
      FROM w
      WHERE before_n = 8 AND after_n = 8
        AND abs(after_sum - before_sum) > 24000""",

    // B78: dense spine via generate_series, centered moments scaled
    // through by n so everything stays integer until the final bp.
    "acf_hourly" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS h,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      rng AS (SELECT event_type, min(h) AS h0, max(h) AS h1
              FROM counts GROUP BY 1),
      spine AS (SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM rng),
      series AS (
        SELECT sp.event_type, sp.h, coalesce(c.cnt, 0) AS x
        FROM spine sp LEFT JOIN counts c
          ON sp.event_type = c.event_type AND sp.h = c.h),
      tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS s
              FROM series GROUP BY 1),
      lagged AS (
        SELECT se.event_type, t.n, t.s, se.x,
               lead(x, 1) OVER w AS x1, lead(x, 2) OVER w AS x2,
               lead(x, 3) OVER w AS x3
        FROM series se JOIN tot t USING (event_type)
        WINDOW w AS (PARTITION BY se.event_type ORDER BY se.h)),
      cc AS (SELECT event_type, n, s, x1, x2, x3,
                    CAST(n * x - s AS HUGEINT) AS c0 FROM lagged),
      m AS (
        SELECT event_type, max(n) AS n_hours,
               sum(c0 * c0) AS den,
               sum(CASE WHEN x1 IS NOT NULL THEN c0 * (n * x1 - s) END) AS num1,
               sum(CASE WHEN x2 IS NOT NULL THEN c0 * (n * x2 - s) END) AS num2,
               sum(CASE WHEN x3 IS NOT NULL THEN c0 * (n * x3 - s) END) AS num3
        FROM cc GROUP BY 1)
      SELECT event_type, n_hours,
             CAST(den AS DOUBLE) AS den, CAST(num1 AS DOUBLE) AS num1,
             CAST(num2 AS DOUBLE) AS num2, CAST(num3 AS DOUBLE) AS num3,
             CASE WHEN num1 >= 0 THEN CAST((num1 * 10000) // den AS BIGINT)
                  ELSE CAST(-((-num1 * 10000) // den) AS BIGINT) END AS acf1_bp,
             CASE WHEN num2 >= 0 THEN CAST((num2 * 10000) // den AS BIGINT)
                  ELSE CAST(-((-num2 * 10000) // den) AS BIGINT) END AS acf2_bp,
             CASE WHEN num3 >= 0 THEN CAST((num3 * 10000) // den AS BIGINT)
                  ELSE CAST(-((-num3 * 10000) // den) AS BIGINT) END AS acf3_bp
      FROM m WHERE den > 0""",

    // B79: same spine, closed-form OLS moments, one division.
    "daily_trend" -> """
      WITH counts AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1
              FROM counts GROUP BY 1),
      spine AS (SELECT event_type, d0,
                       unnest(generate_series(d0, d1)) AS day FROM rng),
      series AS (
        SELECT sp.event_type, sp.day - sp.d0 AS x, coalesce(c.cnt, 0) AS y
        FROM spine sp LEFT JOIN counts c
          ON sp.event_type = c.event_type AND sp.day = c.day),
      m AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM series GROUP BY 1)
      SELECT event_type, n_days,
             n_days * sxy - sx * sy AS slope_num,
             n_days * sxx - sx * sx AS slope_den,
             CASE WHEN n_days * sxy - sx * sy >= 0
                  THEN ((n_days * sxy - sx * sy) * 1000) // (n_days * sxx - sx * sx)
                  ELSE -((-(n_days * sxy - sx * sy) * 1000) // (n_days * sxx - sx * sx))
                  END AS slope_milli
      FROM m WHERE n_days * sxx - sx * sx > 0""",

    // B80: running-max-end island scan over the same unique total
    // order; everything integer epoch days.
    "interval_union" -> """
      WITH iv AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               epoch_us(l_shipdate) // 86400000000 AS start_day,
               epoch_us(l_shipdate) // 86400000000 + 1 + l_orderkey % 14 AS end_day
        FROM lineitem),
      w AS (
        SELECT *,
               max(end_day) OVER (PARTITION BY l_suppkey
                 ORDER BY start_day, end_day, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM iv),
      f AS (SELECT *, CASE WHEN prev_end IS NULL OR start_day > prev_end
                           THEN 1 ELSE 0 END AS new_island FROM w),
      g AS (SELECT *, sum(new_island) OVER (PARTITION BY l_suppkey
              ORDER BY start_day, end_day, l_orderkey, l_linenumber
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
            FROM f),
      i AS (SELECT l_suppkey, island_id, count(*) AS n_iv,
                   min(start_day) AS i0, max(end_day) AS i1
            FROM g GROUP BY 1, 2)
      SELECT l_suppkey, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
             CAST(count(*) AS BIGINT) AS n_islands,
             CAST(sum(i1 - i0) AS BIGINT) AS covered_days,
             CAST(max(i1) - min(i0) AS BIGINT) AS span_days,
             CAST(sum(i1 - i0) AS BIGINT) * 10000 //
               CAST(max(i1) - min(i0) AS BIGINT) AS coverage_bp
      FROM i GROUP BY 1""",

    // B82: same per-user running max in event_id order, floor-second
    // epochs (the epoch_us // 1e6 seam).
    "lateness_profile" -> """
      WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts) // 1000000 AS sec
        FROM events),
      w AS (
        SELECT event_type,
               max(sec) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sec
                 AS late_s
        FROM e)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
             CAST(max(late_s) AS BIGINT) AS max_late_s,
             CAST(sum(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late_10m,
             CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               * 10000 // CAST(count(*) AS BIGINT) AS late_bp,
             CAST(sum(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
               * 10000 // CAST(count(*) AS BIGINT) AS late_10m_bp
      FROM w GROUP BY 1""",

    // B81: four conditional sums over the same strictly-preceding
    // frame, channel unpivot via UNION ALL, integer-truncated credit.
    "multi_touch_attribution" -> """
      WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CASE WHEN event_type = 'click'
                    THEN CAST(props ->> '$.k' AS BIGINT) % 4 END AS ck
        FROM events),
      w AS (
        SELECT *,
          CAST(sum(CASE WHEN ck = 0 THEN 1 ELSE 0 END) OVER win AS BIGINT) AS n0,
          CAST(sum(CASE WHEN ck = 1 THEN 1 ELSE 0 END) OVER win AS BIGINT) AS n1,
          CAST(sum(CASE WHEN ck = 2 THEN 1 ELSE 0 END) OVER win AS BIGINT) AS n2,
          CAST(sum(CASE WHEN ck = 3 THEN 1 ELSE 0 END) OVER win AS BIGINT) AS n3
        FROM ev WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      p AS (SELECT cents, coalesce(n0, 0) AS n0, coalesce(n1, 0) AS n1,
                   coalesce(n2, 0) AS n2, coalesce(n3, 0) AS n3,
                   coalesce(n0, 0) + coalesce(n1, 0) + coalesce(n2, 0)
                     + coalesce(n3, 0) AS n_total
            FROM w WHERE event_type = 'purchase'),
      u AS (
        SELECT 'direct' AS channel, CAST(1 AS BIGINT) AS k, cents, n_total
        FROM p WHERE n_total = 0
        UNION ALL SELECT 'ch_0', n0, cents, n_total FROM p WHERE n_total > 0
        UNION ALL SELECT 'ch_1', n1, cents, n_total FROM p WHERE n_total > 0
        UNION ALL SELECT 'ch_2', n2, cents, n_total FROM p WHERE n_total > 0
        UNION ALL SELECT 'ch_3', n3, cents, n_total FROM p WHERE n_total > 0)
      SELECT channel, CAST(count(*) AS BIGINT) AS n_touched_purchases,
             CAST(sum(CASE WHEN channel = 'direct' THEN cents
                           ELSE cents * k // n_total END) AS BIGINT)
               AS credit_cents
      FROM u WHERE k > 0 GROUP BY 1""",

    // B64: the same strictly-preceding IGNORE NULLS carry; DuckDB's
    // last_value(IGNORE NULLS) over the 1-PRECEDING frame is the
    // exact twin of Spark's last(ignoreNulls) over rowsBetween(-∞,-1).
    "attribution" -> """
      WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CASE WHEN event_type = 'click'
                    THEN 'ch_' || CAST(CAST(props ->> '$.k' AS BIGINT) % 4 AS VARCHAR)
               END AS click_ch
        FROM events),
      att AS (
        SELECT *, coalesce(last_value(click_ch IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               'direct') AS channel
        FROM ev)
      SELECT channel, count(*) AS n_purchases,
             CAST(sum(cents) AS BIGINT) AS rev_cents
      FROM att WHERE event_type = 'purchase' GROUP BY 1""",

    // B65: the oracle IS the full recompute — merge ≡ recompute is
    // the operator's contract (joins distribute over union).
    "incr_join_merge" -> """
      SELECT n_name, substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS ym,
             count(*) AS n_orders,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS rev_cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2""",

    // B53: same unrolled min-fold as graph_reach — the frontier-delta
    // engine must produce identical distances — over the word-adjacency
    // edge set (consecutive-token pairs, DuckDB 1-based list indexing).
    "graph_reach_deep" -> s"""
      |WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |pairs AS (SELECT unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
      |  i -> [t[CAST(i + 1 AS INT)], t[CAST(i + 2 AS INT)]])) AS p FROM toks),
      |e AS (SELECT DISTINCT p[1] AS src, p[2] AS dst FROM pairs
      |      WHERE p[1] <> '' AND p[2] <> ''),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |d0 AS (SELECT min(node) AS node, CAST(0 AS BIGINT) AS hops FROM nodes),
      |d1 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM d0
      |  UNION ALL SELECT e.dst, d.hops + 1 FROM d0 d JOIN e ON d.node = e.src)
      |  GROUP BY 1),
      |d2 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM d1
      |  UNION ALL SELECT e.dst, d.hops + 1 FROM d1 d JOIN e ON d.node = e.src)
      |  GROUP BY 1),
      |d3 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM d2
      |  UNION ALL SELECT e.dst, d.hops + 1 FROM d2 d JOIN e ON d.node = e.src)
      |  GROUP BY 1)
      |SELECT node, hops FROM d3""".stripMargin,
    "funnel_steps" -> """
      WITH s1 AS (SELECT user_id, min(ts) AS t_view FROM events
                  WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t_click
             FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
             FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY 1)
      SELECT s1.user_id, t_view, t_click, t_purchase,
             1 + CAST(t_click IS NOT NULL AS INT)
               + CAST(t_purchase IS NOT NULL AS INT) AS depth
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",

    "cohort_retention" -> """
      WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY 1),
      active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events)
      SELECT cohort_week,
             CAST(date_diff('day', CAST(cohort_week AS DATE), CAST(week AS DATE)) // 7
                  AS BIGINT) AS weeks_since,
             count(DISTINCT user_id) AS n_users
      FROM active JOIN first USING (user_id)
      GROUP BY 1, 2""",

    "outlier_events" -> """
      WITH stats AS (
        SELECT event_type,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu,
               CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                    AS DOUBLE) / count(*) AS ex2
        FROM events GROUP BY 1)
      SELECT event_id, e.event_type, value
      FROM events e JOIN stats USING (event_type)
      WHERE (value - mu) * (value - mu) > 4.0 * (ex2 - mu * mu)""",

    // B84: same moment trees per (type, hour-of-day) cohort.
    "seasonal_outliers" -> """
      WITH e AS (
        SELECT event_id, event_type,
               epoch_us(ts) // 3600000000 % 24 AS hod, value
        FROM events),
      stats AS (
        SELECT event_type, hod,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu,
               CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                    AS DOUBLE) / count(*) AS ex2
        FROM e GROUP BY 1, 2)
      SELECT event_id, e.event_type, e.hod, value
      FROM e JOIN stats USING (event_type, hod)
      WHERE (value - mu) * (value - mu) > 4.0 * (ex2 - mu * mu)""",

    // quantile_cont ≡ Spark's exact `percentile`: both interpolate at
    // p·(n−1); over integer micro-units every interpolated value is a
    // dyadic rational both engines represent exactly.
    "robust_outliers" -> """
      WITH ev AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1000000.0) AS BIGINT) AS v_us
        FROM events),
      med AS (
        SELECT event_type, quantile_cont(v_us, 0.5) AS med_us
        FROM ev GROUP BY 1),
      dev AS (
        SELECT e.event_id, e.event_type, e.v_us,
               abs(e.v_us - m.med_us) AS dev_us
        FROM ev e JOIN med m USING (event_type)),
      mad AS (
        SELECT event_type, quantile_cont(dev_us, 0.5) AS mad_us
        FROM dev GROUP BY 1)
      SELECT d.event_id, d.event_type, d.v_us, d.dev_us, m2.mad_us
      FROM dev d JOIN mad m2 USING (event_type)
      WHERE m2.mad_us > 0 AND d.dev_us > 3.0 * m2.mad_us""",

    // THE FULL RECOMPUTE — the merge path must equal it exactly.
    "incr_agg_merge" -> """
      SELECT o_orderstatus AS status,
             date_trunc('month', o_orderdate) AS month,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1, 2""",

    "event_transitions" -> """
      WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) AS next_type
        FROM events)
      SELECT event_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2""",

    // B60: DuckDB's ordered list() mirrors the engine's sorted
    // collect; slice/[1:3] and the join delimiter line up.
    "top_paths" -> """
      |WITH g AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN date_diff('second',
      |                lag(ts) OVER (PARTITION BY user_id
      |                              ORDER BY ts ASC, event_id ASC),
      |                ts) > 1800 THEN 1 ELSE 0 END AS gap
      |  FROM events),
      |s1 AS (SELECT user_id, ts, event_id, event_type,
      |              sum(gap) OVER (PARTITION BY user_id
      |                             ORDER BY ts ASC, event_id ASC) AS sid
      |       FROM g),
      |p AS (SELECT user_id, sid,
      |             array_to_string((list(event_type ORDER BY ts, event_id))[1:3],
      |                             '>') AS path
      |      FROM s1 GROUP BY 1, 2),
      |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |      FROM p GROUP BY 1)
      |SELECT path, n_sessions, rank FROM (
      |  SELECT path, n_sessions,
      |         CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
      |           AS BIGINT) AS rank
      |  FROM c)
      |WHERE rank <= 10""".stripMargin,

    // B59: non-negative cents×seconds, so `//` and `div` agree.
    "twap_value" -> """
      |WITH s0 AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         date_diff('second', ts,
      |           lead(ts) OVER (PARTITION BY user_id
      |                          ORDER BY ts ASC, event_id ASC)) AS dur
      |  FROM events),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
      |             CAST(sum(dur) AS BIGINT) AS dur_secs,
      |             CAST(sum(cents * dur) AS BIGINT) AS vt_sum
      |      FROM s0 WHERE dur IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_spans, dur_secs, vt_sum,
      |       vt_sum // dur_secs AS twap_cents
      |FROM a WHERE dur_secs > 0""".stripMargin,

    // B58: each as-of step replayed as min-over-candidates (ts first,
    // then smallest id at that ts — the forward tie-break contract).
    "cep_episodes" -> s"""
      |WITH $CepChainSql
      |SELECT event_id, user_id, ts, c_ts, c_id, p_ts, p_id,
      |       p_ts IS NOT NULL AND date_diff('second', ts, p_ts) <= 3600
      |         AS completed
      |FROM s2b""".stripMargin,

    // B70: depth from the SAME as-of chain (CTEs shared verbatim with
    // the B58 oracle), per-step window membership re-checked.
    "window_funnel" -> s"""
      |WITH $CepChainSql,
      |dep AS (
      |  SELECT user_id,
      |         CAST(1
      |           + CASE WHEN c_ts IS NOT NULL
      |                   AND date_diff('second', ts, c_ts) <= 3600
      |                  THEN 1 ELSE 0 END
      |           + CASE WHEN p_ts IS NOT NULL
      |                   AND date_diff('second', ts, p_ts) <= 3600
      |                   AND date_diff('second', ts, c_ts) <= 3600
      |                  THEN 1 ELSE 0 END AS BIGINT) AS depth
      |  FROM s2b)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_triggers,
      |       CAST(max(depth) AS BIGINT) AS max_depth
      |FROM dep GROUP BY 1""".stripMargin,

    // B57: both island derivations replayed (the proven B32 pairing of
    // date_diff-seconds vs cast-long diffs), then the overlap join.
    "interval_align" -> """
      |WITH s0 AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800
      |              THEN 1 ELSE 0 END AS gap
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |s1 AS (SELECT user_id, ts,
      |              sum(gap) OVER (PARTITION BY user_id
      |                             ORDER BY ts ASC, event_id ASC) AS sid
      |       FROM s0),
      |sess AS (SELECT user_id, CAST(sid AS BIGINT) AS session_id,
      |                min(ts) AS s_start, max(ts) AS s_end,
      |                CAST(count(*) AS BIGINT) AS n_events
      |         FROM s1 GROUP BY 1, 2),
      |e0 AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 3600
      |              THEN 1 ELSE 0 END AS gap
      |  FROM events WHERE event_type = 'error'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |e1 AS (SELECT user_id, ts,
      |              sum(gap) OVER (PARTITION BY user_id
      |                             ORDER BY ts ASC, event_id ASC) AS eid
      |       FROM e0),
      |err AS (SELECT user_id, CAST(eid AS BIGINT) AS err_island,
      |               min(ts) AS e_start, max(ts) AS e_end,
      |               CAST(count(*) AS BIGINT) AS n_errors
      |        FROM e1 GROUP BY 1, 2)
      |SELECT s.user_id, s.session_id, s.s_start, s.s_end, s.n_events,
      |       e.err_island, e.e_start, e.e_end, e.n_errors,
      |       greatest(s.s_start, e.e_start) AS ov_start,
      |       least(s.s_end, e.e_end) AS ov_end,
      |       CAST(date_diff('second', greatest(s.s_start, e.e_start),
      |                      least(s.s_end, e.e_end)) AS BIGINT) AS ov_secs
      |FROM sess s JOIN err e
      |  ON s.user_id = e.user_id
      | AND s.s_start <= e.e_end AND e.e_start <= s.s_end""".stripMargin,

    "sessionize" -> """
      WITH g AS (
        SELECT event_id, user_id, ts,
               CASE WHEN date_diff('second',
                      lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC),
                      ts) > 1800 THEN 1 ELSE 0 END AS gap
        FROM events)
      SELECT event_id, user_id, ts,
             CAST(sum(gap) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) AS BIGINT)
               AS session_id
      FROM g""",

    "grouped_corr" -> """
      WITH o AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS xq,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
        FROM lineitem),
      a AS (
        SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(xq AS HUGEINT)) AS DOUBLE) AS sx,
          CAST(sum(CAST(yc AS HUGEINT)) AS DOUBLE) AS sy,
          CAST(sum(CAST(xq AS HUGEINT) * CAST(yc AS HUGEINT)) AS DOUBLE) AS sxy,
          CAST(sum(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS DOUBLE) AS sxx,
          CAST(sum(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT)) AS DOUBLE) AS syy
        FROM o GROUP BY 1)
      SELECT l_returnflag, n,
             (sxy - sx * sy / n) / n / 100.0 AS covar_pop,
             (sxy - sx * sy / n) /
             sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr
      FROM a""",

    "cube_agg" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    "running_total" -> """
      SELECT o_custkey AS cust_key, o_orderkey AS order_key,
             o_orderdate AS order_date,
             o_totalprice AS price,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_sum,
             CAST(coalesce(lag(CAST(o_totalprice AS DECIMAL(18,2)), 1)
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0)
                  AS DOUBLE) AS prev_price,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
      FROM orders""",

    "first_last_agg" -> """
      SELECT c_nationkey AS nation_key,
             arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey) AS richest_customer,
             arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey) AS poorest_customer,
             count(*) AS n_customers
      FROM customer GROUP BY 1""",

    "gap_fill" -> """
      WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour_start, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      spine AS (
        SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_start
        FROM (SELECT user_id, min(date_trunc('hour', ts)) AS t0,
                     max(date_trunc('hour', ts)) AS t1
              FROM events GROUP BY 1))
      SELECT s.user_id, s.hour_start,
             coalesce(h.n_events, 0) AS n_events_filled
      FROM spine s LEFT JOIN hourly h
        ON s.user_id = h.user_id AND s.hour_start = h.hour_start""",

    "topk_per_group" -> """
      WITH c AS (
        SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) * 1000000000
               + o_orderkey AS comb
        FROM orders),
      r AS (
        SELECT o_custkey, comb,
               row_number() OVER (PARTITION BY o_custkey ORDER BY comb DESC) AS rn
        FROM c)
      SELECT o_custkey AS cust_key, comb % 1000000000 AS order_key,
             comb // 1000000000 AS price_cents, rn
      FROM r WHERE rn <= 3""",

    "unpivot_metrics" -> """
      WITH u AS (
        SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value FROM part
        UNION ALL
        SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part)
      SELECT metric, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM u GROUP BY 1""",

    "json_extract_agg" -> """
      SELECT event_type,
             count(CAST(props ->> '$.k' AS BIGINT)) AS n_with_k,
             CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
             max(CAST(props ->> '$.k' AS BIGINT)) AS max_k
      FROM events GROUP BY 1""",

    // json_type classifies the parsed value where the engine
    // classifies the string rendering — equivalent on any flat feed
    // without string-typed numeric/bool lookalikes (the documented
    // profiling contract).
    "json_schema_profile" -> """
      WITH x AS (
        SELECT '{"k": ' || CAST(event_id % 97 AS VARCHAR) ||
               CASE WHEN event_id % 3 = 0
                    THEN ', "tag": "t' || CAST(event_id % 5 AS VARCHAR) || '"'
                    ELSE '' END ||
               CASE WHEN event_id % 7 = 0
                    THEN ', "flag": ' || CASE WHEN event_id % 2 = 0
                                             THEN 'true' ELSE 'false' END
                    ELSE '' END || '}' AS p
        FROM events),
      n AS (SELECT count(*) AS n_rows FROM x),
      kv AS (
        SELECT k, json_type(p, '$.' || k) AS t
        FROM (SELECT p, unnest(json_keys(p)) AS k FROM x))
      SELECT k AS key,
             CAST(count(*) AS BIGINT) AS n_present,
             CAST(count(*) * 10000 // n_rows AS BIGINT) AS present_bp,
             CAST(sum(CASE WHEN t IN ('UBIGINT', 'BIGINT', 'DOUBLE') THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
             CAST(sum(CASE WHEN t = 'BOOLEAN' THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
             CAST(sum(CASE WHEN t NOT IN ('UBIGINT', 'BIGINT', 'DOUBLE', 'BOOLEAN') THEN 1 ELSE 0 END) AS BIGINT) AS n_string
      FROM kv CROSS JOIN n
      GROUP BY 1, n_rows""",

    // C96: same two per-half profiles (json_type on the parsed value,
    // equivalent under the no-lookalike contract), full-outer on key.
    "json_drift" -> """
      WITH xo AS (
        SELECT '{"k": ' || CAST(event_id % 97 AS VARCHAR) ||
               CASE WHEN event_id % 3 = 0
                    THEN ', "tag": "t' || CAST(event_id % 5 AS VARCHAR) || '"'
                    ELSE '' END ||
               CASE WHEN event_id % 7 = 0
                    THEN ', "flag": ' || CASE WHEN event_id % 2 = 0
                                             THEN 'true' ELSE 'false' END
                    ELSE '' END || '}' AS p
        FROM events WHERE event_id % 2 = 0),
      xn AS (
        SELECT '{"k": "v' || CAST(event_id % 97 AS VARCHAR) || '"' ||
               CASE WHEN event_id % 3 = 0
                    THEN ', "tag": "t' || CAST(event_id % 5 AS VARCHAR) || '"'
                    ELSE '' END ||
               CASE WHEN event_id % 7 = 0
                    THEN ', "flag2": ' || CASE WHEN event_id % 2 = 0
                                              THEN 'true' ELSE 'false' END
                    ELSE '' END || '}' AS p
        FROM events WHERE event_id % 2 = 1),
      nro AS (SELECT count(*) AS n_rows FROM xo),
      nrn AS (SELECT count(*) AS n_rows FROM xn),
      kvo AS (SELECT k, json_type(p, '$.' || k) AS t
              FROM (SELECT p, unnest(json_keys(p)) AS k FROM xo)),
      kvn AS (SELECT k, json_type(p, '$.' || k) AS t
              FROM (SELECT p, unnest(json_keys(p)) AS k FROM xn)),
      po AS (SELECT k AS key, CAST(count(*) AS BIGINT) AS old_present,
               CAST(count(*) * 10000 // n_rows AS BIGINT) AS old_bp,
               CAST(sum(CASE WHEN t IN ('UBIGINT', 'BIGINT', 'DOUBLE')
                 THEN 1 ELSE 0 END) AS BIGINT) AS old_numeric,
               CAST(sum(CASE WHEN t = 'BOOLEAN' THEN 1 ELSE 0 END) AS BIGINT)
                 AS old_bool,
               CAST(sum(CASE WHEN t NOT IN
                 ('UBIGINT', 'BIGINT', 'DOUBLE', 'BOOLEAN')
                 THEN 1 ELSE 0 END) AS BIGINT) AS old_string
             FROM kvo CROSS JOIN nro GROUP BY 1, n_rows),
      pn AS (SELECT k AS key, CAST(count(*) AS BIGINT) AS new_present,
               CAST(count(*) * 10000 // n_rows AS BIGINT) AS new_bp,
               CAST(sum(CASE WHEN t IN ('UBIGINT', 'BIGINT', 'DOUBLE')
                 THEN 1 ELSE 0 END) AS BIGINT) AS new_numeric,
               CAST(sum(CASE WHEN t = 'BOOLEAN' THEN 1 ELSE 0 END) AS BIGINT)
                 AS new_bool,
               CAST(sum(CASE WHEN t NOT IN
                 ('UBIGINT', 'BIGINT', 'DOUBLE', 'BOOLEAN')
                 THEN 1 ELSE 0 END) AS BIGINT) AS new_string
             FROM kvn CROSS JOIN nrn GROUP BY 1, n_rows)
      SELECT coalesce(po.key, pn.key) AS key,
             CAST(coalesce(old_present, 0) AS BIGINT) AS old_present,
             CAST(coalesce(old_bp, 0) AS BIGINT) AS old_bp,
             CAST(coalesce(old_numeric, 0) AS BIGINT) AS old_numeric,
             CAST(coalesce(old_bool, 0) AS BIGINT) AS old_bool,
             CAST(coalesce(old_string, 0) AS BIGINT) AS old_string,
             CAST(coalesce(new_present, 0) AS BIGINT) AS new_present,
             CAST(coalesce(new_bp, 0) AS BIGINT) AS new_bp,
             CAST(coalesce(new_numeric, 0) AS BIGINT) AS new_numeric,
             CAST(coalesce(new_bool, 0) AS BIGINT) AS new_bool,
             CAST(coalesce(new_string, 0) AS BIGINT) AS new_string,
             CAST(coalesce(new_bp, 0) - coalesce(old_bp, 0) AS BIGINT)
               AS delta_bp
      FROM po FULL OUTER JOIN pn ON po.key = pn.key""",

    "grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority,
             grouping(o_orderstatus, o_orderpriority) AS gid,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",

    "value_histogram" -> """
      SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS n
      FROM events GROUP BY 1, 2""",

    // B75: same bounded-frame lag/rank windows over the month view.
    "top_movers" -> """
      WITH rev AS (
        SELECT n_name, substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS ym,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      lagged AS (
        SELECT n_name, ym, rev_cents,
               lag(rev_cents) OVER (PARTITION BY n_name ORDER BY ym ASC)
                 AS prev_cents
        FROM rev),
      dd AS (SELECT *, rev_cents - prev_cents AS delta_cents
             FROM lagged WHERE prev_cents IS NOT NULL)
      SELECT rank, n_name, ym, rev_cents, prev_cents, delta_cents FROM (
        SELECT *, CAST(row_number() OVER (
                    ORDER BY abs(delta_cents) DESC, n_name ASC, ym ASC)
                  AS BIGINT) AS rank
        FROM dd)
      WHERE rank <= 10""",

    // B76: same rank pass and HUGEINT-exact moments; gini shares the
    // verbatim double fragment.
    "revenue_gini" -> s"""
      |WITH cr AS (
      |  SELECT n_name, o_custkey,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |           AS BIGINT)) AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |              JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT n_name, x,
      |         CAST(row_number() OVER (PARTITION BY n_name
      |           ORDER BY x ASC, o_custkey ASC) AS BIGINT) AS i
      |  FROM cr),
      |m AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
      |         CAST(sum(x) AS BIGINT) AS rev_cents_total,
      |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE)
      |           AS six
      |  FROM rk GROUP BY 1)
      |SELECT n_name, n_custs, rev_cents_total, $GiniSql AS gini FROM m"""
      .stripMargin,

    // B74: floor-second epochs on both sides, same walk.
    "conversion_lag" -> """
      WITH fv AS (
        SELECT user_id, min(epoch_us(ts) // 1000000) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY 1),
      fb AS (
        SELECT e.user_id, fv.t_view, min(epoch_us(e.ts) // 1000000) AS t_buy
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) // 1000000 > fv.t_view
        GROUP BY 1, 2),
      lags AS (
        SELECT t_view // 604800 AS week, t_buy - t_view AS lag_secs FROM fb),
      counts AS (
        SELECT week, lag_secs, CAST(count(*) AS BIGINT) AS c
        FROM lags GROUP BY 1, 2),
      cum AS (
        SELECT week, lag_secs, c,
               CAST(sum(c) OVER (PARTITION BY week ORDER BY lag_secs
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(c) OVER (PARTITION BY week) AS BIGINT) AS n
        FROM counts)
      SELECT week, max(n) AS n_users,
             min(CASE WHEN cum >= (n + 3) // 4 THEN lag_secs END) AS q25_secs,
             min(CASE WHEN cum >= (n + 1) // 2 THEN lag_secs END) AS q50_secs,
             min(CASE WHEN cum >= (3 * n + 3) // 4 THEN lag_secs END) AS q75_secs
      FROM cum GROUP BY 1""",

    // B72: same integer epoch-day buckets and D+7 self-join.
    "rolling_retention" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events),
      fut AS (SELECT DISTINCT user_id, day - 7 AS day FROM ud),
      j AS (
        SELECT ud.day,
               CASE WHEN fut.user_id IS NULL THEN 0 ELSE 1 END AS retained
        FROM ud LEFT JOIN fut ON ud.user_id = fut.user_id
                             AND ud.day = fut.day)
      SELECT day, CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(retained) AS BIGINT) AS n_retained,
             CAST(sum(retained) AS BIGINT) * 10000 // count(*) AS ret_bp
      FROM j GROUP BY 1""",

    // B73: same integer hour-of-day derivation and ppm shares.
    "seasonality_profile" -> """
      WITH h AS (
        SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
            FROM h GROUP BY 1)
      SELECT h.event_type, h.hod, h.n, h.n * 1000000 // t.total AS share_ppm,
             abs(h.n * 1000000 // t.total - 41666) AS dev_ppm
      FROM h JOIN t USING (event_type)""",

    // B71: same distinct-value walk, ceil-rank disc bounds, clamp-sum.
    "winsorized_stats" -> """
      WITH counts AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT event_type, cents, c,
               CAST(sum(c) OVER (PARTITION BY event_type ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM counts),
      bounds AS (
        SELECT event_type,
               min(CASE WHEN cum >= (n + 19) // 20 THEN cents END) AS p05_cents,
               min(CASE WHEN cum >= (19 * n + 19) // 20 THEN cents END) AS p95_cents,
               max(n) AS n
        FROM cum GROUP BY 1)
      SELECT c.event_type, max(b.n) AS n,
             max(b.p05_cents) AS p05_cents, max(b.p95_cents) AS p95_cents,
             CAST(sum(c.c * greatest(least(c.cents, b.p95_cents), b.p05_cents))
               AS BIGINT) // max(b.n) AS wins_mean_cents
      FROM counts c JOIN bounds b USING (event_type)
      GROUP BY 1""",

    "equi_depth_quartiles" -> """
      WITH counts AS (
        SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT event_type, value, c,
               CAST(sum(c) OVER (PARTITION BY event_type ORDER BY value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM counts)
      SELECT event_type,
             min(CASE WHEN cum >= (n + 3) // 4 THEN value END) AS q25,
             min(CASE WHEN cum >= (n + 1) // 2 THEN value END) AS q50,
             min(CASE WHEN cum >= (3 * n + 3) // 4 THEN value END) AS q75,
             max(n) AS n
      FROM cum GROUP BY 1""")
}
