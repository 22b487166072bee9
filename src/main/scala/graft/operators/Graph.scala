package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list frames — the same
  * join+aggregate-per-round shape as [[Dedup.clusterPairs]]'s label
  * propagation, so everything said there about distribution applies:
  * each round is one join shuffled on the source key plus one
  * aggregation shuffled on the destination key, no driver-side graph
  * state beyond single scalars. Every round loop runs on [[Iterate]]:
  * one eager checkpoint job per round, its scalar observed on that job.
  */
object Graph {

  /** Fixed-iteration weighted PageRank in integer micro-units — the
    * importance ranking for link/transition graphs (crawl frontier
    * prioritization, event-flow hub detection), engine-exact: ranks
    * start at `1e6 div n` and every update is
    * `base + (dampBp · (Σ (pr·w div w_out) + dangling_share)) div 10⁴`
    * in 64-bit integer arithmetic, so any engine reproduces the bits
    * and a SQL oracle can replay the unrolled iterations.
    *
    * DANGLING MASS: nodes with no out-edges would leak their rank
    * each round (the textbook simplification); here their summed rank
    * is redistributed uniformly — every node's inflow gains
    * `dsum div n` before damping, so total mass is conserved up to
    * integer-floor dust (≤ a few units per node per round; GraphSpec
    * pins the conservation bound). The dangling sum is a scalar, never
    * a driver-side collect.
    *
    * Fixed iteration count (not convergence-tested): rank mass moves
    * one hop per round exactly like the label propagation, and
    * production PageRank runs a fixed small round budget anyway.
    *
    * Scale: per round, ONE join of the rank frame against the
    * edge+out-weight frame (shuffle on src) and ONE dst-keyed
    * aggregation with map-side combine. The rank frame is nodes × 16
    * bytes. Zipf-headed in-degree (every real link graph) is the
    * aggregation skew case — AQE's skew handling or pre-salting the
    * hottest dst keys applies unchanged. Rounds run on [[Iterate]];
    * the internal node/edge caches are unpersisted before returning,
    * so repeated invocations in a long-lived session don't accumulate
    * dead cached blocks. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, iters: Int = 3, dampBp: Int = 8500): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w"))
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("w_out"))
    val ew = e.join(outW, "src").cache()
    // the flag `__has_out` rides the rank frame, so each round's
    // Σ pr(dangling) is the observed metric of the round's own job and
    // enters the next round's expression as an exact 64-bit literal
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .join(ew.select(col("src").as("node")).distinct()
        .withColumn("__has_out", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__has_out"), lit(false))
        .as("__has_out")).cache()
    val n = math.max(1L, nodes.count())
    val init = 1000000L / n
    val base = ((10000L - dampBp) * init) / 10000L
    val dangling = Some(sum(when(!col("__has_out"), col("pr"))))
    val first = Iterate.round(
      nodes.select(col("node"), lit(init).as("pr"), col("__has_out")), dangling)
    val last = Iterate(first, iters, dangling) { (prev, _) =>
      val contrib = prev.df.join(ew, col("node") === col("src"))
        .select(col("dst").as("node"), expr("(pr * w) div w_out").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"CAST($base AS BIGINT) + (CAST($dampBp AS BIGINT) * " +
            s"(coalesce(s, CAST(0 AS BIGINT)) + CAST(${prev.metric} AS BIGINT) " +
            s"div $n)) div 10000").as("pr"),
          col("__has_out"))
    }
    nodes.unpersist()
    ew.unpersist()
    last.df.select(col("node"), col("pr"))
  }

  /** Bounded-hop BFS: minimum hop distance from any seed node within
    * `maxHops`, unreached nodes absent from the output — reachability
    * labeling for link graphs (crawl-depth from seed hosts, blast
    * radius from a flagged source). Seeds is any single-column frame.
    *
    * Each round's join input is ONLY the frontier — the nodes first
    * discovered in the previous round — so per-round edge work is
    * O(frontier out-edges), not O(discovered set), and a 100-hop
    * traversal over a 100 TB link graph does not re-expand hop-1
    * nodes 99 times. BFS invariant: any node reachable through an
    * already-discovered node was discovered at an earlier-or-equal
    * hop, so expanding non-frontier nodes can never improve a
    * distance — dropping them changes cost, not results.
    *
    * Each round is one [[Iterate]] job materializing the discovered
    * set plus the fresh shell (the anti-join reads the whole set
    * anyway, and the last round alone is then the result); the set's
    * row count, observed on that job, grows by the shell size — so the
    * loop EXITS EARLY when a round discovers nothing, and `maxHops` is
    * a budget, not a forced cost. `onRound(hop, freshRows)` observes
    * each round (specs assert frontier-only inputs through it;
    * production callers can log traversal progress). */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, maxHops: Int = 20,
                  onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().cache()
    val rows = Some(count(lit(1)))
    val first = Iterate.round(seeds.select(col(seeds.columns.head).as("node"))
      .distinct().withColumn("hops", lit(0L)), rows)
    var rounds = 0
    val last = Iterate(first, maxHops, rows, { (n, n2) =>
      rounds += 1
      onRound(rounds, n2 - n)
      n2 == n
    }) { (prev, hop) =>
      val fresh = prev.df.filter(col("hops") === hop - 1)
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(prev.df.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(hop.toLong))
      prev.df.unionByName(fresh)
    }
    e.unpersist()
    last.df
  }

  /** Per-node triangle participation counts on the UNDIRECTED simple
    * graph induced by an edge frame (direction and multiplicity
    * dropped, self-loops excluded) — the local clustering signal
    * behind community health checks (a crawl graph whose triangle
    * density collapses is turning into a star/spam shape) and the
    * numerator of clustering-coefficient dashboards.
    *
    * DEGREE ORIENTATION (the classic distributed-triangle trick):
    * each undirected edge {a,b} is oriented from its (degree, node)-
    * smaller endpoint to the larger, so every out-neighborhood has
    * size O(√m) and the wedge self-join does Σ outdeg(v)² = O(m^1.5)
    * work TOTAL regardless of degree skew — a hub of degree 10⁶ in a
    * raw wedge join would emit 10¹² wedges; oriented, hot nodes sit
    * on the IN side and emit none. Each triangle {u,v,w} is built
    * exactly once (at its orientation-minimal vertex) and credited to
    * all three corners via a 3-row explode of the 24-byte triangle
    * frame.
    *
    * Exact integer counts — any engine agrees bit-for-bit, and the
    * oracle replays orientation + wedge + closure in SQL. Scale: the
    * dedup/edge frames shuffle on node keys only (distinct, degree
    * agg, wedge join on the wedge apex, closure join on the (v,w)
    * pair); nothing driver-side. Nodes in no triangle are absent from
    * the output (deterministic both engines). */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirect(edges, srcCol, dstCol).cache()
    val out = triangleCountsUnd(und)
    und.unpersist()
    out
  }

  /** [[triangleCounts]] over a PRE-BUILT undirected simple frame
    * (columns `a`, `b` — see [[undirect]]); persistence of `und` is
    * caller-owned. Exposed (r19, guide §2.4 — the modularity_score
    * sharing lesson) so a caller composing triangles with other
    * per-node statistics over the SAME graph (clustering_coeff joins
    * triangle counts against the degree frame) derives and shuffles
    * the edge-set distinct ONCE instead of once per operator. */
  def triangleCountsUnd(und: DataFrame): DataFrame = {
    val deg = degrees(und)
    // orient {a,b} from (deg,node)-smaller to larger; join the bounded
    // degree frame twice (node-keyed; broadcast when the vocabulary is
    // small, shuffle-keyed otherwise — Catalyst's call)
    val o = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("f"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("t"))
    // wedges at a common apex f with t1 < t2, closed by an undirected
    // edge {t1,t2} — each triangle materializes exactly once
    val o1 = o.select(col("f"), col("t").as("v"))
    val o2 = o.select(col("f"), col("t").as("w"))
    val tri = o1.join(o2, Seq("f")).filter(col("v") < col("w"))
      .join(und, col("v") === und("a") && col("w") === und("b"))
      .select(col("f"), col("v"), col("w"))
    Ckpt(tri
      .select(explode(array(col("f"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri")))
  }

  /** Bounded-round k-core peeling on the undirected simple graph:
    * repeatedly drop nodes of degree < k (and their edges) for up to
    * `rounds` rounds, returning the surviving nodes with their
    * residual degree — the standard "dense stable subgraph" extractor
    * (link-graph spam cores, the connected backbone left after
    * stripping leaf chains).
    *
    * EARLY EXIT IS A FIXPOINT: peeling is monotone, so a round that
    * drops no edge makes every later round a no-op — the engine exits
    * there, and an oracle that unrolls the full `rounds` budget gets
    * an identical frame (the unrolled rounds re-derive the same
    * fixpoint). If the budget caps before convergence both engine and
    * oracle stop at exactly `rounds` peels — equal again, so the
    * bounded unrolled-SQL oracle is exact in every case.
    *
    * Scale: per round ONE both-sides degree aggregation (map-side
    * combined, node-keyed) and TWO semi-joins of the edge frame
    * against the surviving-node frame — all shuffles keyed on node
    * ids, the node frame is nodes × 8 bytes. Each round's survivor
    * edge frame is one [[Iterate]] job whose observed edge count
    * drives the early exit. Real graphs shed the leaf tail in the
    * first 1–2 rounds, so small budgets converge; the budget is a
    * cost cap, not a correctness knob. */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int = 3, rounds: Int = 4): DataFrame = {
    val edgeCount = Some(count(lit(1)))
    val first = Iterate.round(undirect(edges, srcCol, dstCol), edgeCount)
    val last = Iterate(first, rounds, edgeCount, (m, m2) => m2 == m || m2 == 0) {
      (prev, _) =>
        val keep = degrees(prev.df).filter(col("deg") >= k).select(col("node"))
        prev.df
          .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
    }
    // output = degrees over the post-peel edge frame, no extra filter:
    // this is exactly what `rounds` unrolled peels yield, so the
    // early-exited engine and the fully-unrolled oracle agree whether
    // or not the budget converged
    degrees(last.df)
  }

  /** Fixed-round SYNCHRONOUS label propagation on the undirected
    * simple graph (direction/multiplicity dropped, self-loops
    * excluded) — the cheap community detector (near-linear per round):
    * every node starts labeled with itself, and each round
    * simultaneously adopts the most frequent label among its
    * neighbors' PREVIOUS labels, ties broken by the smaller label —
    * so the update is a pure function of the prior round and any
    * engine reproduces it exactly (asynchronous LPA is
    * execution-order-dependent; this is deliberately the
    * deterministic synchronous form, and an unrolled SQL oracle
    * replays it round for round).
    *
    * The per-node argmax is `min(struct(-count, label))` — a
    * PARTIAL-AGGREGABLE min, so each round is exactly two map-side-
    * combined aggregations keyed on (node, label) then node, plus one
    * join of the 2-column label frame against the neighbor list
    * (shuffled on the neighbor key). No windows, no driver state;
    * each round is one [[Iterate]] job. Skewed degree is the usual
    * aggregation-skew case (AQE/salting).
    * Fixed small round budget: label mass moves one hop per round,
    * and synchronous LPA is known to oscillate rather than converge —
    * production runs cap rounds anyway. */
  def labelProp(edges: DataFrame, srcCol: String, dstCol: String,
                iters: Int = 2): DataFrame = {
    val trace = labelPropTrace(edges, srcCol, dstCol, iters)
    trace.init.foreach(Ckpt.release)
    trace.last
  }

  /** [[labelProp]] with every round's label frame returned (index 0 =
    * round 1) — each round computed ONCE, so a caller comparing
    * partitions across rounds (the modularity audit) pays no
    * recomputation. */
  def labelPropTrace(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int): Seq[DataFrame] =
    labelPropTraceUnd(undirect(edges, srcCol, dstCol), iters)

  /** The UNDIRECTED SIMPLE edge frame (a < b, no self-loops, distinct)
    * every graph operator here starts from — exposed so a caller
    * composing several operators over the SAME graph (the
    * modularity-audit query runs label propagation AND per-round
    * scoring) can derive it ONCE, persist it, and share it: the
    * distinct is a full shuffle of the edge set, the dominant cost at
    * 100 TB, and paying it once instead of per-operator halves the
    * composed plan's shuffle bill. */
  def undirect(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** (node, deg) over an [[undirect]] frame: both endpoints counted. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** [[labelPropTrace]] over a PRE-BUILT undirected simple frame
    * (columns `a`, `b` — see [[undirect]]); persistence of `und` is
    * caller-owned. */
  def labelPropTraceUnd(und: DataFrame, iters: Int): Seq[DataFrame] = {
    val nbr = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
      .cache()
    val init = nbr.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // each round's frame stays node-partitioned, so the next round and
    // the modularity joins read it without a re-shuffle
    val trace = Iterate.trace(init, iters) { (prev, _) =>
      // every node has >= 1 neighbor (it came from an edge), so the
      // inner join preserves the node set round to round
      nbr.join(prev.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("k"), col("label").as("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
    }
    nbr.unpersist()
    trace
  }

  /** Per-community NEWMAN MODULARITY of a node-labeling over the
    * undirected simple graph, in exact integers: for community c with
    * m_c intra-community edges and degree mass d_c on a graph of m
    * edges, `q_scaled = 4·m·m_c − d_c²` — modularity × 4m² with the
    * division deferred (Q = Σ_c q_scaled / (4m²)), so the partition
    * quality is cross-engine bit-exact with no floats. Q ≈ 0 means
    * the partition is no better than a random cut with the same
    * degree sequence — the audit every community detector
    * ([[labelProp]]) needs before its output is trusted.
    *
    * Overflow: 4·m·m_c ≤ 4m² and d_c² ≤ (2m)², so 63 bits hold to
    * m ≈ 1.5·10⁹ edges; beyond that, partition the graph or lift to
    * DECIMAL(38,0). Scale: one edge→label join pair keyed on the
    * node ids (intra counts), one both-endpoints degree aggregation
    * joined to labels, and the edge total broadcast back as a
    * one-row frame — nothing driver-side. `labels` is a
    * (node, label) frame covering every edge endpoint. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame): DataFrame =
    modularityRounds(edges, srcCol, dstCol, Seq(1L -> labels)).drop("round")

  /** [[modularity]] for SEVERAL partitions of the same graph (the
    * round-by-round audit of [[labelPropTrace]]): the undirected
    * frame, the degree frame and the edge total are built ONCE and
    * shared across every partition; output carries a `round` column
    * tagging each labeling. */
  def modularityRounds(edges: DataFrame, srcCol: String, dstCol: String,
                       labelRounds: Seq[(Long, DataFrame)]): DataFrame = {
    val und = undirect(edges, srcCol, dstCol).cache()
    val out = modularityRoundsUnd(und, labelRounds)
    und.unpersist()
    out
  }

  /** [[modularityRounds]] over a PRE-BUILT undirected simple frame
    * (columns `a`, `b` — see [[undirect]]); persistence of `und` is
    * caller-owned, so a caller that already derived it for label
    * propagation shares ONE materialization across both operators
    * instead of re-shuffling the edge set into a second distinct. The
    * output is eagerly materialized ([[Ckpt]] — it is the tiny
    * per-community result frame), so the caller may unpersist `und`
    * immediately after this returns. */
  def modularityRoundsUnd(und: DataFrame,
                          labelRounds: Seq[(Long, DataFrame)]): DataFrame =
    Ckpt(modularityRoundsPlan(und, labelRounds))

  /** The un-materialized plan behind [[modularityRoundsUnd]] —
    * separate so PlanSpec can pin the shared-frame contract (every
    * fan-out arm reads the caller's persisted `und`, no re-derived
    * distinct) on the plan the checkpoint would otherwise hide. */
  private[graft] def modularityRoundsPlan(und: DataFrame,
      labelRounds: Seq[(Long, DataFrame)]): DataFrame = {
    val mrow = und.agg(count(lit(1)).as("m"))
    val deg = degrees(und)
    labelRounds.map { case (round, labels) =>
      val lab = labels.select(col(labels.columns(0)).as("node"),
        col(labels.columns(1)).as("label"))
      val intra = und
        .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
        .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("intra_edges"))
      deg.join(lab, "node")
        .groupBy(col("label"))
        .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
        .join(intra, Seq("label"), "left")
        .crossJoin(broadcast(mrow))
        .select(lit(round).as("round"), col("label"), col("n_nodes"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          col("deg_sum"),
          (coalesce(col("intra_edges"), lit(0L)) * col("m") * 4 -
            col("deg_sum") * col("deg_sum")).as("q_scaled"))
    }.reduce(_ unionByName _)
  }

  /** DEGREE ASSORTATIVITY (Newman's r) of the undirected simple
    * graph: the Pearson correlation of endpoint degrees over the
    * symmetrized edge set (both orientations) — "do hubs link to
    * hubs?" in one number (social graphs r > 0; word/web/biological
    * graphs r < 0). Moments accumulate as exact DECIMAL(38,0)
    * (order-independent at any scale); the statistic derives in pure
    * double arithmetic from those exact inputs via [[AssortSql]], so
    * any engine produces identical bits (sqrt is IEEE
    * correctly-rounded). Zero degree variance (regular graphs) guards
    * to r = 0. Output: one row (n, r_assort), n = 2m samples.
    *
    * Scale: one distinct, one degree aggregation, two node-keyed
    * joins of the 16-byte degree frame, one map-side-combined moment
    * aggregation — no windows, nothing driver-side. */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirect(edges, srcCol, dstCol)
    val deg = degrees(und)
    val pairs = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(col("da"), col("db"))
    val sym = pairs.select(col("da").as("x"), col("db").as("y"))
      .unionByName(pairs.select(col("db").as("x"), col("da").as("y")))
    val d38 = (c: Column) =>
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
    sym.agg(count(lit(1)).as("n"),
        d38(col("x")).as("sx"), d38(col("y")).as("sy"),
        d38(col("x") * col("y")).as("sxy"),
        d38(col("x") * col("x")).as("sxx"),
        d38(col("y") * col("y")).as("syy"))
      .select(col("n"), expr(AssortSql).as("r_assort"))
  }

  /** Top-k node pairs by COMMON-NEIGHBOR JACCARD — the classic
    * link-prediction / entity-similarity score: for a pair {u,v},
    * |N(u)∩N(v)| / |N(u)∪N(v)| over the undirected simple graph.
    *
    * Common-neighbor counting is a wedge enumeration: every shared
    * neighbor w contributes one wedge u–w–v, so the apex self-join
    * does Σ deg(w)² work — quadratic in each apex's degree, which a
    * hub turns into a stall (degree 10⁶ → 10¹² wedges). Degree
    * orientation does NOT apply here (it keeps only the wedges at a
    * pair's orientation-minimal apex — fine for triangle CLOSURE,
    * an undercount for neighbor INTERSECTION), so the guard is the
    * idf-style one every production similarity pipeline uses:
    * apexes with degree > `maxApexDeg` are excluded from wedge
    * generation (a stopword-grade hub connects everything and
    * carries no pair signal — same reasoning as the df cap on the
    * sparse-retrieval postings join). The guard is part of the
    * operator CONTRACT, not an approximation knob the result hides:
    * both engines apply it identically, union sizes use the EXACT
    * uncapped degrees, and capped-common ≤ min(deg) keeps the score
    * in [0, 1].
    *
    * Exact integers (common count, degrees, jaccard in bp via
    * cross-multiplied integer division). Scale: one distinct, one
    * degree agg, the capped apex self-join (Σ_{deg≤cap} deg² ≤
    * cap·m), one pair-keyed count agg, two node-keyed degree joins
    * of the bounded pair frame, TakeOrdered top-k — no windows,
    * nothing driver-side. */
  def commonNeighborJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      maxApexDeg: Long, k: Int): DataFrame = {
    // eager checkpoint (NOT cache+unpersist — a lazy cache that is
    // unpersisted before the result materializes never populates, and
    // the distinct recomputes for every consumer): the m×16-byte edge
    // frame materializes once and feeds the degree agg plus both wedge
    // sides, while the RESULT plan stays lazy so the top-k still plans
    // as TakeOrderedAndProject (PlanSpec pins it)
    val und = Ckpt(undirect(edges, srcCol, dstCol))
    val deg = degrees(und)
    // adjacency both directions, apexes over the cap dropped BEFORE
    // the self-join — the only stage whose cost is degree-quadratic
    val adj = und.select(col("a").as("w"), col("b").as("x"))
      .unionByName(und.select(col("b").as("w"), col("a").as("x")))
      .join(deg.filter(col("deg") <= maxApexDeg)
        .select(col("node").as("w")), "w")
    val common = adj.select(col("w"), col("x").as("u"))
      .join(adj.select(col("w"), col("x").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
    val out = common
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("common"), col("du"), col("dv"),
        expr("common * 10000 div (du + dv - common)").as("jaccard_bp"))
      .orderBy(col("jaccard_bp").desc, col("common").desc,
        col("u").asc, col("v").asc)
      .limit(k)
    out
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang, EPJ B
    * 2009): RA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w) — the
    * common-neighbor count with each shared neighbor discounted by
    * its degree. Integer-exact: each wedge contributes
    * `10⁶ div deg(w)` (1/log-weighted Adamic–Adar is NOT
    * integer-expressible; RA both beats it on link-prediction
    * benchmarks and stays engine-exact). Identical wedge machinery,
    * hub guard, and scale shape as [[commonNeighborJaccard]] — the
    * guard is contract (apexes over `maxApexDeg` generate no
    * wedges), while the 1/deg weights use the EXACT uncapped
    * degrees. Deterministic top-k: (ra_ppm desc, common desc, u, v). */
  def resourceAllocation(edges: DataFrame, srcCol: String, dstCol: String,
      maxApexDeg: Long, k: Int): DataFrame = {
    val und = Ckpt(undirect(edges, srcCol, dstCol))
    val deg = degrees(und)
    val adj = und.select(col("a").as("w"), col("b").as("x"))
      .unionByName(und.select(col("b").as("w"), col("a").as("x")))
      .join(deg.select(col("node").as("w"), col("deg")), "w")
      .filter(col("deg") <= maxApexDeg)
    adj.select(col("w"), col("deg"), col("x").as("u"))
      .join(adj.select(col("w"), col("x").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000 div deg")).as("ra_ppm"))
      .orderBy(col("ra_ppm").desc, col("common").desc,
        col("u").asc, col("v").asc)
      .limit(k)
  }

  /** The assortativity statistic over the exact moment columns —
    * shared VERBATIM with the SQL oracle so the double operation
    * order (hence every IEEE rounding) is identical on both engines. */
  val AssortSql: String =
    """CASE WHEN sxx - sx * sx / n = 0 OR syy - sy * sy / n = 0
      |     THEN CAST(0 AS DOUBLE)
      |     ELSE (sxy - sx * sy / n)
      |          / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
      |END""".stripMargin

  /** Fixed-iteration weighted HITS (hubs & authorities, Kleinberg) in
    * integer micro-units — the bipartite-role twin of [[pageRank]]:
    * a node is a good HUB when it points at good authorities and a
    * good AUTHORITY when good hubs point at it (link-graph curation:
    * directory/index pages vs canonical-content pages; in event-flow
    * graphs, dispatcher states vs sink states). PageRank's single
    * score cannot separate the two roles.
    *
    * Engine-exact by the same convention as [[pageRank]]: every
    * half-round is `raw(v) = Σ counterpart·w` followed by L1
    * renormalization `raw · 10⁶ div Σraw` in 64-bit integer
    * arithmetic (Σraw floored at 1 so an edgeless graph divides by 1,
    * not 0), so a SQL oracle replays the unrolled iterations
    * bit-for-bit. Nodes with no in-edges get authority 0; no
    * out-edges, hub 0. After renormalization each score vector sums
    * to ≤ 10⁶ with integer-floor dust only (GraphSpec pins the
    * bound), so iterations cannot overflow: score ≤ 10⁶, and
    * Σ score·w ≤ 10⁶·Σw fits 63 bits for any real edge frame.
    *
    * Scale: per half-round, ONE join of the 16-byte score frame
    * against the edge list (shuffle on the score key), ONE
    * map-side-combined aggregation on the opposite key and one
    * node-keyed join back onto the previous scores. Skewed in-degree
    * is the aggregation skew case (AQE / salting as with
    * [[pageRank]]). Each half-round is one [[Iterate]] job whose
    * observed Σraw renormalizes the next half-round as a literal —
    * never a driver collect, and no half-round replays another. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           wCol: String, iters: Int = 2): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w")).cache()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().cache()
    // a half-round frame is (node, raw, prev): this half-round's raw
    // score and the previous half-round's renormalized score, so the
    // last frame alone holds both final vectors
    def score(r: Iterate.Round): Column =
      expr(s"coalesce(raw, CAST(0 AS BIGINT)) * 1000000 " +
        s"div CAST(${math.max(1L, r.metric)} AS BIGINT)")
    val init = Iterate.Round(
      nodes.select(col("node"), lit(1000000L).as("raw"), lit(0L).as("prev")),
      1000000L)
    val last = Iterate(init, 2 * iters, Some(sum(col("raw")))) { (prev, i) =>
      // odd half-rounds push hub scores along edges into authorities,
      // even ones pull authority scores back into hubs
      val (from, to) = if (i % 2 == 1) ("src", "dst") else ("dst", "src")
      val scored = prev.df.select(col("node"), score(prev).as("s"))
      val raw = scored.join(e, col("node") === col(from))
        .select(col(to).as("node"), (col("s") * col("w")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("raw"))
      scored.join(raw, Seq("node"), "left")
        .select(col("node"), col("raw"), col("s").as("prev"))
    }
    nodes.unpersist()
    e.unpersist()
    last.df.select(col("node"), score(last).as("hub"), col("prev").as("auth"))
  }
}
