package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), UDF-free: dot products are a native codegen'd
  * Catalyst expression (graft.functions.VecDot — a tight generated
  * loop, no per-element lambda dispatch).
  *
  * Scale posture: brute-force top-k is broadcast(queries) × one scan
  * of the corpus — embarrassingly parallel, zero shuffle of the
  * corpus, cost linear in corpus × queries. The LSH path buckets the
  * corpus ONCE by random-hyperplane signs (at 100 TB the bucketed
  * corpus is written partitioned-by-bucket so repeated query batches
  * prune to matching buckets), probes only matching buckets, and
  * reranks exactly.
  *
  * One probe kernel serves every top-k form. Each form builds its
  * query side (the exploded LSH probe buckets, the IVF probe lists,
  * the PQ lookup tables), joins it to its corpus side, and hands the
  * pairs to [[rankTopK]]: drop self-pairs, score, rank per query,
  * keep k. The store forms [[lshTopKBucketed]], [[ivfTopKBucketed]]
  * and [[ivfPqTopKCoded]] (so [[ivfPqTopK]] too) first prune the store
  * to the probed keys with [[pruneStore]]: one bounded collect, pushed
  * as an `isin` partition filter. The self-contained [[lshTopK]] and
  * [[ivfTopK]] join the whole corpus and launch no collect, and
  * [[pqTopKCoded]] scans every code (PQ bounds bytes per candidate,
  * not candidate count). Streaming search over a static store is the
  * batch probe per micro-batch:
  * `queries.writeStream.foreachBatch { (b, _) => lshTopKBucketed(store, b, ...) }`.
  */
object Similarity {

  /** Published production OPERATING POINT for the LSH store (8 planes):
    * the probe width at which recall@10 crosses 0.9 against brute force
    * on the worst-case isotropic corpus (ANNPROBE_r12: recall@10 =
    * 0.967 at 0.87× brute cost on the 100× store — isotropic synthetic
    * vectors are the no-structure worst case, so ≥ 0.9 recall prices in
    * probing most bucket masks; clustered real embeddings cross far
    * cheaper). nn1 (strong-separation retrieval) is 1.0 at EVERY probe
    * width. SimilaritySpec pins recall@10 ≥ 0.9 at this point so the
    * store defaults cannot silently regress. */
  val LshOperatingMultiprobe = 5

  /** IVF twin of [[LshOperatingMultiprobe]]: probe width as a fraction
    * of nCentroids at which recall@10 crosses 0.9 on the isotropic
    * worst case (ANNPROBE_r12: nProbe = 48 of 64 → recall@10 = 0.955
    * at 0.83× brute). `nProbe = ceil(frac · nCentroids)`. */
  val IvfOperatingProbeFrac = 0.75

  def ivfOperatingNProbe(nCentroids: Int): Int =
    math.max(1, math.ceil(IvfOperatingProbeFrac * nCentroids).toInt)

  /** Sum of elementwise products as double (floats promote) — the
    * codegen'd native fold (graft.functions.VecDot), bit-identical to
    * the `aggregate(zip_with(...))` formulation it replaced but
    * without per-element lambda dispatch. Requires
    * [[graft.GraftFunctions.register]] on the session (GraftSession
    * and all query entry points do this). */
  def dot(a: Column, b: Column): Column = graft.GraftFunctions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The query side every form starts from: (query_id, qv, qn) and
    * then `extra`. */
  private def querySide(queries: DataFrame, idCol: String, vecCol: String,
                        extra: Column*): DataFrame =
    queries.select(Seq(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")) ++ extra: _*)

  /** The corpus side of the exact-rerank forms: (neighbor_id, cv, cn)
    * and then `extra`. */
  private def corpusSide(corpus: DataFrame, idCol: String, vecCol: String,
                         extra: Column*): DataFrame =
    corpus.select(Seq(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn")) ++ extra: _*)

  /** Exact cosine of a joined (query, neighbor) pair from the
    * per-side norms: one dot product per pair. */
  private def pairCos: Column = dot(col("qv"), col("cv")) / (col("qn") * col("cn"))

  /** The top-k rank step of every ANN form: over the joined
    * (query_id, neighbor_id, ...) pairs, drop self-pairs, score each
    * pair as `name`, and keep each query's k best by (score desc,
    * neighbor_id asc). Output: (query_id, neighbor_id, `name`, rn). */
  private def rankTopK(pairs: DataFrame, k: Int, name: String, score: Column): DataFrame = {
    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col(name).desc, col("neighbor_id").asc)
    pairs.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn(name, score)
      .withColumn("rn", row_number().over(byScore))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col(name), col("rn"))
  }

  /** Store pruning for the pre-built forms: the distinct `key` values
    * of the query side (bounded by contract — it is broadcast) are
    * collected and pushed as an `isin` filter, so a store partitioned
    * by `key` scans only the probed directories. The collect is the
    * partition-pruning predicate, not data motion. */
  private def pruneStore(store: DataFrame, q: DataFrame, key: String): DataFrame = {
    val probed = q.select(key).distinct().collect().map(_.getLong(0)).toIndexedSeq
    store.filter(col(key).isin(probed: _*))
  }

  /** Exact top-k neighbors of each query vector (brute force).
    *
    * @param corpus  (idCol, vecCol)
    * @param queries (idCol, vecCol) — small; broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms precomputed per SIDE, not per pair: each (query, neighbor)
    // pair then costs one dot product instead of three (the division
    // tree is unchanged, so the doubles — and the oracle — are
    // bit-identical)
    val q = broadcast(querySide(queries, idCol, vecCol))
    val c = corpusSide(corpus, idCol, vecCol)
    rankTopK(c.crossJoin(q), k, "cos", pairCos)
  }

  /** k-NN majority-vote classification: each query vector takes the
    * modal label of its `k` nearest corpus neighbors by cosine —
    * the label-propagation / weak-supervision primitive (tag new
    * documents from an embedded labeled seed set). Ties break
    * deterministically: vote count desc, then smallest label.
    *
    * Scale posture: the neighbor search is [[bruteForceTopK]] (swap in
    * [[lshTopK]]/[[ivfTopK]] per its scale guidance); the vote step
    * joins the queries×k candidate frame — tiny by construction —
    * BROADCAST against the corpus labels, so the corpus is never
    * shuffled for the lookup, and the vote aggregation moves
    * queries×labels counters at most. */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    val topk = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val votes = corpus
      .select(col(idCol).as("neighbor_id"), col(labelCol).cast("long").as("label"))
      .join(broadcast(topk), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val byVotes = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(byVotes))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("n_votes"))
  }

  /** Reciprocal-rank fusion of two dense rankers — the hybrid-retrieval
    * merge step (cosine leg + raw-dot leg here; at production scale each
    * leg is whatever ANN store serves it, and fusion only ever sees the
    * per-query top-`k` candidate lists). Scores are the integer RRF
    * variant `1_000_000 div (rrfK + rank)` summed over the lists that
    * contain the candidate — pure integer arithmetic, so the fused
    * ranking is engine-exact; the doubles (cos, dot) only ORDER each
    * leg and ties break on neighbor id.
    *
    * Scale posture: identical to [[bruteForceTopK]] for the scoring
    * scan (broadcast queries × one corpus pass, both leg ranks share
    * ONE query-keyed shuffle/sort pair); the fusion itself touches only
    * queries × ≤2k candidate rows. Swap each leg for its ANN store
    * ([[lshTopK]]/[[ivfTopK]]) and fusion's cost does not change. */
  def rrfFusion(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, rrfK: Int = 60, topN: Int = 10): DataFrame = {
    val q = broadcast(querySide(queries, idCol, vecCol))
    val c = corpusSide(corpus, idCol, vecCol)
    val byQuery = Window.partitionBy(col("query_id"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dotv", dot(col("qv"), col("cv")))
      .withColumn("cos", col("dotv") / (col("qn") * col("cn")))
      .withColumn("rank_cos", row_number().over(
        byQuery.orderBy(col("cos").desc, col("neighbor_id").asc)))
      .withColumn("rank_dot", row_number().over(
        byQuery.orderBy(col("dotv").desc, col("neighbor_id").asc)))
    scored
      .withColumn("rrf_score",
        when(col("rank_cos") <= k, expr(s"1000000 div ($rrfK + rank_cos)"))
          .otherwise(lit(0L)) +
        when(col("rank_dot") <= k, expr(s"1000000 div ($rrfK + rank_dot)"))
          .otherwise(lit(0L)))
      .filter(col("rrf_score") > 0)
      .withColumn("fused_rank", row_number().over(
        byQuery.orderBy(col("rrf_score").desc, col("neighbor_id").asc)))
      .filter(col("fused_rank") <= topN)
      .select(col("query_id"), col("neighbor_id"),
        when(col("rank_cos") <= k, col("rank_cos")).as("rank_cos"),
        when(col("rank_dot") <= k, col("rank_dot")).as("rank_dot"),
        col("rrf_score").cast("long").as("rrf_score"),
        col("fused_rank").cast("long").as("fused_rank"))
  }

  /** MMR (maximal-marginal-relevance) diversity re-rank: greedily pick
    * `pick` of each query's top-`poolK` cosine candidates, each round
    * taking the candidate maximizing 0.7·relevance − 0.3·max-sim-to-
    * already-picked — the diversity-aware sampling step a training-
    * data retrieval layer runs so k near-identical passages don't eat
    * the whole budget. Ties break on neighbor id; the doubles only
    * ORDER (identical expression trees both engines), the output is
    * pure ids + rounds.
    *
    * Scale posture: the candidate pool is per-query bounded (poolK),
    * so the pairwise-sim frame is queries × poolK² and every greedy
    * round joins frames of that size — the corpus is touched only by
    * the candidate search (swap [[bruteForceTopK]] for an ANN store
    * at scale; the MMR cost is unchanged). The greedy loop is `pick`
    * DataFrame stages — no driver-side collect. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, poolK: Int = 20, pick: Int = 5): DataFrame = {
    val cand = Ckpt(bruteForceTopK(corpus, queries, idCol, vecCol, poolK))
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("vv"))
    val cv = cand.join(vecs, col("neighbor_id") === col("vid"))
      .select(col("query_id"), col("neighbor_id"), col("vv"))
    // oracle-shared tree: dot/(sqrt(dot)·sqrt(dot)) per pair
    val ps = Ckpt(cv.as("x").join(cv.as("y"),
        col("x.query_id") === col("y.query_id") &&
          col("x.neighbor_id") =!= col("y.neighbor_id"))
      .select(col("x.query_id").as("query_id"),
        col("x.neighbor_id").as("a"), col("y.neighbor_id").as("b"),
        (dot(col("x.vv"), col("y.vv")) /
          (sqrt(dot(col("x.vv"), col("x.vv"))) *
            sqrt(dot(col("y.vv"), col("y.vv"))))).as("sim")))
    // Every round is one [[Iterate]] job: `next` reads the picked
    // frame TWICE (the anti-join and the maxsim join), so without
    // per-round truncation round r's plan embeds ~2^(r-2) copies of
    // round 2's join/window subtree (measured 5.9 s FULL vs 0.5 s for
    // the candidate pool at sf0.1, OPTPROBE r19). Each round adds
    // ≤ |queries| rows, so its checkpoint is a tiny job.
    val first = Iterate.round(cand.filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("round")))
    val last = Iterate(first, pick - 1) { (prev, i) =>
      val picked = prev.df
      val maxsim = ps
        .join(picked.select(col("query_id"), col("neighbor_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a")).agg(max(col("sim")).as("maxsim"))
      val next = cand
        .join(picked.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(maxsim.withColumnRenamed("a", "neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .withColumn("score", lit(0.7) * col("cos") - lit(0.3) * col("maxsim"))
        .withColumn("prn", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id").asc)))
        .filter(col("prn") === 1)
        .select(col("query_id"), col("neighbor_id"), lit(i + 1L).as("round"))
      // the round frame holds ALL picks so far: the anti-join excludes
      // every already-picked id, not just the last round's
      picked.unionByName(next)
    }
    Ckpt.release(cand)
    Ckpt.release(ps)
    last.df
  }

  /** Deterministic random hyperplanes: `planes(p)(i)` ~ U(-1, 1)
    * derived from a splitmix-style integer hash — reproducible across
    * runs and engines. */
  def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, i) =>
      var z = (p.toLong * dim + i) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z.toDouble / Long.MaxValue.toDouble)
    }

  /** Sign-bucket id for a vector under the given planes (as a
    * Column expression over `array<float>`). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val planeLit = array(plane.toSeq.map(lit): _*)
      when(dot(vec, planeLit) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Every bucket within `radius` sign flips (hamming distance over
    * the `numPlanes` bucket bits) of `bucket`, exploded one row per
    * bucket. The masks are distinct XORs, so a pair of buckets meets
    * on exactly one of them. */
  private def hammingBall(bucket: Column, numPlanes: Int, radius: Int): Column = {
    val masks = (0 to radius).flatMap(nFlips =>
      (0 until numPlanes).combinations(nFlips)
        .map(_.foldLeft(0L)((m, p) => m | (1L << p))))
    explode(array(masks.map(m => bucket.bitwiseXOR(lit(m))): _*))
  }

  /** LSH query side: (query_id, qv, qn, bucket), exploded over every
    * bucket within `multiprobe` flips of the query's own. */
  private def lshQueries(queries: DataFrame, idCol: String, vecCol: String,
                         numPlanes: Int, dim: Int, multiprobe: Int): DataFrame =
    querySide(queries, idCol, vecCol,
      lshBucket(col(vecCol), hyperplanes(numPlanes, dim)).as("bucket0"))
      .withColumn("bucket", hammingBall(col("bucket0"), numPlanes, multiprobe))
      .drop("bucket0")

  /** LSH-bucketed ANN: bucket corpus and queries by hyperplane signs,
    * compare only within matching buckets, rerank by exact cosine.
    * Recall < 1 by construction (that's the trade); verified against
    * [[bruteForceTopK]] in the spec.
    *
    * `multiprobe` — probe every corpus bucket within `multiprobe` sign
    * flips (hamming distance over the bucket bits) of the query's own
    * bucket. This is what lets `numPlanes` SCALE with the corpus
    * (more planes → smaller buckets → sublinear rerank) without
    * cratering recall: a true neighbor differing on one or two
    * marginal hyperplanes is still probed. The query side is exploded
    * ×(number of probe masks) BEFORE the broadcast — the corpus is
    * still scanned once and never shuffled, and each (query, corpus)
    * pair matches at most one probe mask (masks are distinct XORs of
    * one bucket), so no dedup pass is needed. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numPlanes: Int = 8, dim: Int = 64, multiprobe: Int = 0): DataFrame = {
    require(multiprobe >= 0 && multiprobe <= numPlanes,
      s"multiprobe ($multiprobe) must be in [0, numPlanes=$numPlanes]")
    val c = corpusSide(corpus, idCol, vecCol,
      lshBucket(col(vecCol), hyperplanes(numPlanes, dim)).as("bucket"))
    val q = lshQueries(queries, idCol, vecCol, numPlanes, dim, multiprobe)
    rankTopK(c.join(broadcast(q), "bucket"), k, "cos", pairCos)
  }

  /** Ingest-time bucket assignment: persist the corpus
    * `partitionBy("bucket")` (parquet/lake) and every later query
    * batch prunes its scan to the probed buckets — see
    * [[lshTopKBucketed]]. */
  def withLshBucket(df: DataFrame, vecCol: String,
                    numPlanes: Int = 8, dim: Int = 64): DataFrame =
    df.withColumn("bucket", lshBucket(col(vecCol), hyperplanes(numPlanes, dim)))

  /** ANN probe against a PRE-BUCKETED corpus (a frame carrying the
    * [[withLshBucket]] `bucket` column, typically read back from a
    * bucket-partitioned store). The probed bucket set is computed from
    * the query batch (bounded by contract — it is broadcast) and
    * pushed as an `isin` filter, so a partitioned store scans ONLY the
    * matching bucket directories: probe cost is O(matched buckets),
    * not O(corpus). Results are identical to [[lshTopK]] at the same
    * (numPlanes, dim, multiprobe) — SimilaritySpec asserts both the
    * equality and the pruned file set. */
  def lshTopKBucketed(bucketed: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      numPlanes: Int = 8, dim: Int = 64,
                      multiprobe: Int = 0): DataFrame = {
    val q = lshQueries(queries, idCol, vecCol, numPlanes, dim, multiprobe)
    val c = corpusSide(pruneStore(bucketed, q, "bucket"), idCol, vecCol, col("bucket"))
    rankTopK(c.join(broadcast(q), "bucket"), k, "cos", pairCos)
  }

  /** Deterministic IVF seed centroids: the `nCentroids` corpus vectors
    * ranked first under a multiplicative hash of their id (uniform,
    * RNG-free, engine-reproducible — the same hash-order idiom as
    * `dataset_split`). Seed-sampled centroids are the classic
    * train-free IVF baseline; a k-means refinement would drop in here
    * unchanged (the probe path only needs SOME fixed centroid set),
    * but its float-accumulation order is engine-specific, so the
    * reproducible seed form is what the oracle adjudicates.
    * `orderBy().limit()` plans as TakeOrderedAndProject — a
    * distributed top-K, not a global sort. The collect is bounded by
    * `nCentroids` (centroid tables always fit in memory — every real
    * IVF broadcasts them). */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int): Array[(Long, Array[Float])] =
    emb.select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .orderBy(((col("cid") * lit(2654435761L)) % lit(1000000007L)).asc, col("cid").asc)
      .limit(nCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** The dot-product left fold of [[dot]] replicated driver-side:
    * float×float multiply (one IEEE rounding), then accumulation in
    * double — bit-identical to the Spark and DuckDB folds, so centroid
    * norms embedded as literals match norms either engine computes. */
  private def centNorm(cv: Array[Float]): Double =
    math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + (x * x).toDouble))

  /** (score, -cid) structs per centroid: score = dot(vec, c)/|c| =
    * |vec|·cos — a positive per-vector factor |vec| doesn't change the
    * argmax, so the vector's own norm is never computed here. Centroid
    * literals stay FLOAT so the multiply rounds exactly like the
    * corpus-side fold. */
  private def centScored(vec: Column, cents: Seq[(Long, Array[Float])]): Seq[Column] =
    cents.map { case (cid, cv) =>
      struct((dot(vec, array(cv.toSeq.map(lit(_)): _*)) / lit(centNorm(cv))).as("s"),
        lit(-cid).as("nc"))
    }

  /** Inverted-list id for a vector: the centroid maximizing
    * dot(vec, c)/|c| (ties → smallest cid). A pure projection — the
    * corpus is assigned in its scan, no join, no shuffle. */
  def ivfListId(vec: Column, cents: Seq[(Long, Array[Float])]): Column =
    -array_max(array(centScored(vec, cents): _*)).getField("nc")

  /** The `nProbe` nearest inverted lists for a query vector, best
    * first (ties → smallest cid). */
  def ivfProbeLists(vec: Column, cents: Seq[(Long, Array[Float])], nProbe: Int): Column =
    transform(
      slice(reverse(array_sort(array(centScored(vec, cents): _*))), 1, nProbe),
      x => -x.getField("nc"))

  /** Centroid table as a (broadcastable) DataFrame: (cid, ccv, ccn).
    * `ccv` stays FLOAT and `ccn` is the driver-side [[centNorm]], so
    * every score computed against this table is bit-identical to the
    * literal-embedding path. */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                  cents: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cid, cv) => (cid, cv.toSeq, centNorm(cv)) }
      .toDF("cid", "ccv", "ccn")
  }

  /** `df` × broadcast(centroids) with each pair's (score, -cid)
    * struct as `sc`: the broadcast twin of [[centScored]], whose
    * `max` is the [[ivfListId]] argmax and whose descending sort is
    * the [[ivfProbeLists]] order. */
  private def centScoredBroadcast(df: DataFrame, vec: Column,
                                  cents: Seq[(Long, Array[Float])]): DataFrame =
    df.crossJoin(broadcast(centroidsDf(df.sparkSession, cents)))
      .withColumn("sc", struct((dot(vec, col("ccv")) / col("ccn")).as("s"),
        (-col("cid")).as("nc")))

  /** Broadcast-join inverted-list ASSIGNMENT: corpus ×
    * broadcast(centroids), per-row argmax of (score, -cid) via a
    * map-side-combined `max(struct)` — the expanded rows for a corpus
    * row collapse to one before the shuffle, so exactly one corpus
    * pass is shuffled (by id, to regroup). Scores are bit-identical to
    * [[ivfListId]]; the one extra shuffle is the price of keeping a
    * 2¹²–2¹⁴-centroid table OUT of the serialized plan (the literal
    * form bloats every task's expression tree at that size). Output:
    * (neighbor_id, cv, cn, list_id). */
  private def ivfAssignBroadcast(corpus: DataFrame, idCol: String, vecCol: String,
                                 cents: Seq[(Long, Array[Float])]): DataFrame =
    centScoredBroadcast(corpusSide(corpus, idCol, vecCol), col("cv"), cents)
      .groupBy(col("neighbor_id"))
      .agg(first(col("cv")).as("cv"), first(col("cn")).as("cn"),
        max(col("sc")).as("best"))
      .withColumn("list_id", -col("best").getField("nc"))
      .drop("best")

  /** IVF query side: (query_id, qv, qn, list_id), exploded ×nProbe
    * over each query's nProbe nearest lists in (score desc, cid asc)
    * order. At ≤ `centroidLiteralMax` centroids the lists are a
    * literal projection ([[ivfProbeLists]]); above it the (small, by
    * contract) queries cross a broadcast centroid table and
    * sort_array orders the collected structs. */
  private def ivfQueries(queries: DataFrame, idCol: String, vecCol: String,
                         cents: Seq[(Long, Array[Float])], nProbe: Int,
                         centroidLiteralMax: Int): DataFrame =
    if (cents.size <= centroidLiteralMax)
      querySide(queries, idCol, vecCol,
        explode(ivfProbeLists(col(vecCol), cents, nProbe)).as("list_id"))
    else
      centScoredBroadcast(querySide(queries, idCol, vecCol), col("qv"), cents)
        .groupBy(col("query_id"))
        .agg(first(col("qv")).as("qv"), first(col("qn")).as("qn"),
          sort_array(collect_list(col("sc")), asc = false).as("scored"))
        .withColumn("list_id",
          explode(transform(slice(col("scored"), 1, nProbe), x => -x.getField("nc"))))
        .drop("scored")

  /** Above this many centroids, [[ivfTopK]] / [[ivfTopKBucketed]]
    * switch from embedding the centroid table as expression literals
    * (zero-shuffle projection, but the plan carries nCentroids × dim
    * literal nodes into every task and codegen) to a broadcast join
    * (the table ships once per executor as a broadcast relation; the
    * assignment regroup costs one corpus shuffle). 128×64 floats ≈
    * 32 KB of literals is where the plan-bloat curve starts to matter. */
  val CentroidLiteralMax = 128

  /** IVF(-flat) ANN — the coarse-quantizer sibling of [[lshTopK]]:
    * the corpus is partitioned into `nCentroids` inverted lists by
    * nearest centroid; each query probes its `nProbe` nearest lists
    * and reranks by exact cosine. Recall < 1 by construction (a true
    * neighbor assigned to an unprobed list is missed); verified
    * against [[bruteForceTopK]] in SimilaritySpec.
    *
    * Scale posture, two regimes (same output bit-for-bit, asserted in
    * SimilaritySpec): at ≤ `centroidLiteralMax` centroids, list
    * assignment is a PROJECTION inside the corpus scan (centroids ride
    * along as literals — zero shuffle); above it, centroids ship as a
    * broadcast relation and assignment is a broadcast join + map-side-
    * combined argmax (one corpus shuffle, but the serialized plan
    * stays O(1) in nCentroids — the regime every production IVF with
    * thousands of centroids needs). The query side is exploded ×nProbe
    * then broadcast either way. Persisting the assigned corpus
    * `partitionBy("list_id")` (see [[withLshBucket]] — same store
    * pattern) turns later probes into partition-pruned scans of
    * nProbe/nCentroids of the data. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 2,
              centroidLiteralMax: Int = CentroidLiteralMax): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCentroids,
      s"nProbe ($nProbe) must be in [1, nCentroids=$nCentroids]")
    val cents = ivfCentroids(corpus, idCol, vecCol, nCentroids).toSeq
    val c =
      if (cents.size <= centroidLiteralMax) {
        // LAZY checkpoint as a projection-collapse barrier: without
        // it the optimizer folds this projection into the probe
        // join's output and re-evaluates the nCentroids-dot argmax
        // once per CANDIDATE PAIR instead of once per row — measured
        // 4.1 → 0.5 s at 10× scale (same pathology and fix as
        // [[pqTopK]]). Self-contained form only: the production path
        // persists the assignment ([[withIvfLists]] →
        // [[ivfTopKBucketed]]), where list_id is a stored column and
        // no barrier is needed.
        corpusSide(corpus, idCol, vecCol, ivfListId(col(vecCol), cents).as("list_id"))
          .localCheckpoint(false)
      } else ivfAssignBroadcast(corpus, idCol, vecCol, cents)
    val q = ivfQueries(queries, idCol, vecCol, cents, nProbe, centroidLiteralMax)
    rankTopK(c.join(broadcast(q), "list_id"), k, "cos", pairCos)
  }

  /** Ingest-time inverted-list assignment: persist the corpus
    * `partitionBy("list_id")` and later probes scan only the probed
    * list directories — the IVF twin of [[withLshBucket]]. Above
    * `centroidLiteralMax` centroids the assignment runs as a
    * broadcast join (see [[ivfTopK]]): a transient row id keys the
    * per-row argmax regroup so duplicate rows survive, and is dropped
    * before return. */
  def withIvfLists(df: DataFrame, vecCol: String,
                   cents: Seq[(Long, Array[Float])],
                   centroidLiteralMax: Int = CentroidLiteralMax): DataFrame =
    if (cents.size <= centroidLiteralMax)
      df.withColumn("list_id", ivfListId(col(vecCol), cents))
    else {
      val firsts = df.columns.toIndexedSeq.map(c => first(col(c)).as(c))
      centScoredBroadcast(df.withColumn("__rid", monotonically_increasing_id()),
          col(vecCol), cents)
        .groupBy(col("__rid"))
        .agg(firsts.head, firsts.tail :+ max(col("sc")).as("best"): _*)
        .withColumn("list_id", -col("best").getField("nc"))
        .drop("best", "__rid")
    }

  /** IVF probe against a PRE-ASSIGNED corpus (a frame carrying the
    * [[withIvfLists]] `list_id` column, typically read back from a
    * list-partitioned store). The probed list set comes from the
    * bounded query batch and is pushed as an `isin` partition filter,
    * so a partitioned store reads only nProbe-worth of directories per
    * query batch — probe cost is O(probed lists), not O(corpus).
    * Results are identical to [[ivfTopK]] at the same (cents, nProbe). */
  def ivfTopKBucketed(assigned: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      cents: Seq[(Long, Array[Float])], nProbe: Int = 2,
                      centroidLiteralMax: Int = CentroidLiteralMax): DataFrame = {
    val q = ivfQueries(queries, idCol, vecCol, cents, nProbe, centroidLiteralMax)
    val c = corpusSide(pruneStore(assigned, q, "list_id"), idCol, vecCol, col("list_id"))
    rankTopK(c.join(broadcast(q), "list_id"), k, "cos", pairCos)
  }

  // ──────────────────── Product quantization (PQ) ────────────────────

  /** Deterministic per-subspace PQ codebooks — the train-free seed
    * form of the product quantizer (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * vector space splits into `nSub` contiguous subspaces of
    * `dim / nSub` dims; each subspace gets `nCent` codewords taken
    * from the corpus itself — the subvectors of the rows ranked first
    * under a SUBSPACE-SALTED multiplicative id hash (the
    * [[ivfCentroids]] idiom; the salt decorrelates the books so all
    * subspaces don't sample the same rows). cid is the 1-based hash
    * rank, so a SQL oracle re-derives the identical books with one
    * ORDER BY + row_number per subspace. A k-means refinement per
    * subspace would drop in unchanged (the encode/score paths need
    * only SOME fixed books), but its float-accumulation order is
    * engine-specific — the seed form is what the oracle adjudicates,
    * the same trade as [[ivfCentroids]].
    *
    * The nSub bounded collects are driver-side control plane
    * (codebook tables always fit — every real PQ broadcasts them);
    * each is a TakeOrderedAndProject over a column-pruned scan. */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                  nSub: Int = 4, nCent: Int = 16,
                  dim: Int = 64): Seq[Seq[(Long, Array[Float])]] = {
    val sd = dim / nSub
    require(nSub > 0 && nSub * sd == dim,
      s"dim $dim must split into $nSub equal subspaces")
    (0 until nSub).map { s =>
      emb.select(col(idCol).as("id"),
          slice(col(vecCol), s * sd + 1, sd).as("sv"))
        .orderBy(((col("id") * lit(2654435761L) + lit(s.toLong * 7919L))
          % lit(1000000007L)).asc, col("id").asc)
        .limit(nCent)
        .collect().zipWithIndex
        .map { case (r, i) => ((i + 1).toLong, r.getSeq[Float](1).toArray) }
        .toSeq
    }
  }

  /** Float-exact Σx² of a codeword (float multiply per element, double
    * accumulate — the VecDot/dotSql fold order, so the SQL twin
    * `dot(cv, cv)` reproduces the exact bits), for the ADC norm. */
  private def pqNormSq(cv: Array[Float]): Double =
    cv.foldLeft(0.0)((acc, x) => acc + (x * x).toDouble)

  /** ENCODE: per subspace s, `pq_code_s` = the 1-based cid of the
    * codeword maximizing dot(v_s, c)/|c| (ties → smallest cid — the
    * [[ivfListId]] assignment convention, spherical-PQ flavor since
    * the retrieval metric downstream is cosine). A pure projection:
    * the corpus is encoded IN its scan, no join, no shuffle — this is
    * the INGEST step, after which the stored representation is `nSub`
    * small ints per vector (4 codes ≈ 4 bytes vs 256 bytes of raw
    * float64[64] — the 64× working-set shrink that makes a 100 TB
    * embedding store scannable). */
  def withPqCodes(df: DataFrame, vecCol: String,
                  books: Seq[Seq[(Long, Array[Float])]],
                  dim: Int = 64): DataFrame = {
    val nSub = books.size
    val sd = dim / nSub
    // scores as ONE transform over a 2-D codeword literal, argmax via
    // array_position(scores, array_max(scores)) — first occurrence =
    // smallest cid, the same tie contract as the struct-array
    // [[centScored]] form but 4× faster measured at 10× scale (the
    // 16-struct-per-subspace allocation pattern priced every row;
    // books carry cid = 1..nCent by construction, so the 1-based
    // array position IS the cid)
    books.zipWithIndex.foldLeft(df) { case (d, (cents, s)) =>
      require(cents.map(_._1) == (1L to cents.size),
        s"subspace $s cids must be the 1-based ranks, got ${cents.map(_._1)}")
      val cents2d = typedlit(cents.map(_._2))
      val norms = typedlit(cents.map(c => centNorm(c._2)))
      val scores = transform(sequence(lit(1), lit(cents.size)),
        i => dot(slice(col(vecCol), s * sd + 1, sd),
          element_at(cents2d, i)) / element_at(norms, i))
      d.withColumn(s"pq_code_$s",
        array_position(scores, array_max(scores)))
    }
  }

  /** The `pq_code_*` columns of an `nSub`-subspace code store. */
  private def codeCols(nSub: Int): Seq[Column] = (0 until nSub).map(s => col(s"pq_code_$s"))

  /** ADC query side: per subspace s, `lut_s` = the dots of the query's
    * subvector with each codeword of book s, computed once per query;
    * the raw `qv` is dropped. */
  private def withLuts(q: DataFrame, books: Seq[Seq[(Long, Array[Float])]],
                       dim: Int): DataFrame = {
    val sd = dim / books.size
    books.zipWithIndex.foldLeft(q) { case (d, (cents, s)) =>
      d.withColumn(s"lut_$s", array(cents.map { case (_, cv) =>
        dot(slice(col("qv"), s * sd + 1, sd),
          array(cv.toSeq.map(lit(_)): _*)) }: _*))
    }.drop("qv")
  }

  /** ADC score of a (LUT query, coded neighbor) pair:
    * Σ_s lut_s[code_s] / (qn · √(Σ_s |codeword_s|²)), both sums
    * left-assoc in subspace order. */
  private def adcScore(books: Seq[Seq[(Long, Array[Float])]]): Column = {
    val num = books.indices.map(s =>
      element_at(col(s"lut_$s"), col(s"pq_code_$s").cast("int")))
      .reduceLeft(_ + _)
    val nsqSum = books.zipWithIndex.map { case (cents, s) =>
      element_at(typedlit(cents.map(c => pqNormSq(c._2)).toArray),
        col(s"pq_code_$s").cast("int"))
    }.reduceLeft(_ + _)
    num / (col("qn") * sqrt(nsqSum))
  }

  /** ADC (asymmetric distance computation) top-k over a PQ-coded
    * corpus: the query stays EXACT, the corpus is its codes — score =
    * approx cosine = (Σ_s dot(q_s, codeword_s)) / (|q| ·
    * √(Σ_s |codeword_s|²)). Per query the nSub×nCent dot products
    * compute ONCE into lookup-table columns on the (broadcast, bounded
    * by contract) query side; the corpus-side scan then pays nSub
    * `element_at` lookups + 3 adds per row and never touches a raw
    * vector — the memory-bound ANN regime ([[lshTopK]]/[[ivfTopK]]
    * bound candidate COUNT; PQ bounds BYTES PER CANDIDATE, and the
    * two compose: IVF-PQ = [[withIvfLists]] partition pruning over a
    * [[withPqCodes]] store). Both sum orders are fixed left-assoc so
    * a SQL oracle replays the doubles bit-for-bit; ranking ties (two
    * corpus rows sharing all nSub codes score identically) break on
    * neighbor_id — deterministic, and exactly the information PQ
    * compression erases. Recall is approximate BY DESIGN (quantization
    * error); SimilaritySpec measures it against brute force and pins
    * the coded path against a naive reference encoder. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, books: Seq[Seq[(Long, Array[Float])]],
             dim: Int = 64): DataFrame = {
    // LAZY checkpoint as a projection-collapse barrier: without it the
    // optimizer folds the encode projection INTO the scoring join's
    // output, re-evaluating the per-row argmax once per (row, query)
    // pair — measured 8 queries → ~8× encode cost at 10× scale. The
    // checkpointed frame is codes only (nSub longs + id per row — the
    // PQ representation itself), materialized once per run; the
    // production path persists it instead ([[pqTopKCoded]]).
    val coded = withPqCodes(corpus, vecCol, books, dim)
      .select(col(idCol) +: codeCols(books.size): _*)
      .localCheckpoint(false)
    pqTopKCoded(coded, queries, idCol, vecCol, k, books, dim)
  }

  /** [[pqTopK]] against a PRE-ENCODED corpus (a frame carrying the
    * [[withPqCodes]] `pq_code_*` columns, typically a persisted code
    * store — the production shape, like the bucketed LSH/IVF stores:
    * encode at ingest, probe forever after without reading vectors).
    * Identical results to [[pqTopK]] at the same books. */
  def pqTopKCoded(codedStore: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int,
                  books: Seq[Seq[(Long, Array[Float])]],
                  dim: Int = 64): DataFrame = {
    val coded = codedStore.select(col(idCol).as("neighbor_id") +: codeCols(books.size): _*)
    val q = withLuts(querySide(queries, idCol, vecCol), books, dim)
    rankTopK(coded.crossJoin(broadcast(q)), k, "adc", adcScore(books))
  }

  /** IVF-PQ composed ANN — the production 100 TB index shape (Jégou
    * et al. TPAMI 2011 §V): the coarse quantizer ([[withIvfLists]])
    * bounds CANDIDATE COUNT (only nProbe inverted lists are scanned
    * per query batch) and the product quantizer ([[withPqCodes]])
    * bounds BYTES PER CANDIDATE (the probed lists are read as nSub
    * small ints per vector, never raw floats). At 100 TB this is the
    * only regime where probe cost is sub-scan in BOTH dimensions:
    * IVF-flat still reads full vectors of probed lists; flat PQ still
    * scans every code. Scoring is the [[pqTopKCoded]] ADC (query
    * exact, per-query LUTs computed once on the broadcast bounded
    * query side); list probing is the [[ivfTopKBucketed]] isin-pruned
    * partition filter. Recall compounds the two approximations (list
    * pruning × quantization) — measured against brute force in
    * SimilaritySpec; results are deterministic and a SQL oracle
    * replays them exactly (both quantizers are the hash-seeded
    * oracle-derivable forms). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, cents: Seq[(Long, Array[Float])],
                books: Seq[Seq[(Long, Array[Float])]], nProbe: Int = 2,
                dim: Int = 64,
                centroidLiteralMax: Int = CentroidLiteralMax): DataFrame = {
    // same projection-collapse barrier as [[pqTopK]]: the store is
    // (id, list_id, codes) — the IVF-PQ representation itself — built
    // in ONE corpus scan (assignment + encode are both projections),
    // materialized once; production persists it list-partitioned
    // instead ([[ivfPqTopKCoded]]).
    val store = withPqCodes(
        withIvfLists(corpus, vecCol, cents, centroidLiteralMax),
        vecCol, books, dim)
      .select(col(idCol) +: col("list_id") +: codeCols(books.size): _*)
      .localCheckpoint(false)
    ivfPqTopKCoded(store, queries, idCol, vecCol, k, cents, books,
      nProbe, dim, centroidLiteralMax)
  }

  /** [[ivfPqTopK]] against a PRE-BUILT store (a frame carrying the
    * [[withIvfLists]] `list_id` and [[withPqCodes]] `pq_code_*`
    * columns, typically persisted `partitionBy("list_id")` at ingest):
    * probes read only the probed list directories and only the code
    * columns. Identical results to [[ivfPqTopK]] at the same
    * (cents, books, nProbe). */
  def ivfPqTopKCoded(codedStore: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     cents: Seq[(Long, Array[Float])],
                     books: Seq[Seq[(Long, Array[Float])]], nProbe: Int = 2,
                     dim: Int = 64,
                     centroidLiteralMax: Int = CentroidLiteralMax): DataFrame = {
    val q = withLuts(ivfQueries(queries, idCol, vecCol, cents, nProbe, centroidLiteralMax),
      books, dim)
    val c = pruneStore(codedStore, q, "list_id")
      .select(col(idCol).as("neighbor_id") +: col("list_id") +: codeCols(books.size): _*)
    rankTopK(c.join(broadcast(q), "list_id"), k, "adc", adcScore(books))
  }

  /** Sentinel for [[mutualNearest]]'s plane count: derive from the
    * corpus via [[planesForCorpus]]. */
  val AutoPlanes: Int = -1

  /** Planes holding mean LSH bucket occupancy at ~`targetOccupancy`
    * for an `n`-vector corpus: the smallest p ≥ 8 with n/2ᵖ ≤ target
    * (capped at 24 — beyond that hamming-0 blocking recall collapses
    * and multiprobe is the right tool). Occupancy is what symmetric
    * pair-blocking SQUARES into candidates, so this is the knob that
    * keeps [[mutualNearest]] linear-ish under corpus growth. The
    * SWEEPSTR_r13 decade manually chose occupancy-scaled operating
    * points (8/12/15 planes at 1×/10×/100× → 0.29/1.40/4.28 s vs 31×
    * for fixed 8); AUTO derives an equivalent occupancy posture from
    * this formula, NOT those exact values (e.g. ~11 planes at the 10×
    * corpus) — the sweep proves the scaling law, not the constants. */
  def planesForCorpus(n: Long, targetOccupancy: Long = 4L): Int = {
    var p = 8
    while (p < 24 && (n >> p) > targetOccupancy) p += 1
    p
  }

  /** MUTUAL nearest neighbors across two sources — the bitext-mining /
    * cross-corpus alignment primitive (Artetxe & Schwenk, ACL 2019
    * mine with margin scoring over exactly this candidate structure):
    * pairs (a, b) where b is a's best match in B AND a is b's best
    * match in A. Mutuality is the classic precision filter — a hub
    * vector that is "everyone's neighbor" wins at most one partner.
    *
    * Blocking is the shared-hyperplane LSH bucket (one equi-join on
    * the 8-plane sign bucket — candidates ∝ bucket occupancy, never
    * |A|×|B|); both best-match ranks are computed ON the candidate
    * set, so recall < 1 by construction (a true pair split across
    * buckets is missed — raise numPlanes with corpus size exactly as
    * [[lshTopK]]) while every emitted pair's mutuality and cosine are
    * exact over the blocked candidates. Two per-key windows (by a_id,
    * by b_id) on the candidate frame — no corpus-wide ordering.
    * Ties → smallest partner id, the house contract. */
  def mutualNearest(a: DataFrame, b: DataFrame, idCol: String,
                    vecCol: String, numPlanes: Int = AutoPlanes,
                    dim: Int = 64): DataFrame = {
    // AUTO default is the scale-safe posture (the Dedup maxBucket
    // lesson): symmetric blocking squares bucket occupancy into
    // candidate pairs, so FIXED planes at a grown corpus is the
    // measured anti-pattern (SWEEPSTR_r13: fixed 8 planes = 31× time
    // for 100× data; occupancy-scaled = 15×). The preflight is two
    // column-pruned counts — control-plane, like Dedup's multiplicity probe.
    val p =
      if (numPlanes == AutoPlanes) planesForCorpus(a.count() + b.count())
      else numPlanes
    val planes = hyperplanes(p, dim)
    val aa = a.select(col(idCol).as("a_id"), col(vecCol).as("av"),
      norm(col(vecCol)).as("an"), lshBucket(col(vecCol), planes).as("bucket"))
    val bb = b.select(col(idCol).as("b_id"), col(vecCol).as("bv"),
      norm(col(vecCol)).as("bn"), lshBucket(col(vecCol), planes).as("bucket"))
    val cand = aa.join(bb, "bucket")
      .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .select("a_id", "b_id", "cos")
    val byA = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("b_id").asc)
    val byB = Window.partitionBy(col("b_id"))
      .orderBy(col("cos").desc, col("a_id").asc)
    cand.withColumn("ra", row_number().over(byA))
      .withColumn("rb", row_number().over(byB))
      .filter(col("ra") === 1 && col("rb") === 1)
      .select("a_id", "b_id", "cos")
  }

  /** Embedding-cosine NEAR-DUP PAIRS: all (a < b) with cosine >=
    * `minCos` — the embedding-space sibling of the MinHash/SimHash
    * text dedup paths, for catching paraphrase/translation near-dups
    * that shingle hashing misses.
    *
    * Blocking is hyperplane-LSH, symmetric-pair form: one side's
    * bucket is exploded over all XOR masks of popcount <= `maxFlips`,
    * so a pair lands in the equi-join iff its buckets differ in at
    * most `maxFlips` planes — each qualifying pair matches on EXACTLY
    * one mask (the XOR of its buckets), so no dedup pass is needed.
    * One shuffle on the bucket key, candidates ∝ bucket occupancy ×
    * (1+planes+...) — never all-pairs; recall < 1 by construction
    * (pairs differing in more planes are missed), precision exact
    * (every emitted cosine is recomputed). numPlanes scales with the
    * corpus exactly as in [[lshTopK]]. */
  def embedCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                       minCos: Double, numPlanes: Int = 8, dim: Int = 64,
                       maxFlips: Int = 2): DataFrame = {
    val b = emb.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("n"),
      lshBucket(col(vecCol), hyperplanes(numPlanes, dim)).as("bucket"))
    val exploded = b.withColumn("jb", hammingBall(col("bucket"), numPlanes, maxFlips))
    exploded.as("x").join(b.as("y"),
        col("x.jb") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("vec_a"), col("y.id").as("vec_b"),
        (dot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Symmetric int8 quantization: per-vector scale = 127/max|v|,
    * q_i = round(v_i * scale). Shrinks a float32 embedding store 4×
    * (≈ the difference between spilling and fitting in executor
    * memory at 100 TB); reconstruction error ≤ 0.5/scale per dim.
    * Codegen'd builtins only. */
  def quantizeInt8(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    embeddings
      .withColumn("max_abs",
        expr(s"array_max(transform($vecCol, x -> abs(cast(x AS DOUBLE))))"))
      .withColumn("scale",
        when(col("max_abs") > 0, lit(127.0) / col("max_abs")).otherwise(lit(0.0)))
      .select(col(idCol), col("scale"),
        expr(s"transform($vecCol, x -> CAST(floor(cast(x AS DOUBLE) * scale + 0.5d) AS INT))")
          .as("q"))

  /** Per-label embedding stats: count, mean L2 norm, centroid.
    * Centroid via posexplode + two-level agg — the shuffle moves
    * (label, dim, partial sums), never whole vectors twice. */
  def labelStats(embeddings: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val byDim = embeddings
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), (col("s") / col("n")).as("m")))),
        x => x.getField("m")).as("centroid"))
    val norms = embeddings
      .select(col(labelCol).as("label"), norm(col(vecCol)).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), avg(col("nrm")).as("avg_norm"))
    norms.join(byDim, "label")
  }
}
