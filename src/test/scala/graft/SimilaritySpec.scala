package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** ANN / vector ops vs plain-Scala brute force. */
class SimilaritySpec extends SparkTestBase {

  private lazy val vecs: Map[Long, Array[Float]] =
    sources.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def bruteTopK(q: Long, k: Int): Seq[Long] =
    vecs.toSeq.filter(_._1 != q)
      .map { case (id, v) => (id, cos(vecs(q), v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  test("bruteForceTopK matches Scala brute force") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 4)
    val got = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    for (q <- 0L until 4L) assert(got(q) == bruteTopK(q, 10), s"query $q")
  }

  test("knnClassify: modal label of the brute-force neighbors, ties to smallest label") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val queries = emb.filter(col("vec_id") < 4)
    val got = Similarity.knnClassify(emb, queries, "vec_id", "embedding",
        "label", k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for (q <- 0L until 4L) {
      val votes = bruteTopK(q, 10).map(labels)
        .groupBy(identity).map { case (l, xs) => (l, xs.size.toLong) }
      val (lbl, n) = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head
      assert(got(q) == ((lbl, n)), s"query $q")
    }
  }

  private def dotd(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0
    for (i <- a.indices) d += a(i).toDouble * b(i)
    d
  }

  test("rrfFusion matches Scala brute-force integer RRF over both legs") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 4)
    val k = 10
    val got = Similarity.rrfFusion(emb, queries, "vec_id", "embedding", k = k)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(5)).map(r => (r.getLong(1), r.getLong(4))).toSeq
      }
    for (q <- 0L until 4L) {
      val others = vecs.toSeq.filter(_._1 != q)
      def ranks(score: Long => Double): Map[Long, Int] =
        others.map { case (id, _) => (id, score(id)) }
          .sortBy { case (id, s) => (-s, id) }
          .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
      val rc = ranks(id => cos(vecs(q), vecs(id)))
      val rd = ranks(id => dotd(vecs(q), vecs(id)))
      def contrib(r: Int): Long = if (r <= k) 1000000L / (60 + r) else 0L
      val fused = others.map(_._1)
        .map(id => (id, contrib(rc(id)) + contrib(rd(id))))
        .filter(_._2 > 0)
        .sortBy { case (id, s) => (-s, id) }.take(10)
      assert(got(q) == fused, s"query $q")
    }
  }

  test("rrfFusion: a doc outside both legs' top-k never appears") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 4)
    val rows = Similarity.rrfFusion(emb, queries, "vec_id", "embedding", k = 10)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val inCos = !r.isNullAt(2)
      val inDot = !r.isNullAt(3)
      assert(inCos || inDot, s"row $r fused with zero contributions")
      assert(r.getLong(4) > 0)
    }
  }

  test("lshTopK returns correctly ranked subsets with reasonable recall") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 8)
    // these embeddings are near-random (top cosine ~0.3), the worst
    // case for hyperplane LSH — 2 planes keep buckets big enough to
    // show the mechanism beats random candidate selection
    val got = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = 10, numPlanes = 2)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    // every returned neighbor's cosine must be exact
    for ((q, rows) <- got; (id, c) <- rows)
      assert(math.abs(c - cos(vecs(q), vecs(id))) < 1e-6)
    // recall floor vs brute force: 2 planes → buckets cover ~1/4 of
    // the corpus; same-bucket bias must beat that random baseline
    val recalls = for ((q, rows) <- got.toSeq) yield {
      val truth = bruteTopK(q, 10).toSet
      rows.count(r => truth.contains(r._1)).toDouble / 10.0
    }
    assert(recalls.nonEmpty && recalls.sum / recalls.size >= 0.25,
      s"mean recall ${recalls.sum / recalls.size}")
  }

  test("multiprobe keeps recall >= 0.9 when planes scale up (10k corpus, 8 planes)") {
    import spark.implicits._
    // synthetic 10k-vector corpus with PLANTED near-neighbor clusters
    // (the realistic ANN shape: queries have genuinely close matches,
    // cosine ~0.99, instead of the uniform-random worst case). 8
    // planes → 256 buckets ≈ corpus/256 rerank per probe; without
    // multiprobe a true neighbor flipping one marginal hyperplane is
    // lost, with hamming<=2 probing it is kept.
    val rnd = new scala.util.Random(42)
    val dim = 64
    def noisy(base: Array[Double], eps: Double): Array[Float] =
      base.map(v => (v + eps * rnd.nextGaussian()).toFloat)
    val bases = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    val members = for {
      (b, c) <- bases.zipWithIndex
      m <- 0 until 30
    } yield ((c * 30 + m).toLong, noisy(b, 0.12))
    val fillerStart = bases.length * 30
    val filler = (0 until (10000 - members.size)).map(i =>
      ((fillerStart + i).toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val all = (members ++ filler).toSeq
    val corpus = all.toDF("vec_id", "embedding")
    val queries = all.filter(r => r._1 < 600 && r._1 % 30 == 0) // one per cluster
      .toDF("vec_id", "embedding")
    val localVecs = all.toMap
    def cosL(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def truth(q: Long): Set[Long] =
      localVecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cosL(localVecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val got = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
        k = 10, numPlanes = 8, multiprobe = 2)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val recalls = got.toSeq.map { case (q, ids) =>
      ids.intersect(truth(q)).size.toDouble / 10.0 }
    val mean = recalls.sum / recalls.size
    assert(recalls.size == 20, s"only ${recalls.size} queries returned")
    assert(mean >= 0.9, s"mean recall $mean")
  }

  test("published operating points hold recall@10 >= 0.9 on the isotropic " +
    "worst case (LSH multiprobe=5, IVF nProbe=0.75*nCentroids)") {
    // THE production retrieval contract (ANNPROBE_r12): both stores, at
    // their published operating points, must reach recall@10 >= 0.9 vs
    // brute force on the no-structure corpus — the floor that keeps the
    // store defaults from silently regressing. Queries probe the
    // bucketed-store paths (the production regime), corpus = testdata
    // embeddings (isotropic: true top-10 at cos ~0.3).
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    val nQ = queries.count().toDouble
    val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH store at the operating point
    val lshStore = Similarity.withLshBucket(emb, "embedding", numPlanes = 8,
      dim = 64)
    val lshGot = Similarity.lshTopKBucketed(lshStore, queries, "vec_id",
        "embedding", k = 10, numPlanes = 8, dim = 64,
        multiprobe = Similarity.LshOperatingMultiprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRecall = truth.count(lshGot.contains).toDouble / (10.0 * nQ)
    assert(lshRecall >= 0.9, s"LSH operating-point recall@10 $lshRecall < 0.9")
    // IVF store at the operating point (64 centroids, broadcast regime)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      nCentroids = 64).toSeq
    val ivfStore = Similarity.withIvfLists(emb, "embedding", cents,
      centroidLiteralMax = 16)
    val nProbe = Similarity.ivfOperatingNProbe(64)
    assert(nProbe == 48, s"operating nProbe moved: $nProbe")
    val ivfGot = Similarity.ivfTopKBucketed(ivfStore, queries, "vec_id",
        "embedding", k = 10, cents, nProbe = nProbe, centroidLiteralMax = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = truth.count(ivfGot.contains).toDouble / (10.0 * nQ)
    assert(ivfRecall >= 0.9, s"IVF operating-point recall@10 $ivfRecall < 0.9")
  }

  test("multiprobe=0 equals the plain single-bucket probe") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 8)
    val plain = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        k = 10, numPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val mp0 = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        k = 10, numPlanes = 4, multiprobe = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(plain == mp0 && plain.nonEmpty)
  }

  test("bucketed ANN: partition-pruned probe equals lshTopK; only probed dirs read") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 2)
    // ingest: bucket + write partitioned by bucket (the 100 TB layout)
    withTempDir { dir =>
      graft.operators.Similarity.withLshBucket(emb, "embedding", numPlanes = 4)
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      val bucketed = spark.read.parquet(dir)
      val probe = graft.operators.Similarity.lshTopKBucketed(
        bucketed, queries, "vec_id", "embedding", k = 10,
        numPlanes = 4, multiprobe = 1)
      val got = probe.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val direct = graft.operators.Similarity.lshTopK(
          emb, queries, "vec_id", "embedding", k = 10,
          numPlanes = 4, multiprobe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(got == direct && got.nonEmpty)
      // the probe must READ only the probed bucket partitions of the
      // store: 2 query buckets × (identity + 4 single flips) ≤ 10 of the
      // 16 dirs. Dataset.inputFiles ignores pruning (it lists the whole
      // relation), so assert on the physical scan's selected partitions.
      val probedDirs = graft.operators.Similarity.withLshBucket(
          queries, "embedding", numPlanes = 4)
        .select("bucket").distinct().collect().map(_.getLong(0)).toSet
        .flatMap((b: Long) => (0 until 4).map(p => b ^ (1L << p)).toSet + b)
      val filtered = bucketed.filter(col("bucket").isin(probedDirs.toSeq: _*))
      val scan = filtered.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no file scan in plan"))
      val selected = scan.selectedPartitions.toPartitionArray
        .map(_.urlEncodedPath).toSet
      assert(selected.nonEmpty &&
        selected.forall(f => probedDirs.exists(b => f.contains(s"bucket=$b/"))),
        s"read $selected, probed $probedDirs")
      val allParts = spark.read.parquet(dir).select("bucket").distinct().count()
      assert(scan.selectedPartitions.partitionCount < allParts,
        "no partition pruning happened")
    }
  }

  test("embedCosinePairs: exact precision, planted near-dups recovered") {
    import spark.implicits._
    val emb = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val pert = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "IF(i < 8, CAST(CAST(x AS DOUBLE) + 0.01D AS FLOAT), x))").as("embedding"))
    val all = emb.unionByName(pert)
    val localAll = all.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosL(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = graft.operators.Similarity.embedCosinePairs(
        all, "vec_id", "embedding", minCos = 0.98, numPlanes = 8, maxFlips = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact: every emitted pair truly >= 0.98
    for ((a, b) <- got)
      assert(cosL(localAll(a), localAll(b)) >= 0.98, s"false positive ($a,$b)")
    // recall: nearly all planted (orig, orig+10000) pairs found
    val planted = localAll.keys.filter(_ >= 10000L).map(p => (p - 10000L, p)).toSet
    val found = planted.count(got.contains)
    assert(planted.nonEmpty && found >= planted.size * 8 / 10,
      s"found $found of ${planted.size} planted pairs")
  }

  test("quantizeInt8: |q| <= 127, max hits 127, reconstruction within half-step") {
    val got = Similarity.quantizeInt8(
      sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2)))
    assert(got.length == vecs.size)
    for ((id, scale, q) <- got.take(50)) {
      val v = vecs(id)
      assert(q.length == v.length)
      assert(q.map(math.abs).max == 127, s"vec $id max ${q.map(math.abs).max}")
      for (i <- v.indices)
        assert(math.abs(q(i) / scale - v(i)) <= 0.5 / scale + 1e-9,
          s"vec $id dim $i")
    }
  }

  test("ivfTopK: probing every list equals brute force; nProbe=2 recall is useful") {
    import org.apache.spark.sql.functions.col
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 8)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    val bf = ranked(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10))
    // nProbe = nCentroids → every inverted list probed → the candidate
    // set is the whole corpus and ranks must match brute force exactly
    val full = ranked(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCentroids = 8, nProbe = 8))
    assert(full == bf)
    val part = ranked(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCentroids = 16, nProbe = 2))
    val recalls = bf.toSeq.map { case (q, ids) =>
      part.getOrElse(q, Seq.empty).toSet.intersect(ids.toSet).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    // 2/16 of the lists probed; random embeddings make near-neighbor
    // structure weak, so the floor is modest — the exactness property
    // above is the semantic check, this guards against a broken probe
    assert(mean >= 0.2, s"mean recall $mean")
    // partial-probe results are a correctly-ranked sub-ranking of bf
    for ((q, ids) <- part; (id, i) <- ids.zipWithIndex) {
      val bfRank = bf(q).indexOf(id)
      if (bfRank >= 0)
        assert(bf(q).take(bfRank).toSet.intersect(ids.take(i).toSet).size <= i)
    }
  }

  test("ivf corpus side is assignment-in-scan + broadcast probe join (no corpus shuffle)") {
    import org.apache.spark.sql.functions.col
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 8)
    val plan = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("IVF broadcast-centroid path is bit-identical to the literal path (nCentroids=64)") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // same (corpus, queries, centroids); centroidLiteralMax forces the path
    val viaLiterals = rows(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCentroids = 64, nProbe = 4, centroidLiteralMax = 64))
    val viaBroadcast = rows(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCentroids = 64, nProbe = 4, centroidLiteralMax = 0))
    // Set equality over raw doubles — the scores must be BIT-identical,
    // not approximately equal: both paths do float multiply + double
    // accumulate in the same order against the same float centroids
    assert(viaBroadcast == viaLiterals && viaLiterals.nonEmpty)
    // ingest-time assignment: same list for every row under both paths
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64).toSeq
    def assigned(max: Int) =
      Similarity.withIvfLists(emb, "embedding", cents, centroidLiteralMax = max)
        .select("vec_id", "list_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(assigned(64) == assigned(0))
    // and the broadcast plan carries the table as a broadcast exchange,
    // not as expression literals
    val bcPlan = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCentroids = 64, nProbe = 4, centroidLiteralMax = 0)
      .queryExecution.executedPlan.toString
    assert(bcPlan.contains("BroadcastNestedLoopJoin") ||
      bcPlan.contains("BroadcastExchange"))
  }

  test("IVF bucketed store: pruned probe equals ivfTopK; only probed lists read") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 2)
    val cents = graft.operators.Similarity
      .ivfCentroids(emb, "vec_id", "embedding", 8).toSeq
    withTempDir { dir =>
      graft.operators.Similarity.withIvfLists(emb, "embedding", cents)
        .write.mode("overwrite").partitionBy("list_id").parquet(dir)
      val assigned = spark.read.parquet(dir)
      val got = graft.operators.Similarity.ivfTopKBucketed(
          assigned, queries, "vec_id", "embedding", k = 10, cents, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val direct = graft.operators.Similarity.ivfTopK(
          emb, queries, "vec_id", "embedding", k = 10, nCentroids = 8, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(got == direct && got.nonEmpty)
      // ≤ 2 queries × 2 probed lists of the 8 — the scan must prune
      val probed = queries
        .select(graft.operators.Similarity
          .ivfProbeLists(col("embedding"), cents, 2).as("ls"))
        .selectExpr("explode(ls) AS l").distinct().collect().map(_.getLong(0)).toSet
      val filtered = assigned.filter(col("list_id").isin(probed.toSeq: _*))
      val scan = filtered.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no file scan in plan"))
      val selected = scan.selectedPartitions.toPartitionArray
        .map(_.urlEncodedPath).toSet
      assert(selected.nonEmpty &&
        selected.forall(f => probed.exists(l => f.contains(s"list_id=$l/"))),
        s"read $selected, probed $probed")
      val allParts = spark.read.parquet(dir).select("list_id").distinct().count()
      assert(scan.selectedPartitions.partitionCount < allParts,
        "no partition pruning happened")
    }
  }

  test("labelStats centroids match Scala aggregation") {
    val labels = sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Similarity.labelStats(
      sources.Tables.embeddings(spark, sfDir), "label", "embedding")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Double](3))).toMap
    for (lbl <- labels.values.toSet.take(3)) {
      val members = labels.filter(_._2 == lbl).keys.map(vecs).toSeq
      val (n, centroid) = got(lbl)
      assert(n == members.size)
      val expect0 = members.map(_(0).toDouble).sum / members.size
      assert(math.abs(centroid.head - expect0) < 1e-9, s"label $lbl dim 0")
    }
  }

  test("PQ: deterministic books, naive-reference encoding parity, coded-store " +
      "probe equality, measured recall vs brute (r13 C98)") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      nSub = 4, nCent = 16, dim = 64)
    // shape + determinism: 4 books x 16 codewords of 16 dims, cid = 1..16,
    // and a second derivation is bit-identical
    assert(books.size == 4 && books.forall(_.size == 16))
    assert(books.forall(_.map(_._1) == (1L to 16L)))
    assert(books.forall(_.forall(_._2.length == 16)))
    val again = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 64)
    assert(books.zip(again).forall { case (a, b) =>
      a.zip(b).forall { case ((ci, cv), (di, dv)) => ci == di && cv.sameElements(dv) } })
    // subspace salt decorrelates: not all books sample the same rows
    assert(books.map(_.head._2.toSeq).distinct.size > 1)
    // ENCODE parity with a naive Scala reference (float multiply,
    // double accumulate — the VecDot fold; score dot/|c|, ties -> min cid)
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      for (i <- a.indices) acc += (a(i) * b(i)).toDouble
      acc
    }
    def refCode(v: Array[Float], s: Int): Long = {
      val sub = v.slice(s * 16, s * 16 + 16)
      books(s).map { case (cid, cv) =>
        (dotD(sub, cv) / math.sqrt(dotD(cv, cv)), cid) }
        .maxBy { case (sc, cid) => (sc, -cid) }._2
    }
    val coded = Similarity.withPqCodes(emb, "embedding", books, dim = 64)
      .select("vec_id", "pq_code_0", "pq_code_1", "pq_code_2", "pq_code_3")
      .collect().map(r => r.getLong(0) ->
        Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    for ((id, v) <- vecs) {
      val want = (0 until 4).map(s => refCode(v, s))
      assert(coded(id) == want, s"vec $id: ${coded(id)} != $want")
    }
    // the code distribution actually uses the books (not one hot code)
    assert(coded.values.map(_.head).toSet.size > 4)
    // probe: direct form == persisted-code-store form, sane ranks
    val queries = emb.filter(col("vec_id") < 8)
    val direct = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 10, books)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val store = Similarity.withPqCodes(emb, "embedding", books).localCheckpoint()
    val viaStore = Similarity.pqTopKCoded(store, queries, "vec_id", "embedding",
        k = 10, books)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(direct == viaStore && direct.size == 80)
    // recall@10 vs exact brute force — measured and reported; 4x16
    // spherical PQ on the isotropic worst case keeps limited rank
    // signal BY DESIGN, so the pin is a sanity floor (far above the
    // ~0.02 random-10-of-499 baseline), not an operating point
    val hits = (0L until 8L).map { q =>
      val truth = bruteTopK(q, 10).toSet
      direct.filter(_._1 == q).count(p => truth.contains(p._2))
    }.sum
    val recall = hits.toDouble / 80.0
    info(f"PQ(4x16) recall@10 vs brute on isotropic corpus: $recall%.3f")
    assert(recall >= 0.10, f"PQ recall collapsed: $recall%.3f")
  }

  test("IVF-PQ: candidates confined to probed lists, coded-store and " +
      "broadcast-regime equality, compounded recall measured (r13 C99)") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16).toIndexedSeq
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 64)
    val queries = emb.filter(col("vec_id") < 8)
    val direct = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 10, cents, books, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // structural pin: every returned neighbor sits in one of its
    // query's nProbe probed lists — the IVF pruning actually bounds
    // the candidate set (a regression to flat-PQ scoring would
    // surface neighbors from unprobed lists)
    val listOf = Similarity.withIvfLists(emb, "embedding", cents)
      .select("vec_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probesOf = queries.select(col("vec_id"),
        Similarity.ivfProbeLists(col("embedding"), cents, 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(direct.nonEmpty && direct.forall { case (q, n, _) =>
      probesOf(q).contains(listOf(n)) },
      "neighbor outside the query's probed lists")
    // store form == direct form
    val store = Similarity.withPqCodes(
        Similarity.withIvfLists(emb, "embedding", cents), "embedding", books)
      .select("vec_id", "list_id", "pq_code_0", "pq_code_1", "pq_code_2",
        "pq_code_3").localCheckpoint()
    val viaStore = Similarity.ivfPqTopKCoded(store, queries, "vec_id",
        "embedding", k = 10, cents, books, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(direct == viaStore)
    // regime invariance: forcing the broadcast probe/assignment path
    // (centroidLiteralMax below nCentroids) must not change results
    val bcast = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 10, cents, books, nProbe = 2, centroidLiteralMax = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(direct == bcast)
    // compounded recall (list pruning x quantization) vs brute:
    // reported, with a collapse floor only — each stage's own
    // operating points are pinned in their own specs
    val hits2 = (0L until 8L).map { q =>
      val truth = bruteTopK(q, 10).toSet
      direct.filter(_._1 == q).count(p => truth.contains(p._2))
    }.sum
    val n = direct.size
    val recall2 = hits2.toDouble / n
    info(f"IVF-PQ(16 lists, nProbe 2, 4x16 books) recall@10 vs brute: " +
      f"$recall2%.3f over $n pairs")
    assert(recall2 >= 0.05, f"IVF-PQ recall collapsed: $recall2%.3f")
  }

  test("mutualNearest matches a Scala reference over the same LSH-blocked " +
      "candidates; partners are unique and mutual (r13 C102)") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val got = Similarity.mutualNearest(
        emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", numPlanes = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    // parity + one-partner-each (mutual top-1 can match a vector at
    // most once per side)
    assert(got.forall { case (a, b, _) => a % 2 == 0 && b % 2 == 1 })
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.map(_._2).distinct.length == got.length)
    // Scala reference: same planes, same sign buckets, candidates =
    // same-bucket cross pairs, mutual best match with (cos desc, id
    // asc) ties — emitted set must be exactly equal
    val planes = Similarity.hyperplanes(8, 64)
    def bucket(v: Array[Float]): Long =
      planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
        val d = p.indices.foldLeft(0.0)((s, j) => s + p(j) * v(j))
        if (d > 0) acc | (1L << i) else acc
      }
    val byBucket = vecs.groupBy { case (_, v) => bucket(v) }
    val cand = byBucket.values.flatMap { m =>
      val as = m.keys.filter(_ % 2 == 0); val bs = m.keys.filter(_ % 2 == 1)
      for (a <- as; b <- bs) yield (a, b, cos(vecs(a), vecs(b)))
    }.toSeq
    val bestB = cand.groupBy(_._1).map { case (a, xs) =>
      a -> xs.minBy { case (_, b, c) => (-c, b) }._2 }
    val bestA = cand.groupBy(_._2).map { case (b, xs) =>
      b -> xs.minBy { case (a, _, c) => (-c, a) }._1 }
    val want = cand.filter { case (a, b, _) =>
      bestB(a) == b && bestA(b) == a }.map { case (a, b, _) => (a, b) }.toSet
    assert(got.map(p => (p._1, p._2)).toSet == want)
    // emitted cosines replay the engine fold exactly (FLOAT multiply,
    // DOUBLE accumulate — the VecDot order)
    def vdot(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + (x(i) * y(i)).toDouble)
    assert(got.forall { case (a, b, c) =>
      c == vdot(vecs(a), vecs(b)) /
        (math.sqrt(vdot(vecs(a), vecs(a))) * math.sqrt(vdot(vecs(b), vecs(b)))) })
    // scale-safe default: AUTO derives occupancy-held planes (the
    // SWEEPSTR_r13 posture) — at this corpus it resolves to 8, so the
    // auto run must equal the explicit one; the curve itself is pinned
    // at the sizes the sweep measured
    assert(Similarity.planesForCorpus(500) == 8)
    assert(Similarity.planesForCorpus(50000) == 14)
    assert(Similarity.planesForCorpus(5000000) == 20)
    assert(Similarity.planesForCorpus(Long.MaxValue) == 24)
    val auto = Similarity.mutualNearest(
        emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == got.map(p => (p._1, p._2)).toSet)
  }

  test("mutualNearest AUTO planes VALUE-verified at a corpus where AUTO " +
      "picks != 8: exact brute-force mutual top-1 oracle under the " +
      "blocking recall contract (r15 verdict item 6)") {
    // The standing C102 key pins numPlanes=8 for the static oracle;
    // the production posture is AUTO (occupancy-scaled). This is the
    // missing VALUE check for AUTO at a corpus size where it resolves
    // to a different plane count, against an in-Spark brute-force
    // cosine oracle.
    val emb = sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val n = emb.count()
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val p = Similarity.planesForCorpus(n)
    assert(p != 8, s"need a corpus where AUTO != 8, got $p (n=$n)")
    // AUTO wiring: default-planes run equals the explicit-p run
    val got = Similarity.mutualNearest(a, b, "vec_id", "embedding", dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val explicit = Similarity.mutualNearest(a, b, "vec_id", "embedding",
        numPlanes = p, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == explicit.toSet && got.nonEmpty,
      s"AUTO must resolve to planesForCorpus($p)")
    // exact mutual top-1 both ways, brute force IN SPARK (no blocking):
    // every (a, b) cross pair's cosine, mutual rank-1 under the house
    // tie order (cos desc, partner id asc)
    import org.apache.spark.sql.expressions.Window
    val av = a.select(col("vec_id").as("a_id"), col("embedding").as("avv"))
    val bv = b.select(col("vec_id").as("b_id"), col("embedding").as("bvv"))
    val cross = av.crossJoin(bv)
      .withColumn("cos", Similarity.dot(col("avv"), col("bvv")) /
        (Similarity.norm(col("avv")) * Similarity.norm(col("bvv"))))
      .select("a_id", "b_id", "cos")
    val byA = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("b_id").asc)
    val byB = Window.partitionBy(col("b_id"))
      .orderBy(col("cos").desc, col("a_id").asc)
    val exact = cross
      .withColumn("ra", org.apache.spark.sql.functions.row_number().over(byA))
      .withColumn("rb", org.apache.spark.sql.functions.row_number().over(byB))
      .filter(col("ra") === 1 && col("rb") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactSet = exact.map(x => (x._1, x._2)).toSet
    assert(exactSet.nonEmpty)
    // BLOCKING RECALL CONTRACT, exact form: every exact mutual pair
    // whose two vectors share an LSH bucket at AUTO's plane count MUST
    // be emitted (the exact global best, when co-bucketed, is also the
    // candidate-restricted best on both sides — same tie order)
    val vec = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val planes = Similarity.hyperplanes(p, 64)
    def bucket(v: Array[Float]): Long =
      planes.zipWithIndex.foldLeft(0L) { case (acc, (pl, i)) =>
        val d = pl.indices.foldLeft(0.0)((s, j) => s + pl(j) * v(j))
        if (d > 0) acc | (1L << i) else acc
      }
    val gotPairs = got.map(x => (x._1, x._2)).toSet
    val coBucketed = exactSet.filter { case (x, y) =>
      bucket(vec(x)) == bucket(vec(y)) }
    assert(coBucketed.nonEmpty, "degenerate: no exact pair co-bucketed")
    assert(coBucketed.subsetOf(gotPairs),
      s"blocking-preserved exact pairs missing: ${coBucketed -- gotPairs}")
    // every emitted cosine is the exact engine fold (FLOAT multiply,
    // DOUBLE accumulate), bit-equal to the brute-force value
    def vdot(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + (x(i) * y(i)).toDouble)
    assert(got.forall { case (x, y, c) =>
      c == vdot(vec(x), vec(y)) /
        (math.sqrt(vdot(vec(x), vec(x))) * math.sqrt(vdot(vec(y), vec(y)))) })
    // recall/precision vs the UNBLOCKED exact set: reported, not
    // floored high — this corpus is near-random synthetic vectors
    // (top cosines ≈ 0.3), where hamming-0 co-bucketing at p planes
    // keeps ~(1 − θ/π)^p ≈ 1% of exact pairs BY GEOMETRY, not by a
    // defect; on a real near-dup corpus (high-cosine pairs) the same
    // blocking keeps the pairs that matter. The contract this spec
    // PINS is the exact part: blocking-preserved pairs all emitted +
    // emitted cosines bit-exact (both above); the operating point is
    // recorded for drift watching.
    val recall = (gotPairs & exactSet).size.toDouble / exactSet.size
    val precision = (gotPairs & exactSet).size.toDouble / gotPairs.size
    info(f"mutualNearest AUTO p=$p recall=$recall%.3f " +
      f"precision=$precision%.3f emitted=${gotPairs.size} exact=${exactSet.size}")
    assert(recall > 0.0, "AUTO found no exact mutual pair at all")
  }
}
