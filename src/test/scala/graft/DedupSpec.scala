package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operators vs brute-force oracles computed in plain Scala. */
class DedupSpec extends SparkTestBase {

  private def corpus() = {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100).select("doc_id", "text")
    val pert = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"),
        expr("substring(text, 1, greatest(char_length(text) - 7, 0))").as("text"))
    docs.unionByName(pert)
  }

  private def shingleSet(text: String, k: Int = 5): Set[String] =
    if (text.length < k) Set.empty
    else (0 to text.length - k).map(i => text.substring(i, i + k)).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  private lazy val local: Map[Long, String] = {
    corpus().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("exact dedup keeps the min id per content group") {
    import spark.implicits._
    val dup = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"), (5L, "ccc"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(dup, "text", "doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 5L))
  }

  test("ngramJaccardPairs matches brute force exactly") {
    val got = Dedup.ngramJaccardPairs(corpus(), "text", "doc_id", k = 5, minBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    val ids = local.keys.toSeq.sorted
    val expect = (for {
      i <- ids; j <- ids if i < j
      bp = math.floor(10000.0 * jaccard(shingleSet(local(i)), shingleSet(local(j)))).toLong
      if bp >= 8000
    } yield (i, j) -> bp).toMap
    assert(got.keySet == expect.keySet)
    // jaccard over shingle *hashes* == jaccard over shingles (no collisions)
    for ((k, bp) <- got) assert(bp == expect(k), s"pair $k")
  }

  test("minhashLsh from a PERSISTED signature table equals the direct path") {
    // the ingest-time shape: signatures written once (range-clustered),
    // dedup reruns start from the parquet — text never re-shingled
    withTempDir { dir =>
      sources.Sinks.writeClustered(
        Dedup.withMinHashSignatures(corpus(), "text", "doc_id"), dir, "id", numRanges = 2)
      val fromSigs = Dedup.minhashLshFromSignatures(
          spark.read.parquet(dir), minBp = 8000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val direct = Dedup.minhashLsh(corpus(), "text", "doc_id", minBp = 8000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fromSigs == direct)
      assert(fromSigs.nonEmpty)
    }
  }

  test("adaptive collapse: plain and collapsed paths emit identical pairs; " +
       "Auto picks plain on copy-free corpora and collapsed on mirrors") {
    import spark.implicits._
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def hasCollapse(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("sk#")
    val sigs = Dedup.withMinHashSignatures(corpus(), "text", "doc_id")
    // the two plans the probe picks between, each the other's reference
    def plainOf(s: org.apache.spark.sql.DataFrame) =
      Dedup.minhashLshPlain(s, 16, 8000, 64, Dedup.DefaultMaxBucket)
    val plain = plainOf(sigs)
    val collapsed = Dedup.minhashLshCollapsed(sigs, 16, 8000, 64,
      Dedup.DefaultMaxBucket)
    assert(!hasCollapse(plain) && hasCollapse(collapsed))
    assert(pairSet(plain) == pairSet(collapsed))
    assert(pairSet(plain).nonEmpty)
    // the perturbed corpus carries no exact copies → Auto takes the
    // zero-extra-shuffle plain plan
    val auto = Dedup.minhashLshFromSignatures(sigs, minBp = 8000)
    assert(!hasCollapse(auto))
    assert(pairSet(auto) == pairSet(plain))
    // a 10×-mirrored corpus → Auto collapses; output still equals the
    // plain form below the hot cap
    val mirror = corpus().limit(30)
      .crossJoin(spark.range(10).select(col("id").as("copy")))
      .select((col("doc_id") * 100 + col("copy")).as("doc_id"), col("text"))
    val mSigs = Dedup.withMinHashSignatures(mirror, "text", "doc_id")
    val mAuto = Dedup.minhashLshFromSignatures(mSigs, minBp = 8000)
    assert(hasCollapse(mAuto))
    assert(pairSet(mAuto) == pairSet(plainOf(mSigs)))
  }

  test("minhashLshIncrementalGrouped over a persisted collapsed store " +
       "equals minhashLshIncremental on raw signature rows (mirror-heavy corpus)") {
    import spark.implicits._
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // corpus: 10×-mirrored docs (the probe picks the collapse); increment:
    // truncated near-dup probes of some of them, disjoint id space
    val mirror = corpus().filter(col("doc_id") < 100)
      .crossJoin(spark.range(10).select(col("id").as("copy")))
      .select((col("doc_id") * 100 + col("copy")).as("doc_id"), col("text"))
    val inc = corpus().filter(col("doc_id") % 10 === 0 && col("doc_id") < 100)
      .select((col("doc_id") + 500000L).as("doc_id"),
        expr("substring(text, 1, greatest(char_length(text) - 5, 0))").as("text"))
    val cSigs = Dedup.withMinHashSignatures(mirror, "text", "doc_id")
    val nSigs = Dedup.withMinHashSignatures(inc, "text", "doc_id")
    val want = pairSet(Dedup.minhashLshIncremental(nSigs, cSigs, minBp = 8000))
    // persist the collapsed store the way ingest would
    withTempDir { dir =>
      Dedup.contentGroups(cSigs).write.parquet(s"$dir/groups")
      Dedup.contentMembers(cSigs).write.parquet(s"$dir/members")
      val got = pairSet(Dedup.minhashLshIncrementalGrouped(nSigs,
        spark.read.parquet(s"$dir/groups"), spark.read.parquet(s"$dir/members"),
        minBp = 8000))
      assert(got == want)
      assert(got.nonEmpty)
    }
  }

  test("fuzzy_decontaminate store-backed form equals self-contained crossNearDupPairs") {
    // same corpus/probe construction as the C56 query
    val docs = sources.Tables.fanOut(sources.Tables.documents(spark, sfDir))
    val probe = docs.filter(col("doc_id") % 97 === 0).select("doc_id", "text")
    val leaked = probe.select((col("doc_id") + 2000000L).as("doc_id"),
      expr("substring(text, 1, greatest(char_length(text) - 7, 0))").as("text"))
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      .select("doc_id", "text").unionByName(leaked)
    val want = Dedup.crossNearDupPairs(corpus, probe, "text", "doc_id", minBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = SparkEntry.queries("fuzzy_decontaminate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("minhashLsh verified pairs are correct and recall high-sim pairs") {
    val got = Dedup.minhashLsh(corpus(), "text", "doc_id", minBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = local.keys.toSeq.sorted
    val trueBp = (for { i <- ids; j <- ids if i < j }
      yield (i, j) -> math.floor(10000.0 *
        jaccard(shingleSet(local(i)), shingleSet(local(j)))).toLong).toMap
    // precision: every emitted pair truly >= threshold (verify step is exact)
    for (p <- got) assert(trueBp(p) >= 8000, s"false positive $p bp=${trueBp(p)}")
    // recall: the perturbed near-dups (jaccard ~1) must all be found
    val mustFind = trueBp.filter(_._2 >= 9500).keySet
    assert(mustFind.nonEmpty && mustFind.subsetOf(got),
      s"missed ${mustFind.diff(got)}")
  }

  test("simhashPairs = exactly the pairs within the hamming budget") {
    val got = Dedup.simhashPairs(corpus(), "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val sigs = Dedup.simhashSignature(corpus(), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val expect = (for { i <- ids; j <- ids if i < j
      h = java.lang.Long.bitCount(sigs(i) ^ sigs(j)) if h <= 3
    } yield (i, j) -> h).toMap
    // banding over 4×16 bits guarantees recall for hamming <= 3
    // (pigeonhole: <=3 flipped bits leave >=1 of 4 bands intact)
    assert(got == expect)
    assert(expect.nonEmpty, "corpus produced no close pairs — test data too weak")
  }

  test("clusterPairs equals union-find on the same pairs") {
    import spark.implicits._
    // two chains, a triangle, an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusterPairs(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L))) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.map(x => x -> find(x)).toMap ++
      Seq(1L, 20L, 30L).map(x => x -> find(x))
    assert(got == expect.map { case (k, v) => k -> v })
  }

  test("bestRepresentative: argmax score per cluster, min-id ties, singletons self") {
    import spark.implicits._
    // cluster {1,2,3}: 2 has the top score; cluster {10,11}: score tie
    // → min id 10; 20 is a singleton; 30 pairs with 31, equal scores
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L),
      (20L, 1L), (30L, 6L), (31L, 6L)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val frame = Dedup.bestRepresentative(docs, pairs, "doc_id", "score")
    val got = frame.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 30L -> 30L, 31L -> 30L))
    // the selection is scalar hash aggregates end to end — a struct
    // argmax or a per-cluster sort would plan SortAggregate/Sort here
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"selection fell back to sort-based aggregation:\n$plan")
  }

  test("splitLeakage: naive hash split leaks near-dup pairs; the grouped split audits clean") {
    import spark.implicits._
    val docs = corpus() // base slice ∪ truncated copies — near-dups exist
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", minBp = 8000).cache()
    assert(pairs.count() > 0, "corpus has no near-dup pairs to audit")
    val bucket = (col("doc_id") * lit(2654435761L)) % lit(1000000007L) % lit(100)
    def foldOf(b: org.apache.spark.sql.Column) =
      when(b < 80, lit("train")).when(b < 90, lit("val")).otherwise(lit("test"))
    // naive per-doc hash split: copies at +1000 hash independently →
    // straddling pairs must appear
    val naive = docs.select(col("doc_id"), foldOf(bucket).as("split"))
    val naiveLeaks = Dedup.splitLeakage(pairs, naive)
      .filter(col("leaked")).agg(sum(col("n_pairs"))).head().getLong(0)
    assert(naiveLeaks > 0, "expected the naive split to leak on this corpus")
    // group-aware split: fold keyed by the cluster canonical → a pair's
    // endpoints share a canonical by construction → zero leaked pairs
    val clusters = Dedup.clusterPairs(pairs, "doc_a", "doc_b")
    val canon = docs.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
    val gBucket =
      (col("canonical_id") * lit(2654435761L)) % lit(1000000007L) % lit(100)
    val grouped = canon.select(col("doc_id"), foldOf(gBucket).as("split"))
    val groupedLeaked = Dedup.splitLeakage(pairs, grouped)
      .filter(col("leaked")).count()
    assert(groupedLeaked == 0,
      s"group-aware split leaked $groupedLeaked fold pairs")
    pairs.unpersist()
  }

  test("end-to-end near-dup removal: pairs → clusters → survivors") {
    val pairs = Dedup.minhashLsh(corpus(), "text", "doc_id", minBp = 8000)
    val clusters = Dedup.clusterPairs(pairs, "doc_a", "doc_b")
    val survivors = clusters.filter(org.apache.spark.sql.functions.col("doc_id") ===
      org.apache.spark.sql.functions.col("canonical_id"))
    // every perturbed doc (id >= 1000) pairs with its source → its
    // canonical is the source, so no perturbed doc survives
    val survivorIds = survivors.collect().map(_.getLong(0)).toSet
    assert(survivorIds.nonEmpty && survivorIds.forall(_ < 1000))
  }

  test("hot-bucket guard: 10k copies of one doc yield O(k) candidates, not k²/2") {
    import spark.implicits._
    // crawl-corpus shape: one page duplicated 10k times (all 10k land
    // in the same (band, hash) bucket on EVERY band) + distinct docs
    val page = "the same boilerplate page crawled from ten thousand mirrors again"
    val docs = spark.range(0, 10000).select(col("id").as("doc_id"), lit(page).as("text"))
      .unionByName(Seq((20000L, "a completely unrelated document about gardens"),
        (20001L, "another distinct text concerning naval history"))
        .toDF("doc_id", "text"))
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", minBp = 8000, maxBucket = 100)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star pairing: every copy pairs with the bucket rep (min id 0) —
    // exactly k-1 verified pairs, not ~5×10⁷
    assert(got.size == 9999, s"got ${got.size} pairs")
    assert(got.forall { case (a, b) => a == 0L && b > 0L && b < 10000L })
    // connectivity survives for clustering: one component, canonical 0
    val labels = Dedup.clusterPairs(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 10000 && labels.values.forall(_ == 0L))
    // the escape hatch reports the fallback: all 16 bands hot
    val hot = Dedup.hotBucketStats(
      Dedup.withMinHashSignatures(docs, "text", "doc_id"), maxBucket = 100)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(hot.length == 16 && hot.forall(_._2 == 10000L), hot.mkString(","))
  }

  test("hot-bucket guard is a no-op below the cap (identical pair set)") {
    val guarded = Dedup.minhashLsh(corpus(), "text", "doc_id", minBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unguarded = Dedup.minhashLsh(corpus(), "text", "doc_id", minBp = 8000,
        maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(guarded == unguarded && guarded.nonEmpty)
    val sGuarded = Dedup.simhashPairs(corpus(), "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sUnguarded = Dedup.simhashPairs(corpus(), "text", "doc_id", maxHamming = 3,
        maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sGuarded == sUnguarded && sGuarded.nonEmpty)
  }

  test("minhashLshSampledPairs: exhaustive-with-weight-1000 below the cap, " +
       "exact 1000·C(w,2) weighted mass and decorrelated per-band samples above it") {
    import spark.implicits._
    // BELOW the cap: distinct sampled pairs == the unguarded pair set,
    // every weight exactly 1000 (the estimator degrades to the
    // exhaustive list, so consumers can use one code path)
    val sigs = Dedup.withMinHashSignatures(corpus(), "text", "doc_id")
    val sampled = Dedup.minhashLshSampledPairs(sigs, minBp = 8000)
      .collect().map(r => (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(sampled.nonEmpty && sampled.forall(_._4 == 1000L))
    val distinctPairs = sampled.map(t => (t._1, t._2, t._3)).toSet
    val unguarded = Dedup.minhashLsh(corpus(), "text", "doc_id", minBp = 8000,
        maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(distinctPairs == unguarded)

    // ABOVE the cap: 10k copies of one page → every band holds one
    // w=10000 bucket; the sample is s=100 members → C(100,2)=4950
    // pairs per band, and the weighted mass identity is EXACT:
    // C(s,2) · w(w-1)·1000/(s(s-1)) = 1000·C(w,2) (all copies verify
    // at jaccard 10000, so no pair is lost to the minBp filter)
    val page = "the same boilerplate page crawled from ten thousand mirrors again"
    val docs = spark.range(0, 10000).select(col("id").as("doc_id"), lit(page).as("text"))
    val hotSigs = Dedup.withMinHashSignatures(docs, "text", "doc_id")
    val hot = Dedup.minhashLshSampledPairs(hotSigs, minBp = 8000, maxBucket = 100)
      .localCheckpoint()
    val perBand = hot.groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum(col("weight_milli")).as("mass"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(perBand.length == 16)
    val trueMass = 10000L * 9999L / 2L * 1000L
    assert(perBand.forall { case (_, n, mass) => n == 4950L && mass == trueMass },
      perBand.mkString(","))
    // per-band samples are re-seeded by (band, bh): bands must NOT all
    // pick the same 100 members, or cross-band statistics correlate
    val distinctIds = hot.select(col("doc_a").as("id"))
      .unionByName(hot.select(col("doc_b").as("id")))
      .distinct().count()
    assert(distinctIds > 200, s"bands picked correlated samples: $distinctIds ids")
    // deterministic: an identical second run yields the identical set
    val again = Dedup.minhashLshSampledPairs(hotSigs, minBp = 8000, maxBucket = 100)
    assert(again.exceptAll(hot).isEmpty && hot.exceptAll(again).isEmpty)
    // decoupled sampleSize: s=12 under the same threshold keeps the
    // EXACT mass identity (w(w-1)·1000 divides by s(s-1) here) at
    // C(12,2)=66 pairs per band — the mega-bucket budget knob
    val thin = Dedup.minhashLshSampledPairs(hotSigs, minBp = 8000,
        maxBucket = 100, sampleSize = 12)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum(col("weight_milli")).as("mass"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(thin.length == 16 &&
      thin.forall { case (n, mass) => n == 66L && mass == trueMass },
      thin.mkString(","))
  }

  test("DEFAULT maxBucket is the scale-safe crawl posture (r12 verdict item 3)") {
    import spark.implicits._
    // SWEEP100_r12 measured default=1000 exhausting local disk on a
    // perturbed non-collapsible 100x corpus; the shipped default must
    // be the guarded posture. Pin the value AND the behavior it buys:
    // a 200-wide near-dup family (wider than the cap, NOT exact
    // copies — each doc perturbed, so the collapse can't save it)
    // star-pairs under pure default config instead of pairing w²/2.
    assert(Dedup.DefaultMaxBucket == 50)
    val docs = spark.range(0, 200).select(col("id").as("doc_id"),
      concat(lit("one mirrored page body shared across the whole family "
        + "with enough repeated shingle mass to band together tail "),
        col("id").cast("string")).as("text"))
      .unionByName(Seq((900L, "a completely unrelated document about gardens"))
        .toDF("doc_id", "text"))
    val guarded = Dedup.minhashLsh(docs, "text", "doc_id", minBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unguarded = Dedup.minhashLsh(docs, "text", "doc_id", minBp = 8000,
        maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the recall contract: hot buckets star-pair, so the DEFAULT
    // config emits a small fraction of the ~w²/2 exhaustive list
    // (per-band sub-buckets below the cap may still all-pair — the
    // guard bounds PER-BUCKET output, it is not a global pair cap)
    assert(unguarded.size > 15000, s"family failed to pair: ${unguarded.size}")
    assert(guarded.size < unguarded.size / 10,
      s"default config emitted ${guarded.size} of ${unguarded.size} pairs — guard inert")
    // connectivity (the cluster/canonical contract) is fully preserved:
    // guarded clusters == unguarded clusters, one component, canonical 0
    def clustersOf(pairs: Set[(Long, Long)]) = {
      import spark.implicits._
      Dedup.clusterPairs(pairs.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val labels = clustersOf(guarded)
    assert(labels == clustersOf(unguarded))
    assert(labels.size == 200 && labels.values.forall(_ == 0L))
  }

  test("simhash hot-bucket guard: duplicate-heavy corpus stays O(k)") {
    import spark.implicits._
    val page = "identical mirror page text for the simhash banding path"
    val docs = spark.range(0, 5000).select(col("id").as("doc_id"), lit(page).as("text"))
      .unionByName(Seq((9000L, "some other words entirely unlike the page"))
        .toDF("doc_id", "text"))
    val got = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical sigs are hamming 0 from the rep → all k-1 star pairs verify
    assert(got.size == 4999, s"got ${got.size}")
    assert(got.forall { case (a, b) => a == 0L && b > 0L })
  }

  test("signature/numPerm mismatch fails loudly instead of silently degrading") {
    val sigs32 = Dedup.withMinHashSignatures(corpus(), "text", "doc_id", numPerm = 32)
    val ex = intercept[Exception] {
      Dedup.minhashLshFromSignatures(sigs32, numPerm = 64, minBp = 8000).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("minhash signature length")), ex.toString)
  }

  test("clusterPairs: 50-node path converges with bounded plan depth") {
    import spark.implicits._
    // worst-case diameter (the opposite of the dense near-dup shape):
    // min label travels one hop per round → ~49 rounds, which without
    // lineage truncation would stack ~100 joins of plan
    val pairs = (0L until 49L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.clusterPairs(pairs, "doc_a", "doc_b", maxIter = 60)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 50 && got.values.forall(_ == 0L))
    // truncated lineage: the final plan hangs off a materialized
    // checkpoint scan, not 49 rounds of joins
    val plan = labels.queryExecution.optimizedPlan.toString
    val joins = "(?i)\\bjoin\\b".r.findAllIn(plan).length
    assert(joins <= 20, s"$joins joins in final plan — lineage not truncated")
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      "no checkpoint scan in plan")
  }

  test("clusterPairs reliable-checkpoint mode produces identical clusters") {
    import spark.implicits._
    val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val reliable = withReliable { _ =>
      Dedup.clusterPairs(pairs, "doc_a", "doc_b", maxIter = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(reliable.size == 21 && reliable.values.forall(_ == 0L))
  }

  test("incremental dedup equals the full pair set restricted to new docs") {
    // split the standard corpus: base docs are the persisted corpus,
    // perturbed docs are the increment
    val base = corpus().filter(col("doc_id") < 1000)
    val incr = corpus().filter(col("doc_id") >= 1000)
    val got = Dedup.minhashLshIncremental(
        Dedup.withMinHashSignatures(incr, "text", "doc_id"),
        Dedup.withMinHashSignatures(base, "text", "doc_id"), minBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = Dedup.minhashLsh(corpus(), "text", "doc_id", minBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = full.collect {
      case (a, b, bp) if a >= 1000 && b >= 1000 => (math.min(a, b), math.max(a, b), bp)
      case (a, b, bp) if a >= 1000 => (a, b, bp)
      case (a, b, bp) if b >= 1000 => (b, a, bp)
    }
    assert(got == expect && got.nonEmpty)
  }

  test("incremental dedup with a hot corpus bucket matches via the rep only") {
    import spark.implicits._
    val page = "the same mirrored page body served from many many hosts worldwide"
    val base = spark.range(0, 2000).select(col("id").as("doc_id"), lit(page).as("text"))
    val incr = Seq((50000L, page), (50001L, "something wholly unrelated to anything"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLshIncremental(
        Dedup.withMinHashSignatures(incr, "text", "doc_id"),
        Dedup.withMinHashSignatures(base, "text", "doc_id"),
        minBp = 8000, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the new copy pairs with the hot bucket's representative (doc 0)
    // only — O(1) candidates instead of 2000
    assert(got == Set((50000L, 0L)))
  }

  test("qualityFilter: first failing rule names the reason; clean docs keep") {
    import spark.implicits._
    val docs = Seq(
      (1L, "too short"), // < 20 words
      (2L, ("the a " * 30).trim), // repetitive 3-grams, stopwords fine, word len 2.5 → word_length fires first
      (3L, "the quick brown fox jumps over a lazy dog while many other animals watch the scene unfold quietly near a stream today ok"),
      (4L, (1 to 25).map(i => s"zzzzword$i").mkString(" "))) // no stopwords
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .qualityFilter(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("keep")), r.getString(r.fieldIndex("reason"))))
      .toMap
    assert(got(1L) == ((false, "too_short")))
    assert(got(2L)._1 == false)
    assert(got(3L) == ((true, null)))
    assert(got(4L)._1 == false && got(4L)._2 != null)
  }

  test("containmentPairs flags excerpts that Jaccard misses") {
    import spark.implicits._
    val big = ("the quick brown fox jumps over the lazy dog and keeps " +
      "running through the quiet field past the old barn toward the river " +
      "bank where tall reeds sway gently under the afternoon sun all day")
    val excerpt = big.substring(10, 60)
    val docs = Seq((1L, big), (2L, excerpt),
      (3L, "completely unrelated text body with nothing shared at all"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "text", "doc_id", k = 5, minBp = 9000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    // excerpt's shingles are a subset of the page's → containment 10000
    assert(cont.keySet == Set((1L, 2L)))
    assert(cont((1L, 2L)) == 10000L)
    // ...but the same pair is invisible to Jaccard at dedup thresholds
    assert(Dedup.ngramJaccardPairs(docs, "text", "doc_id", k = 5, minBp = 8000)
      .collect().isEmpty)
  }

  test("stripHtml: tags stripped, script/style gone with contents, entities decoded") {
    import spark.implicits._
    val html = "<html><head><style>p { x: 1; }</style></head><body>" +
      "<h1>Title</h1><p>Body &amp; more &lt;text&gt;</p>" +
      "<script>if (a &amp;&amp; b) { run(); }</script>" +
      "<div>tail</div></body></html>"
    val got = Seq(html).toDF("h")
      .select(graft.operators.TextAnalysis.stripHtml(col("h")).as("t"))
      .as[String].head()
    // block closings become line breaks so page line structure
    // survives for downstream line-level dedup
    assert(got == "Title\nBody & more <text>\ntail")
    // &amp;lt; must decode to &lt;, not double-decode to <
    val tricky = Seq("<p>a &amp;lt; b</p>").toDF("h")
      .select(graft.operators.TextAnalysis.stripHtml(col("h")).as("t"))
      .as[String].head()
    assert(tricky == "a &lt; b")
  }

  test("extractMainContent: all-anchor lines drop, content with inline links keeps") {
    import spark.implicits._
    val html = "<html><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
      "<p>A real paragraph of content that mentions " +
      "<a href=\"/x\">one link</a> among many words.</p>" +
      "<script>nav.init(); // <a href=\"/fake\">not text</a></script>" +
      "<div class=\"footer\"><a href=\"/t\">Terms &amp; Conditions</a></div>" +
      "</body></html>"
    val got = Seq(html).toDF("h")
      .select(graft.operators.TextAnalysis.extractMainContent(col("h")).as("t"))
      .as[String].head()
    // nav (100% anchor) and footer (100% anchor, entity inside the
    // anchor) drop; script never counts; the paragraph survives with
    // its inline anchor text inlined
    assert(got == "A real paragraph of content that mentions one link among many words.")
    // a page of ONLY navigation extracts to empty — the downstream
    // length filter's drop signal
    val navOnly = Seq("<ul><li><a href=\"/1\">One</a></li><li><a href=\"/2\">Two</a></li></ul>")
      .toDF("h")
      .select(graft.operators.TextAnalysis.extractMainContent(col("h")).as("t"))
      .as[String].head()
    assert(navOnly == "")
    // threshold is a knob: at maxLinkBp = 10000 nothing drops on density
    val lax = Seq(html).toDF("h")
      .select(graft.operators.TextAnalysis
        .extractMainContent(col("h"), maxLinkBp = 10000).as("t"))
      .as[String].head()
    assert(lax.startsWith("Home About\n"), lax)
  }

  test("stripCommonLines strips boilerplate, keeps order, drops emptied docs") {
    import spark.implicits._
    // 'BOILER' recurs in 5 distinct docs (> maxDocs = 3) → stripped
    // everywhere; doc 6 is all boilerplate → drops out entirely
    val docs = Seq(
      (1L, Seq("alpha one", "BOILER", "beta two")),
      (2L, Seq("BOILER", "gamma three")),
      (3L, Seq("delta four", "BOILER")),
      (4L, Seq("BOILER", "epsilon five", "zeta six")),
      (5L, Seq("eta seven")),
      (6L, Seq("BOILER"))).toDF("doc_id", "lines")
    val got = Dedup.stripCommonLines(docs, "lines", "doc_id", maxDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> (("alpha one\nbeta two", 2L)),
      2L -> (("gamma three", 1L)),
      3L -> (("delta four", 1L)),
      4L -> (("epsilon five\nzeta six", 2L)),
      5L -> (("eta seven", 1L))))
  }

  test("stripCommonLines counts document frequency, not occurrences") {
    import spark.implicits._
    // 'dup line' appears 3 times but in only 2 DISTINCT docs — at
    // maxDocs = 2 that is not boilerplate, and within-doc repeats stay
    val docs = Seq(
      (1L, Seq("dup line", "dup line", "x")),
      (2L, Seq("dup line", "y")),
      (3L, Seq("z"))).toDF("doc_id", "lines")
    val got = Dedup.stripCommonLines(docs, "lines", "doc_id", maxDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "dup line\ndup line\nx")
    assert(got(2L) == "dup line\ny")
  }

  test("crossNearDupPairs: corpus-probe pairs only, catches truncated near-dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the riverbank at dawn"
    val other = "completely different content about spark physical plans and shuffles here"
    val probe = Seq((100L, base), (101L, other)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, base.dropRight(8)),              // truncated copy of probe 100
      (2L, other),                          // exact copy of probe 101
      (3L, "unrelated text mentioning neither foxes nor query planners at all ok"),
      (4L, "unrelated text mentioning neither foxes nor query planners at all ok")
    ).toDF("doc_id", "text")                // 3,4: corpus-internal dup pair
    val got = operators.Dedup
      .crossNearDupPairs(corpus, probe, "text", "doc_id", minBp = 7000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair.keySet == Set((1L, 100L), (2L, 101L)), got.toSeq)
    assert(byPair((2L, 101L)) == 10000L)
    assert(byPair((1L, 100L)) >= 7000L && byPair((1L, 100L)) < 10000L)
  }

  test("contaminationScore: overlap fraction in basis points; zero-hit docs score 0") {
    import spark.implicits._
    val probe = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d e f g h"),        // the probe's one 8-gram: 1/1
      (2L, "a b c d e f g h x"),      // grams {a..h, b..x}: 1/2
      (3L, "z z z z z z z z z"),      // one distinct gram, no hits
      (4L, "a b")                     // < 8 tokens: no grams, no row
    ).toDF("doc_id", "text")
    val got = operators.Dedup.contaminationScore(corpus, probe, "text", "doc_id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((1L, 1L, 10000L)),
      2L -> ((2L, 1L, 5000L)),
      3L -> ((1L, 0L, 0L))))
  }

  test("bloom decontamination: superset of exact hits, no false negatives") {
    import spark.implicits._
    val probe = Seq((9001L, "held out benchmark question about spark " +
      "partitioning strategies and shuffle behavior at scale today"))
      .toDF("doc_id", "text")
    val leaked = "prefix words " + "held out benchmark question about spark " +
      "partitioning strategies and shuffle behavior at scale today"
    val docs = (Seq((1L, leaked)) ++ (2L to 40L).map(i =>
      (i, s"clean document number $i with enough words to form several " +
        s"eight grams of ordinary unrelated content body text here")))
      .toDF("doc_id", "text")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = hits(Dedup.contaminatedDocs(docs, probe, "text", "doc_id"))
    val bloom = hits(Dedup.contaminatedDocsBloom(docs, probe, "text", "doc_id"))
    // every exact hit present with at-least-equal count (no false negatives)
    for ((id, nv) <- exact)
      assert(bloom.getOrElse(id, 0L) >= nv, s"doc $id lost hits in bloom path")
    assert(exact.contains(1L) && !exact.contains(2L))
    // tiny probe + fpp 0.01 → false-positive docs are the exception
    assert(bloom.keySet.size <= exact.keySet.size + 4)
  }

  test("simhash signature is stable and has 64-bit spread") {
    val sigs = Dedup.simhashSignature(corpus(), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sigs2 = Dedup.simhashSignature(corpus(), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs == sigs2)
    assert(sigs.values.toSet.size > sigs.size / 2) // not collapsing
  }

  test("simhash signature: codegen sum form == folded HOF form, incl. null/empty text") {
    import spark.implicits._
    // r19 optimization pin: simhashSignature was restructured from the
    // 64-pass interpreted aggregate(sequence(0,63), aggregate(th, …))
    // fold (CodegenFallback in the hot path) to the native codegen
    // expression functions.SimHashSig — one JIT-compiled pass per row
    // (an intermediate exploded per-bit SUM form was abandoned; this
    // pin is implementation-agnostic either way). The folded
    // expression below IS the pre-r19 engine
    // form verbatim — signatures must stay bit-identical, including a
    // NULL text (old fold: inner aggregate NULL -> every IF false ->
    // signature 0) and an empty string (split('',' ') = [''] — one
    // token on both paths).
    val docs = corpus().select(col("doc_id"), col("text"))
      .unionByName(Seq((9001L, null.asInstanceOf[String]), (9002L, ""))
        .toDF("doc_id", "text"))
    val got = Dedup.simhashSignature(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = docs
      .select(col("doc_id").as("id"),
        expr("transform(split(text, ' '), t -> fingerprint64(t))").as("th"))
      .select(col("id"), expr(
        """aggregate(
          |  sequence(0, 63), CAST(0 AS BIGINT),
          |  (acc, i) -> acc | IF(
          |    aggregate(th, 0, (c, h) -> c + IF((shiftright(h, i) & 1) = 1, 1, -1)) > 0,
          |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin)
        .as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got(9001L) == 0L && got(9002L) != 0L)
  }

  test("cluster-size histogram over clusterPairs: chains merge, sizes bucket") {
    import spark.implicits._
    // two chained pairs form one size-3 cluster; one isolated pair a
    // size-2; C73's oracle corpus only ever produces size-2 clusters,
    // so the mixed-size shape is pinned here instead
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L),
      (8L, 10L)).toDF("doc_a", "doc_b")
    val hist = graft.operators.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .as[(Long, Long)].collect().toMap
    assert(hist == Map(3L -> 2L, 2L -> 1L), s"got $hist")
  }
}
