package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication for LLM training corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash.
  *
  * Scale posture (100 TB of documents):
  *  - exact dedup groups on a 64-bit content hash — the shuffle moves
  *    8 bytes + id per row, never the text.
  *  - near-dup candidate generation shuffles (band_id, band_hash)
  *    pairs (MinHash) or 16-bit band values (SimHash) — both constant
  *    bytes per doc, no all-pairs comparison anywhere.
  *  - verification joins signature arrays by doc id (co-partitioned
  *    by the candidate join), comparing fixed-width signatures, not
  *    documents.
  */
object Dedup {

  /** Default hot-bucket cap for the MinHash-LSH family — the measured
    * CRAWL POSTURE (SWEEP100_r12/r13). The guard trades the exhaustive
    * pair LIST for O(w) star pairs in any (band, band_hash) bucket or
    * exact-content group wider than the cap; connectivity — hence
    * [[clusterPairs]] components, canonical choice, and every
    * drop-decision built on clusters — is preserved exactly, and
    * buckets at or below the cap are UNGUARDED (output identical to
    * all-pairs). Recall contract: a pair of DISTINCT contents
    * co-bucketed only inside a hot bucket may be missed as an explicit
    * pair; [[hotBucketStats]] quantifies that exposure per run (empty
    * result = guarded output == unguarded).
    *
    * Why 50 and not the old 1000: SWEEP100_r12 measured the default
    * 1000 exhausting local disk in the verify shuffle on a PERTURBED
    * (non-collapsible — mirrors with per-page edits, the real crawl
    * shape) 100× corpus, while 50 ran the same corpus in ~32 s. A
    * scale-safe default must be the one that survives the adversarial
    * corpus; callers wanting exhaustive pairs for wider duplicate
    * families opt UP explicitly, sized to the widest family they can
    * afford w²/2 pairs for. */
  val DefaultMaxBucket: Int = 50

  /** The one choice between the PLAIN and the COLLAPSED plan of the
    * MinHash-LSH family ([[minhashLsh]], [[minhashLshFromSignatures]],
    * [[minhashLshIncremental]], [[crossNearDupPairs]]): true when
    * distinct-`key` count ≥ [[CopyFreeBp]] of rows, i.e. the frame is
    * (nearly) copy-free and the plain plan runs.
    *
    * The collapse (see [[sigGroups]]) is what lets a mirror-heavy
    * corpus (one page × 10⁵ crawl copies) run the LSH + verify stages
    * over one row per DISTINCT content — but it costs two extra
    * id/content-keyed shuffles plus the member re-expansion joins,
    * pure overhead when duplicate multiplicity ≈ 1 (the common case
    * outside mirror pathologies). Both plans emit the same verified
    * pair set below `maxBucket` (identical contents band identically,
    * so the plain plan still finds every copy pair); the choice changes
    * COST, not semantics.
    *
    * `key` is a cheap CONTENT SURROGATE, not the collapse key itself:
    * xxhash64(text) on the text path (no shingling), xxhash64(sig) on
    * the signature path (fixed numPerm×8 bytes — column-pruned from a
    * parquet store, vs the O(tokens) `hs` array). Surrogate error is
    * one-sided in the safe direction: identical content ⇒ identical
    * surrogate always, while distinct contents sharing a surrogate
    * (near-identical docs with equal signatures) only UNDERESTIMATE
    * the distinct ratio → collapse when borderline. An empty frame
    * counts as copy-free.
    *
    * MEMOIZED by the canonicalized logical plan of `frame.select(key)`:
    * the probe is one Spark job (~hundreds of ms of fixed scheduling
    * cost even on tiny data), and dedup over the same input recurs —
    * reruns, the incremental loop, bench passes. Memoization is safe
    * precisely because the probe decides COST, never semantics: a
    * stale entry (same plan, mutated underlying files) can pick the
    * slower plan, not a wrong answer. The cache is bounded (cleared
    * past [[ProbeCacheMax]] plans). */
  private def multiplicityIsLow(frame: DataFrame, key: org.apache.spark.sql.Column): Boolean = {
    val probed = frame.select(key.as("k"))
    val planKey = probed.queryExecution.analyzed.canonicalized
    if (probeCache.size > ProbeCacheMax) probeCache.clear()
    probeCache.computeIfAbsent(planKey, { _ =>
      val r = probed.agg(count(lit(1)).as("n"), approx_count_distinct(col("k")).as("d")).head()
      val n = r.getLong(0)
      n == 0 || r.getLong(1) * 10000L >= CopyFreeBp.toLong * n
    }).booleanValue()
  }

  /** The collapsed plan runs when distinct-content/count < 90% — i.e.
    * > ~1.1 mean copies per content. Above 90% distinct the collapse's
    * two extra shuffles cost more than the copies they would save, and
    * the `approx_count_distinct` rsd (5%) stays well inside the margin. */
  private val CopyFreeBp = 9000
  private val ProbeCacheMax = 10000
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, java.lang.Boolean]()

  /** Exact dedup: keep the smallest id per distinct content. Grouping
    * key is xxhash64(text) so the shuffle moves hashes, not bodies; a
    * 64-bit collision (~1e-9 at billions of docs) merges two groups,
    * which for keep-one-per-group semantics drops one extra doc. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** All pairs (a < b) with character-`k`-gram Jaccard similarity >=
    * `minBp` basis points. Exact (no sketching, [[shingleOverlap]]).
    * Intended for bounded corpora / verification — the sketched path
    * for open corpora is [[minhashLsh]]. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        k: Int, minBp: Int): DataFrame =
    shingleOverlap(docs, textCol, idCol, k)
      .withColumn("jaccard_bp",
        floor(lit(10000.0) * col("common") / (col("n_a") + col("n_b") - col("common")))
          .cast("long"))
      .filter(col("jaccard_bp") >= minBp)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "jaccard_bp")

  /** Exact character-`k`-gram overlap of every doc pair (a < b)
    * sharing a shingle: explode distinct shingle HASHES, self-join on
    * the hash, count common, join back per-doc set sizes. Columns
    * `doc_a, doc_b, common, n_a, n_b`. */
  private def shingleOverlap(docs: DataFrame, textCol: String, idCol: String,
                             k: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(TextFunctions.shingleHashes(textCol, k)).as("g"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val common = sh.as("x").join(sh.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    // `sizes` is a PER-DOCUMENT aggregate — unbounded in the corpus, so
    // no broadcast hint: let AQE pick broadcast at small scale and a
    // shuffled join beyond the threshold.
    common
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
  }

  /** MinHash signature (numPerm permutations via seeded xxhash64 over
    * the shingle-hash set) + banded LSH candidate generation + exact
    * Jaccard verification on the signature sets.
    *
    * Returns (doc_a, doc_b, jaccard_bp) for verified pairs; the
    * verification Jaccard is exact on shingle-hash sets, so the only
    * approximation is candidate RECALL (LSH banding).
    *
    * `maxBucket` TUNING (measured, SWEEP100_r12; default
    * [[DefaultMaxBucket]] = 50 since r13): the exact-content collapse
    * only helps when copies are byte-identical. A corpus of wide
    * NEAR-dup families (mirror sites with per-page edits — they
    * survive exact dedup) puts the full family width in every band
    * bucket; at the old cap 1000 a 100-wide family still paired
    * w²/2 per bucket and the gram-payload verify shuffle exhausted
    * local disk at 500k docs, while the cap at 50 (now the default —
    * the crawl posture) star-pairs those buckets and ran the same
    * corpus in 32 s. If the downstream contract is cluster/canonical
    * (connectivity, not the exhaustive pair list), the default is
    * right; raise the cap only to the widest duplicate family you
    * want exhaustive pairs for — see [[DefaultMaxBucket]] for the
    * recall contract. */
  def minhashLsh(docs: DataFrame, textCol: String, idCol: String,
                 k: Int = 5, numPerm: Int = 64, bands: Int = 16,
                 minBp: Int = 5000, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Probe HERE, where text is still in hand: the probe hashes the raw
    // text column (one scan, no shingling) instead of the derived
    // signature frame, which would re-run the shingle pass.
    val copyFree = multiplicityIsLow(docs, xxhash64(col(textCol)))
    lshPairs(withMinHashSignatures(docs, textCol, idCol, k, numPerm), copyFree,
      bands, minBp, numPerm, maxBucket)
  }

  /** Near-CONTAINMENT pairs: (a, b) where the smaller shingle set is
    * mostly inside the larger — containment_bp = 10000·|A∩B|/min(|A|,|B|).
    * Catches the quote/excerpt/aggregation dups Jaccard MISSES: a
    * 100-word excerpt inside a 10k-word page has Jaccard ≈ 0.01 but
    * containment ≈ 1.0. Exact formulation (the [[shingleOverlap]]
    * equi-join on shingle hashes [[ngramJaccardPairs]] runs); intended
    * for bounded corpora / verification — at open-corpus scale,
    * generate candidates with [[minhashLsh]] banding (a contained
    * excerpt still collides on bands whose rows hash from its shingles)
    * and verify containment on the persisted `hs` sets exactly as here. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       k: Int, minBp: Int): DataFrame = {
    require(k >= 1 && minBp >= 0 && minBp <= 10000,
      s"k ($k) must be >= 1 and minBp ($minBp) in [0, 10000]")
    shingleOverlap(docs, textCol, idCol, k)
      .withColumn("containment_bp",
        floor(lit(10000.0) * col("common") / least(col("n_a"), col("n_b"))).cast("long"))
      .filter(col("containment_bp") >= minBp)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "containment_bp")
  }

  /** One-pass signature computation: (id, hs, sig). At 100 TB this is
    * the INGEST-time step: `sig` is `numPerm * 8` bytes per doc
    * regardless of document size; `hs` (the distinct shingle-hash set,
    * O(tokens) per doc and the dominant storage term) is persisted
    * alongside it because the exact-Jaccard VERIFY stage consumes it —
    * persist sig-only where verification will re-derive hs from text.
    * Either way the text column never re-enters the pipeline. sig[p] =
    * min over shingles of splitmix(h ^ seed_p), a native one-pass
    * expression (graft.functions.MinHashSig). */
  def withMinHashSignatures(docs: DataFrame, textCol: String, idCol: String,
                            k: Int = 5, numPerm: Int = 64): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"),
      TextFunctions.shingleHashes(textCol, k).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", graft.GraftFunctions.minhash_sig(col("hs"), numPerm))
  }

  /** (id, band, bh) LSH bucket assignment for a (id, sig) frame: one
    * 64-bit hash per signature band. Validates that stored signatures
    * agree with `numPerm` — slice() past the end would silently yield
    * short/empty bands (wrong band hashes, silent recall loss), so a
    * persisted-signature / parameter mismatch fails loudly instead. */
  private[graft] def minhashBuckets(sigs: DataFrame, bands: Int, numPerm: Int): DataFrame = {
    val rowsPerBand = numPerm / bands
    val checked = sigs.withColumn("sig", expr(
      s"""CASE WHEN size(sig) = $numPerm THEN sig
         |ELSE raise_error(concat('minhash signature length ', size(sig),
         |                        ' != numPerm $numPerm')) END""".stripMargin))
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        expr(s"xxhash64(slice(sig, ${b * rowsPerBand + 1}, $rowsPerBand))").as("bh")))
    checked
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
  }

  /** The logged-recall escape hatch for the hot-bucket star pairing:
    * (band, bh, w) for every bucket wider than `maxBucket`. Run (and
    * log/persist) alongside a guarded dedup to quantify how many
    * buckets fell back to O(w) star pairing — an empty result means
    * the guarded output is identical to unguarded all-pairs. */
  def hotBucketStats(sigs: DataFrame, bands: Int = 16, numPerm: Int = 64,
                     maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashBuckets(sigs, bands, numPerm)
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") > maxBucket)

  /** UNBIASED in-bucket pair sampling — the statistics-grade
    * counterpart of the hot-bucket star guard (r15 verdict item 4).
    *
    * The star guard keeps clustering exact but reduces a hot bucket's
    * pair LIST to rep-vs-member edges, so pair-level statistics built
    * on the guarded list (jaccard histograms, threshold-sensitivity
    * pair counts) describe the star SKELETON, not the pair
    * population, once buckets exceed `maxBucket` (GUARDRECALL_r14:
    * 62 bp pair-edge recall on the 1000× perturbed corpus). This mode
    * estimates in-bucket pair statistics WITHOUT the O(w²) cost: each
    * bucket wider than `maxBucket` contributes all pairs among a
    * deterministic uniform member sample of size `maxBucket`
    * (hash-rank selection — RNG-free, reproducible, re-seeded per
    * bucket so samples are uncorrelated across bands), each weighted
    * by the inverse pair-inclusion probability `w(w-1) / (s(s-1))`
    * in milli-units; buckets at or below the cap contribute their
    * exhaustive pairs at weight 1000.
    *
    * ESTIMAND: the in-bucket pair-INCIDENCE population (a pair
    * co-bucketed in b buckets counts b times, exactly as exhaustive
    * per-bucket enumeration would) — `sum(weight_milli)` over any
    * jaccard bin estimates 1000× the exhaustive incidence count of
    * that bin, unbiased under hash-uniform member sampling. For
    * DISTINCT-pair statistics the incidence view is an upper envelope
    * (high-jaccard pairs co-bucket in more bands); consumers needing
    * exact distinct pairs dedup below the cap, where the list is
    * exhaustive per bucket. Pre-verify identity (DedupSpec-pinned):
    * the weighted pair MASS per bucket is `1000 · C(w,2)` up to the
    * integer-division floor — `weight_milli` truncates
    * `w(w-1)·1000 div s(s-1)`, so the mass runs low by at most
    * `s(s-1) - 1` milli per sampled pair, and is exactly zero when
    * `s(s-1)` divides `w(w-1)·1000` (the DedupSpec case picks
    * divisible values, so the identity is exact there).
    * At the default s = 12 that bound is ≤ 0.0132% of a
    * single pair's weight — negligible for any histogram consumer,
    * but the identity is floor-exact, not unconditional. Cost:
    * O(buckets × s²) verifications — scale-safe at any bucket width.
    *
    * `sampleSize` (s) decouples the estimator's per-bucket budget
    * from the hot THRESHOLD: a 1000× crawl corpus can hold ~10⁵ hot
    * buckets, where s = maxBucket = 50 means 10⁵ × C(50,2) ≈ 10⁸
    * verifications — s = 12 buys the same unbiasedness at 20× less
    * work (estimator variance shrinks as buckets aggregate). 0 (the
    * default) means s = maxBucket. */
  def minhashLshSampledPairs(sigs: DataFrame, bands: Int = 16,
      minBp: Int = 5000, numPerm: Int = 64,
      maxBucket: Int = DefaultMaxBucket, sampleSize: Int = 0): DataFrame = {
    val s = if (sampleSize > 0) math.min(sampleSize, maxBucket) else maxBucket
    val buckets = minhashBuckets(sigs.select("id", "hs", "sig"), bands, numPerm)
    val byBucket = Window.partitionBy(col("band"), col("bh"))
    // hash-rank member sample: ordering by a per-bucket-keyed hash
    // makes the top-s rows a uniform without-replacement sample of
    // the bucket's members (the id tie-break only fires on 64-bit
    // collisions); one window shuffle carries both w and the rank
    val bySample = byBucket.orderBy(
      xxhash64(col("id"), col("band"), col("bh")).asc, col("id").asc)
    val kept = buckets
      .withColumn("w", count(lit(1)).over(byBucket))
      .withColumn("rn", row_number().over(bySample))
      // below the hot threshold the list stays EXHAUSTIVE (weight
      // 1000); only hot buckets are thinned to the s-member sample
      .filter(col("w") <= maxBucket || col("rn") <= s)
      .withColumn("s", when(col("w") <= maxBucket, col("w"))
        .otherwise(least(col("w"), lit(s.toLong))))
    // weight is bucket-level (both sides share w, s); s >= 2 on every
    // surviving row because a pair needs two sampled members
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.id") < col("y.id"))
      .select(col("x.band").as("band"), col("x.bh").as("bh"),
        col("x.w").as("w"),
        col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        // integer div: the numerator exceeds double's exact-integer
        // range (2^53) past w ≈ 3M, where `/`+cast would drift
        expr("(x.w * (x.w - 1) * 1000) div (x.s * (x.s - 1))")
          .as("weight_milli"))
    val sets = sigs.select(col("id"), col("hs"))
    verifyJaccard(pairs
      .join(sets.withColumnRenamed("id", "doc_a").withColumnRenamed("hs", "hs_a"), "doc_a")
      .join(sets.withColumnRenamed("id", "doc_b").withColumnRenamed("hs", "hs_b"), "doc_b"),
      minBp, "band", "bh", "w", "doc_a", "doc_b", "jaccard_bp", "weight_milli")
  }

  /** The exact verify of every MinHash-LSH path, batch and streaming:
    * `jaccard_bp` = floor(10000·|A∩B|/|A∪B|) over the shingle-hash
    * sets `hs_a`/`hs_b` each candidate pair carries, pairs below
    * `minBp` dropped, then `cols` projected. The verify is exact, so
    * the family's only approximation is candidate RECALL (banding). */
  private[graft] def verifyJaccard(joined: DataFrame, minBp: Int,
                                   cols: String*): DataFrame =
    joined
      .withColumn("common", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard_bp",
        floor(lit(10000.0) * col("common") /
          (size(col("hs_a")) + size(col("hs_b")) - col("common"))).cast("long"))
      .filter(col("jaccard_bp") >= minBp)
      .select(cols.head, cols.tail: _*)

  /** (id, hs, sig, sk): `sigs` keyed by exact content, `sk =
    * xxhash64(hs)` — the key [[sigGroups]] collapses on. */
  private def contentKeyed(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), col("hs"), col("sig"), xxhash64(col("hs")).as("sk"))

  /** Exact-content collapse of a (id, hs, sig) frame: content key
    * `sk = xxhash64(hs)`, one `groupBy(sk)` whose partial (map-side)
    * aggregation collapses identical-content copies BEFORE the
    * shuffle — on a mirror-heavy corpus the shuffle moves one
    * (hs, sig) payload per DISTINCT content, not per copy. Returns
    * `(sk, id, hs, sig, w)`: the min-id representative's payload plus
    * the group width. A 64-bit collision (~1e-9 at billions of
    * distinct contents) merges two groups — at worst mislabeling one
    * pair's jaccard as 10000, the same documented convention as
    * [[exact]]. */
  private def sigGroups(keyed: DataFrame): DataFrame = {
    // NOT min(struct(id, hs, sig)): min over a struct carrying the
    // array payloads plans a SortAggregate whose per-partition sort
    // buffers every (hs, sig) — at 5M store rows × 32 concurrent
    // tasks that sort OOM'd an 8 GB heap (r11 1000× sweep). Instead
    // the rep id comes from a scalar map-side-combined hash
    // aggregate, and the rep's arrays are fetched by a HASH join
    // (never sort-merge — an SMJ would re-sort the array side): the
    // arrays stream through the probe side, and AQE broadcasts the
    // group frame when the distinct-content count is small (the
    // mirror-corpus case).
    val meta = keyed.groupBy(col("sk"))
      .agg(min(col("id")).as("id"), count(lit(1)).as("w"))
    keyed.select(col("id"), col("hs"), col("sig"))
      .join(meta.hint("SHUFFLE_HASH"), "id")
      .select(col("sk"), col("id"), col("hs"), col("sig"), col("w"))
  }

  /** Expand representative-level verified pairs back to member-level
    * pairs as BARE id pairs (no signature payload ever rides on a
    * pair):
    *  - within a content group every member pairs at jaccard exactly
    *    10000 (identical shingle sets); groups wider than `maxBucket`
    *    fall back to star pairing against the min-id rep — O(w)
    *    output that keeps the component connected for
    *    [[clusterPairs]];
    *  - a cross-group rep pair inherits its jaccard for every member
    *    combination (members share their rep's shingle set exactly);
    *    groups wider than `maxBucket` contribute their rep only.
    * `members` = (sk, id) per doc; `meta` = (sk, rep, w) per group. */
  private def expandGroupPairs(repPairs: DataFrame, members: DataFrame,
                               meta: DataFrame, minBp: Int,
                               maxBucket: Int): DataFrame = {
    val mw = members.join(meta, "sk")
    val small = mw.filter(col("w") <= maxBucket).select("sk", "id")
    val withinSmall = small.as("x").join(small.as("y"),
        col("x.sk") === col("y.sk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
    val withinHot = mw.filter(col("w") > maxBucket && col("id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("id").as("doc_b"))
    val within = withinSmall.unionByName(withinHot)
      .withColumn("jaccard_bp", lit(10000L))
      .filter(lit(10000L) >= lit(minBp.toLong))
    val exp = mw.filter(col("w") <= maxBucket || col("id") === col("rep"))
      .select(col("rep"), col("id"))
    // expansion can interleave id ranges across groups → normalize
    // orientation; groups are disjoint so ea ≠ eb always.
    val cross = repPairs
      .join(exp.select(col("rep").as("doc_a"), col("id").as("ea")), "doc_a")
      .join(exp.select(col("rep").as("doc_b"), col("id").as("eb")), "doc_b")
      .select(least(col("ea"), col("eb")).as("doc_a"),
        greatest(col("ea"), col("eb")).as("doc_b"), col("jaccard_bp"))
    within.select("doc_a", "doc_b", "jaccard_bp").unionByName(cross)
  }

  /** (w, rep) — bucket width and min-id member — on every (id, band,
    * bh) row, in ONE window shuffle on the bucket key (both functions
    * share the window spec → a single Window operator). The hot-bucket
    * guard of every LSH path reads these two columns. */
  private def withBucketWidth(buckets: DataFrame): DataFrame = {
    val byBucket = Window.partitionBy(col("band"), col("bh"))
    buckets
      .withColumn("w", count(lit(1)).over(byBucket))
      .withColumn("rep", min(col("id")).over(byBucket))
  }

  /** The PLAIN plan of [[minhashLshFromSignatures]]: banded LSH
    * candidates + exact verify over every row of `sigs`. The collapsed
    * plan ([[minhashLshCollapsed]]) runs it over one representative per
    * distinct content, so there the verify join's array payload is
    * O(distinct near-dup pairs), never O(copy pairs). */
  private[graft] def minhashLshPlain(sigs: DataFrame, bands: Int, minBp: Int,
                                     numPerm: Int, maxBucket: Int): DataFrame = {
    val rows = sigs.select("id", "hs", "sig")
    val wb = withBucketWidth(minhashBuckets(rows, bands, numPerm))
    val small = wb.filter(col("w") <= maxBucket).select("id", "band", "bh")
    val smallPairs = small.as("x").join(small.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
    // rep = min(id) over the bucket, so rep < id holds and pair
    // orientation (doc_a < doc_b) is preserved.
    val hotPairs = wb.filter(col("w") > maxBucket && col("id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("id").as("doc_b"))
    val cands = smallPairs.unionByName(hotPairs).distinct()
    val sets = rows.select(col("id"), col("hs"))
    verifyJaccard(cands
      .join(sets.withColumnRenamed("id", "doc_a").withColumnRenamed("hs", "hs_a"), "doc_a")
      .join(sets.withColumnRenamed("id", "doc_b").withColumnRenamed("hs", "hs_b"), "doc_b"),
      minBp, "doc_a", "doc_b", "jaccard_bp")
  }

  /** The COLLAPSED plan of [[minhashLshFromSignatures]] (see there). */
  private[graft] def minhashLshCollapsed(sigs: DataFrame, bands: Int, minBp: Int,
                                         numPerm: Int, maxBucket: Int): DataFrame = {
    val keyed = contentKeyed(sigs)
    val groups = sigGroups(keyed)
    expandGroupPairs(minhashLshPlain(groups, bands, minBp, numPerm, maxBucket),
      keyed.select("sk", "id"),
      groups.select(col("sk"), col("id").as("rep"), col("w")), minBp, maxBucket)
  }

  /** Banded LSH candidates + exact-on-signature-set verification from
    * a precomputed (id, hs, sig) frame (see
    * [[withMinHashSignatures]]).
    *
    * STRUCTURE (the mirror-proof form): exact-duplicate contents are
    * collapsed FIRST ([[sigGroups]] — identical `hs` ⇒ identical
    * signature ⇒ identical band hashes, so copies carry zero extra
    * LSH information), the bucket/pair/verify machinery runs over one
    * representative per distinct content, and member-level pairs are
    * re-expanded as bare id pairs ([[expandGroupPairs]]). A corpus
    * where one page exists as 10⁵ crawl mirrors therefore costs the
    * LSH + verify stages exactly one row, and the only
    * multiplicity-quadratic term left is the OUTPUT pair set itself
    * (24-byte rows — and capped: see below). Measured
    * (SWEEP100_r11/r12, 500k docs where every text exists as 100
    * exact copies): the pre-r8 per-copy form spilled >80 GB in the
    * verify join at the default cap; this form runs the same corpus
    * at the default cap with the verify join seeing 5 000 distinct
    * contents.
    *
    * Hot guard, now purely a PAIR-COUNT knob: a (band, band_hash)
    * bucket with w distinct contents still yields w²/2 rep pairs, and
    * a content group with w copies yields w²/2 output pairs — both
    * switch to star pairing against their min-id rep above
    * `maxBucket` (O(w) pairs that keep components connected for
    * [[clusterPairs]]; exact copies verify at jaccard 10000 against
    * the rep by construction). Below the cap the output is identical
    * to the unguarded all-pairs form; the traded recall in hot
    * BUCKETS (a non-rep pair of distinct contents co-bucketed only
    * there) is logged per run via [[hotBucketStats]].
    *
    * ADAPTIVE ([[multiplicityIsLow]]): the collapse/re-expand passes
    * above are two extra content-keyed shuffles that buy nothing at
    * duplicate multiplicity ≈ 1 — the common case outside mirror
    * pathologies. A one-pass probe (count vs approx-distinct
    * xxhash64(sig)) picks: copy-free frames run the PLAIN plan
    * ([[minhashLshPlain]] directly over every row, zero extra
    * shuffles) and only mirror-heavy frames pay the collapse
    * ([[minhashLshCollapsed]]). Both plans produce the same verified
    * pair set below `maxBucket` (exact copies share all band hashes,
    * so the plain plan co-buckets and verifies them at jaccard 10000);
    * above the cap the star fallback is keyed on bucket width in
    * COPIES (plain) vs DISTINCT CONTENTS (collapsed) — the probe
    * guarantees those coincide on the plan that runs.
    *
    * Input contract: `hs` non-empty per row (what
    * [[withMinHashSignatures]] emits — it drops empty shingle sets).
    * The collapsed plan reads `sigs` twice (groups + membership), the
    * probe once more; with a persisted signature store — the
    * production shape — all are column-pruned parquet scans. */
  def minhashLshFromSignatures(sigs: DataFrame, bands: Int = 16,
                               minBp: Int = 5000, numPerm: Int = 64,
                               maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshPairs(sigs, multiplicityIsLow(sigs, xxhash64(col("sig"))),
      bands, minBp, numPerm, maxBucket)

  /** Validates the banding, then runs the plan `copyFree` picks; the
    * probe behind `copyFree` runs only once the banding is valid. */
  private def lshPairs(sigs: DataFrame, copyFree: => Boolean, bands: Int,
                       minBp: Int, numPerm: Int, maxBucket: Int): DataFrame = {
    require(numPerm % bands == 0 && numPerm > 0,
      s"numPerm ($numPerm) must be a positive multiple of bands ($bands)")
    if (copyFree) minhashLshPlain(sigs, bands, minBp, numPerm, maxBucket)
    else minhashLshCollapsed(sigs, bands, minBp, numPerm, maxBucket)
  }

  /** Incremental near-dup detection: a NEW batch of documents (a crawl
    * increment) against a persisted corpus signature table — the shape
    * every production run after the first takes at 100 TB. Candidates
    * are (new × corpus) + (new × new) band-bucket matches; the corpus
    * is NEVER self-joined, so a daily increment costs O(increment),
    * not O(corpus).
    *
    * Both inputs are (id, hs, sig) frames (see
    * [[withMinHashSignatures]]; id spaces must be disjoint). Returns
    * (new_id, match_id, jaccard_bp) with exact-on-shingle-set verify;
    * for new×new pairs new_id < match_id. The corpus side applies the
    * same hot-bucket guard as [[minhashLshFromSignatures]]: a bucket
    * wider than `maxBucket` is represented by its min-id doc only. */
  def minhashLshIncremental(newSigs: DataFrame, corpusSigs: DataFrame,
                            bands: Int = 16, minBp: Int = 5000,
                            numPerm: Int = 64,
                            maxBucket: Int = DefaultMaxBucket): DataFrame =
    // Adaptive as in [[minhashLshFromSignatures]]: when BOTH sides
    // probe copy-free the plain plan runs (zero extra shuffles, no
    // re-expansion); if EITHER side is mirror-heavy both collapse —
    // the collapsed plan is correct regardless of multiplicity, and a
    // heavy side's copies would otherwise ride the bucket join.
    if (multiplicityIsLow(newSigs, xxhash64(col("sig"))) &&
        multiplicityIsLow(corpusSigs, xxhash64(col("sig"))))
      incrementalPairs(newSigs, corpusSigs, bands, minBp, numPerm, maxBucket)
    else minhashLshIncrementalCollapsed(newSigs, corpusSigs, bands, minBp,
      numPerm, maxBucket)

  /** The COLLAPSED plan of [[minhashLshIncremental]]: the same
    * exact-content collapse as [[minhashLshCollapsed]], per side — LSH
    * and verify run over distinct contents only, so mirror
    * multiplicity (in the corpus OR the increment) never rides the
    * bucket join or carries signature arrays per pair. */
  private[graft] def minhashLshIncrementalCollapsed(newSigs: DataFrame,
      corpusSigs: DataFrame, bands: Int, minBp: Int, numPerm: Int,
      maxBucket: Int): DataFrame = {
    val nKeyed = contentKeyed(newSigs)
    val cKeyed = contentKeyed(corpusSigs)
    incrementalCollapsedBody(nKeyed.select("sk", "id"), sigGroups(nKeyed),
      cKeyed.select("sk", "id"), sigGroups(cKeyed),
      bands, minBp, numPerm, maxBucket)
  }

  /** Content-collapsed signature store — one row per DISTINCT content:
    * (sk, id = min-id rep, hs, sig, w = member count). Persist this
    * NEXT TO the (sk, id) member map ([[contentMembers]]) at ingest
    * and probe with [[minhashLshIncrementalGrouped]]: a probe run then
    * never re-shuffles the full corpus's signature arrays to rebuild
    * the group structure (FUZZYPROBE_r14: that per-run re-collapse was
    * ~3.2 s of fuzzy_decontaminate's 3.4 s at the 10× mirror corpus —
    * the whole r13 ratio drift). At 100 TB the collapse runs once, at
    * ingest, where it belongs. */
  def contentGroups(sigs: DataFrame): DataFrame =
    sigGroups(contentKeyed(sigs))

  /** The (sk, id) member map twin of [[contentGroups]] — array-free,
    * so expansion joins at probe time move bare ids only. */
  def contentMembers(sigs: DataFrame): DataFrame =
    sigs.select(xxhash64(col("hs")).as("sk"), col("id"))

  /** [[minhashLshIncremental]] against a PRE-COLLAPSED persisted store
    * ([[contentGroups]] + [[contentMembers]]): the increment is
    * collapsed in-line (it is probe-sized), the corpus group structure
    * comes from the store, and the collapsed body — bucket join,
    * exact verify, member expansion, hot-bucket star guard — is the
    * exact same code path, so the pair set is identical to
    * [[minhashLshIncremental]] on the raw signature rows (DedupSpec
    * pins the equality on a mirror-heavy corpus). */
  def minhashLshIncrementalGrouped(newSigs: DataFrame,
      corpusGroups: DataFrame, corpusMembers: DataFrame,
      bands: Int = 16, minBp: Int = 5000, numPerm: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nKeyed = contentKeyed(newSigs)
    incrementalCollapsedBody(nKeyed.select("sk", "id"), sigGroups(nKeyed),
      corpusMembers.select("sk", "id"), corpusGroups,
      bands, minBp, numPerm, maxBucket)
  }

  /** The band-join-and-verify half of every incremental plan, and on
    * its own the PLAIN plan of [[minhashLshIncremental]]: (new ×
    * guarded corpus) + (new × new) bucket matches over every row of the
    * two (id, hs, sig) frames, verified exactly → (new_id, match_id,
    * jaccard_bp). The collapsed plans run it over content groups. */
  private[graft] def incrementalPairs(newSigs: DataFrame, corpusSigs: DataFrame,
                                      bands: Int, minBp: Int, numPerm: Int,
                                      maxBucket: Int): DataFrame = {
    val nb = minhashBuckets(newSigs.select("id", "hs", "sig"), bands, numPerm)
    val cb = minhashBuckets(corpusSigs.select("id", "hs", "sig"), bands, numPerm)
    val cbGuarded = withBucketWidth(cb)
      .filter(col("w") <= maxBucket || col("id") === col("rep"))
      .select("id", "band", "bh")
    val crossCands = nb.as("x").join(cbGuarded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("new_id"), col("y.id").as("match_id"))
    // the increment is bounded → plain all-pairs banding within it
    val newCands = nb.as("x").join(nb.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("new_id"), col("y.id").as("match_id"))
    val cands = crossCands.unionByName(newCands).distinct()
    val newSets = newSigs.select(col("id").as("new_id"), col("hs").as("hs_a"))
    val allSets = corpusSigs.select(col("id"), col("hs"))
      .unionByName(newSigs.select(col("id"), col("hs")))
      .select(col("id").as("match_id"), col("hs").as("hs_b"))
    verifyJaccard(cands.join(newSets, "new_id").join(allSets, "match_id"),
      minBp, "new_id", "match_id", "jaccard_bp")
  }

  /** The shared collapsed-increment body: group-level banding + verify
    * ([[incrementalPairs]] over the groups), then member expansion.
    * `nMembers`/`cMembers` are (sk, id) maps; `nGroups`/`cGroups` are
    * [[sigGroups]]-shaped (sk, id, hs, sig, w). Factored out so the
    * persisted-grouped-store path and the self-collapsing path run ONE
    * implementation. */
  private def incrementalCollapsedBody(
      nMembers: DataFrame, nGroups: DataFrame,
      cMembers: DataFrame, cGroups: DataFrame,
      bands: Int, minBp: Int, numPerm: Int, maxBucket: Int): DataFrame = {
    val repVerified = incrementalPairs(nGroups, cGroups, bands, minBp, numPerm, maxBucket)
    // Expansion back to member pairs (bare ids, guard = rep-only /
    // star above maxBucket). Within-increment exact copies pair at
    // jaccard 10000, oriented new_id < match_id (rep = min id).
    val nMw = nMembers
      .join(nGroups.select(col("sk"), col("id").as("rep"), col("w")), "sk")
    val nSmall = nMw.filter(col("w") <= maxBucket).select("sk", "id")
    val withinNew = nSmall.as("x").join(nSmall.as("y"),
        col("x.sk") === col("y.sk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("new_id"), col("y.id").as("match_id"))
      .unionByName(nMw.filter(col("w") > maxBucket && col("id") =!= col("rep"))
        .select(col("rep").as("new_id"), col("id").as("match_id")))
      .withColumn("jaccard_bp", lit(10000L))
      .filter(lit(10000L) >= lit(minBp.toLong))
    val nExp = nMw.filter(col("w") <= maxBucket || col("id") === col("rep"))
      .select(col("rep"), col("id"))
    val cMw = cMembers
      .join(cGroups.select(col("sk"), col("id").as("rep"), col("w")), "sk")
    val cExp = cMw.filter(col("w") <= maxBucket || col("id") === col("rep"))
      .select(col("rep"), col("id"))
    // match side may be a corpus rep (keep new→corpus orientation) or
    // a new-side rep (normalize to new_id < match_id, the orientation
    // the per-member banding would have produced); id spaces are
    // disjoint so the flag survives the union.
    val mExp = cExp.select(col("rep").as("match_id"), col("id").as("eb"),
        lit(false).as("nn"))
      .unionByName(nExp.select(col("rep").as("match_id"), col("id").as("eb"),
        lit(true).as("nn")))
    val cross = repVerified
      .join(nExp.select(col("rep").as("new_id"), col("id").as("ea")), "new_id")
      .join(mExp, "match_id")
      .select(
        when(col("nn"), least(col("ea"), col("eb"))).otherwise(col("ea")).as("new_id"),
        when(col("nn"), greatest(col("ea"), col("eb"))).otherwise(col("eb")).as("match_id"),
        col("jaccard_bp"))
    withinNew.select("new_id", "match_id", "jaccard_bp").unionByName(cross)
  }

  /** Apply [[dupSpanIntervals]] output back to the corpus: drop every
    * token covered by a duplicated span and reassemble the remainder —
    * the Lee-et-al trimming action itself. Left join, so documents
    * with no duplicated span pass through verbatim; a fully-covered
    * document yields the empty string (downstream length filters drop
    * it). Output `(idCol, textCol, n_dropped_tokens)`.
    *
    * Scale posture: intervals collapse to ONE array per doc
    * (`collect_list` after the interval merge — per-doc cardinality
    * is spans-per-doc, bounded by tokens/n), the join is id-keyed,
    * and the token filter is a HOF projection in the scan — no
    * per-token shuffle. */
  def trimSpans(docs: DataFrame, intervals: DataFrame,
                textCol: String, idCol: String): DataFrame = {
    val spans = intervals.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.select(col(idCol), col(textCol))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col(textCol), coalesce(col("spans"),
        expr("CAST(array() AS ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>)"))
        .as("spans"))
      .select(col(idCol),
        expr(s"""concat_ws(' ', filter(split($textCol, ' '),
           |  (t, i) -> NOT exists(spans,
           |    sp -> i >= sp.span_start AND i <= sp.span_end)))"""
          .stripMargin).as(textCol),
        expr(s"""aggregate(spans, CAST(0 AS BIGINT),
           |  (acc, sp) -> acc + sp.span_end - sp.span_start + 1)"""
          .stripMargin).as("n_dropped_tokens"))
  }

  /** 64-bit SimHash over whitespace-token hashes: bit i of the
    * signature is the sign of the sum over tokens of ±1 on that bit
    * of the token hash. Token hashes are computed once per doc.
    *
    * Token hash is the graft FNV-1a `fingerprint64` (not xxhash64):
    * same codegen'd cost, but engine-portable arithmetic, so the
    * DuckDB oracle can recompute the exact signatures. */
  def simhashSignature(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    // r19 (guide §4 — no non-codegen expressions in the hot path): the
    // original form folded `aggregate(sequence(0,63), …,
    // aggregate(th, …))` — 64 interpreted lambda passes over every
    // document's token-hash array (higher-order functions are
    // CodegenFallback), measured at 2.7 s of simhash_bit_balance's
    // 2.8 s sf0.1 median (OPTPROBE r19). simhash_sig computes the
    // identical signature in one JIT-compiled pass per row, IN-SCAN —
    // zero exchanges added, same plan shape as before, so the 220-doc
    // dedup corpus keys pay nothing while token-heavy inputs drop ~4×.
    // Per-bit ±1 sums are exact integers in any order: signatures are
    // bit-identical (DedupSpec pins equality against the literal old
    // fold, incl. NULL text — coalesce to array() reproduces the old
    // "NULL text ⇒ signature 0" via the empty fold).
    docs
      .select(col(idCol).as("id"),
        expr(s"coalesce(transform(split($textCol, ' '), t -> fingerprint64(t))," +
          " array())").as("th"))
      .select(col("id"),
        graft.GraftFunctions.simhash_sig(col("th")).as("simhash"))
  }

  /** Connected components over near-dup pairs → (doc, canonical)
    * where canonical is the component's minimum id — the keep/drop
    * decision for near-dup groups (A~B, B~C ⇒ one survivor of
    * {A,B,C}).
    *
    * Label propagation to fixpoint: each round every node adopts the
    * minimum label in its neighborhood. Rounds are join+groupBy (all
    * distributed); the min label travels one hop per round, so rounds
    * ≈ component diameter — near-dup components are small and dense
    * (stars/cliques of copies), so this converges in a handful of
    * rounds at any corpus size. Each round is one [[Iterate]] job whose
    * observed changed-row count is the convergence test, and every
    * round truncates lineage, so even adversarial long-chain
    * components keep bounded plan depth. The driver never collects
    * data. */
  def clusterPairs(pairs: DataFrame, aCol: String, bCol: String,
                   maxIter: Int = 20): DataFrame = {
    // undirected edges + self-loops keep isolated propagation stable.
    // The pair plan is evaluated ONCE (cached one-orientation frame,
    // mirrored from the cache) — the near-dup pair computation above
    // this is the expensive subtree, and the naive two-subtree union
    // would run it twice before the edge cache fills. The caches are
    // MEMORY_AND_DISK: pair-map-sized frames, STORAGEAUDIT_r17.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val oriented = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .persist(lvl)
    val edges = oriented
      .unionByName(oriented.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist(lvl)
    // init = identity labels with the FIRST propagation round fused in
    // (label = min(self, neighbors)): star/pair components — the common
    // near-dup shape — then converge after a single verification round
    val init = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("label"))
    // the init counts as round 1; min-label propagation is idempotent
    // past its fixpoint, so "a round changed nothing" means converged
    val last = Iterate(Iterate.Round(init, 0L), maxIter - 1,
        Some(count(when(col("__changed"), true))), (_, changed) => changed == 0) {
      (prev, _) =>
        val labels = prev.df.select(col("id"), col("label"))
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("label").as("dst_label")),
            "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("dst_label")).as("nbr_label"))
        // `changed` rides INSIDE the round frame: the labels join here
        // carries the old label anyway, so the comparison is a free
        // projected column, not a second id-keyed join
        val label = least(col("label"), coalesce(col("nbr_label"), col("label")))
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"), label.as("label"), (label =!= col("label")).as("__changed"))
    }
    oriented.unpersist()
    edges.unpersist()
    last.df.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Split-integrity AUDIT: how many near-dup pairs straddle folds of
    * a given split assignment — the leak measurement that motivates
    * the group-aware split (a doc-hash split puts a near-dup's copies
    * in different folds, leaking eval content into training). Output:
    * one row per normalized (split_a <= split_b) fold pair with its
    * pair count and a `leaked` flag (cross-fold). Run it against any
    * split BEFORE training; nonzero leaked rows mean the split needs
    * the cluster-canonical key.
    *
    * Scale posture (100 TB): two id-keyed joins of the 16-byte pair
    * frame against the assignment (both sides shuffle by the 8-byte
    * id; AQE broadcasts the pair side when it is small, the common
    * case), then a counter aggregation over at most folds² rows. */
  def splitLeakage(pairs: DataFrame, assign: DataFrame,
                   aCol: String = "doc_a", bCol: String = "doc_b",
                   idCol: String = "doc_id",
                   splitCol: String = "split"): DataFrame = {
    val sa = assign.select(col(idCol).as(aCol), col(splitCol).as("__sa"))
    val sb = assign.select(col(idCol).as(bCol), col(splitCol).as("__sb"))
    pairs.select(aCol, bCol)
      .join(sa, aCol).join(sb, bCol)
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_a") =!= col("split_b"))
  }

  /** Quality-aware duplicate-cluster representative selection: for
    * every document, the member of its near-dup cluster that should be
    * KEPT — argmax of `scoreCol` (ties → smallest id), singletons
    * their own representative. Production dedup keeps the best copy
    * (longest / highest-quality / canonical-URL), not the arbitrary
    * min-id member that connected-component labels happen to elect;
    * this is the selection step between [[clusterPairs]] and the
    * actual drop.
    *
    * Input: `docs(idCol, scoreCol)` (score any orderable numeric —
    * char length, quality bp, …) and the near-dup `pairs(aCol, bCol)`.
    * Output: (idCol, rep_id) for EVERY input doc.
    *
    * Scale posture (100 TB): clustering cost is [[clusterPairs]]'s;
    * selection adds three hash aggregates/joins keyed by the 8-byte
    * canonical id — per-cluster max score (scalar agg), min-id
    * tie-break among the max-score members (scalar agg), membership
    * join back. Deliberately NOT max(struct(score, -id)): struct
    * min/max plans a SortAggregate (the r11 1000×-sweep rule — scalar
    * aggregates keep the whole path hash-based), and NOT a row_number
    * window, which would sort every cluster's members. Cluster frames
    * are post-aggregation and AQE-broadcast when small. */
  def bestRepresentative(docs: DataFrame, pairs: DataFrame,
                         idCol: String, scoreCol: String,
                         aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    // r19 (guide §1/§5): `members` feeds three consumers (the
    // max-score aggregate, the tie-break join, the final membership
    // join) — uncheckpointed, each consumer re-ran the docs⋈labels
    // join against the clustering cache and the final adaptive plan
    // carried three copies of the subtree (226 operators at sf0.1,
    // ~15 AQE stages). One eager localCheckpoint of the 24-byte-row
    // frame collapses that to block reads; at scale the frame is
    // docs × 24 bytes and three recomputes would cost strictly more
    // than one materialization.
    val members = Ckpt(docs
      .join(clusterPairs(pairs, aCol, bCol)
        .withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol), col(scoreCol),
        coalesce(col("canonical_id"), col(idCol)).as("canonical_id")))
    val best = members.groupBy("canonical_id")
      .agg(max(col(scoreCol)).as("best_score"))
    val reps = members.join(best, "canonical_id")
      .filter(col(scoreCol) === col("best_score"))
      .groupBy("canonical_id")
      .agg(min(col(idCol)).as("rep_id"))
    members.join(reps, "canonical_id")
      .select(col(idCol), col("rep_id"))
  }

  /** Cross-document duplicated-LINE removal (boilerplate scrub) — the
    * line-granular dedup pass of RefinedWeb/CCNet-style curation: a
    * line recurring across more than `maxDocs` DISTINCT documents
    * (cookie banners, nav text, footers) is boilerplate, not content,
    * and is stripped from every document; the surviving lines keep
    * their original order.
    *
    * Input: `docs(idCol, linesCol: array<string>)` — the caller owns
    * segmentation (real corpora split on newline; the driver query
    * derives fixed-width pseudo-lines). Output: (idCol, text_clean,
    * n_kept); documents whose every line was boilerplate drop out.
    *
    * Scale posture (100 TB): the document-frequency aggregation groups
    * on `xxhash64(line)`, so that shuffle moves (8-byte hash, id),
    * never line text — the [[exact]] trick at line granularity. The
    * boilerplate set is structurally bounded: at most
    * totalLines/maxDocs hashes can exceed document frequency maxDocs,
    * and real boilerplate sets are far smaller — the anti-join build
    * side is a post-aggregation frame AQE broadcasts when small.
    * Reassembly shuffles the kept text once, grouped by doc id — that
    * shuffle IS the output and cannot be elided. A 64-bit collision
    * (~1e-9 at billions of distinct lines) can at worst strip an
    * innocent line that shares a hash with boilerplate. */
  def stripCommonLines(docs: DataFrame, linesCol: String, idCol: String,
                       maxDocs: Int): DataFrame = {
    require(maxDocs >= 1, s"maxDocs ($maxDocs) must be >= 1 — at 0 every line is boilerplate")
    val lines = docs
      .select(col(idCol).as("id"), posexplode(col(linesCol)).as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(col("line")))
    val boiler = lines.groupBy(col("lh"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") > maxDocs)
      .select("lh")
    lines.join(boiler, Seq("lh"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text_clean"))
      .select(col("id").as(idCol), col("text_clean"), col("n_kept"))
  }

  /** The `fingerprint64` of each word-`n`-gram window of the
    * projected token column `toks`, in position order. */
  private def gramFingerprints(toks: String, n: Int): Column =
    TextFunctions.tokenWindows(toks, n,
      s"fingerprint64(${TextFunctions.gramSql(toks, n)})")

  /** (id, g) distinct word-`n`-gram fingerprints per doc. */
  private def gramHashes(df: DataFrame, textCol: String, idCol: String,
                         n: Int): DataFrame = df
    .select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
    .select(col("id"), explode(array_distinct(gramFingerprints("toks", n))).as("g"))

  /** (g) the probe suite's distinct word-`n`-gram fingerprints — the
    * bounded side every decontamination path broadcasts, collects or
    * sketches. */
  private def probeGramSet(probe: DataFrame, textCol: String, idCol: String,
                           n: Int): DataFrame =
    gramHashes(probe, textCol, idCol, n).select("g").distinct()

  /** Benchmark decontamination: flag corpus documents sharing any
    * word-`n`-gram with a held-out probe set (eval/benchmark texts),
    * the standard guard against train/test leakage.
    *
    * Scale posture: probe sets are bounded (benchmark suites, not
    * corpora), so the probe gram-hash set broadcasts — the 100 TB
    * corpus side is one scan with a map-side hash-join, zero corpus
    * shuffle before the per-doc count aggregation (which moves only
    * (doc_id, partial count)). Grams are joined as engine-portable
    * `fingerprint64` hashes, 8 bytes each; a 64-bit collision
    * (~1e-9 at millions of grams) can at worst over-flag one doc —
    * the conservative direction for decontamination. */
  def contaminatedDocs(corpus: DataFrame, probe: DataFrame,
                       textCol: String, idCol: String, n: Int = 8): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    gramHashes(corpus, textCol, idCol, n)
      .join(broadcast(probeGramSet(probe, textCol, idCol, n)), "g")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** FUZZY decontamination: near-duplicate pairs BETWEEN a corpus and
    * a benchmark probe set by MinHash-LSH + exact-Jaccard verify —
    * catches the paraphrased / partially-rewritten / truncated leakage
    * that exact `n`-gram matching ([[contaminatedDocs]]) misses, at
    * the cost of a shingle-level (not phrase-level) match notion.
    * Returns `(doc_id, probe_id, jaccard_bp)` for corpus×probe pairs
    * with verified Jaccard ≥ `minBp`.
    *
    * Scale posture: this is [[minhashLshIncremental]] with the probe
    * suite cast as the increment — the CORPUS is never self-joined,
    * both sides get the exact-content collapse (when either carries
    * copies) and the family's hot-bucket guard at
    * [[DefaultMaxBucket]], and the benchmark side is suite-sized, so
    * a 100 TB corpus pays one signature scan plus a probe-sized bucket
    * join. Probe-probe pairs are dropped by a semi join against the
    * corpus id set (id spaces must be disjoint, the incremental
    * contract). */
  def crossNearDupPairs(corpus: DataFrame, probe: DataFrame,
                        textCol: String, idCol: String, k: Int = 5,
                        numPerm: Int = 64, bands: Int = 16,
                        minBp: Int = 5000,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Probe the RAW text columns (one hash scan per side) — probing the
    // derived signature frames would re-run the shingle pass just to
    // count.
    val copyFree = multiplicityIsLow(probe, xxhash64(col(textCol))) &&
      multiplicityIsLow(corpus, xxhash64(col(textCol)))
    val pSigs = withMinHashSignatures(probe, textCol, idCol, k, numPerm)
    val cSigs = withMinHashSignatures(corpus, textCol, idCol, k, numPerm)
    val pairs =
      if (copyFree) incrementalPairs(pSigs, cSigs, bands, minBp, numPerm, maxBucket)
      else minhashLshIncrementalCollapsed(pSigs, cSigs, bands, minBp, numPerm, maxBucket)
    pairs
      .join(corpus.select(col(idCol).as("match_id")), Seq("match_id"), "left_semi")
      .select(col("match_id").as("doc_id"), col("new_id").as("probe_id"),
        col("jaccard_bp"))
  }

  /** GRADED contamination: [[contaminatedDocs]] reports who leaked;
    * this reports HOW MUCH — per corpus doc, the share of its distinct
    * word-`n`-grams present in the benchmark probe set, in basis
    * points (the GPT-3-appendix-style overlap fraction that drives
    * "clean / partially-contaminated / drop" policy thresholds instead
    * of a binary flag). Output `(id, n_grams, n_hits, contam_bp)` over
    * every corpus doc with at least one gram — zero-hit docs appear
    * with `contam_bp = 0`, which is what makes this a score, not a
    * filter.
    *
    * Scale posture is the decontamination family's: the probe gram-hash
    * set broadcasts (8 bytes per gram), the corpus side is ONE scan
    * with a map-side left hash-join, and only (doc_id, two counters)
    * cross the aggregation shuffle. The ratio is integer `div` so both
    * engines floor identically. */
  def contaminationScore(corpus: DataFrame, probe: DataFrame,
                         textCol: String, idCol: String, n: Int = 8): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    val probeGrams = broadcast(
      probeGramSet(probe, textCol, idCol, n).select(col("g").as("pg")))
    gramHashes(corpus, textCol, idCol, n)
      .join(probeGrams, col("g") === col("pg"), "left_outer")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("pg")).as("n_hits"))
      .withColumn("contam_bp", expr("n_hits * 10000 div n_grams"))
  }

  /** Cross-SOURCE duplication profile: word-`n`-gram Jaccard between
    * every pair of sources — the corpus-composition diagnostic run
    * before mixing crawls (is C4 already inside this CommonCrawl
    * snapshot? how much of source A is boilerplate shared with B?).
    * Output `(src_a, src_b, common, n_a, n_b, jaccard_bp)` over
    * DISTINCT per-source gram sets, src_a < src_b.
    *
    * Scale posture: grams travel as 8-byte `fingerprint64` hashes
    * keyed by (source, hash) — the corpus shuffles constant bytes per
    * gram, and the self-join fan-out per gram is bounded by the
    * SOURCE count (tens, not corpus-sized), so the pair aggregation
    * is source-pair-sized. The oracle-side convention is the dedup
    * family's: DuckDB groups gram STRINGS where the engine groups
    * 64-bit fingerprints (collision ~1e-9). */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
                    n: Int = 3): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val sg = gramHashes(docs, textCol, srcCol, n).distinct()
    val sizes = sg.groupBy(col("id")).agg(count(lit(1)).as("n"))
    sg.as("x").join(sg.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("src_a"), col("y.id").as("src_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("id").as("src_b"), col("n").as("n_b")), "src_b")
      .withColumn("jaccard_bp", expr("common * 10000 div (n_a + n_b - common)"))
      .select("src_a", "src_b", "common", "n_a", "n_b", "jaccard_bp")
  }

  /** Per-document duplicated-span measurement (the span-level twin of
    * pairwise near-dup detection, after Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): for every doc, how
    * many of its distinct word-`n`-grams also occur in at least one
    * OTHER document. Output `(idCol, n_grams, n_dup, dup_bp)` where
    * `dup_bp` = floor(10000·n_dup/n_grams) — the doc's cross-corpus
    * duplication fraction in basis points, the signal span-trimming
    * and duplication-aware sampling key on. Docs shorter than `n`
    * tokens have no grams and are omitted (documented contract).
    *
    * Scale posture: grams travel as 8-byte `fingerprint64` hashes,
    * never text — the document-frequency aggregation and the
    * frequency→gram join both shuffle (hash, id) pairs only, and the
    * per-doc rollup moves (id, two counters). Cross-doc occurrence is
    * `df >= 2` over DISTINCT per-doc grams, so a gram repeated inside
    * one doc does not self-flag. A 64-bit collision (~1e-9 at billions
    * of grams) can at worst over-count one gram as duplicated — the
    * conservative direction for a dedup signal. */
  def dupGramStats(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 6): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val grams = gramHashes(docs, textCol, idCol, n)
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(freq, "g")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_bp", expr("(n_dup * 10000) div n_grams"))
  }

  /** (id, pos, g) — EVERY word-`n`-gram occurrence with its token
    * position (not deduplicated: positions matter for span work). */
  private def gramPositions(df: DataFrame, textCol: String, idCol: String,
                            n: Int): DataFrame = df
    .select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
    .select(col("id"), explode(TextFunctions.tokenWindows("toks", n,
      s"struct(CAST(i AS BIGINT) AS pos, " +
        s"fingerprint64(${TextFunctions.gramSql("toks", n)}) AS g)")).as("pg"))
    .select(col("id"), col("pg.pos").as("pos"), col("pg.g").as("g"))

  /** The ACTION half of [[dupGramStats]] (Lee et al. 2022 span
    * trimming): per document, the MERGED token-index intervals
    * covered by cross-doc duplicated word-`n`-grams — a duplicated
    * gram at position p covers [p, p+n−1]; overlapping AND adjacent
    * covers union into maximal spans (contiguous duplicated coverage
    * is one span). Output
    * `(idCol, span_start, span_end, span_tokens)` (inclusive token
    * indices); the consumer drops or keeps those token ranges —
    * offsets, not substrings, same contract as doc_chunk. Docs with
    * no duplicated gram emit nothing.
    *
    * Scale posture: document frequency rides the same 8-byte
    * fingerprint aggregation as [[dupGramStats]] (distinct per doc
    * before counting, so within-doc repeats don't self-flag); the
    * positions side joins df on the hash; interval merging is
    * gaps-and-islands under a per-DOC window (running max-end, island
    * id = running count of gaps) — sort input is the doc's own dup
    * positions, embarrassingly parallel across docs at any corpus
    * size. */
  def dupSpanIntervals(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 6): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val gpos = gramPositions(docs, textCol, idCol, n)
    val freq = gpos.select(col("id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    mergeSpanIntervals(gpos.join(freq.filter(col("df") >= 2), "g"), n, idCol)
  }

  /** Gaps-and-islands union of the (id, pos) flagged word-`n`-gram
    * positions — each covering tokens [pos, pos + n − 1] — into
    * maximal merged spans, shared by the within-corpus
    * ([[dupSpanIntervals]]) and cross-corpus ([[probeSpans]])
    * producers. Per-DOC window: sort input is a doc's own flagged
    * positions, embarrassingly parallel across docs at any corpus
    * size. */
  private def mergeSpanIntervals(hits: DataFrame, n: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("s"))
    hits.select(col("id"), col("pos").as("s"), (col("pos") + lit(n - 1)).as("e"))
      .withColumn("pmax",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L).otherwise(0L))
      .withColumn("gid", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id").as(idCol), col("gid"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .drop("gid")
  }

  /** SURGICAL decontamination intervals: the merged token spans of a
    * corpus document covered by any word-n-gram of the BENCHMARK
    * `probe` set — [[dupSpanIntervals]]'s cross-corpus sibling. Doc
    * drops ([[contaminatedDocs]]) throw away a whole document for one
    * quoted benchmark item; feeding these intervals to [[trimSpans]]
    * removes exactly the leaked spans and keeps the rest — the
    * scrub-not-drop decontamination mode.
    *
    * Scale posture (100 TB): the probe-gram side is the benchmark
    * suite's distinct 8-byte fingerprints — broadcast, like every
    * decontamination path here ([[contaminatedDocs]] /
    * [[contaminationScore]]); the corpus is scanned once, positions
    * semi-joined in the scan against the broadcast set, and the
    * interval merge is the per-doc gaps-and-islands window. The
    * corpus is never shuffled by gram. */
  def contamSpanIntervals(corpus: DataFrame, probe: DataFrame,
                          textCol: String, idCol: String, n: Int = 8): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    probeSpans(corpus, probeGramSet(probe, textCol, idCol, n), textCol, idCol, n)
  }

  /** Merged spans of `docs` covered by a gram of `probeGrams` (g):
    * gram positions left-semi-joined against the broadcast probe set. */
  private def probeSpans(docs: DataFrame, probeGrams: DataFrame,
                         textCol: String, idCol: String, n: Int): DataFrame =
    mergeSpanIntervals(gramPositions(docs, textCol, idCol, n)
      .join(broadcast(probeGrams), Seq("g"), "left_semi"), n, idCol)

  /** [[contamSpanIntervals]] + [[trimSpans]] as ONE PURE PROJECTION
    * against a prebuilt [[buildGramBloom]] artifact: per token, "am I
    * inside any probe-matched n-gram window" is decidable from the
    * doc's own gram-hit bitmap (token j is covered iff some gram
    * starting in [j−n+1, j] hits), so the whole scrub runs in scan
    * HOFs — no explode, no per-doc window, no shuffle, legal on a
    * streaming frame (the streaming twin of the interval path, same
    * relationship as [[contaminationFlagBloom]] to
    * [[contaminatedDocs]]). Output matches [[trimSpans]]'s
    * `(idCol, textCol, n_dropped_tokens)`. Bloom false positives can
    * over-trim, never under-trim — the conservative direction, same
    * contract as every bloom decontamination path here; per-doc
    * superset-of-the-exact-trim is spec-asserted, and
    * [[trimContamProjectionExact]] is the value-exact sibling.
    *
    * Scale posture (100 TB): this is the production fast path — the
    * bloom rides the closure (~1.2 bytes/gram), each doc costs
    * O(tokens × n) hash-and-test work inside whole-stage codegen, and
    * the operator composes with any scan. Use the interval form when
    * the spans themselves are the product (audit/reporting). */
  def trimContamProjection(docs: DataFrame, bloomBytes: Array[Byte],
                           textCol: String, idCol: String, n: Int = 8): DataFrame =
    trimContamProjectionImpl(docs,
      h => graft.GraftFunctions.bloom_might_contain(bloomBytes, h),
      textCol, idCol, n)

  /** Above this many probe fingerprints
    * [[trimContamProjectionExact]] abandons the plan-literal
    * membership for the broadcast-semi-join interval form — the same
    * enforced-cap pattern as `Similarity.CentroidLiteralMax` (C28).
    * An `array_contains(lit(...))` membership array rides the
    * serialized expression tree of EVERY task; at benchmark-suite
    * size (thousands of grams, ≤ 8 bytes each) that is noise, but a
    * large benchmark union (10⁷ grams ≈ 80 MB) would bloat every
    * task binary — the broadcast relation ships once per executor
    * instead. 4096 grams × 8 bytes = 32 KB of plan literal, safely
    * inside codegen/serialization comfort. */
  val ProbeLiteralMax: Int = 4096

  /** The EXACT sibling of [[trimContamProjection]]: probe-gram
    * membership against the literal fingerprint array
    * ([[probeGramHashes]]) instead of a Bloom filter — output is
    * value-identical to the composed [[contamSpanIntervals]] +
    * [[trimSpans]] path (spec-asserted), still one shuffle-free
    * projection while the suite's distinct grams fit a plan literal
    * (≤ `probeLiteralMax`, default [[ProbeLiteralMax]] — eval suites
    * are thousands of grams). ABOVE the cap the operator auto-switches
    * to the broadcast-semi-join interval regime (gram positions
    * left-semi-joined against the broadcast fingerprint relation →
    * merged spans → [[trimSpans]]): still exact, value-identical
    * output (spec-pinned both regimes), but a join+window plan rather
    * than a pure projection — the batch path for probe sets too big
    * to embed per-task; streaming frames at that size take the Bloom
    * form, accepting its over-trim. Note the Bloom form's REAL fp
    * floor: Spark's sketch uses Kirsch–Mitzenmacher double hashing,
    * which floors measured fp around 1e-4 on small filters no matter
    * how low the requested fpp (measured: 1e-4 at fpp=1e-9, 242
    * items) — that is phantom trims at corpus scale, which is why the
    * exact form exists. */
  def trimContamProjectionExact(docs: DataFrame, probeHashes: Array[Long],
                                textCol: String, idCol: String,
                                n: Int = 8,
                                probeLiteralMax: Int = ProbeLiteralMax): DataFrame = {
    if (probeHashes.length > probeLiteralMax) {
      // join regime: exact membership via a broadcast left-semi join
      // of the 8-byte gram-position frame — the probe set never
      // enters any task's expression tree
      val ss = docs.sparkSession
      import ss.implicits._
      return trimSpans(docs,
        probeSpans(docs, probeHashes.toSeq.toDF("g"), textCol, idCol, n),
        textCol, idCol)
    }
    // bloom-prefiltered exact membership: the common non-hit gram pays
    // O(1) hash probes; only bloom-positives (true hits + the ~1e-2
    // fp tail) pay the O(|suite|) literal scan — fp cannot survive the
    // AND, so the output stays exact
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(1L, probeHashes.length.toLong), 0.01)
    probeHashes.foreach(bf.putLong)
    val bloomBytes = serialized(bf)
    trimContamProjectionImpl(docs,
      h => graft.GraftFunctions.bloom_might_contain(bloomBytes, h) &&
        array_contains(lit(probeHashes), h), textCol, idCol, n)
  }

  /** The distinct word-n-gram fingerprints of a benchmark suite, as a
    * driver-side array for [[trimContamProjectionExact]]. The collect
    * is bounded by the SUITE's gram count (the same bounded-artifact
    * convention as IVF centroid tables), never the corpus. */
  def probeGramHashes(probe: DataFrame, textCol: String, idCol: String,
                      n: Int = 8): Array[Long] = {
    graft.GraftFunctions.register(probe.sparkSession)
    probeGramSet(probe, textCol, idCol, n).collect().map(_.getLong(0)).sorted
  }

  private def trimContamProjectionImpl(docs: DataFrame,
                                       member: Column => Column,
                                       textCol: String, idCol: String,
                                       n: Int): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val withHits = docs
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__hit", transform(gramFingerprints("__toks", n), member))
    val lastGram = size(col("__toks")) - n // last valid gram start
    val kept = filter(col("__toks"), (_, j) =>
      size(col("__hit")) === 0 ||
        !exists(sequence(greatest(j - (n - 1), lit(0)), least(j, lastGram)),
          i => element_at(col("__hit"), i + 1)))
    withHits
      .withColumn("__kept", kept)
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as(textCol),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_dropped_tokens"))
  }

  /** [[contaminatedDocs]] with the probe-gram set compressed into a
    * Bloom filter — the memory-bounded form for LARGE probe suites.
    * The exact path broadcasts every distinct probe gram hash (8 bytes
    * each — fine for benchmark suites, heavy once the "probe" is, say,
    * an entire eval corpus re-scraped at 10⁹ grams ≈ 8 GB per
    * executor); the Bloom form is ~1.2 bytes/gram at fpp=0.01
    * regardless, and the membership test is Spark's own
    * `BloomFilterMightContain` predicate inside the scan, so the
    * corpus side still sees zero shuffle before the per-doc count.
    * Trade-off (documented contract, asserted in DedupSpec): hits are
    * a SUPERSET of the exact path's per-doc hits — false positives at
    * fpp can over-flag, never under-flag, which is the conservative
    * direction for decontamination. */
  def contaminatedDocsBloom(corpus: DataFrame, probe: DataFrame,
                            textCol: String, idCol: String, n: Int = 8,
                            fpp: Double = 0.01): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    gramHashes(corpus, textCol, idCol, n)
      .filter(graft.GraftFunctions.bloom_might_contain(
        buildGramBloom(probe, textCol, idCol, n, fpp), col("g")))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The probe side of [[contaminatedDocsBloom]] as a reusable
    * artifact: serialize the benchmark set's distinct word-n-gram
    * fingerprints into a Bloom filter (~1.2 bytes/gram at fpp=0.01).
    * Build once per benchmark suite, persist, hand to every ingest
    * job — batch or streaming. */
  def buildGramBloom(probe: DataFrame, textCol: String, idCol: String,
                     n: Int = 8, fpp: Double = 0.01): Array[Byte] = {
    graft.GraftFunctions.register(probe.sparkSession)
    val probeGrams = probeGramSet(probe, textCol, idCol, n)
    val nGrams = math.max(1L, probeGrams.count())
    serialized(probeGrams.stat.bloomFilter("g", nGrams, fpp))
  }

  /** The wire form [[graft.GraftFunctions.bloom_might_contain]] reads. */
  private def serialized(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Membership-only contamination flag as a per-row projection: the
    * doc's n-gram fingerprints tested against a prebuilt
    * [[buildGramBloom]] filter inside one `exists` HOF — one row out
    * per row in, no aggregation, so it is legal on a streaming frame
    * and costs scan speed in batch. Conservative like the bloom count
    * path: false positives can over-flag, never under-flag. Appends
    * `contaminated` to the input's own columns. */
  def contaminationFlagBloom(docs: DataFrame, bloomBytes: Array[Byte],
                             textCol: String, idCol: String,
                             n: Int = 8): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    // tokens bound by a one-element explode, not a projected alias:
    // callers filter on the flag, and pushing that filter below a
    // projection would inline split() into every window of the lambda
    docs.select(col("*"), explode(array(split(col(textCol), " "))).as("__toks"))
      .withColumn("contaminated", exists(gramFingerprints("__toks", n),
        h => graft.GraftFunctions.bloom_might_contain(bloomBytes, h)))
      .drop("__toks")
  }

  /** Near-dup pairs by SimHash: 16-bit band blocking (any equal band
    * → candidate; guarantees recall for hamming <= 3 by pigeonhole
    * over 4 bands) then exact hamming verify.
    *
    * Same hot-bucket guard as [[minhashLshFromSignatures]]: a band
    * value shared by w docs (identical pages collide on ALL bands)
    * switches from O(w²) all-pairs to O(w) star pairing against the
    * bucket's min-id representative once w exceeds `maxBucket`;
    * below the cap the output is identical to unguarded all-pairs.
    * The pigeonhole recall guarantee then holds for pairs involving
    * the rep; non-rep hot-bucket pairs rely on component transitivity
    * (exact copies are hamming 0 to the rep, so they still verify). */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val sigs = simhashSignature(docs, textCol, idCol)
    val bandCols = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(simhash, ${b * 16}) & 65535").as("bv")))
    val buckets = sigs.select(col("id"), col("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band"), col("bb.bv"))
    // width + min-(id, simhash) rep in one window shuffle; the struct
    // min orders by id first, so rep.id = min id and rep.simhash is
    // that doc's signature (needed for the hamming verify).
    val byBucket = Window.partitionBy(col("band"), col("bv"))
    val wb = buckets
      .withColumn("w", count(lit(1)).over(byBucket))
      .withColumn("rep", min(struct(col("id"), col("simhash"))).over(byBucket))
    val small = wb.filter(col("w") <= maxBucket)
      .select("id", "simhash", "band", "bv")
    val smallPairs = small.as("x").join(small.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        col("x.simhash").as("sig_a"), col("y.simhash").as("sig_b"))
    val hotPairs = wb.filter(col("w") > maxBucket && col("id") =!= col("rep.id"))
      .select(col("rep.id").as("doc_a"), col("id").as("doc_b"),
        col("rep.simhash").as("sig_a"), col("simhash").as("sig_b"))
    smallPairs.unionByName(hotPairs)
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Detector evaluation: a PREDICTED near-dup pair set scored
    * against a ground-truth pair set — one row with truth size,
    * prediction size, hit count, and recall / precision in basis
    * points (null when the respective denominator is empty). This is
    * the harness that turns "simhash ≤ 3 ≈ Jaccard ≥ 0.8" from a
    * belief into a measured operating point before a sketch family is
    * trusted on a real corpus.
    *
    * Scale: inputs are bare (id, id) frames — 16 bytes a pair
    * regardless of document size; pairs are orientation-normalized
    * and deduped, the hit count is one join on the pair key, and the
    * three single-row aggregates broadcast-cross into the verdict
    * row. Nothing here grows with corpus size, only with pair count. */
  def evalPairs(truth: DataFrame, pred: DataFrame,
                aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    def norm(df: DataFrame) = df.select(
      least(col(aCol), col(bCol)).as("pa"),
      greatest(col(aCol), col(bCol)).as("pb")).distinct()
    val t = norm(truth)
    val p = norm(pred)
    val hits = t.join(p, Seq("pa", "pb")).agg(count(lit(1)).as("n_hit"))
    t.agg(count(lit(1)).as("n_truth"))
      .crossJoin(p.agg(count(lit(1)).as("n_pred")))
      .crossJoin(hits)
      .select(col("n_truth"), col("n_pred"), col("n_hit"),
        when(col("n_truth") === 0, lit(null))
          .otherwise(expr("n_hit * 10000 div n_truth")).as("recall_bp"),
        when(col("n_pred") === 0, lit(null))
          .otherwise(expr("n_hit * 10000 div n_pred")).as("precision_bp"))
  }
}
