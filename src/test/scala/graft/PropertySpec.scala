package graft

import java.sql.Timestamp

import scala.util.Random

import graft.operators.AsOfJoin

/** Randomized (seeded, reproducible) checks vs straightforward
  * reference implementations. */
class PropertySpec extends SparkTestBase {

  test("parse_sqdata_ts inverts formatting for random micros-precision instants") {
    import java.time._
    val rnd = new Random(42)
    val fmt = format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSSSSS")
    val cases = Seq.fill(50)(math.abs(rnd.nextLong()) % 4102444800000000L) // 1970..2100
    val digits = cases.map { us =>
      val inst = Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
      (LocalDateTime.ofInstant(inst, ZoneOffset.UTC).format(fmt), inst)
    }
    import spark.implicits._
    val got = digits.map(_._1).toDF("s")
      .selectExpr("s", "parse_sqdata_ts(s) AS t").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).toInstant).toMap
    for ((s, inst) <- digits) assert(got(s) == inst, s"digits=$s")
  }

  test("hot-bucket guard preserves clustering when hot buckets are exact copies") {
    // The guard's semantic guarantee: when a hot bucket consists of
    // exact duplicates (the realistic trigger — mirrored crawl pages),
    // star pairing changes the PAIR SET but not the connected
    // components the dedup decision consumes. Random distinct docs +
    // one doc duplicated 300× with maxBucket=50; compare clusterPairs
    // output guarded vs unguarded.
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new Random(7)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(): String = Seq.fill(30)(words(rnd.nextInt(words.size))).mkString(" ")
    val distinctDocs = (0L until 60L).map(i => (i, s"distinct ${doc()} $i"))
    val hotPage = "the one mirrored boilerplate page body " + doc()
    val copies = (100L until 400L).map(i => (i, hotPage))
    val docs = (distinctDocs ++ copies).toDF("doc_id", "text")
    def clustersOf(maxBucket: Int): Map[Long, Long] =
      Dedup.clusterPairs(
          Dedup.minhashLsh(docs, "text", "doc_id", minBp = 8000, maxBucket = maxBucket),
          "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val guarded = clustersOf(maxBucket = 50)
    val unguarded = clustersOf(maxBucket = Int.MaxValue)
    assert(guarded == unguarded)
    // and the duplicated page collapsed to one canonical
    assert((100L until 400L).forall(i => guarded.get(i).contains(100L)))
  }

  test("minhash collapse: adding exact copies never changes pairs among originals") {
    // The r8 structural property: exact-content collapse means mirror
    // multiplicity contributes only copy pairs — the verified pair
    // set RESTRICTED to the original ids is invariant under
    // duplication (originals keep identical signatures, buckets, and
    // rep-pair verdicts), and every original×its-own-mirror pair
    // verifies at jaccard exactly 10000.
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new Random(11)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(): String = Seq.fill(40)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = (0L until 30L).map(i => (i, s"${doc()} marker$i"))
    // near-dups of every third doc: drop the last 9 chars
    val pert = base.filter(_._1 % 3 == 0)
      .map { case (id, t) => (id + 500L, t.dropRight(9)) }
    val originals = base ++ pert
    val mirrored = originals ++ originals.flatMap { case (id, t) =>
      (1 to 5).map(m => (id + 1000L * m, t)) }
    def pairsOf(docs: Seq[(Long, String)]): Set[(Long, Long, Long)] =
      Dedup.minhashLsh(docs.toDF("doc_id", "text"), "text", "doc_id", minBp = 5000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val p0 = pairsOf(originals)
    val pm = pairsOf(mirrored)
    assert(p0.nonEmpty, "expected near-dup pairs among the originals")
    assert(pm.filter { case (a, b, _) => a < 1000 && b < 1000 } == p0)
    // each original pairs with each of its five mirrors at exactly 10000
    for ((id, _) <- originals; m <- 1 to 5)
      assert(pm.contains((id, id + 1000L * m, 10000L)),
        s"missing mirror pair ($id, ${id + 1000L * m})")
  }

  test("embedCosinePairs equals the blocking definition exactly") {
    // the operator's contract is crisp: emit (a<b, cos) iff the pair's
    // buckets differ in <= maxFlips planes AND cos >= minCos — both
    // sides deterministic, so Scala can recompute the EXACT expected
    // set (blocking semantics, not just precision/recall bounds)
    import graft.operators.Similarity
    val emb = sources.Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val local = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val planes = Similarity.hyperplanes(6, 64)
    def bucket(v: Array[Float]): Long =
      planes.zipWithIndex.map { case (p, i) =>
        val d = v.indices.foldLeft(0.0)((acc, j) => acc + v(j).toDouble * p(j))
        if (d > 0) 1L << i else 0L
      }.sum
    def cosL(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val minCos = 0.2 // random unit vectors: enough pairs to be non-trivial
    val got = Similarity.embedCosinePairs(emb, "vec_id", "embedding",
        minCos = minCos, numPlanes = 6, maxFlips = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = local.keys.toSeq.sorted
    val expect = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(bucket(local(a)) ^ bucket(local(b))) <= 2
      if cosL(local(a), local(b)) >= minCos
    } yield (a, b)).toSet
    assert(got == expect && got.nonEmpty, s"got ${got.size}, expect ${expect.size}")
  }

  test("asof join equals the nested-loop definition on random data") {
    import spark.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 5) {
      val nL = 5 + rnd.nextInt(35)
      val nR = rnd.nextInt(40)
      val lefts = Seq.fill(nL)((rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
      val rights = Seq.fill(nR)((rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
      val left = lefts.zipWithIndex
        .map { case ((k, t), i) => (k, new Timestamp(t * 1000), i.toLong) }
        .toDF("k", "t", "lid")
      val right = rights.zipWithIndex
        .map { case ((k, t), i) => (k, new Timestamp(t * 1000), i.toLong) }
        .toDF("rk", "rt", "rid")
      val got = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt",
          payload = Seq("rid"), rightTieBreak = Seq("rid"))
        .select("lid", "rid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      val expect = lefts.zipWithIndex.map { case ((k, t), i) =>
        val candidates = rights.zipWithIndex
          .filter { case ((rk, rt), _) => rk == k && rt <= t }
        val best = if (candidates.isEmpty) -1L
        else candidates.maxBy { case ((_, rt), rid) => (rt, rid) }._2.toLong
        i.toLong -> best
      }.toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("fingerprint64 matches a byte-for-byte FNV-1a reference on random unicode") {
    import spark.implicits._
    def ref(s: String): Long = {
      var h = 0xcbf29ce484222325L
      for (b <- s.getBytes("UTF-8")) { h ^= (b & 0xffL); h *= 0x100000001b3L }
      h
    }
    val rnd = new Random(13)
    // whole code points (an indexed char pool would split the emoji's
    // surrogate pair and produce invalid strings)
    val pool: IndexedSeq[String] =
      "abc XYZ 123 .,!? äöü 中文字".map(_.toString) :+ "🙂"
    val cases = "" +: Seq.fill(60)(
      Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.length))).mkString)
    val got = cases.toDF("s")
      .selectExpr("s", "fingerprint64(s) AS f").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- cases) assert(got(s) == ref(s), s"input=$s")
  }

  test("repetition equals a brute-force duplicate-gram count on random token lists") {
    import spark.implicits._
    val rnd = new Random(17)
    val docs = Seq.tabulate(40) { i =>
      val toks = Seq.fill(rnd.nextInt(12))(s"t${rnd.nextInt(4)}")
      (i.toLong, toks.mkString(" "))
    }
    val got = operators.TextAnalysis.repetition(docs.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    for ((id, text) <- docs) {
      val toks = text.split(" ", -1).toSeq // split keeps "" for empty text like Spark
      val grams = if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      val n = grams.length; val d = grams.distinct.length
      val bp = if (n > 0) math.floor(10000.0 * (n - d) / n).toLong else 0L
      assert(got(id) == ((n, d, bp)), s"doc=$id text='$text'")
    }
  }

  test("minhash LSH candidate recall tracks Jaccard similarity") {
    import spark.implicits._
    val rnd = new Random(11)
    // synthetic docs: controlled overlap via shared token pools
    val base = Seq.fill(60)(rnd.alphanumeric.take(6).mkString)
    def doc(share: Int): String =
      (base.take(share) ++ Seq.fill(60 - share)(rnd.alphanumeric.take(6).mkString))
        .mkString(" ")
    val docs = (Seq.tabulate(10)(i => (i.toLong, doc(58))) ++   // ~97% overlap pool
      Seq.tabulate(10)(i => (100L + i, doc(5)))).toDF("doc_id", "text")
    val pairs = operators.Dedup.minhashLsh(docs, "text", "doc_id", minBp = 7000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the high-overlap docs share 58/60 tokens pairwise → shingle
    // jaccard >> 0.7 → banded LSH must surface essentially all of them
    val hi = (for { i <- 0L until 10L; j <- (i + 1) until 10L } yield (i, j)).toSet
    assert(pairs.intersect(hi).size >= (hi.size * 0.9).toInt,
      s"found only ${pairs.intersect(hi).size} of ${hi.size} high-sim pairs")
    // and none of the low-overlap cross pairs survive verification
    assert(!pairs.exists { case (a, b) => a < 100 && b >= 100 })
  }

  test("editDistanceJoin equals naive edit-distance join on random strings") {
    import spark.implicits._
    val rnd = new Random(17)
    val alpha = "abcde"
    def word(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    // corpus of random 6-12 char strings over a SMALL alphabet (so
    // near pairs arise naturally), plus probes that are random edits
    // (delete / substitute / insert) of corpus rows
    val corpus = (0L until 120L).map(i => (i, word(6 + rnd.nextInt(7))))
    val probes = corpus.filter(_._1 % 4 == 0).map { case (i, w) =>
      val pos = rnd.nextInt(w.length)
      val p = rnd.nextInt(3) match {
        case 0 => w.substring(0, pos) + w.substring(math.min(pos + 1, w.length))
        case 1 => w.substring(0, pos) + alpha(rnd.nextInt(alpha.length)) +
          w.substring(math.min(pos + 1, w.length))
        case _ => w.substring(0, pos) + alpha(rnd.nextInt(alpha.length)) +
          w.substring(pos)
      }
      (i + 10000L, p)
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val got = graft.operators.Fuzzy.editDistanceJoin(
        corpus.toDF("id", "s"), "id", "s",
        probes.toDF("id", "s"), "id", "s", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(4)).toMap
    val expect = (for {
      (pid, p) <- probes; (cid, c) <- corpus
      d = lev(c, p) if d <= 2
    } yield (pid, cid) -> d).toMap
    assert(got == expect)
    assert(expect.nonEmpty)
  }

  test("stripCommonLines equals the brute-force definition on random corpora") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new Random(11)
    // small line vocabulary → guaranteed cross-document repeats
    val vocab = (0 until 12).map(i => s"line body number $i")
    val docs = (0L until 40L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))))
    val maxDocs = 8
    val got = Dedup.stripCommonLines(docs.toDF("doc_id", "lines"),
        "lines", "doc_id", maxDocs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // brute force: document frequency per line, strip, reassemble
    val df = docs.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (l, xs) => l -> xs.size }
    val expect = docs.flatMap { case (id, ls) =>
      val kept = ls.filter(l => df(l) <= maxDocs)
      if (kept.isEmpty) None
      else Some(id -> ((kept.mkString("\n"), kept.size.toLong)))
    }.toMap
    assert(got == expect)
  }

  test("containmentPairs equals the set-algebra definition on random docs") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new Random(13)
    val alphabet = "abcdefgh "
    def doc(n: Int): String =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    // random docs + true excerpts of some of them
    val base = (0L until 25L).map(i => (i, doc(60 + rnd.nextInt(60))))
    val excerpts = base.filter(_._1 % 5 == 0).map { case (i, t) =>
      (i + 1000L, t.substring(5, 5 + 30 + rnd.nextInt(15)))
    }
    val all = base ++ excerpts
    val k = 5
    def shingles(t: String): Set[String] =
      if (t.length < k) Set.empty
      else (0 to t.length - k).map(i => t.substring(i, i + k)).toSet
    val minBp = 7000
    val got = Dedup.containmentPairs(all.toDF("doc_id", "text"),
        "text", "doc_id", k, minBp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    val expect = (for {
      (a, ta) <- all; (b, tb) <- all if a < b
      sa = shingles(ta); sb = shingles(tb)
      common = sa.intersect(sb).size if sa.nonEmpty && sb.nonEmpty
      bp = math.floor(10000.0 * common / math.min(sa.size, sb.size)).toLong
      if bp >= minBp
    } yield (a, b) -> bp).toMap
    assert(got == expect)
    // every planted excerpt is found against its source
    assert(excerpts.forall { case (eid, _) => got.contains((eid - 1000L, eid)) })
  }

  test("dupGramStats equals the set-algebra definition on random corpora") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new Random(29)
    val words = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    def doc(nTokens: Int): String =
      Seq.fill(nTokens)(words(rnd.nextInt(words.size))).mkString(" ")
    // random docs of varied length INCLUDING sub-n docs (the omission
    // contract), plus exact copies (guaranteed full duplication)
    val n = 4
    val base = (0L until 40L).map(i => (i, doc(2 + rnd.nextInt(12))))
    val copies = base.filter(_._1 % 8 == 0).map { case (i, t) => (i + 500L, t) }
    val all = base ++ copies
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < n) Set.empty
      else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val gs = all.map { case (i, t) => i -> grams(t) }
    val freq = gs.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val expect = gs.collect { case (i, g) if g.nonEmpty =>
      val dup = g.count(freq(_) >= 2)
      i -> (g.size.toLong, dup.toLong, dup.toLong * 10000 / g.size)
    }.toMap
    val got = Dedup.dupGramStats(all.toDF("doc_id", "text"), "text", "doc_id", n)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expect)
    // sub-n docs are omitted, everything else present
    assert(got.keySet == gs.filter(_._2.nonEmpty).map(_._1).toSet)
    // every exact copy (and its source) is fully duplicated
    assert(copies.forall { case (cid, _) =>
      got(cid)._3 == 10000L && got(cid - 500L)._3 == 10000L })
  }

  test("tfIdfTopK equals the naive ranking on random corpora") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val rnd = new Random(31)
    val words = Seq("red", "blue", "green", "gold", "iron", "clay", "salt", "wood",
      "rare1", "rare2", "rare3")
    def doc(): String = {
      // skew: common words everywhere, rare words in few docs
      val nTok = 5 + rnd.nextInt(20)
      Seq.fill(nTok)(words(math.min(rnd.nextInt(words.size),
        rnd.nextInt(words.size)))).mkString(" ")
    }
    val all = (0L until 50L).map(i => (i, doc()))
    val k = 3
    val nDocs = all.size.toLong
    val tf = all.flatMap { case (i, t) =>
      t.split(" ", -1).filter(_.nonEmpty).map(w => (i, w)) }
      .groupBy(identity).map { case (key, o) => key -> o.size.toLong }
    val df = tf.keys.toSeq.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val expect = tf.toSeq
      .map { case ((i, w), f) => (i, w, f, f * 1000000L * nDocs / df(w)) }
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy { case (_, w, _, s) => (-s, w) }.take(k).zipWithIndex
          .map { case ((i, w, f, s), r) => (i, w, f, s, r + 1L) }
      }.toSet
    val got = TextAnalysis.tfIdfTopK(all.toDF("doc_id", "text"),
        "text", "doc_id", k)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expect)
  }

  test("scd2 invariants on random changelogs: versions tile the key timeline") {
    import spark.implicits._
    val rnd = new Random(13)
    for (trial <- 1 to 5) {
      // random per-key histories with unique (key, ts) and I/U/D mixed
      val rows = (0 until 4).flatMap { k =>
        val n = 1 + rnd.nextInt(8)
        Random.shuffle((0 until 40).toList).take(n).sorted.zipWithIndex.map {
          case (t, i) =>
            val manip = if (i == 0) "I"
              else Seq("I", "U", "D")(rnd.nextInt(3))
            (k.toLong, new Timestamp(t * 1000L), i + 1, manip, s"v$k-$i")
        }
      }
      val df = rows.toDF("k", "op_ts", "seq", "manip", "v")
      val got = graft.operators.Cdc.scd2(df, "k")
        .select("k", "valid_from", "valid_to", "is_current")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          Option(r.getTimestamp(2)), r.getBoolean(3)))
      got.groupBy(_._1).foreach { case (k, versions) =>
        val sorted = versions.sortBy(_._2.getTime)
        // each version ends exactly where the key's next change begins
        val changeTimes = rows.filter(_._1 == k).map(_._2.getTime).sorted
        sorted.foreach { case (_, from, to, current) =>
          val after = changeTimes.filter(_ > from.getTime)
          val expectTo = after.headOption
          assert(to.map(_.getTime) == expectTo, s"trial $trial key $k")
          assert(current == to.isEmpty)
        }
        // at most one open version per key, and only when the key's
        // last change is not a delete
        val lastManip = rows.filter(_._1 == k).maxBy(r => (r._2.getTime, r._3))._4
        assert(sorted.count(_._3.isEmpty) == (if (lastManip == "D") 0 else 1),
          s"trial $trial key $k open-version count")
      }
    }
  }

  test("TwsCep property run: 100 random multi-trigger schedules under a random " +
      "micro-batch slicing equal the batch matcher (r12 verdict item 7)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // RocksDB provider + tiny shuffle width, as the TwsCep parity tests
    withRocksDb { ckpt =>
      // 100 independent random schedules (state is per-key, so one
      // streaming query over 100 keys IS 100 schedules): 5-30 events
      // per key, multiple view triggers with overlapping windows,
      // noise types, tied timestamps all arise at these densities.
      val rnd = new Random(101)
      val B = 1704067200L // 2024-01-01 UTC, seconds
      def ms(sec: Long) = (B + sec) * 1000L
      val types = Vector("view", "click", "purchase", "noise")
      var nextId = 1L
      val events: Seq[(Long, Long, Long, String)] = (1 to 100).flatMap { u =>
        val n = 5 + rnd.nextInt(26)
        Seq.fill(n) {
          val id = nextId; nextId += 1
          (id, u.toLong, rnd.nextInt(400).toLong, types(rnd.nextInt(types.size)))
        }
      }
      // batch truth over the identical frame
      val batchDf = events.map { case (id, u, sec, ty) =>
        (id, u, new Timestamp(ms(sec)), ty) }
        .toDF("event_id", "user_id", "ts", "event_type")
      val batch = graft.operators.Cep.nextMatchEpisodes(batchDf, "user_id",
          "ts", "event_id", "event_type", Seq("view", "click", "purchase"), 100L)
        .collect()
      val batchCompleted = batch.filter(_.getBoolean(7))
        .map(r => (r.getLong(1), r.getLong(0), Seq(r.getLong(4), r.getLong(6))))
        .toSet
      val batchExpired = batch.filterNot(_.getBoolean(7)).map(_.getLong(0)).toSet
      // arrival order = event time + random jitter STRICTLY below the
      // 50 s delay (so no event is ever watermark-dropped — batch sees
      // everything, parity must be exact), then a random slicing into
      // micro-batches: every batch boundary is a random watermark jump,
      // including jumps across several timer expiries at once (the r12
      // retention-horizon fix's scenario).
      val arrivals = events
        .map(e => (e, e._3 + rnd.nextInt(50)))
        .sortBy { case ((id, _, _, _), a) => (a, id) }
        .map(_._1)
      val nBatches = 6 + rnd.nextInt(7)
      val cuts = (Seq(0, arrivals.size) ++
        Seq.fill(nBatches - 1)(rnd.nextInt(arrivals.size + 1))).sorted
      val slices = cuts.zip(cuts.tail).map { case (a, b) => arrivals.slice(a, b) }
        .filter(_.nonEmpty)
      assert(slices.size >= 5, s"degenerate slicing: ${slices.size} batches")
      val input = MemoryStream[(Long, Long, Long, String)]
      val q = graft.streaming.TwsCep.episodes(
          input.toDS().toDF("event_id", "user_id", "ms", "event_type")
            .withColumn("ts", timestamp_millis(col("ms"))),
          Seq("view", "click", "purchase"), windowSecs = 100L,
          delay = "50 seconds")
        .writeStream.format("memory").queryName("cep_prop")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      try {
        slices.foreach { sl =>
          input.addData(sl.map { case (id, u, sec, ty) => (id, u, ms(sec), ty) })
          q.processAllAvailable()
        }
        // final tick flushes every open window past its timer
        input.addData((999999L, 9999L, ms(10000L), "view"))
        q.processAllAvailable()
        val got = spark.table("cep_prop").filter(col("user_id") < 9999L)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](3).toSeq,
            r.getBoolean(4)))
          .toSet
        // completed episodes: bit-for-bit (key, trigger, bound step ids)
        val streamCompleted = got.filter(_._4).map(g => (g._1, g._2, g._3))
        assert(streamCompleted == batchCompleted,
          s"completed parity broke on ${
            (streamCompleted -- batchCompleted) ++ (batchCompleted -- streamCompleted)
          }")
        // expired episodes: identical trigger set (binding columns are
        // window-truncated by contract, so ids only)
        val streamExpired = got.filterNot(_._4).map(_._2)
        assert(streamExpired == batchExpired,
          s"expired trigger sets diverge: ${
            (streamExpired -- batchExpired) ++ (batchExpired -- streamExpired)
          }")
        assert(streamCompleted.nonEmpty && streamExpired.nonEmpty,
          "degenerate run: one of the outcome classes is empty")
      } finally q.stop()
    }
  }

  test("km_survival at_risk DESC-cumulative equals the brute #durations>=t count") {
    // B116's load-bearing rewrite: at_risk(t) = Σ_{t'≥t}(events+censored)
    // via ONE cumulative window ordered t DESC over the (segment, t)
    // counts — vs the literal "count durations ≥ t" per event time.
    // Random censored duration sets across segments, heavy ties
    // included (the RANGE-vs-ROWS frame distinction only matters if
    // (segment, t) were non-unique — the groupBy guarantees it is).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(116)
    val durs = (0 until 6).flatMap { seg =>
      (0 until 300 + rnd.nextInt(200)).map { _ =>
        (s"seg$seg", rnd.nextInt(30).toLong, if (rnd.nextInt(4) == 0) 0L else 1L)
      }
    }
    val expected = durs.groupBy(_._1).flatMap { case (seg, rows) =>
      rows.map(_._2).distinct.sorted
        .filter(t => rows.exists(r => r._2 == t && r._3 == 1L))
        .map { t =>
          (seg, t, rows.count(_._2 >= t).toLong,
            rows.count(r => r._2 == t && r._3 == 1L).toLong,
            rows.count(r => r._2 == t && r._3 == 0L).toLong)
        }
    }.toSet
    val counts = durs.toDF("segment", "t_days", "ev")
      .groupBy(col("segment"), col("t_days"))
      .agg(sum(col("ev")).as("events"), sum(lit(1L) - col("ev")).as("censored"))
    val wd = Window.partitionBy(col("segment")).orderBy(col("t_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = counts
      .withColumn("at_risk", sum(col("events") + col("censored")).over(wd))
      .filter(col("events") > 0)
      .select(col("segment"), col("t_days"), col("at_risk"),
        col("events"), col("censored"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected)
  }

  test("abc two-level banded prefix equals the naive global cumulative") {
    // B117's scale move: per-band offsets (band = v div B, monotone in
    // v) + a within-band window replace the single global sort. Random
    // skewed value sets with heavy band-boundary ties vs the literal
    // sorted cumulative.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(117)
    val B = 100L
    val vals = (0L until 2000L).map { id =>
      val v = if (rnd.nextInt(3) == 0) (rnd.nextInt(5) * B) // exact boundary
              else rnd.nextInt(5000).toLong
      (id, v)
    }
    val expected = vals.sortBy { case (id, v) => (-v, id) }
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, v)) => (id, v, cum + v) }
      .drop(1).map { case (id, _, cum) => (id, cum) }.toMap
    val df = vals.toDF("id", "v").withColumn("band", expr(s"v div $B"))
    val wband = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bandOff = df.groupBy(col("band")).agg(sum(col("v")).as("mass"))
      .select(col("band"), coalesce(sum(col("mass")).over(wband), lit(0L)).as("off"))
    val wloc = Window.partitionBy(col("band"))
      .orderBy(col("v").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val got = df.join(broadcast(bandOff), "band")
      .withColumn("cum",
        col("off") + coalesce(sum(col("v")).over(wloc), lit(0L)) + col("v"))
      .select(col("id"), col("cum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("cusum prefix identity matches the max(0, S+r) recursion on random series") {
    // B90's load-bearing rewrite: S_i = max(0, S_{i-1} + r_i) equals
    // P_i − min(0, min_{j≤i} P_j) with P the prefix sum of r. 200
    // random integer series (signed residuals, runs of sustained
    // drift included) vs the literal recursion.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(90)
    val series = (0 until 200).flatMap { k =>
      var drift = 0
      (0 until (5 + rnd.nextInt(60))).zipWithIndex.map { case (_, i) =>
        if (rnd.nextInt(10) == 0) drift = rnd.nextInt(21) - 10
        (k.toLong, i.toLong, (rnd.nextInt(41) - 20 + drift).toLong)
      }
    }
    val expected = series.groupBy(_._1).flatMap { case (k, rows) =>
      var s = 0L
      rows.sortBy(_._2).map { case (_, i, r) =>
        s = math.max(0L, s + r); (k, i, s)
      }
    }.toSet
    val wp = Window.partitionBy(col("k")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = series.toDF("k", "i", "r")
      .withColumn("pfx", sum(col("r")).over(wp))
      .withColumn("cusum", col("pfx") - least(lit(0L), min(col("pfx")).over(wp)))
      .select(col("k"), col("i"), col("cusum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("shard_plan two-level prefix equals the naive cumulative assignment") {
    // C106's load-bearing decomposition: supergranule exclusive
    // offsets + per-super local prefixes must equal the plain ordered
    // cumulative sum for ANY byte distribution (empty granules, hot
    // granules, a granule bigger than the target). Random granule
    // sizes vs a Scala fold.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(106)
    val S = 8L; val Target = 1000L
    // sparse granule ids (gaps!) with occasional giants
    val g = (0 until 300).map { _ =>
      (rnd.nextInt(2000).toLong,
        if (rnd.nextInt(20) == 0) 3000L + rnd.nextInt(5000)
        else rnd.nextInt(400).toLong)
    }.groupBy(_._1).map { case (id, xs) => (id, xs.map(_._2).sum) }.toSeq
    val expected = g.sortBy(_._1).foldLeft((0L, Map.empty[Long, Long])) {
      case ((off, m), (id, bytes)) => (off + bytes, m + (id -> off / Target))
    }._2
    val gdf = g.toDF("granule_id", "bytes")
    val sup = gdf.groupBy(expr(s"granule_id div $S").as("super_id"))
      .agg(sum(col("bytes")).as("s_bytes"))
    val wsup = Window.orderBy(col("super_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val supOff = sup.select(col("super_id"),
      coalesce(sum(col("s_bytes")).over(wsup), lit(0L)).as("s_off"))
    val wloc = Window.partitionBy(col("super_id")).orderBy(col("granule_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val got = gdf.withColumn("super_id", expr(s"granule_id div $S"))
      .join(broadcast(supOff), "super_id")
      .withColumn("cum_before",
        col("s_off") + coalesce(sum(col("bytes")).over(wloc), lit(0L)))
      .select(col("granule_id"), expr(s"cum_before div $Target").as("shard"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("peak_concurrency sweep-line matches brute-force per-day maxima") {
    // B100's second-granularity net-delta semantics vs the definition:
    // for each day, max over its seconds of |{sessions s : t0 ≤ t ≤
    // t1}| — including days whose peak is the midnight carry-over.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(100)
    val Day = 86400L
    // sessions spanning midnights, zero-length, same-second handoffs
    val sess = (0 until 200).map { _ =>
      val t0 = rnd.nextInt(5 * Day.toInt).toLong
      (t0, t0 + rnd.nextInt(2 * Day.toInt))
    }
    val d0 = sess.map(_._1 / Day).min
    val dEnd = sess.map(s => (s._2 + 1) / Day).max
    val expected = (d0 to dEnd).flatMap { day =>
      // concurrency(t) is non-increasing between session starts, so a
      // day's max occurs at the day's first second or at some start
      // within the day — evaluate only those candidates
      val candidates = day * Day +:
        sess.map(_._1).filter(t => t / Day == day)
      val peak = candidates.map { t =>
        sess.count(s => s._1 <= t && t <= s._2).toLong
      }.max
      // engine emits only days carrying a boundary delta
      val hasDelta = sess.exists(s =>
        s._1 / Day == day || (s._2 + 1) / Day == day)
      if (hasDelta) Some(day -> peak) else None
    }.toMap
    val sdf = sess.toDF("t0", "t1")
    val deltas = sdf.select(col("t0").as("t"), lit(1L).as("delta"))
      .unionByName(sdf.select((col("t1") + 1).as("t"), lit(-1L).as("delta")))
      .groupBy(col("t")).agg(sum(col("delta")).as("delta"))
      .withColumn("day", expr(s"t div $Day"))
    val dayTot = deltas.groupBy(col("day")).agg(sum(col("delta")).as("day_delta"))
    val wdays = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = dayTot.select(col("day"),
      coalesce(sum(col("day_delta")).over(wdays), lit(0L)).as("carry_in"))
    val wsec = Window.partitionBy(col("day")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = deltas.withColumn("run", sum(col("delta")).over(wsec))
      .groupBy(col("day")).agg(max(col("run")).as("max_run"))
      .join(broadcast(carry), "day")
      .select(col("day"),
        (col("carry_in") + greatest(lit(0L), col("max_run"))).as("peak"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"diverging days: ${
      (got.toSet -- expected.toSet) ++ (expected.toSet -- got.toSet)}")
  }

  test("dau_wau sweep-line matches brute-force trailing-7-day distinct counts") {
    // B91's interval/delta construction vs the definition: for every
    // spine day d, wau(d) = |{u : u active on some day in [d−6, d]}|,
    // on a random sparse activity set (gaps > 7 days included so the
    // dead-zone wau = 0 branch is exercised).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(91)
    val active = (for {
      u <- 0L until 40L
      _ <- 0 until (1 + rnd.nextInt(8))
    } yield (u, rnd.nextInt(60).toLong)).distinct
    val d0 = active.map(_._2).min
    val d1 = active.map(_._2).max
    val expected = (d0 to d1).map { day =>
      day -> active.filter(a => a._2 >= day - 6 && a._2 <= day)
        .map(_._1).distinct.size.toLong
    }.toMap
    val ud = active.toDF("user_id", "day")
    val wu = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val iv = ud
      .select(col("day").as("cstart"), lead(col("day"), 1).over(wu).as("nx"))
      .select(col("cstart"),
        when(col("nx").isNull || col("nx") > col("cstart") + 6,
          col("cstart") + 6).otherwise(col("nx") - 1).as("cend"))
    val deltas = iv.select(col("cstart").as("day"), lit(1L).as("delta"))
      .unionByName(iv.select((col("cend") + 1).as("day"), lit(-1L).as("delta")))
      .groupBy(col("day")).agg(sum(col("delta")).as("delta"))
    val spine = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day"))
    val wd = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = spine.join(deltas, Seq("day"), "left")
      .select(col("day"), coalesce(col("delta"), lit(0L)).as("delta"))
      .withColumn("wau", sum(col("delta")).over(wd))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expected)
  }
}
