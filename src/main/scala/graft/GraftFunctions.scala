package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}

import graft.functions.{Fingerprint64, GramMatrix, MinHashSig, MisraGries, ParseSqdataTs, ReservoirSample, SimHashSig, TopK, VecDistSq, VecDot}

/** Registration + Column-API surface for graft's native Catalyst
  * expressions. Registration is idempotent; every `SparkEntry.queries`
  * entry calls [[register]] first so the functions resolve regardless
  * of how the session was built (the driver's `Verify`/`Bench` build
  * their own sessions without [[GraftExtensions]]).
  */
object GraftFunctions {

  /** The one native-function table: (name, expression class, builder).
    * [[register]] installs it into a live session and
    * [[GraftExtensions]] injects it at session build, so both surfaces
    * resolve the same names. */
  private[graft] val natives: Seq[(String, Class[_], Seq[Expression] => Expression)] = {
    def intArg(e: Expression): Int = e.asInstanceOf[Literal].value.asInstanceOf[Int]
    Seq(
      ("parse_sqdata_ts", classOf[ParseSqdataTs], e => ParseSqdataTs(e.head)),
      ("fingerprint64", classOf[Fingerprint64], e => Fingerprint64(e.head)),
      ("minhash_sig", classOf[MinHashSig], e => MinHashSig(e.head, intArg(e(1)))),
      ("simhash_sig", classOf[SimHashSig], e => SimHashSig(e.head)),
      ("reservoir_sample", classOf[ReservoirSample],
        e => ReservoirSample(e.head, intArg(e(1)))),
      ("top_k", classOf[TopK], e => TopK(e.head, intArg(e(1)))),
      ("gram_matrix", classOf[GramMatrix], e => GramMatrix(e.head)),
      ("mg_sketch", classOf[MisraGries], e => MisraGries(e.head, intArg(e(1)))),
      ("vec_dot", classOf[VecDot], e => VecDot(e.head, e(1))),
      ("vec_dist_sq", classOf[VecDistSq], e => VecDistSq(e.head, e(1))),
      // Spark's internal bloom-membership predicate (the one runtime
      // row-level filtering plans), surfaced so a driver-built
      // util.sketch.BloomFilter literal can prefilter a scan
      ("bloom_might_contain", classOf[BloomFilterMightContain],
        e => BloomFilterMightContain(e.head, e(1))))
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    natives.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  /** `yyyyMMddHHmmss[f...]` digit string → timestamp (ref DateParser). */
  def parse_sqdata_ts(c: Column): Column = call_function("parse_sqdata_ts", c)

  /** 64-bit FNV-1a content fingerprint. */
  def fingerprint64(c: Column): Column = call_function("fingerprint64", c)

  /** MinHash signature (`numPerm` minima) over an array<bigint> of
    * element hashes — one pass, no intermediate arrays. */
  def minhash_sig(c: Column, numPerm: Int): Column =
    call_function("minhash_sig", c, org.apache.spark.sql.functions.lit(numPerm))

  /** 64-bit SimHash over an array<bigint> of token hashes — one
    * JIT-compiled pass per row, in-scan (see functions.SimHashSig;
    * replaces the 64-pass interpreted HOF fold). */
  def simhash_sig(c: Column): Column = call_function("simhash_sig", c)

  /** Uniform k-reservoir sample aggregate over a bigint column — one
    * pass, k-sized state, distributed merge (no sort, no shuffle of
    * the data being sampled). */
  def reservoir_sample(c: Column, k: Int): Column =
    call_function("reservoir_sample", c, org.apache.spark.sql.functions.lit(k))

  /** Top-k bigints per group via a bounded min-heap aggregate — the
    * O(n log k) / k-state replacement for sort-based window ranking. */
  def top_k(c: Column, k: Int): Column =
    call_function("top_k", c, org.apache.spark.sql.functions.lit(k))

  /** Upper-triangle Gram matrix aggregate over caller-quantized
    * `array<bigint>` vectors — the map-side-combining statistic
    * behind distributed PCA/covariance (see functions.GramMatrix:
    * only dim²/2 longs per partition cross the shuffle). */
  def gram_matrix(c: Column): Column = call_function("gram_matrix", c)

  /** Misra–Gries k-counter heavy-hitters summary over a bigint item
    * column — `array<struct<item, est>>` with the mergeable
    * guarantee est ≤ true ≤ est + n/(k+1) (see functions.MisraGries:
    * only partitions × k pairs cross the shuffle, never the
    * vocabulary). */
  def mg_sketch(c: Column, k: Int): Column =
    call_function("mg_sketch", c, org.apache.spark.sql.functions.lit(k))

  /** Codegen'd sequential-fold dot product over two float/double
    * arrays — bit-identical to `aggregate(zip_with(a, b, _*_), 0d,
    * _+_)` but a tight generated loop (see functions.VecFold). */
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Codegen'd sequential-fold squared L2 distance (both elements
    * widened to double). */
  def vec_dist_sq(a: Column, b: Column): Column =
    call_function("vec_dist_sq", a, b)

  /** Membership test of a bigint column against a serialized
    * `org.apache.spark.util.sketch.BloomFilter` (Spark's internal
    * `BloomFilterMightContain` predicate). False positives at the
    * filter's fpp; never false negatives. */
  def bloom_might_contain(bloomBytes: Array[Byte], c: Column): Column =
    call_function("bloom_might_contain",
      org.apache.spark.sql.functions.lit(bloomBytes), c)
}
