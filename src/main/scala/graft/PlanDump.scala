package graft

/** r19 optimization-round tooling: dump `.explain("formatted")` for
  * named queries to files, so plan-shape claims (Exchange counts, join
  * strategies, PushedFilters) are checkable without running Spark.
  *
  * `sbt "runMain graft.PlanDump plans/r19 before topk_diverse hits_scores"`
  * writes `plans/r19/topk_diverse_before.txt`, … against
  * `SPARK_GRAFT_SF_DIR` (default sf0.1 — the bench's scale factor, so
  * the dumped plan is the one the bench times; AQE initial plan).
  *
  * The text is [[normalize]]d, so two dumps of the same plan compare
  * equal whatever ran before them in the session.
  */
object PlanDump {

  private val TmpDir = java.util.regex.Pattern.quote(
    new java.io.File(System.getProperty("java.io.tmpdir")).getAbsolutePath)

  /** Ids that drift between runs: session counters (expression ids,
    * physical plan ids, RDD ids) and random temp-dir suffixes. */
  private val Drifting = Seq("(?<=#)\\d+", "(?<=plan_id=)\\d+", "(?<=RDD\\[)\\d+",
    s"(?<=$TmpDir/[A-Za-z_.-]{0,64})\\d+").map(_.r)

  /** `txt` with each drifting id renumbered by first appearance (per
    * kind, from 1), so plan text compares across runs and sessions. */
  private[graft] def normalize(txt: String): String =
    Drifting.foldLeft(txt) { (t, re) =>
      val seen = scala.collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(t, m => seen.getOrElseUpdate(m.matched, seen.size + 1).toString)
    }

  /** The formatted, normalized plan of `key` over `sfDir`, with a header. */
  private[graft] def dump(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String, key: String, tag: String): String = {
    val df = SparkEntry.queries(key)(spark, sfDir)
    // queryExecution.explainString gives exactly what
    // .explain("formatted") prints, without capturing stdout
    val txt = normalize(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    val exchanges = "\\bExchange\\b".r.findAllIn(txt).size
    s"== $key @ $sfDir ($tag) == exchange_mentions=$exchanges\n" +
      s"(builder-side materializations — localCheckpoint/persist of\n" +
      s" intermediate frames — run before this final plan; see query source)\n\n" +
      txt
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <key>...")
    val outDir = args(0)
    val tag = args(1)
    val keys = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { key =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${key}_$tag.txt"),
        dump(spark, sfDir, key, tag).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"PLANDUMP $key -> $outDir/${key}_$tag.txt")
    }
    spark.stop()
  }
}
