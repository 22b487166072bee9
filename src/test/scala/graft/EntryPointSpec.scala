package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural pins over src/, pure file parse — no SparkSession.
  *
  * The set of runnable entry points: the driver contract (Verify,
  * Bench, StreamBench), the targeted bench and plan tools
  * (BenchSubset, PlanDump, PlanShape) and the 10× mirror builder
  * `tools/oracle10x.py` reads (TenX). A new one-shot measurement main
  * has to replace one of these or live outside the tree; its committed
  * artifact is the record. Also the one-copy shapes: a single
  * exact-Jaccard verify, `Ckpt` as the only eager checkpoint, one
  * latest-value enrichment engine, one spec temp-dir helper, one
  * session builder (so every session gets graft's `file:` filesystem),
  * one ANN top-k rank step with no streaming wrapper around it, one
  * copy of each shared oracle SQL helper, streaming sessions and day
  * gap moments on the batch window operators, one Misra-Gries
  * processor body, one word-n-gram window builder and one Bloom
  * serialization in the decontamination family.
  * Needles that name code are spelled in halves so that this file does
  * not match itself.
  */
class EntryPointSpec extends AnyFunSuite {

  private val Mods = """(?:(?:private|protected|final|case)(?:\[\w+\])?\s+)*"""
  private val ObjectRe = s"^${Mods}object (\\w+)".r.unanchored
  private val AppRe = s"^${Mods}object (\\w+)\\b.*\\bextends App\\b".r.unanchored
  private val DefRe = """\bdef (\w+)""".r.unanchored

  /** (file, lines) for every .scala file under `dir`. */
  private def scalaFiles(dir: String): Seq[(String, Vector[String])] = {
    val root = java.nio.file.Paths.get(dir)
    require(java.nio.file.Files.isDirectory(root), s"$root not found")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".scala")).toVector
      finally s.close()
    }
    files.sorted.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f -> src.getLines().toVector finally src.close()
    }
  }

  private lazy val sources = scalaFiles("src/main/scala")
  private lazy val testSources = scalaFiles("src/test/scala")

  /** (file, object) for every top-level object declaring `def main`
    * or extending `App` under src/main/scala. */
  private lazy val mains: Seq[(String, String)] =
    sources.flatMap { case (f, lines) =>
      var current: Option[String] = None
      lines.flatMap {
        case AppRe(name) => current = Some(name); Some(f -> name)
        case ObjectRe(name) => current = Some(name); None
        case l if l.contains("def main(") => current.map(f -> _)
        case _ => None
      }
    }

  /** (file name, enclosing `def`) of every line of `in` containing
    * `needle`; with `code`, comment lines do not count. */
  private def sites(needle: String, in: Seq[(String, Vector[String])] = sources,
                    code: Boolean = false): Seq[(String, Option[String])] =
    in.flatMap { case (f, lines) =>
      var current: Option[String] = None
      lines.flatMap { l =>
        l match { case DefRe(name) => current = Some(name); case _ => }
        val comment = Seq("//", "*", "/*").exists(l.trim.startsWith)
        if (l.contains(needle) && !(code && comment))
          Some(java.nio.file.Paths.get(f).getFileName.toString -> current)
        else None
      }
    }

  test("the entry points are exactly the seven kept mains") {
    val want = Set("Bench", "BenchSubset", "StreamBench", "Verify", "TenX",
      "PlanDump", "PlanShape")
    val got = mains.map(_._2)
    assert(got.distinct.size == got.size, s"duplicate mains: $mains")
    assert(got.toSet == want,
      s"unexpected: ${mains.filterNot(m => want(m._2)).mkString(", ")}; " +
        s"missing: ${(want -- got).toSeq.sorted.mkString(", ")}")
  }

  test("the MinHash-LSH family has one exact-Jaccard verify") {
    assert(sites("array_intersect") == Seq("Dedup.scala" -> Some("verifyJaccard")),
      sites("array_intersect"))
  }

  test("every eager local checkpoint goes through Ckpt (bench harness aside)") {
    val files = sites(".localCheckpoint()").map(_._1).toSet
    assert(files == Set("Ckpt.scala", "StreamBench.scala"), files)
  }

  test("one latest-value enrichment engine: the transformWithState twin is gone") {
    val gone = Seq("Tws" + "Enrichment", "enrichLatest" + "Tws", "Latest" + "Enrich")
    val hits = gone.flatMap(n => sites(n, sources ++ testSources).map(n -> _))
    assert(hits.isEmpty, hits)
  }

  test("CdcPipeline.enrichLatest is the only group-state operator") {
    val got = sites("flatMapGroups" + "WithState", sources ++ testSources, code = true)
    assert(got == Seq("CdcPipeline.scala" -> Some("enrichLatest")), got)
  }

  test("specs make temp dirs only through SparkTestBase") {
    val files = sites("createTemp" + "Directory", testSources).map(_._1).toSet
    assert(files == Set("SparkTestBase.scala"), files)
  }

  test("every session, the benchmark's included, is built by GraftSession.builder") {
    val all = sources ++ testSources ++ scalaFiles("perfbench/src/main/scala")
    val got = sites("SparkSession" + ".builder", all, code = true)
    assert(got == Seq("GraftSession.scala" -> Some("builder")), got)
  }

  test("streaming ANN search calls the batch probe from foreachBatch: no wrapper object") {
    val gone = Seq("TwsAnn" + "Probe", "lshProbe" + "Writer", "ivfProbe" + "Writer",
      "pqProbe" + "Writer")
    val hits = gone.flatMap(n => sites(n).map(n -> _))
    assert(hits.isEmpty, hits)
  }

  test("Similarity ranks top-k once: rankTopK beside the vote, fusion, MMR and mutual-NN ranks") {
    val sim = sources.filter(_._1.endsWith("Similarity.scala"))
    val got = sites("row_" + "number()", sim, code = true).flatMap(_._2)
    assert(got == Seq("rankTopK", "knnClassify", "rrfFusion", "rrfFusion", "rrfFusion",
      "mmrTopK", "mutualNearest", "mutualNearest"), got)
  }

  test("each shared oracle SQL helper and the near-dup corpus are defined once") {
    val queries = sources.filter(_._1.contains("/graft/queries/"))
    val defs = Seq("def dot" + "Sql(", "def cos" + "Sql(", "val Corpus" + "Cte ",
      "def cor" + "pus(", "def reve" + "nue", "val Rev" + " =")
    val counts = defs.map(d => d -> sites(d, queries, code = true).size)
    assert(counts.forall(_._2 == 1), counts)
  }

  test("streaming sessions and day gap moments are the batch window operators") {
    val gone = Seq("TwsSess" + "ionize", "TwsBurst" + "iness")
    val hits = gone.flatMap(n => sites(n).map(n -> _))
    assert(hits.isEmpty, hits)
    val sessionWindows = sites("session_" + "window(", code = true)
    assert(sessionWindows == Seq("Windows.scala" -> Some("session")), sessionWindows)
    val defs = Seq("def sess" + "ions(", "def dayGap" + "Moments(").map(d =>
      d -> sites(d, code = true).map(_._1))
    assert(defs.forall(_._2 == Seq("Windows.scala")), defs)
  }

  test("word-n-gram windows are built only by TextFunctions") {
    val needles = Seq("sequence(0, si" + "ze(", "sequence(1, si" + "ze(",
      "sequence(lit(0), si" + "ze(")
    val files = needles.flatMap(n => sites(n, code = true).map(n -> _._1))
    assert(files.map(_._2).toSet == Set("TextFunctions.scala"), files)
  }

  test("the decontamination family serializes a Bloom filter once") {
    val dedup = sources.filter(_._1.endsWith("Dedup.scala"))
    val got = sites("write" + "To(", dedup, code = true)
    assert(got.size == 1, got)
  }

  test("at most 11 transformWithState processor bodies") {
    val got = sites("extends Stateful" + "Processor", code = true)
    assert(got.size <= 11, got)
  }
}
