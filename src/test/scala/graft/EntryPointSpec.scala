package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural pins over src/main, pure file parse — no SparkSession.
  *
  * The set of runnable entry points: the driver contract (Verify,
  * Bench, StreamBench), the targeted bench and plan tools
  * (BenchSubset, PlanDump, PlanShape) and the 10× mirror builder
  * `tools/oracle10x.py` reads (TenX). A new one-shot measurement main
  * has to replace one of these or live outside the tree; its committed
  * artifact is the record. Also the one-copy shapes: a single
  * exact-Jaccard verify, and `Ckpt` as the only eager checkpoint.
  */
class EntryPointSpec extends AnyFunSuite {

  private val Mods = """(?:(?:private|protected|final|case)(?:\[\w+\])?\s+)*"""
  private val ObjectRe = s"^${Mods}object (\\w+)".r.unanchored
  private val AppRe = s"^${Mods}object (\\w+)\\b.*\\bextends App\\b".r.unanchored
  private val DefRe = """\bdef (\w+)""".r.unanchored

  /** (file, lines) for every .scala file under src/main/scala. */
  private lazy val sources: Seq[(String, Vector[String])] = {
    val root = java.nio.file.Paths.get("src/main/scala")
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

  /** (file name, enclosing `def`) of every line containing `needle`. */
  private def sites(needle: String): Seq[(String, Option[String])] =
    sources.flatMap { case (f, lines) =>
      var current: Option[String] = None
      lines.flatMap { l =>
        l match { case DefRe(name) => current = Some(name); case _ => }
        if (l.contains(needle))
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
}
