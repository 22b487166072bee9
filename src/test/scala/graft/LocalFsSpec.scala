package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.{LocalFs => HadoopLocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** graft's `file:` filesystem against Hadoop's stock local one, through
  * the FileSystem API, FileContext and Spark's checkpoint file manager:
  * the same files, modes, `.crc` sidecars and link statuses. The graft
  * side is whatever a graft session configures, so the first test pins
  * that it is [[LocalFs]]. */
class LocalFsSpec extends SparkTestBase {

  private val Root = new URI("file:///")
  private val Payload = "graft checkpoint payload\n".getBytes("UTF-8")

  private def graftConf: Configuration = spark.sessionState.newHadoopConf()
  // named outright: left to service discovery, the FileSystem API's
  // `file:` is whichever jar registers it last (hive-exec's
  // ProxyLocalFileSystem, a wrapper over LocalFileSystem, among Spark's
  // bundled jars)
  private def stockConf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[HadoopLocalFs].getName)
    c
  }

  /** Runs `body` on an uncached FileSystem for `conf`, then closes it. */
  private def withFs[T](conf: Configuration)(body: FileSystem => T): T = {
    val fs = FileSystem.newInstance(Root, conf)
    try body(fs) finally fs.close()
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String): FsPermission = new FsPermission(octal(s).toShort)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every path under `root` (dot files included) -> its mode and, for a
    * file, its bytes. */
  private def tree(root: String): Map[String, (Int, Seq[Byte])] = {
    val r = Paths.get(root)
    val w = Files.walk(r)
    try w.iterator().asScala.filter(_ != r).map { p =>
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
      r.relativize(p).toString -> (mode(p), bytes)
    }.toMap
    finally w.close()
  }

  /** Files and dirs made every way a graft job makes them. */
  private def writeAll(conf: Configuration, dir: String): Unit = {
    withFs(conf) { fs =>
      fs.mkdirs(new Path(dir, "fs/a/b"))
      val out = fs.create(new Path(dir, "fs/a/b/part"))
      out.write(Payload); out.close()
      fs.setPermission(new Path(dir, "fs/a"), perm("750"))
    }
    val fc = FileContext.getFileContext(Root, conf)
    fc.mkdir(new Path(dir, "fc/a/b"), FsPermission.getDirDefault, true)
    val out = fc.create(new Path(dir, "fc/a/b/part"),
      java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    out.write(Payload); out.close()
    // a streaming checkpoint's log entry: temp file, then rename
    val cfm = CheckpointFileManager.create(new Path(dir, "ckpt"), conf)
    assert(cfm.getClass.getSimpleName == "FileContextBasedCheckpointFileManager")
    cfm.mkdirs(new Path(dir, "ckpt/offsets"))
    val atomic = cfm.createAtomic(new Path(dir, "ckpt/offsets/0"), false)
    atomic.write(Payload); atomic.close()
  }

  /** What a status says, with the class that says it. */
  private def describe(s: FileStatus): String = s"${s.getClass.getName}: $s"

  test("a graft session resolves file: to LocalFs through both Hadoop APIs") {
    assert(FileSystem.get(Root, graftConf).isInstanceOf[LocalFs.ForFileSystem])
    assert(AbstractFileSystem.get(Root, graftConf).isInstanceOf[LocalFs.ForFileContext])
  }

  test("create, mkdirs and createAtomic give the stock modes and .crc sidecars") {
    withTempDir { stock =>
      withTempDir { graft =>
        writeAll(stockConf, stock)
        writeAll(graftConf, graft)
        val want = tree(stock)
        assert(want.keySet.count(_.endsWith(".crc")) == 3, want.keySet)
        assert(!want.keySet.exists(_.endsWith(".tmp")), want.keySet)
        assert(tree(graft) == want)
      }
    }
  }

  test("getFileLinkStatus: the stock status for files, dirs, links and file: paths") {
    withTempDir { d =>
      val file = Files.write(Paths.get(d, "f"), Payload)
      val dir = Files.createDirectory(Paths.get(d, "d"))
      val link = Files.createSymbolicLink(Paths.get(d, "l"), file)
      val dangling = Files.createSymbolicLink(Paths.get(d, "x"), Paths.get(d, "gone"))
      val paths = Seq(file, dir, link, dangling).map(p => new Path(p.toString)) ++
        Seq(file, link).map(p => new Path("file:" + p))
      withFs(stockConf) { stockFs =>
        withFs(graftConf) { graftFs =>
          val stockFc = FileContext.getFileContext(Root, stockConf)
          val graftFc = FileContext.getFileContext(Root, graftConf)
          for (p <- paths) {
            assert(describe(graftFs.getFileLinkStatus(p)) ==
              describe(stockFs.getFileLinkStatus(p)), p)
            assert(describe(graftFc.getFileLinkStatus(p)) ==
              describe(stockFc.getFileLinkStatus(p)), p)
          }
          // a real link reads as one only through its unqualified path
          assert(graftFs.getFileLinkStatus(new Path(link.toString)).isSymlink)
          assert(!graftFs.getFileLinkStatus(new Path("file:" + link)).isSymlink)
          val missing = new Path(d, "missing")
          intercept[FileNotFoundException](stockFs.getFileLinkStatus(missing))
          intercept[FileNotFoundException](graftFs.getFileLinkStatus(missing))
          intercept[FileNotFoundException](graftFc.getFileLinkStatus(missing))
        }
      }
    }
  }

  test("setPermission keeps the sticky bit and a directory's setgid bit") {
    def modes(conf: Configuration): (Int, Int) = withTempDir { d =>
      withFs(conf) { fs =>
        val sticky = new Path(d, "sticky")
        fs.mkdirs(sticky)
        fs.setPermission(sticky, perm("1777"))
        val setgid = Paths.get(d, "setgid")
        Files.createDirectory(setgid)
        assert(Seq("chmod", "2755", setgid.toString).! == 0)
        fs.setPermission(new Path(setgid.toString), perm("750"))
        (mode(Paths.get(d, "sticky")), mode(setgid))
      }
    }
    val got = modes(graftConf)
    assert(got == modes(stockConf))
    assert(got == (octal("1777"), octal("2750")))
  }
}
