package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.io.{LocalFs, RawLocalFs}

/** The engine's `file:` file system (`graft.io.LocalFs`, registered in
  * `core-site.xml`): every route to a local path resolves to it, it
  * leaves the same permission bits as stock Hadoop without forking
  * `chmod`, and it still writes `.crc` checksums.
  */
class LocalFsSpec extends AnyFunSuite with TimeLimits {

  /** Interrupts a write that overruns, so `failAfter` fails it. */
  private implicit val signaler: Signaler = ThreadSignaler

  private def mode(octal: String): Short = Integer.parseInt(octal, 8).toShort

  private val modes = Seq("600", "644", "700", "750", "755", "444")

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("localfs-spec")
    try body(dir)
    finally deleteTree(dir)
  }

  /** Deletes a tree whose directories may have been left unwritable. */
  private def deleteTree(p: JPath): Unit = {
    if (Files.isDirectory(p)) {
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwx------"))
      Files.list(p).iterator.asScala.toList.foreach(deleteTree)
    }
    Files.deleteIfExists(p)
  }

  private def bits(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("file: paths resolve to LocalFs over the in-process raw file system") {
    val local = FileSystem.getLocal(new Configuration())
    assert(local.getClass === classOf[LocalFs])
    assert(local.getRaw.getClass === classOf[RawLocalFs])
    withTempDir { dir =>
      val fs = new Path(dir.toUri)
        .getFileSystem(TestSpark.spark.sparkContext.hadoopConfiguration)
      assert(fs.getClass === classOf[LocalFs])
    }
  }

  test("create, mkdirs, mkdirs(p, perm) and setPermission leave the bits " +
      "stock RawLocalFileSystem leaves") {
    val stock = init(new RawLocalFileSystem)
    val ours = init(new RawLocalFs)
    withTempDir { dir =>
      def both(name: String)(op: (RawLocalFileSystem, Path) => Unit): Unit = {
        val a = dir.resolve("stock").resolve(name)
        val b = dir.resolve("ours").resolve(name)
        op(stock, new Path(a.toUri))
        op(ours, new Path(b.toUri))
        assert(bits(b) === bits(a), name)
      }
      both("mkdirs/a/b")((fs, p) => assert(fs.mkdirs(p)))
      modes.foreach { o =>
        val perm = new FsPermission(mode(o))
        both(s"create-$o")((fs, p) =>
          fs.create(p, perm, false, 4096, 1.toShort, 1L << 20, null).close())
        both(s"mkdirs-$o/a/b")((fs, p) => assert(fs.mkdirs(p, perm)))
        both(s"file-$o") { (fs, p) =>
          fs.create(p).close()
          fs.setPermission(p, perm)
        }
        both(s"dir-$o") { (fs, p) =>
          assert(fs.mkdirs(p))
          fs.setPermission(p, perm)
        }
        // setPermission is exact: no umask applies.
        assert(Integer.parseInt(bits(dir.resolve(s"ours/file-$o"))
          .map(c => if (c == '-') '0' else '1'), 2) === mode(o).toInt, o)
      }
    }
  }

  test("a sticky bit is still set") {
    val ours = init(new RawLocalFs)
    withTempDir { dir =>
      val p = dir.resolve("shared")
      assert(ours.mkdirs(new Path(p.toUri)))
      ours.setPermission(new Path(p.toUri), new FsPermission(mode("1777")))
      assert((Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff) ===
        mode("1777").toInt, "mode 01777")
    }
  }

  test("setPermission on a missing path throws an IOException") {
    val ours = init(new RawLocalFs)
    withTempDir { dir =>
      intercept[IOException](ours.setPermission(
        new Path(dir.resolve("missing").toUri), new FsPermission(mode("644"))))
    }
  }

  test("it stays a checksummed file system: a .crc is written next to " +
      "each file and the data reads back") {
    val fs = FileSystem.getLocal(new Configuration())
    assert(fs.isInstanceOf[ChecksumFileSystem])
    withTempDir { dir =>
      val p = new Path(dir.resolve("data.bin").toUri)
      val data = Array.tabulate[Byte](4096)(_.toByte)
      val out = fs.create(p)
      out.write(data)
      out.close()
      assert(Files.exists(dir.resolve(".data.bin.crc")))
      val back = new Array[Byte](data.length)
      val in = fs.open(p)
      try in.readFully(back)
      finally in.close()
      assert(back.sameElements(data))
    }
  }

  test("a parquet write forks no chmod, leaves _SUCCESS and the .crc " +
      "files, and reads back the same rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    withTempDir { dir =>
      val out = dir.resolve("t").toString
      val rows = (0 until 200).map(i => (i.toLong, s"note $i"))
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      // Each wait is bounded: the write, then one `true` process that
      // shows the recording sees the processes this JVM starts.
      try {
        failAfter(120.seconds)(
          rows.toDF("id", "text").repartition(3).write.parquet(out))
        assert(new ProcessBuilder("true").start().waitFor(30, TimeUnit.SECONDS))
      } finally rec.stop()
      val jfr = dir.resolve("write.jfr")
      rec.dump(jfr)
      rec.close()
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command")).toSeq
      assert(commands.contains("true"), commands)
      assert(!commands.exists(_.startsWith("chmod")),
        commands.mkString("processes started during the write: ", "; ", ""))

      val files = Files.list(Paths.get(out)).iterator.asScala
        .map(_.getFileName.toString).toSet
      val parts = files.filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
      assert(files.contains("_SUCCESS") && files.contains("._SUCCESS.crc"), files)
      assert(parts.nonEmpty, files)
      parts.foreach(f => assert(files.contains(s".$f.crc"), files))
      assert(spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq ===
        rows)
    }
  }
}
