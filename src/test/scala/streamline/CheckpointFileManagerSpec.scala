package streamline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.{ProcessStarts, SparkEntry, SparkSuite}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import streamline.stream.{NioCheckpointFileManager, Streams}
import streamline.util.Scratch

/** A raw local file system registered under a scheme other than
  * `file:`, counting the creates and mkdirs that reach it. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def getScheme: String = "graftcount"
  override def create(f: Path, overwrite: Boolean): FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(f, overwrite)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingLocalFs.mkdirs.incrementAndGet()
    super.mkdirs(f, permission)
  }
}
object CountingLocalFs {
  val creates = new AtomicInteger(0)
  val mkdirs = new AtomicInteger(0)
}

/** [[NioCheckpointFileManager]], the checkpoint file manager every
  * drain runs with: it keeps Spark's atomic write protocol, forks no
  * helper process on `file:` paths, leaves other schemes to Spark's
  * file-system manager, and reads and writes the same checkpoint files
  * as Spark's default manager, so a checkpoint restarts across the
  * two. */
class CheckpointFileManagerSpec extends SparkSuite {

  private def withDir[A](body: java.nio.file.Path => A): A = {
    val dir = Files.createTempDirectory("graft_cfm")
    try body(dir) finally Streams.deleteRec(dir.toFile)
  }

  private def manager(dir: java.nio.file.Path) =
    new NioCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def write(out: FSDataOutputStream, s: String): Unit =
    out.write(s.getBytes(UTF_8))

  private val forks = Set("chmod", "readlink")

  test("createAtomic then close leaves only the final file, forking nothing") {
    withDir { dir =>
      val fm = manager(dir)
      val (_, starts) = ProcessStarts.during() {
        fm.mkdirs(new Path(dir.resolve("a/b").toUri))
        val out = fm.createAtomic(new Path(dir.resolve("a/b/f").toUri),
          overwriteIfPossible = false)
        write(out, "one")
        out.close()
      }
      assert(names(dir.resolve("a/b")) == Set("f"))
      assert(Files.readString(dir.resolve("a/b/f")) == "one")
      assert(!starts.exists(s => forks(s.program)),
        starts.map(_.command).mkString("; "))
    }
  }

  test("cancel leaves neither the final nor the temp file") {
    withDir { dir =>
      val out = manager(dir).createAtomic(new Path(dir.resolve("f").toUri),
        overwriteIfPossible = true)
      write(out, "partial")
      assert(names(dir).size == 1, "the temp file is written first")
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("an existing path is replaced only when overwriting is allowed") {
    withDir { dir =>
      val fm = manager(dir)
      val f = new Path(dir.resolve("f").toUri)
      Files.writeString(dir.resolve("f"), "old")
      val keep = fm.createAtomic(f, overwriteIfPossible = false)
      write(keep, "new")
      intercept[FileAlreadyExistsException](keep.close())
      assert(Files.readString(dir.resolve("f")) == "old")
      val replace = fm.createAtomic(f, overwriteIfPossible = true)
      write(replace, "new")
      replace.close()
      assert(Files.readString(dir.resolve("f")) == "new")
      assert(names(dir).size == 2, "only the refused write's temp file is left")
    }
  }

  test("a path outside file: goes to Spark's file-system manager") {
    withDir { dir =>
      val conf = new Configuration()
      conf.set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
      conf.setBoolean("fs.graftcount.impl.disable.cache", true)
      def at(rel: String) = new Path(s"graftcount://${dir.resolve(rel)}")
      val fm = new NioCheckpointFileManager(at("ck"), conf)
      val (c0, m0) = (CountingLocalFs.creates.get, CountingLocalFs.mkdirs.get)
      fm.createCheckpointDirectory()
      fm.mkdirs(at("ck/offsets"))
      val out = fm.createAtomic(at("ck/offsets/0"), overwriteIfPossible = false)
      write(out, "v1")
      out.close()
      assert(CountingLocalFs.creates.get - c0 == 1)
      assert(CountingLocalFs.mkdirs.get - m0 == 2)
      assert(Files.readString(dir.resolve("ck/offsets/0")) == "v1")
      assert(fm.exists(at("ck/offsets/0")))
    }
  }

  /** Relative paths of the files under `root`. */
  private def files(root: String): Set[String] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map(r.relativize(_).toString).toSet
  }

  /** The checkpoint's layout: its files with every batch or version
    * number as `N`, without the state snapshots, which the background
    * maintenance task writes on its own schedule, and the `.crc` side
    * files that Spark's default manager leaves next to each file it
    * writes. The batch count is not compared: whether a run ends with a
    * no-data batch depends on which staged file, named at random, the
    * source reads last. */
  private def ckFiles(root: String): Set[String] =
    files(root).filterNot(f => f.endsWith(".snapshot") || f.endsWith(".crc"))
      .map(_.replaceAll("[0-9]+", "N"))

  test("a checkpoint restarts across Spark's default manager and the drain's") {
    val rows = SparkEntry.queries("q_stream_recovery")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(rows.nonEmpty)
    val single = files(Scratch.dir("recov", sfDir) + "/ck")
    assert(!single.exists(f => f.endsWith(".crc") || f.endsWith(".tmp")),
      single.filter(f => f.endsWith(".crc") || f.endsWith(".tmp")))
    val default = Streams.fileManagerKey ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileContextBasedCheckpointFileManager")
    val nio = Streams.fileManagerKey ->
      classOf[NioCheckpointFileManager].getName
    Seq("default_then_nio" -> (default, nio),
        "nio_then_default" -> (nio, default)).foreach {
      case (tag, (first, restart)) =>
        val got = Streams.recoveryDrain(spark, sfDir, s"xmgr_$tag",
          Seq(first), Some(Seq(restart))).collect().map(_.toSeq).toSeq
        assert(got == rows, s"$tag: the restart changed the answer")
        val ck = ckFiles(Scratch.dir(s"xmgr_$tag", sfDir) + "/ck")
        assert(ck == ckFiles(Scratch.dir("recov", sfDir) + "/ck"),
          s"$tag: checkpoint layouts differ")
        assert(!ck.exists(_.endsWith(".tmp")), s"$tag left temp files")
        Streams.deleteRec(new java.io.File(Scratch.dir(s"xmgr_$tag", sfDir)))
    }
  }

  test("a drain starts no chmod or readlink process") {
    val q = SparkEntry.queries("q_stream_cumulate")
    q(spark, sfDir).collect() // warm: first-use class loading and setup
    val (n, starts) = ProcessStarts.during()(q(spark, sfDir).collect().length)
    assert(n > 0)
    val bad = starts.filter(s => forks(s.program))
    assert(bad.isEmpty, s"${bad.size} forks, e.g. " + bad.take(3)
      .map(s => s"${s.command} <- ${s.frames.mkString(" < ")}").mkString("; "))
  }
}
