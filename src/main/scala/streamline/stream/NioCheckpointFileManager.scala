package streamline.stream

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The checkpoint file manager of every [[Streams.drain]]. Without the
  * native Hadoop library, Hadoop's local file system forks `chmod` for
  * each file and directory it makes, and Spark's default manager also
  * forks `readlink`. On `file:` paths this one makes temp files and
  * directories through java.nio (same umask permissions) and replaces
  * files itself on an overwriting rename; everything else, and every
  * other scheme, is Spark's `FileSystemBasedCheckpointFileManager`. */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val local = fs.getUri.getScheme == "file"

  private def nio(p: Path) = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!local) super.createTempFile(p)
    else new FSDataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(nio(p), StandardOpenOption.CREATE_NEW)), null)

  override def mkdirs(p: Path): Unit =
    if (!local) super.mkdirs(p) else Files.createDirectories(nio(p)): Unit

  /** Hive's `ProxyLocalFileSystem`, which serves `file:` when
    * hive-exec is on the classpath, will not rename onto a file, so
    * the superclass would keep the old file and leak the temp one. */
  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit =
    if (!local || !overwriteIfPossible)
      super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      Files.move(nio(src), nio(dst), StandardCopyOption.ATOMIC_MOVE)
      val crc = new Path(dst.getParent, s".${dst.getName}.crc")
      Files.deleteIfExists(nio(crc)): Unit
    }

  override def createCheckpointDirectory(): Path =
    if (!local) super.createCheckpointDirectory()
    else {
      val q = fs.makeQualified(path)
      Files.createDirectories(nio(q))
      q
    }
}
