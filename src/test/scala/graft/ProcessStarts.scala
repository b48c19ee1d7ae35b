package graft

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The operating-system processes this JVM starts, read from an
  * in-process JFR recording of `jdk.ProcessStart` events. Hadoop's
  * local file system forks helpers (`chmod`, `readlink`, `rm`) when the
  * native Hadoop library is missing, so a test can pin which code path
  * may still fork, and which must not. The recording sees every thread
  * of the JVM, the stream and executor threads included. */
object ProcessStarts {

  /** One started process: its command line and the top frames of the
    * stack that started it, innermost first, as `Class.method`. */
  final case class Start(command: String, frames: Seq[String]) {
    def program: String =
      command.trim.split("\\s+").headOption.getOrElse("")
        .split('/').last
  }

  /** Runs `body` under the recording and returns its value with the
    * processes started meanwhile, in start order. `depth` frames are
    * kept per start. */
  def during[A](depth: Int = 12)(body: => A): (A, Seq[Start]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val a = try body finally rec.stop()
      val file = java.nio.file.Files.createTempFile("graft_procs", ".jfr")
      try {
        rec.dump(file)
        val starts = RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .sortBy(_.getStartTime)
          .map { e =>
            val frames = Option(e.getStackTrace).toSeq
              .flatMap(_.getFrames.asScala.take(depth))
              .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
            Start(e.getString("command"), frames)
          }
        (a, starts)
      } finally java.nio.file.Files.deleteIfExists(file): Unit
    } finally rec.close()
  }
}
