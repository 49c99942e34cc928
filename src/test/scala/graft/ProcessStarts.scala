package graft

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

/** Counts the operating-system processes this JVM starts: an
  * in-process JFR recording of `jdk.ProcessStart` with stack traces.
  * Hadoop's local file system forks `chmod`, `readlink` and `ls`
  * when libhadoop is missing, so the specs use it to pin which code
  * paths stay fork-free. */
object ProcessStarts {

  /** One started process: its command line and the classes on its
    * starting thread's stack, innermost first. */
  final case class Start(command: String, frames: Seq[String])

  /** Runs `body` under the recording and returns its result with the
    * processes started meanwhile by any thread of this JVM. */
  def during[T](body: => T): (T, Seq[Start]) = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart").withStackTrace()
      r.start()
      val out =
        try body
        finally r.stop()
      val f = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
      try {
        r.dump(f)
        (out, RecordingFile.readAllEvents(f).asScala.toSeq.map(start))
      } finally java.nio.file.Files.deleteIfExists(f)
    } finally r.close()
  }

  /** Processes started from Hadoop's file system code. */
  def fromHadoopFs(starts: Seq[Start]): Seq[Start] =
    starts.filter(_.frames.exists(_.startsWith("org.apache.hadoop.fs.")))

  private def start(e: RecordedEvent): Start =
    Start(e.getString("command"),
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(_.getMethod.getType.getName))
}
