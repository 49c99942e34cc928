package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions._

/** Runs a main of the test classpath in a fresh JVM: fresh Cache memo,
  * fresh catalog, and a SparkContext whose STATIC confs the child
  * sets itself (the shared test session fixed its own at creation).
  * DiskIndexSpec forks [[IndexProbe]] as its second process and
  * SortSpillSpec forks its forced-spill entry through here. */
object FreshJvm {

  /** Starts `main(args)` in a 2 GB JVM on this JVM's classpath, stderr
    * merged into stdout. This JVM's --add-opens/-D flags pass through
    * (Spark-on-JDK17 needs them; sbt injected them into THIS fork). */
  def start(main: String, args: String*): Process = {
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toList
    val passThrough = jvmArgs.zipWithIndex.flatMap { case (a, i) =>
      if (a == "--add-opens" || a == "--add-exports")
        List(a, jvmArgs(i + 1))
      else if (a.startsWith("-Dspark.") || a.startsWith("--add-opens="))
        List(a)
      else Nil
    }
    val cmd = List(System.getProperty("java.home") + "/bin/java") ++
      passThrough ++ List("-Xmx2g", "-cp",
        System.getProperty("java.class.path"), main) ++ args
    new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
  }

  /** Waits for `proc` and returns its output; fails when it runs past
    * `timeoutS` or exits non-zero. */
  def output(proc: Process, timeoutS: Long = 240): String = {
    val out = new String(proc.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    assert(proc.waitFor(timeoutS, TimeUnit.SECONDS),
      s"child timed out; output:\n${out.takeRight(2000)}")
    assert(proc.exitValue() == 0,
      s"child exited ${proc.exitValue()}:\n${out.takeRight(2000)}")
    out
  }

  /** The first line of `out` that starts with `tag`. */
  def line(out: String, tag: String): String =
    out.linesIterator.find(_.startsWith(tag))
      .getOrElse(fail(s"no $tag line:\n${out.takeRight(2000)}"))
}
