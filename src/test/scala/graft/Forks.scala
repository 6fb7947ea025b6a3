package graft

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions.assert

/** The processes this JVM starts while a body runs, read back from an
  * in-process JFR recording of `jdk.ProcessStart`. The recording is
  * JVM-wide, so suites that use it must run serialized (they do).
  */
object Forks {

  /** The command line of every process this JVM started while `body` ran. */
  def during(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    val out = java.nio.file.Files.createTempFile("forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(out) }
  }

  /** The commands in `cmds` that run the program `name`, by path or not. */
  def of(cmds: Seq[String], name: String): Seq[String] =
    cmds.filter(_.split(' ').head.split('/').last == name)

  /** Fail if `cmds` forked the local file system's `chmod` or `readlink`. */
  def assertNoFsForks(cmds: Seq[String]): Unit =
    Seq("chmod", "readlink").foreach { name =>
      val hits = of(cmds, name)
      assert(hits.isEmpty,
        s"${hits.size} $name forks, of ${cmds.size} forks in all; first: ${hits.headOption}")
    }
}
