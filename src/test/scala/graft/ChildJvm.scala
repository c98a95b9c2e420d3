package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Runs a main of the test classpath in a fresh `java` process, for
  * settings a JVM that already holds a SparkContext cannot change (static
  * SQL confs, the memory manager's size).
  */
object ChildJvm {
  /** Exit code and full output; `report(tag)` reads its `tag key=value`
    * lines.
    */
  final case class Result(exit: Int, out: String) {
    def report(tag: String): Map[String, String] = out.linesIterator
      .filter(_.startsWith(s"$tag ")).map(_.drop(tag.length + 1).split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
  }

  def run(mainClass: String, args: String*): Result = {
    // the launcher reports each --add-opens that build.sbt passed to this
    // JVM in its `--add-opens=module/package=target` form
    val addOpens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens="))
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx1g") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
    val log = Files.createTempFile("child-jvm", ".log")
    try {
      val p = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).redirectOutput(log.toFile).start()
      if (!p.waitFor(5, TimeUnit.MINUTES)) {
        p.destroyForcibly().waitFor()
        throw new AssertionError(s"child JVM timed out:\n${Files.readString(log, UTF_8)}")
      }
      Result(p.exitValue(), Files.readString(log, UTF_8))
    } finally Files.deleteIfExists(log)
  }
}
