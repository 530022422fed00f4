package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Main ships only what an entry point reaches. Reads the sources, no
  * Spark: each main file defines its column-0 objects, classes and
  * traits; a file reaches another when its code (comments and string
  * literals stripped) names one of the other's definitions. Roots are
  * the driver contract (`SparkEntry`), the dead-letter topology
  * (`StreamingTopology`, `KafkaEdge`), `GraftExtensions` (loaded by
  * its config name, so no code names it) and every file with a
  * `def main`. */
class ReachabilitySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Comments and string/char literals, blanked before names are read. */
  private val Skipped = ("""(?s)/\*.*?\*/|//[^\n]*|"{3}.*?"{3,}""" +
    """|"(?:\\.|[^"\\\n])*"|'(?:\\.[^'\n]*|[^'\\\n])'""").r

  /** Files are read as ISO-8859-1: some hold bytes that are not UTF-8. */
  private def code(p: Path): String =
    Skipped.replaceAllIn(new String(Files.readAllBytes(p), ISO_8859_1), " ")

  private val Definition = ("""(?m)^(?:(?:private|protected)(?:\[\w+\])?\s+""" +
    """|(?:final|sealed|abstract|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""").r
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  test("every main file is reached from an entry point, except " +
    "Shutdown and ReflectiveKafkaSender") {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> code(p)).toMap
    val defines = files.map { case (f, src) =>
      f -> Definition.findAllMatchIn(src).map(_.group(1)).toSet }
    val names = files.map { case (f, src) =>
      f -> Ident.findAllIn(src).toSet }
    val rootNames =
      Set("SparkEntry", "StreamingTopology", "KafkaEdge", "GraftExtensions")
    val roots = files.keySet.filter(f =>
      defines(f).exists(rootNames) || files(f).contains("def main("))
    rootNames.foreach(n => assert(defines.values.exists(_(n)), n))

    var reached = roots
    var frontier = roots
    while (frontier.nonEmpty) {
      val used = frontier.flatMap(names)
      frontier = (files.keySet -- reached).filter(f =>
        defines(f).exists(used))
      reached ++= frontier
    }
    // ROADMAP item 3 decides both: wire Shutdown into one lifecycle
    // owner and ReflectiveKafkaSender into the output sink, or delete
    // them. Either way this set shrinks.
    assert(files.keySet -- reached == Set(
      "graft/streaming/Shutdown.scala",
      "graft/sources/ReflectiveKafkaSender.scala"))
  }
}
