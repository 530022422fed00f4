package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Main ships only what an entry point reaches. Reads the sources, no
  * Spark: each main file defines its column-0 objects, classes and
  * traits; a file reaches another when its code (comments and string
  * literals stripped) names one of the other's definitions. Roots are
  * the driver contract (`SparkEntry`), the dead-letter topology
  * (`StreamingTopology`, `KafkaEdge`), `GraftExtensions` (loaded by
  * its config name, so no code names it) and every file with a
  * `def main`. The member test applies the same rule per object
  * member. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec.Part

  private val root = Paths.get("src/main/scala")

  /** Comments and string/char literals, blanked before names are read.
    * Group 1 is a literal's interpolator, group 2 the literal. */
  private val Skipped = ("""(?s)/\*.*?\*/|//[^\n]*|(?:\b(s|f|raw|code))?("{3}.*?"{3,}""" +
    """|"(?:\\.|\$\{[^}\n]*\}|[^"\\\n])*")|'(?:\\.[^'\n]*|[^'\\\n])'""").r

  /** What an interpolated literal names: its `${…}` and `$x` splices, and
    * the fully-qualified `graft.…` names generated Java calls main by. */
  private val Spliced = """\$\{[^}]*\}|\$\w+|\bgraft(?:\.\w+)+""".r

  /** Files are read as ISO-8859-1: some hold bytes that are not UTF-8.
    * With `splices`, an interpolated literal keeps what it names. */
  private def code(p: Path, splices: Boolean = false): String =
    Skipped.replaceAllIn(new String(Files.readAllBytes(p), ISO_8859_1), m =>
      if (splices && m.group(1) != null)
        Regex.quoteReplacement(" " + Spliced.findAllIn(m.group(2)).mkString(" ")
          .replace('\n', ' ') + " ")
      else " ")

  private val Definition = ("""(?m)^(?:(?:private|protected)(?:\[\w+\])?\s+""" +
    """|(?:final|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+(\w+)""").r
  /** A member of a column-0 object: a definition indented two spaces. */
  private val Member = ("""(?m)^  (?:@\w+(?:\([^)\n]*\))?\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+""" +
    """|(?:final|override|implicit|lazy|sealed|abstract|case)\s+)*(?:def|val|var|object|class|trait)\s+(\w+)""").r
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  private val RootNames = Set("SparkEntry", "StreamingTopology", "KafkaEdge", "GraftExtensions")

  private def mainFiles(splices: Boolean): Map[String, String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> code(p, splices)).toMap

  test("every main file is reached from an entry point, except " +
    "Shutdown and ReflectiveKafkaSender") {
    val files = mainFiles(splices = false)
    val defines = files.map { case (f, src) =>
      f -> Definition.findAllMatchIn(src).map(_.group(2)).toSet }
    val names = files.map { case (f, src) =>
      f -> Ident.findAllIn(src).toSet }
    val roots = files.keySet.filter(f =>
      defines(f).exists(RootNames) || files(f).contains("def main("))
    RootNames.foreach(n => assert(defines.values.exists(_(n)), n))

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

  private def parts(src: String): Seq[Part] = {
    val tops = Definition.findAllMatchIn(src).toSeq
    tops.indices.flatMap { i =>
      val t = tops(i)
      val region = src.substring(t.start, if (i + 1 < tops.size) tops(i + 1).start else src.length)
      if (t.group(1) != "object") Seq(Part(t.group(2), None, region))
      else {
        val ms = Member.findAllMatchIn(region).toSeq
        Part(t.group(2), None, region.substring(0, ms.headOption.fold(region.length)(_.start))) +:
          ms.indices.map { j =>
            Part(t.group(2), Some(ms(j).group(1)), region.substring(ms(j).start,
              if (j + 1 < ms.size) ms(j + 1).start else region.length))
          }
      }
    }
  }

  /** Object members no entry point reaches, each with its reason:
    * `parity`, a reference a spec compares a native kernel or plan
    * against (ROADMAP item 7 moves these to test scope); `item3`, the
    * failure-contract pieces ROADMAP item 3 wires or deletes; `hook`, a
    * test hook; `open`, a candidate item 7 has not decided. A member
    * that only an allow-listed member names is reached through it. */
  private val Allowed = Map(
    "Bpe.encodeCountsHof" -> "parity",
    "Cluster.LiteralArgminMaxK" -> "parity",
    "CodeCuration.codeGramTableRaw" -> "parity",
    "Dedup.minhashSignaturesAgg" -> "parity",
    "Dedup.ophSignaturesAgg" -> "parity",
    "Dedup.simhashAgg" -> "parity",
    "JpegCodec.jpegGraySingleBlock" -> "parity",
    "RangeJoin.clicksBeforeNaive" -> "parity",
    "Similarity.knnGraphAnchored" -> "parity",
    "TextAnalysis.winnowSelectedHof" -> "parity",
    "TextOps.charTrigramsHof" -> "parity",
    "TextOps.wordShinglesAllHof" -> "parity",
    "TextOps.wordShinglesHof" -> "parity",
    "VectorOps.qdotHof" -> "parity",
    "VectorOps.quantizeHof" -> "parity",
    "ErrorChannel.withErrorHeader" -> "item3",
    "KafkaEdge.RecordSender" -> "item3",
    "KafkaEdge.readStream" -> "item3",
    "KafkaEdge.recordSchema" -> "item3",
    "KafkaEdge.sendWithDltFallback" -> "item3",
    "KafkaEdge.sendWithFallback" -> "item3",
    "Shutdown.awaitOrShutdown" -> "item3",
    "TopicConfig.load" -> "item3",
    "Tables.memoEntries" -> "hook",
    "Dedup.writeCorpusBandSnapshot" -> "open",
    "Dedup.writeVectorBandSnapshot" -> "open",
    "Multimodal.extractFeatures" -> "open")

  test("every object member in main is named by code in a reached member " +
    "of another definition, except the allow-list") {
    val all = mainFiles(splices = true).values.toSeq.flatMap(parts).toIndexedSeq
    val rootMembers = Set("SparkEntry.entry", "SparkEntry.queries", "SparkEntry.oracleSql",
      "KafkaEdge.sinks")
    val roots = all.indices.filter { i =>
      val p = all(i)
      p.member match {
        case None => RootNames(p.owner)
        case Some(m) => rootMembers(p.id) || m == "main" ||
          Set("StreamingTopology", "GraftExtensions")(p.owner)
      }
    }.toSet
    rootMembers.foreach(r => assert(all.exists(_.id == r), r))

    def closure(start: Set[Int]): Set[Int] = {
      var reached = start
      var frontier = start
      while (frontier.nonEmpty) {
        val used = frontier.flatMap(i => Ident.findAllIn(all(i).body))
        frontier = all.indices.filter(i => !reached(i) && (all(i).member match {
          case None => used(all(i).owner)
          case Some(m) => used(m) || (m == "apply" && used(all(i).owner))
        })).toSet
        reached ++= frontier
      }
      reached
    }
    def unreachedMembers(reached: Set[Int]): Set[String] =
      all.indices.filter(i => all(i).member.isDefined && !reached(i)).map(all(_).id).toSet

    assert(Allowed.values.toSet.subsetOf(Set("parity", "item3", "hook", "open")))
    val fromRoots = unreachedMembers(closure(roots))
    assert(Allowed.keySet -- fromRoots == Set.empty,
      "now reached: take these off the allow-list")
    val allowed = all.indices.filter(i => Allowed.contains(all(i).id)).toSet
    assert(unreachedMembers(closure(roots ++ allowed)) == Set.empty,
      "only specs name these: delete them, move them to test scope or wire them to a root")
  }
}

object ReachabilitySpec {
  /** Code of one column-0 definition, or of one member of an object
    * (`member` set; an object's own part is its code before its first
    * member). */
  private final case class Part(owner: String, member: Option[String], body: String) {
    def id: String = member.fold(owner)(m => s"$owner.$m")
  }
}
