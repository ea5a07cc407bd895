package graft

import java.nio.file.{Files, Path, Paths}
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Guard against regrowth of global A/B switches and scattered session
  * policy. A plan-shape or kernel variant is compared on a branch (PerfAB
  * `conf:` variants, or a parameter the spec passes) and the loser is
  * deleted when the winner merges; it is never kept alive behind a
  * `graft.*` system property or a `GRAFT_*` environment variable.
  * Deployment settings (`SPARK_GRAFT_*` env vars read by the
  * Bench/Verify/PerfAB mains) are not switches and stay allowed. Session
  * conf and optimizer rules are written by `Graft.prepare`, the LLM
  * opt-ins in `registerFunctions` and `PerfAB`, never while a query is
  * compiled or as a side effect of reading a table. */
class AbSwitchGuardSpec extends AnyFunSuite {
  private val propRead =
    """(?:sys\.props|System\.getPropert(?:y|ies)|Boolean\.getBoolean|Integer\.getInteger|Long\.getLong)[\s\S]{0,40}?"graft\.""".r
  private val envName = """"GRAFT_""".r
  private val sessionWrite =
    """\bconf\.(?:set|unset)\(|\b(?:setConfString|unsetConf|withSQLConf)\(|extraOptimizations\s*(?:\+\+)?=(?!=)""".r

  private lazy val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files =
      try walk.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    assert(files.nonEmpty, s"no Scala sources under ${root.toAbsolutePath}")
    files
  }

  /** `path:line: text` of every match of `patterns`, minus the lines
    * `allowed` accepts. */
  private def offenders(patterns: Seq[Regex],
                        allowed: (Path, String) => Boolean = (_, _) => false): Seq[String] =
    for {
      f <- sources
      text = Files.readString(f)
      m <- patterns.flatMap(_.findAllMatchIn(text))
      line = text.substring(0, m.start).count(_ == '\n') + 1
      src = text.linesIterator.drop(line - 1).next().trim
      if !allowed(f, src)
    } yield s"$f:$line: $src"

  test("src/main reads no graft.* system property and no GRAFT_* env var") {
    val found = offenders(Seq(propRead, envName))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("src/main writes session conf and optimizer rules only from the allowed owners") {
    // file -> the lines it may write (engine policy; the LLM opt-ins in
    // registerFunctions; PerfAB variants)
    val owners = Map(
      "Graft.scala" -> ".*".r,
      "LlmShared.scala" -> ".*(?:excludedRules|parallelismFirst).*".r,
      "PerfAB.scala" -> ".*".r)
    val found = offenders(Seq(sessionWrite), (f, src) =>
      owners.get(f.getFileName.toString).exists(_.matches(src)))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
