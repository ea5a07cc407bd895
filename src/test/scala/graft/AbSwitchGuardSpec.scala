package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Guard against regrowth of global A/B switches. A plan-shape or kernel
  * variant is compared on a branch (PerfAB `conf:` variants, or a
  * parameter the spec passes) and the loser is deleted when the winner
  * merges; it is never kept alive behind a `graft.*` system property or
  * a `GRAFT_*` environment variable. Deployment settings (`SPARK_GRAFT_*`
  * env vars read by the Bench/Verify/PerfAB mains) are not switches and
  * stay allowed. */
class AbSwitchGuardSpec extends AnyFunSuite {
  private val propRead =
    """(?:sys\.props|System\.getPropert(?:y|ies)|Boolean\.getBoolean|Integer\.getInteger|Long\.getLong)[\s\S]{0,40}?"graft\.""".r
  private val envName = """"GRAFT_""".r

  test("src/main reads no graft.* system property and no GRAFT_* env var") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files =
      try walk.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    assert(files.nonEmpty, s"no Scala sources under ${root.toAbsolutePath}")
    val offenders = for {
      f <- files
      text = Files.readString(f)
      m <- propRead.findAllMatchIn(text) ++ envName.findAllMatchIn(text)
    } yield {
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      s"$f:$line: ${text.linesIterator.drop(line - 1).next().trim}"
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
