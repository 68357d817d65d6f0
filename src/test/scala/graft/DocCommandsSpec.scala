package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main the live docs tell a reader to run exists: each
  * `runMain graft.<Name>` in README, ARCHITECTURE, COVERAGE, the verify
  * skill and the shell scripts under `tools`, and each name on
  * ARCHITECTURE's "contract mains" layout line, must be an object with
  * `main(Array[String])`. Historical logs (BENCH_NOTES, VERDICT, SURVEY,
  * OPTIMIZATION_r*) record past runs and are not scanned. */
class DocCommandsSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))

  private def docs: Seq[Path] = {
    val tools = root.resolve("tools")
    Seq("README.md", "ARCHITECTURE.md", "COVERAGE.md",
      ".claude/skills/verify/SKILL.md").map(root.resolve) ++
      (if (Files.isDirectory(tools))
        Files.list(tools).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".sh")).toSeq.sorted
      else Nil)
  }

  private val RunMain = """runMain\s+(graft(?:\.[A-Za-z_]\w*)+)""".r
  private val ContractLine = """^\s*(\w+(?:\s*/\s*\w+)*)\s+contract mains""".r

  /** (doc, line number, fully-qualified object name) per cited main. */
  private def cited: Seq[(String, Int, String)] =
    docs.filter(Files.isRegularFile(_)).flatMap { p =>
      val rel = root.relativize(p).toString
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
        RunMain.findAllMatchIn(l).map(m => (rel, i + 1, m.group(1))) ++
          ContractLine.findFirstMatchIn(l).toSeq.flatMap(
            _.group(1).split('/').map(n => (rel, i + 1, s"graft.${n.trim}")))
      }
    }

  private def isMain(name: String): Boolean =
    try {
      val module = Class.forName(name + "$")
      module.getField("MODULE$")
      module.getMethod("main", classOf[Array[String]])
      true
    } catch {
      case _: ClassNotFoundException | _: NoSuchFieldException |
          _: NoSuchMethodException => false
    }

  test("every main the docs cite is an object with main(Array[String])") {
    val all = cited
    assert(all.exists(_._3 == "graft.Verify"),
      s"the scan found no Verify command — is the doc set still there? $all")
    val missing = all.filterNot(c => isMain(c._3))
    assert(missing.isEmpty, "docs cite mains that do not exist:\n" +
      missing.map { case (f, n, m) => s"  $f:$n $m" }.mkString("\n"))
  }
}
