package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library settings live in DedupConfig, not in environment variables: a
  * knob read from the environment changes results or plans per JVM,
  * invisibly to the caller and to the checkpoint. This guard scans the
  * library packages for environment reads and allows only the listed
  * ones. Tools and entry points (graft.tools, Bench, Main) are out of
  * scope: reading their own launch environment is their job. */
class LibraryEnvSpec extends AnyFunSuite {

  private val LibraryPackages = Seq("pipeline", "functions", "core", "sketch")

  /** `SPARK_GRAFT_CC_PROFILE` gates the CC stage's `[cc]` timing lines
    * until stage telemetry replaces them. */
  private val Allowed = Set("SPARK_GRAFT_CC_PROFILE")

  private val EnvRead = """sys\.env|System\.getenv""".r
  private val KnobName = """SPARK_GRAFT_[A-Z0-9_]+""".r

  /** src/main/scala/graft, found from the working directory upward. */
  private def sourceRoot: Path = {
    val start = Paths.get(sys.props("user.dir")).toAbsolutePath
    Iterator.iterate(start)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("src/main/scala/graft"))
      .find(Files.isDirectory(_))
      .getOrElse(fail(s"no src/main/scala/graft above $start"))
  }

  test("library packages read no environment knob but the allowed ones") {
    val root = sourceRoot
    val files = LibraryPackages.flatMap { p =>
      val dir = root.resolve(p)
      assert(Files.isDirectory(dir), s"missing package dir $dir")
      Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(files.size > 20, s"scanned only ${files.size} files under $root")
    val offending = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if EnvRead.findFirstIn(line).isDefined
      names = KnobName.findAllIn(line).toSet
      if names.isEmpty || !names.subsetOf(Allowed)
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(offending.isEmpty,
      s"environment reads in library code (move the setting to DedupConfig):\n" +
        offending.mkString("\n"))
  }
}
