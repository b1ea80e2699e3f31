package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Plain-file guards, no SparkSession: every main plans under the one
  * session posture, so `SparkSession.builder` may appear in
  * `GraftSession.scala` and nowhere else under `src/main/scala`, and
  * the codegen conf keys are named there alone: the test session
  * applies `GraftSession.CodegenConfs`. */
class SessionBuilderGuardSpec extends AnyFunSuite {

  /** `.scala` files under `root`, other than GraftSession.scala, whose
    * text contains `needle`, relative to `root`. */
  private def offenders(root: Path, needle: String): List[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString).toList.sorted
    finally walk.close()
  }

  test("only GraftSession builds a SparkSession in src/main") {
    val found = offenders(Paths.get("src/main/scala"), "SparkSession.builder")
    assert(found.isEmpty, s"SparkSession.builder outside GraftSession: $found")
  }

  test("only GraftSession names the codegen confs") {
    for (key <- GraftSession.CodegenConfs.keys) {
      val found = offenders(Paths.get("src"), key)
      assert(found.isEmpty, s"$key outside GraftSession: $found")
    }
  }
}
