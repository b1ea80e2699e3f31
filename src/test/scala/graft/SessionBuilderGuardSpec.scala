package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Plain-file guard, no SparkSession: every main plans under the one
  * session posture, so `SparkSession.builder` may appear in
  * `GraftSession.scala` and nowhere else under `src/main/scala`. */
class SessionBuilderGuardSpec extends AnyFunSuite {

  test("only GraftSession builds a SparkSession in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => p.getFileName.toString != "GraftSession.scala")
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(offenders.isEmpty,
      s"SparkSession.builder outside GraftSession: $offenders")
  }
}
