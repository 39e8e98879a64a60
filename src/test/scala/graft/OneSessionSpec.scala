package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Sessions come from [[GraftSession]]: the shared test session is built
  * by [[GraftSession.builder]] too, so the specs plan and pin what
  * production runs. A second session builder would bring back a second
  * set of confs and a second route for the Catalyst rule. */
class OneSessionSpec extends AnyFunSuite {

  private val call = "SparkSession" + ".builder"

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no file but GraftSession.scala builds a SparkSession") {
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.endsWith("GraftSession.scala")))
    val callers = files.filter(f =>
      !f.endsWith("GraftSession.scala") && Files.readString(f).contains(call))
    assert(callers.isEmpty, s"sessions built outside GraftSession: ${callers.mkString(", ")}")
  }
}
