package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session settings live in [[Session.local]] alone: a hand-built session
  * elsewhere in the program is how its copies drifted apart (core counts,
  * broadcast thresholds, time zone).
  */
class SessionSpec extends AnyFunSuite {
  test("SparkSession.builder appears only in graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val owner = root.resolve("graft/Session.scala")
    val stream = Files.walk(root)
    val offenders = try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .filter(p => "SparkSession\\s*\\.\\s*builder".r
        .findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toSeq.sorted
    finally stream.close()
    assert(offenders.isEmpty,
      s"build the session with graft.Session.local instead: ${offenders.mkString(", ")}")
  }
}
