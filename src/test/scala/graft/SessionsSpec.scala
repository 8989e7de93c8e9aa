package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The session config is decided once, in Sessions.local: no main under
  * src/main builds its own session.
  */
class SessionsSpec extends AnyFunSuite {

  test("SparkSession.builder appears under src/main only in Sessions.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val builders = graft.ops.Nio.walk(root)
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
    assert(builders == Seq("graft/Sessions.scala"))
  }
}
