package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every module under `graft/ops` and `graft/pipelines` is reached by the
  * program: a query, a pipeline, a main, another module or the perfbench
  * harness names it. A second implementation that only its own spec calls
  * belongs in that spec, not in `src/main`.
  */
class ModuleReachSpec extends AnyFunSuite {

  /** Loaded by class name (`spark.sql.extensions`), never named in code. */
  private val loadedByName = Set("GraftExtensions")

  private val TopLevel =
    """(?m)^(?:(?:final|sealed|abstract|private(?:\[\w+\])?)\s+)*(?:class|object|trait)\s+(\w+)""".r

  /** Source text without comments: a name in a scaladoc reaches nothing. */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)(^|\\s)//.*$", "$1")

  private def scalaFiles(root: Path): List[Path] =
    graft.ops.Nio.walk(root).filter(_.toString.endsWith(".scala"))

  test("every top-level object, class and trait under graft/ops and " +
    "graft/pipelines is named in src/main outside its file or in " +
    "perfbench/harness") {
    val main = Paths.get("src/main/scala")
    val harness = Paths.get("perfbench/harness")
    assert(Files.isDirectory(main) && Files.isDirectory(harness),
      "run from the repository root")
    val sources = (scalaFiles(main) ++ scalaFiles(harness))
      .map(p => p -> code(p)).toMap
    val modules = Seq("graft/ops", "graft/pipelines")
      .flatMap(d => scalaFiles(main.resolve(d)))
    val unreached = for {
      file <- modules
      name <- TopLevel.findAllMatchIn(code(file)).map(_.group(1)).toSeq
      if !loadedByName(name)
      word = s"\\b$name\\b".r
      if !sources.exists { case (p, src) =>
        p != file && word.findFirstIn(src).isDefined }
    } yield s"${main.relativize(file)}: $name"
    assert(unreached.isEmpty,
      "only tests reach these (move each into the spec that needs it):\n" +
        unreached.mkString("\n"))
  }
}
