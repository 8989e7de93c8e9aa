package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every module under `graft/ops` and `graft/pipelines`, and every public
  * member of their objects, is reached by the program: a query, a
  * pipeline, a main, another module or the perfbench harness names it. A
  * second implementation that only its own spec calls belongs in that
  * spec, not in `src/main`.
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

  private val main = Paths.get("src/main/scala")
  private val harness = Paths.get("perfbench/harness")

  /** Comment-free text of every file the program is made of. */
  private lazy val sources: Map[Path, String] = {
    assert(Files.isDirectory(main) && Files.isDirectory(harness),
      "run from the repository root")
    (scalaFiles(main) ++ scalaFiles(harness)).map(p => p -> code(p)).toMap
  }

  private lazy val modules: Seq[Path] = Seq("graft/ops", "graft/pipelines")
    .flatMap(d => scalaFiles(main.resolve(d)))

  /** Public object-level members that only specs call, each kept on
    * purpose: a reference implementation a spec compares the program
    * against, a footer probe a spec reads the program's own layout with,
    * or a reference pipeline step (SURVEY §3) no workload drives yet.
    */
  private val memberExempt: Map[String, String] = Map(
    "ZOrder.zvalue2Ref" ->
      "reference: ZOrderSpec checks the zvalue2 Column against it",
    "Scalars.parsePyList" ->
      "reference: ScalarsSpec checks parsePyListFast against it",
    "ParquetBloom.survivingRowGroups" ->
      "footer probe: ParquetBloomSpec counts the row groups q114 prunes",
    "ParquetBloom.hasBloomFilter" ->
      "footer probe: ParquetBloomSpec checks the bloom write took effect",
    "RankingsPipelines.collectRankings" ->
      "reference step: s3_rankings_collector, SURVEY §3.2",
    "RankingsPipelines.rankingUrlsTransform" ->
      "reference step: rankings_to_clickhouse_schema, SURVEY §3.3",
    "RankingsPipelines.topicsSchema" ->
      "reference step: the topics_to_schedule table, SURVEY §3.2",
    "RankingsPipelines.serpIndexSchema" ->
      "reference step: the serp_index table, SURVEY §3.2")

  private val ObjectHead =
    """^(?:(?:final|private(?:\[\w+\])?)\s+)*object\s+(\w+)""".r.unanchored
  private val MemberHead =
    ("""^\s*((?:(?:final|lazy|implicit|override|private(?:\[\w+\])?|""" +
      """protected(?:\[\w+\])?|@\w+)\s+)*)(?:def|val|case\s+class)""" +
      """\s+([A-Za-z_]\w*)""").r.unanchored

  /** (file, "Object.member") for each public, non-override `def`, `val`
    * or `case class` declared directly in a top-level object.
    */
  private def publicMembers(file: Path): Seq[(Path, String)] = {
    var depth = 0
    var obj: Option[String] = None
    val found = Seq.newBuilder[(Path, String)]
    sources(file).linesIterator.foreach { line =>
      if (depth == 0) obj = line match {
        case ObjectHead(name) => Some(name)
        case _ => None
      }
      if (depth == 1) (obj, line) match {
        case (Some(o), MemberHead(mods, name))
            if !mods.matches("(?s).*(private|protected|override).*") =>
          found += file -> s"$o.$name"
        case _ =>
      }
      depth += line.count(_ == '{') - line.count(_ == '}')
    }
    assert(depth == 0, s"unbalanced braces in $file: the member scan is off")
    found.result()
  }

  /** Named, outside comments, anywhere besides its one declaration. */
  private def reached(member: String): Boolean = {
    val word = s"\\b${member.split('.').last}\\b".r
    sources.values.map(word.findAllIn(_).size).sum > 1
  }

  test("every top-level object, class and trait under graft/ops and " +
    "graft/pipelines is named in src/main outside its file or in " +
    "perfbench/harness") {
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

  test("every public object-level member under graft/ops and " +
    "graft/pipelines is named in src/main besides its declaration or in " +
    "perfbench/harness") {
    val members = modules.flatMap(publicMembers)
    val unreached = members.collect {
      case (file, m) if !memberExempt.contains(m) && !reached(m) =>
        s"${main.relativize(file)}: $m"
    }
    assert(unreached.isEmpty,
      "only tests reach these members (move each into the spec that " +
        "needs it, or exempt it with a reason):\n" + unreached.mkString("\n"))
    val declared = members.map(_._2).toSet
    val stale = memberExempt.keys.filter(m => !declared(m) || reached(m))
    assert(stale.isEmpty,
      s"exempt members that are gone or now reached: ${stale.mkString(", ")}")
  }
}
