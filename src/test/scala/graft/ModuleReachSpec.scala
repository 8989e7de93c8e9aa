package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Every top-level object, class and trait under `src/main/scala/graft`,
  * and every member of its objects that code outside the object can call
  * (public or `private[pkg]`), is reached by the program.
  *
  * Reach is a fixpoint over the program's code, comments and string text
  * removed. It starts from the mains, `Queries.all`, the two entry points
  * loaded by name, `perfbench/harness` and the exempt members. A reached
  * piece of code reaches:
  *  - `Object.member` wherever it names one, qualified;
  *  - a bare `member` of an object its file imports (`Object._` or the
  *    member by name);
  *  - a bare `member` of its own object, or, from a class, of an object in
  *    the same file;
  *  - every top-level object, class and trait it names.
  * A second implementation that only its own spec calls belongs in that
  * spec, not in `src/main`.
  */
class ModuleReachSpec extends AnyFunSuite {
  import ModuleReachSpec._

  /** Called by name from outside the program's code. */
  private val loadedByName: Map[String, String] = Map(
    "GraftExtensions" -> "spark.sql.extensions loads it by class name",
    "SparkEntry" -> "the driver contract: the external driver calls it")

  /** Members that only specs call, each kept on purpose: a reference
    * implementation a spec compares the program against, a footer probe a
    * spec reads the program's own layout with, or a reference pipeline
    * step (SURVEY §3.2–3.3) that no workload drives yet.
    */
  private val memberExempt: Map[String, String] = Map(
    "ZOrder.zvalue2Ref" ->
      "reference: ZOrderSpec checks the zvalue2 Column against it",
    "Scalars.parsePyList" ->
      "reference: ScalarsSpec checks parsePyListFast against it",
    "Scalars.tokenHashConv" ->
      "reference: TokenHashExprSpec checks the native expression against it",
    "Scalars.shingles3Conv" ->
      "reference: Shingles3ExprSpec checks the native expression against it",
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
      "reference step: the serp_index table, SURVEY §3.2",
    "Tables.rankingUrlsSchema" ->
      "reference step: the ranking_urls table, SURVEY §3.3",
    "Tables.readRankingsCsvBuffer" ->
      "reference step: the collector's S3 string-buffer CSV, SURVEY §3.2",
    "JdbcSource.trackedTopics" ->
      "reference step: fetch_tracked_topics over jdbc, SURVEY §3.2")

  private val main = Paths.get("src/main/scala")
  private val harness = Paths.get("perfbench/harness")
  private val graftDir = main.resolve("graft")

  private lazy val program: Program = {
    assert(Files.isDirectory(main) && Files.isDirectory(harness),
      "run from the repository root")
    def scala(root: Path) =
      graft.ops.Nio.walk(root).filter(_.toString.endsWith(".scala"))
    new Program(scala(main).map(p => p -> Files.readString(p)),
      scala(harness).map(p => p -> Files.readString(p)))
  }

  private lazy val roots: Set[String] = {
    val mains = program.nodes.keys.filter(_.endsWith(".main")).toSet
    assert(mains.nonEmpty, "no main found: the member scan is off")
    val byName = loadedByName.keySet.flatMap(o =>
      program.nodes.keys.filter(_.startsWith(o + ".")).toSet + o)
    mains ++ byName + "Queries.all"
  }

  /** Under `graft/`, where every piece must be reached. */
  private def inScope(n: Node): Boolean = n.file.startsWith(graftDir)

  private def where(n: Node): String = s"${main.relativize(n.file)}: ${n.key}"

  test("comment and string-literal text reaches nothing; interpolations do") {
    val src = "val a = \"b.c { // d\" // e.f\n/* g /* h */ i */ s\"$j ${k.l(\"}\")}\"" +
      " + '{' + '\\'' + '\\u007b' + raw\"\"\"m\"n\"\"\"\" + f\"$$o\""
    val words = "\\w+".r.findAllIn(code(src)).toList
    assert(words == List("val", "a", "s", "j", "k", "l", "raw", "f"))
    assert(code(src).count(_ == '\n') == src.count(_ == '\n'))
    assert(code(src).count(_ == '{') == code(src).count(_ == '}'))
  }

  test("every top-level object, class and trait under graft/ is reached " +
    "by the program") {
    val live = program.reach(roots ++ memberExempt.keySet)
    val unreached = program.nodes.values.collect {
      case n if n.topLevel && inScope(n) && !live(n.key) => where(n)
    }.toSeq.sorted
    assert(unreached.isEmpty,
      "only tests reach these (move each into the spec that needs it):\n" +
        unreached.mkString("\n"))
  }

  test("every member of a top-level object under graft/ that code outside " +
    "the object can call is reached by the program") {
    val checked = program.nodes.values.filter(n => n.checked && inScope(n))
    val declared = checked.map(_.key).toSet
    assert(Set("Tables.t", "QueriesTime.dailyCounts",
      "ConnectedComponents.labelMinProp", "DedupPipeline.DedupIndex")
      .subsetOf(declared), "the member scan is off")
    val live = program.reach(roots ++ memberExempt.keySet)
    val unreached = checked.collect {
      case n if !live(n.key) && !memberExempt.contains(n.key) => where(n)
    }.toSeq.sorted
    val stale = memberExempt.keys.filter { m =>
      !declared(m) || program.reach(roots ++ memberExempt.keySet - m)(m)
    }.toSeq.sorted
    assert(unreached.isEmpty && stale.isEmpty,
      "only tests reach these members (move each into the spec that " +
        "needs it, or exempt it with a reason):\n" + unreached.mkString("\n") +
        "\nexempt members that are gone or now reached: " +
        stale.mkString(", "))
  }
}

object ModuleReachSpec {

  /** A top-level object, class or trait (`key` = its name), or a member
    * declared directly in a top-level object (`key` = "Object.member").
    * A class and its companion object share one node.
    */
  final case class Node(
      key: String,
      file: Path,
      owner: Option[String],
      topLevel: Boolean,
      checked: Boolean,
      overrides: Boolean,
      text: String)

  private val Mods =
    """(?:(?:final|sealed|abstract|implicit|lazy|override|case|""" +
      """private(?:\[\w+\])?|protected(?:\[\w+\])?|@\w+)\s+)*"""
  private val TopHead =
    ("^" + Mods + """(class|object|trait)\s+(\w+)""").r.unanchored
  private val MemberHead =
    ("""^\s*(""" + Mods + """)(?:def|val|var|type|class|object|trait)""" +
      """\s+([A-Za-z_]\w*)""").r.unanchored
  private val Import = """\bimport\s+([\w.]+)\.(_|\{[^}]*\}|\w+)""".r
  private val Word = """[A-Za-z_]\w*""".r

  final class Program(mainFiles: Seq[(Path, String)],
      harnessFiles: Seq[(Path, String)]) {
    private val mainCode = mainFiles.map { case (p, s) => p -> code(s) }
    private val harnessCode = harnessFiles.map { case (p, s) => p -> code(s) }

    val nodes: Map[String, Node] = mainCode
      .flatMap { case (p, src) => parse(p, src) }
      .groupBy(_.key).map { case (k, ns) => k -> ns.reduce((a, b) =>
        a.copy(text = a.text + "\n" + b.text, checked = a.checked || b.checked))
      }

    private val topLevel = nodes.values.filter(_.topLevel).toSeq
    private val objectsIn: Map[Path, Seq[String]] =
      topLevel.groupBy(_.file).map { case (f, ns) => f -> ns.map(_.key) }
    private val overridesOf: Map[String, Seq[String]] = nodes.values
      .filter(_.overrides).groupBy(_.owner.get)
      .map { case (o, ns) => o -> ns.map(_.key).toSeq }

    /** file → (object, the members it imports; empty = all of them). */
    private val imports: Map[Path, Seq[(String, Set[String])]] =
      (mainCode ++ harnessCode).map { case (p, src) =>
        p -> Import.findAllMatchIn(src).toSeq.flatMap { m =>
          val obj = m.group(1).split('.').last
          val names = m.group(2).stripPrefix("{").stripSuffix("}")
            .split(',').map(_.trim.split("\\s")(0)).toSet - "_"
          if (nodes.get(obj).exists(_.topLevel)) Some(obj -> names) else None
        }
      }.toMap

    /** Every node the program reaches from `roots`. */
    def reach(roots: Set[String]): Set[String] = {
      val live = mutable.Set.empty[String]
      val queue = mutable.Queue.empty[String]
      def mark(k: String): Unit =
        if (nodes.contains(k) && live.add(k)) queue += k
      roots.foreach(mark)
      harnessCode.foreach { case (p, src) => scan(src, p, None, mark) }
      while (queue.nonEmpty) {
        val n = nodes(queue.dequeue())
        scan(n.text, n.file, Some(n), mark)
        // a reached member runs its object's initializer; a reached object
        // is called through its overrides
        n.owner.foreach(mark)
        overridesOf.getOrElse(n.key, Nil).foreach(mark)
      }
      live.toSet
    }

    private def scan(text: String, file: Path, from: Option[Node],
        mark: String => Unit): Unit = {
      val imported = imports.getOrElse(file, Nil)
      // a class reaches the bare members of every object in its file
      val sameFile =
        if (from.exists(_.topLevel)) objectsIn.getOrElse(file, Nil) else Nil
      def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
      Word.findAllMatchIn(text).foreach { m =>
        val w = m.matched
        if (!from.exists(_.key == w)) mark(w)
        var i = m.start - 1
        while (i >= 0 && text(i).isWhitespace) i -= 1
        if (i >= 0 && text(i) == '.') {
          var j = i - 1
          while (j >= 0 && text(j).isWhitespace) j -= 1
          var k = j
          while (k >= 0 && isIdent(text(k))) k -= 1
          if (k < j) mark(s"${text.substring(k + 1, j + 1)}.$w")
        } else {
          from.flatMap(_.owner).foreach(o => mark(s"$o.$w"))
          sameFile.foreach(o => mark(s"$o.$w"))
          imported.foreach { case (o, names) =>
            if (names.isEmpty || names(w)) mark(s"$o.$w")
          }
        }
      }
    }
  }

  /** The nodes one file declares, from its comment- and string-free text. */
  private def parse(file: Path, src: String): Seq[Node] = {
    val out = Seq.newBuilder[Node]
    var depth = 0
    var top: Option[(String, String)] = None // (kind, name)
    var cur: Option[Node] = None
    val text = new StringBuilder
    def flush(): Unit = {
      cur.foreach(n => out += n.copy(text = text.toString))
      text.clear()
    }
    src.linesIterator.foreach { line =>
      if (depth == 0) line match {
        case TopHead(kind, name) =>
          flush(); top = Some(kind -> name)
          cur = Some(Node(name, file, None, topLevel = true, checked = false,
            overrides = false, ""))
        case l if l.trim.startsWith("package") || l.trim.startsWith("import") =>
          flush(); cur = None
        case _ =>
      } else if (depth == 1 && top.exists(_._1 == "object")) line match {
        case MemberHead(mods, name) =>
          flush()
          val o = top.get._2
          val hidden = mods.matches("(?s).*(private|protected)(?!\\[).*") ||
            mods.contains("private[this]")
          val ov = mods.contains("override")
          cur = Some(Node(s"$o.$name", file, Some(o), topLevel = false,
            checked = !hidden && !ov, overrides = ov, ""))
        case _ =>
      }
      text ++= line += '\n'
      depth += line.count(_ == '{') - line.count(_ == '}')
    }
    flush()
    assert(depth == 0, s"unbalanced braces in $file: the member scan is off")
    out.result()
  }

  /** Scala source with comment text and string-literal text blanked to
    * spaces, newlines kept; `$name` and `${…}` interpolations stay code.
    */
  def code(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def blank(): Unit = { out += (if (src(i) == '\n') '\n' else ' '); i += 1 }
    def at(s: String) = src.startsWith(s, i)
    def identChar(j: Int) = j >= 0 && (src(j).isLetterOrDigit || src(j) == '_')
    // code until the `}` closing the current `${`, or the end
    def codeUntilClose(): Unit = {
      var depth = 0
      while (i < src.length && !(src(i) == '}' && depth == 0)) {
        if (at("//")) while (i < src.length && src(i) != '\n') blank()
        else if (at("/*")) comment()
        else if (src(i) == '"') string()
        else if (src(i) == '\'' && charLit()) ()
        else {
          if (src(i) == '{') depth += 1
          if (src(i) == '}') depth -= 1
          out += src(i); i += 1
        }
      }
    }
    def comment(): Unit = {
      var depth = 0
      while (i < src.length && { if (at("/*")) depth += 1; depth > 0 }) {
        if (at("*/")) { blank(); blank(); depth -= 1 } else blank()
      }
    }
    def charLit(): Boolean = {
      val end = if (src.startsWith("\\u", i + 1)) i + 7
        else if (i + 1 < src.length && src(i + 1) == '\\') i + 3 else i + 2
      val ok = end < src.length && src(end) == '\''
      if (ok) { out += ' '; i += 1; while (i <= end) blank() }
      ok
    }
    def string(): Unit = {
      val interp = identChar(i - 1)
      val triple = at("\"\"\"")
      val open = if (triple) 3 else 1
      (0 until open).foreach(_ => blank())
      var done = false
      while (i < src.length && !done) {
        if (triple && at("\"\"\"")) {
          while (at("\"\"\"\"")) blank()
          blank(); blank(); blank(); done = true
        } else if (!triple && src(i) == '"') { blank(); done = true }
        else if (!triple && src(i) == '\\') { blank(); if (i < src.length) blank() }
        else if (interp && at("$$")) { blank(); blank() }
        else if (interp && at("${")) {
          blank(); blank(); codeUntilClose(); if (i < src.length) blank()
        } else if (interp && src(i) == '$') {
          blank(); while (identChar(i)) { out += src(i); i += 1 }
        } else blank()
      }
    }
    codeUntilClose()
    while (i < src.length) { out += src(i); i += 1; codeUntilClose() }
    out.toString
  }
}
