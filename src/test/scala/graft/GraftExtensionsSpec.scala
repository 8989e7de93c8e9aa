package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, SparkSession}

import graft.ops.GraftExtensions

/** One route to each native function: queries reach the expressions
  * through the `Scalars` helpers, and SQL text through the one
  * GraftExtensions table, which checks every function's arity the same way.
  * A query build changes nothing in the caller's session: it registers no
  * function and no temp view.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("every function rejects zero and two arguments with an " +
    "AnalysisException that names it") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.toSet ==
      Set("registered_domain", "rolling_hash", "token_hash", "shingles3"))
    for (name <- names; args <- Seq("", "'a', 'b'")) {
      val e = intercept[AnalysisException] {
        extSpark.sql(s"SELECT $name($args)").collect()
      }
      assert(e.getMessage.contains(name), s"$name($args): ${e.getMessage}")
    }
  }

  private def tempFunctions(s: SparkSession): Set[String] =
    s.catalog.listFunctions().collect().filter(_.isTemporary).map(_.name).toSet

  test("building q19b and q70b leaves the session's functions unchanged") {
    val s = spark.newSession()
    val before = tempFunctions(s)
    for (q <- Seq("q19b_domain_parse_psl", "q70b_rolling_hash_native"))
      Queries.byName(q).build(s, sf)
    assert(tempFunctions(s) == before)
  }

  private def tables(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().map(_.name).toSet

  test("building q60, q67, q68 and q171 leaves the session's tables " +
    "unchanged") {
    val s = spark.newSession()
    val before = tables(s)
    for (q <- Seq("q60_grouping_sets", "q67_in_subquery",
        "q68_scalar_subquery", "q171_exists_correlated"))
      Queries.byName(q).build(s, sf)
    assert(tables(s) == before)
  }

  test("no Queries*.scala registers a temp view") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val words = Seq("TempView", "registerTempTable")
    val hits = graft.ops.Nio.list(root)
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("Queries") && n.endsWith(".scala")
      }
      .flatMap { p =>
        val src = Files.readString(p)
        words.filter(src.contains).map(w => s"${p.getFileName}: $w")
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("functionRegistry, createOrReplaceTempFunction and call_function( " +
    "appear under src/main only in GraftExtensions.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val words = Seq("functionRegistry", "createOrReplaceTempFunction",
      "call_function(")
    val hits = graft.ops.Nio.walk(root)
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftExtensions.scala")
      .flatMap { p =>
        val src = Files.readString(p)
        words.filter(src.contains).map(w => s"${root.relativize(p)}: $w")
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
