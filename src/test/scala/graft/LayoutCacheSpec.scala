package graft

import graft.ops.LayoutCache

/** The staleness contract of persisted layouts: the warehouse outlives
  * JVMs and testdata generations, and LayoutCache trusts an installed
  * layout across JVMs — so the layout NAME must change whenever the
  * source data does. sourceKey derives the name from (path, file names,
  * sizes, mtimes); these tests pin that a driver-side regeneration in
  * place (same path, new bytes) yields a new key while a mere re-read
  * does not.
  */
class LayoutCacheSpec extends SparkSpec {

  private def writeFile(p: java.nio.file.Path, s: String): Unit = {
    java.nio.file.Files.write(p, s.getBytes("UTF-8")); ()
  }

  test("sourceKey is stable across reads of an unchanged dir") {
    val d = java.nio.file.Files.createTempDirectory("lc")
    writeFile(d.resolve("a.parquet"), "aaaa")
    assert(LayoutCache.sourceKey(d.toString) ==
      LayoutCache.sourceKey(d.toString))
  }

  test("sourceKey changes when a source file is regenerated in place") {
    val d = java.nio.file.Files.createTempDirectory("lc")
    val f = d.resolve("a.parquet")
    writeFile(f, "aaaa")
    val k0 = LayoutCache.sourceKey(d.toString)
    // same size, different mtime — the regeneration signature a
    // same-bytes-length rewrite leaves behind
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 60000))
    val k1 = LayoutCache.sourceKey(d.toString)
    assert(k0 != k1, "mtime change did not rotate the layout key")
    // size change rotates it again
    writeFile(f, "aaaaaaaa")
    assert(LayoutCache.sourceKey(d.toString) != k1)
  }

  test("sourceKey distinguishes dirs with identical content listings " +
    "at different paths") {
    val d1 = java.nio.file.Files.createTempDirectory("lc")
    val d2 = java.nio.file.Files.createTempDirectory("lc")
    // no files at all: metadata lists are both empty; the path term
    // must still separate them (two sf dirs may briefly list equal)
    assert(LayoutCache.sourceKey(d1.toString) !=
      LayoutCache.sourceKey(d2.toString))
  }

  test("a build that throws leaves no temp dir in the warehouse, and a " +
    "later good build installs") {
    val wh = java.nio.file.Paths.get(java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val name = s"lc_spec_${java.util.UUID.randomUUID}"
    def debris = if (!java.nio.file.Files.isDirectory(wh)) Nil
      else graft.ops.Nio.list(wh)
        .filter(_.getFileName.toString.startsWith(s"$name.tmp-"))
    // the build writes part of its layout, then fails
    def failing(tmp: String): Unit = {
      val d = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.createDirectories(d)
      writeFile(d.resolve("part-0.parquet"), "partial")
      throw new IllegalStateException("build failed")
    }
    (1 to 2).foreach { _ =>
      intercept[IllegalStateException](
        LayoutCache.installOnce(spark, name)(failing))
    }
    assert(debris.isEmpty, s"failed builds left $debris")
    val p = LayoutCache.installOnce(spark, name) { tmp =>
      val d = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.createDirectories(d)
      writeFile(d.resolve("_SUCCESS"), "")
    }
    try {
      assert(p == wh.resolve(name).toString)
      assert(java.nio.file.Files.exists(wh.resolve(name).resolve("_SUCCESS")))
      assert(debris.isEmpty)
    } finally graft.ops.Nio.deleteTree(wh.resolve(name))
  }
}
