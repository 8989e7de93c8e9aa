package graft.ops

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** First-touch physical-layout builds, installed ATOMICALLY into the
  * session warehouse — shared by every op that materializes an alternate
  * layout of a base table (z-order q104, bloom-filter q114, day
  * partitioning q96, compaction, retention).
  *
  * Two hazards, both real in this repo's own harness:
  *  - same-JVM races (Verify runs queries concurrently-ish, tests share
  *    one session): serialized by the in-memory map;
  *  - CROSS-JVM races (Verify and Bench are separate sbt JVMs): the build
  *    runs into a process-private temp dir and `Files.move(ATOMIC_MOVE)`s
  *    into place, so a reader can never list a half-written directory. A
  *    racer that loses the rename discards its temp copy and trusts the
  *    winner. An existing dir is trusted only with `_SUCCESS` present
  *    (Spark writes it last).
  */
object LayoutCache {

  private val installed = TrieMap.empty[String, String]

  /** Content fingerprint of a source dir for use in layout names: a hash
    * over the sorted (relative path, size, mtime) of every file under it.
    * The warehouse outlives both JVMs and testdata generations, and
    * installed layouts are trusted across JVMs — so a layout keyed on the
    * source PATH alone would be served stale after the driver regenerates
    * the testdata in place (it does, between rounds). Keying on content
    * metadata makes a regeneration produce a fresh key; the orphaned old
    * layout is dead weight on disk, never a wrong answer.
    */
  def sourceKey(d: String): String = {
    val root = java.nio.file.Paths.get(d)
    val parts =
      if (!java.nio.file.Files.isDirectory(root)) Seq(d)
      else Nio.walk(root)
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => s"${root.relativize(p)}:${java.nio.file.Files.size(p)}:" +
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .sorted
    ((d + parts.mkString("|")).hashCode & 0x7fffffff).toHexString
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    Nio.deleteTree(p)

  /** Return the warehouse path for layout `name`, building it first via
    * `build(tmpPath)` if no complete install exists. `name` must encode
    * everything the layout depends on (e.g. a hash of the source dir).
    */
  def installOnce(s: SparkSession, name: String)
      (build: String => Unit): String =
    installed.synchronized {
      installed.getOrElseUpdate(name, {
        val wh = java.nio.file.Paths.get(java.net.URI.create(
          s.conf.get("spark.sql.warehouse.dir")).getPath)
        val p = wh.resolve(name)
        if (!java.nio.file.Files.exists(p.resolve("_SUCCESS"))) {
          val tmp = wh.resolve(s"$name.tmp-${java.util.UUID.randomUUID}")
          build(tmp.toString)
          try java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: java.nio.file.FileSystemException
                if java.nio.file.Files.exists(p.resolve("_SUCCESS")) =>
              deleteRecursively(tmp) // lost the race; winner is complete
          }
        }
        p.toString
      })
    }
}
