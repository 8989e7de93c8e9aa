package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = Sessions.local(cpus)
    // Robustness-probe passthrough: SPARK_GRAFT_CONF="k=v,k=v" overrides
    // session conf (e.g. spark.sql.adaptive.enabled=false to prove results
    // are invariant to AQE's runtime re-planning). Blank segments (trailing
    // comma) are ignored; a segment without '=' aborts with a clear message.
    // Comma-valued confs (e.g. extraJavaOptions) are unsupported here — use
    // a real spark-defaults mechanism for those.
    sys.env.get("SPARK_GRAFT_CONF").foreach(
      _.split(",").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k, v)
          case _ => sys.error(s"SPARK_GRAFT_CONF segment '$kv' lacks '=' " +
            "(expected k=v[,k=v...]; comma-valued confs unsupported)")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional dev filter (same contract as Bench): re-dump only the named
    // queries into an existing outDir, then verify_local over the full dir.
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = filter match {
      case Some(f) => SparkEntry.queries.filter { case (n, _) => f(n) }
      case None    => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Under the dev filter, emit oracle entries for every SELECTED query
    // (dump missing → verify_local red, so a failed dump of the very query
    // under iteration can't masquerade as 'all green' — ADVICE r05), plus
    // any unselected query whose dump pre-exists from an earlier full run.
    // Only never-selected, never-dumped queries are omitted, so a fresh
    // outDir + filter doesn't report 'no spark dump' for the whole registry
    // (ADVICE r04). The full driver run (no filter) always writes the
    // complete map.
    val oracles = filter match {
      case Some(f) => SparkEntry.oracleSql.filter { case (k, _) =>
        f(k) || Files.exists(Paths.get(s"$outDir/$k")) }
      case None => SparkEntry.oracleSql
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
