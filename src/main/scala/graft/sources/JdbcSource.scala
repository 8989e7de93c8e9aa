package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** External JDBC topic source (SURVEY.md §2.1 S10).
  *
  * The reference pulls its work list — tracked topics — from Postgres:
  * `s3_rankings_collector.py:129-142` (asyncpg `SELECT topic FROM
  * topics_to_schedule WHERE last_time_scheduled > ts ORDER BY ... LIMIT
  * ... OFFSET ...`) and `rankings_generator.py:117-129` (SQLAlchemy, same
  * table, status/tracked predicates). The Spark-first realization is
  * `spark.read.jdbc`: the predicate and column pruning push into the
  * remote database as SQL, and the scan parallelizes across executors via
  * `partitionColumn` bounds instead of the reference's driver-side
  * page_no/page_size loop.
  *
  * Scale posture: a topics table is dimension-sized — read it once with a
  * bounded partition count (each partition is one DB connection; hundreds
  * of concurrent connections would dos the database, so `numPartitions`
  * stays small and the result is `broadcast()` into fact joins downstream.
  * Never point this at a fact table; facts belong in columnar storage.
  */
object JdbcSource {

  /** Connection seam: url + credentials + driver, defaulting to an
    * embedded Derby URL so the seam is exercisable with zero external
    * infrastructure (the unit test) and swappable for Postgres in
    * production by changing ONLY this value.
    */
  final case class Conn(
      url: String,
      user: Option[String] = None,
      password: Option[String] = None,
      driver: Option[String] = None) {
    def properties: Properties = {
      val p = new Properties()
      user.foreach(p.setProperty("user", _))
      password.foreach(p.setProperty("password", _))
      driver.foreach(p.setProperty("driver", _))
      p
    }
  }

  /** Whole-table (or pushed-subquery) read over one connection. `table`
    * accepts either a table name or a parenthesized subquery alias —
    * `"(SELECT topic FROM topics_to_schedule WHERE ...) t"` — which ships
    * the predicate to the database, the jdbc analog of parquet pushdown.
    */
  def read(spark: SparkSession, conn: Conn, table: String): DataFrame =
    spark.read.jdbc(conn.url, table, conn.properties)

  /** Range-partitioned parallel read: Spark issues one
    * `WHERE partCol BETWEEN ...` query per partition — the distributed
    * replacement for the reference's sequential LIMIT/OFFSET paging.
    */
  def readPartitioned(
      spark: SparkSession,
      conn: Conn,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int): DataFrame =
    spark.read.jdbc(conn.url, table, partitionColumn,
      lowerBound, upperBound, numPartitions, conn.properties)

  /** The reference's `fetch_tracked_topics` shape over jdbc: recently
    * scheduled tracked topics, newest first, one page
    * (`rankings_generator.py:117-129`). The paging/ordering runs in the
    * database via the subquery pushdown; Spark sees only the page.
    */
  def trackedTopics(
      spark: SparkSession,
      conn: Conn,
      sinceTs: Long,
      pageSize: Int,
      pageNo: Int): DataFrame = {
    val offset = (pageNo - 1) * pageSize
    read(spark, conn,
      s"""(SELECT topic FROM topics_to_schedule
         | WHERE status = 'processed' AND tracked = true
         |   AND last_update_timestamp > $sinceTs
         | ORDER BY last_update_timestamp DESC
         | OFFSET $offset ROWS FETCH NEXT $pageSize ROWS ONLY) t"""
        .stripMargin)
  }

  /** Embedded topics database seeded deterministically from the nation
    * parquet dimension — the driver-visible form of S10 (q188): the
    * declared query reads topics through REAL `spark.read.jdbc` while the
    * DuckDB oracle derives the identical rows from the same parquet table
    * with the same arithmetic (status/tracked/timestamp are pure functions
    * of n_nationkey), so the jdbc path gets a full rows+schema+hash gate.
    *
    * Derby is the one JDBC engine in the sandbox (ships with Spark for the
    * Hive metastore). The db directory is keyed by (pid, sfDir): one seed
    * per JVM per scale factor — Verify/Bench reruns in the same JVM reuse
    * it (the bench then times the recurring read, not the one-time seed,
    * matching how a production topics DB pre-exists its consumers), while
    * a fresh JVM always seeds a fresh directory so stale files or Derby
    * boot locks from a dead process can never leak in. The 25-row collect
    * is a fixed dimension — the documented bounded-collect class.
    */
  private val seededDbs =
    scala.collection.concurrent.TrieMap.empty[String, Conn]

  def topicsDbFromNation(spark: SparkSession, sfDir: String): Conn =
    seededDbs.synchronized {
      seededDbs.getOrElseUpdate(sfDir, {
        val pid = ProcessHandle.current().pid()
        val root = new java.io.File(
          sys.props("java.io.tmpdir"),
          s"graft_jdbc_${pid}_${Integer.toHexString(sfDir.hashCode)}")
        // a RECYCLED pid can meet a stale dir from a dead process —
        // CREATE TABLE would then throw instead of reseeding (ADVICE
        // r11). This JVM hasn't seeded it (TrieMap miss), so delete
        // first: seeding stays idempotent against leftover /tmp state.
        graft.ops.Nio.deleteTree(root.toPath)
        val dir = new java.io.File(root, "topics").getAbsolutePath
        val rows = graft.Tables.t(spark, sfDir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"))
          .collect()
        val c = java.sql.DriverManager
          .getConnection(s"jdbc:derby:$dir;create=true")
        try {
          val st = c.createStatement()
          st.execute(
            """CREATE TABLE topics_to_schedule (
              |  id BIGINT NOT NULL,
              |  topic VARCHAR(128) NOT NULL,
              |  status VARCHAR(32) NOT NULL,
              |  tracked BOOLEAN NOT NULL,
              |  last_update_timestamp BIGINT NOT NULL,
              |  PRIMARY KEY (id))""".stripMargin)
          val ins = c.prepareStatement(
            "INSERT INTO topics_to_schedule VALUES (?, ?, ?, ?, ?)")
          rows.foreach { r =>
            val k = r.getLong(0)
            ins.setLong(1, k)
            ins.setString(2, r.getString(1))
            // deterministic pure functions of the key — replayable in the
            // DuckDB oracle over the nation parquet (q188's contract)
            ins.setString(3, if (k % 4 == 0) "pending" else "processed")
            ins.setBoolean(4, k % 5 != 0)
            ins.setLong(5, 2000L + k)
            ins.addBatch()
          }
          ins.executeBatch()
          ins.close(); st.close()
        } finally c.close()
        Conn(s"jdbc:derby:$dir")
      })
    }
}
