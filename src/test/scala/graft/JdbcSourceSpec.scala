package graft

import java.nio.file.Files
import java.sql.DriverManager

import graft.sources.JdbcSource

/** S10 external JDBC source against an embedded Derby database (the only
  * JDBC engine in the sandbox — ships with Spark for the Hive metastore).
  * Proves the real `spark.read.jdbc` wiring: schema mapping, subquery
  * pushdown paging (the reference's fetch_tracked_topics shape), and the
  * range-partitioned parallel read that replaces LIMIT/OFFSET paging.
  */
class JdbcSourceSpec extends SparkSpec {

  private lazy val conn: JdbcSource.Conn = {
    val dir = Files.createTempDirectory("derbydb").resolve("topics").toString
    val url = s"jdbc:derby:$dir;create=true"
    val c = DriverManager.getConnection(url)
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
    // 40 topics: half processed+tracked with fresh timestamps, half stale
    // or untracked — mirrors the reference's predicate surface
    (1 to 40).foreach { i =>
      ins.setLong(1, i.toLong)
      ins.setString(2, f"topic_$i%03d")
      ins.setString(3, if (i % 4 == 0) "pending" else "processed")
      ins.setBoolean(4, i % 5 != 0)
      ins.setLong(5, if (i % 3 == 0) 1000L else 2000L + i)
      ins.addBatch()
    }
    ins.executeBatch()
    st.close(); c.close()
    JdbcSource.Conn(s"jdbc:derby:$dir")
  }

  test("S10: whole-table jdbc read maps the schema") {
    val df = JdbcSource.read(spark, conn, "topics_to_schedule")
    assert(df.count() == 40)
    assert(df.columns.map(_.toLowerCase).toSet ==
      Set("id", "topic", "status", "tracked", "last_update_timestamp"))
  }

  test("S10: trackedTopics pages in the database (subquery pushdown)") {
    val page1 = JdbcSource.trackedTopics(spark, conn,
      sinceTs = 1500L, pageSize = 5, pageNo = 1).collect().map(_.getString(0))
    val page2 = JdbcSource.trackedTopics(spark, conn,
      sinceTs = 1500L, pageSize = 5, pageNo = 2).collect().map(_.getString(0))
    assert(page1.length == 5 && page2.length == 5)
    assert((page1.toSet & page2.toSet).isEmpty, "pages overlap")
    // newest-first: page1 holds the largest qualifying ids
    assert(page1.head == "topic_038") // 40 pending, 39 stale, 38 qualifies
    // predicate: no pending (i%4==0), no untracked (i%5==0), no stale (i%3==0)
    val all = (page1 ++ page2)
    assert(all.forall { t =>
      val i = t.stripPrefix("topic_").toInt
      i % 4 != 0 && i % 5 != 0 && i % 3 != 0
    })
  }

  test("S10: range-partitioned parallel read covers all rows exactly once") {
    val df = JdbcSource.readPartitioned(spark, conn, "topics_to_schedule",
      partitionColumn = "id", lowerBound = 1L, upperBound = 41L,
      numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 40)
    assert(df.select("id").distinct().count() == 40)
  }
}
