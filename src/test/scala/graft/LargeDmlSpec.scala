package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sqlfront.GraftSession

/** DML on a table well past the single-file write size (8 MB estimated or
  * 100k known rows): validation must stay distributed (in-batch
  * duplicates are a window count, never a key set merged on the driver),
  * rejections must leave the snapshot untouched, and valid statements
  * must keep the parallel write. */
class LargeDmlSpec extends SparkSpec {

  private val rows = 200000L

  test("large DML: distributed duplicate check, clean rejection, parallel publish") {
    val wh = Files.createTempDirectory("graft_large_dml")
    val s = new GraftSession(spark, wh)
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      def table = s.catalog.getTable("big").get
      def parts(dir: Path): Long = {
        val st = Files.list(dir)
        try st.filter(p => p.toString.endsWith(".parquet")).count()
        finally st.close()
      }
      def status(stmt: String): (String, Long) = {
        val r = s.sql(stmt).collect()(0)
        (r.getString(0), r.getLong(1))
      }
      def reject(stmt: String): String =
        intercept[IllegalArgumentException](s.sql(stmt)).getMessage

      // a 64-hex-char pad per row keeps the parquet snapshot's byte
      // estimate above the single-file threshold for every later scan
      s.sql("CREATE TABLE big (id BIGINT PRIMARY KEY, v BIGINT, pad TEXT)")
      spark.range(0, rows)
        .selectExpr("id AS src_id", "id AS src_v", "sha2(cast(id AS string), 256) AS src_pad")
        .createOrReplaceTempView("big_src")
      assert(status("INSERT INTO big SELECT src_id, src_v, src_pad FROM big_src") ==
        ("INSERT", rows))
      assert(parts(s.catalog.tableDir(table)) > 1)

      // in-batch duplicate in a large INSERT … SELECT: rejected, nothing appended
      val before = parts(s.catalog.tableDir(table))
      assert(reject("INSERT INTO big SELECT src_id + 1000000, src_v, src_pad FROM big_src " +
        "UNION ALL SELECT 1000007, 0, 'dup'") == "UNIQUE violation within batch: id")
      assert(parts(s.catalog.tableDir(table)) == before)

      // (a) an UPDATE whose SET makes two keys collide: rejected, the
      // version pointer does not move, no next-version dir is left behind
      val v0 = table.version
      assert(reject("UPDATE big SET id = 7 WHERE id = 8") == "UNIQUE violation after UPDATE: id")
      assert(table.version == v0)
      assert(!Files.exists(s.catalog.tableDir(table.copy(version = v0 + 1))))

      // (b) valid large UPDATE and MERGE publish in parallel with exact counts
      assert(status("UPDATE big SET v = v + 1 WHERE id % 2 = 0") == ("UPDATE", rows / 2))
      assert(table.version == v0 + 1)
      assert(parts(s.catalog.tableDir(table)) > 1)
      spark.range(rows - 500, rows + 500)
        .selectExpr("id AS m_id", "-id AS m_v", "'m' AS m_pad")
        .createOrReplaceTempView("merge_src")
      assert(status("MERGE INTO big t USING merge_src m ON t.id = m.m_id " +
        "WHEN MATCHED THEN UPDATE SET v = m.m_v " +
        "WHEN NOT MATCHED THEN INSERT VALUES (m.m_id, m.m_v, m.m_pad)") == ("MERGE", 1000L))
      assert(table.version == v0 + 2)
      assert(parts(s.catalog.tableDir(table)) > 1)
      val r = s.sql("SELECT count(*), count(DISTINCT id), sum(v) FROM big").collect()(0)
      val kept = rows - 500 // rows untouched by the MERGE, half of them bumped by the UPDATE
      assert(r.getLong(0) == rows + 500 && r.getLong(1) == rows + 500)
      assert(r.getLong(2) ==
        (0L until kept).sum + kept / 2 - (rows - 500 until rows + 500).sum)

      // small statements take the same path: a batch-sized table's
      // INSERT, UPDATE and MERGE validate with the same window count
      s.sql("CREATE TABLE tiny (id INT PRIMARY KEY, v INT)")
      assert(status("INSERT INTO tiny VALUES (1, 1), (2, 2), (3, 3)") == ("INSERT", 3L))
      assert(reject("INSERT INTO tiny VALUES (4, 4), (4, 5)") ==
        "UNIQUE violation within batch: id")
      assert(reject("UPDATE tiny SET id = 1") == "UNIQUE violation after UPDATE: id")
      assert(status("UPDATE tiny SET id = id + 10") == ("UPDATE", 3L))
      assert(status("MERGE INTO tiny t USING (SELECT 11 AS k) m ON t.id = m.k " +
        "WHEN MATCHED THEN UPDATE SET v = 0 " +
        "WHEN NOT MATCHED THEN INSERT VALUES (m.k, 0)") == ("MERGE", 1L))
      assert(parts(s.catalog.tableDir(s.catalog.getTable("tiny").get)) == 1)

      // (c) no executed plan holds a driver-merged key set
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      val seen = plans.synchronized(plans.toList)
      assert(seen.exists(_.contains("CollectMetrics")), "validation plans were not captured")
      assert(!seen.exists(_.contains("collect_set")),
        "a DML plan merges keys on the driver:\n" +
          seen.filter(_.contains("collect_set")).mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
  }
}
