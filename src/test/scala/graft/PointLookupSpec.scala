package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import graft.functions.PointLookup
import graft.sqlfront.GraftSession

/** Primary-key point lookups served by PointLookupRule's driver-side
  * index. Every `pk = k` result is compared with the same query written
  * as `pk BETWEEN k AND k`, which the rule does not touch and which so
  * takes the scan path. */
class PointLookupSpec extends SparkSpec {

  private def fresh(): GraftSession =
    new GraftSession(spark, Files.createTempDirectory("graft_point"))

  private def scans(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.find(_.isInstanceOf[FileSourceScanExec]).isDefined

  private def served(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Run `SELECT cols FROM table WHERE pk = k <rest>` twice and its
    * BETWEEN twin once; assert equal rows and the twin on the scan path.
    * When `indexed`, the second run is served from the index (the first
    * scans if it is the first lookup since a write); otherwise both scan. */
  private def lookup(s: GraftSession, table: String, pk: String, k: String,
      rest: String = "", cols: String = "*", indexed: Boolean = true): Seq[String] = {
    val want = s.sql(s"SELECT $cols FROM $table WHERE $pk BETWEEN $k AND $k $rest")
    assert(scans(want), want.queryExecution.executedPlan.toString)
    val r = rows(want)
    for (i <- 1 to 2) {
      val got = s.sql(s"SELECT $cols FROM $table WHERE $pk = $k $rest")
      if (i == 2 || !indexed) {
        assert(served(got) == indexed, got.queryExecution.executedPlan.toString)
        assert(scans(got) != indexed, got.queryExecution.executedPlan.toString)
      }
      assert(rows(got) == r, s"pk = $k $rest (run $i)")
    }
    r
  }

  test("pk = literal is served from the index for each key type and equals the scan") {
    val s = fresh()
    s.sql("CREATE TABLE l (id BIGINT PRIMARY KEY, v TEXT, n INT)")
    s.sql("INSERT INTO l VALUES (1, 'a', 10), (2, 'b', 20), (3, NULL, 30)")
    assert(lookup(s, "l", "id", "2") == Seq("[2,b,20]"))
    assert(lookup(s, "l", "id", "3", cols = "v, n") == Seq("[null,30]"))
    // the literal on the left, and a literal of another integral type
    val left = s.sql("SELECT * FROM l WHERE 1 = id")
    assert(served(left) && rows(left) == Seq("[1,a,10]"))
    assert(lookup(s, "l", "id", "CAST(2 AS SMALLINT)") == Seq("[2,b,20]"))
    s.sql("CREATE TABLE i (k INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO i VALUES (7, 'x'), (8, 'y')")
    assert(lookup(s, "i", "k", "8") == Seq("[8,y]"))
    s.sql("CREATE TABLE st (k TEXT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO st VALUES ('a', 1), ('a ', 2), ('A', 3)")
    assert(lookup(s, "st", "k", "'a'") == Seq("[a,1]"))
    assert(lookup(s, "st", "k", "'a '") == Seq("[a ,2]"))
    s.sql("CREATE TABLE dt (d DATE PRIMARY KEY, v INT)")
    s.sql("INSERT INTO dt VALUES (DATE '2024-02-29', 1), (DATE '2024-03-01', 2)")
    assert(lookup(s, "dt", "d", "DATE '2024-03-01'") == Seq("[2024-03-01,2]"))
    // a double key keeps the scan path: -0.0 = 0.0 in SQL, not in Java
    s.sql("CREATE TABLE dbl (k DOUBLE PRECISION PRIMARY KEY, v INT)")
    s.sql("INSERT INTO dbl VALUES (0.0, 1), (1.5, 2)")
    assert(lookup(s, "dbl", "k", "1.5", indexed = false) == Seq("[1.5,2]"))
  }

  test("extra conjuncts still filter, and a missing key returns no row") {
    val s = fresh()
    s.sql("CREATE TABLE e (id INT PRIMARY KEY, v TEXT, n INT)")
    s.sql("INSERT INTO e VALUES (1, 'a', 10), (2, 'b', 20)")
    assert(lookup(s, "e", "id", "2", "AND v = 'b'") == Seq("[2,b,20]"))
    assert(lookup(s, "e", "id", "2", "AND v = 'zz'").isEmpty)
    assert(lookup(s, "e", "id", "2", "AND n > 20").isEmpty)
    val contradiction = s.sql("SELECT * FROM e WHERE id = 2 AND id = 1")
    assert(!scans(contradiction) && rows(contradiction).isEmpty)
    assert(lookup(s, "e", "id", "2", "AND (n < 5 OR v LIKE 'b%')") == Seq("[2,b,20]"))
    assert(lookup(s, "e", "id", "99").isEmpty)
    assert(lookup(s, "e", "id", "99", "AND v = 'a'").isEmpty)
    // an aggregate above the lookup still reads the index, not the files
    val agg = s.sql("SELECT count(*) FROM e WHERE id = 1")
    assert(!scans(agg) && rows(agg) == Seq("[1]"))
  }

  test("a lookup after each write verb, ROLLBACK, TRUNCATE and ALTER ADD COLUMN sees the new state") {
    val s = fresh()
    s.sql("CREATE TABLE w (id INT PRIMARY KEY, v TEXT)")
    s.sql("CREATE TABLE src (id INT, v TEXT)")
    s.sql("INSERT INTO w VALUES (1, 'a'), (2, 'b')")
    assert(lookup(s, "w", "id", "1") == Seq("[1,a]"))
    s.sql("INSERT INTO w VALUES (3, 'c')")
    assert(lookup(s, "w", "id", "3") == Seq("[3,c]"))
    s.sql("UPDATE w SET v = 'a2' WHERE id = 1")
    assert(lookup(s, "w", "id", "1") == Seq("[1,a2]"))
    s.sql("DELETE FROM w WHERE id = 2")
    assert(lookup(s, "w", "id", "2").isEmpty)
    s.sql("INSERT INTO w VALUES (1, 'up'), (4, 'd') ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v")
    assert(lookup(s, "w", "id", "1") == Seq("[1,up]"))
    assert(lookup(s, "w", "id", "4") == Seq("[4,d]"))
    s.sql("INSERT INTO src VALUES (3, 'm'), (5, 'e')")
    s.sql("MERGE INTO w USING src ON w.id = src.id WHEN MATCHED THEN UPDATE SET v = src.v " +
      "WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.v)")
    assert(lookup(s, "w", "id", "3") == Seq("[3,m]"))
    assert(lookup(s, "w", "id", "5") == Seq("[5,e]"))
    s.sql("BEGIN")
    s.sql("UPDATE w SET v = 'txn' WHERE id = 5")
    s.sql("INSERT INTO w VALUES (6, 'f')")
    assert(lookup(s, "w", "id", "5") == Seq("[5,txn]"))
    s.sql("ROLLBACK")
    assert(lookup(s, "w", "id", "5") == Seq("[5,e]"))
    assert(lookup(s, "w", "id", "6").isEmpty)
    s.sql("ALTER TABLE w ADD COLUMN n INT")
    assert(lookup(s, "w", "id", "5") == Seq("[5,e,null]"))
    s.sql("INSERT INTO w VALUES (7, 'g', 70)")
    assert(lookup(s, "w", "id", "7", cols = "n, v") == Seq("[70,g]"))
    assert(lookup(s, "w", "id", "5", cols = "n") == Seq("[null]"))
    s.sql("TRUNCATE TABLE w")
    // the empty version must not reuse the dir the rolled-back UPDATE wrote
    assert(rows(s.sql("SELECT * FROM w WHERE id = 5")).isEmpty)
    assert(rows(s.sql("SELECT count(*) FROM w")) == Seq("[0]"))
    s.sql("INSERT INTO w VALUES (5, 'again', 1)")
    assert(lookup(s, "w", "id", "5") == Seq("[5,again,1]"))
  }

  test("composite-PK and no-PK tables keep a FileScan") {
    val s = fresh()
    s.sql("CREATE TABLE c (a INT, b INT, v TEXT, PRIMARY KEY (a, b))")
    s.sql("INSERT INTO c VALUES (1, 1, 'x'), (1, 2, 'y'), (2, 1, 'z')")
    assert(lookup(s, "c", "a", "1", indexed = false) == Seq("[1,1,x]", "[1,2,y]"))
    assert(lookup(s, "c", "a", "1", "AND b = 2", indexed = false) == Seq("[1,2,y]"))
    s.sql("CREATE TABLE np (id INT, v TEXT)")
    s.sql("INSERT INTO np VALUES (1, 'x'), (1, 'y')")
    assert(lookup(s, "np", "id", "1", indexed = false) == Seq("[1,x]", "[1,y]"))
  }

  test("autoBroadcastJoinThreshold=-1 falls back to a FileScan") {
    val s = fresh()
    s.sql("CREATE TABLE b (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO b VALUES (1, 'a'), (2, 'b')")
    assert(lookup(s, "b", "id", "2") == Seq("[2,b]"))
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try assert(lookup(s, "b", "id", "2", indexed = false) == Seq("[2,b]"))
    finally spark.conf.set(k, prev)
  }

  test("a warm lookup runs no Spark job") {
    val s = fresh()
    s.sql("CREATE TABLE j (id BIGINT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO j VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    // after a write the first lookup scans, and the second builds the index
    val first = s.sql("SELECT v FROM j WHERE id = 2")
    assert(scans(first) && rows(first) == Seq("[b]"))
    val second = s.sql("SELECT v FROM j WHERE id = 2")
    assert(served(second) && rows(second) == Seq("[b]"))
    spark.sparkContext.addSparkListener(listener)
    try {
      drain()
      jobs.set(0)
      // a key not looked up before: the index, not the literal, is warm
      assert(rows(s.sql("SELECT v FROM j WHERE id = 3")) == Seq("[c]"))
      assert(rows(s.sql("SELECT v FROM j WHERE id = 9")).isEmpty)
      drain()
      assert(jobs.get == 0)
      assert(rows(s.sql("SELECT v FROM j WHERE id BETWEEN 3 AND 3")) == Seq("[c]"))
      drain()
      assert(jobs.get > 0) // the listener does see the scan path's job
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The directory whose index PointLookup holds for `table`. */
  private def tableDir(s: GraftSession, table: String) =
    s.catalog.tableDir(s.catalog.getTable(table).get).getParent

  test("DROP TABLE, TRUNCATE, RENAME and DROP DATABASE release the index") {
    val s = fresh()
    def warm(t: String) = {
      s.sql(s"CREATE TABLE $t (id INT PRIMARY KEY, v TEXT)")
      s.sql(s"INSERT INTO $t VALUES (1, 'a')")
      assert(lookup(s, t, "id", "1") == Seq("[1,a]"))
      val dir = tableDir(s, t)
      assert(PointLookup.holds(dir))
      dir
    }
    val d = warm("d")
    s.sql("DROP TABLE d")
    assert(!PointLookup.holds(d))
    val tr = warm("tr")
    s.sql("TRUNCATE TABLE tr")
    assert(!PointLookup.holds(tr))
    val rn = warm("rn")
    s.sql("ALTER TABLE rn RENAME TO rn2")
    assert(!PointLookup.holds(rn))
    assert(rows(s.sql("SELECT v FROM rn2 WHERE id = 1")) == Seq("[a]"))
    s.sql("CREATE DATABASE lookups")
    s.sql("\\c lookups")
    val other = warm("o")
    s.sql("\\c graft")
    s.sql("DROP DATABASE lookups")
    assert(!PointLookup.holds(other))
  }

  test("EXPLAIN of a cold lookup runs no job; DML reads of its target build no index") {
    val s = fresh()
    s.sql("CREATE TABLE x (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO x VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val dir = tableDir(s, "x")
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    def plan(q: String) = s.sql(s"EXPLAIN $q").collect().map(_.getString(0)).mkString("\n")
    // registers the session's views (a job of its own) on the scan path
    assert(rows(s.sql("SELECT v FROM x WHERE id BETWEEN 2 AND 2")) == Seq("[b]"))
    spark.sparkContext.addSparkListener(listener)
    try {
      drain()
      jobs.set(0)
      val cold = plan("SELECT v FROM x WHERE id = 2")
      drain()
      assert(jobs.get == 0)
      assert(!PointLookup.holds(dir))
      assert(cold.contains("Scan parquet"), cold)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(lookup(s, "x", "id", "2") == Seq("[2,b]"))
    val warm = plan("SELECT v FROM x WHERE id = 2")
    assert(warm.contains("LocalTableScan") && !warm.contains("Scan parquet"), warm)
    // the target's own reads stay on the scan path: its publish would
    // make an index built from them stale at once
    s.sql("TRUNCATE TABLE x")
    s.sql("INSERT INTO x VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(rows(s.sql("UPDATE x SET v = 'b2' WHERE id = 2 RETURNING id, v")) == Seq("[2,b2]"))
    assert(rows(s.sql("DELETE FROM x WHERE id = 3 RETURNING id")) == Seq("[3]"))
    assert(!PointLookup.holds(dir))
    assert(lookup(s, "x", "id", "2") == Seq("[2,b2]"))
    assert(lookup(s, "x", "id", "3").isEmpty)
  }
}
