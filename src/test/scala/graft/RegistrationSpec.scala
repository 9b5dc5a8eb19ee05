package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.sqlfront.GraftSession
import graft.streaming.MatviewMaintenance

/** After a write, the session rebuilds only what the write changed:
  * registerAll re-installs the temp views whose inputs moved and keeps
  * the others, and an incremental matview refresh whose checkpoint stamp
  * moved, with no refresh reading held state since the previous reset,
  * recomputes as a batch instead of restarting a stream. */
class RegistrationSpec extends SparkSpec {

  private def fresh(): GraftSession =
    new GraftSession(spark, Files.createTempDirectory("graft_reg"))

  /** The relation Spark's session catalog holds for temp view `name`. */
  private def installed(name: String): AnyRef =
    spark.sessionState.catalog.getRawTempView(name).orNull

  private def longs(s: GraftSession, q: String): Seq[Long] =
    s.sql(q).collect().map(_.getLong(0)).toSeq

  test("a write re-registers the table it wrote and keeps the other tables' plans") {
    val s = fresh()
    s.sql("CREATE TABLE customer (c_id BIGINT PRIMARY KEY, name TEXT)")
    s.sql("CREATE TABLE orders (o_id BIGINT PRIMARY KEY, c_id BIGINT, amt DOUBLE)")
    s.sql("INSERT INTO customer VALUES (1, 'a'), (2, 'b')")
    s.sql("INSERT INTO orders VALUES (10, 1, 1.0)")
    assert(longs(s, "SELECT count(*) FROM customer") == Seq(2L))
    val customer = installed("customer")
    val orders = installed("orders")
    assert(customer != null && orders != null)
    s.sql("INSERT INTO orders VALUES (11, 2, 2.0)")
    assert(longs(s, "SELECT count(*) FROM orders") == Seq(2L))
    s.sql("UPDATE orders SET amt = amt * 10 WHERE o_id = 11")
    assert(s.sql("SELECT o_id, amt FROM orders ORDER BY o_id").collect().map(_.toString).toSeq ==
      Seq("[10,1.0]", "[11,20.0]"))
    assert(installed("customer") eq customer)
    assert(!(installed("orders") eq orders))
  }

  test("DROP TABLE, then CREATE of the same name and definition, registers the new table") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    assert(longs(s, "SELECT count(*) FROM t") == Seq(2L))
    s.sql("DROP TABLE t")
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    assert(longs(s, "SELECT count(*) FROM t") == Seq(0L))
    s.sql("INSERT INTO t VALUES (3, 'c')")
    assert(s.sql("SELECT id, v FROM t").collect().map(_.toString).toSeq == Seq("[3,c]"))
  }

  test("DROP TABLE, then CREATE of the same name, in one transaction starts empty") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY)")
    s.sql("INSERT INTO t VALUES (1), (2)")
    s.sql("BEGIN; DROP TABLE t; CREATE TABLE t (id INT PRIMARY KEY)")
    assert(longs(s, "SELECT count(*) FROM t") == Seq(0L))
    s.sql("INSERT INTO t VALUES (3)")
    s.sql("ROLLBACK")
    assert(s.sql("SELECT id FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    s.sql("BEGIN; DROP TABLE t; CREATE TABLE t (id INT PRIMARY KEY); COMMIT")
    assert(longs(s, "SELECT count(*) FROM t") == Seq(0L))
  }

  test("a table name of the engine's own storage is refused and deletes nothing") {
    val s = fresh()
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT)")
    s.sql("INSERT INTO ev VALUES (1, 'a'), (2, 'b')")
    s.sql("CREATE MATERIALIZED VIEW agg AS SELECT kind, count(*) AS n FROM ev GROUP BY kind")
    MatviewMaintenance.refreshOnce(s, "agg")
    s.sql("CREATE DATABASE side")
    s.sql("\\c side")
    s.sql("CREATE TABLE st (id INT PRIMARY KEY)")
    s.sql("INSERT INTO st VALUES (7)")
    s.sql("\\c graft")
    for (stmt <- Seq("CREATE TABLE _db_side (id INT)", "CREATE TABLE _mv_agg (id INT)",
      "CREATE TABLE _ckpt_agg AS SELECT 1 AS id", "CREATE TABLE _txn_x (id INT)",
      "ALTER TABLE ev RENAME TO _db_side"))
      assert(Try(s.sql(stmt)).isFailure, stmt)
    assert(longs(s, "SELECT n FROM agg ORDER BY kind") == Seq(1L, 1L))
    assert(longs(s, "SELECT count(*) FROM ev") == Seq(2L))
    s.sql("\\c side")
    assert(longs(s, "SELECT count(*) FROM st") == Seq(1L))
  }

  test("plain views over a written table show its new rows; others keep their plans") {
    val s = fresh()
    s.sql("CREATE TABLE w (id INT PRIMARY KEY, v INT)")
    s.sql("CREATE TABLE other (id INT PRIMARY KEY)")
    s.sql("INSERT INTO w VALUES (1, 10)")
    s.sql("INSERT INTO other VALUES (7)")
    s.sql("CREATE VIEW big AS SELECT id FROM w WHERE v > 5")
    s.sql("CREATE VIEW big_n AS SELECT count(*) AS n FROM big") // a view over a view
    s.sql("CREATE VIEW other_v AS SELECT id FROM other")
    assert(longs(s, "SELECT n FROM big_n") == Seq(1L))
    val otherV = installed("other_v")
    s.sql("INSERT INTO w VALUES (2, 20), (3, 1)")
    assert(longs(s, "SELECT n FROM big_n") == Seq(2L))
    s.sql("UPDATE w SET v = 100 WHERE id = 3")
    assert(longs(s, "SELECT n FROM big_n") == Seq(3L))
    assert(s.sql("SELECT id FROM big ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(installed("other_v") eq otherV)
    assert(s.sql("SELECT id FROM other_v").collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("ANALYZE's broadcast hint applies to the analyzed table only") {
    val s = fresh()
    s.sql("CREATE TABLE a (id INT PRIMARY KEY, v INT)")
    s.sql("CREATE TABLE b (id INT PRIMARY KEY, w INT)")
    s.sql("INSERT INTO a VALUES (1, 1), (2, 2)")
    s.sql("INSERT INTO b VALUES (1, 5)")
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    // with size-based broadcasts off, only the stats hint can broadcast
    spark.conf.set(k, "-1")
    def plan = s.sql("SELECT a.v, b.w FROM a JOIN b ON a.id = b.id")
      .queryExecution.executedPlan.toString
    try {
      assert(!plan.contains("BroadcastHashJoin"), plan)
      val b = installed("b")
      s.sql("ANALYZE a")
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(installed("b") eq b)
      assert(s.sql("SELECT a.v, b.w FROM a JOIN b ON a.id = b.id").collect()
        .map(_.toString).toSeq == Seq("[1,5]"))
    } finally spark.conf.set(k, prev)
  }

  test("two sessions in different databases take turns and each resolves its own tables") {
    val s1 = fresh()
    val s2 = fresh()
    s2.sql("CREATE DATABASE side")
    s2.sql("\\c side")
    // the same name and definition in both: only the catalog tells them apart
    for (s <- Seq(s1, s2)) s.sql("CREATE TABLE t (id INT PRIMARY KEY)")
    s1.sql("INSERT INTO t VALUES (1)")
    s2.sql("INSERT INTO t VALUES (100), (200)")
    s2.sql("CREATE TABLE only2 (id INT)")
    def ids(s: GraftSession) =
      s.sql("SELECT id FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq
    for (_ <- 1 to 2) {
      assert(ids(s1) == Seq(1))
      assert(ids(s2) == Seq(100, 200))
    }
    s1.sql("INSERT INTO t VALUES (2)")
    assert(ids(s2) == Seq(100, 200))
    assert(ids(s1) == Seq(1, 2))
    assert(Try(s1.sql("SELECT * FROM only2").collect()).isFailure)
    assert(s2.sql("SELECT count(*) FROM only2").collect()(0).getLong(0) == 0L)
  }

  test("two sessions on one SparkSession each read their own pg_database") {
    val a = fresh()
    a.sql("CREATE DATABASE xdb")
    def datnames(s: GraftSession) =
      s.sql("SELECT datname FROM pg_database ORDER BY datname").collect().map(_.getString(0)).toSeq
    assert(datnames(a) == Seq("graft", "xdb"))
    val b = fresh()
    assert(datnames(b) == Seq("graft"))
    assert(datnames(a) == Seq("graft", "xdb"))
    b.sql("CREATE DATABASE ydb")
    assert(datnames(b) == Seq("graft", "ydb"))
    assert(datnames(a) == Seq("graft", "xdb"))
  }

  test("pg_settings shows a conf set with no catalog write") {
    val s = fresh()
    val k = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(k)
    def setting = s.sql(s"SELECT setting FROM pg_settings WHERE name = '$k'")
      .collect().map(_.getString(0)).toSeq
    try {
      assert(setting == Seq(prev))
      val next = if (prev == "7") "9" else "7"
      spark.conf.set(k, next)
      assert(setting == Seq(next))
    } finally spark.conf.set(k, prev)
  }

  test("an INSERT rebuilds the written table's plan and keeps every other registration") {
    val s = fresh()
    s.sql("CREATE TABLE customer (c_id BIGINT PRIMARY KEY, name TEXT)")
    // SERIAL: the INSERT also writes the catalog (the sequence moves)
    s.sql("CREATE TABLE orders (o_id SERIAL, c_id BIGINT)")
    s.sql("INSERT INTO customer VALUES (1, 'a')")
    s.sql("INSERT INTO orders (c_id) VALUES (1)")
    assert(longs(s, "SELECT count(*) FROM orders") == Seq(1L))
    val kept = Seq("customer", "pg_class", "pg_settings", "pg_stats", "pg_database")
      .map(n => n -> installed(n))
    val orders = installed("orders")
    s.sql("INSERT INTO orders (c_id) VALUES (1), (1)")
    assert(longs(s, "SELECT count(*) FROM orders") == Seq(3L))
    assert(!(installed("orders") eq orders))
    for ((n, rel) <- kept) assert(installed(n) eq rel, n)
    // ROLLBACK's un-append rebuilds it too
    val afterInsert = installed("orders")
    s.sql("BEGIN; INSERT INTO orders (c_id) VALUES (1)")
    assert(longs(s, "SELECT count(*) FROM orders") == Seq(4L))
    s.sql("ROLLBACK")
    assert(longs(s, "SELECT count(*) FROM orders") == Seq(3L))
    assert(!(installed("orders") eq afterInsert))
    assert(installed("customer") eq kept.head._2)
  }

  test("planning the first statement after a REFRESH runs no Spark job") {
    val s = fresh()
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT)")
    s.sql("INSERT INTO ev VALUES (1, 'a'), (2, 'b'), (3, 'b')")
    s.sql("CREATE MATERIALIZED VIEW agg AS SELECT kind, count(*) AS n FROM ev GROUP BY kind")
    s.sql("INSERT INTO ev VALUES (4, 'c')")
    s.sql("SELECT 1")
    s.sql("REFRESH MATERIALIZED VIEW agg")
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = s.sql("SELECT 1")
      drain()
      assert(jobs.get == 0)
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(s.sql("SELECT kind, n FROM agg ORDER BY kind").collect().map(_.toString).toSeq ==
      Seq("[a,1]", "[b,2]", "[c,1]"))
    assert(spark.table("agg").schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("kind", "string"), ("n", "bigint")))
  }

  /** Run `body`, returning its result and the number of streaming queries
    * it started. */
  private def streamsStarted[A](body: => A): (A, Int) = {
    val n = new AtomicInteger()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        n.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.streams.removeListener(l)
  }

  test("an incremental refresh after an UPDATE recomputes as a batch, then streams again") {
    val s = fresh()
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT, amt DOUBLE)")
    s.sql("INSERT INTO ev VALUES (1,'a',1.0), (2,'a',2.0), (3,'b',3.0)")
    s.sql("CREATE MATERIALIZED VIEW agg AS " +
      "SELECT kind, count(*) AS n, sum(amt) AS total FROM ev GROUP BY kind")
    def view = s.sql("SELECT kind, n, total FROM agg ORDER BY kind").collect()
      .map(_.toString).toSeq
    // no recorded stamp: the first refresh seeds streaming state
    assert(streamsStarted(MatviewMaintenance.refreshOnce(s, "agg")) == (3L, 1))
    s.sql("UPDATE ev SET amt = 10.0 WHERE id = 1")
    assert(streamsStarted(MatviewMaintenance.refreshOnce(s, "agg")) == (-1L, 0))
    val incremental = view
    assert(incremental == Seq("[a,2,12.0]", "[b,1,3.0]"))
    s.sql("REFRESH MATERIALIZED VIEW agg")
    assert(view == incremental)
    // appends alone: the next refresh streams the snapshot into fresh
    // state, and the one after it reads only the new file
    s.sql("INSERT INTO ev VALUES (4,'b',4.0)")
    assert(streamsStarted(MatviewMaintenance.refreshOnce(s, "agg")) == (4L, 1))
    s.sql("INSERT INTO ev VALUES (5,'a',5.0)")
    assert(streamsStarted(MatviewMaintenance.refreshOnce(s, "agg")) == (1L, 1))
    assert(view == Seq("[a,3,17.0]", "[b,2,7.0]"))
  }

  test("a reset after a refresh that read held state streams, and appends stay incremental") {
    val s = fresh()
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT, amt DOUBLE)")
    s.sql("INSERT INTO ev VALUES (1,'a',1.0), (2,'a',2.0), (3,'b',3.0)")
    s.sql("CREATE MATERIALIZED VIEW agg AS " +
      "SELECT kind, count(*) AS n, sum(amt) AS total FROM ev GROUP BY kind")
    def view = s.sql("SELECT kind, n, total FROM agg ORDER BY kind").collect()
      .map(_.toString).toSeq
    def refresh = streamsStarted(MatviewMaintenance.refreshOnce(s, "agg"))
    assert(refresh == (3L, 1))
    s.sql("INSERT INTO ev VALUES (4,'b',4.0)")
    assert(refresh == (1L, 1)) // streams over held state
    // so the reset streams the new snapshot into fresh state, and the
    // append-only refresh after it reads only the new file, one pass each
    s.sql("UPDATE ev SET amt = 10.0 WHERE id = 1")
    assert(refresh == (4L, 1))
    s.sql("INSERT INTO ev VALUES (5,'a',5.0)")
    assert(refresh == (1L, 1))
    assert(view == Seq("[a,3,17.0]", "[b,2,7.0]"))
    // a reset right after a reset: the state the first one seeded was
    // never read, so the second recomputes as a batch
    s.sql("UPDATE ev SET amt = 20.0 WHERE id = 1")
    assert(refresh == (5L, 1))
    s.sql("UPDATE ev SET amt = 30.0 WHERE id = 1")
    assert(refresh == (-1L, 0))
    assert(view == Seq("[a,3,37.0]", "[b,2,7.0]"))
  }

  test("an incremental refresh that finds no new file leaves the base table readable") {
    val s = fresh()
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT, amt DOUBLE)")
    s.sql("INSERT INTO ev VALUES (1,'a',1.0), (2,'b',2.0), (3,'b',3.0)")
    s.sql("CREATE MATERIALIZED VIEW tot AS SELECT kind, count(*) AS n FROM ev GROUP BY kind")
    s.sql("UPDATE ev SET amt = 0.0 WHERE id = 1")
    s.sql("REFRESH MATERIALIZED VIEW tot INCREMENTALLY")
    s.sql("REFRESH MATERIALIZED VIEW tot INCREMENTALLY")
    assert(longs(s, "SELECT count(*) FROM ev") == Seq(3L))
    assert(s.sql("SELECT kind, n FROM tot ORDER BY kind").collect().map(_.toString).toSeq ==
      Seq("[a,1]", "[b,2]"))
  }
}
