package graft

import java.nio.file.Files
import graft.sqlfront.GraftSession

/** Observe-fused DML outcome pins.
  *
  * Every DML statement validates+counts+writes in one pass (the metrics
  * ride the write via Dataset.observe — GraftSession.publishFused /
  * appendFused). These scripts once compared that path against a
  * validate-then-write path that no longer exists; the expected values
  * below are the outcomes both paths produced (the test names keep the
  * "classic" wording for that reason), so each statement's result, the
  * final rows, the reported counts and the rejection messages stay
  * pinned to that contract.
  */
class FusedDmlSpec extends SparkSpec {

  private def fresh(): GraftSession =
    new GraftSession(spark, Files.createTempDirectory("graft_fused"))

  /** Run `script` statement-by-statement on a fresh session, recording
    * each statement's (status-ish) outcome and the thrown message if
    * any; returns the outcomes plus the final SELECT's rows. */
  private def drive(script: Seq[String], probe: String): (Seq[String], Seq[Seq[Any]]) = {
    val s = fresh()
    val outcomes = script.map { stmt =>
      try { s.sql(stmt); "ok" }
      catch { case e: IllegalArgumentException => s"rej: ${e.getMessage}" }
    }
    val rows = s.sql(probe).collect().map(_.toSeq).toSeq
    (outcomes, rows)
  }

  /** Drive `script` (statement → expected outcome) and pin its outcomes
    * and the probe's final rows to the recorded expectations. */
  private def pinned(script: Seq[(String, String)], probe: String,
      rows: Seq[Seq[Any]]): Unit = {
    val (outcomes, got) = drive(script.map(_._1), probe)
    assert(outcomes == script.map(_._2),
      s"statement outcomes diverge:\n got     =$outcomes\n expected=${script.map(_._2)}")
    assert(got == rows, s"final states diverge:\n got     =$got\n expected=$rows")
  }

  test("fused == classic: insert, conflict rejection order, update, delete") {
    pinned(Seq(
      "CREATE TABLE p (id INT PRIMARY KEY)" -> "ok",
      ("CREATE TABLE t (id INT PRIMARY KEY, pid INT REFERENCES p(id), " +
        "v TEXT NOT NULL, u TEXT UNIQUE)") -> "ok",
      "INSERT INTO p VALUES (10), (20)" -> "ok",
      "INSERT INTO t VALUES (1, 10, 'a', 'x'), (2, 20, 'b', 'y')" -> "ok",
      // each rejection class, in the contract's precedence order
      "INSERT INTO t VALUES (3, 10, NULL, 'z')" -> // row-local NOT NULL
        "rej: NOT NULL violation: t.v",
      "INSERT INTO t VALUES (3, 99, 'c', 'z')" -> // FK orphan
        "rej: FK violation: t.pid → p.id",
      "INSERT INTO t VALUES (3, 10, 'c', 'q'), (3, 20, 'd', 'r')" -> // in-batch dup PK
        "rej: UNIQUE violation within batch: id",
      "INSERT INTO t VALUES (3, 10, 'c', 'x')" -> // conflict with existing UNIQUE
        "rej: UNIQUE violation: t(u)",
      // a NOT NULL + FK + dup batch must report the row-local violation
      "INSERT INTO t VALUES (4, 99, NULL, 'q'), (4, 99, NULL, 'q')" ->
        "rej: NOT NULL violation: t.v",
      "INSERT INTO t VALUES (3, 10, 'c', 'z')" -> "ok",
      "UPDATE t SET v = v || '!' WHERE id >= 2" -> "ok",
      "DELETE FROM t WHERE id = 1" -> "ok",
      "UPDATE t SET u = 'x' WHERE id = 3" -> "ok", // post-image UNIQUE? (x free after delete)
      "UPDATE t SET u = 'y'" -> // post-image UNIQUE violation across rows
        "rej: UNIQUE violation after UPDATE: u"
    ), "SELECT id, pid, v, u FROM t ORDER BY id",
      Seq(Seq(2, 20, "b!", "y"), Seq(3, 10, "c!", "x")))
  }

  test("fused == classic: upsert arms and merge four-arm sync") {
    pinned(Seq(
      "CREATE TABLE inv (sku TEXT PRIMARY KEY, qty INT, price DOUBLE)" -> "ok",
      "INSERT INTO inv VALUES ('a', 5, 1.0), ('b', 3, 2.0)" -> "ok",
      ("INSERT INTO inv VALUES ('a', 7, 1.5), ('c', 9, 3.0) " +
        "ON CONFLICT (sku) DO UPDATE SET qty = qty + EXCLUDED.qty, price = EXCLUDED.price") -> "ok",
      ("INSERT INTO inv VALUES ('b', 100, 9.9), ('d', 1, 0.5) " +
        "ON CONFLICT (sku) DO UPDATE SET qty = EXCLUDED.qty WHERE EXCLUDED.qty < 50") -> "ok",
      "INSERT INTO inv VALUES ('a', 0, 0.0), ('e', 4, 4.0) ON CONFLICT DO NOTHING" -> "ok",
      // affect-twice rejection
      ("INSERT INTO inv VALUES ('a', 1, 1.0), ('a', 2, 2.0) " +
        "ON CONFLICT (sku) DO UPDATE SET qty = EXCLUDED.qty") ->
        ("rej: ON CONFLICT DO UPDATE cannot affect a row a second time: " +
          "duplicate (sku) keys in the insert batch"),
      "CREATE TABLE feed (sku TEXT PRIMARY KEY, amt INT)" -> "ok",
      "INSERT INTO feed VALUES ('a', 10), ('b', -100), ('z', 30)" -> "ok",
      ("MERGE INTO inv i USING feed f ON i.sku = f.sku " +
        "WHEN MATCHED AND i.qty + f.amt <= 0 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET qty = i.qty + f.amt " +
        "WHEN NOT MATCHED THEN INSERT VALUES (f.sku, f.amt, 0.0) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET price = -1.0") -> "ok"
    ), "SELECT sku, qty, price FROM inv ORDER BY sku",
      Seq(Seq("a", 22, 1.5), Seq("c", 9, -1.0), Seq("d", 1, -1.0), Seq("e", 4, -1.0),
        Seq("z", 30, 0.0)))
  }

  test("fused reports the same affected-row counts as classic") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    val counts = Seq(
      "INSERT INTO t VALUES (1, 1), (2, 2), (3, 3)",
      "UPDATE t SET v = v + 1 WHERE id >= 2",
      "INSERT INTO t VALUES (2, 0), (4, 4) ON CONFLICT DO NOTHING",
      "INSERT INTO t VALUES (3, 30), (5, 5) ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v",
      "DELETE FROM t WHERE v >= 4"
    ).map { stmt =>
      val r = s.sql(stmt).collect()(0)
      (r.getString(0), r.getLong(1))
    }
    assert(counts == Seq(("INSERT", 3L), ("UPDATE", 2L), ("INSERT", 1L),
      ("INSERT", 2L), ("DELETE", 3L)))
  }

  test("rejected fused INSERT leaves no stage dirs and no stray part files") {
    val wh = Files.createTempDirectory("graft_fused_stage")
    val s = new GraftSession(spark, wh)
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT NOT NULL)")
    s.sql("INSERT INTO t VALUES (1, 'a')")
    val tblRoot = wh.resolve("t")
    def entries(): Seq[String] = {
      val st = Files.list(tblRoot)
      try {
        val b = Seq.newBuilder[String]
        st.forEach(p => b += p.getFileName.toString)
        b.result()
      } finally st.close()
    }
    val before = entries().sorted
    intercept[IllegalArgumentException](s.sql("INSERT INTO t VALUES (2, NULL)"))
    intercept[IllegalArgumentException](s.sql("INSERT INTO t VALUES (1, 'dup')"))
    assert(entries().sorted == before, "rejected INSERTs must not leave dirs behind")
    assert(s.sql("SELECT count(*) FROM t").collect()(0).getLong(0) == 1L)
  }

  test("RETURNING through the fused paths matches classic") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    val ret = Seq(
      "INSERT INTO t VALUES (1, 1), (2, 2) RETURNING id, v",
      "UPDATE t SET v = v * 10 WHERE id = 2 RETURNING id, v",
      "DELETE FROM t WHERE id = 1 RETURNING id, v"
    ).map(stmt =>
      s.sql(stmt).collect().map(_.toSeq).toSeq.sortBy(_.head.toString))
    assert(ret == Seq(Seq(Seq(1, 1), Seq(2, 2)), Seq(Seq(2, 20)), Seq(Seq(1, 1))))
  }
}
