package graft

import java.nio.file.Files
import graft.sqlfront.GraftSession

/** Introspection, COPY bulk load, and time-travel reads. */
class SessionExtrasSpec extends SparkSpec {

  private def fresh(): GraftSession =
    new GraftSession(spark, Files.createTempDirectory("graft_wh"))

  test("SHOW TABLES lists catalog objects with kinds") {
    val s = fresh()
    s.sql("""CREATE TABLE t1 (id INT PRIMARY KEY);
             CREATE VIEW v1 AS SELECT * FROM t1;
             CREATE SEQUENCE sq1;
             CREATE TYPE col AS ENUM ('red','blue')""")
    val m = s.sql("SHOW TABLES").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("t1") == "table" && m("v1") == "view" &&
      m("sq1") == "sequence" && m("col") == "enum")
  }

  test("DESCRIBE shows declared types and constraint flags") {
    val s = fresh()
    s.sql("CREATE TABLE parent (id INT PRIMARY KEY); " +
      "CREATE TABLE t (id SERIAL PRIMARY KEY, name TEXT NOT NULL, pid INT REFERENCES parent(id))")
    val d = s.sql("DESCRIBE t").collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(d("id").contains("PK") && d("id").contains("SERIAL"))
    assert(d("name").contains("NOT NULL"))
    assert(d("pid").contains("FK→parent(id)"))
  }

  test("DESCRIBE appends index and FK constraint rows like psql \\d") {
    val s = fresh()
    s.sql("CREATE TABLE parent (id INT PRIMARY KEY); " +
      "CREATE TABLE t (id INT PRIMARY KEY, email TEXT UNIQUE, a INT, b INT, " +
      "pid INT REFERENCES parent(id), UNIQUE (a, b))")
    val rows = s.sql("DESCRIBE t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val byName = rows.map(r => r._1 -> r).toMap
    assert(byName("t_pkey")._3 == "PRIMARY KEY (id)")
    assert(byName("t_email_key")._3 == "UNIQUE (email)")
    assert(byName("t_uq1_key")._3 == "UNIQUE (a, b)")
    assert(byName("t_pid_fkey")._3 == "FOREIGN KEY (pid) REFERENCES parent(id)")
  }

  test("psql meta-commands answer as result sets") {
    val s = fresh()
    s.sql("CREATE TABLE orders_meta (id INT PRIMARY KEY, v TEXT UNIQUE); " +
      "CREATE TABLE other (id INT PRIMARY KEY); " +
      "CREATE VIEW vord AS SELECT id FROM orders_meta; " +
      "CREATE SEQUENCE s1")
    // \dt lists tables only; pattern filters
    assert(s.sql("\\dt").collect().map(_.getString(1)).toSeq == Seq("orders_meta", "other"))
    assert(s.sql("\\dt orders*").collect().map(_.getString(1)).toSeq == Seq("orders_meta"))
    // \d with no arg lists all relations; with a name it describes
    assert(s.sql("\\d").collect().map(_.getString(1)).toSet ==
      Set("orders_meta", "other", "vord", "s1"))
    val d = s.sql("\\d orders_meta").collect().map(_.getString(0))
    assert(d.contains("id") && d.contains("orders_meta_pkey"))
    // \d over a view resolves its columns
    assert(s.sql("\\d vord").collect().map(_.getString(0)).toSeq == Seq("id"))
    // \dt+ adds on-disk size; a table with data reports non-zero bytes
    s.sql("INSERT INTO orders_meta VALUES (1, 'x')")
    val plus = s.sql("\\dt+ orders*").collect()
    assert(plus.length == 1 && plus(0).getLong(4) > 0L)
    // \di indexes, \dn schemas, \du roles, \l databases
    assert(s.sql("\\di").collect().map(_.getString(1)).toSet ==
      Set("orders_meta_pkey", "orders_meta_v_key", "other_pkey"))
    assert(s.sql("\\dn").collect().map(_.getString(0)).toSet ==
      Set("public", "pg_catalog", "information_schema"))
    assert(s.sql("\\du").collect().map(_.getString(0)).toSeq == Seq("graft"))
    assert(s.sql("\\l").collect().map(_.getString(0)).toSeq == Seq("graft"))
    // \df lists callable functions from Spark's registry; pattern filters
    val fns = s.sql("\\df concat*").collect().map(_.getString(1)).toSet
    assert(fns.contains("concat") && fns.contains("concat_ws"))
    // \x and \timing toggle, with explicit on/off accepted
    assert(s.sql("\\x").collect()(0).getString(0) == "Expanded display is on.")
    assert(s.sql("\\x").collect()(0).getString(0) == "Expanded display is off.")
    assert(s.sql("\\timing on").collect()(0).getString(0) == "Timing is on.")
    // \c to the only database succeeds; an unknown database is PG's error
    assert(s.sql("\\c graft").collect()(0).getString(0).contains("connected"))
    assert(s.sql("\\conninfo").collect()(0).getString(0).contains("graft"))
    assertThrows[IllegalArgumentException](s.sql("\\c nosuchdb"))
    assertThrows[IllegalArgumentException](s.sql("\\copyright"))
  }

  test("COPY FROM CSV goes through validation; COPY TO round-trips") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, name TEXT NOT NULL, score DOUBLE)")
    val csv = Files.createTempDirectory("graft_csv").resolve("in.csv")
    Files.writeString(csv, "id,name,score\n1,ann,1.5\n2,bob,2.5\n")
    s.sql(s"COPY t FROM '$csv' (FORMAT CSV, HEADER)")
    assert(s.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 2)
    // constraint path still active: duplicate PK in a second load is rejected
    assertThrows[IllegalArgumentException](s.sql(s"COPY t FROM '$csv' (FORMAT CSV, HEADER)"))
    val out = Files.createTempDirectory("graft_csv").resolve("out")
    s.sql(s"COPY t TO '$out' (FORMAT CSV, HEADER)")
    val back = spark.read.option("header", true).csv(out.toString)
    assert(back.count() == 2 && back.columns.toSeq == Seq("id", "name", "score"))
  }

  test("COPY FROM JSON loads through validation") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, name TEXT NOT NULL)")
    val f = Files.createTempDirectory("graft_json").resolve("in.json")
    Files.writeString(f, "{\"id\": 1, \"name\": \"ann\"}\n{\"id\": 2, \"name\": \"bob\"}\n")
    s.sql(s"COPY t FROM '$f' (FORMAT JSON)")
    assert(s.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 2)
  }

  test("INSERT INTO ... SELECT goes through validation and appends") {
    val s = fresh()
    s.sql("CREATE TABLE src (id INT PRIMARY KEY, v DOUBLE); " +
      "CREATE TABLE dst (id INT PRIMARY KEY, v DOUBLE)")
    s.sql("INSERT INTO src VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    s.sql("INSERT INTO dst SELECT id, v FROM src WHERE v > 2")
    assert(s.sql("SELECT id FROM dst ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(2, 3))
    // PK conflict on re-insert is caught
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO dst SELECT id, v FROM src WHERE v > 2"))
  }

  test("VERSION() and system functions answer through the rewrite") {
    val s = fresh()
    val v = s.sql("SELECT VERSION() AS v").collect()(0).getString(0)
    assert(v.contains("Spark"))
  }

  test("pg_catalog emulation answers pg_class/pg_attribute queries") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, name TEXT NOT NULL); " +
      "CREATE VIEW v AS SELECT id FROM t")
    val kinds = s.sql("SELECT relname, relkind FROM pg_class ORDER BY relname")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kinds("t") == "r" && kinds("v") == "v")
    val cols = s.sql("SELECT attname, atttype FROM pg_attribute " +
      "WHERE relname = 't' ORDER BY attnum").collect().map(_.getString(0)).toSeq
    assert(cols == Seq("id", "name"))
  }

  test("bulk INSERT..SELECT: one sequence reservation, distributed id assignment") {
    val s = fresh()
    // rows padded past the size-adaptive single-file threshold (r17
    // writeSnapshot: estimated <= 8 MB coalesces to ONE file — correct
    // layout for small snapshots): a genuinely large insert must keep
    // the parallel write, which is what this test pins
    s.sql("CREATE TABLE big (id SERIAL, v BIGINT, pad TEXT)")
    // 400k rows: the write gate reads OPTIMIZER stats, and CBO costs a
    // string column at a fixed ~20 bytes regardless of content — the
    // row count, not the pad width, is what must push the estimate past
    // the 8 MB single-file threshold
    spark.range(0, 400000)
      .selectExpr("id AS src_v", "md5(cast(id AS string)) AS src_pad")
      .createOrReplaceTempView("bulk_src")
    s.sql("INSERT INTO big (v, pad) SELECT src_v, src_pad FROM bulk_src")
    val r = s.sql(
      "SELECT min(id) AS a, max(id) AS b, count(DISTINCT id) AS d, count(*) AS n FROM big")
      .collect()(0)
    assert(r.getInt(0) == 1 && r.getInt(1) == 400000)
    assert(r.getLong(2) == 400000L && r.getLong(3) == 400000L)
    // the whole block was reserved in ONE catalog write
    assert(s.catalog.sequences("big_id_seq").current.contains(400000L))
    // and the id assignment stayed distributed: multiple part-files, not a
    // single-partition funnel
    def parts(tbl: String): Long = {
      val st = Files.list(s.catalog.tableDir(s.catalog.getTable(tbl).get))
      try st.filter(p => p.toString.endsWith(".parquet")).count()
      finally st.close()
    }
    assert(parts("big") > 1, s"expected multiple part-files, got ${parts("big")}")
    // and the complementary contract: a TINY insert lands as ONE file,
    // not one-file-per-row (the r17 small-files fix)
    s.sql("CREATE TABLE tiny (id INT PRIMARY KEY)")
    s.sql("INSERT INTO tiny VALUES (1), (2), (3)")
    assert(parts("tiny") == 1, s"expected one part-file, got ${parts("tiny")}")
  }

  test("SERIAL honors a pre-existing sequence's START and INCREMENT") {
    val s = fresh()
    s.sql("CREATE SEQUENCE t_id_seq START WITH 10 INCREMENT BY 5")
    s.sql("CREATE TABLE t (id SERIAL, v TEXT)")
    s.sql("INSERT INTO t (v) VALUES ('a'), ('b'), ('c')")
    assert(s.sql("SELECT id FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq ==
      Seq(10, 15, 20))
    assert(s.catalog.nextVal("t_id_seq") == 25) // sequence state consistent
  }

  test("pg_index, pg_namespace and pg_type answer introspection queries") {
    val s = fresh()
    s.sql("CREATE TYPE mood AS ENUM ('up','down'); " +
      "CREATE TABLE t (id INT PRIMARY KEY, email TEXT UNIQUE, a INT, b INT, UNIQUE (a, b))")
    val idx = s.sql("SELECT indexname, indisprimary, indkey FROM pg_index " +
      "WHERE relname = 't' ORDER BY indexname").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
    assert(idx.toSeq == Seq(
      ("t_email_key", false, "email"), ("t_pkey", true, "id"), ("t_uq1_key", false, "a,b")))
    val ns = s.sql("SELECT nspname FROM pg_namespace").collect().map(_.getString(0)).toSet
    assert(ns.contains("public") && ns.contains("pg_catalog"))
    val ty = s.sql("SELECT typname, typtype FROM pg_type " +
      "WHERE typname IN ('int4', 'mood')").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ty == Map("int4" -> "b", "mood" -> "e"))
  }

  test("REFRESH MATERIALIZED VIEW INCREMENTALLY reads only new rows") {
    val s = fresh()
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT, amt DOUBLE)")
    s.sql("INSERT INTO ev VALUES (1,'a',1.0), (2,'a',2.0), (3,'b',3.0)")
    s.sql("CREATE MATERIALIZED VIEW evagg AS " +
      "SELECT kind, count(*) AS n, sum(amt) AS total FROM ev GROUP BY kind")
    // first incremental refresh streams the 3 existing rows into state
    assert(graft.streaming.MatviewMaintenance.refreshOnce(s, "evagg") == 3L)
    s.sql("INSERT INTO ev VALUES (4,'b',4.0)")
    // the second pass reads ONLY the appended part-file — no recompute
    assert(graft.streaming.MatviewMaintenance.refreshOnce(s, "evagg") == 1L)
    val m = s.sql("SELECT kind, n, total FROM evagg ORDER BY kind").collect()
    assert(m(0).getString(0) == "a" && m(0).getLong(1) == 2 && m(0).getDouble(2) == 3.0)
    assert(m(1).getString(0) == "b" && m(1).getLong(1) == 2 && m(1).getDouble(2) == 7.0)
    // statement form
    s.sql("INSERT INTO ev VALUES (5,'a',5.0)")
    s.sql("REFRESH MATERIALIZED VIEW evagg INCREMENTALLY")
    val a = s.sql("SELECT n, total FROM evagg WHERE kind = 'a'").collect()(0)
    assert(a.getLong(0) == 3 && a.getDouble(1) == 8.0)
    // UPDATE publishes a new snapshot → checkpoint resets, result stays right
    s.sql("UPDATE ev SET amt = 10.0 WHERE id = 1")
    s.sql("REFRESH MATERIALIZED VIEW evagg INCREMENTALLY")
    val a2 = s.sql("SELECT n, total FROM evagg WHERE kind = 'a'").collect()(0)
    assert(a2.getLong(0) == 3 && a2.getDouble(1) == 17.0)
  }

  test("pg_constraint joins to pg_class and pg_attribute to resolve a FK end-to-end") {
    val s = fresh()
    s.sql("CREATE TABLE dept (dept_id INT PRIMARY KEY, dname TEXT); " +
      "CREATE TABLE emp (emp_id INT PRIMARY KEY, salary DOUBLE, " +
      "dept_id INT REFERENCES dept(dept_id) DEFAULT 1)")
    // the introspection walk a real tool does: constraint → owning
    // relation → referenced relation → referenced column names
    val fk = s.sql(
      """SELECT c.conname, rel.relname AS src, ref.relname AS dst, a.attname AS refcol
        |FROM pg_constraint c
        |JOIN pg_class rel ON rel.oid = c.conrelid
        |JOIN pg_class ref ON ref.oid = c.confrelid
        |JOIN pg_attribute a ON a.attrelid = c.confrelid AND a.attnum = c.confkey[0]
        |WHERE c.contype = 'f'""".stripMargin).collect()
    assert(fk.length == 1)
    assert(fk(0).getString(0) == "emp_dept_id_fkey" && fk(0).getString(1) == "emp" &&
      fk(0).getString(2) == "dept" && fk(0).getString(3) == "dept_id")
    // PK constraint carries its 1-based attnums
    val pk = s.sql("SELECT conname, conkey FROM pg_constraint " +
      "WHERE contype = 'p' AND conrelid = (SELECT oid FROM pg_class WHERE relname = 'emp')")
      .collect()
    assert(pk.length == 1 && pk(0).getString(0) == "emp_pkey" &&
      pk(0).getSeq[Int](1) == Seq(1))
    // pg_attrdef lists the declared DEFAULT at the right attnum
    val ad = s.sql(
      "SELECT d.adbin FROM pg_attrdef d JOIN pg_attribute a " +
      "ON a.attrelid = d.adrelid AND a.attnum = d.adnum WHERE a.attname = 'dept_id'")
      .collect()
    assert(ad.length == 1 && ad(0).getString(0) == "1")
  }

  test("pg_database, pg_roles, pg_tables, pg_indexes and pg_am answer tool queries") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, email TEXT UNIQUE)")
    assert(s.sql("SELECT datname FROM pg_database WHERE datallowconn")
      .collect().map(_.getString(0)).toSeq == Seq("graft"))
    assert(s.sql("SELECT rolname FROM pg_roles WHERE rolcanlogin")
      .collect().map(_.getString(0)).toSeq == Seq("graft"))
    assert(s.sql("SELECT tablename FROM pg_tables WHERE schemaname = 'public'")
      .collect().map(_.getString(0)).toSeq == Seq("t"))
    val defs = s.sql("SELECT indexdef FROM pg_indexes WHERE tablename = 't' " +
      "ORDER BY indexname").collect().map(_.getString(0))
    assert(defs.exists(_.contains("UNIQUE INDEX t_email_key ON t (email)")), defs.mkString("; "))
    assert(s.sql("SELECT amname FROM pg_am WHERE amtype = 'i' ORDER BY amname")
      .collect().map(_.getString(0)).toSeq == Seq("btree", "hash"))
    // empty-but-present: COMMENT ON is unsupported, joins must not error
    assert(s.sql("SELECT count(*) AS c FROM pg_description").collect()(0).getLong(0) == 0L)
    assert(s.sql("SELECT count(*) AS c FROM pg_operator WHERE oprname = '='")
      .collect()(0).getLong(0) == 1L)
  }

  test("pg_proc and pg_settings expose the function registry and live conf") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY)")
    val fns = s.sql("SELECT proname FROM pg_proc " +
      "WHERE proname IN ('sum', 'dot_exact', 'graft_minhash')").collect()
      .map(_.getString(0)).toSet
    assert(fns == Set("sum", "dot_exact", "graft_minhash")) // builtins + native graft fns
    val shuffle = s.sql(
      "SELECT setting FROM pg_settings WHERE name = 'spark.sql.shuffle.partitions'")
      .collect()(0).getString(0)
    assert(shuffle.toInt > 0)
  }

  test("repeated table reads do not leak directory file descriptors") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY); INSERT INTO t VALUES (1)")
    val t = s.catalog.getTable("t").get
    def fdCount(): Int = {
      val st = Files.list(java.nio.file.Paths.get("/proc/self/fd"))
      try st.count().toInt finally st.close()
    }
    s.tableDf(t).count() // settle lazy initialization
    val before = fdCount()
    (1 to 500).foreach(_ => s.tableDf(t))
    (1 to 500).foreach(_ => s.tableVersion("t", 0))
    val after = fdCount()
    assert(after - before < 50, s"fd growth: $before -> $after")
  }

  test("redefining a matview resets its incremental-refresh checkpoint") {
    val s = fresh()
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT, amt DOUBLE)")
    s.sql("INSERT INTO ev VALUES (1,'a',1.0), (2,'a',-2.0), (3,'b',3.0)")
    s.sql("CREATE MATERIALIZED VIEW m AS SELECT kind, count(*) AS n FROM ev GROUP BY kind")
    assert(graft.streaming.MatviewMaintenance.refreshOnce(s, "m") == 3L)
    // new SQL under the same name: held state for the old SQL must die
    s.sql("CREATE OR REPLACE MATERIALIZED VIEW m AS " +
      "SELECT kind, count(*) AS n FROM ev WHERE amt > 0 GROUP BY kind")
    s.sql("INSERT INTO ev VALUES (4,'a',-4.0)")
    graft.streaming.MatviewMaintenance.refreshOnce(s, "m")
    val m = s.sql("SELECT kind, n FROM m ORDER BY kind").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("a" -> 1L, "b" -> 1L)) // only amt>0 rows counted
  }

  test("time travel reads prior snapshot versions after UPDATE/DELETE") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO t VALUES (1, 10), (2, 20)")   // version 0
    s.sql("UPDATE t SET v = v * 10 WHERE id = 2")     // publishes version 1
    s.sql("DELETE FROM t WHERE id = 1")               // publishes version 2
    assert(s.tableVersion("t", 0).collect().map(_.getInt(1)).sorted.toSeq == Seq(10, 20))
    assert(s.tableVersion("t", 1).collect().map(_.getInt(1)).sorted.toSeq == Seq(10, 200))
    assert(s.tableVersion("t", 2).collect().map(_.getInt(1)).sorted.toSeq == Seq(200))
    assertThrows[IllegalArgumentException](s.tableVersion("t", 99))
  }

  test("reader version pins block VACUUM pruning until released") {
    val s = fresh()
    s.sql("CREATE TABLE pv (id INT PRIMARY KEY)")
    s.sql("INSERT INTO pv VALUES (1)")
    // a reader (e.g. a suspended wire portal) pins the current versions;
    // a subsequent UPDATE supersedes them, but VACUUM must retain the
    // pinned version — PG's "visible to an open cursor" rule in COW form
    val pin = s.pinCurrentVersions()
    s.sql("UPDATE pv SET id = 2")
    assert(s.sql("VACUUM pv").collect()(0).getLong(1) == 0L,
      "pinned version must be retained")
    s.releaseVersionPin(pin)
    assert(s.sql("VACUUM pv").collect()(0).getLong(1) >= 1L,
      "released version must be prunable")
  }

  test("VACUUM prunes superseded snapshot versions; retained versions still read") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO t VALUES (1, 10), (2, 20)")   // version 0
    s.sql("UPDATE t SET v = v + 1 WHERE id = 1")      // version 1
    s.sql("UPDATE t SET v = v + 1 WHERE id = 2")      // version 2
    s.sql("UPDATE t SET v = v + 1 WHERE id = 1")      // version 3 (current)
    val r = s.sql("VACUUM t").collect()(0)
    assert(r.getString(0) == "VACUUM" && r.getLong(1) == 3L) // v0..v2 pruned
    // pruned versions fail loudly, not silently-empty
    val e = intercept[IllegalStateException](s.tableVersion("t", 1))
    assert(e.getMessage.contains("pruned by VACUUM"))
    // the current version still reads, and current-table queries work
    assert(s.tableVersion("t", 3).collect().map(_.getInt(1)).sorted.toSeq == Seq(12, 21))
    assert(s.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 2L)
    // idempotent: nothing left to prune
    assert(s.sql("VACUUM t").collect()(0).getLong(1) == 0L)
    // refused inside a transaction: ROLLBACK must still find old versions
    s.sql("BEGIN")
    assertThrows[IllegalStateException](s.sql("VACUUM"))
    s.sql("ROLLBACK")
  }

  test("HTTP entry point round-trips a script and reports errors as JSON") {
    import graft.sqlfront.SqlHttp
    val s = fresh()
    val server = SqlHttp.start(s, port = 0)
    try {
      val port = server.getAddress.getPort
      def post(body: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port/sql")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val in = if (code < 400) conn.getInputStream else conn.getErrorStream
        val text = new String(in.readAllBytes(), "UTF-8")
        (code, text)
      }
      // a multi-statement script: DDL + DML + query in one POST
      val (c1, b1) = post(
        """CREATE TABLE ht (id INT PRIMARY KEY, name TEXT);
          |INSERT INTO ht VALUES (1, 'a'), (2, 'b');
          |SELECT id, name FROM ht ORDER BY id""".stripMargin)
      assert(c1 == 200, b1)
      val m1 = graft.catalog.Json.parse(b1).asInstanceOf[Map[String, Any]]
      assert(m1("columns") == Seq("id", "name"))
      assert(m1("rows") == Seq(Seq(1L, "a"), Seq(2L, "b")))
      assert(m1("rowCount") == 2L)
      // the JSON body form
      val (c2, b2) = post("""{"sql": "SELECT count(*) AS c FROM ht"}""")
      assert(c2 == 200 && b2.contains("\"rows\":[[2]]"), b2)
      // a constraint violation surfaces as a structured 4xx error body
      val (c3, b3) = post("INSERT INTO ht VALUES (1, 'dup')")
      assert(c3 == 400, b3)
      val err = graft.catalog.Json.parse(b3).asInstanceOf[Map[String, Any]]("error").toString
      assert(err.toUpperCase.contains("UNIQUE") || err.toUpperCase.contains("PRIMARY"), err)
      // the violation did not land
      val (_, b4) = post("SELECT count(*) AS c FROM ht")
      assert(b4.contains("\"rows\":[[2]]"), b4)
      // non-POST is rejected
      val connGet = new java.net.URL(s"http://127.0.0.1:$port/sql")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(connGet.getResponseCode == 405)
      // reference route parity (reference SQLController.java +
      // dto/QueryResponse.java): POST /api/sql/execute serves the
      // QueryResponse shape — rows as column-keyed OBJECTS (a ported
      // client indexes rows[0]["c"]), error:null on success
      val conn5 = new java.net.URL(s"http://127.0.0.1:$port/api/sql/execute")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn5.setRequestMethod("POST")
      conn5.setDoOutput(true)
      conn5.getOutputStream.write(
        """{"sql": "SELECT count(*) AS c FROM ht"}""".getBytes("UTF-8"))
      assert(conn5.getResponseCode == 200)
      val b5 = new String(conn5.getInputStream.readAllBytes(), "UTF-8")
      assert(b5.contains("\"rows\":[{\"c\":2}]") && b5.contains("\"error\":null"), b5)
      // reference error shape: rows/columns null, rowCount 0, error set
      val conn6 = new java.net.URL(s"http://127.0.0.1:$port/api/sql/execute")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn6.setRequestMethod("POST")
      conn6.setDoOutput(true)
      conn6.getOutputStream.write("SELECT nope FROM missing".getBytes("UTF-8"))
      assert(conn6.getResponseCode == 400)
      val b6 = new String(conn6.getErrorStream.readAllBytes(), "UTF-8")
      assert(b6.contains("\"rows\":null") && b6.contains("\"rowCount\":0") &&
        b6.contains("\"error\":\""), b6)
      // reference health route
      val conn7 = new java.net.URL(s"http://127.0.0.1:$port/api/sql/health")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn7.getResponseCode == 200 &&
        new String(conn7.getInputStream.readAllBytes(), "UTF-8") == "OK")
    } finally server.stop(0)
  }

  test("HTTP entry point caps result rows and flags truncation") {
    import graft.sqlfront.SqlHttp
    val s = fresh()
    val server = SqlHttp.start(s, port = 0, maxRows = 5)
    try {
      val port = server.getAddress.getPort
      def post(body: String): String = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port/sql")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        new String(conn.getInputStream.readAllBytes(), "UTF-8")
      }
      post("CREATE TABLE big (id INT PRIMARY KEY); INSERT INTO big VALUES " +
        (1 to 20).map(i => s"($i)").mkString(", "))
      val over = graft.catalog.Json.parse(post("SELECT id FROM big ORDER BY id"))
        .asInstanceOf[Map[String, Any]]
      assert(over("rowCount") == 5L && over("truncated") == true, over)
      // under the cap: full rows, no truncated flag
      val under = graft.catalog.Json.parse(
        post("SELECT id FROM big WHERE id <= 3 ORDER BY id"))
        .asInstanceOf[Map[String, Any]]
      assert(under("rowCount") == 3L && !under.contains("truncated"), under)
    } finally server.stop(0)
  }

  test("VACUUM retains versions pinned by a live matview checkpoint") {
    val s = fresh()
    s.sql("CREATE TABLE base2 (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO base2 VALUES (1, 10), (2, 20)")
    s.sql("CREATE MATERIALIZED VIEW m2 AS SELECT count(*) AS n FROM base2")
    // incremental refresh writes a checkpoint whose stamp records the
    // CURRENT version of every table (base2:v0)
    graft.streaming.MatviewMaintenance.refreshOnce(s, "m2")
    s.sql("UPDATE base2 SET v = v + 1 WHERE id = 1") // v1
    s.sql("UPDATE base2 SET v = v + 1 WHERE id = 2") // v2 (current)
    s.sql("VACUUM base2")
    // v0 is pinned by the checkpoint stamp and must still read; the
    // checkpoint can rebuild from it instead of finding vanished files
    assert(s.tableVersion("base2", 0).collect().map(_.getInt(1)).sorted.toSeq == Seq(10, 20))
    assert(s.tableVersion("base2", 2).collect().map(_.getInt(1)).sorted.toSeq == Seq(11, 21))
    // after the checkpoint resets (redefinition drops it), VACUUM reclaims v0
    s.sql("DROP MATERIALIZED VIEW m2")
    s.sql("VACUUM base2")
    val e = intercept[IllegalStateException](s.tableVersion("base2", 0))
    assert(e.getMessage.contains("pruned by VACUUM"))
  }

  test("ANALYZE collects real statistics and surfaces them in pg_stats") {
    val s = fresh()
    s.sql("CREATE TABLE stats_t (id INT PRIMARY KEY, grp TEXT, v INT)")
    s.sql("INSERT INTO stats_t VALUES (1,'a',10), (2,'a',NULL), (3,'b',30), (4,'b',40)")
    s.sql("ANALYZE stats_t")
    assert(s.tableStats("stats_t").exists(_._2 == 4L), "rowCount stat missing")
    val rows = s.sql(
      "SELECT attname, reltuples, n_distinct, null_frac FROM pg_stats " +
        "WHERE tablename = 'stats_t' ORDER BY attname").collect()
    val byCol = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byCol("id")._1 == 4L)
    assert(byCol("grp")._2 == 2L)               // two distinct groups
    assert(math.abs(byCol("v")._3 - 0.25) < 1e-9) // one NULL in four rows
    // stats survive a session reopen (persisted sidecar)
    val dir = s.catalog.root
    val s2 = new GraftSession(spark, dir)
    assert(s2.tableStats("stats_t").exists(_._2 == 4L))
    // a fresh-stats small table registers with a broadcast hint
    val plan = s.sql("SELECT t.id FROM stats_t t JOIN stats_t u ON t.id = u.id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast hint:\n$plan")
  }

  test("two sessions on one SparkSession interleave without seeing each other's tables") {
    // both warehouses define a table named `shared` with different rows; the
    // temp-view namespace on the underlying SparkSession is shared, so every
    // statement relies on registerAll's per-view check to see that the
    // installed `shared` was built from the OTHER session's catalog and
    // rebuild its own (a match here would read the other warehouse's rows).
    val s1 = fresh(); val s2 = fresh()
    s1.sql("CREATE TABLE shared (id INT PRIMARY KEY); INSERT INTO shared VALUES (1)")
    s2.sql("CREATE TABLE shared (id INT PRIMARY KEY); INSERT INTO shared VALUES (100), (200)")
    def ids(s: GraftSession) =
      s.sql("SELECT id FROM shared ORDER BY id").collect().map(_.getInt(0)).toSeq
    // interleave with NO writes in between: no definition or version
    // moves, so only the catalog identity in each table's registration
    // inputs forces the re-registration each ping-pong turn
    assert(ids(s1) == Seq(1))
    assert(ids(s2) == Seq(100, 200))
    assert(ids(s1) == Seq(1))
    // a write in one session must not resurrect the other's stale claim
    s2.sql("INSERT INTO shared VALUES (300)")
    assert(ids(s2) == Seq(100, 200, 300))
    assert(ids(s1) == Seq(1))
  }
}
