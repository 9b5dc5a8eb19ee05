package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.sqlfront.{ConsistencySweeper, GraftSession, PgRewrite, StatementSplitter}

/** DDL/DML/catalog surface (SURVEY §2.10) — the engine-layer behaviors the
  * DuckDB oracle gate can't express: constraint rejection, sequences,
  * enums, matview refresh, ALTER metadata evolution, copy-on-write
  * versioning. Mirrors the reference's integration tests
  * (kv/KvCorrectnessTest, kv/AlterTableTest, kv/CreateSequenceTest,
  * kv/EnumTypeTest, kv/MaterializedViewTest, TruncateTest).
  */
class DdlDmlSpec extends SparkSpec {

  private def fresh(): GraftSession =
    new GraftSession(spark, Files.createTempDirectory("graft_wh"))

  /** Every path under `wh` in the storage dirs `dirs`, relative and sorted. */
  private def storageListing(wh: java.nio.file.Path, dirs: String*): Seq[String] = {
    val w = Files.walk(wh)
    try w.iterator().asScala.map(p => wh.relativize(p).toString)
      .filter(p => dirs.exists(d => p == d || p.startsWith(d + "/")))
      .toSeq.sorted
    finally w.close()
  }

  test("create table, insert, select roundtrip with types") {
    val s = fresh()
    s.sql("""CREATE TABLE users (
        id BIGINT PRIMARY KEY,
        name TEXT NOT NULL,
        balance NUMERIC(10,2),
        active BOOLEAN,
        joined DATE)""")
    s.sql("INSERT INTO users VALUES (1, 'ann', 10.50, true, DATE '2024-01-01'), " +
      "(2, 'bob', 20.25, false, DATE '2024-02-01')")
    val r = s.sql("SELECT id, name, balance FROM users ORDER BY id").collect()
    assert(r.length == 2)
    assert(r(0).getString(1) == "ann")
    assert(r(0).getDecimal(2).toString == "10.50")
  }

  test("primary key duplicate rejected; batch-internal dup rejected") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'a')")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (1, 'b')"))
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (2, 'x'), (2, 'y')"))
    assert(s.sql("SELECT * FROM t").count() == 1) // failed batches not published
  }

  test("NOT NULL and UNIQUE constraints") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, email TEXT UNIQUE, name TEXT NOT NULL)")
    s.sql("INSERT INTO t VALUES (1, 'a@x.com', 'ann')")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (2, 'b@x.com', NULL)"))
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (3, 'a@x.com', 'dup')"))
  }

  test("composite PRIMARY KEY and multi-column UNIQUE semantics") {
    val s = fresh()
    s.sql("CREATE TABLE t (a INT, b INT, v TEXT, PRIMARY KEY (a, b), UNIQUE (v, b))")
    s.sql("INSERT INTO t VALUES (1, 1, 'x'), (1, 2, 'x')") // pair-unique: ok
    // duplicate composite PK rejected
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (1, 1, 'y')"))
    // duplicate (v, b) pair rejected; same v with new b is fine
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (9, 2, 'x')"))
    s.sql("INSERT INTO t VALUES (9, 3, 'x')")
    assert(s.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 3)
  }

  test("foreign key enforcement") {
    val s = fresh()
    s.sql("CREATE TABLE parent (id INT PRIMARY KEY, v TEXT)")
    s.sql("CREATE TABLE child (id INT PRIMARY KEY, pid INT REFERENCES parent(id))")
    s.sql("INSERT INTO parent VALUES (1, 'p')")
    s.sql("INSERT INTO child VALUES (10, 1)")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO child VALUES (11, 99)"))
    s.sql("INSERT INTO child VALUES (12, NULL)") // NULL FK allowed
    assert(s.sql("SELECT * FROM child").count() == 2)
  }

  test("SERIAL auto-generation and sequences") {
    val s = fresh()
    s.sql("CREATE TABLE logs (id SERIAL, msg TEXT)")
    s.sql("INSERT INTO logs (msg) VALUES ('a'), ('b'), ('c')")
    val ids = s.sql("SELECT id FROM logs ORDER BY id").collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(1, 2, 3))
    s.sql("CREATE SEQUENCE sq START WITH 100 INCREMENT BY 5 MAXVALUE 110 CYCLE MINVALUE 100")
    assert(s.catalog.nextVal("sq") == 100)
    assert(s.catalog.nextVal("sq") == 105)
    assert(s.catalog.nextVal("sq") == 110)
    assert(s.catalog.nextVal("sq") == 100) // cycles
  }

  test("enum type validated on insert") {
    val s = fresh()
    s.sql("CREATE TYPE mood AS ENUM ('happy', 'sad')")
    s.sql("CREATE TABLE m (id INT PRIMARY KEY, feeling mood)")
    s.sql("INSERT INTO m VALUES (1, 'happy')")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO m VALUES (2, 'angry')"))
  }

  test("JSON validation on insert") {
    val s = fresh()
    s.sql("CREATE TABLE j (id INT PRIMARY KEY, doc JSON)")
    s.sql("""INSERT INTO j VALUES (1, '{"a": 1}')""")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO j VALUES (2, '{not json')"))
  }

  test("UPDATE with expression SET and WHERE; DELETE") {
    val s = fresh()
    s.sql("CREATE TABLE acc (id INT PRIMARY KEY, balance DOUBLE)")
    s.sql("INSERT INTO acc VALUES (1, 100.0), (2, 50.0), (3, 10.0)")
    val u = s.sql("UPDATE acc SET balance = balance + 100 WHERE balance < 60").collect()(0)
    assert(u.getLong(1) == 2) // rows updated
    val r = s.sql("SELECT balance FROM acc ORDER BY id").collect().map(_.getDouble(0)).toSeq
    assert(r == Seq(100.0, 150.0, 110.0))
    val d = s.sql("DELETE FROM acc WHERE balance > 120").collect()(0)
    assert(d.getLong(1) == 1)
    assert(s.sql("SELECT count(*) AS c FROM acc").collect()(0).getLong(0) == 2)
  }

  test("hidden rowid for PK-less tables is invisible in SELECT *") {
    val s = fresh()
    s.sql("CREATE TABLE nopk (v TEXT)")
    s.sql("INSERT INTO nopk VALUES ('x'), ('y')")
    val df = s.sql("SELECT * FROM nopk")
    assert(df.columns.toSeq == Seq("v"))
    assert(df.count() == 2)
  }

  test("ALTER TABLE add/drop column with metadata-only evolution") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, a TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'x')")
    s.sql("ALTER TABLE t ADD COLUMN b DOUBLE")
    // old rows null-fill the new column; new rows carry it
    s.sql("INSERT INTO t VALUES (2, 'y', 3.5)")
    val rows = s.sql("SELECT id, b FROM t ORDER BY id").collect()
    assert(rows(0).isNullAt(1) && rows(1).getDouble(1) == 3.5)
    s.sql("ALTER TABLE t DROP COLUMN a")
    assert(s.sql("SELECT * FROM t").columns.toSeq == Seq("id", "b"))
  }

  test("TRUNCATE and DROP TABLE") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY)")
    s.sql("INSERT INTO t VALUES (1), (2)")
    s.sql("TRUNCATE TABLE t")
    assert(s.sql("SELECT * FROM t").count() == 0)
    s.sql("DROP TABLE t")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (3)"))
  }

  test("TRUNCATE after a rolled-back UPDATE does not bring back the rolled-back rows") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'a')")
    // the UPDATE publishes the next snapshot version; ROLLBACK moves the
    // pointer back, and TRUNCATE then takes that same version number
    s.sql("BEGIN; UPDATE t SET v = 'rolled back' WHERE id = 1; ROLLBACK")
    s.sql("TRUNCATE TABLE t")
    assert(s.sql("SELECT * FROM t").count() == 0)
  }

  test("ROLLBACK deletes the version directories the transaction published") {
    val wh = Files.createTempDirectory("graft_wh")
    val s = new GraftSession(spark, wh)
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    s.sql("CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS c FROM t")
    def listing = storageListing(wh, "t", "_mv_mv")
    val before = listing
    s.sql("BEGIN; UPDATE t SET v = 'x' WHERE id = 1; INSERT INTO t VALUES (3, 'c')")
    s.sql("DELETE FROM t WHERE id = 2; REFRESH MATERIALIZED VIEW mv")
    s.sql("CREATE TABLE t2 (id INT)")
    s.sql("INSERT INTO t2 VALUES (1)")
    assert(listing != before)
    s.sql("ROLLBACK")
    assert(listing == before)
    assert(!Files.exists(wh.resolve("t2").resolve("v0")))
    assert(!Files.exists(wh.resolve("t2")))
    s.sql("UPDATE t SET v = 'y' WHERE id = 2")
    assert(s.sql("SELECT id, v FROM t ORDER BY id").collect().map(_.toString).toSeq ==
      Seq("[1,a]", "[2,y]"))
    assert(s.sql("SELECT c FROM mv").collect()(0).getLong(0) == 2L)
  }

  test("ROLLBACK TO a savepoint keeps the versions BEGIN's snapshot still restores") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    s.sql("CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS c FROM t")
    // the re-created t and mv start above the dropped ones' versions
    s.sql("BEGIN; DROP MATERIALIZED VIEW mv; DROP TABLE t; SAVEPOINT s")
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO t VALUES (7, 'n')")
    s.sql("CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS c FROM t")
    s.sql("ROLLBACK TO s")
    s.sql("ROLLBACK")
    assert(s.sql("SELECT id, v FROM t ORDER BY id").collect().map(_.toString).toSeq ==
      Seq("[1,a]", "[2,b]"))
    assert(s.sql("SELECT c FROM mv").collect()(0).getLong(0) == 2L)
  }

  test("a matview snapshot with no part file fails only that matview's read") {
    val wh = Files.createTempDirectory("graft_wh")
    val s = new GraftSession(spark, wh)
    s.sql("CREATE TABLE t (id INT PRIMARY KEY)")
    s.sql("INSERT INTO t VALUES (1), (2)")
    s.sql("CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS c FROM t")
    val mvRoot = wh.resolve("_mv_mv")
    val w = Files.walk(mvRoot)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
    val s2 = new GraftSession(spark, wh)
    assert(s2.sql("SELECT count(*) FROM t").collect()(0).getLong(0) == 2L)
    assert(intercept[Exception](s2.sql("SELECT c FROM mv").collect()).getMessage.contains("mv"))
    assert(s2.sql("SELECT id FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("views and materialized views with explicit refresh") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v DOUBLE)")
    s.sql("INSERT INTO t VALUES (1, 10.0), (2, 20.0)")
    s.sql("CREATE VIEW big AS SELECT * FROM t WHERE v >= 20")
    assert(s.sql("SELECT count(*) AS c FROM big").collect()(0).getLong(0) == 1)
    s.sql("CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS c FROM t")
    assert(s.sql("SELECT c FROM mv").collect()(0).getLong(0) == 2)
    s.sql("INSERT INTO t VALUES (3, 30.0)")
    // virtual view sees new data immediately; matview is stale until REFRESH
    assert(s.sql("SELECT count(*) AS c FROM big").collect()(0).getLong(0) == 2)
    assert(s.sql("SELECT c FROM mv").collect()(0).getLong(0) == 2)
    s.sql("REFRESH MATERIALIZED VIEW mv")
    assert(s.sql("SELECT c FROM mv").collect()(0).getLong(0) == 3)
  }

  test("multi-statement script returns last result; comments stripped") {
    val s = fresh()
    val r = s.sql(
      """-- demo script
        |CREATE TABLE t (id INT PRIMARY KEY, v TEXT);
        |INSERT INTO t VALUES (1, 'semi;colon'); /* block
        |comment */ INSERT INTO t VALUES (2, 'two');
        |SELECT id, v FROM t ORDER BY id""".stripMargin).collect()
    assert(r.map(_.getString(1)).toSeq == Seq("semi;colon", "two"))
  }

  test("EXPLAIN returns a formatted plan") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY)")
    val plan = s.sql("EXPLAIN SELECT * FROM t WHERE id > 1").collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"))
  }

  test("PG JSON operators rewrite to get_json_object") {
    assert(PgRewrite.rewrite("SELECT props->>'k' FROM e") ==
      "SELECT get_json_object(props, '$.k') FROM e")
    assert(PgRewrite.rewrite("SELECT props->'a'->>'b' FROM e") ==
      "SELECT get_json_object(props, '$.a.b') FROM e")
    assert(PgRewrite.rewrite("SELECT props#>>'{a,b}' FROM e") ==
      "SELECT get_json_object(props, '$.a.b') FROM e")
    assert(PgRewrite.rewrite("SELECT arr->0 FROM e") ==
      "SELECT get_json_object(arr, '$[0]') FROM e")
    assert(PgRewrite.rewrite("SELECT '5'::int, x::double precision FROM e") ==
      "SELECT CAST('5' AS int), CAST(x AS double precision) FROM e")
  }

  test("PG aggregate-internal ORDER BY rewrites to Spark spellings") {
    assert(PgRewrite.rewrite("SELECT string_agg(a, ',' ORDER BY b) FROM t") ==
      "SELECT string_agg(a, ',') WITHIN GROUP (ORDER BY b) FROM t")
    assert(PgRewrite.rewrite("SELECT array_agg(x ORDER BY x) FROM t") ==
      "SELECT sort_array(array_agg(x)) FROM t")
    assert(PgRewrite.rewrite("SELECT array_agg(x ORDER BY x DESC) FROM t") ==
      "SELECT sort_array(array_agg(x), false) FROM t")
    assert(PgRewrite.rewrite("SELECT array_agg(v ORDER BY k) FROM t") ==
      "SELECT transform(array_sort(array_agg(struct(k AS _o1, v AS _v))), s -> s._v) FROM t")
    assert(PgRewrite.rewrite("SELECT array_agg(v ORDER BY k1 DESC, k2 DESC) FROM t") ==
      "SELECT transform(reverse(array_sort(array_agg(struct(k1 AS _o1, k2 AS _o2, v AS _v)))), s -> s._v) FROM t")
    // no internal ORDER BY → untouched; outer ORDER BY not confused for it
    assert(PgRewrite.rewrite("SELECT array_agg(x) FROM t GROUP BY g ORDER BY g") ==
      "SELECT array_agg(x) FROM t GROUP BY g ORDER BY g")
    // ORDER BY text inside a string literal is content, not syntax
    assert(PgRewrite.rewrite("SELECT string_agg(a, ' ORDER BY ') FROM t") ==
      "SELECT string_agg(a, ' ORDER BY ') FROM t")
    // mixed directions cannot be expressed with one array_sort — reject
    assertThrows[IllegalArgumentException](
      PgRewrite.rewrite("SELECT array_agg(v ORDER BY k1 ASC, k2 DESC) FROM t"))
  }

  test("PG set-returning and string functions rewrite to Spark spellings") {
    assert(PgRewrite.rewrite("SELECT unnest(arr) FROM t") ==
      "SELECT explode(arr) FROM t")
    assert(PgRewrite.rewrite("SELECT string_to_array(x, ' ') FROM t") ==
      "SELECT split(x, '\\\\Q \\\\E', -1) FROM t")
    assert(PgRewrite.rewrite("SELECT string_to_table(x, ',') FROM t") ==
      "SELECT explode(split(x, '\\\\Q,\\\\E', -1)) FROM t")
    assert(PgRewrite.rewrite("SELECT regexp_split_to_table(x, '[ ,]+') FROM t") ==
      "SELECT explode(split(x, '[ ,]+', -1)) FROM t")
    assert(PgRewrite.rewrite("SELECT strpos(x, 'ab') FROM t") ==
      "SELECT instr(x, 'ab') FROM t")
    // nested: unnest over string_to_array resolves inside-out
    assert(PgRewrite.rewrite("SELECT unnest(string_to_array(x, ' ')) FROM t") ==
      "SELECT explode(split(x, '\\\\Q \\\\E', -1)) FROM t")
    // WITH ORDINALITY → posexplode subquery (1-based ordinal)
    assert(PgRewrite.rewrite(
      "SELECT t.v, t.o FROM unnest(a) WITH ORDINALITY AS t(v, o)") ==
      "SELECT t.v, t.o FROM (SELECT col AS v, pos + 1 AS o FROM posexplode(a)) AS t")
    assertThrows[IllegalArgumentException](
      PgRewrite.rewrite("SELECT * FROM unnest(a) WITH ORDINALITY"))
    // substring: regex form rewrites (group 0 / capture group 1);
    // numeric FROM/FOR is Spark-native and passes through
    assert(PgRewrite.rewrite("SELECT substring(x FROM '[0-9]+') FROM t") ==
      "SELECT regexp_extract(x, '[0-9]+', 0) FROM t")
    assert(PgRewrite.rewrite("SELECT substring(x FROM 'v=([0-9]+)') FROM t") ==
      "SELECT regexp_extract(x, 'v=([0-9]+)', 1) FROM t")
    assert(PgRewrite.rewrite("SELECT substring(x FROM 2 FOR 3) FROM t") ==
      "SELECT substring(x FROM 2 FOR 3) FROM t")
    // to_char: datetime patterns translate; numeric masks pass through
    assert(PgRewrite.rewrite("SELECT to_char(ts, 'YYYY-MM-DD HH24:MI:SS') FROM t") ==
      "SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss') FROM t")
    assert(PgRewrite.rewrite("SELECT to_char(n, '999,999') FROM t") ==
      "SELECT to_char(n, '999,999') FROM t")
    assertThrows[IllegalArgumentException](
      PgRewrite.rewrite("SELECT to_char(ts, 'YYYY-Q') FROM t"))
    // epoch extraction (Spark EXTRACT has no epoch field)
    assert(PgRewrite.rewrite("SELECT extract(epoch FROM ts) FROM t") ==
      "SELECT (CAST(unix_micros(CAST((ts) AS TIMESTAMP)) AS DOUBLE) / 1000000) FROM t")
    assert(PgRewrite.rewrite("SELECT date_part('epoch', ts) FROM t") ==
      "SELECT (CAST(unix_micros(CAST((ts) AS TIMESTAMP)) AS DOUBLE) / 1000000) FROM t")
    assert(PgRewrite.rewrite("SELECT date_part('year', ts) FROM t") ==
      "SELECT date_part('year', ts) FROM t")
    // function names inside string literals are content, not calls
    assert(PgRewrite.rewrite("SELECT 'unnest(a) strpos(b)' FROM t") ==
      "SELECT 'unnest(a) strpos(b)' FROM t")
  }

  test("SAVEPOINT / ROLLBACK TO / RELEASE inside a transaction") {
    val s = fresh()
    s.sql("CREATE TABLE sv (id INT PRIMARY KEY, v TEXT)")
    s.sql("BEGIN")
    s.sql("INSERT INTO sv VALUES (1, 'a')")
    s.sql("SAVEPOINT p1")
    s.sql("INSERT INTO sv VALUES (2, 'b')")
    s.sql("SAVEPOINT p2")
    s.sql("INSERT INTO sv VALUES (3, 'c')")
    // roll back past p2 to p1: rows 2,3 vanish, row 1 stays
    s.sql("ROLLBACK TO SAVEPOINT p1")
    assert(s.sql("SELECT id FROM sv ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1))
    // p1 survives its own rollback (PG): usable again
    s.sql("INSERT INTO sv VALUES (4, 'd')")
    s.sql("ROLLBACK TO p1")
    assert(s.sql("SELECT id FROM sv ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1))
    // p2 was destroyed by the rollback to p1
    assertThrows[IllegalArgumentException](s.sql("ROLLBACK TO p2"))
    // RELEASE keeps changes, destroys the savepoint
    s.sql("INSERT INTO sv VALUES (5, 'e')")
    s.sql("RELEASE SAVEPOINT p1")
    assertThrows[IllegalArgumentException](s.sql("ROLLBACK TO p1"))
    s.sql("COMMIT")
    assert(s.sql("SELECT id FROM sv ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 5))
    // full-txn rollback still undoes everything since BEGIN incl. savepoint work
    s.sql("BEGIN; SAVEPOINT q; INSERT INTO sv VALUES (9, 'z'); ROLLBACK")
    assert(s.sql("SELECT id FROM sv ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 5))
    // outside a txn: loud errors
    assertThrows[IllegalArgumentException](s.sql("SAVEPOINT nope"))
  }

  test("PREPARE / EXECUTE / DEALLOCATE prepared statements") {
    val s = fresh()
    s.sql("CREATE TABLE pp (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO pp VALUES (1, 'a'), (2, 'b'), (3, '$1')")
    s.sql("PREPARE get_by_id (int) AS SELECT v FROM pp WHERE id = $1")
    assert(s.sql("EXECUTE get_by_id (2)").collect()(0).getString(0) == "b")
    assert(s.sql("EXECUTE get_by_id (1 + 1)").collect()(0).getString(0) == "b")
    // a '$1' inside a string literal is content, not a placeholder
    s.sql("PREPARE find_dollar AS SELECT id FROM pp WHERE v = '$1'")
    assert(s.sql("EXECUTE find_dollar").collect()(0).getInt(0) == 3)
    // typed parameters cast their arguments (PG semantics)
    s.sql("PREPARE ins (int, text) AS INSERT INTO pp VALUES ($1, $2)")
    s.sql("EXECUTE ins (4, 'd')")
    assert(s.sql("SELECT v FROM pp WHERE id = 4").collect()(0).getString(0) == "d")
    // arity mismatch and unknown names fail loudly
    assertThrows[IllegalArgumentException](s.sql("EXECUTE get_by_id"))
    assertThrows[IllegalArgumentException](s.sql("EXECUTE no_such (1)"))
    s.sql("DEALLOCATE get_by_id")
    assertThrows[IllegalArgumentException](s.sql("EXECUTE get_by_id (1)"))
    s.sql("DEALLOCATE ALL")
    assertThrows[IllegalArgumentException](s.sql("EXECUTE ins (5, 'x')"))
    // parameterized types nest parens in the type list — a regex that
    // stops at the first ')' rejects these valid PG statements
    s.sql("PREPARE typed (numeric(10,2), varchar(20)) AS " +
      "INSERT INTO pp VALUES (CAST($1 AS INT), $2)")
    s.sql("EXECUTE typed (7.4, 'g')")
    assert(s.sql("SELECT v FROM pp WHERE id = 7").collect()(0).getString(0) == "g")
  }

  test("DECLARE / FETCH / MOVE / CLOSE cursor paging") {
    val s = fresh()
    s.sql("CREATE TABLE cu (id INT PRIMARY KEY)")
    s.sql("INSERT INTO cu VALUES (1), (2), (3), (4), (5), (6), (7)")
    s.sql("DECLARE c1 CURSOR FOR SELECT id FROM cu ORDER BY id")
    assert(s.sql("FETCH 3 FROM c1").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // bare FETCH = NEXT = one row, position advances across fetches
    assert(s.sql("FETCH c1").collect().map(_.getInt(0)).toSeq == Seq(4))
    // MOVE advances without returning rows
    assert(s.sql("MOVE 2 IN c1").collect().isEmpty)
    assert(s.sql("FETCH ALL FROM c1").collect().map(_.getInt(0)).toSeq == Seq(7))
    // exhausted: FETCH returns empty, not an error
    assert(s.sql("FETCH c1").collect().isEmpty)
    s.sql("CLOSE c1")
    assertThrows[IllegalArgumentException](s.sql("FETCH c1"))
    // the cursor pins its declaration-time snapshot: later DML is invisible
    s.sql("DECLARE c2 CURSOR FOR SELECT id FROM cu ORDER BY id")
    s.sql("DELETE FROM cu WHERE id > 1")
    assert(s.sql("FETCH ALL FROM c2").collect().length == 7)
    s.sql("CLOSE ALL")
  }

  test("window FILTER and locking clauses rewrite for Spark") {
    // FILTER + OVER → CASE inside the aggregate (Spark lacks window FILTER)
    assert(PgRewrite.rewrite(
      "SELECT sum(x) FILTER (WHERE x > 1) OVER (ORDER BY y) FROM t") ==
      "SELECT sum(CASE WHEN x > 1 THEN x END) OVER (ORDER BY y) FROM t")
    assert(PgRewrite.rewrite(
      "SELECT count(*) FILTER (WHERE c = 'a') OVER w FROM t WINDOW w AS (PARTITION BY g)") ==
      "SELECT count(CASE WHEN c = 'a' THEN 1 END) OVER w FROM t WINDOW w AS (PARTITION BY g)")
    assert(PgRewrite.rewrite(
      "SELECT count(DISTINCT v) FILTER (WHERE ok) OVER (PARTITION BY g) FROM t") ==
      "SELECT count(DISTINCT CASE WHEN ok THEN v END) OVER (PARTITION BY g) FROM t")
    // plain (non-window) FILTER is Spark-native: untouched
    assert(PgRewrite.rewrite("SELECT sum(x) FILTER (WHERE x > 1) FROM t") ==
      "SELECT sum(x) FILTER (WHERE x > 1) FROM t")
    // locking clauses peel to a no-op at top level only
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE id = 1 FOR UPDATE").trim ==
      "SELECT * FROM t WHERE id = 1")
    assert(PgRewrite.rewrite("SELECT * FROM t FOR NO KEY UPDATE OF t NOWAIT").trim ==
      "SELECT * FROM t")
    assert(PgRewrite.rewrite("SELECT * FROM t FOR SHARE SKIP LOCKED").trim ==
      "SELECT * FROM t")
    assert(PgRewrite.rewrite("SELECT 'FOR UPDATE' FROM t") ==
      "SELECT 'FOR UPDATE' FROM t")
    // a double-quoted identifier whose BODY is keyword-like text must stay
    // identifier content through every later pass: the quoted-ident pass
    // backticks it first, and backtick spans are opaque to the rewrites
    assert(PgRewrite.rewrite("""SELECT "FOR UPDATE" FROM t""") ==
      "SELECT `FOR UPDATE` FROM t")
    assert(PgRewrite.rewrite("""SELECT "unnest(x)" FROM t""") ==
      "SELECT `unnest(x)` FROM t")
    assert(PgRewrite.rewrite("""SELECT "a TABLESAMPLE b", "x FETCH FIRST" FROM t""") ==
      "SELECT `a TABLESAMPLE b`, `x FETCH FIRST` FROM t")
  }

  test("PG set-returning and string functions run end-to-end via the session") {
    val s = fresh()
    s.sql("CREATE TABLE strf (id INT PRIMARY KEY, txt TEXT, ts TIMESTAMP)")
    s.sql("INSERT INTO strf VALUES (1, 'alpha beta v=42', TIMESTAMP '2024-03-04 05:06:07')")
    val r = s.sql(
      """SELECT strpos(txt, 'beta') AS p,
        |       substring(txt FROM 'v=([0-9]+)') AS v,
        |       to_char(ts, 'YYYY-MM-DD HH24:MI') AS fmt,
        |       extract(epoch FROM ts) AS ep
        |FROM strf""".stripMargin).collect()(0)
    assert(r.getInt(0) == 7)
    assert(r.getString(1) == "42")
    assert(r.getString(2) == "2024-03-04 05:06")
    assert(r.getDouble(3) == 1.709528767e9)
    val toks = s.sql("SELECT unnest(string_to_array(txt, ' ')) AS tok FROM strf")
      .collect().map(_.getString(0)).toSeq
    assert(toks == Seq("alpha", "beta", "v=42"))
    val ord = s.sql(
      """SELECT t.v, t.o FROM unnest(string_to_array('c a b', ' '))
        |WITH ORDINALITY AS t(v, o) ORDER BY t.o""".stripMargin)
      .collect().map(r2 => (r2.getString(0), r2.getInt(1))).toSeq
    assert(ord == Seq(("c", 1), ("a", 2), ("b", 3)))
  }

  test("ANSI FETCH FIRST / OFFSET ROWS rewrite to LIMIT/OFFSET") {
    assert(PgRewrite.rewrite(
      "SELECT * FROM t ORDER BY a OFFSET 5 ROWS FETCH FIRST 10 ROWS ONLY") ==
      "SELECT * FROM t ORDER BY a LIMIT 10 OFFSET 5")
    assert(PgRewrite.rewrite("SELECT * FROM t FETCH FIRST ROW ONLY") ==
      "SELECT * FROM t LIMIT 1")
    assert(PgRewrite.rewrite("SELECT * FROM t FETCH NEXT 3 ROWS ONLY") ==
      "SELECT * FROM t LIMIT 3")
    assert(PgRewrite.rewrite("SELECT * FROM t ORDER BY a OFFSET 4 ROWS") ==
      "SELECT * FROM t ORDER BY a OFFSET 4")
    // operator text inside a literal is content, not syntax
    assert(PgRewrite.rewrite("SELECT 'OFFSET 4 ROWS' FROM t") ==
      "SELECT 'OFFSET 4 ROWS' FROM t")
    // WITH TIES has no LIMIT twin — loud rejection, not dropped ties
    assertThrows[IllegalArgumentException](PgRewrite.rewrite(
      "SELECT * FROM t ORDER BY a FETCH FIRST 3 ROWS WITH TIES"))
  }

  test("generate_series in FROM rewrites to explode(sequence())") {
    assert(PgRewrite.rewrite("SELECT n FROM generate_series(1, 5) AS t(n)") ==
      "SELECT n FROM explode(sequence(1, 5)) AS t(n)")
    // PG: a bare alias names both the relation and the column
    assert(PgRewrite.rewrite("SELECT g FROM generate_series(1, 5) g") ==
      "SELECT g FROM explode(sequence(1, 5)) AS g(g)")
    // no alias: PG exposes a column named generate_series
    assert(PgRewrite.rewrite("SELECT * FROM generate_series(1, 10, 2)") ==
      "SELECT * FROM explode(sequence(1, 10, 2)) AS generate_series(generate_series)")
    // alias lookahead must not eat a following keyword
    assert(PgRewrite.rewrite("SELECT * FROM generate_series(1, 3) WHERE generate_series > 1") ==
      "SELECT * FROM explode(sequence(1, 3)) AS generate_series(generate_series) WHERE generate_series > 1")
    // argument position (inside parens) is untouched
    assert(PgRewrite.rewrite("SELECT coalesce(x, generate_series(1, 2)) FROM t") ==
      "SELECT coalesce(x, generate_series(1, 2)) FROM t")
    // FROM-list comma position rewrites (cross join source)
    assert(PgRewrite.rewrite("SELECT * FROM t, generate_series(1, 3) s") ==
      "SELECT * FROM t, explode(sequence(1, 3)) AS s(s)")
  }

  test("DISTINCT ON rewrites to a row_number window") {
    assert(PgRewrite.rewrite(
      "SELECT DISTINCT ON (k) k, v FROM m ORDER BY k, o DESC LIMIT 5") ==
      "SELECT k, v FROM (SELECT *, row_number() OVER (PARTITION BY k " +
        "ORDER BY k, o DESC) AS __graft_don FROM m) __graft_d " +
        "WHERE __graft_don = 1 ORDER BY k, o DESC LIMIT 5")
    // ORDER-BY-less DISTINCT ON returns arbitrary rows in PG — refused
    assertThrows[IllegalArgumentException](
      PgRewrite.rewrite("SELECT DISTINCT ON (k) k, v FROM m"))
    // subquery position — refused loudly, never silently wrong
    assertThrows[IllegalArgumentException](PgRewrite.rewrite(
      "SELECT * FROM (SELECT DISTINCT ON (k) k FROM m ORDER BY k) z"))
    // grouped body under SELECT * would change the aggregate's shape
    assertThrows[IllegalArgumentException](PgRewrite.rewrite(
      "SELECT DISTINCT ON (k) k FROM m GROUP BY k ORDER BY k"))
  }

  test("VACUUM FULL compacts a fragmented snapshot into few files") {
    val s = fresh()
    s.sql("CREATE TABLE frag (id INT PRIMARY KEY, v TEXT)")
    // each INSERT appends its own part-file(s) — a fragmented table
    (1 to 12).foreach(i => s.sql(s"INSERT INTO frag VALUES ($i, 'v$i')"))
    def partFiles(): Int = {
      val t = s.catalog.getTable("frag").get
      val dir = s.catalog.tableDir(t)
      val st = java.nio.file.Files.list(dir)
      try st.filter(_.getFileName.toString.startsWith("part-")).count().toInt
      finally st.close()
    }
    val before = partFiles()
    assert(before >= 12, s"expected >=12 fragment files, got $before")
    val vBefore = s.catalog.getTable("frag").get.version
    s.sql("VACUUM FULL frag")
    assert(partFiles() == 1, "12 tiny inserts must compact to one file")
    assert(s.catalog.getTable("frag").get.version == vBefore + 1)
    // contents identical after the rewrite
    val rows = s.sql("SELECT id, v FROM frag ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == (1 to 12).map(i => (i, s"v$i")))
    // and DML keeps working against the compacted snapshot
    s.sql("UPDATE frag SET v = 'x' WHERE id = 1")
    assert(s.sql("SELECT v FROM frag WHERE id = 1").collect()(0).getString(0) == "x")
  }

  test("VACUUM FULL ... ZORDER BY rewrites the snapshot in Morton order") {
    val s = fresh()
    s.sql("CREATE TABLE zt (id BIGINT PRIMARY KEY, a BIGINT, b BIGINT)")
    // 8×8 grid inserted ROW-MAJOR (sorted by a then b) — visibly not
    // Morton order, so the rewrite has something to prove
    val rows = for (a <- 0 to 7; b <- 0 to 7) yield (a * 8 + b, a, b)
    rows.grouped(16).foreach { g =>
      s.sql("INSERT INTO zt VALUES " +
        g.map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", "))
    }
    val vBefore = s.catalog.getTable("zt").get.version
    // refusals first: clustering is a rewrite, and a typo'd column,
    // wrong arity, or non-numeric column must not silently compact
    // unclustered
    assertThrows[IllegalArgumentException](s.sql("VACUUM zt ZORDER BY (a, b)"))
    assertThrows[IllegalArgumentException](s.sql("VACUUM FULL zt ZORDER BY (a, nope)"))
    assertThrows[IllegalArgumentException](s.sql("VACUUM FULL zt ZORDER BY (a)"))
    // missing BY before the paren is a malformed clause, not a table ref
    assertThrows[IllegalArgumentException](s.sql("VACUUM FULL zt ZORDER (a, b)"))
    // arity cap: 7 columns refuse (2-6 supported)
    assertThrows[IllegalArgumentException](
      s.sql("VACUUM FULL zt ZORDER BY (a, b, id, a, b, id, a)"))
    s.sql("CREATE TABLE ztx (k BIGINT PRIMARY KEY, name TEXT)")
    assertThrows[IllegalArgumentException](s.sql("VACUUM FULL ztx ZORDER BY (k, name)"))
    // a table literally NAMED "zorder" is a table reference, not a
    // clause fragment — plain VACUUM must still work on it
    s.sql("CREATE TABLE zorder (id BIGINT PRIMARY KEY, x BIGINT)")
    s.sql("INSERT INTO zorder VALUES (1, 10)")
    s.sql("VACUUM zorder")
    s.sql("VACUUM FULL zorder")
    assert(s.sql("SELECT x FROM zorder").collect()(0).getLong(0) == 10L)
    // unquoted identifiers fold to lowercase, like everywhere else
    s.sql("VACUUM FULL zt ZORDER BY (A, B)")
    assert(s.catalog.getTable("zt").get.version == vBefore + 1)
    // content identical (the rewrite is order-only)
    val back = s.sql("SELECT id, a, b FROM zt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(back == rows.map { case (i, a, b) => (i.toLong, a.toLong, b.toLong) })
    // physical order is the Morton order: replicate grid16 + interleave
    // (the single compacted file reads back in storage order)
    def spread(v0: Long): Long = {
      var v = v0
      v = (v | (v << 8)) & 0x00FF00FFL; v = (v | (v << 4)) & 0x0F0F0F0FL
      v = (v | (v << 2)) & 0x33333333L; v = (v | (v << 1)) & 0x55555555L
      v
    }
    def grid(v: Long): Long =
      math.min(65535L, math.floor(v.toDouble / 7.0 * 65536.0).toLong)
    val expected = rows.map { case (i, a, b) =>
      (i.toLong, spread(grid(a.toLong)) | (spread(grid(b.toLong)) << 1)) }
      .sortBy(_._2).map(_._1)
    val physical = s.sql("SELECT id FROM zt").collect().map(_.getLong(0)).toSeq
    assert(physical == expected,
      s"snapshot must be Morton-ordered:\n$physical\nvs\n$expected")
    // k-D: a third cluster column is accepted and content-preserving
    // (the k-D skip census itself is pinned in ZOrderSpec)
    s.sql("VACUUM FULL zt ZORDER BY (a, b, id)")
    assert(s.catalog.getTable("zt").get.version == vBefore + 2)
    val back3 = s.sql("SELECT id, a, b FROM zt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(back3 == rows.map { case (i, a, b) => (i.toLong, a.toLong, b.toLong) })
  }

  test("COPY supports parquet export/import and the (query) TO form") {
    val s = fresh()
    s.sql("CREATE TABLE exp (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO exp VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val dir = java.nio.file.Files.createTempDirectory("graft_copy")
    // table export as parquet, reimport into a fresh table
    s.sql(s"COPY exp TO '$dir/t.parquet' (FORMAT PARQUET)")
    s.sql("CREATE TABLE imp (id INT PRIMARY KEY, v TEXT)")
    s.sql(s"COPY imp FROM '$dir/t.parquet' (FORMAT PARQUET)")
    assert(s.sql("SELECT count(*) AS c FROM imp").collect()(0).getLong(0) == 3L)
    // query-form export: transformation + parquet in one statement
    s.sql(s"COPY (SELECT id * 10 AS id10, upper(v) AS vu FROM exp WHERE id < 3) " +
      s"TO '$dir/q.parquet' (FORMAT PARQUET)")
    val q = spark.read.parquet(s"$dir/q.parquet")
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(q == Seq((10, "A"), (20, "B")))
    // query-form to STDOUT: rows come back as lines
    val lines = s.sql("COPY (SELECT id, v FROM exp ORDER BY id) TO STDOUT")
      .collect().map(_.getString(0)).toSeq
    assert(lines == Seq("1\ta", "2\tb", "3\tc"))
    // parquet import validates constraints like any INSERT
    s.sql("CREATE TABLE impdup (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO impdup VALUES (1, 'x')")
    assertThrows[IllegalArgumentException](
      s.sql(s"COPY impdup FROM '$dir/t.parquet' (FORMAT PARQUET)"))
  }

  test("SIMILAR TO rewrites to anchored RLIKE with SQL-regex conversion") {
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE x SIMILAR TO 'a%'") ==
      "SELECT * FROM t WHERE x RLIKE '^(?:a.*)$'")
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE x NOT SIMILAR TO '_b|c.d'") ==
      "SELECT * FROM t WHERE NOT (x RLIKE '^(?:.b|c\\.d)$')")
    // pattern text inside an unrelated literal is content
    assert(PgRewrite.rewrite("SELECT 'x SIMILAR TO y' FROM t") ==
      "SELECT 'x SIMILAR TO y' FROM t")
  }

  test("ON CONFLICT ON CONSTRAINT resolves synthesized constraint names") {
    val s = fresh()
    s.sql("CREATE TABLE oc3 (id INT PRIMARY KEY, u TEXT UNIQUE, v INT)")
    s.sql("INSERT INTO oc3 VALUES (1, 'a', 10), (2, 'b', 20)")
    // the auto-generated pkey name (PG generates the same one)
    s.sql("INSERT INTO oc3 VALUES (1, 'z', 99) ON CONFLICT ON CONSTRAINT oc3_pkey DO NOTHING")
    assert(s.sql("SELECT v FROM oc3 WHERE id = 1").collect()(0).getInt(0) == 10)
    // a single-column UNIQUE's name, with the DO UPDATE arm
    s.sql("INSERT INTO oc3 VALUES (3, 'a', 30) " +
      "ON CONFLICT ON CONSTRAINT oc3_u_key DO UPDATE SET v = EXCLUDED.v")
    assert(s.sql("SELECT v FROM oc3 WHERE u = 'a'").collect()(0).getInt(0) == 30)
    assert(s.sql("SELECT count(*) AS c FROM oc3").collect()(0).getLong(0) == 2L)
    // an unknown name fails loudly with the candidate list
    val err = intercept[IllegalArgumentException](
      s.sql("INSERT INTO oc3 VALUES (9, 'q', 1) ON CONFLICT ON CONSTRAINT nope DO NOTHING"))
    assert(err.getMessage.contains("oc3_pkey"))
  }

  test("ARRAY[...] constructor and ANY/ALL quantifiers rewrite") {
    assert(PgRewrite.rewrite("SELECT ARRAY[1, 2, 3]") == "SELECT array(1, 2, 3)")
    assert(PgRewrite.rewrite("SELECT ARRAY[ARRAY[1], ARRAY[2]]") ==
      "SELECT array(array(1), array(2))")
    // subscript brackets don't match (no ARRAY keyword)
    assert(PgRewrite.rewrite("SELECT arr[1] FROM t") == "SELECT arr[1] FROM t")
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE x = ANY(SELECT y FROM u)") ==
      "SELECT * FROM t WHERE x IN (SELECT y FROM u)")
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE x <> ALL(SELECT y FROM u)") ==
      "SELECT * FROM t WHERE x NOT IN (SELECT y FROM u)")
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE x = ANY(ARRAY['a', 'b'])") ==
      "SELECT * FROM t WHERE array_contains(array('a', 'b'), x)")
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE x <> ALL(tags)") ==
      "SELECT * FROM t WHERE NOT array_contains(tags, x)")
    // = ALL / <> ANY have no IN twin — rejected, not silently inverted
    assertThrows[IllegalArgumentException](
      PgRewrite.rewrite("SELECT * FROM t WHERE x = ALL(SELECT y FROM u)"))
    assertThrows[IllegalArgumentException](
      PgRewrite.rewrite("SELECT * FROM t WHERE x <> ANY(tags)"))
    // quantifier text inside a literal is content
    assert(PgRewrite.rewrite("SELECT 'x = ANY(y)' FROM t") ==
      "SELECT 'x = ANY(y)' FROM t")
  }

  test("ARRAY / ANY end-to-end through the session") {
    val s = fresh()
    s.sql("CREATE TABLE qa (id INT PRIMARY KEY, seg TEXT)")
    s.sql("INSERT INTO qa VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val hit = s.sql("SELECT id FROM qa WHERE seg = ANY(ARRAY['a', 'c']) ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(hit == Seq(1, 3))
    val sub = s.sql("SELECT id FROM qa WHERE id = ANY(SELECT id FROM qa WHERE seg <> 'b') ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(sub == Seq(1, 3))
  }

  test("DISTINCT ON / FETCH FIRST / generate_series end-to-end") {
    val s = fresh()
    s.sql("CREATE TABLE don (k INT, v TEXT, o INT)")
    s.sql("INSERT INTO don VALUES (1,'a',1),(1,'b',2),(2,'c',1),(2,'d',0)")
    val top = s.sql("SELECT DISTINCT ON (k) k, v FROM don ORDER BY k, o DESC")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(top == Seq((1, "b"), (2, "c")))
    // ordered by (o, v): (0,d) (1,a) (1,c) (2,b) → skip 1, take 2
    val page = s.sql(
      "SELECT v FROM don ORDER BY o, v OFFSET 1 ROWS FETCH FIRST 2 ROWS ONLY")
      .collect().map(_.getString(0)).toSeq
    assert(page == Seq("a", "c"))
    val series = s.sql(
      "SELECT n, n * 2 AS dbl FROM generate_series(1, 4) AS t(n) ORDER BY n")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(series == Seq((1, 2), (2, 4), (3, 6), (4, 8)))
  }

  test("PG JSON operator end-to-end through the session") {
    val s = fresh()
    s.sql("CREATE TABLE e (id INT PRIMARY KEY, props JSON)")
    s.sql("""INSERT INTO e VALUES (1, '{"k": "v1", "n": {"x": 7}}')""")
    val r = s.sql("SELECT props->>'k' AS k, props#>>'{n,x}' AS nx FROM e").collect()(0)
    assert(r.getString(0) == "v1" && r.getString(1) == "7")
  }

  test("catalog persists across sessions (reopen warehouse)") {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE t (id SERIAL, v TEXT); INSERT INTO t (v) VALUES ('a'), ('b')")
    val s2 = new GraftSession(spark, wh)
    assert(s2.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 2)
    s2.sql("INSERT INTO t (v) VALUES ('c')")
    assert(s2.sql("SELECT max(id) AS m FROM t").collect()(0).getInt(0) == 3) // sequence resumed
  }

  test("statement splitter respects quotes and comments") {
    val stmts = StatementSplitter.split(
      "SELECT 'a;b' AS x; -- c1; c2\nSELECT 2; /* x; y */ SELECT 3")
    assert(stmts == Seq("SELECT 'a;b' AS x", "SELECT 2", "SELECT 3"))
  }

  test("UPDATE SET expressions all evaluate against the pre-update row") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, a INT, b INT)")
    s.sql("INSERT INTO t VALUES (1, 10, 20), (2, 30, 40)")
    // SQL semantics: both RHS read the OLD row → this swaps
    s.sql("UPDATE t SET a = b, b = a WHERE id = 1")
    val r = s.sql("SELECT a, b FROM t ORDER BY id").collect()
    assert(r(0).getInt(0) == 20 && r(0).getInt(1) == 10)
    assert(r(1).getInt(0) == 30 && r(1).getInt(1) == 40)
    // WHERE referencing a column being SET selects on the OLD value
    s.sql("UPDATE t SET a = a + 1000 WHERE a < 25")
    assert(s.sql("SELECT a FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq ==
      Seq(1020, 30))
    // duplicate assignment to the same column is rejected (PG parity)
    assertThrows[IllegalArgumentException](s.sql("UPDATE t SET a = 1, a = 2"))
  }

  test("UNIQUE allows multiple NULLs (Postgres semantics)") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, email TEXT UNIQUE)")
    s.sql("INSERT INTO t VALUES (1, NULL), (2, NULL)") // batch-internal NULLs distinct
    s.sql("INSERT INTO t VALUES (3, NULL)")            // cross-batch NULL distinct
    s.sql("INSERT INTO t VALUES (4, 'a@x')")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (5, 'a@x')"))
    assert(s.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 4)
    // UPDATE post-check tolerates NULL keys too
    s.sql("UPDATE t SET email = NULL WHERE id = 4")
    assert(s.sql("SELECT count(*) AS c FROM t WHERE email IS NULL").collect()(0).getLong(0) == 4)
    // composite UNIQUE: a NULL component makes the key distinct
    s.sql("CREATE TABLE u (id INT PRIMARY KEY, a INT, b INT, UNIQUE (a, b))")
    s.sql("INSERT INTO u VALUES (1, 7, NULL), (2, 7, NULL)")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO u VALUES (3, 7, 8), (4, 7, 8)"))
  }

  test("ALTER TABLE ADD CONSTRAINT FOREIGN KEY enforces later inserts") {
    val s = fresh()
    s.sql("CREATE TABLE parent (id INT PRIMARY KEY); " +
      "CREATE TABLE child (id INT PRIMARY KEY, pid INT)")
    s.sql("INSERT INTO parent VALUES (1)")
    s.sql("INSERT INTO child VALUES (10, 99)") // pre-constraint: unchecked
    s.sql("ALTER TABLE child ADD CONSTRAINT child_pid_fk FOREIGN KEY (pid) REFERENCES parent (id)")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO child VALUES (11, 77)"))
    s.sql("INSERT INTO child VALUES (12, 1)")
    val d = s.sql("DESCRIBE child").collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(d("pid").contains("FK→parent(id)"))
    // unnamed form too
    s.sql("CREATE TABLE child2 (id INT PRIMARY KEY, pid INT)")
    s.sql("ALTER TABLE child2 ADD FOREIGN KEY (pid) REFERENCES parent (id)")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO child2 VALUES (1, 42)"))
  }

  test("ALTER TABLE ADD CONSTRAINT UNIQUE checks existing rows and future inserts") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT, w INT)")
    s.sql("INSERT INTO t VALUES (1, 5, 1), (2, 5, 2)")
    // existing duplicates block the constraint
    assertThrows[IllegalArgumentException](s.sql("ALTER TABLE t ADD CONSTRAINT t_v UNIQUE (v)"))
    s.sql("UPDATE t SET v = 6 WHERE id = 2")
    s.sql("ALTER TABLE t ADD CONSTRAINT t_v UNIQUE (v)")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (3, 6, 3)"))
    // composite form lands in uniqueKeys
    s.sql("ALTER TABLE t ADD CONSTRAINT t_vw UNIQUE (v, w)")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (4, 9, 9), (5, 9, 9)"))
    // CHECK accepted and ignored (reference parity)
    s.sql("ALTER TABLE t ADD CONSTRAINT c CHECK (v > 0)")
  }

  test("ALTER TABLE ADD PRIMARY KEY is enforced on rowid tables") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT, v TEXT)") // no PK → hidden rowid
    s.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    s.sql("ALTER TABLE t ADD PRIMARY KEY (id)")
    // duplicate and NULL PKs now rejected
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (1, 'dup')"))
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (NULL, 'n')"))
    s.sql("INSERT INTO t VALUES (3, 'c')")
    assert(s.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 3)
    // and the ALTER itself validates existing rows
    s.sql("CREATE TABLE u (id INT); INSERT INTO u VALUES (7), (7)")
    assertThrows[IllegalArgumentException](s.sql("ALTER TABLE u ADD PRIMARY KEY (id)"))
  }

  test("unparseable ADD CONSTRAINT forms error instead of corrupting the schema") {
    val s = fresh()
    s.sql("CREATE TABLE par (id INT PRIMARY KEY); " +
      "CREATE TABLE ch (id INT PRIMARY KEY, pid INT, a INT, b INT)")
    // composite FK: unsupported → must THROW, not become a junk column
    assertThrows[IllegalArgumentException](
      s.sql("ALTER TABLE ch ADD CONSTRAINT x FOREIGN KEY (a, b) REFERENCES par (id)"))
    assert(s.sql("SELECT * FROM ch").columns.toSeq == Seq("id", "pid", "a", "b"))
    // trailing ON DELETE action accepted (metadata-ignored, reference parity)
    s.sql("ALTER TABLE ch ADD CONSTRAINT fk FOREIGN KEY (pid) REFERENCES par (id) ON DELETE CASCADE")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO ch VALUES (1, 99, 1, 1)"))
  }

  test("re-created table does not inherit the old definition's inline PK") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY); DROP TABLE t")
    s.sql("CREATE TABLE t (id INT, v INT)") // no key this time
    s.sql("INSERT INTO t VALUES (1, 1), (1, 2)") // duplicates fine now
    assert(s.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 2)
  }

  test("ALTER TABLE ADD COLUMN SERIAL provisions its sequence") {
    val s = fresh()
    s.sql("CREATE TABLE t (a INT); INSERT INTO t VALUES (10)")
    s.sql("ALTER TABLE t ADD COLUMN id SERIAL")
    s.sql("INSERT INTO t (a) VALUES (20), (30)")
    val ids = s.sql("SELECT id FROM t WHERE a > 10 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(1, 2))
  }

  test("DROP COLUMN drops constraints with it and blocks FK-referenced drops") {
    val s = fresh()
    s.sql("CREATE TABLE t (a INT, b INT, PRIMARY KEY (a, b))")
    s.sql("ALTER TABLE t DROP COLUMN b")
    s.sql("INSERT INTO t VALUES (1), (1)") // PK fell away with its column
    assert(s.sql("SELECT count(*) AS c FROM t").collect()(0).getLong(0) == 2)
    s.sql("CREATE TABLE par (id INT PRIMARY KEY); " +
      "CREATE TABLE ch (id INT PRIMARY KEY, pid INT REFERENCES par(id))")
    assertThrows[IllegalArgumentException](s.sql("ALTER TABLE par DROP COLUMN id"))
  }

  test("CREATE UNIQUE INDEX declares an enforced unique constraint") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, email TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'a@x')")
    s.sql("CREATE UNIQUE INDEX t_email_idx ON t (email)")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO t VALUES (2, 'a@x')"))
    s.sql("INSERT INTO t VALUES (3, 'b@x')")
    // existing duplicates block the index creation
    s.sql("CREATE TABLE u (id INT PRIMARY KEY, v INT); INSERT INTO u VALUES (1, 5), (2, 5)")
    assertThrows[IllegalArgumentException](s.sql("CREATE UNIQUE INDEX ON u (v)"))
    // plain index stays a no-op
    s.sql("CREATE INDEX t_email_plain ON t (email)")
  }

  test("UPDATE parses a WHERE keyword inside a string literal correctly") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, note TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    s.sql("UPDATE t SET note = 'a where b' WHERE id = 1")
    val notes = s.sql("SELECT note FROM t ORDER BY id").collect().map(_.getString(0)).toSeq
    assert(notes == Seq("a where b", "y"))
  }

  test("enum array columns keep array type and validate elements") {
    val s = fresh()
    s.sql("CREATE TYPE mood AS ENUM ('ok', 'sad')")
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, ms mood[])")
    s.sql("INSERT INTO t SELECT 1, array('ok', 'sad')")
    assertThrows[IllegalArgumentException](
      s.sql("INSERT INTO t SELECT 2, array('ok', 'angry')"))
    val r = s.sql("SELECT ms FROM t").collect()(0).getSeq[String](0)
    assert(r == Seq("ok", "sad"))
  }

  test("INSERT VALUES accepts PG-dialect expressions via the rewrite") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    s.sql("""INSERT INTO t VALUES (1, '{"a": "hi"}'->>'a')""")
    assert(s.sql("SELECT v FROM t").collect()(0).getString(0) == "hi")
  }

  test("PG regex-match operators rewrite to RLIKE") {
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE name ~ '^A'") ==
      "SELECT * FROM t WHERE name RLIKE '^A'")
    assert(PgRewrite.rewrite("SELECT * FROM t WHERE name !~* 'b$'") ==
      "SELECT * FROM t WHERE NOT (name RLIKE '(?i)b$')")
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, name TEXT)")
    s.sql("INSERT INTO t VALUES (1, 'Alice'), (2, 'bob'), (3, 'ALFRED')")
    assert(s.sql("SELECT count(*) AS c FROM t WHERE name ~ '^A'")
      .collect()(0).getLong(0) == 2)
    assert(s.sql("SELECT count(*) AS c FROM t WHERE name ~* '^al'")
      .collect()(0).getLong(0) == 2) // Alice + ALFRED, case-folded
    assert(s.sql("SELECT id FROM t WHERE name !~ 'o' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("cast rewrite treats string literals as opaque") {
    // '(' inside a literal must not unbalance the paren scan
    assert(PgRewrite.rewrite("SELECT split_part(x, '(', 1)::int FROM t") ==
      "SELECT CAST(split_part(x, '(', 1) AS int) FROM t")
    // '::' inside a literal is content, not a cast
    assert(PgRewrite.rewrite("SELECT 'a::b' AS x FROM t") ==
      "SELECT 'a::b' AS x FROM t")
    // whole-literal operands still cast
    assert(PgRewrite.rewrite("SELECT '5'::int FROM t") ==
      "SELECT CAST('5' AS int) FROM t")
  }

  test("parenthesized and function-call :: casts rewrite correctly") {
    assert(PgRewrite.rewrite("SELECT (a+b)::int FROM t") ==
      "SELECT CAST((a+b) AS int) FROM t")
    assert(PgRewrite.rewrite("SELECT abs(x)::bigint FROM t") ==
      "SELECT CAST(abs(x) AS bigint) FROM t")
    assert(PgRewrite.rewrite("SELECT ((a+b)*c)::decimal(10,2) FROM t") ==
      "SELECT CAST(((a+b)*c) AS decimal(10,2)) FROM t")
    assert(PgRewrite.rewrite("SELECT t.c::int FROM t") ==
      "SELECT CAST(t.c AS int) FROM t")
    // nested: inner cast inside a parenthesized operand
    assert(PgRewrite.rewrite("SELECT (x::double + 1)::int FROM t") ==
      "SELECT CAST((CAST(x AS double) + 1) AS int) FROM t")
    // doubled-quote escape: the WHOLE literal is the operand, never a tail
    assert(PgRewrite.rewrite("SELECT 'it''s'::text") ==
      "SELECT CAST('it''s' AS text)")
  }

  test("operators inside string literals are content, not syntax") {
    // regex-match shaped text stored in a literal must survive verbatim
    assert(PgRewrite.rewrite("INSERT INTO t VALUES ('col ~ ''pat''')") ==
      "INSERT INTO t VALUES ('col ~ ''pat''')")
    // JSON-operator shaped text inside a literal likewise
    assert(PgRewrite.rewrite("SELECT 'a->>b is an operator'") ==
      "SELECT 'a->>b is an operator'")
    // while the real operators outside literals still rewrite
    assert(PgRewrite.rewrite("SELECT name FROM t WHERE name ~ '^ab'") ==
      "SELECT name FROM t WHERE name RLIKE '^ab'")
  }

  test("UPDATE parsing is comment- and quoted-identifier-proof") {
    val s = fresh()
    s.sql("CREATE TABLE upc (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO upc VALUES (1, 10), (2, 20)")
    s.sql("UPDATE upc SET v = 1 -- where\nWHERE id = 1")
    val r = s.sql("SELECT id, v FROM upc ORDER BY id").collect()
    assert(r.map(x => (x.getInt(0), x.getInt(1))).toSeq == Seq((1, 1), (2, 20)))
  }

  test("unparseable CREATE UNIQUE INDEX throws; rich forms parse") {
    val s = fresh()
    s.sql("CREATE TABLE uix (id INT PRIMARY KEY, v INT)")
    s.sql("CREATE UNIQUE INDEX CONCURRENTLY uix_v ON public.uix USING btree (v)")
    s.sql("INSERT INTO uix VALUES (1, 5)")
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO uix VALUES (2, 5)"))
    // a UNIQUE INDEX the parser cannot understand must not silently no-op
    assertThrows[IllegalArgumentException](
      s.sql("CREATE UNIQUE INDEX weird ON uix ((v + 1)) WHERE v > 0"))
    // ...but a PLAIN index whose name merely contains 'unique' is still
    // a valid no-op: no error, no constraint declared
    s.sql("CREATE TABLE pix (id INT PRIMARY KEY, v INT)")
    s.sql("CREATE INDEX idx_unique_v ON pix (v)")
    s.sql("INSERT INTO pix VALUES (3, 7), (4, 7)") // duplicates allowed
    assert(s.sql("SELECT count(*) AS c FROM pix").collect()(0).getLong(0) == 2L)
  }

  test("parenthesized :: cast end-to-end through the session") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, a DOUBLE, b DOUBLE)")
    s.sql("INSERT INTO t VALUES (1, 1.6, 2.7)")
    val r = s.sql("SELECT (a + b)::int AS s, round(a, 0)::bigint AS ra FROM t").collect()(0)
    assert(r.getInt(0) == 4 && r.getLong(1) == 2L)
  }

  test("tagged dollar quoting shields statement bodies") {
    val stmts = StatementSplitter.split(
      "DO $fn$ BEGIN; SELECT 1; END $fn$; SELECT 2")
    assert(stmts == Seq("DO $fn$ BEGIN; SELECT 1; END $fn$", "SELECT 2"))
    // plain $$ still works, and a $tag$ body may contain $$
    val mixed = StatementSplitter.split("DO $body$ x; $$ y; $body$; SELECT 3")
    assert(mixed == Seq("DO $body$ x; $$ y; $body$", "SELECT 3"))
  }

  test("BEGIN…ROLLBACK undoes INSERT, UPDATE, DELETE and txn-local DDL") {
    val s = fresh()
    s.sql("CREATE TABLE acct (id INT PRIMARY KEY, bal DOUBLE)")
    s.sql("INSERT INTO acct VALUES (1, 100.0), (2, 50.0)")
    s.sql("BEGIN")
    s.sql("INSERT INTO acct VALUES (3, 75.0)")
    s.sql("UPDATE acct SET bal = bal - 40 WHERE id = 1")
    s.sql("DELETE FROM acct WHERE id = 2")
    s.sql("CREATE TABLE scratch (x INT)")
    // txn sees its own writes
    assert(s.sql("SELECT count(*) AS c FROM acct").collect()(0).getLong(0) == 2L)
    s.sql("ROLLBACK")
    // snapshots untouched: pre-txn rows and values restored, DDL undone
    val rows = s.sql("SELECT id, bal FROM acct ORDER BY id").collect()
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq((1, 100.0), (2, 50.0)))
    assertThrows[Exception](s.sql("SELECT * FROM scratch"))
  }

  test("COMMIT keeps txn writes; nested BEGIN rejected; bare ROLLBACK is a no-op") {
    val s = fresh()
    s.sql("CREATE TABLE t2 (id INT PRIMARY KEY)")
    s.sql("BEGIN")
    s.sql("INSERT INTO t2 VALUES (1)")
    assertThrows[IllegalStateException](s.sql("BEGIN"))
    s.sql("COMMIT")
    s.sql("ROLLBACK") // outside any txn: PG-style no-op
    assert(s.sql("SELECT count(*) AS c FROM t2").collect()(0).getLong(0) == 1L)
    // a rollback after commit must not resurrect the snapshot
    s.sql("BEGIN"); s.sql("INSERT INTO t2 VALUES (2)"); s.sql("ROLLBACK")
    assert(s.sql("SELECT count(*) AS c FROM t2").collect()(0).getLong(0) == 1L)
  }

  test("COPY FROM STDIN: inline data, copyIn API, atomic mid-stream rejection") {
    val s = fresh()
    s.sql("CREATE TABLE cpi (id INT PRIMARY KEY, name TEXT NOT NULL, score DOUBLE)")
    // pg_dump-style inline data: default text format (tab-sep, \N null)
    s.sql("COPY cpi FROM STDIN\n1\tann\t1.5\n2\tbob\t\\N\n\\.")
    val r = s.sql("SELECT id, name, score FROM cpi ORDER BY id").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(1, 2) && r(1).isNullAt(2))
    // CSV format option
    s.sql("COPY cpi FROM STDIN (FORMAT CSV)\n3,cat,3.5\n\\.")
    assert(s.sql("SELECT count(*) AS c FROM cpi").collect()(0).getLong(0) == 3L)
    // programmatic Reader form — the reference's CopyData stream analogue.
    // PG stops at the first \. terminator: the trailing row after it must
    // NOT be ingested (and the reader must not be drained past it)
    s.copyIn("cpi",
      new java.io.StringReader("4\tdee\t4.5\n\\.\n99\tghost\t9.9\n"), "TEXT", header = false)
    assert(s.sql("SELECT count(*) AS c FROM cpi").collect()(0).getLong(0) == 4L)
    assert(s.sql("SELECT count(*) AS c FROM cpi WHERE id = 99").collect()(0).getLong(0) == 0L)
    // a violation anywhere in the stream rejects the WHOLE batch: the
    // valid leading rows must not be half-applied
    assertThrows[IllegalArgumentException](
      s.copyIn("cpi", Seq("5\teve\t5.5", "1\tdup\t0.0"), "TEXT"))
    assertThrows[IllegalArgumentException](
      s.copyIn("cpi", Seq("6\t\\N\t6.0"), "TEXT")) // NOT NULL mid-stream
    assert(s.sql("SELECT count(*) AS c FROM cpi").collect()(0).getLong(0) == 4L)
    // column-list form: unlisted columns take their defaults (NULL here)
    s.sql("COPY cpi (id, name) FROM STDIN\n7\tgus\n\\.")
    val g = s.sql("SELECT name, score FROM cpi WHERE id = 7").collect()(0)
    assert(g.getString(0) == "gus" && g.isNullAt(1))
    // COPY TO STDOUT round-trips through the text serialization
    val out = s.sql("COPY cpi TO STDOUT").collect().map(_.getString(0)).sorted
    assert(out.length == 5 && out.head == "1\tann\t1.5")
    assert(out.exists(_.startsWith("2\tbob\t\\N"))) // null spelled \N
  }

  test("crash mid-transaction: reopening the warehouse recovers pre-BEGIN state") {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE acct (id INT PRIMARY KEY, bal DOUBLE)")
    s1.sql("INSERT INTO acct VALUES (1, 100.0)")
    s1.sql("BEGIN")
    s1.sql("INSERT INTO acct VALUES (2, 50.0)")
    s1.sql("UPDATE acct SET bal = 0.0 WHERE id = 1")
    s1.sql("CREATE TABLE scratch (x INT)")
    // "crash": the session object is abandoned without COMMIT/ROLLBACK —
    // part-files are appended and the persisted catalog points at the
    // post-write state; only the journal knows the pre-BEGIN truth
    val s2 = new GraftSession(spark, wh)
    val rows = s2.sql("SELECT id, bal FROM acct ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1, 100.0)), s"expected pre-BEGIN state, got $rows")
    assertThrows[Exception](s2.sql("SELECT * FROM scratch")) // txn DDL undone
    // recovery is one-shot: the journal is consumed, normal work resumes
    s2.sql("INSERT INTO acct VALUES (3, 30.0)")
    val s3 = new GraftSession(spark, wh)
    assert(s3.sql("SELECT count(*) AS c FROM acct").collect()(0).getLong(0) == 2L)
  }

  test("crash recovery deletes what the dead transaction published, as ROLLBACK does") {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    s1.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    s1.sql("CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS c FROM t")
    def listing = storageListing(wh, "t", "_mv_mv")
    val before = listing
    s1.sql("BEGIN; UPDATE t SET v = 'x' WHERE id = 1; INSERT INTO t VALUES (3, 'c')")
    s1.sql("DELETE FROM t WHERE id = 2; REFRESH MATERIALIZED VIEW mv")
    s1.sql("CREATE TABLE t2 (id INT)")
    s1.sql("INSERT INTO t2 VALUES (1)")
    assert(listing != before)
    // "crash": s1 is abandoned with the transaction open
    val s2 = new GraftSession(spark, wh)
    assert(listing == before)
    assert(!Files.exists(wh.resolve("t2")))
    assert(s2.sql("SELECT id, v FROM t ORDER BY id").collect().map(_.toString).toSeq ==
      Seq("[1,a]", "[2,b]"))
    assert(s2.sql("SELECT c FROM mv").collect()(0).getLong(0) == 2L)
  }

  test("crash recovery keeps the sequence values the dead transaction drew") {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE t (id SERIAL PRIMARY KEY, v TEXT)")
    s1.sql("INSERT INTO t (v) VALUES ('a')")
    s1.sql("BEGIN")
    val drawn = s1.sql("INSERT INTO t (v) VALUES ('b') RETURNING id").collect()(0).getInt(0)
    // "crash": the id was handed out, then s1 is abandoned
    val s2 = new GraftSession(spark, wh)
    val next = s2.sql("INSERT INTO t (v) VALUES ('c') RETURNING id").collect()(0).getInt(0)
    assert(next > drawn, s"recovery handed out id $next again (the dead transaction drew $drawn)")
    assert(s2.sql("SELECT v FROM t ORDER BY id").collect().map(_.getString(0)).toSeq ==
      Seq("a", "c"))
  }

  /** `t`'s serial sequence is renamed by RENAME COLUMN and `u`'s dropped
    * inside the transaction that `end` closes or abandons; afterwards both
    * sequences must be back and serve the next INSERT. */
  private def sequenceDdlUndone(end: (java.nio.file.Path, GraftSession) => GraftSession): Unit = {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE t (id SERIAL PRIMARY KEY, v TEXT); CREATE TABLE u (id SERIAL PRIMARY KEY, v TEXT)")
    s1.sql("INSERT INTO t (v) VALUES ('a'); INSERT INTO u (v) VALUES ('a')")
    s1.sql("BEGIN; ALTER TABLE t RENAME COLUMN id TO k; DROP SEQUENCE u_id_seq")
    val s2 = end(wh, s1)
    assert(s2.catalog.sequences.keySet == Set("t_id_seq", "u_id_seq"))
    for (n <- Seq("t", "u")) {
      assert(s2.sql(s"INSERT INTO $n (v) VALUES ('b') RETURNING id").collect()(0).getInt(0) == 2)
      assert(s2.sql(s"SELECT id, v FROM $n ORDER BY id").collect().map(_.toString).toSeq ==
        Seq("[1,a]", "[2,b]"))
    }
  }

  test("ROLLBACK brings back the sequences the transaction dropped or renamed") {
    sequenceDdlUndone { (_, s1) => s1.sql("ROLLBACK"); s1 }
  }

  test("crash recovery brings back the sequences the dead transaction dropped or renamed") {
    // "crash": s1 is abandoned with the transaction open
    sequenceDdlUndone((wh, _) => new GraftSession(spark, wh))
  }

  /** Inside a transaction, `t`'s serial ids are drawn before and after
    * RENAME COLUMN renames its sequence (`t_id_seq` → `t_k_seq` →
    * `t_m_seq`); `end` rolls back to a savepoint taken right after BEGIN,
    * rolls the transaction back, or abandons it. Afterwards the sequence is
    * `t_id_seq` again and hands out none of the drawn ids. */
  private def renamedSequenceKeepsDrawn(end: (java.nio.file.Path, GraftSession) => GraftSession): Unit = {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE t (id SERIAL PRIMARY KEY, v TEXT)")
    s1.sql("INSERT INTO t (v) VALUES ('a')")
    s1.sql("BEGIN; SAVEPOINT sp")
    def draw(s: GraftSession, v: String, col: String) =
      s.sql(s"INSERT INTO t (v) VALUES ('$v') RETURNING $col").collect()(0).getInt(0)
    draw(s1, "b", "id")
    s1.sql("ALTER TABLE t RENAME COLUMN id TO k")
    val drawn = draw(s1, "c", "k")
    s1.sql("ALTER TABLE t RENAME COLUMN k TO m")
    val s2 = end(wh, s1)
    assert(s2.catalog.sequences.keySet == Set("t_id_seq"))
    val next = draw(s2, "d", "id")
    assert(next > drawn, s"id $next handed out again (the transaction drew up to $drawn)")
    assert(s2.sql("SELECT v FROM t ORDER BY id").collect().map(_.getString(0)).toSeq ==
      Seq("a", "d"))
  }

  test("ROLLBACK TO keeps the ids drawn through a sequence the transaction renamed") {
    renamedSequenceKeepsDrawn { (_, s1) => s1.sql("ROLLBACK TO SAVEPOINT sp"); s1 }
  }

  test("ROLLBACK keeps the ids drawn through a sequence the transaction renamed") {
    renamedSequenceKeepsDrawn { (_, s1) => s1.sql("ROLLBACK"); s1 }
  }

  test("crash recovery keeps the ids drawn through a sequence the dead transaction renamed") {
    // "crash": s1 is abandoned with the transaction open
    renamedSequenceKeepsDrawn((wh, _) => new GraftSession(spark, wh))
  }

  test("crash DURING recovery: re-running recovery is idempotent") {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE acct (id INT PRIMARY KEY, bal DOUBLE)")
    s1.sql("INSERT INTO acct VALUES (1, 100.0)")
    s1.sql("BEGIN")
    s1.sql("INSERT INTO acct VALUES (2, 50.0)")
    s1.sql("CREATE TABLE scratch (x INT)")
    // simulate a recovery that crashed AFTER restoring catalog.json but
    // BEFORE un-appending part-files / deleting the journals: the journal
    // pair is still armed, catalog.json already points at pre-BEGIN state
    Files.copy(wh.resolve("_txn_catalog.json"), wh.resolve("catalog.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // next open must complete the interrupted recovery, not skip it
    val s2 = new GraftSession(spark, wh)
    val rows = s2.sql("SELECT id, bal FROM acct ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1, 100.0)), s"expected pre-BEGIN state, got $rows")
    assertThrows[Exception](s2.sql("SELECT * FROM scratch"))
    // journals fully consumed — the commit point of recovery was reached
    assert(!Files.exists(wh.resolve("_txn_catalog.json")))
    assert(!Files.exists(wh.resolve("_txn_files.json")))
  }

  test("crash between recovery's journal deletes must not wipe table data") {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE acct (id INT PRIMARY KEY, bal DOUBLE)")
    s1.sql("INSERT INTO acct VALUES (1, 100.0), (2, 50.0)")
    // simulate a recovery that died AFTER deleting _txn_files.json (the
    // un-append step already ran) but BEFORE deleting _txn_catalog.json:
    // the catalog journal is armed alone. The re-run must NOT interpret
    // the missing files journal as "no table owned any file" — that
    // reading deletes every part-file of every table.
    Files.copy(wh.resolve("catalog.json"), wh.resolve("_txn_catalog.json"))
    val s2 = new GraftSession(spark, wh)
    assert(s2.sql("SELECT count(*) AS c FROM acct").collect()(0).getLong(0) == 2L)
    // the re-run still reaches its commit point and disarms the journal
    assert(!Files.exists(wh.resolve("_txn_catalog.json")))
  }

  test("INSERT ON CONFLICT DO NOTHING skips existing and in-batch duplicate keys") {
    val s = fresh()
    s.sql("CREATE TABLE oc (id INT PRIMARY KEY, v TEXT, u INT UNIQUE)")
    s.sql("INSERT INTO oc VALUES (1, 'a', 10), (2, 'b', 20)")
    // 1 conflicts on PK, 30 is new, (3,...) repeated in-batch keeps first
    val r = s.sql(
      "INSERT INTO oc VALUES (1, 'dup', 30), (3, 'c', 30), (3, 'x', 40) ON CONFLICT DO NOTHING")
    assert(r.collect()(0).getLong(1) == 1L) // only (3,'c',30) survives: (1,..) hits PK, (3,'x',40) repeats id 3
    val rows = s.sql("SELECT id, v, u FROM oc ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getInt(2))).toSeq
    assert(rows == Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)))
    // named target must match a unique constraint
    s.sql("INSERT INTO oc VALUES (4, 'd', 40) ON CONFLICT (id) DO NOTHING")
    assertThrows[IllegalArgumentException](
      s.sql("INSERT INTO oc VALUES (5, 'e', 50) ON CONFLICT (v) DO NOTHING"))
    // a named target arbiters ONLY that constraint: a row passing it but
    // violating a different unique key is a real error, like PG
    assertThrows[IllegalArgumentException](
      s.sql("INSERT INTO oc VALUES (6, 'f', 40) ON CONFLICT (id) DO NOTHING"))
  }

  test("ON CONFLICT DO NOTHING: only rows that actually insert arbitrate (PG order)") {
    val s = fresh()
    s.sql("CREATE TABLE oc2 (id INT PRIMARY KEY, v TEXT, u INT UNIQUE)")
    s.sql("INSERT INTO oc2 VALUES (1, 'a', 10)")
    // (1,'x',30) hits the existing PK and never inserts, so its u=30 must
    // NOT block (3,'y',30) — PG inserts the later row.
    s.sql("INSERT INTO oc2 VALUES (1, 'x', 30), (3, 'y', 30) ON CONFLICT DO NOTHING")
    val rows = s.sql("SELECT id, v, u FROM oc2 ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getInt(2))).toSeq
    assert(rows == Seq((1, "a", 10), (3, "y", 30)))
    // in-batch chain: r1(5,'p',50) inserts; r2(6,'q',50) skips on u=50;
    // r3(6,'r',60) inserts because r2 never took id=6.
    s.sql("INSERT INTO oc2 VALUES (5, 'p', 50), (6, 'q', 50), (6, 'r', 60) ON CONFLICT DO NOTHING")
    val rows2 = s.sql("SELECT id, v, u FROM oc2 WHERE id >= 5 ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getInt(2))).toSeq
    assert(rows2 == Seq((5, "p", 50), (6, "r", 60)))
    // NULL keys never conflict, on any constraint, existing or in-batch
    s.sql("INSERT INTO oc2 VALUES (7, 'n', NULL), (8, 'n', NULL) ON CONFLICT DO NOTHING")
    assert(s.sql("SELECT count(*) AS c FROM oc2 WHERE u IS NULL").collect()(0).getLong(0) == 2L)
  }

  test("ON CONFLICT chain deeper than 64 rounds resolves (no hard round cap)") {
    val s = fresh()
    s.sql("CREATE TABLE chain (a INT UNIQUE, b INT UNIQUE)")
    // alternating chain r1(1,1) r2(2,1) r3(2,2) r4(3,2) ...: each round of
    // the fixpoint accepts exactly one row and rejects its successor, so
    // 132 rows take 66 rounds — past the 64-round progress checkpoint
    // (a hard `rounds <= 64` cap would reject this legitimate batch).
    // PG order inserts exactly the odd rows (k,k).
    val n = 66
    val values = (1 to n).flatMap(k => Seq(s"($k, $k)", s"(${k + 1}, $k)"))
    s.sql(s"INSERT INTO chain VALUES ${values.mkString(", ")} ON CONFLICT DO NOTHING")
    val got = s.sql("SELECT a, b FROM chain ORDER BY a").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == (1 to n).map(k => (k, k)))
  }

  test("expression conflict target fails loudly, never leaks into the source parser") {
    val s = fresh()
    s.sql("CREATE TABLE oc3 (id INT PRIMARY KEY, email TEXT UNIQUE)")
    val e = intercept[IllegalArgumentException](
      s.sql("INSERT INTO oc3 VALUES (1, 'A@x.com') ON CONFLICT (lower(email)) DO NOTHING"))
    assert(e.getMessage.contains("expression conflict targets"),
      s"expected the explicit unsupported-clause error, got: ${e.getMessage}")
  }

  test("DML clause peeling is not fooled by identifiers named like keywords") {
    val s = fresh()
    s.sql("CREATE TABLE kw_src (conflict INT, \"returning\" TEXT)")
    s.sql("INSERT INTO kw_src VALUES (1, 'x'), (2, 'y')")
    s.sql("CREATE TABLE kw_dst (id INT PRIMARY KEY, t TEXT)")
    // an UNQUALIFIED join condition on a column literally named
    // `conflict` right after ON — this hits the \bON\s+CONFLICT\b
    // keyword regex and relies on the DO-lookahead to skip it
    s.sql("""INSERT INTO kw_dst
            |SELECT a.conflict, a."returning" FROM kw_src a
            |JOIN (SELECT conflict AS conflict2 FROM kw_src) b ON conflict = b.conflict2""".stripMargin)
    assert(s.sql("SELECT count(*) AS c FROM kw_dst").collect()(0).getLong(0) == 2L)
    // the quoted identifier "returning" in a projection is not the clause
    s.sql("""INSERT INTO kw_dst SELECT conflict + 10, "returning" FROM kw_src""")
    assert(s.sql("SELECT count(*) AS c FROM kw_dst").collect()(0).getLong(0) == 4L)
  }

  test("UPDATE ... FROM and DELETE ... USING join the source relation") {
    val s = fresh()
    s.sql("CREATE TABLE acc (id INT PRIMARY KEY, bal INT, seg TEXT)")
    s.sql("INSERT INTO acc VALUES (1, 10, 'x'), (2, 20, 'y'), (3, 30, 'y')")
    s.sql("CREATE TABLE adj (id INT PRIMARY KEY, delta INT)")
    s.sql("INSERT INTO adj VALUES (1, 5), (3, -10)")
    def bals() = s.sql("SELECT id, bal FROM acc ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    // join UPDATE: SET references the source, WHERE is the join condition
    val r1 = s.sql("UPDATE acc SET bal = bal + adj.delta FROM adj WHERE acc.id = adj.id")
    assert(r1.collect()(0).getLong(1) == 2L)
    assert(bals() == Seq((1, 15), (2, 20), (3, 20)))
    // target alias + derived-table source
    s.sql("""UPDATE acc a SET bal = a.bal + d.delta
            |FROM (SELECT id, delta * 2 AS delta FROM adj) d
            |WHERE a.id = d.id""".stripMargin)
    assert(bals() == Seq((1, 25), (2, 20), (3, 0)))
    // RETURNING yields the post-image of the joined rows
    val ret = s.sql("""UPDATE acc SET bal = adj.delta FROM adj
                      |WHERE acc.id = adj.id RETURNING id, bal""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(ret == Seq((1, 5), (3, -10)))
    // a target row matching two source rows fails loudly (deterministic
    // engine; PG would pick an arbitrary one)
    s.sql("CREATE TABLE dup (k INT PRIMARY KEY, tgt INT)")
    s.sql("INSERT INTO dup VALUES (1, 2), (2, 2)")
    assertThrows[IllegalArgumentException](
      s.sql("UPDATE acc SET bal = 0 FROM dup WHERE acc.id = dup.tgt"))
    // join DELETE: semi-join semantics
    val d1 = s.sql("DELETE FROM acc USING adj WHERE acc.id = adj.id")
    assert(d1.collect()(0).getLong(1) == 2L)
    assert(bals() == Seq((2, 20)))
    // plain UPDATE/DELETE still parse (no FROM/USING regression)
    s.sql("UPDATE acc SET bal = 1 WHERE id = 2")
    assert(bals() == Seq((2, 1)))
    s.sql("DELETE FROM acc WHERE id = 2")
    assert(bals().isEmpty)
  }

  test("ALTER TABLE RENAME TO and RENAME COLUMN carry data, constraints and views") {
    val s = fresh()
    s.sql("CREATE TABLE src_t (id SERIAL PRIMARY KEY, v INT UNIQUE)")
    s.sql("CREATE TABLE child (cid INT PRIMARY KEY, pid INT REFERENCES src_t(id))")
    s.sql("INSERT INTO src_t (v) VALUES (10), (20)")
    s.sql("CREATE VIEW v_over AS SELECT v FROM src_t")
    s.sql("ALTER TABLE src_t RENAME TO base_t")
    assert(s.sql("SELECT count(*) AS c FROM base_t").collect()(0).getLong(0) == 2L)
    // the serial sequence derivation follows: numbering continues
    s.sql("INSERT INTO base_t (v) VALUES (30)")
    assert(s.sql("SELECT max(id) AS m FROM base_t").collect()(0).getInt(0) == 3)
    // stored view SQL follows the rename
    assert(s.sql("SELECT count(*) AS c FROM v_over").collect()(0).getLong(0) == 3L)
    // FK metadata in the referencing table follows
    assertThrows[IllegalArgumentException](s.sql("INSERT INTO child VALUES (1, 99)"))
    s.sql("INSERT INTO child VALUES (1, 1)")
    // the old name is gone
    assertThrows[Exception](s.sql("SELECT count(*) AS c FROM src_t"))
    // a dependent view blocks the column rename (RESTRICT), then the
    // rename proceeds once the view is dropped
    val ve = intercept[IllegalArgumentException](
      s.sql("ALTER TABLE base_t RENAME COLUMN v TO val"))
    assert(ve.getMessage.contains("v_over"))
    s.sql("DROP VIEW v_over")
    // column rename: data rewritten under the new name, UNIQUE follows
    s.sql("ALTER TABLE base_t RENAME COLUMN v TO val")
    assert(s.sql("SELECT val FROM base_t ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(10, 20, 30))
    assertThrows[IllegalArgumentException](
      s.sql("INSERT INTO base_t (val) VALUES (10)"))
    // table rename refuses a transaction block (storage move)
    s.sql("BEGIN")
    assertThrows[IllegalStateException](s.sql("ALTER TABLE base_t RENAME TO zzz"))
    s.sql("ROLLBACK")
  }

  test("pg_dump privilege/ownership/comment statements restore as no-ops") {
    val s = fresh()
    // a representative pg_dump fragment around a real table
    s.sql("""CREATE TABLE dump_t (id INT PRIMARY KEY, v TEXT);
            |ALTER TABLE dump_t OWNER TO app_user;
            |COMMENT ON TABLE dump_t IS 'imported';
            |COMMENT ON COLUMN dump_t.v IS 'value; with semicolon in literal';
            |GRANT SELECT ON dump_t TO analyst;
            |REVOKE ALL ON dump_t FROM PUBLIC;
            |INSERT INTO dump_t VALUES (1, 'x')""".stripMargin)
    assert(s.sql("SELECT count(*) AS c FROM dump_t").collect()(0).getLong(0) == 1L)
    // OWNER TO still validates the table exists
    assertThrows[IllegalArgumentException](
      s.sql("ALTER TABLE missing_t OWNER TO app_user"))
  }

  test("ALTER COLUMN TYPE / DEFAULT / NOT NULL") {
    val s = fresh()
    s.sql("CREATE TABLE tt (id INT PRIMARY KEY, v TEXT, n INT)")
    s.sql("INSERT INTO tt VALUES (1, '10', NULL), (2, '20', 5)")
    // type conversion rewrites the snapshot under the new declared type
    s.sql("ALTER TABLE tt ALTER COLUMN v TYPE INT USING CAST(v AS INT)")
    assert(s.sql("SELECT sum(v) AS t FROM tt").collect()(0).getLong(0) == 30L)
    val d = s.sql("DESCRIBE tt").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("v") == "INT")
    // a conversion that would null out values fails loudly (PG errors;
    // Spark's silent cast-to-null must not leak through)
    s.sql("INSERT INTO tt VALUES (3, 7, 1)")
    s.sql("ALTER TABLE tt ALTER COLUMN v TYPE TEXT")
    s.sql("UPDATE tt SET v = 'oops' WHERE id = 3")
    val e = intercept[IllegalArgumentException](
      s.sql("ALTER TABLE tt ALTER COLUMN v TYPE INT"))
    assert(e.getMessage.contains("do not convert"))
    // SET DEFAULT applies to later inserts; DROP DEFAULT reverts to null
    s.sql("ALTER TABLE tt ALTER COLUMN n SET DEFAULT 42")
    s.sql("INSERT INTO tt (id, v) VALUES (4, 'x')")
    assert(s.sql("SELECT n FROM tt WHERE id = 4").collect()(0).getInt(0) == 42)
    s.sql("ALTER TABLE tt ALTER COLUMN n DROP DEFAULT")
    s.sql("INSERT INTO tt (id, v) VALUES (5, 'y')")
    assert(s.sql("SELECT n FROM tt WHERE id = 5").collect()(0).isNullAt(0))
    // SET NOT NULL requires the constraint to hold first
    assertThrows[IllegalArgumentException](
      s.sql("ALTER TABLE tt ALTER COLUMN n SET NOT NULL"))
    s.sql("UPDATE tt SET n = 0 WHERE n IS NULL")
    s.sql("ALTER TABLE tt ALTER COLUMN n SET NOT NULL")
    assertThrows[IllegalArgumentException](
      s.sql("INSERT INTO tt VALUES (6, 'z', NULL)"))
    s.sql("ALTER TABLE tt ALTER COLUMN n DROP NOT NULL")
    s.sql("INSERT INTO tt VALUES (6, 'z', NULL)")
    assert(s.sql("SELECT count(*) AS c FROM tt").collect()(0).getLong(0) == 6L)
    // the PK's implicit NOT NULL cannot be dropped
    assertThrows[IllegalArgumentException](
      s.sql("ALTER TABLE tt ALTER COLUMN id DROP NOT NULL"))
  }

  test("CREATE TABLE AS SELECT infers schema and loads the query result") {
    val s = fresh()
    s.sql("CREATE TABLE base (id INT PRIMARY KEY, grp TEXT, amt DOUBLE)")
    s.sql("INSERT INTO base VALUES (1,'a',1.5), (2,'a',2.5), (3,'b',4.0)")
    s.sql("""CREATE TABLE summary AS
            |SELECT grp, count(*) AS n, CAST(sum(amt) AS DOUBLE) AS total
            |FROM base GROUP BY grp""".stripMargin)
    val rows = s.sql("SELECT grp, n, total FROM summary ORDER BY grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", 2L, 4.0), ("b", 1L, 4.0)))
    // inferred declared types round-trip through DESCRIBE
    val d = s.sql("DESCRIBE summary").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("grp") == "TEXT" && d("n") == "BIGINT" && d("total") == "DOUBLE PRECISION")
    // the CTAS table is a normal table: DML works, further CTAS works
    s.sql("INSERT INTO summary VALUES ('c', 9, 9.9)")
    assert(s.sql("SELECT count(*) AS c FROM summary").collect()(0).getLong(0) == 3L)
    s.sql("CREATE TABLE IF NOT EXISTS summary AS SELECT 1 AS x") // no-op
    assert(s.sql("SELECT count(*) AS c FROM summary").collect()(0).getLong(0) == 3L)
    assertThrows[IllegalArgumentException](
      s.sql("CREATE TABLE summary AS SELECT 1 AS x"))
    // WITH-headed source and rowid invisibility
    s.sql("CREATE TABLE viaw AS WITH t AS (SELECT 7 AS v) SELECT v FROM t")
    val star = s.sql("SELECT * FROM viaw").collect()
    assert(star.length == 1 && star(0).schema.fieldNames.toSeq == Seq("v"))
  }

  test("double-quoted identifiers in query position are identifiers, not literals") {
    val s = fresh()
    s.sql("CREATE TABLE kw_src2 (conflict INT, \"returning\" TEXT)")
    s.sql("INSERT INTO kw_src2 VALUES (1, 'x'), (2, 'y')")
    // Spark's default mode parses "returning" as a STRING LITERAL — the
    // rewrite must return the column's values, not the constant string
    val bare = s.sql("""SELECT "returning" FROM kw_src2 ORDER BY conflict""")
      .collect().map(_.getString(0)).toSeq
    assert(bare == Seq("x", "y"))
    // qualified form was a PARSE_SYNTAX_ERROR before the rewrite
    val qual = s.sql("""SELECT a."returning" FROM kw_src2 a ORDER BY a.conflict""")
      .collect().map(_.getString(0)).toSeq
    assert(qual == Seq("x", "y"))
    // a double quote inside a single-quoted literal is content
    val lit = s.sql("""SELECT 'he said "hi"' AS t FROM kw_src2 WHERE conflict = 1""")
      .collect()(0).getString(0)
    assert(lit == "he said \"hi\"")
    // PG's "" escape folds to one quote char inside the backticked
    // identifier; a backtick in the body is doubled (Spark's escape)
    assert(graft.sqlfront.PgRewrite.rewrite("SELECT \"a\"\"b\" FROM t") ==
      "SELECT `a\"b` FROM t")
    assert(graft.sqlfront.PgRewrite.rewrite("SELECT \"a`b\" FROM t") ==
      "SELECT `a``b` FROM t")
    // a literal containing a quote passes through the rewrite untouched
    assert(graft.sqlfront.PgRewrite.rewrite("SELECT 'a \"x\" b' FROM t") ==
      "SELECT 'a \"x\" b' FROM t")
  }

  test("INSERT ON CONFLICT DO UPDATE merges with EXCLUDED and conditional WHERE") {
    val s = fresh()
    s.sql("CREATE TABLE inv (sku TEXT PRIMARY KEY, qty INT, price DOUBLE)")
    s.sql("INSERT INTO inv VALUES ('a', 5, 1.0), ('b', 3, 2.0)")
    // classic accumulate-upsert: existing rows add qty, new rows insert
    s.sql("""INSERT INTO inv VALUES ('a', 7, 1.5), ('c', 9, 3.0)
            |ON CONFLICT (sku) DO UPDATE SET qty = inv.qty + EXCLUDED.qty, price = EXCLUDED.price""".stripMargin
      .replace("inv.qty", "qty")) // bare column = existing row (PG allows either)
    val rows = s.sql("SELECT sku, qty, price FROM inv ORDER BY sku").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getDouble(2))).toSeq
    assert(rows == Seq(("a", 12, 1.5), ("b", 3, 2.0), ("c", 9, 3.0)))
    // conditional update: WHERE false leaves the row untouched
    s.sql("""INSERT INTO inv VALUES ('a', 100, 9.9), ('b', 1, 0.5)
            |ON CONFLICT (sku) DO UPDATE SET qty = EXCLUDED.qty, price = EXCLUDED.price
            |WHERE EXCLUDED.qty < 50""".stripMargin)
    val rows2 = s.sql("SELECT sku, qty, price FROM inv ORDER BY sku").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getDouble(2))).toSeq
    assert(rows2 == Seq(("a", 12, 1.5), ("b", 1, 0.5), ("c", 9, 3.0)))
    // same key twice in one batch cannot update a row twice (PG error)
    assertThrows[IllegalArgumentException](
      s.sql("""INSERT INTO inv VALUES ('a', 1, 1.0), ('a', 2, 2.0)
              |ON CONFLICT (sku) DO UPDATE SET qty = EXCLUDED.qty""".stripMargin))
    // DO UPDATE requires a target
    assertThrows[IllegalArgumentException](
      s.sql("INSERT INTO inv VALUES ('z', 1, 1.0) ON CONFLICT DO UPDATE SET qty = 0"))
  }

  test("RETURNING on INSERT, upsert, UPDATE and DELETE") {
    val s = fresh()
    s.sql("CREATE TABLE rt (id SERIAL, name TEXT, score INT)")
    // INSERT RETURNING exposes generated serials
    val ins = s.sql("INSERT INTO rt (name, score) VALUES ('ann', 10), ('bob', 20) RETURNING id, name")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(ins == Seq((1, "ann"), (2, "bob")))
    // expressions + aliases in the projection
    val up = s.sql("UPDATE rt SET score = score * 2 WHERE name = 'ann' RETURNING name, score AS doubled")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(up == Seq(("ann", 20)))
    // DELETE RETURNING yields the deleted rows' old values
    val del = s.sql("DELETE FROM rt WHERE name = 'bob' RETURNING *").collect()
    assert(del.length == 1 && del(0).getString(1) == "bob" && del(0).getInt(2) == 20)
    assert(s.sql("SELECT count(*) AS c FROM rt").collect()(0).getLong(0) == 1L)
    // upsert RETURNING: post-image of updated + inserted rows
    s.sql("CREATE TABLE ru (k INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO ru VALUES (1, 10)")
    val ups = s.sql(
      "INSERT INTO ru VALUES (1, 99), (2, 20) ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v RETURNING k, v")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(ups == Seq((1, 99), (2, 20)))
  }

  test("UPDATE rejects constraint-violating result") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    assertThrows[IllegalArgumentException](s.sql("UPDATE t SET id = 1 WHERE id = 2"))
    // table unchanged after failed update
    assert(s.sql("SELECT id FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("MERGE: matched UPDATE + not-matched INSERT sync (PG 15)") {
    val s = fresh()
    s.sql("CREATE TABLE tgt (id INT PRIMARY KEY, v TEXT, n INT)")
    s.sql("CREATE TABLE src (id INT PRIMARY KEY, v TEXT, n INT)")
    s.sql("INSERT INTO tgt VALUES (1, 'old', 10), (2, 'keep', 20)")
    s.sql("INSERT INTO src VALUES (1, 'new', 11), (3, 'ins', 30)")
    val r = s.sql(
      """MERGE INTO tgt t USING src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n + t.n
        |WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, s.n)""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "MERGE" && r.getLong(1) == 2L)
    val rows = s.sql("SELECT id, v, n FROM tgt ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getInt(2))).toSeq
    assert(rows == Seq((1, "new", 21), (2, "keep", 20), (3, "ins", 30)))
  }

  test("MERGE: clause order decides — AND conditions, DELETE, DO NOTHING") {
    val s = fresh()
    s.sql("CREATE TABLE acct (id INT PRIMARY KEY, bal INT)")
    s.sql("CREATE TABLE adj (id INT PRIMARY KEY, delta INT)")
    s.sql("INSERT INTO acct VALUES (1, 100), (2, 5), (3, 50)")
    s.sql("INSERT INTO adj VALUES (1, -100), (2, 3), (3, 25), (4, 7)")
    // first satisfied clause wins: a zeroing adjustment deletes, a small
    // balance is left alone, everything else updates; new ids insert
    s.sql("""MERGE INTO acct a USING adj d ON a.id = d.id
        |WHEN MATCHED AND a.bal + d.delta <= 0 THEN DELETE
        |WHEN MATCHED AND a.bal < 10 THEN DO NOTHING
        |WHEN MATCHED THEN UPDATE SET bal = a.bal + d.delta
        |WHEN NOT MATCHED THEN INSERT VALUES (d.id, d.delta)""".stripMargin)
    val rows = s.sql("SELECT id, bal FROM acct ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(rows == Seq((2, 5), (3, 75), (4, 7)))
  }

  test("MERGE: subquery source, affect-twice rejection, atomicity") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO t VALUES (1, 10)")
    s.sql("CREATE TABLE raw (id INT, v INT)")
    s.sql("INSERT INTO raw VALUES (1, 1), (1, 2), (2, 20)")
    // two raw rows hit target id=1 -> PG's cannot-affect-twice error,
    // and the failed statement publishes nothing
    assertThrows[IllegalArgumentException](s.sql(
      """MERGE INTO t USING raw r ON t.id = r.id
        |WHEN MATCHED THEN UPDATE SET v = r.v""".stripMargin))
    assert(s.sql("SELECT v FROM t").collect()(0).getInt(0) == 10)
    // the failed statement must not leak its working temp view — a later
    // user table of the same name would otherwise be shadowed for the
    // session's lifetime
    assert(!s.spark.catalog.tableExists("__graft_merge_target"))
    // deduplicated subquery source works
    s.sql("""MERGE INTO t USING
        |  (SELECT id, max(v) AS v FROM raw GROUP BY id) r ON t.id = r.id
        |WHEN MATCHED THEN UPDATE SET v = r.v
        |WHEN NOT MATCHED THEN INSERT VALUES (r.id, r.v)""".stripMargin)
    val rows = s.sql("SELECT id, v FROM t ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(rows == Seq((1, 2), (2, 20)))
  }

  test("MERGE: NOT MATCHED BY SOURCE prunes rows absent from source (PG 17)") {
    val s = fresh()
    s.sql("CREATE TABLE dim (id INT PRIMARY KEY, v TEXT, stale BOOLEAN)")
    s.sql("CREATE TABLE feed (id INT PRIMARY KEY, v TEXT)")
    s.sql("INSERT INTO dim VALUES (1, 'a', false), (2, 'b', false), (9, 'gone', false)")
    s.sql("INSERT INTO feed VALUES (1, 'a2'), (3, 'c')")
    s.sql("""MERGE INTO dim d USING feed f ON d.id = f.id
        |WHEN MATCHED THEN UPDATE SET v = f.v
        |WHEN NOT MATCHED THEN INSERT VALUES (f.id, f.v, false)
        |WHEN NOT MATCHED BY SOURCE AND d.id > 5 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET stale = true""".stripMargin)
    val rows = s.sql("SELECT id, v, stale FROM dim ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getBoolean(2))).toSeq
    assert(rows == Seq((1, "a2", false), (2, "b", true), (3, "c", false)))
  }

  test("MERGE: RETURNING and serial/default fill on the insert arm") {
    val s = fresh()
    s.sql("CREATE TABLE logt (id SERIAL PRIMARY KEY, k INT UNIQUE, v TEXT DEFAULT 'dflt', hits INT DEFAULT 0)")
    s.sql("INSERT INTO logt (k, v) VALUES (10, 'x')")
    val ret = s.sql(
      """MERGE INTO logt t USING (SELECT 10 AS k UNION ALL SELECT 20) s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET hits = t.hits + 1
        |WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)
        |RETURNING k, v, hits""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    // updated row post-image + inserted row with column defaults applied
    assert(ret == Seq((10, "x", 1), (20, "dflt", 0)))
    // the serial id advanced past the seeded row for the merged insert
    val ids = s.sql("SELECT id FROM logt ORDER BY k").collect().map(_.getInt(0)).toSeq
    assert(ids.head == 1 && ids(1) > 1)
  }

  test("MERGE: documented serial-first divergence — short VALUES skips serials") {
    // KNOWN DIVERGENCE pin (GraftSession merge/insert VALUES mapping): a
    // short VALUES list with NO column list maps to the first N NON-SERIAL
    // columns so the serial auto-fills; PG maps positionally INCLUDING the
    // serial (and would put 7 into id here). The documented escape hatch —
    // an explicit column list — must behave identically to PG.
    val s = fresh()
    s.sql("CREATE TABLE sf_t (id SERIAL PRIMARY KEY, k INT UNIQUE, v TEXT)")
    s.sql("""MERGE INTO sf_t t USING (SELECT 7 AS k, 'a' AS v) s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)""".stripMargin)
    val r1 = s.sql("SELECT id, k, v FROM sf_t").collect()(0)
    assert(r1.getInt(0) == 1 && r1.getInt(1) == 7 && r1.getString(2) == "a")
    // explicit column list = PG-positional, serials named explicitly
    s.sql("""MERGE INTO sf_t t USING (SELECT 8 AS k, 'b' AS v) s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (id, k, v) VALUES (99, s.k, s.v)""".stripMargin)
    val r2 = s.sql("SELECT id, k, v FROM sf_t WHERE k = 8").collect()(0)
    assert(r2.getInt(0) == 99 && r2.getString(2) == "b")
  }

  test("MERGE: failed statement releases its checkpointed working sets") {
    // a validation abort (affect-twice) must leave behind no persistent
    // RDD blocks: localCheckpoint pins blocks until GC, so the error path
    // drops them deterministically (success keeps its blocks — RETURNING
    // results read them after the statement completes)
    val s = fresh()
    s.sql("CREATE TABLE lk_t (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO lk_t VALUES (1, 10)")
    s.sql("CREATE TABLE lk_raw (id INT, v INT)")
    s.sql("INSERT INTO lk_raw VALUES (1, 1), (1, 2)")
    val before = s.spark.sparkContext.getPersistentRDDs.keySet
    assertThrows[IllegalArgumentException](s.sql(
      """MERGE INTO lk_t USING lk_raw r ON lk_t.id = r.id
        |WHEN MATCHED THEN UPDATE SET v = r.v""".stripMargin))
    val leaked = s.spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed MERGE left persistent RDDs: $leaked")
  }

  test("TABLESAMPLE BERNOULLI REPEATABLE: deterministic per seed, ballpark fraction") {
    val s = fresh()
    s.sql("CREATE TABLE ts_t (id INT PRIMARY KEY)")
    s.sql("INSERT INTO ts_t VALUES " +
      (1 to 400).map(i => s"($i)").mkString(", "))
    def sample(seed: Int): Seq[Int] =
      s.sql(s"SELECT id FROM ts_t TABLESAMPLE BERNOULLI(25) REPEATABLE($seed) ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
    val a = sample(42)
    // PG's REPEATABLE contract: same seed + same data → same rows
    assert(a == sample(42))
    // ballpark: 25% of 400 with generous slack (Bernoulli variance)
    assert(a.size > 40 && a.size < 200)
    // SYSTEM maps to the same row sampler; bare (no REPEATABLE) parses
    val b = s.sql("SELECT id FROM ts_t TABLESAMPLE SYSTEM(50)").collect()
    assert(b.length > 100 && b.length < 300)
  }

  test("multi-database: CREATE/DROP DATABASE, \\c switch, per-db resolution") {
    val s = fresh()
    // default database is graft; pg_database + \l agree
    assert(s.currentDatabase == "graft")
    assert(s.sql("SELECT datname FROM pg_database ORDER BY datname")
      .collect().map(_.getString(0)).toSeq == Seq("graft"))
    s.sql("CREATE TABLE home_t (id INT PRIMARY KEY)")
    s.sql("INSERT INTO home_t VALUES (1)")

    s.sql("CREATE DATABASE analytics")
    intercept[Exception](s.sql("CREATE DATABASE analytics")) // already exists
    assert(s.sql("\\l").collect().map(_.getString(0)).toSeq
      == Seq("graft", "analytics"))
    assert(s.sql("SELECT datname FROM pg_database ORDER BY datname")
      .collect().map(_.getString(0)).toSeq == Seq("analytics", "graft"))

    // switch: old database's tables stop resolving, new ones are separate
    val msg = s.sql("\\c analytics").collect()(0).getString(0)
    assert(msg.contains("\"analytics\""), msg)
    assert(s.currentDatabase == "analytics")
    intercept[Exception](s.sql("SELECT * FROM home_t"))
    s.sql("CREATE TABLE away_t (id INT PRIMARY KEY, lbl TEXT)")
    s.sql("INSERT INTO away_t VALUES (7, 'x')")
    assert(s.sql("SELECT id FROM away_t").collect()(0).getInt(0) == 7)
    // same-name table in a different database is a DIFFERENT table
    s.sql("CREATE TABLE home_t (other TEXT)")
    assert(s.sql("SELECT * FROM home_t").columns.toSeq == Seq("other"))
    assert(s.sql("SELECT current_database() AS db").collect()(0)
      .getString(0) == "analytics")

    // switch back: original table + data intact, away_t gone from scope
    s.sql("\\c graft")
    assert(s.sql("SELECT id FROM home_t").collect()(0).getInt(0) == 1)
    intercept[Exception](s.sql("SELECT * FROM away_t"))
    assert(s.sql("\\conninfo").collect()(0).getString(0).contains("\"graft\""))

    // a SECOND session on the same warehouse sees the created database
    // and its catalog (persistence through the _db_ directory layout)
    val s2 = new GraftSession(spark, s.catalog.root)
    s2.sql("\\c analytics")
    assert(s2.sql("SELECT id, lbl FROM away_t").collect()(0).getInt(0) == 7)

    // drop rules: not the open db, not graft, IF EXISTS tolerated
    s2.sql("\\c graft")
    intercept[Exception](s.sql("DROP DATABASE graft"))
    s.sql("\\c analytics")
    intercept[Exception](s.sql("DROP DATABASE analytics")) // currently open
    s.sql("\\c graft")
    assert(s.sql("DROP DATABASE analytics").columns.nonEmpty)
    assert(s.sql("\\l").collect().map(_.getString(0)).toSeq == Seq("graft"))
    intercept[Exception](s.sql("DROP DATABASE analytics"))
    s.sql("DROP DATABASE IF EXISTS analytics") // no-op, no error
    intercept[Exception](s.sql("\\c analytics")) // gone

    // transactional guard: database DDL refuses inside BEGIN
    s.sql("BEGIN")
    intercept[Exception](s.sql("CREATE DATABASE nope"))
    s.sql("ROLLBACK")
  }

  test("per-connection contexts: cross-database transaction guard + in-use DROP refusal") {
    val s = fresh()
    s.sql("CREATE DATABASE sideb")
    s.sql("CREATE TABLE mt (id INT PRIMARY KEY)")
    // connection context bound to the OTHER database, on this thread
    val ctxB = s.openConnectionContext(Some("sideb"))
    try {
      s.bindContext(ctxB)
      s.sql("CREATE TABLE bt (id INT PRIMARY KEY)")
      s.sql("INSERT INTO bt VALUES (1)")
      assert(s.currentDatabase == "sideb")
      s.unbindContext()
      assert(s.currentDatabase == "graft") // default context untouched

      // a DB another live context sits in cannot be dropped under it
      val e0 = intercept[Exception](s.sql("DROP DATABASE sideb"))
      assert(e0.getMessage.contains("being accessed"), e0.getMessage)

      // open a transaction on the DEFAULT context (db graft) …
      s.sql("BEGIN")
      s.sql("INSERT INTO mt VALUES (1)")
      // … then writes from the sideb-bound context refuse loudly: their
      // files would append outside the armed journal's database
      s.bindContext(ctxB)
      assert(!s.ownsTransaction, "non-owner context must not report the txn")
      val e1 = intercept[Exception](s.sql("INSERT INTO bt VALUES (2)"))
      assert(e1.getMessage.contains("transaction is open on database"),
        e1.getMessage)
      val e2 = intercept[Exception](s.sql("COMMIT")) // txn control too
      assert(e2.getMessage.contains("transaction is open on database"),
        e2.getMessage)
      // database-level DDL is EXEMPT from the single-writer guard (its
      // directories live outside the armed journal's database): another
      // connection's open transaction must not block CREATE/DROP DATABASE
      s.sql("CREATE DATABASE guardfree")
      s.sql("DROP DATABASE guardfree")
      // reads stay free (COW-isolated)
      assert(s.sql("SELECT id FROM bt").collect().map(_.getInt(0)).toSeq == Seq(1))
      s.unbindContext()
      assert(s.ownsTransaction, "owner context reports its own txn")
      // the owner commits; the other context can write again
      s.sql("COMMIT")
      s.bindContext(ctxB)
      s.sql("INSERT INTO bt VALUES (2)")
      assert(s.sql("SELECT count(*) AS c FROM bt").collect()(0).getLong(0) == 2L)

      // SAME-database non-owner: a second context in the txn's OWN
      // database must not enroll writes in the foreign journal (the
      // owner's ROLLBACK would revert its "autocommitted" rows) nor
      // close a transaction it never opened
      val ctxB2 = s.openConnectionContext(Some("graft"))
      s.unbindContext()
      s.sql("BEGIN")
      s.sql("INSERT INTO mt VALUES (2)")
      s.bindContext(ctxB2)
      val e3 = intercept[Exception](s.sql("INSERT INTO mt VALUES (99)"))
      assert(e3.getMessage.contains("by another connection"), e3.getMessage)
      val e4 = intercept[Exception](s.sql("ROLLBACK"))
      assert(e4.getMessage.contains("by another connection"), e4.getMessage)
      val e5 = intercept[Exception](s.sql("BEGIN")) // can't start a second
      assert(e5.getMessage.contains("by another connection"), e5.getMessage)
      s.unbindContext()
      s.sql("ROLLBACK") // the owner rolls back ONLY its own write
      s.closeConnectionContext(ctxB2)
      assert(s.sql("SELECT count(*) AS c FROM mt").collect()(0).getLong(0) == 1L)
    } finally {
      s.unbindContext()
      s.closeConnectionContext(ctxB)
    }
    // context closed: the drop is now allowed
    s.sql("DROP DATABASE sideb")
  }

  test("ANALYZE stats are database-scoped: no cross-db inheritance by name") {
    val s = fresh()
    s.sql("CREATE TABLE t (id INT PRIMARY KEY)")
    s.sql("INSERT INTO t VALUES (1), (2), (3)")
    s.sql("ANALYZE t")
    assert(s.tableStats("t").exists(_._2 == 3L))
    s.sql("CREATE DATABASE other")
    s.sql("\\c other")
    s.sql("CREATE TABLE t (id INT PRIMARY KEY)") // same NAME, different table
    // the other database's same-named table must NOT inherit graft's
    // stats (a wrong broadcast hint at scale is an OOM, not a slowdown)
    assert(s.tableStats("t").isEmpty, "stats leaked across databases")
    s.sql("INSERT INTO t VALUES (1)")
    s.sql("ANALYZE t")
    assert(s.tableStats("t").exists(_._2 == 1L))
    // pg_stats shows only the current database's rows
    val names = s.sql("SELECT tablename, reltuples FROM pg_stats").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(names == Set(("t", 1L)), names.toString)
    s.sql("\\c graft")
    assert(s.tableStats("t").exists(_._2 == 3L), "original stats must survive")
  }

  test("crash mid-transaction in a SECONDARY database recovers independently") {
    val wh = Files.createTempDirectory("graft_wh")
    val s1 = new GraftSession(spark, wh)
    s1.sql("CREATE TABLE g_t (id INT PRIMARY KEY)")
    s1.sql("INSERT INTO g_t VALUES (1)")
    s1.sql("CREATE DATABASE side")
    s1.sql("\\c side")
    s1.sql("CREATE TABLE s_t (id INT PRIMARY KEY, v DOUBLE)")
    s1.sql("INSERT INTO s_t VALUES (1, 10.0)")
    s1.sql("BEGIN")
    s1.sql("INSERT INTO s_t VALUES (2, 20.0)")
    s1.sql("UPDATE s_t SET v = 0.0 WHERE id = 1")
    // "crash" with the txn open IN the secondary database: its journals
    // live under _db_side/, the default database's root stays unarmed
    assert(Files.exists(wh.resolve("_db_side").resolve("_txn_catalog.json")))
    assert(!Files.exists(wh.resolve("_txn_catalog.json")),
      "the default database must not be armed by a secondary-db txn")
    val s2 = new GraftSession(spark, wh)
    // default db is untouched and journal-free
    assert(s2.sql("SELECT count(*) AS c FROM g_t").collect()(0).getLong(0) == 1L)
    // first connect to the secondary database runs ITS recovery
    s2.sql("\\c side")
    val rows = s2.sql("SELECT id, v FROM s_t ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1, 10.0)), s"expected pre-BEGIN state, got $rows")
    assert(!Files.exists(wh.resolve("_db_side").resolve("_txn_catalog.json")),
      "recovery must consume the secondary database's journal")
    // normal work resumes in the recovered database
    s2.sql("INSERT INTO s_t VALUES (3, 30.0)")
    assert(s2.sql("SELECT count(*) AS c FROM s_t").collect()(0).getLong(0) == 2L)
  }

  test("background jobs: scheduled ANALYZE and VACUUM run, fail soft, stop promptly") {
    import graft.sqlfront.BackgroundJobs
    val s = fresh()
    s.sql("CREATE TABLE bg_t (id INT PRIMARY KEY, v DOUBLE)")
    s.sql("INSERT INTO bg_t VALUES (1, 1.0), (2, 2.0)")
    // scheduled ANALYZE produces real stats without any client ANALYZE
    val ha = BackgroundJobs.scheduleAnalyze(s, intervalMs = 50)
    val deadline = System.nanoTime() + 30e9.toLong
    while (ha.runs < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    ha.stop()
    assert(ha.runs >= 2, s"analyze job must run repeatedly (${ha.runs})")
    assert(s.tableStats("bg_t").exists(_._2 == 2L), "scheduled ANALYZE must collect stats")
    // version churn + scheduled VACUUM prunes superseded snapshot dirs
    (1 to 3).foreach(i => s.sql(s"UPDATE bg_t SET v = $i.5 WHERE id = 1"))
    val hv = BackgroundJobs.scheduleVacuum(s, intervalMs = 50)
    while (hv.runs < 1 && System.nanoTime() < deadline) Thread.sleep(20)
    hv.stop()
    assert(hv.runs >= 1)
    val t = s.catalog.getTable("bg_t").get
    assert(t.version == 3L)
    // a pruned old version must now refuse time travel (the _minver gate)
    assertThrows[Exception](s.tableVersion("bg_t", 0L))
    // fail-soft: a job landing inside an open transaction records a
    // failure and the scheduler survives to retry
    s.sql("BEGIN")
    val hv2 = BackgroundJobs.scheduleVacuum(s, intervalMs = 50)
    while (hv2.failures < 1 && System.nanoTime() < deadline) Thread.sleep(20)
    s.sql("ROLLBACK")
    hv2.stop()
    assert(hv2.failures >= 1, "in-txn VACUUM must fail soft, not kill the scheduler")
  }

  test("consistency sweeper: clean audit passes, injected corruption is flagged") {
    import org.apache.spark.sql.functions._
    val s = fresh()
    s.sql("CREATE TYPE mood AS ENUM ('ok', 'bad')")
    s.sql("CREATE TABLE parents (pid INT PRIMARY KEY)")
    s.sql("CREATE TABLE kids (kid INT PRIMARY KEY, pid INT REFERENCES parents(pid), " +
      "name TEXT NOT NULL, m mood, UNIQUE (name))")
    s.sql("INSERT INTO parents VALUES (1), (2)")
    s.sql("INSERT INTO kids VALUES (10, 1, 'a', 'ok'), (11, 2, 'b', 'bad')")
    // clean state: every check passes, checks cover all constraint kinds
    val clean = ConsistencySweeper.audit(s).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3), r.getBoolean(4)))
    assert(clean.forall(_._4), clean.filterNot(_._4).mkString(", "))
    val kidChecks = clean.filter(_._1 == "kids").map(_._2).toSet
    assert(kidChecks.contains("not_null:name") && kidChecks.contains("enum:m")
      && kidChecks.contains("unique:kid") && kidChecks.contains("unique:name")
      && kidChecks.contains("fk:pid->parents.pid"), kidChecks.toString)

    // corrupt BEHIND the write path (the reference job's rationale: bugs,
    // raw imports, failed multi-step ops): append a part-file with a dup
    // pk, a dup unique name, an orphan fk, a NULL not-null, a bad enum
    val t = s.catalog.getTable("kids").get
    val dir = s.catalog.tableDir(t).toString
    val bad = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(10, 99, null, "furious"),
        org.apache.spark.sql.Row(12, 1, "b", "ok")),
      new org.apache.spark.sql.types.StructType()
        .add("kid", "int").add("pid", "int").add("name", "string").add("m", "string"))
    bad.coalesce(1).write.mode("append").parquet(dir)
    val audited = ConsistencySweeper.audit(s).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    def v(chk: String): Long = audited.find(r => r._1 == "kids" && r._2 == chk).get._4
    assert(audited.filter(_._1 == "kids").forall(_._3 == 4)) // rows audited
    assert(v("not_null:name") == 1, audited.mkString(", "))
    assert(v("enum:m") == 1)
    assert(v("unique:kid") == 1) // pk 10 duplicated
    assert(v("unique:name") == 1) // 'b' duplicated
    assert(v("fk:pid->parents.pid") == 1) // 99 has no parent
    // parents stayed clean
    assert(audited.find(r => r._1 == "parents" && r._2 == "unique:pid").get._4 == 0)

    // background mode: runs on the interval, surfaces violations, stops
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val h = ConsistencySweeper.continuous(s, intervalMs = 50,
      onViolation = r => seen.add(r.getString(0) + "/" + r.getString(1)))
    val deadline = System.nanoTime() + 30e9.toLong
    while (h.runs < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    h.stop()
    assert(h.runs >= 2, "sweeper must complete repeated runs")
    assert(h.lastReport.nonEmpty)
    assert(seen.contains("kids/unique:kid") && seen.contains("kids/fk:pid->parents.pid"),
      seen.toString)
  }

  test("rate-limited sweep spreads audits; foreground statements stay responsive") {
    import graft.sqlfront.RateLimiter
    val s = fresh()
    (1 to 6).foreach { i =>
      s.sql(s"CREATE TABLE rl_t$i (id INT PRIMARY KEY, v TEXT)")
      s.sql(s"INSERT INTO rl_t$i VALUES (1, 'a'), (2, 'b')")
    }
    // one-shot audit under a tight bucket (burst 1, 4 tables/s): six
    // tables must consume six tokens, actually WAIT on the bucket, and
    // take at least the refill floor — the sweep is spread, not a burst
    val lim = new RateLimiter(ratePerSec = 4.0, burst = 1.0)
    val t0 = System.nanoTime()
    val report = ConsistencySweeper.audit(s, Some(lim)).collect()
    val sweepSec = (System.nanoTime() - t0) / 1e9
    assert(report.nonEmpty && report.forall(_.getBoolean(4)),
      report.filterNot(_.getBoolean(4)).mkString(", "))
    assert(lim.grants >= 6, s"one token per table: ${lim.grants}")
    // hedged like the scheduled-jobs assert below: on a slow/cold host
    // each per-table audit (a Spark job) can exceed the 250 ms refill,
    // so every tryAcquire succeeds instantly and waits stays 0 — the
    // sweepSec floor then carries the pacing evidence on its own
    assert(lim.waits >= 1 || sweepSec >= 6 / 4.0,
      f"the throttle never paced anything (waits=${lim.waits}, $sweepSec%.2f s)")
    assert(sweepSec >= (6 - 1) / 4.0 * 0.8,
      f"six tables at 4/s must take ≥1 s of pacing, took $sweepSec%.2f s")

    // continuous mode at 2 tables/s: a full catalog pass carries ≥2.5 s
    // of pacing, yet a foreground writer arriving mid-sweep (through the
    // SAME statement gate wire clients use) must wait at most one
    // table's audit — the per-table lock scope, not a sweep-wide hold.
    // The bound is BASELINE-RELATIVE (same statement timed with no sweep
    // running) so a slow/contended host inflates both sides instead of
    // flaking a fixed wall-clock constant.
    def gatedInsert(i: Int): Double = {
      val a = System.nanoTime()
      val stmt = s"INSERT INTO rl_t1 VALUES ($i, 'x')"
      s.withStatementLock(stmt)(s.sql(stmt))
      (System.nanoTime() - a) / 1e9
    }
    val baseline = (10 to 12).map(gatedInsert).min // warm, uncontended
    val h = ConsistencySweeper.continuous(s, intervalMs = 10,
      limiter = Some(new RateLimiter(ratePerSec = 2.0, burst = 1.0)))
    try {
      Thread.sleep(300) // sweep mid-flight
      val lat = (13 to 16).map(gatedInsert)
      // a sweep-WIDE lock adds the sweep's ≥2.5 s of PACING on top of
      // the statement's own cost, so `baseline + 2.0` discriminates at
      // ANY host speed (the stalled case is always ≥ baseline + 2.5): a
      // multiplicative bound could exceed the stall on a slow host and
      // wave the regression through. Assert on the MIN of the samples:
      // the pathological lock delays EVERY insert (each queues behind a
      // full paced sweep), while a busy-host load spike hits one sample
      // — lat.max flaked red under a concurrent external workload (r17)
      // with the per-table scope provably intact.
      assert(lat.min < baseline + 2.0,
        f"every foreground INSERT stalled >= ${lat.min}%.2f s behind the " +
          f"sweep (baseline $baseline%.2f s; a sweep-wide lock adds ≥2.5 s " +
          "of pacing to each)")
    } finally h.stop()

    // scheduled jobs honor the bucket too: ~2 s at 1 run/s admits ≤4
    // runs (first token free + refills + slack) where the bare 10 ms
    // interval would have fired ~100 times
    import graft.sqlfront.BackgroundJobs
    val jlim = new RateLimiter(ratePerSec = 1.0, burst = 1.0)
    val ha = BackgroundJobs.scheduleAnalyze(s, intervalMs = 10, limiter = Some(jlim))
    Thread.sleep(2200)
    ha.stop()
    assert(ha.runs >= 1, "paced scheduler still runs")
    assert(ha.runs <= 4, s"bucket must cap the run rate, saw ${ha.runs}")
    // a sub-second ANALYZE must have hit an empty bucket at least once;
    // a slower-than-refill ANALYZE honors the cap without waiting
    assert(jlim.waits >= 1 || ha.runs <= 2,
      s"unthrottled cadence: runs=${ha.runs}, waits=${jlim.waits}")
  }
}
