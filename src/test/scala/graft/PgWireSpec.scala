package graft

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.file.Files

import graft.sqlfront.{GraftSession, PgWire}

/** The PostgreSQL wire-protocol entry point, exercised by a raw-socket
  * v3 client (no pg client library exists in this container — the spec
  * IS the client): startup handshake, simple Query with result sets and
  * command tags, mid-script abort on error, the extended protocol
  * (Parse/Bind/Describe/Execute/Sync) with typed parameters, SSLRequest
  * refusal, and Terminate. */
class PgWireSpec extends SparkSpec {

  /** Minimal protocol client. */
  private final class WireClient(port: Int) {
    val sock = new Socket("127.0.0.1", port)
    // a protocol regression that withholds an expected message must FAIL
    // the test (SocketTimeoutException), never wedge the suite on a
    // blocking read — readUntilReady/takeWhile loops have no terminator
    // of their own
    sock.setSoTimeout(60000)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

    def sslRequest(): Char = {
      out.writeInt(8); out.writeInt(80877103); out.flush()
      in.readByte().toChar
    }

    def startup(): Seq[(Char, Array[Byte])] = {
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      d.writeInt(196608)
      def c(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c("user"); c("graft"); c("database"); c("graft"); d.writeByte(0)
      out.writeInt(body.size + 4); body.writeTo(out); out.flush()
      readUntilReady()
    }

    def send(tpe: Char, body: Array[Byte]): Unit = {
      out.writeByte(tpe.toByte); out.writeInt(body.length + 4)
      out.write(body); out.flush()
    }

    def readMsg(): (Char, Array[Byte]) = {
      val t = in.readByte().toChar
      val len = in.readInt()
      val b = new Array[Byte](len - 4); in.readFully(b); (t, b)
    }

    def readUntilReady(): Seq[(Char, Array[Byte])] = {
      val buf = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val m = readMsg(); buf += m
        if (m._1 == 'Z') done = true
      }
      buf.result()
    }

    def query(sql: String): Seq[(Char, Array[Byte])] = {
      send('Q', sql.getBytes("UTF-8") :+ 0.toByte)
      readUntilReady()
    }

    def terminate(): Unit = { send('X', Array.empty); sock.close() }

    def cstrBody(tpe: Char, msgs: Seq[(Char, Array[Byte])]): Seq[String] =
      msgs.filter(_._1 == tpe).map { case (_, b) =>
        new String(b.takeWhile(_ != 0), "UTF-8")
      }

    /** Decode a DataRow body into column strings (null → "∅"). */
    def row(b: Array[Byte]): Seq[String] = {
      val in2 = new DataInputStream(new java.io.ByteArrayInputStream(b))
      val n = in2.readShort()
      (0 until n).map { _ =>
        val len = in2.readInt()
        if (len < 0) "∅"
        else { val v = new Array[Byte](len); in2.readFully(v); new String(v, "UTF-8") }
      }
    }
  }

  private def freshServer(): (PgWire, WireClient) = {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    val srv = PgWire.start(gs)
    val c = new WireClient(srv.boundPort)
    (srv, c)
  }

  test("startup handshake: auth ok, parameters, ready for query") {
    val (srv, c) = freshServer()
    try {
      val msgs = c.startup()
      assert(msgs.head._1 == 'R', "expected AuthenticationOk first")
      val params = c.cstrBody('S', msgs)
      assert(params.contains("server_version") && params.contains("client_encoding"))
      assert(msgs.exists(_._1 == 'K') && msgs.last._1 == 'Z')
      c.terminate()
    } finally srv.stop()
  }

  test("simple query: DDL + DML tags, result set with types, multi-statement") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      val ddl = c.query("CREATE TABLE wt (id INT PRIMARY KEY, name TEXT, ok BOOLEAN)")
      assert(c.cstrBody('C', ddl) == Seq("CREATE TABLE"), c.cstrBody('C', ddl))
      val ins = c.query("INSERT INTO wt VALUES (1, 'ada', true), (2, 'grace', false)")
      assert(c.cstrBody('C', ins) == Seq("INSERT 0 2"))
      val sel = c.query("SELECT id, name, ok FROM wt ORDER BY id")
      // RowDescription carries 3 fields with real type OIDs
      val t = sel.find(_._1 == 'T').get._2
      assert(((t(0) & 0xff) << 8 | (t(1) & 0xff)) == 3)
      val rows = sel.filter(_._1 == 'D').map(m => c.row(m._2))
      assert(rows == Seq(Seq("1", "ada", "t"), Seq("2", "grace", "f")))
      assert(c.cstrBody('C', sel) == Seq("SELECT 2"))
      // multi-statement script: one tag per statement
      val multi = c.query("UPDATE wt SET ok = true WHERE id = 2; SELECT count(*) AS n FROM wt WHERE ok")
      assert(c.cstrBody('C', multi) == Seq("UPDATE 1", "SELECT 1"))
      c.terminate()
    } finally srv.stop()
  }

  test("error aborts the remainder of a simple-query script") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE et (id INT PRIMARY KEY)")
      val msgs = c.query(
        "INSERT INTO et VALUES (1); SELECT nope FROM missing; INSERT INTO et VALUES (2)")
      assert(c.cstrBody('C', msgs) == Seq("INSERT 0 1"), "first statement lands")
      assert(msgs.exists(_._1 == 'E'), "error surfaces")
      assert(msgs.last._1 == 'Z', "ready after error")
      val after = c.query("SELECT count(*) AS n FROM et")
      assert(after.filter(_._1 == 'D').map(m => c.row(m._2)) == Seq(Seq("1")),
        "third statement never ran")
      c.terminate()
    } finally srv.stop()
  }

  test("extended protocol: Parse/Bind/Describe/Execute with a typed parameter") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE xt (id INT PRIMARY KEY, v TEXT)")
      c.query("INSERT INTO xt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      // Parse: unnamed stmt, one int4 param
      c0(""); c0("SELECT v FROM xt WHERE id >= $1 ORDER BY id"); d.writeShort(1); d.writeInt(23)
      c.send('P', body.toByteArray)
      // Bind: unnamed portal, text param "2"
      body.reset()
      c0(""); c0("")
      d.writeShort(0)                    // no format codes
      d.writeShort(1)                    // one parameter
      d.writeInt(1); d.write('2')        // "2"
      d.writeShort(0)                    // no result format codes
      c.send('B', body.toByteArray)
      // Describe portal, Execute, Sync
      body.reset(); d.writeByte('P'); c0("")
      c.send('D', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val msgs = c.readUntilReady()
      assert(msgs.exists(_._1 == '1') && msgs.exists(_._1 == '2'), "Parse+Bind complete")
      assert(msgs.exists(_._1 == 'T'), "Describe produced RowDescription")
      val rows = msgs.filter(_._1 == 'D').map(m => c.row(m._2))
      assert(rows == Seq(Seq("b"), Seq("c")), s"param filtered rows: $rows")
      assert(c.cstrBody('C', msgs) == Seq("SELECT 2"))
      c.terminate()
    } finally srv.stop()
  }

  test("extended protocol: parameterized DML and portal suspension (fetchSize)") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE pt (id INT PRIMARY KEY, v TEXT)")
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      // parameterized INSERT through Parse/Bind/Execute
      c0(""); c0("INSERT INTO pt VALUES ($1, $2)"); d.writeShort(2); d.writeInt(23); d.writeInt(25)
      c.send('P', body.toByteArray)
      for (i <- 1 to 4) {
        body.reset()
        c0(""); c0(""); d.writeShort(0); d.writeShort(2)
        val idB = i.toString.getBytes("UTF-8")
        d.writeInt(idB.length); d.write(idB)
        val vB = s"v$i".getBytes("UTF-8")
        d.writeInt(vB.length); d.write(vB)
        d.writeShort(0)
        c.send('B', body.toByteArray)
        body.reset(); c0(""); d.writeInt(0)
        c.send('E', body.toByteArray)
      }
      c.send('S', Array.empty)
      val ins = c.readUntilReady()
      assert(c.cstrBody('C', ins) == Seq.fill(4)("INSERT 0 1"), c.cstrBody('C', ins))
      // portal suspension: SELECT with Execute maxRows=2 → 2 rows +
      // PortalSuspended, next Execute drains and completes
      body.reset(); c0(""); c0("SELECT id FROM pt ORDER BY id"); d.writeShort(0)
      c.send('P', body.toByteArray)
      body.reset(); c0(""); c0(""); d.writeShort(0); d.writeShort(0); d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(2)
      c.send('E', body.toByteArray)
      c.send('H', Array.empty) // Flush
      val first = Iterator.continually(c.readMsg())
        .takeWhile(_._1 != 's').toSeq // up to PortalSuspended
      assert(first.filter(_._1 == 'D').map(m => c.row(m._2)) == Seq(Seq("1"), Seq("2")),
        "first Execute returns exactly maxRows rows")
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val rest = c.readUntilReady()
      assert(rest.filter(_._1 == 'D').map(m => c.row(m._2)) == Seq(Seq("3"), Seq("4")),
        "resumed portal continues where it left off")
      assert(c.cstrBody('C', rest) == Seq("SELECT 4"), "tag counts ALL portal rows")
      c.terminate()
    } finally srv.stop()
  }

  test("suspended portal survives concurrent UPDATE + VACUUM (pinned snapshot)") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE sp (id INT PRIMARY KEY, v TEXT)")
      c.query("INSERT INTO sp VALUES " + (1 to 6).map(i => s"($i, 'v$i')").mkString(", "))
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c0(""); c0("SELECT id, v FROM sp ORDER BY id"); d.writeShort(0)
      c.send('P', body.toByteArray)
      body.reset(); c0(""); c0(""); d.writeShort(0); d.writeShort(0); d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(2)
      c.send('E', body.toByteArray)
      c.send('H', Array.empty)
      val first = Iterator.continually(c.readMsg()).takeWhile(_._1 != 's').toSeq
      assert(first.filter(_._1 == 'D').map(m => c.row(m._2)) ==
        Seq(Seq("1", "v1"), Seq("2", "v2")), "portal suspended after 2 rows")
      // a SECOND connection rewrites the table and prunes old snapshot
      // versions while the portal sits suspended
      val c2 = new WireClient(srv.boundPort)
      c2.startup()
      c2.query("UPDATE sp SET v = 'CHANGED'")
      c2.query("VACUUM sp")
      c2.terminate()
      // resuming must stream the PORTAL's snapshot — the pre-UPDATE rows,
      // from a pinned result set VACUUM cannot pull out from under it
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val rest = c.readUntilReady()
      assert(!rest.exists(_._1 == 'E'), s"resume failed: ${c.cstrBody('E', rest)}")
      assert(rest.filter(_._1 == 'D').map(m => c.row(m._2)) ==
        Seq(Seq("3", "v3"), Seq("4", "v4"), Seq("5", "v5"), Seq("6", "v6")),
        "resumed rows come from the portal's pinned snapshot")
      c.terminate()
    } finally srv.stop()
  }

  test("abrupt disconnect mid-suspension releases the pin: VACUUM can prune") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    val srv = PgWire.start(gs)
    val c = new WireClient(srv.boundPort)
    try {
      c.startup()
      c.query("CREATE TABLE ad (id INT PRIMARY KEY, v TEXT)")
      c.query("INSERT INTO ad VALUES " + (1 to 6).map(i => s"($i, 'v$i')").mkString(", "))
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c0(""); c0("SELECT id, v FROM ad ORDER BY id"); d.writeShort(0)
      c.send('P', body.toByteArray)
      body.reset(); c0(""); c0(""); d.writeShort(0); d.writeShort(0); d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(2)
      c.send('E', body.toByteArray)
      c.send('H', Array.empty)
      val first = Iterator.continually(c.readMsg()).takeWhile(_._1 != 's').toSeq
      assert(first.count(_._1 == 'D') == 2, "portal suspended after 2 rows")
      // kill the socket with NO Terminate message — a crashed client.
      // The handler's read loop hits EOF and its finally block must drop
      // the suspended portal, releasing its reader pin.
      c.sock.close()
      gs.synchronized { gs.sql("UPDATE ad SET v = 'CHANGED'") } // supersedes the pinned v
      // the handler thread releases the pin asynchronously after EOF —
      // poll until VACUUM reports the superseded version actually pruned
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var pruned = 0L
      while (pruned == 0 && System.nanoTime() < deadline) {
        pruned = gs.synchronized { gs.sql("VACUUM ad") }.collect()(0).getLong(1)
        if (pruned == 0) Thread.sleep(100)
      }
      assert(pruned >= 1, "pin leaked: VACUUM never pruned the superseded version")
    } finally srv.stop()
  }

  test("failed portal setup does not leak its pin: VACUUM prunes afterwards") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    val srv = PgWire.start(gs)
    val c = new WireClient(srv.boundPort)
    try {
      c.startup()
      c.query("CREATE TABLE pl (id INT PRIMARY KEY, v TEXT)")
      c.query("INSERT INTO pl VALUES (1, 'v1'), (2, 'v2')")
      // Parse succeeds (no analysis), Execute with maxRows>0 pins and
      // then fails planning — the pin must be released on that failure
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c0(""); c0("SELECT * FROM no_such_table ORDER BY 1"); d.writeShort(0)
      c.send('P', body.toByteArray)
      body.reset(); c0(""); c0(""); d.writeShort(0); d.writeShort(0); d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(2)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val msgs = c.readUntilReady()
      assert(msgs.exists(_._1 == 'E'), "expected ErrorResponse for missing table")
      // the failed Execute's pin must not block retention: supersede the
      // version and assert VACUUM actually prunes it
      gs.synchronized { gs.sql("UPDATE pl SET v = 'CHANGED'") }
      val pruned = gs.synchronized { gs.sql("VACUUM pl") }.collect()(0).getLong(1)
      assert(pruned >= 1, "pin leaked from failed portal setup: VACUUM pruned nothing")
      c.terminate()
    } finally srv.stop()
  }

  test("suspended portal over a MATVIEW survives REFRESH + VACUUM (matview pin)") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE mvsrc (id INT PRIMARY KEY, v TEXT)")
      c.query("INSERT INTO mvsrc VALUES " + (1 to 6).map(i => s"($i, 'v$i')").mkString(", "))
      c.query("CREATE MATERIALIZED VIEW mvp AS SELECT id, v FROM mvsrc")
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c0(""); c0("SELECT id, v FROM mvp ORDER BY id"); d.writeShort(0)
      c.send('P', body.toByteArray)
      body.reset(); c0(""); c0(""); d.writeShort(0); d.writeShort(0); d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(2)
      c.send('E', body.toByteArray)
      c.send('H', Array.empty)
      val first = Iterator.continually(c.readMsg()).takeWhile(_._1 != 's').toSeq
      assert(first.filter(_._1 == 'D').map(m => c.row(m._2)) ==
        Seq(Seq("1", "v1"), Seq("2", "v2")), "portal suspended after 2 rows")
      // a second connection rewrites the source, REFRESHes the matview
      // (publishing a new _mv_ snapshot), and runs the bare VACUUM whose
      // matview pass prunes superseded _mv_ versions — the portal's pin
      // must cover the matview snapshot it streams from
      val c2 = new WireClient(srv.boundPort)
      c2.startup()
      c2.query("UPDATE mvsrc SET v = 'CHANGED'")
      c2.query("REFRESH MATERIALIZED VIEW mvp")
      c2.query("VACUUM")
      c2.terminate()
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val rest = c.readUntilReady()
      assert(!rest.exists(_._1 == 'E'), s"resume failed: ${c.cstrBody('E', rest)}")
      assert(rest.filter(_._1 == 'D').map(m => c.row(m._2)) ==
        Seq(Seq("3", "v3"), Seq("4", "v4"), Seq("5", "v5"), Seq("6", "v6")),
        "resumed rows come from the portal's pinned matview snapshot")
      c.terminate()
    } finally srv.stop()
  }

  test("COPY FROM STDIN over the wire: CopyInResponse + CopyData frames") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE ci (id INT PRIMARY KEY, name TEXT)")
      // statement with no inline body → server must answer CopyInResponse
      c.send('Q', "COPY ci FROM STDIN WITH (FORMAT CSV)".getBytes("UTF-8") :+ 0.toByte)
      val g = c.readMsg()
      assert(g._1 == 'G', s"expected CopyInResponse, got ${g._1}")
      // data split across two frames, one mid-line — framing must not
      // imply line boundaries
      c.send('d', "1,ada\n2,gr".getBytes("UTF-8"))
      c.send('d', "ace\n".getBytes("UTF-8"))
      c.send('c', Array.empty)
      val done = c.readUntilReady()
      assert(c.cstrBody('C', done) == Seq("COPY 2"), c.cstrBody('C', done))
      val sel = c.query("SELECT id, name FROM ci ORDER BY id")
      assert(sel.filter(_._1 == 'D').map(m => c.row(m._2)) ==
        Seq(Seq("1", "ada"), Seq("2", "grace")))
      c.terminate()
    } finally srv.stop()
  }

  test("COPY TO STDOUT over the wire: copy-out frames, one per line") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE co (id INT PRIMARY KEY, name TEXT)")
      c.query("INSERT INTO co VALUES (1, 'ada'), (2, 'grace')")
      val msgs = c.query("COPY co TO STDOUT WITH (FORMAT CSV)")
      assert(msgs.head._1 == 'H', s"expected CopyOutResponse, got ${msgs.head._1}")
      // COPY emits physical order (unspecified, as in PG) — compare sorted
      val lines = msgs.filter(_._1 == 'd').map(m => new String(m._2, "UTF-8"))
      assert(lines.sorted == Seq("1,ada\n", "2,grace\n"), lines)
      assert(msgs.exists(_._1 == 'c'), "CopyDone")
      assert(c.cstrBody('C', msgs) == Seq("COPY 2"))
      c.terminate()
    } finally srv.stop()
  }

  test("concurrent connections: an idle session does not block a second client") {
    val (srv, c1) = freshServer()
    try {
      c1.startup()
      c1.query("CREATE TABLE cc (id INT PRIMARY KEY)")
      c1.query("INSERT INTO cc VALUES (1)")
      // c1 stays OPEN and idle; a second client must connect and query
      val c2 = new WireClient(srv.boundPort)
      c2.startup()
      val sel = c2.query("SELECT count(*) AS n FROM cc")
      assert(sel.filter(_._1 == 'D').map(m => c2.row(m._2)) == Seq(Seq("1")))
      // both sessions interleave statements against the shared catalog
      c1.query("INSERT INTO cc VALUES (2)")
      val sel2 = c2.query("SELECT count(*) AS n FROM cc")
      assert(sel2.filter(_._1 == 'D').map(m => c2.row(m._2)) == Seq(Seq("2")))
      c2.terminate()
      c1.terminate()
    } finally srv.stop()
  }

  test("read-only statements from two connections execute concurrently") {
    val (srv, c1) = freshServer()
    try {
      c1.startup()
      val c2 = new WireClient(srv.boundPort)
      c2.startup()
      // deliberately SINGLE-partition CPU work (range(..., 1 slice)):
      // a 32-core-saturating query would show no wall-clock win from
      // overlap even with a correct shared lock — two one-core queries
      // on a 32-core host must nearly halve vs serial execution
      val slow = "SELECT count(*) AS n FROM (SELECT md5(CAST(id AS STRING)) AS h " +
        "FROM range(0, 3000000, 1, 1)) WHERE h LIKE '00%'"
      def run(c: WireClient): Seq[String] =
        c.query(slow).filter(_._1 == 'D').map(m => c.row(m._2).head)
      run(c1) // warm codegen/classloading out of the measurement
      val t0 = System.nanoTime()
      val r1 = run(c1)
      val single = (System.nanoTime() - t0) / 1e9
      // both connections issue the same read-only statement at once:
      // under the old whole-session monitor this took ~2x single
      @volatile var r2: Seq[String] = null
      val th = new Thread(() => r2 = run(c2))
      val t1 = System.nanoTime()
      th.start()
      val r3 = run(c1)
      th.join(60000)
      val par = (System.nanoTime() - t1) / 1e9
      assert(r1 == r3 && r1 == r2, s"results diverged: $r1 / $r3 / $r2")
      assert(par < 1.7 * single + 0.3,
        f"reads did not overlap: parallel $par%.2f s vs single $single%.2f s " +
          "(serialized execution would be ~2x single)")
      // writes still serialize on the exclusive side and are visible to
      // subsequent reads on the other connection
      c1.query("CREATE TABLE rw (id INT PRIMARY KEY)")
      c1.query("INSERT INTO rw VALUES (1)")
      val sel = c2.query("SELECT count(*) AS n FROM rw")
      assert(sel.filter(_._1 == 'D').map(m => c2.row(m._2)) == Seq(Seq("1")))
      c2.terminate()
      c1.terminate()
    } finally srv.stop()
  }

  test("parameter substitution: quote escaping and $N opacity inside literals") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE qt (id INT PRIMARY KEY, v TEXT)")
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      // value containing a single quote must escape; a '$1' INSIDE a
      // string literal is content, never a placeholder
      c0(""); c0("INSERT INTO qt VALUES ($1, $2 || ' costs $1')"); d.writeShort(2)
      d.writeInt(23); d.writeInt(25)
      c.send('P', body.toByteArray)
      body.reset()
      c0(""); c0(""); d.writeShort(0); d.writeShort(2)
      val p1 = "7".getBytes("UTF-8"); d.writeInt(p1.length); d.write(p1)
      val p2 = "o'hara".getBytes("UTF-8"); d.writeInt(p2.length); d.write(p2)
      d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val msgs = c.readUntilReady()
      assert(!msgs.exists(_._1 == 'E'), s"unexpected error: ${c.cstrBody('E', msgs)}")
      val sel = c.query("SELECT v FROM qt WHERE id = 7")
      assert(sel.filter(_._1 == 'D').map(m => c.row(m._2)) ==
        Seq(Seq("o'hara costs $1")), "quote escaped, literal $1 untouched")
      // NULL parameter (length -1) lands as SQL NULL
      body.reset(); c0("s2"); c0("INSERT INTO qt VALUES ($1, $2)"); d.writeShort(2)
      d.writeInt(23); d.writeInt(25)
      c.send('P', body.toByteArray)
      body.reset(); c0(""); c0("s2"); d.writeShort(0); d.writeShort(2)
      val p3 = "8".getBytes("UTF-8"); d.writeInt(p3.length); d.write(p3)
      d.writeInt(-1) // NULL
      d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      c.readUntilReady()
      val nulls = c.query("SELECT count(*) AS n FROM qt WHERE id = 8 AND v IS NULL")
      assert(nulls.filter(_._1 == 'D').map(m => c.row(m._2)) == Seq(Seq("1")))
      c.terminate()
    } finally srv.stop()
  }

  test("binary formats round-trip for the pgjdbc OID set; unsupported types refuse") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE bf (id INT PRIMARY KEY, big BIGINT, x DOUBLE PRECISION, " +
        "ok BOOLEAN, name TEXT, num NUMERIC(10,2))")
      c.query("INSERT INTO bf VALUES (7, 123456789012, 2.5, true, 'ada', 1.25)," +
        " (8, -1, -0.5, false, 'grace', 2.50)")
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      // Parse with an int4 param; Bind the param IN BINARY and request
      // BINARY results for int/bigint/double/bool/text columns
      c0("bs"); c0("SELECT id, big, x, ok, name FROM bf WHERE id = $1")
      d.writeShort(1); d.writeInt(23)
      c.send('P', body.toByteArray)
      body.reset()
      c0(""); c0("bs")
      d.writeShort(1); d.writeShort(1)   // one param format code: binary
      d.writeShort(1); d.writeInt(4); d.writeInt(7) // int4 binary value 7
      d.writeShort(1); d.writeShort(1)   // one result format code: binary (all cols)
      c.send('B', body.toByteArray)
      body.reset(); d.writeByte('P'); c0("")
      c.send('D', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val msgs = c.readUntilReady()
      assert(!msgs.exists(_._1 == 'E'),
        s"binary round trip must not error: ${c.cstrBody('E', msgs)}")
      // RowDescription advertises binary format for every column
      val t = msgs.find(_._1 == 'T').get._2
      val lastFmt = ((t(t.length - 2) & 0xff) << 8) | (t(t.length - 1) & 0xff)
      assert(lastFmt == 1, "RowDescription format code reflects the Bind request")
      // decode the binary DataRow: int4, int8, float8, bool, text
      val row = msgs.find(_._1 == 'D').get._2
      val in2 = new DataInputStream(new java.io.ByteArrayInputStream(row))
      assert(in2.readShort() == 5)
      assert(in2.readInt() == 4 && in2.readInt() == 7, "int4 binary")
      assert(in2.readInt() == 8 && in2.readLong() == 123456789012L, "int8 binary")
      assert(in2.readInt() == 8 && in2.readDouble() == 2.5, "float8 binary")
      assert(in2.readInt() == 1 && in2.readByte() == 1, "bool binary")
      val tl = in2.readInt(); val tb = new Array[Byte](tl); in2.readFully(tb)
      assert(new String(tb, "UTF-8") == "ada", "text binary = UTF-8 bytes")
      // binary request on a NUMERIC column: PG numeric wire encoding
      // (ndigits/weight/sign/dscale + base-10000 digits). 1.25 at
      // NUMERIC(10,2): fraction pads to one group (2500), integer part
      // one group (1) at weight 0.
      body.reset()
      c0("bn"); c0("SELECT num FROM bf WHERE id = $1"); d.writeShort(1); d.writeInt(23)
      c.send('P', body.toByteArray)
      body.reset()
      c0(""); c0("bn")
      d.writeShort(0); d.writeShort(1)
      val v = "7".getBytes("UTF-8"); d.writeInt(v.length); d.write(v)
      d.writeShort(1); d.writeShort(1)
      c.send('B', body.toByteArray)
      body.reset(); d.writeByte('P'); c0("")
      c.send('D', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val msgs2 = c.readUntilReady()
      assert(!msgs2.exists(_._1 == 'E'),
        "numeric binary result must not error: " + msgs2.filter(_._1 == 'E')
          .map(m => new String(m._2, "UTF-8").replace(' ', '|')).mkString)
      val nrow = msgs2.find(_._1 == 'D').get._2
      val nin = new DataInputStream(new java.io.ByteArrayInputStream(nrow))
      assert(nin.readShort() == 1)
      assert(nin.readInt() == 12, "numeric 1.25 = 8 header bytes + 2 digits")
      assert(nin.readShort() == 2, "ndigits")
      assert(nin.readShort() == 0, "weight (first digit is the units group)")
      assert(nin.readShort() == 0, "sign positive")
      assert(nin.readShort() == 2, "dscale from NUMERIC(10,2)")
      assert(nin.readShort() == 1 && nin.readShort() == 2500,
        "base-10000 digits of 1.25")
      // binary request on an ARRAY column: no binary encoding → loud
      // ErrorResponse before any DataRow, never misparseable text bytes
      body.reset()
      c0("ba"); c0("SELECT ARRAY[id, id] AS a FROM bf WHERE id = $1")
      d.writeShort(1); d.writeInt(23)
      c.send('P', body.toByteArray)
      body.reset()
      c0(""); c0("ba")
      d.writeShort(0); d.writeShort(1)
      d.writeInt(v.length); d.write(v)
      d.writeShort(1); d.writeShort(1)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val msgs3 = c.readUntilReady()
      val rawErrs = msgs3.filter(_._1 == 'E')
        .map(m => new String(m._2, "UTF-8")).mkString
      assert(rawErrs.contains("binary result format not supported"), rawErrs)
      assert(!msgs3.exists(_._1 == 'D'), "no data row precedes the refusal")
      // text-format Bind still works after Sync
      body.reset()
      c0(""); c0("bn"); d.writeShort(0); d.writeShort(1)
      d.writeInt(v.length); d.write(v); d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val ok = c.readUntilReady()
      assert(!ok.exists(_._1 == 'E'), "text bind recovers after Sync")
      assert(ok.filter(_._1 == 'D').map(m => c.row(m._2)) == Seq(Seq("1.25")))
      c.terminate()
    } finally srv.stop()
  }

  test("binary numeric params round-trip; NaN refuses") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      def bindNumeric(stmt: String, digits: Seq[Int], weight: Int, sign: Int,
          dscale: Int): Unit = {
        body.reset()
        c0(""); c0(stmt)
        d.writeShort(1); d.writeShort(1) // one param format code: binary
        d.writeShort(1)
        d.writeInt(8 + 2 * digits.length)
        d.writeShort(digits.length); d.writeShort(weight)
        d.writeShort(sign); d.writeShort(dscale)
        digits.foreach(d.writeShort)
        d.writeShort(0) // results in text: the read-back proves the decode
        c.send('B', body.toByteArray)
        body.reset(); d.writeByte('P'); c0("")
        c.send('D', body.toByteArray)
        body.reset(); c0(""); d.writeInt(0)
        c.send('E', body.toByteArray)
        c.send('S', Array.empty)
      }
      def dataText(msgs: Seq[(Char, Array[Byte])]): String = {
        val row = msgs.find(_._1 == 'D').get._2
        val in2 = new DataInputStream(new java.io.ByteArrayInputStream(row))
        assert(in2.readShort() == 1)
        val n = in2.readInt(); val b = new Array[Byte](n); in2.readFully(b)
        new String(b, "UTF-8")
      }
      // Parse once: a numeric param echoed back
      body.reset()
      c0("nm"); c0("SELECT $1::numeric(12,3) AS v"); d.writeShort(1); d.writeInt(1700)
      c.send('P', body.toByteArray)
      // −12345.678: digits [1, 2345, 6780] (6780 = padded .678 group),
      // weight 1, sign 0x4000
      bindNumeric("nm", Seq(1, 2345, 6780), weight = 1, sign = 0x4000, dscale = 3)
      val m1 = c.readUntilReady()
      assert(!m1.exists(_._1 == 'E'), s"numeric param: ${c.cstrBody('E', m1)}")
      assert(dataText(m1) == "-12345.678", dataText(m1))
      // implied trailing zero groups (weight > ndigits − 1): digits [12]
      // at weight 1 = 120000, dscale 0 — the wire form PG emits for
      // round numbers (Java-side this is the negative-scale shape)
      body.reset()
      c0("nm0"); c0("SELECT $1::numeric(12,0) AS v"); d.writeShort(1); d.writeInt(1700)
      c.send('P', body.toByteArray)
      bindNumeric("nm0", Seq(12), weight = 1, sign = 0, dscale = 0)
      val m2 = c.readUntilReady()
      assert(!m2.exists(_._1 == 'E'), s"trailing-zero numeric: ${c.cstrBody('E', m2)}")
      assert(dataText(m2) == "120000", dataText(m2))
      // NaN (sign 0xC000) must refuse loudly, then recover after Sync
      bindNumeric("nm", Seq.empty, weight = 0, sign = 0xC000, dscale = 0)
      val m3 = c.readUntilReady()
      val err = m3.filter(_._1 == 'E').map(m => new String(m._2, "UTF-8")).mkString
      assert(err.contains("NaN"), s"NaN must refuse: $err")
      assert(!m3.exists(_._1 == 'D'), "no data row for a NaN param")
      // out-of-range values must refuse, not silently round at the
      // decimal(38,18) cast: 1e-19 (19 fraction digits — digit 10 at
      // base-10000 weight −5) and 1e21 (21 integer digits — digit 10 at
      // weight 5)
      bindNumeric("nm", Seq(10), weight = -5, sign = 0, dscale = 19)
      val mf = c.readUntilReady()
      val errF = mf.filter(_._1 == 'E').map(m => new String(m._2, "UTF-8")).mkString
      assert(errF.contains("exceeds decimal(38,18)"), s"1e-19 must refuse: $errF")
      assert(!mf.exists(_._1 == 'D'), "no data row for an unrepresentable param")
      bindNumeric("nm", Seq(10), weight = 5, sign = 0, dscale = 0)
      val mi = c.readUntilReady()
      val errI = mi.filter(_._1 == 'E').map(m => new String(m._2, "UTF-8")).mkString
      assert(errI.contains("exceeds decimal(38,18)"), s"1e21 must refuse: $errI")
      // malformed payload: ndigits 0xFFFF reads as Short -1 — without
      // the header/length pin the digit loop would be an EMPTY range and
      // the garbage payload would silently decode as 0
      body.reset()
      c0(""); c0("nm")
      d.writeShort(1); d.writeShort(1)
      d.writeShort(1)
      d.writeInt(8)
      d.writeShort(-1); d.writeShort(0); d.writeShort(0); d.writeShort(0)
      d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val mm = c.readUntilReady()
      val errM = mm.filter(_._1 == 'E').map(m => new String(m._2, "UTF-8")).mkString
      assert(errM.contains("malformed"), s"negative ndigits must refuse: $errM")
      assert(!mm.exists(_._1 == 'D'), "no data row for a malformed payload")
      // text-format parity: the SAME values sent as text params must
      // behave identically to their binary form (refuse, not silently
      // round/NULL at the decimal(38,18) cast)
      def bindText(stmt: String, v: String): Unit = {
        body.reset()
        c0(""); c0(stmt)
        d.writeShort(1); d.writeShort(0) // one param format code: text
        d.writeShort(1)
        val vb = v.getBytes("UTF-8")
        d.writeInt(vb.length); d.write(vb)
        d.writeShort(0)
        c.send('B', body.toByteArray)
        body.reset(); d.writeByte('P'); c0("")
        c.send('D', body.toByteArray)
        body.reset(); c0(""); d.writeInt(0)
        c.send('E', body.toByteArray)
        c.send('S', Array.empty)
      }
      bindText("nm", "0.0000000000000000001")
      val mt = c.readUntilReady()
      val errT = mt.filter(_._1 == 'E').map(m => new String(m._2, "UTF-8")).mkString
      assert(errT.contains("exceeds decimal(38,18)"), s"text 1e-19 must refuse: $errT")
      bindText("nm", "NaN")
      val mtn = c.readUntilReady()
      val errN = mtn.filter(_._1 == 'E').map(m => new String(m._2, "UTF-8")).mkString
      assert(errN.contains("NaN"), s"text NaN must refuse: $errN")
      bindText("nm", "2.5")
      val mtv = c.readUntilReady()
      assert(!mtv.exists(_._1 == 'E') && dataText(mtv) == "2.500",
        s"representable text numeric still binds: ${dataText(mtv)}")
      bindNumeric("nm", Seq(5), weight = 0, sign = 0, dscale = 0)
      val m4 = c.readUntilReady()
      assert(!m4.exists(_._1 == 'E') && dataText(m4) == "5.000",
        s"binary numeric bind recovers after Sync: ${dataText(m4)}")
    } finally srv.stop()
  }

  test("binary date/timestamp params and results use the PG 2000-01-01 epoch") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE bd (d DATE PRIMARY KEY, ts TIMESTAMP)")
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      // insert via BINARY params: date = days since 2000-01-01,
      // timestamp = micros since 2000-01-01 00:00:00
      c0("ins"); c0("INSERT INTO bd VALUES ($1, $2)")
      d.writeShort(2); d.writeInt(1082); d.writeInt(1114)
      c.send('P', body.toByteArray)
      body.reset()
      c0(""); c0("ins")
      d.writeShort(1); d.writeShort(1)  // all params binary
      d.writeShort(2)
      d.writeInt(4); d.writeInt(31)     // 2000-02-01
      d.writeInt(8); d.writeLong(86400000000L + 3723000000L) // 2000-01-02 01:02:03
      d.writeShort(0)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val ins = c.readUntilReady()
      assert(!ins.exists(_._1 == 'E'), s"${c.cstrBody('E', ins)}")
      // text read-back proves the binary decode landed the right values
      val sel = c.query("SELECT d, ts FROM bd")
      val rows = sel.filter(_._1 == 'D').map(m => c.row(m._2))
      assert(rows.length == 1 && rows.head.head == "2000-02-01", rows)
      assert(rows.head(1).startsWith("2000-01-02 01:02:03"), rows)
      // read back in BINARY and check the epoch math inverts
      body.reset()
      c0("q"); c0("SELECT d, ts FROM bd"); d.writeShort(0)
      c.send('P', body.toByteArray)
      body.reset()
      c0(""); c0("q"); d.writeShort(0); d.writeShort(0)
      d.writeShort(1); d.writeShort(1)
      c.send('B', body.toByteArray)
      body.reset(); c0(""); d.writeInt(0)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val msgs = c.readUntilReady()
      assert(!msgs.exists(_._1 == 'E'), s"${c.cstrBody('E', msgs)}")
      val row = msgs.find(_._1 == 'D').get._2
      val in2 = new DataInputStream(new java.io.ByteArrayInputStream(row))
      assert(in2.readShort() == 2)
      assert(in2.readInt() == 4 && in2.readInt() == 31, "date binary round trip")
      assert(in2.readInt() == 8 && in2.readLong() == 86400000000L + 3723000000L,
        "timestamp binary round trip")
      c.terminate()
    } finally srv.stop()
  }

  test("statement-level Describe before Bind plans $N with typed NULLs") {
    val (srv, c) = freshServer()
    try {
      c.startup()
      c.query("CREATE TABLE ds (id INT PRIMARY KEY, v TEXT)")
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c0("meta"); c0("SELECT id, v FROM ds WHERE id > $1 AND v LIKE $2")
      d.writeShort(2); d.writeInt(23); d.writeInt(25)
      c.send('P', body.toByteArray)
      // Describe the STATEMENT (getMetaData flow): no portal, no Bind yet
      body.reset(); d.writeByte('S'); c0("meta")
      c.send('D', body.toByteArray)
      c.send('S', Array.empty)
      val msgs = c.readUntilReady()
      assert(!msgs.exists(_._1 == 'E'),
        s"statement Describe must not error on unsubstituted $$N: ${c.cstrBody('E', msgs)}")
      val pd = msgs.find(_._1 == 't').get._2
      assert(((pd(0) & 0xff) << 8 | (pd(1) & 0xff)) == 2, "two declared params")
      val t = msgs.find(_._1 == 'T').get._2
      assert(((t(0) & 0xff) << 8 | (t(1) & 0xff)) == 2, "RowDescription has the 2 result fields")
      c.terminate()
    } finally srv.stop()
  }

  test("ReadyForQuery reports live transaction status: I → T → E → I") {
    val (srv, c) = freshServer()
    try {
      def status(msgs: Seq[(Char, Array[Byte])]): Char =
        msgs.last._2(0).toChar
      assert(status(c.startup()) == 'I')
      c.query("CREATE TABLE ts (id INT PRIMARY KEY)")
      assert(status(c.query("BEGIN")) == 'T', "inside a transaction block")
      assert(status(c.query("INSERT INTO ts VALUES (1)")) == 'T')
      assert(status(c.query("SELECT nope FROM missing")) == 'E',
        "failed statement inside an open block")
      assert(status(c.query("ROLLBACK")) == 'I', "block closed, error cleared")
      assert(status(c.query("SELECT 1 AS one")) == 'I', "error state did not leak")
      c.terminate()
    } finally srv.stop()
  }

  test("BackendKeyData is per-connection and CancelRequest verifies the secret") {
    val (srv, c1) = freshServer()
    try {
      val k1 = c1.startup().find(_._1 == 'K').get._2
      val c2 = new WireClient(srv.boundPort)
      val k2 = c2.startup().find(_._1 == 'K').get._2
      def pid(k: Array[Byte]): Int =
        ((k(0) & 0xff) << 24) | ((k(1) & 0xff) << 16) | ((k(2) & 0xff) << 8) | (k(3) & 0xff)
      assert(pid(k1) != pid(k2), "each connection gets its own backend pid")
      // CancelRequest quoting c1's real key: out-of-band socket, no
      // response, connection closes; with no statement in flight the
      // cancel is a no-op and c1 keeps working
      val raw = new Socket("127.0.0.1", srv.boundPort)
      val ro = new DataOutputStream(raw.getOutputStream)
      ro.writeInt(16); ro.writeInt(80877102); ro.write(k1); ro.flush()
      raw.close()
      val sel = c1.query("SELECT 1 AS one")
      assert(sel.filter(_._1 == 'D').map(m => c1.row(m._2)) == Seq(Seq("1")),
        "idle-group cancel does not poison subsequent statements")
      // wrong secret: silently ignored (PG behavior), session unaffected
      val raw2 = new Socket("127.0.0.1", srv.boundPort)
      val ro2 = new DataOutputStream(raw2.getOutputStream)
      ro2.writeInt(16); ro2.writeInt(80877102)
      ro2.writeInt(pid(k2)); ro2.writeInt(0x5eed5eed); ro2.flush()
      raw2.close()
      val sel2 = c2.query("SELECT 2 AS two")
      assert(sel2.filter(_._1 == 'D').map(m => c2.row(m._2)) == Seq(Seq("2")))
      c2.terminate(); c1.terminate()
    } finally srv.stop()
  }

  test("SSLRequest is refused in cleartext and the session proceeds") {
    val (srv, c) = freshServer()
    try {
      assert(c.sslRequest() == 'N')
      val msgs = c.startup()
      assert(msgs.last._1 == 'Z')
      val sel = c.query("SELECT 1 AS one")
      assert(sel.filter(_._1 == 'D').map(m => c.row(m._2)) == Seq(Seq("1")))
      c.terminate()
    } finally srv.stop()
  }

  test("startup database parameter: nonexistent refused 3D000, existing connects") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    val srv = PgWire.start(gs)
    def startupTo(db: String): (WireClient, (Char, Array[Byte])) = {
      val c = new WireClient(srv.boundPort)
      val body = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(body)
      d.writeInt(196608)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c0("user"); c0("graft"); c0("database"); c0(db); d.writeByte(0)
      val o = new java.io.DataOutputStream(c.sock.getOutputStream)
      o.writeInt(body.size + 4); body.writeTo(o); o.flush()
      (c, c.readMsg())
    }
    try {
      // nonexistent database: FATAL 3D000 before AuthenticationOk
      val (c1, refusal) = startupTo("no_such_db")
      assert(refusal._1 == 'E', s"expected ErrorResponse, got ${refusal._1}")
      val fields = new String(refusal._2, "UTF-8")
      assert(fields.contains("3D000") && fields.contains("does not exist"), fields)
      c1.sock.close()
      assert(srv.limiter.activeConnections == 0, "refusal must release its slot")
      // existing database: startup connects the session to it
      gs.sql("CREATE DATABASE wiredb")
      val (c2, first) = startupTo("wiredb")
      assert(first._1 == 'R', "expected AuthenticationOk")
      c2.readUntilReady()
      val rows = c2.query("SELECT current_database() AS db")
        .filter(_._1 == 'D').map(m => c2.row(m._2))
      assert(rows == Seq(Seq("wiredb")), rows.toString)
      c2.terminate()
    } finally srv.stop()
  }

  test("per-connection database binding: two concurrent connections, two databases, zero cross-talk") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    val srv = PgWire.start(gs)
    def startupTo(db: String): WireClient = {
      val c = new WireClient(srv.boundPort)
      val body = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(body)
      d.writeInt(196608)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c0("user"); c0("graft"); c0("database"); c0(db); d.writeByte(0)
      val o = new java.io.DataOutputStream(c.sock.getOutputStream)
      o.writeInt(body.size + 4); body.writeTo(o); o.flush()
      c.readUntilReady()
      c
    }
    def rows(c: WireClient, sql: String): Seq[Seq[String]] =
      c.query(sql).filter(_._1 == 'D').map(m => c.row(m._2))
    try {
      gs.sql("CREATE DATABASE dba; CREATE DATABASE dbb")
      // both connections live CONCURRENTLY, each bound to its own
      // database from the startup packet (PG parity; the reference
      // resolves every connection's startup database independently)
      val ca = startupTo("dba")
      val cb = startupTo("dbb")
      assert(rows(ca, "SELECT current_database() AS db") == Seq(Seq("dba")))
      assert(rows(cb, "SELECT current_database() AS db") == Seq(Seq("dbb")))
      // same table NAME in both databases, different content — each
      // connection reads its own
      assert(ca.query("CREATE TABLE t (x INT)").exists(_._1 == 'C'))
      assert(cb.query("CREATE TABLE t (x INT)").exists(_._1 == 'C'))
      ca.query("INSERT INTO t VALUES (1)")
      cb.query("INSERT INTO t VALUES (2)")
      assert(rows(ca, "SELECT x FROM t") == Seq(Seq("1")))
      assert(rows(cb, "SELECT x FROM t") == Seq(Seq("2")))
      // interleave: a's read AFTER b's statements still sees a's data
      assert(rows(ca, "SELECT x FROM t") == Seq(Seq("1")))
      // prepared statements are connection-scoped: same name, different
      // bodies, no clobber
      ca.query("PREPARE p AS SELECT x + 10 FROM t")
      cb.query("PREPARE p AS SELECT x + 20 FROM t")
      assert(rows(ca, "EXECUTE p") == Seq(Seq("11")))
      assert(rows(cb, "EXECUTE p") == Seq(Seq("22")))
      // catalog meta-commands answer per connection: a table only in dba
      ca.query("CREATE TABLE only_a (y INT)")
      val dtA = rows(ca, "\\dt").map(_(1))
      val dtB = rows(cb, "\\dt").map(_(1))
      assert(dtA.contains("only_a") && dtA.contains("t"), dtA.toString)
      assert(!dtB.contains("only_a") && dtB.contains("t"), dtB.toString)
      // pg_class (the \d introspection surface) is scoped too
      val pcB = rows(cb, "SELECT relname FROM pg_class ORDER BY relname").flatten
      assert(!pcB.contains("only_a") && pcB.contains("t"), pcB.toString)
      // \d describes against the connection's OWN catalog: a table that
      // exists only in dba errors on the dbb connection
      val dA = rows(ca, "\\d only_a").map(_(0))
      assert(dA.contains("y"), dA.toString)
      assert(cb.query("\\d only_a").exists(_._1 == 'E'),
        "\\d of a sibling database's table must error")
      // \c moves ONLY the issuing connection
      ca.query("\\c dbb")
      assert(rows(ca, "SELECT current_database() AS db") == Seq(Seq("dbb")))
      assert(rows(ca, "SELECT x FROM t") == Seq(Seq("2")))
      assert(rows(cb, "SELECT current_database() AS db") == Seq(Seq("dbb")))
      // the embedded default context never moved
      assert(gs.currentDatabase == "graft")
      ca.terminate(); cb.terminate()
    } finally srv.stop()
  }

  test("transaction left open by a disconnecting client rolls back") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    val srv = PgWire.start(gs)
    try {
      gs.sql("CREATE TABLE acct (v INT)")
      gs.sql("INSERT INTO acct VALUES (1)")
      val c = new WireClient(srv.boundPort)
      assert(c.startup().last._1 == 'Z')
      c.query("BEGIN")
      c.query("INSERT INTO acct VALUES (2)")
      assert(gs.inTransaction)
      c.terminate() // hang up without COMMIT — PG rolls the txn back
      val deadline = System.nanoTime() + 30e9.toLong
      while (gs.inTransaction && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!gs.inTransaction, "disconnect must roll back the open transaction")
      val vs = gs.sql("SELECT v FROM acct").collect().map(_.getInt(0)).toSeq
      assert(vs == Seq(1), s"rolled-back insert must not survive: $vs")
    } finally srv.stop()
  }

  test("connection limiter: N+1th refused with 53300, slot freed on close") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    // tiny pool + short bounded wait so the refusal path is exercised fast
    val srv = PgWire.start(gs, maxConnections = 2, acquireTimeoutMs = 300)
    try {
      val c1 = new WireClient(srv.boundPort)
      val c2 = new WireClient(srv.boundPort)
      assert(c1.startup().last._1 == 'Z')
      assert(c2.startup().last._1 == 'Z')
      assert(srv.limiter.activeConnections == 2)
      // pool full: the 3rd startup waits out the fair timeout, then gets
      // a FATAL ErrorResponse (SQLSTATE 53300) — no AuthenticationOk, no
      // ReadyForQuery — and the server closes the connection
      val c3 = new WireClient(srv.boundPort)
      val refusal = {
        // hand-rolled startup: WireClient.startup() blocks for 'Z',
        // which a refused connection never receives
        val body = new java.io.ByteArrayOutputStream()
        val d = new java.io.DataOutputStream(body)
        d.writeInt(196608)
        def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
        c0("user"); c0("graft"); c0("database"); c0("graft"); d.writeByte(0)
        val o = new java.io.DataOutputStream(c3.sock.getOutputStream)
        o.writeInt(body.size + 4); body.writeTo(o); o.flush()
        c3.readMsg()
      }
      assert(refusal._1 == 'E', s"expected ErrorResponse, got ${refusal._1}")
      val fields = new String(refusal._2, "UTF-8")
      assert(fields.contains("53300"), "SQLSTATE must be too_many_connections")
      assert(fields.contains("too many clients"), fields)
      assert(srv.limiter.rejectedConnections == 1)
      assert(srv.limiter.activeConnections == 2, "a refusal must not consume a slot")
      // close one admitted session → its slot frees → a new client admits
      c1.terminate()
      val c4 = new WireClient(srv.boundPort)
      assert(c4.startup().last._1 == 'Z', "slot must be released on close")
      assert(c4.query("SELECT 1 AS one").filter(_._1 == 'D').map(m => c4.row(m._2))
        == Seq(Seq("1")))
      assert(srv.limiter.totalConnections == 3) // c1, c2, c4 admitted
      c4.terminate(); c2.terminate()
    } finally srv.stop()
  }

  test("transaction status and control are per connection") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    val srv = PgWire.start(gs)
    def status(msgs: Seq[(Char, Array[Byte])]): Char = {
      val z = msgs.last
      assert(z._1 == 'Z'); z._2(0).toChar
    }
    try {
      gs.sql("CREATE TABLE acct (v INT)")
      val ca = new WireClient(srv.boundPort)
      val cb = new WireClient(srv.boundPort)
      assert(status(ca.startup()) == 'I')
      assert(status(cb.startup()) == 'I')
      // A opens a transaction: only A's ReadyForQuery reports 'T'
      assert(status(ca.query("BEGIN")) == 'T')
      assert(status(cb.query("SELECT 1 AS one")) == 'I',
        "a foreign BEGIN must not show as 'T' on this connection")
      assert(status(ca.query("INSERT INTO acct VALUES (1)")) == 'T')
      // B errors OUTSIDE any transaction of its own: its status must be
      // 'I', not 'E' — drivers answer 'E' with ROLLBACK, which would
      // target A's transaction
      val bErr = cb.query("SELECT nope FROM missing_table")
      assert(bErr.exists(_._1 == 'E'))
      assert(status(bErr) == 'I',
        "a non-owner's statement error must not report txn-failed state")
      // and if a driver DOES send ROLLBACK from B, it refuses loudly
      // instead of silently aborting A's transaction
      val bRb = cb.query("ROLLBACK")
      assert(bRb.exists(_._1 == 'E'), "foreign ROLLBACK must refuse")
      assert(new String(bRb.find(_._1 == 'E').get._2, "UTF-8")
        .contains("another connection"))
      assert(status(bRb) == 'I')
      // B's writes refuse while A's txn is open (single-writer engine)
      assert(cb.query("INSERT INTO acct VALUES (99)").exists(_._1 == 'E'))
      // A's transaction survived all of B's attempts
      assert(status(ca.query("COMMIT")) == 'I')
      val vs = ca.query("SELECT v FROM acct ORDER BY v")
        .filter(_._1 == 'D').map(m => ca.row(m._2))
      assert(vs == Seq(Seq("1")), s"A's commit must land exactly its own write: $vs")
      // A's OWN error inside its OWN txn still reports 'E' until closed
      ca.query("BEGIN")
      assert(status(ca.query("SELECT nope FROM missing_table")) == 'E')
      assert(status(ca.query("ROLLBACK")) == 'I')
      ca.terminate(); cb.terminate()
    } finally srv.stop()
  }

  test("a warm point lookup by simple query, EXECUTE and Bind returns the same rows and runs no Spark job") {
    val (srv, c) = freshServer()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    try {
      c.startup()
      c.query("CREATE TABLE pk (id BIGINT PRIMARY KEY, v TEXT)")
      c.query("INSERT INTO pk VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      c.query("PREPARE by_id(BIGINT) AS SELECT id, v FROM pk WHERE id = $1")
      def rows(msgs: Seq[(Char, Array[Byte])]): Seq[Seq[String]] = {
        assert(!msgs.exists(_._1 == 'E'), c.cstrBody('E', msgs))
        msgs.filter(_._1 == 'D').map(m => c.row(m._2))
      }
      def simple(k: Int) = rows(c.query(s"SELECT id, v FROM pk WHERE id = $k"))
      def execute(k: Int) = rows(c.query(s"EXECUTE by_id($k)"))
      def bind(k: Int) = {
        val body = new ByteArrayOutputStream()
        val d = new DataOutputStream(body)
        def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
        c0(""); c0("SELECT id, v FROM pk WHERE id = $1"); d.writeShort(1); d.writeInt(20)
        c.send('P', body.toByteArray)
        body.reset(); c0(""); c0(""); d.writeShort(0); d.writeShort(1)
        val kb = k.toString.getBytes("UTF-8")
        d.writeInt(kb.length); d.write(kb); d.writeShort(0)
        c.send('B', body.toByteArray)
        body.reset(); c0(""); d.writeInt(0)
        c.send('E', body.toByteArray)
        c.send('S', Array.empty)
        rows(c.readUntilReady())
      }
      // after the INSERT the first lookup scans and the second builds the index
      assert(simple(2) == Seq(Seq("2", "b")))
      assert(simple(2) == Seq(Seq("2", "b")))
      spark.sparkContext.addSparkListener(listener)
      drain()
      jobs.set(0)
      for ((k, want) <- Seq(3 -> Seq(Seq("3", "c")), 1 -> Seq(Seq("1", "a")), 9 -> Nil)) {
        assert(simple(k) == want, s"simple query, key $k")
        assert(execute(k) == want, s"EXECUTE, key $k")
        assert(bind(k) == want, s"Bind, key $k")
      }
      drain()
      assert(jobs.get == 0, s"${jobs.get} Spark jobs for warm point lookups")
      c.terminate()
    } finally { spark.sparkContext.removeSparkListener(listener); srv.stop() }
  }

  test("row-limited Execute over a driver-resident result suspends and resumes in order") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_pgwire"))
    val srv = PgWire.start(gs)
    val c = new WireClient(srv.boundPort)
    try {
      c.startup()
      Seq("tc", "ta", "tb").foreach(t => c.query(s"CREATE TABLE $t (id INT)"))
      val q = "SELECT tablename FROM pg_tables WHERE schemaname = 'public'"
      val local = gs.sql(q)
      assert(local.queryExecution.executedPlan
        .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
      val want = local.collect().map(r => Seq(r.getString(0))).toSeq
      assert(want.size == 3)
      val body = new ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      def c0(s: String): Unit = { d.write(s.getBytes("UTF-8")); d.writeByte(0) }
      c0(""); c0(q); d.writeShort(0)
      c.send('P', body.toByteArray)
      body.reset(); c0(""); c0(""); d.writeShort(0); d.writeShort(0); d.writeShort(0)
      c.send('B', body.toByteArray)
      val got = Seq.newBuilder[Seq[String]]
      for (_ <- 1 to 2) {
        body.reset(); c0(""); d.writeInt(1)
        c.send('E', body.toByteArray)
        c.send('H', Array.empty)
        val msgs = Iterator.continually(c.readMsg()).takeWhile(_._1 != 's').toSeq
        val rs = msgs.filter(_._1 == 'D').map(m => c.row(m._2))
        assert(rs.size == 1, "each Execute(maxRows=1) returns one row, then PortalSuspended")
        got ++= rs
      }
      // the last row drains the portal: CommandComplete, not PortalSuspended
      body.reset(); c0(""); d.writeInt(1)
      c.send('E', body.toByteArray)
      c.send('S', Array.empty)
      val rest = c.readUntilReady()
      assert(!rest.exists(_._1 == 's'))
      got ++= rest.filter(_._1 == 'D').map(m => c.row(m._2))
      assert(c.cstrBody('C', rest) == Seq("SELECT 3"), "tag counts all portal rows")
      assert(got.result() == want, "portal rows come back in the result's order")
      c.terminate()
    } finally srv.stop()
  }

  test("an ORDER BY read of a pg_catalog view returns sorted rows and runs no Spark job") {
    val (srv, c) = freshServer()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    try {
      c.startup()
      Seq("tc", "ta", "tb").foreach(t => c.query(s"CREATE TABLE $t (id INT, v TEXT, w INT)"))
      def rows(q: String): Seq[Seq[String]] = {
        val msgs = c.query(q)
        assert(!msgs.exists(_._1 == 'E'), c.cstrBody('E', msgs))
        msgs.filter(_._1 == 'D').map(m => c.row(m._2))
      }
      val reads = Seq(
        "SELECT tablename FROM pg_tables WHERE schemaname = 'public' ORDER BY tablename" ->
          Seq(Seq("ta"), Seq("tb"), Seq("tc")),
        "SELECT tablename FROM pg_tables ORDER BY tablename DESC" ->
          Seq(Seq("tc"), Seq("tb"), Seq("ta")),
        "SELECT attname FROM pg_attribute WHERE relname = 'tb' ORDER BY attnum DESC" ->
          Seq(Seq("w"), Seq("v"), Seq("id")),
        "SELECT nspname FROM pg_namespace ORDER BY nspname" ->
          Seq(Seq("information_schema"), Seq("pg_catalog"), Seq("public")))
      // the first statement registers the session's views
      for ((q, want) <- reads) assert(rows(q) == want, q)
      spark.sparkContext.addSparkListener(listener)
      drain()
      jobs.set(0)
      for ((q, want) <- reads) assert(rows(q) == want, q)
      drain()
      assert(jobs.get == 0, s"${jobs.get} Spark jobs for sorted pg_catalog reads")
      c.terminate()
    } finally { spark.sparkContext.removeSparkListener(listener); srv.stop() }
  }
}
