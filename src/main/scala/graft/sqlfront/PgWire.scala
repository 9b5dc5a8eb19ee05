package graft.sqlfront

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._

/** PostgreSQL wire-protocol (v3) front end over [[GraftSession]] — the
  * engine's third entry point beside [[graft.Shell]] and [[SqlHttp]],
  * covering the reference's primary query lifecycle (reference
  * postgres/PostgresProtocolServer.java binds :5432;
  * PostgresConnectionHandler.java:98-124 dispatches Query/Parse/Bind/
  * Execute). Re-expressed from the PUBLISHED protocol specification
  * (PostgreSQL docs, "Frontend/Backend Protocol"), not the reference's
  * Netty implementation: plain blocking sockets, one daemon thread per
  * connection, with STATEMENT execution gated by the session's
  * read/write statement gate — read-only statements from different
  * connections execute concurrently (COW snapshots isolate them from
  * data; the gate from session-state mutation), while DDL/DML/
  * transaction statements serialize on the exclusive side, keeping
  * GraftSession's single-WRITE-stream semantics.
  *
  * Supported: startup (incl. SSLRequest refusal and secret-verified
  * CancelRequest → Spark job-group cancellation), simple Query with
  * multi-statement scripts, the extended protocol subset JDBC drives
  * (Parse/Bind/Describe/Execute/Close/Flush/Sync) with text AND binary
  * formats for parameters and results (the OID set pgjdbc's
  * binaryTransfer actually uses: bool/int2/int4/int8/float4/float8/
  * text/date/timestamp; anything else refuses with an ErrorResponse,
  * never a silent misread), and Terminate. Result columns carry real
  * type OIDs so clients render numerics/bools natively. ReadyForQuery
  * reports live transaction status ('I'/'T'/'E').
  */
final class PgWire(gs: GraftSession, port: Int = 0,
    maxConnections: Int = 1000, acquireTimeoutMs: Long = 30000) {

  /** Admission control (see [[ConnectionLimiter]]): slots are taken after
    * a client's StartupMessage and released when its handler exits, so a
    * refusal can be a proper in-protocol ErrorResponse. CancelRequest
    * connections are out-of-band and never consume a slot. */
  val limiter = new ConnectionLimiter(maxConnections, acquireTimeoutMs)

  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", port))
  @volatile private var running = true

  // BackendKeyData registry: each connection gets a (pid, secret) pair; a
  // CancelRequest quoting a live pair cancels that connection's Spark job
  // group. Statement execution is session-serialized, so cancellation is
  // exactly the operation a second connection CAN usefully perform — it
  // frees the engine for the queue instead of waiting out a runaway scan.
  private val nextPid = new java.util.concurrent.atomic.AtomicInteger(1)
  private val cancelKeys = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
  private val secretRng = new java.security.SecureRandom()

  def boundPort: Int = server.getLocalPort

  private val acceptThread = new Thread(() => acceptLoop(), "pgwire-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  def stop(): Unit = { running = false; server.close() }

  /** Connections are CONCURRENT (a psql session left open must not block
    * the next client's connect); statement EXECUTION routes through the
    * session's statement gate — reads share, writes exclude — the same
    * model [[SqlHttp]] uses. */
  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => {
          try handleConnection(sock)
          catch { case _: Throwable => () } // connection-scoped failure only
          finally sock.close()
        }, s"pgwire-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch { case _: Throwable => () } // server socket closed on stop()
    }

  /** All statement execution funnels through the session's statement
    * gate: read-only statements run CONCURRENTLY across connections
    * (shared lock — COW snapshots isolate them from data, the gate from
    * session-state mutation); DDL/DML/transaction statements serialize
    * on the exclusive side, preserving the single-statement-stream
    * engine's write semantics. */
  private def runSql(sql: String): DataFrame = gs.withStatementLock(sql)(gs.sql(sql))

  // ------------------------------------------------------------ framing

  private def readN(in: DataInputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); in.readFully(b); b
  }

  /** Zero-terminated UTF-8 string starting at `off`; returns (s, next). */
  private def cstr(b: Array[Byte], off: Int): (String, Int) = {
    var i = off
    while (i < b.length && b(i) != 0) i += 1
    (new String(b, off, i - off, UTF_8), i + 1)
  }

  private final class Out(raw: DataOutputStream) {
    def msg(tpe: Char)(body: DataOutputStream => Unit): Unit = {
      val buf = new ByteArrayOutputStream()
      body(new DataOutputStream(buf))
      raw.writeByte(tpe.toByte)
      raw.writeInt(buf.size + 4)
      buf.writeTo(raw)
    }
    def cstr(o: DataOutputStream, s: String): Unit = {
      o.write(s.getBytes(UTF_8)); o.writeByte(0)
    }
    def flush(): Unit = raw.flush()
  }

  // ------------------------------------------------- protocol responses

  private def pgTypeOid(dt: DataType): Int = dt match {
    case BooleanType => 16
    case ShortType => 21
    case IntegerType => 23
    case LongType => 20
    case FloatType => 700
    case DoubleType => 701
    case _: DecimalType => 1700
    case DateType => 1082
    case TimestampType | TimestampNTZType => 1114
    case _ => 25 // text
  }

  /** PG text rendering: booleans as t/f, arrays as {…}, null handled by
    * the caller (−1 length). */
  private def render(v: Any): String = v match {
    case b: Boolean => if (b) "t" else "f"
    case s: collection.Seq[_] =>
      s.map(x => if (x == null) "NULL" else render(x)).mkString("{", ",", "}")
    // instant-carrying timestamps format through UTC EXPLICITLY, same
    // rationale as writeBinaryValue: Timestamp.toString renders in the
    // JVM default zone, and only spark.sql.session.timeZone is pinned
    // UTC — on a non-UTC JVM text results would shift relative to both
    // binary results and the param decode path
    case t: java.sql.Timestamp =>
      pgTimestampText(t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime)
    case i: java.time.Instant =>
      pgTimestampText(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
    case other => other.toString
  }

  /** PG text form: `YYYY-MM-DD HH:MM:SS[.ffffff]`, fractional seconds
    * only when nonzero (matches Timestamp.toString's omission of an
    * all-zero fraction modulo its single trailing `.0`). */
  private def pgTimestampText(ldt: java.time.LocalDateTime): String = {
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    val micros = ldt.getNano / 1000
    if (micros == 0) base else f"$base.${micros}%06d".reverse.dropWhile(_ == '0').reverse
  }

  // PG epoch: 2000-01-01 (days for date, micros for timestamp)
  private val pgEpochDay = java.time.LocalDate.of(2000, 1, 1).toEpochDay
  private val pgEpochDateTime = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)

  /** PG `numeric` binary wire form (the pgjdbc setBigDecimal path with
    * binaryTransfer on): int16 ndigits, int16 weight, int16 sign, int16
    * dscale, then ndigits base-10000 digits most-significant first.
    * Digit i carries 10000^(weight − i); sign is 0x0000/0x4000/0xC000
    * (positive/negative/NaN). Encode pads the fraction to a whole
    * base-10000 group and strips zero groups at both ends (weight is
    * anchored at the most significant digit, so least-significant strips
    * leave it untouched); a Java negative scale (1.2E+3) materializes
    * its trailing zeros first, since PG dscale is display digits and
    * must be ≥ 0. */
  private def encodeNumeric(o: DataOutputStream, bd0: java.math.BigDecimal): Unit = {
    val dscale = math.max(bd0.scale, 0)
    val bd = if (bd0.scale < 0) bd0.setScale(0) else bd0
    val unscaled = bd.unscaledValue.abs
    if (unscaled.signum == 0) {
      o.writeInt(8)
      o.writeShort(0); o.writeShort(0); o.writeShort(0); o.writeShort(dscale)
      return
    }
    val pad = (4 - (dscale % 4)) % 4
    var v = unscaled.multiply(java.math.BigInteger.TEN.pow(pad))
    val tenK = java.math.BigInteger.valueOf(10000)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Int] // little-endian
    while (v.signum != 0) {
      val qr = v.divideAndRemainder(tenK)
      groups += qr(1).intValue
      v = qr(0)
    }
    val weight = groups.length - (dscale + pad) / 4 - 1
    val digits = groups.drop(groups.indexWhere(_ != 0)).reverse // MSF, ends stripped
    o.writeInt(8 + 2 * digits.length)
    o.writeShort(digits.length)
    o.writeShort(weight)
    o.writeShort(if (bd0.signum < 0) 0x4000 else 0)
    o.writeShort(dscale)
    digits.foreach(o.writeShort)
  }

  /** Binary `numeric` parameter → decimal literal text. NaN (sign
    * 0xC000) refuses loudly: DECIMAL columns have no NaN, and silently
    * substituting NULL or a sentinel would corrupt predicates. The
    * UNNECESSARY rounding mode makes a malformed payload (more fraction
    * digits than dscale claims) fail instead of rounding. */
  private def decodeNumeric(b: Array[Byte]): String = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(b))
    val nd = in.readShort()
    // a negative ndigits (e.g. 0xFFFF read as Short -1) would make the
    // digit loop an EMPTY range and silently decode any garbage payload
    // as 0 — the one malformed-payload shape the checks below can't see.
    // Pin the payload length to the header's claim while we're at it.
    require(nd >= 0 && b.length == 8 + 2 * nd,
      s"numeric: malformed payload (ndigits=$nd, ${b.length} bytes)")
    val weight = in.readShort()
    val sign = in.readShort() & 0xffff
    val dscale = in.readShort()
    if (sign == 0xC000) throw new IllegalArgumentException(
      "numeric NaN is not representable in a DECIMAL column")
    require(sign == 0 || sign == 0x4000, s"numeric: bad sign word 0x${sign.toHexString}")
    val tenK = java.math.BigInteger.valueOf(10000)
    var acc = java.math.BigInteger.ZERO
    for (_ <- 0 until nd) {
      val d = in.readShort()
      require(d >= 0 && d < 10000, s"numeric: digit $d out of base-10000 range")
      acc = acc.multiply(tenK).add(java.math.BigInteger.valueOf(d))
    }
    var bd = new java.math.BigDecimal(acc).scaleByPowerOfTen(4 * (weight - nd + 1))
    bd = bd.setScale(dscale, java.math.RoundingMode.UNNECESSARY)
    if (sign == 0x4000) bd = bd.negate
    requireNumericFits(bd)
    bd.toPlainString
  }

  /** Both wire formats funnel numeric parameters into
    * `CAST(… AS decimal(38,18))`; a value that type cannot hold exactly
    * would be SILENTLY rounded there (or, past 38 digits, cast to NULL) —
    * the corruption this codec refuses everywhere else (RoundingMode
    * .UNNECESSARY, NaN rejection). Refuse loudly instead: > 18 fraction
    * digits or > 20 integer digits cannot round-trip. Shared by the
    * binary decode and the text-format path so the two formats keep
    * identical semantics for the same value. */
  private def requireNumericFits(bd: java.math.BigDecimal): Unit = {
    val stripped = bd.stripTrailingZeros
    val frac = math.max(stripped.scale, 0)
    require(frac <= 18 && stripped.precision - stripped.scale <= 20,
      s"numeric parameter ${bd.toPlainString} exceeds decimal(38,18): " +
        "values with > 18 fraction digits or > 20 integer digits cannot " +
        "round-trip exactly")
  }

  /** Text-format twin of decodeNumeric's validation: same NaN and
    * decimal(38,18)-range refusals, so a driver flipping a parameter
    * between text and binary transfer sees identical behavior. */
  private def validateNumericText(v: String): Unit = {
    if (v.equalsIgnoreCase("NaN")) throw new IllegalArgumentException(
      "numeric NaN is not representable in a DECIMAL column")
    val bd =
      try new java.math.BigDecimal(v.trim)
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"malformed numeric parameter '$v'") }
    requireNumericFits(bd)
  }

  /** Binary-format parameter decode for the OIDs drivers actually flip
    * to binary (pgjdbc binaryTransfer): fixed-width big-endian numerics,
    * bool, text (whose binary form IS its text bytes), date/timestamp on
    * the PG 2000-01-01 epoch. The decoded value re-enters the normal
    * text-literal substitution path (with its OID cast), so binary and
    * text parameters are guaranteed the same semantics. Unknown OIDs
    * refuse loudly — never misread. */
  private def decodeBinaryParam(oid: Int, b: Array[Byte]): String = {
    def be(n: Int): Long = {
      require(b.length == n, s"binary parameter: expected $n bytes, got ${b.length}")
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (b(i) & 0xff); i += 1 }
      v
    }
    oid match {
      case 16 => if (b(0) == 0) "false" else "true"
      case 21 => be(2).toShort.toString
      case 23 => be(4).toInt.toString
      case 20 => be(8).toString
      case 700 => java.lang.Float.intBitsToFloat(be(4).toInt).toString
      case 701 => java.lang.Double.longBitsToDouble(be(8)).toString
      case 25 | 1043 => new String(b, UTF_8)
      case 1700 => decodeNumeric(b)
      case 1082 => java.time.LocalDate.ofEpochDay(be(4).toInt + pgEpochDay).toString
      case 1114 | 1184 =>
        // binary timestamp payload is micros since 2000-01-01; for 1114
        // (timestamp) that epoch is zone-naive, for 1184 (timestamptz) it
        // is UTC-anchored. Rendering both as a naive wall-clock string is
        // correct ONLY because Engine pins spark.sql.session.timeZone to
        // UTC (core.scala) — Spark then interprets the naive literal as
        // UTC, matching 1184's wire semantics exactly. A non-UTC session
        // would shift 1184 instants by the zone offset; revisit this
        // decode if that pin ever moves.
        val micros = be(8)
        pgEpochDateTime.plusSeconds(Math.floorDiv(micros, 1000000L))
          .plusNanos(Math.floorMod(micros, 1000000L) * 1000L).toString
      case other => throw new IllegalArgumentException(
        s"binary parameter format not supported for type OID $other (text format only)")
    }
  }

  /** Binary-format result encode (length-prefixed) for the same OID set.
    * Types without a supported binary form (arrays, …) refuse loudly —
    * a client that asked for binary would misparse text bytes. */
  private def writeBinaryValue(o: DataOutputStream, dt: DataType, v: Any): Unit = dt match {
    case BooleanType => o.writeInt(1); o.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
    case ShortType => o.writeInt(2); o.writeShort(v.asInstanceOf[Short].toInt)
    case IntegerType => o.writeInt(4); o.writeInt(v.asInstanceOf[Int])
    case LongType => o.writeInt(8); o.writeLong(v.asInstanceOf[Long])
    case FloatType => o.writeInt(4); o.writeFloat(v.asInstanceOf[Float])
    case DoubleType => o.writeInt(8); o.writeDouble(v.asInstanceOf[Double])
    case StringType =>
      val b = v.toString.getBytes(UTF_8); o.writeInt(b.length); o.write(b)
    case _: DecimalType => encodeNumeric(o, v match {
      case j: java.math.BigDecimal => j
      case s: scala.math.BigDecimal => s.bigDecimal
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    })
    case DateType =>
      val ld = v match {
        case d: java.sql.Date => d.toLocalDate
        case l: java.time.LocalDate => l
      }
      o.writeInt(4); o.writeInt((ld.toEpochDay - pgEpochDay).toInt)
    case TimestampType | TimestampNTZType =>
      // Instant-carrying values convert through UTC EXPLICITLY: the
      // engine pins spark.sql.session.timeZone=UTC but not the JVM
      // default zone, and Timestamp.toLocalDateTime / systemDefault()
      // would shift binary results on a non-UTC JVM relative to the
      // UTC-interpreted binary param decode.
      val ldt = v match {
        case t: java.sql.Timestamp =>
          t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
        case l: java.time.LocalDateTime => l
        case i: java.time.Instant =>
          java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
      }
      val micros = (ldt.toLocalDate.toEpochDay - pgEpochDay) * 86400000000L +
        ldt.toLocalTime.toNanoOfDay / 1000L
      o.writeInt(8); o.writeLong(micros)
    case other => throw new IllegalArgumentException(
      s"binary result format not supported for ${other.simpleString} (text format only)")
  }

  /** Expand Bind's format-code array to one code per element: none →
    * all text, one → applies to all, else must match the count. */
  private def expandFmts(codes: Seq[Int], n: Int, what: String): Array[Int] =
    codes.length match {
      case 0 => Array.fill(n)(0)
      case 1 => Array.fill(n)(codes.head)
      case k if k == n => codes.toArray
      case k => throw new IllegalArgumentException(
        s"Bind: $k $what format codes for $n ${what}s")
    }

  /** `fmts` = per-column result format codes (0 text / 1 binary);
    * null → all text (the simple-query path). */
  private def rowDescription(out: Out, df: DataFrame, fmts: Array[Int] = null): Unit =
    out.msg('T') { o =>
      val fields = df.schema.fields
      o.writeShort(fields.length)
      fields.zipWithIndex.foreach { case (f, i) =>
        out.cstr(o, f.name)
        o.writeInt(0); o.writeShort(0)          // table oid / attnum
        o.writeInt(pgTypeOid(f.dataType))
        o.writeShort(-1); o.writeInt(-1)        // typlen / typmod
        o.writeShort(if (fmts == null) 0 else fmts(i))
      }
    }

  private def writeDataRow(out: Out, row: org.apache.spark.sql.Row,
      dts: Array[DataType] = null, fmts: Array[Int] = null): Unit =
    out.msg('D') { o =>
      o.writeShort(row.length)
      var i = 0
      while (i < row.length) {
        if (row.isNullAt(i)) o.writeInt(-1)
        else if (fmts != null && fmts(i) == 1) writeBinaryValue(o, dts(i), row.get(i))
        else {
          val bytes = render(row.get(i)).getBytes(UTF_8)
          o.writeInt(bytes.length); o.write(bytes)
        }
        i += 1
      }
    }

  /** A result's rows. A result already on the driver — its executed plan
    * is a LocalTableScanExec, as for a primary-key point lookup served by
    * [[graft.functions.PointLookupRule]] or a pg_catalog view — is returned
    * from the plan's executeCollect without a Spark job. Any other result
    * streams through toLocalIterator, so a large result never
    * materializes as one driver array (the row batch in flight is
    * partition-bounded). */
  private def resultRows(df: DataFrame): java.util.Iterator[org.apache.spark.sql.Row] =
    df.queryExecution.executedPlan match {
      case _: LocalTableScanExec => df.collect().iterator.asJava
      case _ => df.toLocalIterator()
    }

  /** Streams DataRow messages from [[resultRows]]; returns the row count. */
  private def dataRows(out: Out, df: DataFrame): Long = {
    var n = 0L
    val it = resultRows(df)
    while (it.hasNext) { writeDataRow(out, it.next()); n += 1 }
    n
  }

  /** Resolve a portal's result formats against the actual schema and
    * fail fast on a binary request for a type with no binary encoding —
    * BEFORE any DataRow is on the wire. */
  private def resolvedFmts(df: DataFrame, codes: Seq[Int]): Array[Int] = {
    val fmts = expandFmts(codes, df.schema.length, "result")
    df.schema.fields.zip(fmts).foreach { case (f, fmt) =>
      if (fmt == 1) f.dataType match {
        case BooleanType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | DateType | TimestampType | TimestampNTZType => ()
        case _: DecimalType => ()
        case other => throw new IllegalArgumentException(
          s"binary result format not supported for ${other.simpleString} (text format only)")
      }
    }
    fmts
  }

  private def commandComplete(out: Out, tag: String): Unit =
    out.msg('C')(o => out.cstr(o, tag))

  /** ReadyForQuery carries the live transaction status — 'I' idle, 'T'
    * inside an open transaction block, 'E' open block with a failed
    * statement — so driver-side transaction tracking (pgjdbc, psql's
    * prompt) stays in sync with the engine instead of assuming idle. */
  private def readyForQuery(out: Out, status: Char = 'I'): Unit =
    out.msg('Z')(o => o.writeByte(status))

  private def errorResponse(out: Out, e: Throwable): Unit =
    out.msg('E') { o =>
      o.writeByte('S'); out.cstr(o, "ERROR")
      o.writeByte('V'); out.cstr(o, "ERROR")
      o.writeByte('C'); out.cstr(o, "XX000")
      o.writeByte('M')
      out.cstr(o, Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      o.writeByte(0)
    }

  /** COPY … FROM STDIN with NO inline body (data follows as CopyData
    * frames); a scripted statement that already carries its body after a
    * newline fails this full-match and takes the normal path. */
  private val copyInRe =
    """(?is)COPY\s+([\w"]+)\s*(?:\(([^)]*)\))?\s*FROM\s+STDIN([^\n]*)""".r

  /** True when the statement produces a client-visible result set. */
  private def returnsRows(stmt: String): Boolean = {
    val kw = stmt.trim.split("\\s+", 2)(0).toUpperCase
    Set("SELECT", "VALUES", "WITH", "TABLE", "SHOW", "EXPLAIN", "FETCH",
      "EXECUTE").contains(kw) || stmt.trim.startsWith("\\") ||
      stmt.trim.toUpperCase.matches("(?s)COPY\\s.*TO\\s+STDOUT.*")
  }

  /** PG command tag for a completed statement: DML counts come from the
    * session's (status, count) result row; SELECT counts from the rows
    * streamed. */
  private def tagFor(stmt: String, result: DataFrame, selectRows: Long): String = {
    val words = stmt.trim.split("\\s+")
    val kw = words(0).toUpperCase
    def dmlCount: Long = result.schema.fieldNames.toSeq match {
      case Seq("status", "count") => result.collect()(0).getLong(1)
      case _ => 0L
    }
    kw match {
      case "SELECT" | "WITH" | "TABLE" | "VALUES" | "SHOW" | "EXPLAIN" =>
        s"SELECT $selectRows"
      case "INSERT" => s"INSERT 0 $dmlCount"
      case "UPDATE" => s"UPDATE $dmlCount"
      case "DELETE" => s"DELETE $dmlCount"
      case "MERGE" => s"MERGE $dmlCount"
      case "COPY" => s"COPY $dmlCount"
      case "FETCH" => s"FETCH $selectRows"
      case "BEGIN" => "BEGIN"
      case "COMMIT" => "COMMIT"
      case "ROLLBACK" => "ROLLBACK"
      case "CREATE" | "DROP" | "ALTER" | "TRUNCATE" if words.length > 1 =>
        s"$kw ${words(1).toUpperCase.stripSuffix(";")}" match {
          case t @ ("CREATE TABLE" | "CREATE INDEX" | "CREATE VIEW" |
                    "CREATE SEQUENCE" | "CREATE TYPE" | "DROP TABLE" |
                    "DROP INDEX" | "DROP VIEW" | "DROP SEQUENCE" |
                    "ALTER TABLE" | "TRUNCATE TABLE") => t
          case _ => kw
        }
      case other => other
    }
  }

  // -------------------------------------------------------- connection

  private def handleConnection(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val rawOut = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    val out = new Out(rawOut)

    // startup phase: length-prefixed, untyped messages
    var startedUp = false
    var requestedDb: Option[String] = None
    while (!startedUp) {
      val len = in.readInt()
      val body = readN(in, len - 4)
      val code = ((body(0) & 0xff) << 24) | ((body(1) & 0xff) << 16) |
        ((body(2) & 0xff) << 8) | (body(3) & 0xff)
      code match {
        case 80877103 => // SSLRequest → not supported, continue cleartext
          rawOut.writeByte('N'); rawOut.flush()
        case 80877102 =>
          // CancelRequest: quote-verified, then cancel the target
          // connection's job group. Out-of-band by design (arrives on a
          // fresh connection, no response, connection closes) — the
          // cancelled statement surfaces as an ErrorResponse on ITS
          // connection when Spark aborts its running jobs.
          if (body.length >= 12) {
            val pid = ((body(4) & 0xff) << 24) | ((body(5) & 0xff) << 16) |
              ((body(6) & 0xff) << 8) | (body(7) & 0xff)
            val secret = ((body(8) & 0xff) << 24) | ((body(9) & 0xff) << 16) |
              ((body(10) & 0xff) << 8) | (body(11) & 0xff)
            if (Option(cancelKeys.get(Int.box(pid))).contains(Int.box(secret)))
              gs.spark.sparkContext.cancelJobGroup(s"pgwire-$pid")
          }
          return
        case 196608 => // protocol 3.0
          // parse the startup parameter list (key/value cstr pairs,
          // zero-terminated): 'database' is meaningful now that the
          // session is multi-database
          var off = 4
          while (off < body.length && body(off) != 0) {
            val (k, n1) = cstr(body, off)
            val (v, n2) = cstr(body, n1)
            if (k == "database") requestedDb = Some(v)
            off = n2
          }
          startedUp = true
        case other =>
          throw new IllegalArgumentException(s"unsupported protocol code $other")
      }
    }
    // admission control: a pool still full after the limiter's bounded
    // fair wait refuses IN PROTOCOL — FATAL ErrorResponse, SQLSTATE 53300
    // (too_many_connections), the server's canonical message — so drivers
    // see a typed refusal, not a connectivity failure. Only real sessions
    // reach here (SSL probes and CancelRequests returned above), so slot
    // accounting can't leak on out-of-band connections.
    if (!limiter.tryAcquire()) {
      out.msg('E') { o =>
        o.writeByte('S'); out.cstr(o, "FATAL")
        o.writeByte('V'); out.cstr(o, "FATAL")
        o.writeByte('C'); out.cstr(o, "53300")
        o.writeByte('M'); out.cstr(o, "sorry, too many clients already")
        o.writeByte(0)
      }
      out.flush()
      return
    }

    try { // slot held — released on EVERY exit path, greeting included
    // Per-connection database binding (PG parity: every connection's
    // startup 'database' parameter resolves independently — reference
    // kv/DatabaseRegistry.java:29-60, PostgresConnectionHandler startup
    // path). The context carries this connection's OWN current database,
    // prepared statements and cursors; binding it to this handler thread
    // scopes every statement the connection runs. A nonexistent target
    // is the PG FATAL 3D000 before AuthenticationOk. Two concurrent
    // connections can now sit in two different databases with zero
    // cross-talk — the old sole-client 55006 refusal is gone.
    val connCtx =
      try gs.openConnectionContext(requestedDb.filter(_.nonEmpty))
      catch { case e: Throwable =>
        out.msg('E') { o =>
          o.writeByte('S'); out.cstr(o, "FATAL")
          o.writeByte('V'); out.cstr(o, "FATAL")
          o.writeByte('C'); out.cstr(o, "3D000")
          o.writeByte('M')
          out.cstr(o, Option(e.getMessage).getOrElse("database does not exist"))
          o.writeByte(0)
        }
        out.flush()
        return
      }
    gs.bindContext(connCtx)
    try {
    out.msg('R')(o => o.writeInt(0)) // AuthenticationOk
    Seq(
      "server_version" -> "17.0 (graft)",
      "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8",
      "DateStyle" -> "ISO, MDY",
      "integer_datetimes" -> "on",
      "standard_conforming_strings" -> "on").foreach { case (k, v) =>
      out.msg('S')(o => { out.cstr(o, k); out.cstr(o, v) })
    }
    // real BackendKeyData: unique pid + random secret, registered for
    // CancelRequest verification; every Spark job this connection thread
    // triggers (runSql AND result streaming) carries the pid's job group
    // because job-group properties are thread-local to this handler thread
    val backendPid = nextPid.getAndIncrement()
    val backendSecret = secretRng.nextInt()
    cancelKeys.put(backendPid, backendSecret)
    gs.spark.sparkContext.setJobGroup(
      s"pgwire-$backendPid", s"pgwire connection $backendPid", interruptOnCancel = true)
    out.msg('K')(o => { o.writeInt(backendPid); o.writeInt(backendSecret) })

    // connection-local transaction-status view for ReadyForQuery: 'E'
    // after a statement fails inside an open transaction block, until the
    // block closes (GraftSession keeps executing in that state — PG would
    // refuse — but the reported status lets drivers see the failure)
    var txnError = false
    def ready(): Unit = {
      // ownsTransaction, not inTransaction: the engine keeps ONE
      // single-writer transaction, but only the connection that OPENED
      // it may report 'T'/'E' — reporting the global state made every
      // sibling connection show 'T' during a foreign BEGIN, and a
      // sibling's statement error then reported 'E', which PG drivers
      // answer with ROLLBACK, aborting the owner's transaction from a
      // connection that never opened one. (This thread is the handler
      // thread, so the bound context makes ownsTransaction per-connection.)
      if (!gs.ownsTransaction) txnError = false
      readyForQuery(out,
        if (gs.ownsTransaction) { if (txnError) 'E' else 'T' } else 'I')
    }
    def noteError(): Unit = if (gs.ownsTransaction) txnError = true

    ready()
    out.flush()

    // extended-protocol state
    val preparedWire = scala.collection.mutable.Map[String, (String, Seq[Int])]()
    // portal → (substituted sql, Bind's raw result-format codes)
    val portals = scala.collection.mutable.Map[String, (String, Seq[Int])]()
    // open result iterators for suspended portals (JDBC setFetchSize
    // drives Execute with a row limit; the portal resumes where it left)
    final class PortalExec(val df: DataFrame,
        val it: java.util.Iterator[org.apache.spark.sql.Row],
        val dts: Array[DataType], val fmts: Array[Int],
        val pin: Option[Long]) { var total = 0L }
    val portalIters = scala.collection.mutable.Map[String, PortalExec]()
    // drop a portal's iterator AND release its snapshot pin — every
    // removal path (drain, Close, re-Bind, disconnect) must route here
    // or retention would leak until connection end
    def dropPortal(name: String): Unit =
      portalIters.remove(name).foreach(_.pin.foreach(gs.releaseVersionPin))
    var extendedError = false // error until Sync: skip further extended msgs

    var done = false
    try while (!done) {
      val tpeOpt =
        try Some(in.readByte().toChar) catch { case _: EOFException => None }
      tpeOpt match {
        case None => done = true // client hung up without Terminate
        case Some(tpe) =>
        val len = in.readInt()
        val body = readN(in, len - 4)
        tpe match {
          case 'X' => done = true

          case 'Q' =>
            val (sqlText, _) = cstr(body, 0)
            if (sqlText.trim.isEmpty) out.msg('I')(_ => ())
            else {
              val stmts = StatementSplitter.split(sqlText)
              var aborted = false
              stmts.foreach { stmt =>
                if (!aborted) {
                  try {
                    val bare = stmt.trim.stripSuffix(";")
                    bare match {
                      case copyInRe(rawT, colList, _) =>
                        // COPY … FROM STDIN with no inline body: the data
                        // arrives as CopyData frames (the pg_dump / psql
                        // \copy restore path). Collect frames, then feed
                        // the session's inline-body COPY path verbatim.
                        val ncols = Option(colList)
                          .map(_.split(",").length)
                          .getOrElse(runSql(
                            s"SELECT * FROM ${rawT.replaceAll("\"", "")} LIMIT 0")
                            .schema.length)
                        out.msg('G') { o =>
                          o.writeByte(0); o.writeShort(ncols)
                          (0 until ncols).foreach(_ => o.writeShort(0))
                        }
                        out.flush()
                        val data = new ByteArrayOutputStream()
                        var copyDone = false
                        var failMsg: Option[String] = None
                        while (!copyDone) {
                          val t2 = in.readByte().toChar
                          val l2 = in.readInt()
                          val b2 = readN(in, l2 - 4)
                          t2 match {
                            case 'd' => data.write(b2)
                            case 'c' => copyDone = true
                            case 'f' =>
                              copyDone = true
                              failMsg = Some(new String(b2.takeWhile(_ != 0), UTF_8))
                            case _ => () // Flush/Sync interleaved with copy
                          }
                        }
                        failMsg match {
                          case Some(m) =>
                            errorResponse(out,
                              new IllegalStateException(s"COPY from stdin failed: $m"))
                            noteError(); aborted = true
                          case None =>
                            val full = bare + "\n" + new String(data.toByteArray, UTF_8)
                            val df = runSql(full)
                            commandComplete(out, tagFor(full, df, 0))
                        }
                      case _ if bare.toUpperCase.matches("(?s)COPY\\s.*TO\\s+STDOUT.*") =>
                        // COPY … TO STDOUT: copy-out subprotocol — one
                        // CopyData frame per serialized line (the session
                        // already renders PG text/CSV lines), then
                        // CopyDone; psql streams these straight to its
                        // output file
                        val df = runSql(bare)
                        out.msg('H') { o => o.writeByte(0); o.writeShort(1); o.writeShort(0) }
                        var n = 0L
                        val it = df.toLocalIterator()
                        while (it.hasNext) {
                          val line = it.next().getString(0) + "\n"
                          out.msg('d')(o => o.write(line.getBytes(UTF_8)))
                          n += 1
                        }
                        out.msg('c')(_ => ())
                        commandComplete(out, s"COPY $n")
                      case _ =>
                        val df = runSql(stmt)
                        if (returnsRows(stmt)) {
                          rowDescription(out, df)
                          val n = dataRows(out, df)
                          commandComplete(out, tagFor(stmt, df, n))
                        } else commandComplete(out, tagFor(stmt, df, 0))
                    }
                  } catch {
                    case e: Throwable =>
                      // PG aborts the remainder of the query string
                      errorResponse(out, e); noteError(); aborted = true
                  }
                }
              }
            }
            ready(); out.flush()

          case 'P' if !extendedError => // Parse
            try {
              var off = 0
              val (name, o1) = cstr(body, off); off = o1
              val (query, o2) = cstr(body, off); off = o2
              val nParams =
                ((body(off) & 0xff) << 8) | (body(off + 1) & 0xff)
              off += 2
              val oids = (0 until nParams).map { i =>
                val p = off + i * 4
                ((body(p) & 0xff) << 24) | ((body(p + 1) & 0xff) << 16) |
                  ((body(p + 2) & 0xff) << 8) | (body(p + 3) & 0xff)
              }
              preparedWire(name) = (query, oids)
              out.msg('1')(_ => ())
            } catch { case e: Throwable => errorResponse(out, e); noteError(); extendedError = true }

          case 'B' if !extendedError => // Bind
            try {
              var off = 0
              val (portal, o1) = cstr(body, off); off = o1
              val (stmtName, o2) = cstr(body, off); off = o2
              val (query, oids) = preparedWire.getOrElse(stmtName,
                throw new IllegalArgumentException(s"unknown prepared statement \"$stmtName\""))
              // parameter format codes (0 text / 1 binary). Binary values
              // for the common OIDs (pgjdbc flips int4/int8/float8/date/
              // timestamp to binary past prepareThreshold) are decoded to
              // their text literal and re-enter the normal substitution
              // path; an OID without a binary decoder is refused loudly —
              // misreading raw bytes as UTF-8 would be silent corruption.
              val nFmts = ((body(off) & 0xff) << 8) | (body(off + 1) & 0xff)
              off += 2
              val paramFmtCodes = (0 until nFmts).map { i =>
                ((body(off + i * 2) & 0xff) << 8) | (body(off + i * 2 + 1) & 0xff)
              }
              off += nFmts * 2
              val nParams = ((body(off) & 0xff) << 8) | (body(off + 1) & 0xff)
              off += 2
              val paramFmts = expandFmts(paramFmtCodes, nParams, "parameter")
              val values = (0 until nParams).map { i =>
                val vlen = ((body(off) & 0xff) << 24) | ((body(off + 1) & 0xff) << 16) |
                  ((body(off + 2) & 0xff) << 8) | (body(off + 3) & 0xff)
                off += 4
                if (vlen < 0) null
                else if (paramFmts(i) == 1) {
                  val raw = java.util.Arrays.copyOfRange(body, off, off + vlen)
                  off += vlen
                  decodeBinaryParam(oids.lift(i).getOrElse(0), raw)
                }
                else { val s = new String(body, off, vlen, UTF_8); off += vlen; s }
              }
              // result format codes are resolved against the schema at
              // Describe/Execute time (the portal's plan isn't built yet);
              // store them raw with the substituted statement
              val nResFmts = ((body(off) & 0xff) << 8) | (body(off + 1) & 0xff)
              off += 2
              val resFmts = (0 until nResFmts).map { i =>
                ((body(off + i * 2) & 0xff) << 8) | (body(off + i * 2 + 1) & 0xff)
              }
              portals(portal) = (substituteParams(query, values, oids), resFmts)
              dropPortal(portal) // re-bind resets a suspended portal (and its pin)
              out.msg('2')(_ => ())
            } catch { case e: Throwable => errorResponse(out, e); noteError(); extendedError = true }

          case 'D' if !extendedError => // Describe
            try {
              val kind = body(0).toChar
              val (name, _) = cstr(body, 1)
              // portal Describe reports the Bind-requested result formats;
              // statement Describe is always format 0 (format is a Bind
              // property, per the protocol spec)
              val (sqlText, resCodes) = kind match {
                case 'P' => portals.getOrElse(name,
                  throw new IllegalArgumentException(s"unknown portal \"$name\""))
                case _ =>
                  // statement-level Describe arrives BEFORE Bind (the
                  // PreparedStatement.getMetaData flow), so $N placeholders
                  // are still unsubstituted — plan with typed NULLs from
                  // the declared OIDs; the schema is parameter-independent
                  val (q, os) = preparedWire.getOrElse(name,
                    throw new IllegalArgumentException(s"unknown prepared statement \"$name\""))
                  (nullPlaceholders(q, os), Nil)
              }
              if (kind == 'S')
                // ParameterDescription: oids as parsed (possibly empty)
                out.msg('t') { o =>
                  val oids = preparedWire(name)._2
                  o.writeShort(oids.length); oids.foreach(o.writeInt)
                }
              if (returnsRows(sqlText)) {
                // schema-only planning: SELECT has no side effects here
                val df0 = runSql(sqlText).limit(0)
                rowDescription(out, df0, resolvedFmts(df0, resCodes))
              } else out.msg('n')(_ => ()) // NoData
            } catch { case e: Throwable => errorResponse(out, e); noteError(); extendedError = true }

          case 'E' if !extendedError => // Execute [maxRows → portal suspension]
            try {
              val (portal, off) = cstr(body, 0)
              val maxRows = ((body(off) & 0xff) << 24) | ((body(off + 1) & 0xff) << 16) |
                ((body(off + 2) & 0xff) << 8) | (body(off + 3) & 0xff)
              val (sqlText, resCodes) = portals.getOrElse(portal,
                throw new IllegalArgumentException(s"unknown portal \"$portal\""))
              if (!returnsRows(sqlText)) {
                val df = runSql(sqlText)
                commandComplete(out, tagFor(sqlText, df, 0))
              } else {
                val st = portalIters.getOrElseUpdate(portal, {
                  // a row-limited Execute can SUSPEND and resume across
                  // later protocol messages — and across other
                  // connections' DML/VACUUM. PIN the snapshot versions it
                  // reads (GraftSession.pinCurrentVersions) so VACUUM's
                  // retention pass keeps them until the portal drains or
                  // closes — PG's "visible to an open cursor" rule in
                  // copy-on-write form, with zero materialization (the
                  // portal streams its original lazy plan; the earlier
                  // localCheckpoint form materialized the WHOLE result up
                  // front — the very cost fetchSize exists to avoid).
                  // Pin and plan ATOMICALLY under the statement gate:
                  // every DML publish runs under the gate's EXCLUSIVE
                  // side (runSql), so no version can be published
                  // between the pin and the plan — the portal provably
                  // streams the exact versions the pin protects, while
                  // read-only portals on other connections pin+plan
                  // concurrently under the shared side. (Pinning outside
                  // the gate left a window where a concurrent publish
                  // made the portal read v+1 while the pin held only v;
                  // a second publish plus VACUUM could then prune v+1
                  // mid-stream.) Full-drain portals (maxRows == 0 — the
                  // common executeQuery path) stream unpinned: COW
                  // isolates them from DML, and a concurrent VACUUM
                  // surfaces loudly as an ErrorResponse, never as silent
                  // misreads.
                  // If anything between pin acquisition and PortalExec
                  // construction throws (analysis error, bad format
                  // code, planner failure), the pin would belong to no
                  // portal and nothing would ever release it — a
                  // permanent retention leak. Release on ANY failure
                  // before the portal owns it.
                  var pin: Option[Long] = None
                  try {
                    val df = gs.withStatementLock(sqlText) {
                      if (maxRows > 0) pin = Some(gs.pinCurrentVersions())
                      gs.sql(sqlText)
                    }
                    new PortalExec(df, resultRows(df),
                      df.schema.fields.map(_.dataType), resolvedFmts(df, resCodes), pin)
                  } catch { case e: Throwable =>
                    pin.foreach(gs.releaseVersionPin)
                    throw e
                  }
                })
                var sent = 0L
                while (st.it.hasNext && (maxRows <= 0 || sent < maxRows)) {
                  writeDataRow(out, st.it.next(), st.dts, st.fmts)
                  sent += 1; st.total += 1
                }
                if (st.it.hasNext) out.msg('s')(_ => ()) // PortalSuspended
                else {
                  commandComplete(out, tagFor(sqlText, st.df, st.total))
                  dropPortal(portal)
                }
              }
            } catch { case e: Throwable => errorResponse(out, e); noteError(); extendedError = true }

          case 'C' if !extendedError => // Close statement/portal
            val kind = body(0).toChar
            val (name, _) = cstr(body, 1)
            if (kind == 'P') { portals.remove(name); dropPortal(name) }
            else preparedWire.remove(name)
            out.msg('3')(_ => ())

          case 'H' => out.flush() // Flush

          case 'S' => // Sync: clear error state, signal ready
            extendedError = false
            ready(); out.flush()

          case _ => () // skipped: either unknown or suppressed by error state
        }
      }
    } finally {
      cancelKeys.remove(Int.box(backendPid))
      gs.spark.sparkContext.clearJobGroup()
      // a hung-up client's suspended portals must not retain snapshots
      portalIters.keys.toSeq.foreach(dropPortal)
    }
    } finally {
      // context teardown: unbind this thread, unregister from the live
      // set (frees DROP DATABASE), and roll back a transaction this
      // connection left open (closeConnectionContext handles ownership)
      gs.unbindContext()
      gs.closeConnectionContext(connCtx)
    }
    } finally limiter.release() // every admitted connection frees its slot
  }

  private def sqlType(oid: Int): Option[String] = oid match {
    case 16 => Some("boolean")
    case 21 => Some("smallint")
    case 23 => Some("int")
    case 20 => Some("bigint")
    case 700 | 701 => Some("double precision")
    // NOT bare "numeric": Spark's parser reads that as DECIMAL(10,0)
    // and would silently round a fractional parameter to an integer;
    // (38,18) holds any scale a wire client actually sends
    case 1700 => Some("decimal(38,18)")
    case 1082 => Some("date")
    case 1114 | 1184 => Some("timestamp")
    case _ => None
  }

  /** Scan `query`, replacing each `$N` outside string literals with
    * `lit(N-1)`. String literals are opaque (a '$1' inside text is
    * content — same discipline as GraftSession's PREPARE). */
  private def replacePlaceholders(query: String)(lit: Int => String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < query.length) {
      val c = query.charAt(i)
      if (c == '\'') { // copy string literal verbatim ('' escape)
        sb.append(c); i += 1
        var closed = false
        while (i < query.length && !closed) {
          sb.append(query.charAt(i))
          if (query.charAt(i) == '\'') {
            if (i + 1 < query.length && query.charAt(i + 1) == '\'') {
              sb.append('\''); i += 2
            } else { closed = true; i += 1 }
          } else i += 1
        }
      } else if (c == '$' && i + 1 < query.length && query.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < query.length && query.charAt(j).isDigit) j += 1
        sb.append(lit(query.substring(i + 1, j).toInt - 1))
        i = j
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Substitute `$N` placeholders with typed literals. Text-format values
    * arrive as strings; the Parse-declared OID adds an explicit CAST so
    * comparisons use the client's intended type. */
  private def substituteParams(query: String, values: Seq[String], oids: Seq[Int]): String =
    replacePlaceholders(query) { idx =>
      if (idx < 0 || idx >= values.length)
        throw new IllegalArgumentException(s"no parameter $$${idx + 1}")
      val v = values(idx)
      val lit =
        if (v == null) "NULL"
        else "'" + v.replace("'", "''") + "'"
      if (v != null && oids.lift(idx).contains(1700)) validateNumericText(v)
      oids.lift(idx).filter(_ != 0).flatMap(sqlType) match {
        case Some(t) if v != null => s"CAST($lit AS $t)"
        case _ => lit
      }
    }

  /** Substitute every `$N` with a typed NULL (CAST(NULL AS t) when the
    * Parse message declared an OID, bare NULL otherwise) — schema-only
    * planning for statement-level Describe, where no Bind has happened. */
  private def nullPlaceholders(query: String, oids: Seq[Int]): String =
    replacePlaceholders(query) { idx =>
      oids.lift(idx).filter(_ != 0).flatMap(sqlType)
        .map(t => s"CAST(NULL AS $t)").getOrElse("NULL")
    }
}

object PgWire {
  def start(gs: GraftSession, port: Int = 0,
      maxConnections: Int = 1000, acquireTimeoutMs: Long = 30000): PgWire =
    new PgWire(gs, port, maxConnections, acquireTimeoutMs)
}
