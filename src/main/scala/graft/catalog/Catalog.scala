package graft.catalog

import java.nio.file.{Files, Path, Paths}
import scala.collection.{immutable, mutable}
import scala.jdk.CollectionConverters._

/** Column metadata (reference kv/TableMetadata.java:293-353 stores the
  * declared SQL type string + derived runtime class; we store the declared
  * type plus constraint flags and derive the Spark type on demand). */
final case class ColumnDef(
    name: String,
    sqlType: String,        // normalized declared type, e.g. "BIGINT", "DECIMAL(10,2)", "TEXT[]"
    notNull: Boolean = false,
    unique: Boolean = false,
    serial: Boolean = false, // SERIAL/BIGSERIAL/IDENTITY — auto-filled from the table's sequence
    enumType: Option[String] = None,     // declared ENUM type name
    references: Option[(String, String)] = None, // FK → (table, column)
    default: Option[String] = None)      // DEFAULT expression (SQL text)

/** Table metadata. `version` points at the current copy-on-write snapshot
  * directory (`<warehouse>/<name>/v<version>`) — the file-based analogue of
  * the reference's MVCC versioning (kv/SchemaManager.java table versions):
  * writers publish a whole new snapshot dir and bump the pointer; readers
  * of an old version are never disturbed.
  */
final case class TableDef(
    name: String,
    columns: Seq[ColumnDef],
    primaryKey: Seq[String],
    version: Long = 0L,
    hasRowId: Boolean = false,
    uniqueKeys: Seq[Seq[String]] = Nil) { // composite UNIQUE(a,b,...) constraints // hidden auto-increment rowid (reference kv/KvQueryExecutor.java:2287-2303)
  def column(n: String): Option[ColumnDef] =
    columns.find(_.name.equalsIgnoreCase(n))
  def visibleColumns: Seq[ColumnDef] =
    if (hasRowId) columns.filterNot(_.name == TableDef.RowId) else columns
}

object TableDef { val RowId = "_graft_rowid" }

/** Sequence metadata (reference kv/SequenceMetadata.java + CAS allocation
  * kv/SchemaManager.java:777-898 — here a single-writer counter persisted
  * with the catalog). `oid` is the sequence's identity, as PostgreSQL's
  * sequence OID: it is fixed at creation and kept by renames (`copy`), so
  * [[Catalog.restore]] finds a renamed sequence under its new name. */
final case class SequenceDef(
    name: String,
    increment: Long = 1L,
    start: Long = 1L,
    minValue: Long = 1L,
    maxValue: Long = Long.MaxValue,
    cycle: Boolean = false,
    current: Option[Long] = None, // None until first nextval
    oid: String = java.util.UUID.randomUUID().toString)

/** View = stored SQL re-executed on read (reference kv/ViewMetadata.java);
  * matview = stored SQL + materialized snapshot refreshed explicitly
  * (reference kv/KvQueryExecutor.java:4900-5256). */
final case class ViewDef(name: String, sql: String, materialized: Boolean, version: Long = 0L)

/** Enum type = named allowed-value list validated on write
  * (reference kv/EnumMetadata.java, kv/KvQueryExecutor.java:4276-4301). */
final case class EnumDef(name: String, values: Seq[String])

/** JSON-persisted catalog, mirroring the reference SchemaManager's role.
  * Single-writer by design (SURVEY §7.4): every mutation rewrites
  * `catalog.json` atomically (write temp + move). State is tiny —
  * metadata only, never data. `file` is the catalog file loaded and
  * saved: `root`'s `catalog.json`, or for crash recovery the transaction
  * journal's copy of it, read as the pre-BEGIN snapshot and never saved.
  */
final class Catalog(val root: Path, file: Path) {
  def this(root: Path) = this(root, root.resolve("catalog.json"))
  Files.createDirectories(root)

  // State is held as @volatile IMMUTABLE maps swapped atomically under
  // the lock: a continuous matview maintainer reads these from its
  // streaming thread (versionStamp iterates all tables) while the
  // session thread mutates — unlocked readers always observe a complete,
  // insertion-ordered snapshot, never a torn LinkedHashMap mid-put.
  // VectorMap preserves insertion order across updates of existing keys
  // (a version bump does not move a table to the end of SHOW TABLES).
  @volatile private var _tables: immutable.VectorMap[String, TableDef] = immutable.VectorMap.empty
  @volatile private var _sequences: immutable.VectorMap[String, SequenceDef] = immutable.VectorMap.empty
  @volatile private var _views: immutable.VectorMap[String, ViewDef] = immutable.VectorMap.empty
  @volatile private var _enums: immutable.VectorMap[String, EnumDef] = immutable.VectorMap.empty

  def tables: Map[String, TableDef] = _tables
  def sequences: Map[String, SequenceDef] = _sequences
  def views: Map[String, ViewDef] = _views
  def enums: Map[String, EnumDef] = _enums

  load()

  def tableDir(t: TableDef): Path = root.resolve(t.name).resolve(s"v${t.version}")
  def matviewDir(v: ViewDef): Path = root.resolve("_mv_" + v.name).resolve(s"v${v.version}")

  def putTable(t: TableDef): Unit = synchronized { _tables = _tables.updated(t.name.toLowerCase, t); save() }
  def dropTable(n: String): Unit = synchronized { _tables = _tables.removed(n.toLowerCase); save() }
  def getTable(n: String): Option[TableDef] = _tables.get(n.toLowerCase)

  def putSequence(sq: SequenceDef): Unit = synchronized { _sequences = _sequences.updated(sq.name.toLowerCase, sq); save() }
  def dropSequence(n: String): Unit = synchronized { _sequences = _sequences.removed(n.toLowerCase); save() }

  def putView(v: ViewDef): Unit = synchronized { _views = _views.updated(v.name.toLowerCase, v); save() }
  def dropView(n: String): Unit = synchronized { _views = _views.removed(n.toLowerCase); save() }

  def putEnum(e: EnumDef): Unit = synchronized { _enums = _enums.updated(e.name.toLowerCase, e); save() }
  def dropEnum(n: String): Unit = synchronized { _enums = _enums.removed(n.toLowerCase); save() }

  /** Restore catalog state captured at BEGIN or a savepoint (ROLLBACK,
    * ROLLBACK TO and crash recovery). Version pointers flip back to the
    * snapshot's dirs — copy-on-write means those dirs were never
    * disturbed. Sequence VALUES are deliberately not rolled back: nextval
    * is non-transactional (PostgreSQL semantics — rolled-back SERIAL
    * inserts leave gaps, and a value a dead transaction handed out is
    * never handed out again), so a sequence of `sqs` that lives on keeps
    * its live definition and value. Sequence DDL is transactional: each
    * sequence of `sqs` is back under its `sqs` name, matched to the live
    * catalog by `oid`, so one that a RENAME of its SERIAL column renamed
    * keeps the values drawn before and after the rename. Sequences
    * created inside the transaction are dropped, and those it dropped
    * (DROP SEQUENCE) come back with their `sqs` definition and value. */
  def restore(ts: Seq[(String, TableDef)], vs: Seq[(String, ViewDef)],
      es: Seq[(String, EnumDef)], sqs: Seq[(String, SequenceDef)]): Unit = synchronized {
    _tables = immutable.VectorMap.from(ts)
    _views = immutable.VectorMap.from(vs)
    _enums = immutable.VectorMap.from(es)
    val live = _sequences.values.map(sq => sq.oid -> sq).toMap
    _sequences = immutable.VectorMap.from(sqs.map { case (n, sq) =>
      n -> live.get(sq.oid).fold(sq)(_.copy(name = sq.name)) })
    save()
  }

  /** Allocate the next value of a sequence (reference semantics:
    * INCREMENT/START/MIN/MAX/CYCLE; single-writer so a plain read-modify-
    * write replaces the reference's Cassandra CAS loop). */
  def nextVal(name: String): Long = synchronized {
    val sq = sequences.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"unknown sequence: $name"))
    val next = sq.current match {
      case None => sq.start
      case Some(c) =>
        val n = c + sq.increment
        if (n > sq.maxValue || n < sq.minValue) {
          if (!sq.cycle) throw new IllegalStateException(s"sequence $name exhausted")
          if (sq.increment > 0) sq.minValue else sq.maxValue
        } else n
    }
    _sequences = _sequences.updated(sq.name.toLowerCase, sq.copy(current = Some(next)))
    save()
    next
  }

  /** Reserve a contiguous block of `n` values in ONE catalog write (one
    * read-modify-write + one fsync regardless of batch size — the bulk
    * analogue of the reference's CAS block allocation,
    * kv/SchemaManager.java:777-898). Returns the first value; the block is
    * `first, first+increment, …, first+(n-1)*increment`. */
  def reserve(name: String, n: Long): Long = synchronized {
    require(n > 0, s"reserve: block size must be positive, got $n")
    val sq = sequences.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"unknown sequence: $name"))
    val f0 = sq.current.map(_ + sq.increment).getOrElse(sq.start)
    val first =
      if (f0 > sq.maxValue || f0 < sq.minValue) {
        if (!sq.cycle) throw new IllegalStateException(s"sequence $name exhausted")
        if (sq.increment > 0) sq.minValue else sq.maxValue
      } else f0
    val last = first + (n - 1) * sq.increment
    if (last > sq.maxValue || last < sq.minValue)
      throw new IllegalStateException(s"sequence $name exhausted (block of $n does not fit)")
    _sequences = _sequences.updated(sq.name.toLowerCase, sq.copy(current = Some(last)))
    save()
    first
  }

  // --- persistence: hand-rolled JSON (flat, schema-stable) so the library
  // has zero dependencies beyond Spark's own classpath.

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Synchronized: every caller inside Catalog already holds the monitor
    * (re-entrant, so this is free), but external callers (BEGIN's journal
    * snapshot) share the single catalog.json.tmp path — two unsynchronized
    * writers could interleave writeString on the tmp file and atomically
    * publish torn JSON. */
  def save(): Unit = synchronized {
    val sb = new StringBuilder("{\n")
    sb.append("\"tables\":[")
    sb.append(tables.values.map { t =>
      val cols = t.columns.map { c =>
        s"{${js("name")}:${js(c.name)},${js("type")}:${js(c.sqlType)}," +
          s"${js("notNull")}:${c.notNull},${js("unique")}:${c.unique}," +
          s"${js("serial")}:${c.serial}," +
          s"${js("enum")}:${c.enumType.map(js).getOrElse("null")}," +
          s"${js("refTable")}:${c.references.map(r => js(r._1)).getOrElse("null")}," +
          s"${js("refCol")}:${c.references.map(r => js(r._2)).getOrElse("null")}," +
          s"${js("default")}:${c.default.map(js).getOrElse("null")}}"
      }.mkString("[", ",", "]")
      s"{${js("name")}:${js(t.name)},${js("columns")}:$cols," +
        s"${js("pk")}:${t.primaryKey.map(js).mkString("[", ",", "]")}," +
        s"${js("uniqueKeys")}:${t.uniqueKeys.map(k => k.map(js).mkString("[", ",", "]")).mkString("[", ",", "]")}," +
        s"${js("version")}:${t.version},${js("rowid")}:${t.hasRowId}}"
    }.mkString(","))
    sb.append("],\n\"sequences\":[")
    sb.append(sequences.values.map { q =>
      s"{${js("name")}:${js(q.name)},${js("increment")}:${q.increment}," +
        s"${js("start")}:${q.start},${js("min")}:${q.minValue},${js("max")}:${q.maxValue}," +
        s"${js("cycle")}:${q.cycle},${js("current")}:${q.current.getOrElse("null")}," +
        s"${js("oid")}:${js(q.oid)}}"
    }.mkString(","))
    sb.append("],\n\"views\":[")
    sb.append(views.values.map { v =>
      s"{${js("name")}:${js(v.name)},${js("sql")}:${js(v.sql)}," +
        s"${js("materialized")}:${v.materialized},${js("version")}:${v.version}}"
    }.mkString(","))
    sb.append("],\n\"enums\":[")
    sb.append(enums.values.map { e =>
      s"{${js("name")}:${js(e.name)},${js("values")}:${e.values.map(js).mkString("[", ",", "]")}}"
    }.mkString(","))
    sb.append("]\n}")
    val tmp = root.resolve("catalog.json.tmp")
    Files.writeString(tmp, sb.toString)
    Files.move(tmp, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def load(): Unit = {
    if (!Files.exists(file)) return
    val root = Json.parse(Files.readString(file)).asInstanceOf[Map[String, Any]]
    def arr(k: String): Seq[Map[String, Any]] =
      root.getOrElse(k, Nil).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
    arr("tables").foreach { m =>
      val cols = m("columns").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]]).map { c =>
        ColumnDef(
          c("name").asInstanceOf[String], c("type").asInstanceOf[String],
          c("notNull").asInstanceOf[Boolean], c("unique").asInstanceOf[Boolean],
          c("serial").asInstanceOf[Boolean],
          Option(c("enum")).collect { case s: String => s },
          (Option(c("refTable")), Option(c("refCol"))) match {
            case (Some(t: String), Some(cc: String)) => Some((t, cc))
            case _ => None
          },
          Option(c.getOrElse("default", null)).collect { case s: String => s })
      }
      val t = TableDef(m("name").asInstanceOf[String], cols,
        m("pk").asInstanceOf[Seq[Any]].map(_.asInstanceOf[String]),
        m("version").asInstanceOf[Number].longValue(), m("rowid").asInstanceOf[Boolean],
        m.getOrElse("uniqueKeys", Seq.empty[Any]).asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Seq[Any]].map(_.asInstanceOf[String])))
      _tables = _tables.updated(t.name.toLowerCase, t)
    }
    arr("sequences").foreach { m =>
      val q = SequenceDef(m("name").asInstanceOf[String],
        m("increment").asInstanceOf[Number].longValue(),
        m("start").asInstanceOf[Number].longValue(),
        m("min").asInstanceOf[Number].longValue(),
        m("max").asInstanceOf[Number].longValue(),
        m("cycle").asInstanceOf[Boolean],
        Option(m("current")).collect { case n: Number => n.longValue() },
        // a catalog written before sequences had an oid: the name stands in
        m.get("oid").collect { case o: String => o }.getOrElse(m("name").asInstanceOf[String]))
      _sequences = _sequences.updated(q.name.toLowerCase, q)
    }
    arr("views").foreach { m =>
      val v = ViewDef(m("name").asInstanceOf[String], m("sql").asInstanceOf[String],
        m("materialized").asInstanceOf[Boolean], m("version").asInstanceOf[Number].longValue())
      _views = _views.updated(v.name.toLowerCase, v)
    }
    arr("enums").foreach { m =>
      val e = EnumDef(m("name").asInstanceOf[String],
        m("values").asInstanceOf[Seq[Any]].map(_.asInstanceOf[String]))
      _enums = _enums.updated(e.name.toLowerCase, e)
    }
  }
}

/** Minimal recursive-descent JSON reader for the catalog file and the
  * transaction journal (we control both writer and reader; no external
  * dependency). Numbers → Long or Double, null → null, objects → Map,
  * arrays → Seq. */
private[graft] object Json {
  def parse(s: String): Any = new P(s).value()

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = {
      ws(); require(i < s.length && s.charAt(i) == c, s"expected $c at $i"); i += 1
    }
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' => obj()
        case '[' => array()
        case '"' => string()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ => number()
      }
    }
    private def obj(): Map[String, Any] = {
      expect('{'); ws()
      val m = mutable.LinkedHashMap[String, Any]()
      if (s.charAt(i) == '}') { i += 1; return m.toMap }
      while (true) {
        ws(); val k = string(); expect(':'); m(k) = value(); ws()
        if (s.charAt(i) == ',') i += 1
        else { expect('}'); return m.toMap }
      }
      m.toMap
    }
    private def array(): Seq[Any] = {
      expect('['); ws()
      val b = mutable.ArrayBuffer[Any]()
      if (s.charAt(i) == ']') { i += 1; return b.toSeq }
      while (true) {
        b += value(); ws()
        if (s.charAt(i) == ',') i += 1
        else { expect(']'); return b.toSeq }
      }
      b.toSeq
    }
    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'; case '/' => sb += '/'
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case 'b' => sb += '\b'; case 'f' => sb += '\f'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def number(): Any = {
      val st = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      val t = s.substring(st, i)
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
    }
  }
}
