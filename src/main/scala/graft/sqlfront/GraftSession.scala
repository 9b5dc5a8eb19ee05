package graft.sqlfront

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.View
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.functions.PointLookup

/** The engine's SQL entry point: statement routing + DDL/DML interpreters
  * over a [[Catalog]]-managed parquet warehouse, with the entire SELECT
  * surface delegated to Catalyst (SURVEY §7.1 principle: hand-write only
  * catalog + DDL/DML + compatibility shims; let Spark parse, optimize and
  * execute queries — the inverse of the reference, which hand-wrote
  * execution per statement type in kv/KvQueryExecutor.java:90-175's
  * dispatch switch).
  *
  * Storage: copy-on-write snapshots. INSERT appends part-files to the
  * current snapshot dir; UPDATE/DELETE write a new `v<N+1>` dir and bump
  * the catalog pointer (the file-level analogue of the reference's MVCC
  * versioning; SURVEY §7.4 DML-on-Spark). Constraint checks (NOT NULL /
  * UNIQUE / FK / enum / JSON validity, reference
  * kv/KvQueryExecutor.java:4276-4583) run as distributed anti-joins and
  * aggregates — never driver loops — before any write is published.
  */
final class GraftSession(val spark: SparkSession, warehouse: Path) {
  import GraftSession.{deleteRecursively, versionDirRe}

  // -------------------------------------------- txn crash recovery (open)

  // journals live in the root of the DATABASE the transaction mutates —
  // each database arms and recovers independently (the default at
  // construction, secondaries when first connected). `\c` refuses inside
  // a transaction, so the live catalog cannot change between BEGIN's
  // arming and COMMIT/ROLLBACK's disarming.
  private def txnCatalogJournal = catalog.root.resolve("_txn_catalog.json")
  private def txnFilesJournal = catalog.root.resolve("_txn_files.json")
  private def txnOwnerFile = catalog.root.resolve("_txn_owner")

  /** True when the journal's owner is a DIFFERENT, still-running OS
    * process: its transaction is live, not crashed, so recovery must not
    * reclaim it (the reference's lock cleanup checks holder liveness the
    * same way, kv/KvTransactionCoordinator.java:537-664). A same-pid owner
    * cannot be distinguished from an abandoned session object, so opening
    * a second GraftSession in the SAME process on a warehouse with an open
    * transaction rolls that transaction back — documented limitation. */
  private def txnOwnerAlive(ownerFile: Path): Boolean =
    try {
      if (!Files.exists(ownerFile)) false
      else {
        val pid = Files.readString(ownerFile).trim.toLong
        pid != ProcessHandle.current().pid() &&
          ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
      }
    } catch { case _: Exception => false }

  /** A journal pair left behind in `cat`'s database means a previous
    * session died inside BEGIN…COMMIT on it. `cat` holds the catalog the
    * dead transaction left; recovery rolls it back to the journaled
    * pre-BEGIN snapshot with [[restoreSnapshot]] — the one restore that
    * ROLLBACK, ROLLBACK TO and crash recovery share (mirrors the
    * reference's lock-cleanup recovery,
    * kv/KvTransactionCoordinator.java:537-664, at single-session scope).
    * Returns `cat`, recovered.
    *
    * Recovery is IDEMPOTENT: restoreSnapshot restores the catalog only
    * after every delete, and the journals are deleted only after it
    * completes — catalog-journal removal is the commit point of recovery,
    * so a crash at any intermediate step just re-runs the whole recovery
    * on the next open.
    *
    * A catalog journal WITHOUT a files journal can only mean a previous
    * recovery finished the un-append and died before its commit point
    * (BEGIN arms files→owner→catalog, recovery disarms the same order).
    * Its snapshot lists no files, and restoreSnapshot un-appends only the
    * tables its snapshot lists, so the re-run deletes no part-file. */
  private def recoverTxn(cat: Catalog): Catalog = {
    val cj = cat.root.resolve("_txn_catalog.json")
    val fj = cat.root.resolve("_txn_files.json")
    val ownerF = cat.root.resolve("_txn_owner")
    if (Files.exists(cj) && !txnOwnerAlive(ownerF)) {
      val files =
        if (!Files.exists(fj)) Map.empty[String, Set[String]]
        else Json.parse(Files.readString(fj)).asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.asInstanceOf[Seq[Any]].map(_.toString).toSet }
      restoreSnapshot(cat, snapshotOf(new Catalog(cat.root, cj), files), Nil)
      Files.deleteIfExists(fj)
      Files.deleteIfExists(ownerF)
      // commit point of recovery — deleted LAST
      Files.deleteIfExists(cj)
    }
    cat
  }

  // ------------------------------------------- per-connection contexts

  /** The engine-global default context: Shell, SqlHttp, embedded callers
    * and background jobs all share it — the original single-session
    * semantics. Wire connections get their OWN context (see
    * [[openConnectionContext]]), so two concurrent PG connections can sit
    * in two different databases with independent prepared-statement and
    * cursor registries, exactly as the reference resolves each
    * connection's startup `database` independently
    * (kv/DatabaseRegistry.java:29-60, postgres/PostgresConnectionHandler
    * startup path). The shared ENGINE state (statement gate, COW
    * snapshots, single-writer transaction, stats, warehouse) stays on
    * this GraftSession. */
  private val defaultCtx = new ConnContext("graft", recoverTxn(new Catalog(warehouse)))

  /** Thread-routed context override: PgWire's one-thread-per-connection
    * model means binding the connection's context to its handler thread
    * scopes EVERY statement that thread executes — catalog resolution,
    * `current_database()`, prepared statements, cursors, meta-commands —
    * with no per-call-site plumbing. Threads without a binding (Shell,
    * HTTP, tests, background jobs) fall through to the default context. */
  private val ctxTL = new ThreadLocal[ConnContext]
  private def ctx: ConnContext = {
    val c = ctxTL.get
    if (c == null) defaultCtx else c
  }

  /** Every live context (default + open wire connections) — consulted by
    * DROP DATABASE so a database some connection is sitting in cannot be
    * deleted under it (PG's 55006 "being accessed by other users"). */
  private val liveContexts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[ConnContext]()
  liveContexts.add(defaultCtx)

  /** Open a connection-scoped context bound to `db0` (or the default
    * context's current database when the startup carried no `database`
    * parameter). Throws on a nonexistent database — PgWire maps that to
    * the PG FATAL 3D000 before AuthenticationOk.
    *
    * LOCK-FREE by design: a pool warming N connections during a long
    * DML must not stall at connect (the round-16 handshake-stall fix —
    * the fair gate queues new readers behind a WAITING writer, so even
    * the read side would stall the handshake). The DROP DATABASE race
    * is closed by re-checking existence AFTER registering in
    * liveContexts: the drop's in-use scan runs under the write gate, so
    * either it sees this context and refuses, or the deletion is
    * visible to the re-check here and the handshake refuses. (The
    * residual window — directory deleted between re-check and first
    * statement — surfaces as a loud statement error, never a silent
    * misread.) */
  def openConnectionContext(db0: Option[String]): ConnContext = {
    val name = db0.map(_.toLowerCase).filter(_.nonEmpty).getOrElse(defaultCtx.dbName)
    if (!dbExists(name))
      throw new IllegalArgumentException(s"""database "$name" does not exist""")
    val c = new ConnContext(name, catalogFor(name))
    liveContexts.add(c)
    if (!dbExists(name)) {
      liveContexts.remove(c)
      throw new IllegalArgumentException(s"""database "$name" does not exist""")
    }
    c
  }

  /** Unregister a connection's context. If the connection owned the open
    * transaction (BEGIN without COMMIT when the client hung up), roll it
    * back — PG's disconnect semantics; leaving it open would wedge every
    * writer behind the cross-database transaction guard forever. */
  def closeConnectionContext(c: ConnContext): Unit = {
    liveContexts.remove(c)
    if (activeTxnCtx eq c) withStatementLock("ROLLBACK") {
      if (activeTxnCtx eq c) { // re-check under the write lock
        bindContext(c)
        try rollbackTxn() finally unbindContext()
      }
    }
  }

  /** Bind `c` to the CURRENT thread (PgWire handler threads call this
    * once after openConnectionContext). */
  def bindContext(c: ConnContext): Unit = ctxTL.set(c)
  def unbindContext(): Unit = ctxTL.remove()

  /** Live catalog — the CURRENT CONTEXT's database. `\c`/connectDatabase
    * swaps it (multi-database minimum, reference
    * kv/DatabaseRegistry.java:29-60: name→storage-namespace registry with
    * create/drop/switch). */
  def catalog: Catalog = ctx.cat

  // ----------------------------------------------------------- databases

  /** Multi-database registry (reference kv/DatabaseRegistry.java:29-60 —
    * there a database maps to a Cassandra keyspace; here to a warehouse
    * sub-root `_db_<name>/` with its own Catalog + COW snapshot tree).
    * The default database "graft" roots at the warehouse itself, so
    * single-database sessions are bit-compatible with every prior layout.
    * Existence IS the directory: no separate registry file to drift. */
  def currentDatabase: String = ctx.dbName

  // mirror the default database into Spark's catalog so the builtin
  // current_database() answers "graft" from the first statement (temp
  // views are database-agnostic, so table resolution is unaffected)
  spark.sql("CREATE DATABASE IF NOT EXISTS graft")
  spark.sql("USE graft")

  private val dbCatalogs =
    scala.collection.mutable.Map[String, Catalog]("graft" -> defaultCtx.cat)

  /** One Catalog instance per database, shared by every context bound to
    * it (two connections in one database must see each other's DDL
    * instantly — the Catalog IS the shared engine state). First touch
    * runs that database's own crash recovery before the catalog loads. */
  private def catalogFor(name: String): Catalog = dbCatalogs.synchronized {
    // existence re-check INSIDE the monitor: a lock-free handshake racing
    // DROP DATABASE must not re-insert a Catalog for a database whose
    // directory is mid-delete (dropDatabase's post-delete purge below
    // closes the other half of this race)
    if (!dbExists(name))
      throw new IllegalArgumentException(s"""database "$name" does not exist""")
    dbCatalogs.getOrElseUpdate(name, recoverTxn(new Catalog(dbRoot(name))))
  }

  private def dbRoot(name: String): Path =
    if (name == "graft") warehouse else warehouse.resolve("_db_" + name)

  private def dbExists(name: String): Boolean =
    name == "graft" || Files.isDirectory(warehouse.resolve("_db_" + name))

  /** All databases, default first then created ones in name order. */
  def databases: Seq[String] = "graft" +: {
    if (!Files.isDirectory(warehouse)) Nil
    else {
      val s = Files.list(warehouse)
      try s.iterator().asScala.toSeq
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("_db_"))
        .map(_.getFileName.toString.stripPrefix("_db_")).sorted
      finally s.close()
    }
  }

  /** The input of the `pg_database` registration: [[databases]] as of
    * this session's last CREATE DATABASE, DROP DATABASE or `\c`, so the
    * per-statement registration check lists no directory. */
  @volatile private var databaseList: Seq[String] = databases

  private def requireDbName(name: String): Unit =
    require(name.matches("[a-z_][a-z0-9_]*"),
      s"invalid database name: $name (lowercase identifier required)")

  def createDatabase(name0: String): Unit = {
    val name = name0.toLowerCase // PG folds unquoted identifiers
    requireDbName(name)
    require(!ownsTransaction, "CREATE DATABASE cannot run inside a transaction block")
    if (dbExists(name))
      throw new IllegalArgumentException(s"""database "$name" already exists""")
    Files.createDirectories(dbRoot(name))
    databaseList = databases
  }

  def dropDatabase(name0: String, ifExists: Boolean): Unit = {
    val name = name0.toLowerCase
    require(!ownsTransaction, "DROP DATABASE cannot run inside a transaction block")
    require(name != "graft", """cannot drop the default database "graft"""")
    require(name != ctx.dbName,
      s"""cannot drop the currently open database "$name"""")
    // per-connection binding: another live context sitting in the victim
    // would be left reading deleted snapshot dirs — PG's 55006 refusal
    val users = {
      val it = liveContexts.iterator()
      var n = 0
      while (it.hasNext) { val c = it.next(); if ((c ne ctx) && c.dbName == name) n += 1 }
      n
    }
    require(users == 0,
      s"""database "$name" is being accessed by other users ($users other connection(s))""")
    if (!dbExists(name)) {
      if (ifExists) return
      throw new IllegalArgumentException(s"""database "$name" does not exist""")
    }
    dbCatalogs.synchronized { dbCatalogs.remove(name) }
    // stop any continuous matview maintainers watching this database's
    // snapshot dirs — their file streams would otherwise idle against
    // deleted paths (same hook the snapshot-supersede path uses)
    graft.streaming.MatviewMaintenance.onSnapshotChange(dbRoot(name).toString)
    // purge the dropped database's ANALYZE stats: a recreated same-named
    // db.table whose version number coincides would otherwise inherit
    // them through the freshness gate — the wrong-broadcast-hint hazard
    if (statsCache.keys.exists(_.startsWith(name + "."))) {
      statsCache = statsCache.filterNot { case (k, _) => k.startsWith(name + ".") }
      saveStats()
    }
    // Spark-catalog mirror goes FIRST (it can refuse; the directory
    // delete cannot be undone). If a sibling session left Spark's
    // current database pointing at the victim, repoint to this session's
    // own database so CASCADE cannot fail on "cannot drop current".
    if (spark.catalog.currentDatabase == name)
      spark.sql(s"USE ${ctx.dbName}")
    spark.sql(s"DROP DATABASE IF EXISTS $name CASCADE")
    // recursive delete of the database's whole storage namespace
    val rootDir = dbRoot(name)
    PointLookup.release(rootDir)
    deleteRecursively(rootDir)
    // purge AGAIN after the delete, under the catalogFor monitor: a
    // lock-free handshake that re-inserted a Catalog between the early
    // remove and the directory delete would otherwise leave a zombie
    // entry that a recreated same-name database inherits (review find —
    // catalogFor's in-monitor dbExists check closes the other half)
    dbCatalogs.synchronized { dbCatalogs.remove(name) }
    databaseList = databases
  }

  /** Switch THIS CONTEXT to `name` (psql `\c`) — with per-connection
    * binding a wire connection's `\c` moves only that connection; other
    * contexts keep their databases. The next statement's [[registerAll]]
    * moves the temp views over: every table, view and matview
    * registration carries its catalog's identity, so the new catalog's
    * are rebuilt, and names only the previous database defined are
    * dropped. */
  def connectDatabase(name0: String): Unit = {
    val name = name0.toLowerCase
    // owner-scoped: another connection's open transaction must not pin
    // THIS connection's database (its own writes are already guarded)
    require(!ownsTransaction, "cannot switch databases inside a transaction block")
    if (!dbExists(name))
      throw new IllegalArgumentException(s"""database "$name" does not exist""")
    if (name != ctx.dbName) {
      // PG parity: \c is a NEW connection — this context's prepared
      // statements and open cursors do not survive it (theirs would
      // otherwise keep reading the previous database's snapshots)
      ctx.prepared.clear()
      ctx.cursors.clear()
      ctx.dbName = name
      // first connect instantiates the catalog — catalogFor runs this
      // database's own crash recovery first, so a txn journal a dead
      // process left in its root restores BEFORE the catalog loads
      ctx.cat = catalogFor(name)
      // mirror into Spark's own catalog namespace so the builtin
      // current_database() reports the live name (serialized with
      // registerAll's USE re-sync)
      withRegWrite {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $name")
        spark.sql(s"USE $name")
      }
      databaseList = databases
    }
  }

  /** Stable database oid (the relOid discipline; "graft" keeps oid 1 for
    * continuity with the old static row). */
  private def dbOid(name: String): Long =
    if (name == "graft") 1L
    else 16384L + (scala.util.hashing.MurmurHash3.stringHash("db:" + name).toLong & 0x7fffffffL)

  // ---------------------------------------------------------------- read

  /** Directory-emptiness probe that closes its Files.list stream (leaked
    * directory fds otherwise accumulate over a long-lived session). */
  private def dirNonEmpty(dir: Path): Boolean = {
    if (!Files.exists(dir)) return false
    val s = Files.list(dir)
    try s.iterator().hasNext finally s.close()
  }

  /** Current snapshot of a table, reconciled to catalog schema: columns
    * added by ALTER after the snapshot was written are null-filled;
    * dropped columns are projected away (metadata-only ALTER, reference
    * kv/KvQueryExecutor.java:2981-3098). Includes the hidden rowid. */
  def tableDf(t: TableDef): DataFrame = snapshotDf(t, Map.empty)

  private def snapshotDf(t: TableDef, options: Map[String, String]): DataFrame = {
    val dir = catalog.tableDir(t)
    val schema = StructType(t.columns.map(c =>
      StructField(c.name, TypeMap.toSpark(c.sqlType), nullable = true)))
    // explicit catalog schema (not footer inference): columns ALTERed in
    // after a file was written are null-filled by the parquet reader,
    // dropped columns are ignored, and mixed-schema snapshot dirs read
    // deterministically without a mergeSchema footer sweep.
    if (!dirNonEmpty(dir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).options(options).parquet(dir.toString)
  }

  /** Visible (rowid-free) projection, as SELECT * must show it
    * (reference kv/KvQueryExecutor.java:2727-2744). Backs the public
    * table views, so its read is tagged with a single-column primary
    * key and `WHERE pk = <literal>` in a statement's query is served by
    * [[graft.functions.PointLookupRule]]'s index. A DML statement reads
    * its own target through the untagged [[tableDf]]. */
  def visibleDf(t: TableDef): DataFrame = {
    val pkTag = t.primaryKey match {
      case Seq(k) => t.column(k).map(c => PointLookup.PkOption -> c.name).toMap
      case _ => Map.empty[String, String]
    }
    snapshotDf(t, pkTag).select(t.visibleColumns.map(c => col(c.name)): _*)
  }

  /** One temp view of the session's SQL surface: its name, the inputs its
    * plan is built from, and how to build it (None: nothing to read, so
    * the name stays unregistered). */
  private final class Registration(
      val name: String, val inputs: Any, val build: () => Option[DataFrame])

  /** Every temp view this context registers, in install order: the
    * pg_catalog-lite introspection views (reference
    * kv/PgCatalogManager.java: pg_class / pg_attribute emulation), which
    * read no other temp view, then the catalog's tables, then its views
    * and matviews in creation order, so views-on-views resolve.
    *
    * A registration's inputs are what its plan is built from that a
    * statement can change. A table's, view's or matview's are the
    * catalog's identity (the same definition in two databases reads
    * different files) and its definition, version included; a table's
    * add its ANALYZE stats entry, which picks the broadcast hint. A
    * pg_catalog view's are exactly what its rows are computed from: the
    * catalog metadata with versions left out, the live Spark conf, the
    * stats, the database list, or nothing for the static ones. An append
    * into a table's current snapshot moves none of these, so the writer
    * removes the table's standing registration instead (see [[appendFused]]
    * and [[restoreSnapshot]]).
    *
    * Listing is free of side effects: a build runs only in [[install]],
    * so [[registrationsCurrent]] and [[registerAll]] share this list. */
  private def registrations: Seq[Registration] = {
    import spark.implicits._
    val cat = catalog
    // what the metadata pg_catalog views are built from: tables, views and
    // enums, with the snapshot versions data writes move left out
    val meta = (cat.tables.values.map(_.copy(version = 0L)).toSeq,
      cat.views.values.map(_.copy(version = 0L)).toSeq, cat.enums.values.toSeq)
    val conf = spark.conf.getAll
    val db = ctx.dbName
    val stats = statsCache
    val dbs = databaseList
    def reg(name: String, inputs: Any)(build: => DataFrame) =
      new Registration(name, inputs, () => Some(build))
    // pg_index: one row per PK / unique constraint, synthesized from
    // catalog metadata (reference kv/PgCatalogManager.java emulates the
    // same surface from its TableMetadata).
    lazy val idxRows = cat.tables.values.flatMap { t =>
      val pk =
        if (t.primaryKey.nonEmpty)
          Seq((s"${t.name}_pkey", t.name, true, true, t.primaryKey.mkString(",")))
        else Nil
      val singles = t.columns.filter(_.unique).map(c =>
        (s"${t.name}_${c.name}_key", t.name, true, false, c.name))
      val composites = t.uniqueKeys.zipWithIndex.map { case (k, i) =>
        (s"${t.name}_uq${i + 1}_key", t.name, true, false, k.mkString(","))
      }
      pk ++ singles ++ composites
    }.toSeq
    // pg_constraint: PK / UNIQUE / FK rows synthesized from the same
    // metadata the engine enforces (reference kv/PgCatalogManager.java:
    // 64-78 registration, kv/PgCatalogTable.java:235-272 shape). conkey /
    // confkey are 1-based attnums into pg_attribute, so the standard
    // introspection join pg_constraint → pg_class → pg_attribute resolves
    // a constraint's columns end-to-end.
    lazy val conRows = cat.tables.values.flatMap { t =>
      def nums(ks: Seq[String]): Seq[Int] = ks.map(attnum(t, _))
      val rel = relOid(t.name)
      val pk =
        if (t.primaryKey.isEmpty) Nil
        else Seq((relOid(s"${t.name}_pkey"), s"${t.name}_pkey", NsPublic, "p",
          rel, 0L, nums(t.primaryKey), Seq.empty[Int], true))
      val singles = t.columns.filter(_.unique).map { c =>
        (relOid(s"${t.name}_${c.name}_key"), s"${t.name}_${c.name}_key", NsPublic, "u",
          rel, 0L, nums(Seq(c.name)), Seq.empty[Int], true)
      }
      val composites = t.uniqueKeys.zipWithIndex.map { case (k, i) =>
        (relOid(s"${t.name}_uq${i + 1}_key"), s"${t.name}_uq${i + 1}_key", NsPublic, "u",
          rel, 0L, nums(k), Seq.empty[Int], true)
      }
      val fks = t.columns.flatMap(c => c.references.map { case (rt, rc) =>
        val refNums = cat.getTable(rt).map(r => Seq(attnum(r, rc))).getOrElse(Nil)
        (relOid(s"${t.name}_${c.name}_fkey"), s"${t.name}_${c.name}_fkey", NsPublic, "f",
          rel, relOid(rt), nums(Seq(c.name)), refNums, true)
      })
      pk ++ singles ++ composites ++ fks
    }.toSeq
    val pgViews = Seq(
      reg("pg_class", meta)(
        (cat.tables.values.map(t => (relOid(t.name), t.name, NsPublic, "r")).toSeq ++
          cat.views.values.map(v =>
            (relOid(v.name), v.name, NsPublic, if (v.materialized) "m" else "v")))
          .toDF("oid", "relname", "relnamespace", "relkind")),
      reg("pg_attribute", meta)(
        cat.tables.values.flatMap(t =>
          t.visibleColumns.zipWithIndex.map { case (c, i) =>
            (relOid(t.name), t.name, c.name, c.sqlType, i + 1, c.notNull)
          }).toSeq
          .toDF("attrelid", "relname", "attname", "atttype", "attnum", "attnotnull")),
      reg("pg_index", meta)(
        idxRows.toDF("indexname", "relname", "indisunique", "indisprimary", "indkey")),
      // pg_tables / pg_indexes: the simplified compatibility views psql and
      // ORMs query by name (reference kv/PgCatalogTable.java:325-353).
      reg("pg_tables", meta)(
        cat.tables.values.map(t => ("public", t.name, "graft")).toSeq
          .toDF("schemaname", "tablename", "tableowner")),
      reg("pg_indexes", meta)(
        idxRows.map { case (iname, rel, uq, _, cols) =>
          val kw = if (uq) "UNIQUE " else ""
          ("public", rel, iname, s"CREATE ${kw}INDEX $iname ON $rel ($cols)")
        }.toDF("schemaname", "tablename", "indexname", "indexdef")),
      // pg_type: base types plus user enum types ('b' vs 'e' typtype).
      reg("pg_type", meta)(
        (Seq("bool", "int2", "int4", "int8", "float4", "float8", "numeric", "text",
          "varchar", "date", "time", "timestamp", "timestamptz", "interval", "json",
          "jsonb", "bytea", "uuid").map((_, "b")) ++ cat.enums.values.map(e => (e.name, "e")))
          .toDF("typname", "typtype")),
      reg("pg_constraint", meta)(
        conRows.toDF("oid", "conname", "connamespace", "contype", "conrelid",
          "confrelid", "conkey", "confkey", "convalidated")),
      // pg_attrdef: column DEFAULT expressions, incl. the implicit nextval
      // of SERIAL columns (reference kv/PgCatalogTable.java:274-286).
      reg("pg_attrdef", meta)(
        cat.tables.values.flatMap { t =>
          t.visibleColumns.flatMap { c =>
            val expr =
              if (c.serial) Some(s"nextval('${t.name}_${c.name}_seq')") else c.default
            expr.map(e =>
              (relOid(s"${t.name}_${c.name}_def"), relOid(t.name), attnum(t, c.name), e))
          }
        }.toSeq.toDF("oid", "adrelid", "adnum", "adbin")),
      // pg_depend: FK constraints depend on the table they reference —
      // enough for tools walking drop-order (reference doc list, 'n'ormal).
      reg("pg_depend", meta)(
        conRows.filter(_._4 == "f").map(r => (r._1, r._6, "n"))
          .toDF("objid", "refobjid", "deptype")),
      // pg_settings: live session configuration (reference serves a fixed
      // GUC list at protocol level; here the real Spark conf).
      reg("pg_settings", conf)(conf.toSeq.toDF("name", "setting")),
      // pg_stats-lite: one row per ANALYZEd column of THIS database,
      // bare-named (reference kv/PgCatalogManager emulation scope; PG
      // exposes the same numbers through pg_stats/pg_class.reltuples)
      reg("pg_stats", (db, stats))(
        stats.toSeq.flatMap { case (k, st) =>
          val (kdb, tn) =
            if (k.contains(".")) { val p = k.split("\\.", 2); (p(0), p(1)) }
            else ("graft", k)
          if (kdb != db) Nil
          else st.cols.map { case (c, ndv, nulls) =>
            (tn, c, st.rowCount, ndv,
              if (st.rowCount == 0) 0.0 else nulls.toDouble / st.rowCount)
          }
        }.toDF("tablename", "attname", "reltuples", "n_distinct", "null_frac")),
      reg("pg_database", dbs)(
        dbs.map(n => (dbOid(n), n, true)).toDF("oid", "datname", "datallowconn")),
      // the rest never change over a session's life (reference
      // kv/PgCatalogManager.java doc list). pg_namespace: fixed schema
      // list, like the reference's emulation.
      reg("pg_namespace", ())(
        Seq("public", "pg_catalog", "information_schema").map(Tuple1(_)).toDF("nspname")),
      // pg_proc: the callable surface — Spark builtins plus graft's native
      // SQL-registered expressions (reference lists its function registry).
      reg("pg_proc", ())(
        (spark.catalog.listFunctions().collect().map(f => (f.name, "public")).toSeq :+
          (("nextval", "pg_catalog"))).distinct.toDF("proname", "pronamespace")),
      reg("pg_roles", ())(
        Seq((10L, "graft", true, true)).toDF("oid", "rolname", "rolsuper", "rolcanlogin")),
      reg("pg_am", ())(
        Seq((2L, "heap", "t"), (403L, "btree", "i"), (405L, "hash", "i"))
          .toDF("oid", "amname", "amtype")),
      reg("pg_tablespace", ())(
        Seq((1663L, "pg_default"), (1664L, "pg_global")).toDF("oid", "spcname")),
      reg("pg_operator", ())(
        Seq("=", "<>", "<", "<=", ">", ">=", "+", "-", "*", "/", "%", "||",
          "~~", "!~~", "~", "~*", "!~", "!~*", "->", "->>", "#>", "#>>")
          .zipWithIndex.map { case (op, i) => (91L + i, op) }.toDF("oid", "oprname")),
      // COMMENT ON is unsupported (as in the reference) — the table exists
      // and is empty so introspection joins resolve instead of erroring
      reg("pg_description", ())(
        Seq.empty[(Long, Long, Int, String)]
          .toDF("objoid", "classoid", "objsubid", "description")))
    val tables = cat.tables.values.map { t =>
      val st = stats.get(statsKey(t.name))
      reg(t.name, (cat, t, st)) {
        val df = visibleDf(t)
        // stats→plan feedback: a table whose FRESH ANALYZE stats put it
        // under the broadcast threshold registers with a broadcast hint,
        // so joins against it skip the shuffle even when parquet file
        // sizes (many small part-files) overestimate it. Stale stats
        // (version moved since ANALYZE) never hint — a wrong broadcast
        // of a now-large table would be an OOM, not a slowdown.
        st match {
          case Some(s) if s.version == t.version &&
            s.rowCount * (t.visibleColumns.size * 32L) < 10L * 1024 * 1024 =>
            broadcast(df)
          case _ => df
        }
      }
    }
    // a matview at version 0 was never materialized (its first
    // materialize failed) and has no snapshot to read; matviewDf leaves
    // any other matview without a part file unregistered
    val views = cat.views.values.collect {
      case v if !v.materialized => reg(v.name, (cat, v))(spark.sql(rewriteForCtx(v.sql)))
      case v if v.version > 0 => new Registration(v.name, (cat, v), () => matviewDf(v))
    }
    pgViews ++ tables ++ views
  }

  /** A matview snapshot, read through [[graft.Tables.readParquet]]: its
    * schema comes from a part file's footer on the driver, so the first
    * statement after a REFRESH runs no Spark job to infer it. None when
    * the snapshot has no part file to read. */
  private def matviewDf(v: ViewDef): Option[DataFrame] = {
    val dir = catalog.matviewDir(v)
    Option.when(listDir(dir).exists(n => n.startsWith("part-") && n.endsWith(".parquet")))(
      graft.Tables.readParquet(spark, dir.toString))
  }

  /** Make the shared SparkSession's temp views this context's: re-sync
    * Spark's current database, drop every installed name that
    * [[registrations]] does not list (another database's or session's
    * table, or one DROP or ROLLBACK removed), and [[install]] the rest.
    * After no write this rebuilds nothing; after a write, only the
    * registrations whose inputs moved or that Spark no longer holds as
    * installed, and the views that read them. Two contexts alternating
    * databases on the shared SparkSession's single temp-view namespace
    * rebuild each other's tables on every turn, serialized under the reg
    * write lock; a per-context `SparkSession.newSession()` would remove
    * that at the cost of per-session conf and extension plumbing. */
  def registerAll(): Unit = withRegWrite {
    // Spark's current database is session-global: a sibling context or
    // GraftSession (or a fresh constructor's USE graft) may have moved
    // it — re-sync so qualified resolution tracks THIS context's database
    if (spark.catalog.currentDatabase != ctx.dbName) {
      // a wire context bound at startup may target a database no `\c`
      // ever mirrored into Spark's catalog — create the namespace first
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${ctx.dbName}")
      spark.sql(s"USE ${ctx.dbName}")
    }
    val regs = registrations
    strays(regs).foreach { n =>
      spark.catalog.dropTempView(n)
      GraftSession.installed.remove(n)
    }
    regs.foreach(install)
  }

  /** Installed names that `regs` does not list. */
  private def strays(regs: Seq[Registration]): Iterable[String] = {
    val names = regs.iterator.map(_.name).toSet
    GraftSession.installed.keySet.asScala.filterNot(names).toSeq
  }

  /** True when the registration standing at `r.name` was built from
    * `r.inputs` and is still what Spark resolves: the session catalog
    * holds the very relation installed then, and every temp view that
    * relation read still holds the relation it read. A view's analyzed
    * plan inlines the views it reads, so it goes stale when one of them
    * is rebuilt; a relation is replaced by a sibling session's
    * registration, MatviewMaintenance's streaming shadow of a base table,
    * or DROP's drop. */
  private def current(r: Registration): Boolean = {
    val sc = spark.sessionState.catalog
    def holds(n: String, rel: AnyRef): Boolean = sc.getRawTempView(n).exists(_ eq rel)
    val prev = GraftSession.installed.get(r.name)
    prev != null && prev.inputs == r.inputs && holds(r.name, prev.relation) &&
      prev.reads.forall { case (n, rel) => holds(n, rel) }
  }

  /** Build and install `r` as its temp view unless it is [[current]],
    * recording what it was built from and which temp views it read; a
    * registration with nothing to read is dropped instead. */
  private def install(r: Registration): Unit = if (!current(r)) r.build() match {
    case None =>
      // stays uninstalled, so every registerAll retries it
      spark.catalog.dropTempView(r.name)
      GraftSession.installed.remove(r.name)
    case Some(df) =>
      val sc = spark.sessionState.catalog
      df.createOrReplaceTempView(r.name)
      val reads = df.queryExecution.analyzed.collectWithSubqueries {
        case v: View if v.isTempView => v.desc.identifier.table
      }.distinct.flatMap(n => sc.getRawTempView(n).map(n -> (_: AnyRef)))
      GraftSession.installed.put(r.name,
        GraftSession.Installed(r.inputs, sc.getRawTempView(r.name).get, reads))
  }

  /** attnum: 1-based position among VISIBLE columns, matching
    * pg_attribute's numbering. */
  private def attnum(t: TableDef, c: String): Int =
    t.visibleColumns.indexWhere(_.name.equalsIgnoreCase(c)) + 1

  private val NsPublic = 2200L // reference OID_NAMESPACE_PUBLIC

  /** Deterministic relation oid, stable across re-registration and
    * independent of catalog insertion order (PG oids are allocation-
    * ordered; a name-derived oid gives the same join surface without
    * persisted counters). User relations live above PG's reserved
    * range. */
  private def relOid(name: String): Long =
    16384L + (scala.util.hashing.MurmurHash3.stringHash(name).toLong & 0x7fffffffL)

  // --------------------------------------------------------------- route

  private def kw(sql: String): String =
    sql.trim.split("\\s+", 2)(0).toUpperCase

  /** Execute one statement or a multi-statement script; returns the last
    * statement's result (empty DF for DDL/no-ops, count DF for DML). */
  def sql(script: String): DataFrame = {
    val stmts = StatementSplitter.split(script)
    require(stmts.nonEmpty, "empty SQL")
    stmts.map(execOne).last
  }

  /** PgRewrite with context binding: `current_database()` folds to a
    * LITERAL of this context's database name. Spark's own
    * CurrentDatabase expression resolves at OPTIMIZATION time from the
    * session-global catalog — under per-connection binding a sibling
    * context's USE re-sync can land between this statement's analysis
    * and its first action, so the builtin would answer the WRONG
    * database. The literal pins the value at statement entry. */
  private def rewriteForCtx(q: String): String =
    PgRewrite.rewrite(PgRewrite.bindCurrentDatabase(q, ctx.dbName))

  /** True when [[registerAll]] would change nothing: Spark's current
    * database is this context's, every one of [[registrations]] is
    * [[current]], and no other name is installed. Builds nothing, reads
    * no file and runs no Spark job. Read under [[regRW]]'s read side so
    * the answer cannot go stale mid-analysis. */
  private def registrationsCurrent: Boolean =
    spark.catalog.currentDatabase == ctx.dbName && {
      val regs = registrations
      regs.forall(current) && strays(regs).isEmpty
    }

  /** Analyze a query atomically with temp-view registration: two
    * contexts in different databases may hold the gate's READ side
    * concurrently, and each registerAll re-points the shared temp views
    * at its own catalog — without a lock span over analysis, A's
    * spark.sql could resolve against B's registration. The common case
    * (registrations already current — every statement after the first in
    * a single-database workload) analyzes under the READ side, so
    * concurrent connections plan in parallel; only an actual
    * re-registration takes the write side. Execution (the DataFrame's
    * actions) happens outside any lock and stays fully concurrent. */
  private def planQuery(q: String): DataFrame = {
    var attempts = 0
    while (attempts < 3) {
      val r = regRW.readLock()
      r.lock()
      try {
        // the read hold spans the currency check AND the analysis: a
        // sibling's re-registration (write side) cannot re-point temp
        // views mid-analysis
        if (registrationsCurrent) return spark.sql(rewriteForCtx(q))
      } finally r.unlock()
      val w = regRW.writeLock()
      w.lock()
      try registerAll() finally w.unlock()
      attempts += 1
    }
    // contended fallback — siblings alternating databases can replace
    // our temp views between our registerAll and re-check; registering AND
    // analyzing under the write side is always correct, just serialized
    val w = regRW.writeLock()
    w.lock()
    try { registerAll(); spark.sql(rewriteForCtx(q)) } finally w.unlock()
  }

  // -------------------------------------------------- statement gate

  /** Concurrent temp-view registration guard: readers running in
    * parallel under [[withStatementLock]]'s read side may both find the
    * registrations stale after a DDL and rebuild — the WRITE side
    * serializes the rebuild so createOrReplaceTempView calls cannot
    * interleave mid-rebuild, while the READ side lets already-current
    * readers ANALYZE concurrently (see [[planQuery]] — spanning analysis
    * with a plain monitor serialized every connection's query planning
    * engine-wide). Unfair mode: planQuery's bounded retry loop already
    * guarantees progress, and barging readers keep the common
    * registrations-current case contention-free. */
  private val regRW = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Registration write-side span (reentrant — planQuery's fallback
    * calls registerAll while already holding it). */
  private def withRegWrite[A](body: => A): A = {
    val w = regRW.writeLock()
    w.lock()
    try body finally w.unlock()
  }

  /** Statement-stream gate: read-only statements share the READ side
    * and execute CONCURRENTLY across wire/HTTP connections; anything
    * that can mutate session, catalog, or data state takes the WRITE
    * side — the old whole-session monitor, now scoped to writers.
    * Copy-on-write snapshots already isolate readers from data files;
    * the gate protects the MUTABLE session surfaces (catalog maps,
    * temp-view registration, transaction state, sequence counters,
    * cursor/prepared registries). Fair ordering so a writer is not
    * starved by a stream of readers. */
  private val stmtGate = new java.util.concurrent.locks.ReentrantReadWriteLock(true)

  /** Conservative read-only classifier for [[withStatementLock]]: every
    * statement in the script must be a pure query (SELECT without
    * top-level INTO, WITH, VALUES, TABLE, EXPLAIN, SHOW) and no
    * transaction block may be open ON THIS CONTEXT (the owner's
    * statements read the txn overlay, which ROLLBACK mutates; other
    * connections' pure reads stay on the read side — the owner's
    * mutations all take the write side, so they never interleave).
    * Anything unrecognized is a writer — misclassifying a reader costs
    * concurrency, misclassifying a writer costs correctness. */
  def isReadOnlyScript(script: String): Boolean =
    !ownsTransaction && StatementSplitter.split(script).forall { s =>
      val t = s.trim
      if (t.startsWith("\\")) false
      else kw(t) match {
        case "WITH" | "VALUES" | "TABLE" | "EXPLAIN" | "SHOW" => true
        case "SELECT" =>
          splitTopLevelKeyword(t.stripSuffix(";"), "INTO")._2.isEmpty
        case _ => false
      }
    }

  /** Run `body` under the side of the gate `script`'s classification
    * demands. Wire/HTTP frontends funnel every eager execution through
    * here (or [[withReadLock]] for read-only pin+plan sections). */
  def withStatementLock[A](script: String)(body: => A): A = {
    val l =
      if (isReadOnlyScript(script)) stmtGate.readLock() else stmtGate.writeLock()
    l.lock()
    try body finally l.unlock()
  }

  /** Shared-side section for frontends that pin-and-plan a read-only
    * statement atomically against DML publishes (suspended portals). */
  def withReadLock[A](body: => A): A = {
    stmtGate.readLock().lock()
    try body finally stmtGate.readLock().unlock()
  }

  private def ok(kind: String, n: Long = 0L): DataFrame = {
    import spark.implicits._
    Seq((kind, n)).toDF("status", "count")
  }

  // ---------------------------------------------------------- transactions

  /** Single-session transaction snapshot. Copy-on-write versioning makes
    * BEGIN→ROLLBACK nearly free: UPDATE/DELETE/TRUNCATE publish NEW
    * version dirs, so restoring the catalog's version pointers undoes
    * them without touching a byte of data. The one mutation that happens
    * in place is INSERT/COPY appending part-files to the current snapshot
    * dir — so the snapshot also records each table's file listing, and
    * ROLLBACK deletes files that were not present at BEGIN. Mirrors the
    * reference's atomicity guarantees (kv/KvTransactionCoordinator.java:
    * 221-664, kv/TransactionAtomicityTest.java) for the single-session
    * case, without its Percolator 2PC machinery. */
  private final case class TxnSnapshot(
      tables: Seq[(String, TableDef)],
      views: Seq[(String, graft.catalog.ViewDef)],
      enums: Seq[(String, graft.catalog.EnumDef)],
      sequences: Seq[(String, graft.catalog.SequenceDef)],
      files: Map[String, Set[String]])

  private var activeTxn: Option[TxnSnapshot] = None

  /** Database + context that issued BEGIN. The engine keeps ONE
    * single-writer transaction (the documented COW shape; 2PC is out of
    * Sparkable scope), but with per-connection database binding a write
    * from a context in a DIFFERENT database must not enroll: its files
    * would append outside the armed journal's database and ROLLBACK
    * could not un-append them. Same-database contexts keep the legacy
    * shared-session join semantics. */
  private var activeTxnDb: String = null
  @volatile private var activeTxnCtx: ConnContext = null

  /** Single-writer transaction guard — called by execKeyword before any
    * statement that can mutate catalog/data/txn state. The engine keeps
    * ONE transaction, so while it is open every OTHER context's writes
    * and txn control refuse loudly: same-database writes would silently
    * enroll in the foreign journal (the owner's ROLLBACK would revert
    * another connection's "autocommitted" rows), cross-database writes
    * would append outside the armed journal's database, and a foreign
    * COMMIT/ROLLBACK would close a transaction its sender never opened.
    * Reads are COW-isolated and pass freely — with the documented
    * single-writer trade-off that they SEE the in-flight transaction's
    * writes (read-uncommitted across connections; PG would show the
    * pre-txn snapshot). Contexts sharing the default context (Shell,
    * HTTP, embedded, background jobs) keep the legacy shared-session
    * join semantics among themselves — they ARE one context. */
  private def guardCrossDbTxn(kind: String): Unit =
    if (activeTxn.isDefined && (activeTxnCtx ne null) && (activeTxnCtx ne ctx))
      throw new IllegalStateException(
        s"""$kind: a transaction is open on database "$activeTxnDb" by another connection — """ +
          s"""statements that write or control transactions on "${ctx.dbName}" must wait for it to close""")

  /** True while an explicit transaction block is open — the engine-global
    * single-writer truth. */
  def inTransaction: Boolean = activeTxn.isDefined

  /** True when the open transaction belongs to the CURRENT thread's
    * context. This is the per-connection view wire frontends report in
    * ReadyForQuery ('T'/'E' vs 'I') — `inTransaction` is engine-global,
    * and reporting it to every connection made one connection's BEGIN
    * show as 'T' on all of them (worse: a sibling's statement error then
    * reported 'E', and PG drivers respond to 'E' by sending ROLLBACK,
    * aborting the owner's transaction from a connection that never
    * opened one). Also scopes the database-DDL txn refusals. */
  def ownsTransaction: Boolean = activeTxn.isDefined && (activeTxnCtx eq ctx)

  private def listDir(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.list(p)
      try {
        val b = Set.newBuilder[String]
        s.forEach(f => b += f.getFileName.toString)
        b.result()
      } finally s.close()
    }

  private def beginTxn(): DataFrame = {
    if (activeTxn.isDefined)
      throw new IllegalStateException(
        "BEGIN: a transaction is already in progress (nested transactions are not supported)")
    val snap = currentSnapshot()
    val files = snap.files
    activeTxn = Some(snap)
    activeTxnDb = ctx.dbName
    activeTxnCtx = ctx
    savepoints = Nil
    // crash journal: persist the pre-BEGIN state so a session killed
    // mid-transaction recovers to it on next open. catalog.json IS the
    // serialized pre-txn catalog — snapshot it (save first: a fresh
    // warehouse may not have written one yet), plus the file listings
    // needed to un-append. The files journal is written BEFORE the
    // catalog journal: recovery keys on the catalog journal's existence,
    // so a crash between the two writes leaves no half-armed journal.
    // The save + catalog.json copy run under the Catalog monitor so a
    // concurrent maintainer putView→save() cannot republish catalog.json
    // between our save and our snapshot of it.
    catalog.synchronized {
      catalog.save()
      def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      Files.writeString(txnFilesJournal,
        files.map { case (t, fs) => js(t) + ":" + fs.map(js).mkString("[", ",", "]") }
          .mkString("{", ",", "}"))
      Files.writeString(txnOwnerFile, ProcessHandle.current().pid().toString)
      Files.copy(catalog.root.resolve("catalog.json"), txnCatalogJournal,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    ok("BEGIN")
  }

  private def dropTxnJournal(): Unit = {
    Files.deleteIfExists(txnCatalogJournal)
    Files.deleteIfExists(txnFilesJournal)
    Files.deleteIfExists(txnOwnerFile)
  }

  private def commitTxn(): DataFrame = {
    activeTxn = None; activeTxnDb = null; activeTxnCtx = null
    savepoints = Nil; dropTxnJournal(); ok("COMMIT")
  }

  /** Revert `cat`'s catalog and data files to `snap`, then delete the
    * version dirs no snapshot needs: the one restore of ROLLBACK, ROLLBACK
    * TO and crash recovery (ROLLBACK TO keeps the transaction open, a full
    * ROLLBACK clears it at the call site, recovery runs on the catalog a
    * dead transaction left). `live` are the other snapshots a later
    * ROLLBACK or ROLLBACK TO can still restore: BEGIN's and the savepoints
    * that remain.
    *
    * Every step can re-run: checkpoints are invalidated before the files
    * they may have consumed go, and the catalog is restored last, so a
    * crash at any step leaves the catalog the transaction wrote and its
    * armed journal, from which crash recovery runs this again. */
  private def restoreSnapshot(cat: Catalog, snap: TxnSnapshot, live: Seq[TxnSnapshot]): Unit = {
    val written = (cat.tables.values.map(_.name) ++ snap.tables.map(_._1)).toSet
    val viewsWritten = (cat.views.values.filter(_.materialized).map(_.name) ++
      snap.views.collect { case (_, v) if v.materialized => v.name }).toSet
    // un-append: INSERT/COPY wrote part-files into snapshot dirs that
    // predate the snapshot — remove exactly the files it did not see
    val extra = for {
      (_, t) <- snap.tables
      had <- snap.files.get(t.name)
      dir = cat.tableDir(t)
      fs = listDir(dir) -- had
      if fs.nonEmpty
    } yield (t.name, dir, fs)
    // maintainers may hold state built from rolled-back rows
    graft.streaming.MatviewMaintenance.onSnapshotChange(cat.root.toString)
    // file REMOVAL from a streamed base dir is invisible to the
    // checkpoint version stamp (the base listing is excluded by
    // design) — the affected views' checkpoints must be rebuilt, or
    // the next refresh would republish rolled-back rows from state
    graft.streaming.MatviewMaintenance.onBaseFilesRemoved(cat, extra.map(_._1).toSet)
    extra.foreach { case (name, dir, fs) =>
      fs.foreach(f => Files.deleteIfExists(dir.resolve(f)))
      GraftSession.installed.remove(name)
    }
    // the version dirs the rolled-back statements published are
    // unpublished now: delete each name's versions above the newest one
    // any restorable snapshot points at (a DROP inside the transaction
    // keeps the dropped table's versions for BEGIN's snapshot), except
    // versions a reader or a checkpoint pins, and the storage dir itself
    // once that leaves it empty
    val snaps = snap +: live
    def newest(vs: Seq[(String, Long)]) = vs.groupMapReduce(_._1)(_._2)(_ max _)
    val keepTables = newest(snaps.flatMap(_.tables.map { case (_, t) => t.name -> t.version }))
    val keepViews = newest(snaps.flatMap(_.views.collect {
      case (_, v) if v.materialized => v.name -> v.version
    }))
    val pinned = checkpointPinnedVersions(cat) ++ readerPinnedVersions()
    def unpublish(rootName: String, keep: Option[Long], pinKey: String): Unit = {
      val dir = cat.root.resolve(rootName)
      val gone = listDir(dir).filter {
        case versionDirRe(k) => keep.forall(_ < k.toLong) && !pinned((pinKey, k.toLong))
        case _ => false
      }
      gone.foreach(n => deleteRecursively(dir.resolve(n)))
      if (gone.nonEmpty && listDir(dir).isEmpty) Files.deleteIfExists(dir)
    }
    written.foreach(n => unpublish(n, keepTables.get(n), n))
    viewsWritten.foreach(n => unpublish("_mv_" + n, keepViews.get(n), n))
    cat.restore(snap.tables, snap.views, snap.enums, snap.sequences)
  }

  private def rollbackTxn(): DataFrame = activeTxn match {
    case None => ok("ROLLBACK") // PG: warning + no-op outside a txn
    case Some(snap) =>
      // the transaction stays open until the restore completes, so a
      // ROLLBACK that fails part-way can be retried
      restoreSnapshot(catalog, snap, Nil)
      activeTxn = None
      activeTxnDb = null
      activeTxnCtx = null
      savepoints = Nil
      dropTxnJournal()
      ok("ROLLBACK")
  }

  // ---------------------------------------------------------- savepoints

  /** Savepoint stack, most recent first — each is a full TxnSnapshot
    * (cheap: version pointers + file listings, no data copies; the same
    * economics that make BEGIN nearly free). Only meaningful inside a
    * transaction; PG semantics: ROLLBACK TO restores the state AND keeps
    * the savepoint (one can roll back to it repeatedly), destroying only
    * later savepoints; RELEASE keeps the changes and destroys the
    * savepoint and everything after it; a reused name shadows the older
    * one. Crash recovery stays BEGIN-anchored (the journal records the
    * pre-BEGIN state — a crash mid-savepoint rolls the whole txn back,
    * exactly PG's behavior for a lost connection). */
  private var savepoints: List[(String, TxnSnapshot)] = Nil

  private def snapshotOf(cat: Catalog, files: Map[String, Set[String]]): TxnSnapshot =
    TxnSnapshot(cat.tables.toSeq, cat.views.toSeq, cat.enums.toSeq, cat.sequences.toSeq, files)

  private def currentSnapshot(): TxnSnapshot = snapshotOf(catalog,
    catalog.tables.values.map(t => t.name -> listDir(catalog.tableDir(t))).toMap)

  private def savepoint(stmt: String): DataFrame = {
    require(activeTxn.isDefined, "SAVEPOINT can only be used in transaction blocks")
    val name = lastWord(stmt).toLowerCase
    savepoints = (name -> currentSnapshot()) :: savepoints
    ok("SAVEPOINT")
  }

  private def rollbackToSavepoint(stmt: String): DataFrame = {
    require(activeTxn.isDefined,
      "ROLLBACK TO SAVEPOINT can only be used in transaction blocks")
    val name = lastWord(stmt).toLowerCase
    val at = savepoints.indexWhere(_._1 == name)
    require(at >= 0, s"savepoint \"$name\" does not exist")
    val kept = savepoints.drop(at) // keep the target savepoint itself
    restoreSnapshot(catalog, kept.head._2, activeTxn.toSeq ++ kept.tail.map(_._2))
    savepoints = kept
    ok("ROLLBACK")
  }

  private def releaseSavepoint(stmt: String): DataFrame = {
    require(activeTxn.isDefined,
      "RELEASE SAVEPOINT can only be used in transaction blocks")
    val name = lastWord(stmt).toLowerCase
    val at = savepoints.indexWhere(_._1 == name)
    require(at >= 0, s"savepoint \"$name\" does not exist")
    savepoints = savepoints.drop(at + 1)
    ok("RELEASE")
  }

  // ------------------------------------------------- prepared statements

  /** Session-scoped prepared statements — the textual analogue of the
    * reference's wire-level Parse/Bind/Execute cycle (reference
    * postgres/PostgresConnectionHandler.java handles these as protocol
    * messages; the SQL-level PREPARE/EXECUTE forms are what psql and
    * script replays emit). `$N` placeholders substitute positionally,
    * string literals are opaque (a '$1' inside text is content), and a
    * declared parameter type wraps its argument in a CAST — PG's typed
    * parameter semantics. CONNECTION-scoped (PG parity): each wire
    * context carries its own registry; embedded callers share the
    * default context's. */
  private def prepared = ctx.prepared

  private def prepareStmt(stmt: String): DataFrame = {
    val head = """(?is)^PREPARE\s+([\w"]+)\s*(.*)$""".r
    stmt.trim.stripSuffix(";") match {
      case head(name, afterName) =>
        var rest = afterName.trim
        // The type list needs a balanced-paren scan, not a regex: a
        // parameterized type like numeric(10,2) or varchar(20) nests a
        // close-paren that a [^)]* group cannot step over.
        val ts: Seq[String] =
          if (rest.startsWith("(")) {
            var d = 0; var j = 0; var close = -1
            while (j < rest.length && close < 0) {
              rest.charAt(j) match {
                case '(' => d += 1
                case ')' => d -= 1; if (d == 0) close = j
                case _ =>
              }
              j += 1
            }
            require(close > 0, s"cannot parse PREPARE type list: $stmt")
            val inner = rest.substring(1, close)
            rest = rest.substring(close + 1).trim
            topSplit(inner).map(_.trim).filter(_.nonEmpty)
          } else Seq.empty
        val asRe = """(?is)^AS\s+(.+)$""".r
        rest match {
          case asRe(body) =>
            prepared(name.replaceAll("\"", "").toLowerCase) = (body.trim, ts)
            ok("PREPARE")
          case _ => throw new IllegalArgumentException(s"cannot parse PREPARE: $stmt")
        }
      case _ => throw new IllegalArgumentException(s"cannot parse PREPARE: $stmt")
    }
  }

  private def executePrepared(stmt: String): DataFrame = {
    val re = """(?is)^EXECUTE\s+([\w"]+)\s*(?:\((.*)\))?\s*$""".r
    stmt.trim.stripSuffix(";") match {
      case re(name, argsS) =>
        val key = name.replaceAll("\"", "").toLowerCase
        val (body, types) = prepared.getOrElse(key,
          throw new IllegalArgumentException(
            s"prepared statement \"$key\" does not exist"))
        val args = Option(argsS).map(topSplit(_).map(_.trim).filter(_.nonEmpty))
          .getOrElse(Seq.empty)
        val out = new StringBuilder; var i = 0; var inS = false
        while (i < body.length) {
          val c = body.charAt(i)
          if (inS) { out += c; if (c == '\'') inS = false; i += 1 }
          else if (c == '\'') { inS = true; out += c; i += 1 }
          else if (c == '$' && i + 1 < body.length && body.charAt(i + 1).isDigit) {
            var j = i + 1
            while (j < body.length && body.charAt(j).isDigit) j += 1
            val n = body.substring(i + 1, j).toInt
            require(n >= 1 && n <= args.length,
              s"there is no parameter $$$n (EXECUTE got ${args.length} argument(s))")
            // declared PG type → Spark type via TypeMap (TEXT, BIGSERIAL,
            // DOUBLE PRECISION … are not Spark parser names)
            val cast = types.lift(n - 1).filterNot(_.equalsIgnoreCase("unknown"))
            out ++= cast.map(t => s"(CAST(${args(n - 1)} AS ${TypeMap.toSpark(t).sql}))")
              .getOrElse(s"(${args(n - 1)})")
            i = j
          } else { out += c; i += 1 }
        }
        execOne(out.toString)
      case _ => throw new IllegalArgumentException(s"cannot parse EXECUTE: $stmt")
    }
  }

  private def deallocate(stmt: String): DataFrame = {
    val w = stmt.trim.stripSuffix(";").split("\\s+").drop(1)
      .filterNot(_.equalsIgnoreCase("PREPARE"))
    require(w.length == 1, s"cannot parse DEALLOCATE: $stmt")
    val target = w.head.replaceAll("\"", "").toLowerCase
    if (target == "all") prepared.clear()
    else require(prepared.remove(target).isDefined,
      s"prepared statement \"$target\" does not exist")
    ok("DEALLOCATE")
  }

  // --------------------------------------------------------------- cursors

  /** Cursors — PG's paging protocol (psql and drivers emit DECLARE/FETCH
    * for large result sets; reference clients page the same way at wire
    * level). DECLARE pins the result set ONCE via localCheckpoint —
    * stable partitions make offset/limit paging deterministic across
    * FETCHes even without an ORDER BY, exactly a PG cursor's stable scan
    * — and each FETCH is a distributed offset/limit page over the pinned
    * plan, never a driver-side materialization of the full set. Held
    * open across COMMIT (PG's WITH HOLD behavior; the always-holdable
    * leniency is safe single-session, where no other txn's visibility is
    * at stake). CONNECTION-scoped, like [[prepared]]. */
  private def cursors = ctx.cursors

  private def declareCursor(stmt: String): DataFrame = {
    val re = ("""(?is)^DECLARE\s+([\w"]+)\s+""" +
      """(?:NO\s+SCROLL\s+|SCROLL\s+|BINARY\s+|INSENSITIVE\s+)*CURSOR\s+""" +
      """(?:WITH\s+HOLD\s+|WITHOUT\s+HOLD\s+)?FOR\s+(.+)$""").r
    stmt.trim.stripSuffix(";") match {
      case re(name, q) =>
        val df = planQuery(q).localCheckpoint()
        cursors(name.replaceAll("\"", "").toLowerCase) = (df, 0L)
        ok("DECLARE CURSOR")
      case _ => throw new IllegalArgumentException(s"cannot parse DECLARE: $stmt")
    }
  }

  private def fetchCursor(stmt: String): DataFrame = {
    val re = ("""(?is)^FETCH\s+(?:FORWARD\s+)?(\d+|ALL|NEXT)?\s*""" +
      """(?:FROM\s+|IN\s+)?([\w"]+)$""").r
    stmt.trim.stripSuffix(";") match {
      case re(cnt, name) =>
        val key = name.replaceAll("\"", "").toLowerCase
        val (df, pos) = cursors.getOrElse(key,
          throw new IllegalArgumentException(s"cursor \"$key\" does not exist"))
        val page = Option(cnt).map(_.toUpperCase) match {
          case None | Some("NEXT") => df.offset(pos.toInt).limit(1)
          case Some("ALL") => df.offset(pos.toInt)
          case Some(d) => df.offset(pos.toInt).limit(d.toInt)
        }
        // pin the page so the advance-count and the returned rows are the
        // same computation
        val out = page.localCheckpoint()
        cursors(key) = (df, pos + out.count())
        out
      case _ => throw new IllegalArgumentException(s"cannot parse FETCH: $stmt")
    }
  }

  private def closeCursor(stmt: String): DataFrame = {
    val target = lastWord(stmt).toLowerCase
    if (target == "all") cursors.clear()
    else require(cursors.remove(target).isDefined,
      s"cursor \"$target\" does not exist")
    ok("CLOSE")
  }

  // -------------------------------------- maintenance (VACUUM / ANALYZE)

  /** Min retained snapshot version per table/matview root, recorded by
    * VACUUM in a `_minver` marker BEFORE any dir is deleted (crash-safe:
    * re-running VACUUM after a partial delete re-prunes the same set).
    * Time travel consults it to fail loudly on pruned versions. */
  private def minVerFile(rootName: String): Path =
    catalog.root.resolve(rootName).resolve("_minver")

  private def minRetained(rootName: String): Long = {
    val f = minVerFile(rootName)
    if (Files.exists(f)) Files.readString(f).trim.toLong else 0L
  }

  /** The version a new table starts at, given its storage dir `name`:
    * past every `v<n>` snapshot dir a dropped or rolled-back table of the
    * same name left in its directory (DROP TABLE keeps them so a ROLLBACK
    * can restore the table), so the new table starts empty and nothing is
    * deleted. A new matview's snapshot root uses it the same way. */
  private def firstVersion(name: String): Long =
    listDir(catalog.root.resolve(name)).collect { case versionDirRe(n) => n.toLong + 1 }
      .foldLeft(0L)(math.max)

  /** A table's storage directory is named after it, next to the
    * directories and files the engine keeps in the same database
    * directory (other databases, matview snapshots, maintenance
    * checkpoints, the transaction journal); a table name that could
    * collide with them is refused. */
  private def requireStorageName(name: String): Unit =
    require(!Seq("_db_", "_mv_", "_ckpt_", "_txn_").exists(name.startsWith),
      s"table name $name is reserved: names starting with _db_, _mv_, _ckpt_ or _txn_ " +
        "are the engine's own storage")

  // --------------------------------------------------- reader version pins

  /** Open readers (suspended wire portals, long-lived result streams) pin
    * the snapshot versions they were planned against so VACUUM's
    * retention pass cannot prune them mid-read — the copy-on-write
    * analogue of PG's "tuples visible to an open cursor survive VACUUM"
    * rule. A pin records every table's CURRENT version at acquisition
    * (coarse — a portal may read any number of tables through joins);
    * the reader releases it when drained or closed. Pins are in-memory
    * session state: a crashed reader's pin dies with the process, so
    * retention can never leak across restarts. Lazy: crash recovery
    * reads it while the session is still being constructed. */
  private lazy val readerPins =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Set[(String, Long)]]()
  private val nextPinId = new java.util.concurrent.atomic.AtomicLong(1)

  /** Pin the current version of every table AND materialized view;
    * returns the handle to pass to [[releaseVersionPin]]. Matviews are
    * included because VACUUM's matview pass prunes superseded
    * `_mv_<name>/v<K>` snapshots under pinKey = view name — a portal
    * streaming from a matview is just as exposed to REFRESH + VACUUM as
    * one streaming from a table. Stored as (name, version) pairs, not a
    * map: tables and matviews share the prune pinKey namespace, so a
    * same-named pair must pin BOTH versions. */
  def pinCurrentVersions(): Long = {
    val id = nextPinId.getAndIncrement()
    readerPins.put(id,
      catalog.tables.values.map(t => (t.name, t.version)).toSet ++
        catalog.views.values.filter(_.materialized).map(v => (v.name, v.version)))
    id
  }

  def releaseVersionPin(id: Long): Unit = readerPins.remove(id)

  private def readerPinnedVersions(): Set[(String, Long)] = {
    val b = Set.newBuilder[(String, Long)]
    readerPins.values.forEach(s => s.foreach(b += _))
    b.result()
  }

  /** Snapshot versions pinned by `cat`'s live matview-maintenance
    * checkpoints: each `_ckpt_<view>/_basever` stamp records the table
    * versions its held streaming state was built from (MatviewMaintenance
    * .versionStamp); pruning one would leave a checkpoint referencing
    * vanished files. Stale stamps self-heal (the next refresh resets the
    * checkpoint on mismatch), at which point a later VACUUM reclaims. */
  private def checkpointPinnedVersions(cat: Catalog): Set[(String, Long)] = {
    val b = Set.newBuilder[(String, Long)]
    val entry = """([\w]+):(\d+)(?::[^,]*)?""".r
    val s = Files.list(cat.root)
    try s.forEach { d =>
      if (d.getFileName.toString.startsWith("_ckpt_")) {
        val marker = d.resolve("_basever")
        if (Files.exists(marker))
          entry.findAllMatchIn(Files.readString(marker)).foreach { m =>
            if (m.group(1) != "sql") b += ((m.group(1), m.group(2).toLong))
          }
      }
    } finally s.close()
    b.result()
  }

  /** `VACUUM [FULL|VERBOSE|ANALYZE]* [table]` — snapshot retention
    * (reference kv/jobs/VacuumJob.java; SchemaManager's lazy drop).
    * Every UPDATE/DELETE/TRUNCATE publishes a new `v<N>` dir and nothing
    * else ever deletes the superseded ones, so a long-lived warehouse
    * grows without bound. VACUUM prunes every version below the current
    * one — except versions pinned by live matview checkpoints — for the
    * named table or all tables, plus superseded matview snapshot dirs.
    * Runs refuse a transaction block: ROLLBACK restores pre-BEGIN
    * version pointers, which must still resolve to files. */
  private def vacuum(stmt: String): DataFrame = {
    if (activeTxn.isDefined)
      throw new IllegalStateException("VACUUM cannot run inside a transaction block")
    // VACUUM FULL <table> ZORDER BY (a, b[, c…]) — the compaction
    // rewrite additionally CLUSTERS the snapshot on the Morton curve
    // over the 2-6 named columns (Delta/Iceberg's OPTIMIZE ZORDER BY,
    // on the engine's own COW tables): same crash-safe publish, same
    // retention pass, but the rewritten files carry tight row-group
    // stats on EVERY clustered column so k-D box scans skip
    // (plans.ZOrder; layout_zorder / ZOrderSpec pin the skipping
    // itself).
    val zorderRe = """(?is)\bZORDER\s+BY\s*\(\s*([\w"]+(?:\s*,\s*[\w"]+)+)\s*\)""".r
    // fold to lowercase like every other identifier in the session
    // (catalog column names are stored lowercase)
    val zorderCols: Option[Seq[String]] = zorderRe.findFirstMatchIn(stmt)
      .map(_.group(1).split(",").toSeq
        .map(_.trim.replaceAll("\"", "").toLowerCase))
    val stmtNoZ = zorderRe.replaceAllIn(stmt, "")
    // a ZORDER CLAUSE the regex did NOT consume (one column, three
    // columns, malformed parens, missing BY before a paren) must refuse —
    // not silently compact unclustered while the user believes the table
    // is z-ordered. Keyed on ZORDER-adjacent-to-BY / ZORDER-before-"("
    // rather than the bare token, so a table literally NAMED "zorder"
    // can still be VACUUMed (`VACUUM zorder` is a table reference, not a
    // clause fragment).
    require(!stmtNoZ.toUpperCase.matches(
      "(?s).*\\bZORDER\\s*(BY\\b|\\().*"),
      "malformed ZORDER BY clause: expected ZORDER BY (colA, colB[, …]) — " +
        "two to six comma-separated columns")
    zorderCols.foreach(cs => require(cs.size >= 2 && cs.size <= 6,
      s"ZORDER BY takes 2-6 columns, got ${cs.size}"))
    val words = stmtNoZ.trim.stripSuffix(";").split("\\s+").drop(1)
      .filterNot(w => Set("FULL", "FREEZE", "VERBOSE", "ANALYZE").contains(w.toUpperCase))
    val upWords = stmtNoZ.trim.toUpperCase.split("\\s+")
    val withAnalyze = upWords.contains("ANALYZE")
    if (zorderCols.isDefined) {
      require(upWords.contains("FULL"),
        "ZORDER BY requires VACUUM FULL (clustering is a rewrite)")
      require(words.nonEmpty,
        "VACUUM FULL ... ZORDER BY requires an explicit table name")
    }
    def resolveTargets(): Seq[TableDef] = words.headOption match {
      case Some(w) => Seq(requireTable(w.replaceAll("\"", "")))
      case None => catalog.tables.values.toSeq
    }
    // VACUUM FULL — PG's rewrite-the-table form, which for a parquet
    // snapshot store means SMALL-FILE COMPACTION: every INSERT/COPY batch
    // appends its own part-files, so a long-lived table fragments and
    // scan cost becomes file-open-bound (the dominant failure mode of
    // append-heavy tables at scale). Rewrite the current snapshot into
    // ~128 MB-target files as a NEW version (same crash-safe COW publish
    // as UPDATE), then let the retention pass below prune the fragmented
    // predecessors.
    if (upWords.contains("FULL")) resolveTargets().foreach { t =>
      val dir = catalog.tableDir(t)
      val bytes =
        if (!Files.exists(dir)) 0L
        else {
          val s = Files.walk(dir)
          try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
          finally s.close()
        }
      val nFiles = math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt
      // tableDf carries ALL physical columns (incl. the hidden rowid);
      // localCheckpoint pins the rows before their source dir is
      // superseded and later pruned
      val pinnedDf = tableDf(t).localCheckpoint()
      publish(t, zorderCols match {
        case Some(cs) =>
          cs.foreach(c => require(pinnedDf.columns.contains(c),
            s"ZORDER BY column $c does not exist in ${t.name}"))
          graft.plans.ZOrder.cluster(pinnedDf, cs, nFiles)
        case None => pinnedDf.coalesce(nFiles)
      })
    }
    val targets = resolveTargets()
    val pinned = checkpointPinnedVersions(catalog) ++ readerPinnedVersions()
    var removed = 0L
    def prune(rootName: String, current: Long, pinKey: String): Unit = {
      val tblRoot = catalog.root.resolve(rootName)
      val all = listDir(tblRoot).toSeq.collect {
        case n @ versionDirRe(k) => (tblRoot.resolve(n), k.toLong)
      }
      val victims = all.filter { case (_, k) =>
        k < current && !pinned((pinKey, k)) }
      if (victims.nonEmpty) {
        // marker first: a crash mid-delete leaves versions that are
        // already declared pruned, never readable-but-half-deleted.
        // Oldest retained = the smallest version dir surviving this
        // prune (a checkpoint-pinned old version stays readable).
        val victimVs = victims.map(_._2).toSet
        val newMin = (all.map(_._2).filterNot(victimVs) :+ current).min
        Files.writeString(minVerFile(rootName),
          math.max(newMin, minRetained(rootName)).toString)
        victims.foreach { case (d, _) => deleteRecursively(d); removed += 1 }
      }
    }
    targets.foreach(t => prune(t.name, t.version, t.name))
    // superseded matview snapshots (each refresh batch publishes v<N+1>)
    if (words.isEmpty)
      catalog.views.values.filter(_.materialized).foreach { v =>
        prune("_mv_" + v.name, v.version, v.name)
      }
    if (withAnalyze) targets.foreach(t => analyzeTable(t))
    ok("VACUUM", removed)
  }

  /** Per-table statistics sidecar (reference
    * kv/jobs/StatisticsCollectorJob.java): rowCount + per-column
    * ndv/nullCount collected by ANALYZE in ONE distributed aggregate,
    * persisted to `_stats.json`, surfaced through `pg_stats`, and fed
    * back into planning (registerAll broadcast-hints tables whose fresh
    * stats put them under the broadcast threshold — the same
    * stats→plan loop Spark's CBO runs from its own catalog, which temp
    * views over snapshot dirs don't populate). */
  private final case class TableStats(version: Long, rowCount: Long,
      cols: Seq[(String, Long, Long)]) // (name, ndv, nullCount)

  private val statsFile = warehouse.resolve("_stats.json")
  @volatile private var statsCache: Map[String, TableStats] = loadStats()

  private def loadStats(): Map[String, TableStats] =
    if (!Files.exists(statsFile)) Map.empty
    else graft.catalog.Json.parse(Files.readString(statsFile))
      .asInstanceOf[Map[String, Any]].map { case (name, v) =>
        val m = v.asInstanceOf[Map[String, Any]]
        name -> TableStats(
          m("version").asInstanceOf[Number].longValue(),
          m("rowCount").asInstanceOf[Number].longValue(),
          m("cols").asInstanceOf[Seq[Any]].map { c =>
            val cm = c.asInstanceOf[Map[String, Any]]
            (cm("name").asInstanceOf[String],
              cm("ndv").asInstanceOf[Number].longValue(),
              cm("nulls").asInstanceOf[Number].longValue())
          })
      }

  private def saveStats(): Unit = {
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = statsCache.map { case (name, st) =>
      val cols = st.cols.map { case (c, ndv, nulls) =>
        s"{${js("name")}:${js(c)},${js("ndv")}:$ndv,${js("nulls")}:$nulls}"
      }.mkString("[", ",", "]")
      s"${js(name)}:{${js("version")}:${st.version},${js("rowCount")}:${st.rowCount},${js("cols")}:$cols}"
    }.mkString("{", ",", "}")
    val tmp = warehouse.resolve("_stats.json.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, statsFile, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Stats keys are DATABASE-QUALIFIED ("db.table"; the default database
    * keeps bare names for continuity with existing _stats.json files) —
    * without the qualifier, a same-named table in another database could
    * inherit stale stats and a wrong broadcast hint after `\\c`. */
  private def statsKey(table: String): String =
    (if (ctx.dbName == "graft") table else s"${ctx.dbName}.$table").toLowerCase

  /** Stats for one table (of the CURRENT database), or None if never
    * ANALYZEd. Freshness is the caller's concern (version field vs the
    * table's current version). */
  def tableStats(name: String): Option[(Long, Long)] =
    statsCache.get(statsKey(name)).map(st => (st.version, st.rowCount))

  private def analyzeTable(t: TableDef): Unit = {
    val df = visibleDf(t)
    val aggs = count(lit(1)).as("__rc") +:
      t.visibleColumns.flatMap(c => Seq(
        approx_count_distinct(col(c.name)).as("__ndv_" + c.name),
        sum(when(col(c.name).isNull, 1L).otherwise(0L)).as("__nulls_" + c.name)))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val cols = t.visibleColumns.map(c => (c.name,
      row.getAs[Long]("__ndv_" + c.name),
      Option(row.getAs[Long]("__nulls_" + c.name)).getOrElse(0L)))
    statsCache += statsKey(t.name) -> TableStats(t.version, row.getAs[Long]("__rc"), cols)
    saveStats()
  }

  /** `ANALYZE [VERBOSE] [table]` → real statistics collection (PG
    * semantics: bare ANALYZE covers every table). */
  private def analyze(stmt: String): DataFrame = {
    val words = stmt.trim.stripSuffix(";").split("\\s+").drop(1)
      .filterNot(_.equalsIgnoreCase("VERBOSE"))
    val targets = words.headOption match {
      case Some(w) => Seq(requireTable(w.replaceAll("\"", "")))
      case None => catalog.tables.values.toSeq
    }
    // the stats are an input of pg_stats and of each analyzed table's
    // registration, so the next statement re-registers those
    targets.foreach(analyzeTable)
    ok("ANALYZE", targets.size.toLong)
  }

  private def execOne(stmt: String): DataFrame =
    if (stmt.trim.startsWith("\\")) metaCommand(stmt) else execKeyword(stmt)

  /** Keywords that never touch catalog/data/txn state — exempt from the
    * cross-database transaction guard. EXECUTE re-enters execOne, so its
    * inner statement is guarded there; PREPARE/DEALLOCATE/DECLARE/CLOSE
    * mutate only this CONTEXT's registries. */
  private val crossDbSafeKw = Set(
    "SELECT", "WITH", "VALUES", "TABLE", "EXPLAIN", "SHOW", "DESCRIBE",
    "DESC", "PREPARE", "EXECUTE", "DEALLOCATE", "DECLARE", "FETCH",
    "CLOSE", "MOVE", "SET", "DO", "COMMENT", "GRANT", "REVOKE")

  private def execKeyword(stmt: String): DataFrame = {
    val k = kw(stmt)
    // CREATE/DROP DATABASE never touch the armed journal's database, so
    // another connection's open transaction must not block them (PG lets
    // any backend create/drop databases regardless of other backends'
    // transactions). They carry their own guards: the owner-scoped txn
    // refusal inside createDatabase/dropDatabase plus the liveContexts
    // in-use scan against dropping a database a connection sits in.
    val dbDdl = (k == "CREATE" || k == "DROP") &&
      stmt.trim.toUpperCase.matches("""(?s)(CREATE|DROP)\s+DATABASE\b.*""")
    if (!crossDbSafeKw.contains(k) && !dbDdl) guardCrossDbTxn(k)
    execKeyword0(stmt, k)
  }

  private def execKeyword0(stmt: String, k0: String): DataFrame = k0 match {
    case "CREATE" =>
      val up = stmt.trim.toUpperCase
      if (up.matches("""(?s)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?[\w"]+\s+AS\s+.*"""))
        createTableAs(stmt)
      else if (up.startsWith("CREATE TABLE")) createTable(stmt)
      else if (up.matches("(?s)CREATE\\s+(OR\\s+REPLACE\\s+)?(MATERIALIZED\\s+)?VIEW.*")) createView(stmt)
      else if (up.startsWith("CREATE DATABASE")) {
        // `CREATE DATABASE name [WITH …]` — options (OWNER/ENCODING/…)
        // are accepted and ignored, the reference's single-replication
        // posture. Identifiers fold to lowercase, quoted or not (the
        // storage layout is case-insensitive by policy; documented
        // divergence from PG's quoted-case preservation).
        val name = stmt.trim.stripSuffix(";").split("\\s+").lift(2)
          .map(_.replaceAll("\"", ""))
          .filter(_.nonEmpty)
          .getOrElse(throw new IllegalArgumentException(
            "CREATE DATABASE: missing database name"))
        createDatabase(name)
        ok("CREATE DATABASE")
      }
      else if (up.startsWith("CREATE SEQUENCE")) createSequence(stmt)
      else if (up.startsWith("CREATE TYPE")) createType(stmt)
      else if (up.contains("INDEX")) createIndex(stmt)
      else throw new IllegalArgumentException(s"unsupported CREATE: $stmt")
    case "DROP" =>
      val up = stmt.trim.toUpperCase
      if (up.startsWith("DROP DATABASE")) {
        dropDatabase(lastWord(stmt), ifExists = up.contains("IF EXISTS"))
        ok("DROP DATABASE")
      }
      else if (up.startsWith("DROP TABLE")) dropTables(stmt)
      else if (up.startsWith("DROP VIEW") || up.startsWith("DROP MATERIALIZED")) dropView(stmt)
      else if (up.startsWith("DROP SEQUENCE")) { catalog.dropSequence(lastWord(stmt)); ok("DROP SEQUENCE") }
      else if (up.startsWith("DROP TYPE")) { catalog.dropEnum(lastWord(stmt)); ok("DROP TYPE") }
      else if (up.startsWith("DROP INDEX")) ok("DROP INDEX")
      else throw new IllegalArgumentException(s"unsupported DROP: $stmt")
    case "TRUNCATE" => truncate(stmt)
    case "ALTER" => alterTable(stmt)
    case "INSERT" => insert(stmt)
    case "UPDATE" => update(stmt)
    case "DELETE" => delete(stmt)
    case "MERGE" => merge(stmt)
    case "REFRESH" => refreshMatview(stmt)
    case "EXPLAIN" => explain(stmt)
    case "BEGIN" | "START" => beginTxn()
    case "COMMIT" | "END" => commitTxn()
    case "ROLLBACK" | "ABORT" =>
      if (stmt.trim.split("\\s+").lift(1).exists(_.equalsIgnoreCase("TO")))
        rollbackToSavepoint(stmt)
      else rollbackTxn()
    case "SAVEPOINT" => savepoint(stmt)
    case "RELEASE" => releaseSavepoint(stmt)
    case "PREPARE" => prepareStmt(stmt)
    case "EXECUTE" => executePrepared(stmt)
    case "DEALLOCATE" => deallocate(stmt)
    case "DECLARE" => declareCursor(stmt)
    case "FETCH" => fetchCursor(stmt)
    case "CLOSE" => closeCursor(stmt)
    case "MOVE" => // position-only FETCH (PG MOVE): advance, return no rows
      fetchCursor(stmt.trim.replaceFirst("(?i)^MOVE\\b", "FETCH")).limit(0)
    case "VACUUM" => vacuum(stmt)
    case "ANALYZE" => analyze(stmt)
    case "SET" | "DO" =>
      ok(kw(stmt)) // no-ops (reference kv/KvQueryExecutor.java:2837-2864)
    // pg_dump restore tolerance: dumps carry privilege/ownership/comment
    // statements that have no analytic meaning here — accepted as no-ops
    // so a reference user's dump restores without editing
    case "COMMENT" | "GRANT" | "REVOKE" =>
      ok(kw(stmt))
    case "SHOW" => showTables() // psql \dt analogue (reference meta-commands,
                                // postgres/PostgresConnectionHandler.java:372-396)
    case "DESCRIBE" | "DESC" => describe(lastWord(stmt))
    case "COPY" => copy(stmt)
    case "SELECT" | "WITH" | "VALUES" | "TABLE" =>
      // `SELECT … INTO t FROM …` (PG's CTAS spelling; INTO is reserved
      // in the select list so a top-level match is the clause)
      if (k0 == "SELECT") {
        val (pre, intoOpt) = splitTopLevelKeyword(stmt.trim.stripSuffix(";"), "INTO")
        intoOpt match {
          case Some(rest) =>
            guardCrossDbTxn("SELECT INTO") // it writes — the CTAS spelling
            val parts = rest.trim.split("\\s+", 2)
            val tail = if (parts.length > 1) " " + parts(1) else ""
            return createTableAs(s"CREATE TABLE ${parts(0)} AS $pre$tail")
          case None =>
        }
      }
      planQuery(stmt)
    case other => throw new IllegalArgumentException(s"unsupported statement: $other")
  }

  private def lastWord(s: String): String = {
    val w = s.trim.stripSuffix(";").split("\\s+").last
    w.replaceAll("\"", "")
  }

  // ----------------------------------------------------------------- DDL

  /** Split at top-level commas (outside parens/quotes). */
  private def topSplit(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]; val cur = new StringBuilder
    var depth = 0; var inS = false
    s.foreach {
      case '\'' => inS = !inS; cur += '\''
      case '(' if !inS => depth += 1; cur += '('
      case ')' if !inS => depth -= 1; cur += ')'
      case ',' if !inS && depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  private val createTableRe: Regex =
    """(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w"]+)\s*\((.*)\)\s*""".r

  private def createTable(stmt: String): DataFrame = stmt.trim match {
    case createTableRe(ifNot, rawName, body) =>
      val name = rawName.replaceAll("\"", "").toLowerCase
      if (catalog.getTable(name).isDefined) {
        if (ifNot != null) return ok("CREATE TABLE (exists)")
        throw new IllegalArgumentException(s"table exists: $name")
      }
      requireStorageName(name)
      // clear any stale inline-PK bookkeeping from a previous same-name
      // table (DROP + CREATE must not inherit the old definition's PK)
      inlinePkCols = inlinePkCols.filterNot(_._1 == name)
      var pk = Seq.empty[String]
      var cols = Seq.empty[ColumnDef]
      var fks = Map.empty[String, (String, String)]
      var uniques = Set.empty[String]          // single-column UNIQUE(c)
      var uniqueKeys = Seq.empty[Seq[String]]  // composite UNIQUE(a, b, ...)
      topSplit(body).foreach { item =>
        val up = item.toUpperCase
        if (up.startsWith("PRIMARY KEY")) {
          pk = item.substring(item.indexOf('(') + 1, item.lastIndexOf(')'))
            .split(",").map(_.trim.replaceAll("\"", "").toLowerCase).toSeq
        } else if (up.startsWith("UNIQUE")) {
          val ks = item.substring(item.indexOf('(') + 1, item.lastIndexOf(')'))
            .split(",").map(_.trim.replaceAll("\"", "").toLowerCase).toSeq
          if (ks.length == 1) uniques += ks.head else uniqueKeys :+= ks
        } else if (up.startsWith("FOREIGN KEY") || up.startsWith("CONSTRAINT")) {
          val fkRe = """(?is).*FOREIGN\s+KEY\s*\(([\w"]+)\)\s*REFERENCES\s+([\w"]+)\s*\(([\w"]+)\).*""".r
          item match {
            case fkRe(c, rt, rc) =>
              fks += c.replaceAll("\"", "").toLowerCase ->
                (rt.replaceAll("\"", "").toLowerCase, rc.replaceAll("\"", "").toLowerCase)
            case _ => // CHECK etc: accept+ignore
          }
        } else cols :+= parseColumnDef(item, name)
      }
      cols = cols.map { c =>
        var cc = c
        if (pk.contains(c.name)) cc = cc.copy(notNull = true)
        if (uniques(c.name)) cc = cc.copy(unique = true)
        fks.get(c.name).foreach(r => cc = cc.copy(references = Some(r)))
        cc
      }
      // inline PRIMARY KEY flags collected by parseColumnDef (marked unique+notNull with pk tag)
      val inlinePk = cols.filter(c => inlinePkCols.contains((name, c.name))).map(_.name)
      if (pk.isEmpty && inlinePk.nonEmpty) pk = inlinePk
      val hasRowId = pk.isEmpty
      if (hasRowId) {
        cols = ColumnDef(TableDef.RowId, "BIGINT", notNull = true, serial = true) +: cols
        catalog.putSequence(SequenceDef(s"${name}_${TableDef.RowId}_seq"))
      }
      cols.filter(_.serial).foreach { c =>
        val sq = s"${name}_${c.name}_seq"
        if (!catalog.sequences.contains(sq)) catalog.putSequence(SequenceDef(sq))
      }
      catalog.putTable(TableDef(name, cols, pk, version = firstVersion(name), hasRowId = hasRowId,
        uniqueKeys = uniqueKeys))
      ok("CREATE TABLE")
    case _ => throw new IllegalArgumentException(s"cannot parse CREATE TABLE: $stmt")
  }

  /** `CREATE TABLE [IF NOT EXISTS] t AS <select>` — CTAS (PG surface the
    * reference parses via Calcite's SqlCreateTable with a query body).
    * The declared column types come from the SELECT's resolved Spark
    * schema (TypeMap.toSql reverse mapping); like PG, the new table has
    * no constraints and no PK, so it gets the hidden rowid. The data
    * path reuses insertRows end-to-end (one evaluation of the source,
    * rowid assignment from a reserved sequence block, append publish). */
  private def createTableAs(stmt: String): DataFrame = {
    val ctasRe =
      """(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w"]+)\s+AS\s+((?:SELECT|WITH|VALUES|TABLE)\b.*)""".r
    stmt.trim.stripSuffix(";") match {
      case ctasRe(ifNot, rawName, sel) =>
        val name = rawName.replaceAll("\"", "").toLowerCase
        if (catalog.getTable(name).isDefined) {
          if (ifNot != null) return ok("CREATE TABLE (exists)")
          throw new IllegalArgumentException(s"table exists: $name")
        }
        requireStorageName(name)
        registerAll()
        val src = spark.sql(PgRewrite.rewrite(sel))
        val colNames = src.schema.fields.map(_.name.toLowerCase).toSeq
        require(colNames.distinct.size == colNames.size,
          s"CREATE TABLE AS: duplicate column names in query result: " +
            colNames.diff(colNames.distinct).distinct.mkString(", "))
        require(!colNames.contains(TableDef.RowId),
          s"CREATE TABLE AS: reserved column name ${TableDef.RowId}")
        val dataCols = src.schema.fields.toSeq.map(f =>
          ColumnDef(f.name.toLowerCase, TypeMap.toSql(f.dataType)))
        val cols = ColumnDef(TableDef.RowId, "BIGINT", notNull = true,
          serial = true) +: dataCols
        catalog.putSequence(SequenceDef(s"${name}_${TableDef.RowId}_seq"))
        val t = TableDef(name, cols, Seq.empty, version = firstVersion(name), hasRowId = true)
        catalog.putTable(t)
        insertRows(t, Some(colNames.mkString(",")), src)
        ok("CREATE TABLE AS")
      case _ => throw new IllegalArgumentException(s"cannot parse CREATE TABLE AS: $stmt")
    }
  }

  // inline-PK bookkeeping between parseColumnDef and createTable
  private var inlinePkCols = Set.empty[(String, String)]

  private def parseColumnDef(item: String, table: String): ColumnDef = {
    val parts = item.trim.split("\\s+", 2)
    val name = parts(0).replaceAll("\"", "").toLowerCase
    var rest = if (parts.length > 1) parts(1) else "TEXT"
    // pull known trailing constraint tokens off the type
    var notNull = false; var unique = false; var serial = false
    var default: Option[String] = None
    var references: Option[(String, String)] = None
    val up = () => rest.toUpperCase
    var changed = true
    while (changed) {
      changed = false
      val u = up()
      def chop(n: Int): Unit = { rest = rest.substring(0, rest.length - n).trim; changed = true }
      if (u.endsWith("PRIMARY KEY")) { inlinePkCols += ((table, name)); notNull = true; chop(11) }
      else if (u.endsWith("NOT NULL")) { notNull = true; chop(8) }
      else if (u.endsWith("NULL")) chop(4)
      else if (u.endsWith("UNIQUE")) { unique = true; chop(6) }
      else {
        val refRe = """(?is)(.*)\bREFERENCES\s+([\w"]+)\s*\(([\w"]+)\)\s*$""".r
        val defRe = """(?is)(.*)\bDEFAULT\s+(\S+(?:\s*\([^)]*\))?)\s*$""".r
        val idRe = """(?is)(.*)\bGENERATED\s+(?:ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY\s*$""".r
        rest match {
          case refRe(pre, rt, rc) =>
            references = Some((rt.replaceAll("\"", "").toLowerCase, rc.replaceAll("\"", "").toLowerCase))
            rest = pre.trim; changed = true
          case defRe(pre, d) => default = Some(d); rest = pre.trim; changed = true
          case idRe(pre) => serial = true; rest = pre.trim; changed = true
          case _ =>
        }
      }
    }
    var sqlType = rest.trim
    if (TypeMap.isSerial(sqlType)) {
      serial = true
      sqlType = if (sqlType.equalsIgnoreCase("BIGSERIAL")) "BIGINT" else "INT"
    }
    val enumType = catalog.enums.get(sqlType.toLowerCase.stripSuffix("[]")).map(_.name)
    // an enum-ARRAY column must stay an array type; only the element
    // type collapses to TEXT
    val storedType =
      if (enumType.isDefined) (if (sqlType.trim.endsWith("[]")) "TEXT[]" else "TEXT")
      else sqlType
    ColumnDef(name, storedType,
      notNull = notNull, unique = unique, serial = serial,
      enumType = enumType, references = references, default = default)
  }

  private def dropTables(stmt: String): DataFrame = {
    val re = """(?is)DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(.*)""".r
    stmt.trim.stripSuffix(";") match {
      case re(ifEx, names) =>
        names.split(",").map(_.trim.replaceAll("\"", "").toLowerCase).foreach { n =>
          if (catalog.getTable(n).isEmpty && ifEx == null)
            throw new IllegalArgumentException(s"no such table: $n")
          catalog.getTable(n).foreach(t => PointLookup.release(catalog.tableDir(t).getParent))
          catalog.dropTable(n)
          spark.catalog.dropTempView(n)
        }
        graft.streaming.MatviewMaintenance.onSnapshotChange(catalog.root.toString)
        ok("DROP TABLE")
    }
  }

  private def truncate(stmt: String): DataFrame = {
    val names = stmt.trim.stripSuffix(";")
      .replaceAll("(?i)TRUNCATE(\\s+TABLE)?", "").split(",")
      .map(_.trim.replaceAll("\"", "").toLowerCase).filter(_.nonEmpty)
    names.foreach { n =>
      val t = catalog.getTable(n).getOrElse(throw new IllegalArgumentException(s"no such table: $n"))
      // lazy truncate (reference: truncate-ts bump): new empty version dir.
      // A crash in the middle of a publish outside a transaction can have
      // left that dir behind with its rows (ROLLBACK and crash recovery
      // delete what a transaction published); the write verbs overwrite
      // it, TRUNCATE empties it
      val nt = t.copy(version = t.version + 1)
      PointLookup.release(catalog.tableDir(t).getParent)
      deleteRecursively(catalog.tableDir(nt))
      Files.createDirectories(catalog.tableDir(nt))
      catalog.putTable(nt)
    }
    graft.streaming.MatviewMaintenance.onSnapshotChange(catalog.root.toString)
    ok("TRUNCATE")
  }

  /** `ALTER TABLE t RENAME TO t2` — catalog + storage-dir move. The
    * dir move cannot be undone by a catalog-snapshot rollback, so the
    * statement refuses a transaction block. Serial-owned sequences are
    * renamed to keep the `<table>_<col>_seq` derivation valid (PG keeps
    * the old sequence name; divergence documented), FK metadata in
    * referencing tables follows, and stored view SQL gets a
    * word-boundary rewrite (PG tracks renames through stored parse
    * trees; the textual rewrite is the string-SQL approximation). Live
    * matview checkpoints self-heal: their stamps name the old table, so
    * the next refresh sees a mismatch and rebuilds. */
  private def renameTable(t: TableDef, rawNew: String): DataFrame = {
    if (activeTxn.isDefined)
      throw new IllegalStateException(
        "ALTER TABLE RENAME cannot run inside a transaction block (storage move)")
    val newName = rawNew.replaceAll("\"", "").toLowerCase
    require(catalog.getTable(newName).isEmpty && !catalog.views.contains(newName),
      s"relation exists: $newName")
    requireStorageName(newName)
    val oldDir = catalog.root.resolve(t.name)
    PointLookup.release(oldDir)
    if (Files.exists(oldDir)) Files.move(oldDir, catalog.root.resolve(newName))
    t.columns.filter(_.serial).foreach { c =>
      val oldSeq = s"${t.name}_${c.name}_seq"
      catalog.sequences.get(oldSeq).foreach { sq =>
        catalog.dropSequence(oldSeq)
        catalog.putSequence(sq.copy(name = s"${newName}_${c.name}_seq"))
      }
    }
    catalog.tables.values.filter(_.name != t.name).foreach { o =>
      if (o.columns.exists(_.references.exists(_._1 == t.name)))
        catalog.putTable(o.copy(columns = o.columns.map(c =>
          c.copy(references = c.references.map {
            case (rt, rc) if rt == t.name => (newName, rc)
            case r => r
          }))))
    }
    val wordRe = ("(?i)(?<![\\w\"])" + java.util.regex.Pattern.quote(t.name) + "(?![\\w\"])").r
    catalog.views.values.foreach { v =>
      val rewritten = wordRe.replaceAllIn(v.sql, newName)
      if (rewritten != v.sql) catalog.putView(v.copy(sql = rewritten))
    }
    statsCache.get(statsKey(t.name)).foreach { st =>
      statsCache = statsCache - statsKey(t.name) + (statsKey(newName) -> st); saveStats()
    }
    catalog.dropTable(t.name)
    catalog.putTable(t.copy(name = newName))
    spark.catalog.dropTempView(t.name)
    ok("ALTER TABLE RENAME")
  }

  /** `ALTER TABLE t RENAME COLUMN a TO b` — parquet files store column
    * names, so a metadata-only rename would make every existing file's
    * column read as null under the catalog schema. The rename therefore
    * publishes a copy-on-write snapshot with the column renamed — the
    * same rewrite discipline as UPDATE (at warehouse scale a
    * name-mapping layer like Iceberg's field-ids would make this
    * metadata-only; out of scope here). Constraint metadata (PK,
    * composite uniques, FKs from other tables) and the serial sequence
    * derivation follow the new name. */
  private def renameColumn(t: TableDef, rawOld: String, rawNew: String): DataFrame = {
    val oldC = rawOld.replaceAll("\"", "").toLowerCase
    val newC = rawNew.replaceAll("\"", "").toLowerCase
    require(oldC != TableDef.RowId, "cannot rename the hidden rowid")
    val cd = t.column(oldC).getOrElse(
      throw new IllegalArgumentException(s"no column $oldC in ${t.name}"))
    require(t.column(newC).isEmpty, s"column exists: $newC")
    // a view whose SQL references this table and names the old column
    // would silently break at next registration: PG rewrites its stored
    // parse tree; with string SQL the honest behavior is to refuse
    // (RESTRICT) and tell the user which view to recreate
    def words(sql: String, w: String): Boolean =
      ("(?i)(?<![\\w\"])" + java.util.regex.Pattern.quote(w) + "(?![\\w\"])").r
        .findFirstIn(sql).isDefined
    catalog.views.values.find(v => words(v.sql, t.name) && words(v.sql, oldC))
      .foreach(v => throw new IllegalArgumentException(
        s"cannot rename ${t.name}.$oldC: referenced by view ${v.name} — " +
          "drop and recreate the view first"))
    val renamed = tableDf(t).withColumnRenamed(oldC, newC)
    val nt = t.copy(
      columns = t.columns.map(c => if (c.name == oldC) c.copy(name = newC) else c),
      primaryKey = t.primaryKey.map(k => if (k == oldC) newC else k),
      uniqueKeys = t.uniqueKeys.map(_.map(k => if (k == oldC) newC else k)),
      version = t.version + 1)
    writeSnapshot(renamed, "overwrite", catalog.tableDir(nt).toString)
    if (cd.serial) {
      val oldSeq = s"${t.name}_${oldC}_seq"
      catalog.sequences.get(oldSeq).foreach { sq =>
        catalog.dropSequence(oldSeq)
        catalog.putSequence(sq.copy(name = s"${t.name}_${newC}_seq"))
      }
    }
    catalog.tables.values.filter(_.name != t.name).foreach { o =>
      if (o.columns.exists(_.references.exists(r => r._1 == t.name && r._2 == oldC)))
        catalog.putTable(o.copy(columns = o.columns.map(c =>
          c.copy(references = c.references.map {
            case (rt, rc) if rt == t.name && rc == oldC => (rt, newC)
            case r => r
          }))))
    }
    catalog.putTable(nt)
    graft.streaming.MatviewMaintenance.onSnapshotChange(catalog.root.toString)
    ok("ALTER TABLE RENAME COLUMN")
  }

  /** `ALTER TABLE t ALTER COLUMN c TYPE type [USING expr]` — like the
    * column rename, parquet is physical: the conversion publishes a
    * copy-on-write snapshot with the column cast (or computed by the
    * USING expression). PG errors when a value does not convert;
    * Spark's non-ANSI cast nulls instead — so a conversion that turns
    * any non-null value into null fails loudly before publishing. */
  private def alterColumnType(t: TableDef, rawC: String, newType: String,
      usingOpt: Option[String]): DataFrame = {
    val cn = rawC.replaceAll("\"", "").toLowerCase
    require(cn != TableDef.RowId, "cannot alter the hidden rowid")
    require(t.column(cn).isDefined, s"no column $cn in ${t.name}")
    val newSql = newType.trim
    val spk = TypeMap.toSpark(newSql)
    val cur = tableDf(t)
    val newVal = usingOpt.map(u => expr(PgRewrite.rewrite(u)))
      .getOrElse(col(cn)).cast(spk)
    val next = cur.withColumn(cn, newVal)
    val nt = t.copy(columns = t.columns.map(c =>
      if (c.name == cn) c.copy(sqlType = newSql) else c), version = t.version + 1)
    // conversion failures: under ANSI (Spark 4 default) a bad cast
    // throws mid-job — rewrapped as the engine's error (note
    // SparkNumberFormatException IS-A IllegalArgumentException, so the
    // wrap must not be guarded by exception type); under try_cast /
    // non-ANSI USING expressions the null-count delta catches silent
    // value loss. Either way nothing publishes.
    def wrap[A](f: => A): A =
      try f catch {
        case e: Exception => throw new IllegalArgumentException(
          s"ALTER COLUMN TYPE: values of ${t.name}.$cn do not convert to $newSql: " +
            s"${Option(e.getCause).getOrElse(e).getMessage}", e)
      }
    val lost = wrap(cur.filter(col(cn).isNotNull).count() -
      next.filter(col(cn).isNotNull).count())
    if (lost > 0) throw new IllegalArgumentException(
      s"ALTER COLUMN TYPE: $lost value(s) of ${t.name}.$cn do not convert to $newSql" +
        usingOpt.fold(" (add a USING expression)")(_ => ""))
    wrap(writeSnapshot(next, "overwrite", catalog.tableDir(nt).toString))
    catalog.putTable(nt)
    graft.streaming.MatviewMaintenance.onSnapshotChange(catalog.root.toString)
    ok("ALTER TABLE")
  }

  private def alterTable(stmt: String): DataFrame = {
    val renTblRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+RENAME\s+TO\s+([\w"]+)\s*""".r
    val renColRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+RENAME\s+(?:COLUMN\s+)?([\w"]+)\s+TO\s+([\w"]+)\s*""".r
    val typeRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w"]+)\s+(?:SET\s+DATA\s+)?TYPE\s+([\w]+(?:\s+PRECISION)?(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?(?:\[\])?)\s*(?:USING\s+(.*))?""".r
    val setDefRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w"]+)\s+SET\s+DEFAULT\s+(.*)""".r
    val dropDefRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w"]+)\s+DROP\s+DEFAULT\s*""".r
    val setNNRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w"]+)\s+SET\s+NOT\s+NULL\s*""".r
    val dropNNRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w"]+)\s+DROP\s+NOT\s+NULL\s*""".r
    // pg_dump emits OWNER TO for every object — accepted + ignored
    val ownerRe = """(?is)ALTER\s+TABLE\s+(?:ONLY\s+)?([\w"]+)\s+OWNER\s+TO\s+.*""".r
    def colOf(t: TableDef, rawC: String): String = {
      val cn = rawC.replaceAll("\"", "").toLowerCase
      require(t.column(cn).isDefined, s"no column $cn in ${t.name}")
      cn
    }
    stmt.trim.stripSuffix(";") match {
      case renTblRe(rawT, rawNew) => return renameTable(requireTable(rawT), rawNew)
      case renColRe(rawT, rawOld, rawNew) =>
        return renameColumn(requireTable(rawT), rawOld, rawNew)
      case typeRe(rawT, rawC, newType, usingS) =>
        return alterColumnType(requireTable(rawT), rawC, newType, Option(usingS))
      case setDefRe(rawT, rawC, defExpr) =>
        val t = requireTable(rawT)
        val cn = colOf(t, rawC)
        catalog.putTable(t.copy(columns = t.columns.map(c =>
          if (c.name == cn) c.copy(default = Some(defExpr.trim)) else c)))
        return ok("ALTER TABLE")
      case dropDefRe(rawT, rawC) =>
        val t = requireTable(rawT)
        val cn = colOf(t, rawC)
        catalog.putTable(t.copy(columns = t.columns.map(c =>
          if (c.name == cn) c.copy(default = None) else c)))
        return ok("ALTER TABLE")
      case setNNRe(rawT, rawC) =>
        val t = requireTable(rawT)
        val cn = colOf(t, rawC)
        // the constraint must hold on existing rows before it can be
        // declared (same discipline as ADD PRIMARY KEY)
        if (tableDf(t).filter(col(cn).isNull).limit(1).count() > 0)
          throw new IllegalArgumentException(
            s"cannot SET NOT NULL: NULLs present in ${t.name}.$cn")
        catalog.putTable(t.copy(columns = t.columns.map(c =>
          if (c.name == cn) c.copy(notNull = true) else c)))
        return ok("ALTER TABLE")
      case dropNNRe(rawT, rawC) =>
        val t = requireTable(rawT)
        val cn = colOf(t, rawC)
        require(!t.primaryKey.contains(cn),
          s"cannot DROP NOT NULL: $cn is part of the primary key")
        catalog.putTable(t.copy(columns = t.columns.map(c =>
          if (c.name == cn) c.copy(notNull = false) else c)))
        return ok("ALTER TABLE")
      case ownerRe(rawT) =>
        requireTable(rawT)
        return ok("ALTER TABLE")
      case _ =>
    }
    val addRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ADD\s+(?:COLUMN\s+)?(.*)""".r
    val dropRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+DROP\s+(?:COLUMN\s+)?([\w"]+)\s*""".r
    val pkRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ADD\s+(?:CONSTRAINT\s+[\w"]+\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)\s*""".r
    // ADD CONSTRAINT forms (reference kv/KvQueryExecutor.java:2877-3153:
    // FK is recorded as metadata; enforcement here happens on every later
    // INSERT/UPDATE through validationParts).
    // trailing ON DELETE/ON UPDATE actions accepted + ignored (reference
    // records FK actions as metadata only)
    val fkRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ADD\s+(?:CONSTRAINT\s+[\w"]+\s+)?FOREIGN\s+KEY\s*\(([\w"]+)\)\s*REFERENCES\s+([\w"]+)\s*\(([\w"]+)\)\s*(?:ON\s+(?:DELETE|UPDATE)\s+.*)?""".r
    val uqRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ADD\s+(?:CONSTRAINT\s+[\w"]+\s+)?UNIQUE\s*\(([^)]*)\)\s*""".r
    val ckRe = """(?is)ALTER\s+TABLE\s+([\w"]+)\s+ADD\s+(?:CONSTRAINT\s+[\w"]+\s+)?CHECK\s*\(.*""".r
    stmt.trim.stripSuffix(";") match {
      case pkRe(rawT, colsS) =>
        val t = requireTable(rawT)
        val pk = colsS.split(",").map(_.trim.replaceAll("\"", "").toLowerCase).toSeq
        pk.foreach(k => require(t.column(k).isDefined, s"no column $k"))
        // the new key must actually hold on existing rows, and the key
        // columns become NOT NULL — otherwise DML validation would never
        // enforce the added PK (rowid tables included). NULLs and
        // duplicates are one aggregate; NULLs are reported first.
        val (counted, dups) = keyDuplicates(tableDf(t), pk, "__kc")
        val r = counted.agg(count(when(!allSet(pk), lit(1))), dups).collect()(0)
        if (r.getLong(0) > 0)
          throw new IllegalArgumentException(
            s"cannot ADD PRIMARY KEY: NULLs present in (${pk.mkString(",")})")
        if (r.getLong(1) > 0)
          throw new IllegalArgumentException(
            s"cannot ADD PRIMARY KEY: existing duplicates on (${pk.mkString(",")})")
        catalog.putTable(t.copy(primaryKey = pk,
          columns = t.columns.map(c =>
            if (pk.contains(c.name)) c.copy(notNull = true) else c)))
        ok("ALTER TABLE")
      case fkRe(rawT, rawC, rawRt, rawRc) =>
        val t = requireTable(rawT)
        val cn = rawC.replaceAll("\"", "").toLowerCase
        val rt = rawRt.replaceAll("\"", "").toLowerCase
        val rc = rawRc.replaceAll("\"", "").toLowerCase
        require(catalog.getTable(rt).isDefined, s"FK parent missing: $rt")
        val cd = t.column(cn).getOrElse(throw new IllegalArgumentException(s"no column $cn"))
        catalog.putTable(t.copy(columns = t.columns.map(c =>
          if (c.name == cd.name) c.copy(references = Some((rt, rc))) else c)))
        ok("ALTER TABLE")
      case uqRe(rawT, colsS) =>
        addUniqueKey(requireTable(rawT),
          colsS.split(",").map(_.trim.replaceAll("\"", "").toLowerCase).toSeq,
          "ALTER TABLE")
      case ckRe(rawT) =>
        requireTable(rawT) // CHECK accepted + ignored (reference parity)
        ok("ALTER TABLE")
      case dropRe(rawT, rawC) =>
        val t = requireTable(rawT)
        val c = rawC.replaceAll("\"", "").toLowerCase
        // dependent-object hygiene (PG errors without CASCADE; we match):
        // another table's FK on this column blocks the drop
        catalog.tables.values.foreach { o =>
          if (o.name != t.name && o.columns.exists(_.references.contains((t.name, c))))
            throw new IllegalArgumentException(
              s"cannot DROP COLUMN ${t.name}.$c: referenced by a FOREIGN KEY on ${o.name}")
        }
        // constraints that include the column fall away with it (PG drops
        // the whole multi-column constraint)
        catalog.putTable(t.copy(
          columns = t.columns.filterNot(_.name == c),
          primaryKey = if (t.primaryKey.contains(c)) Nil else t.primaryKey,
          uniqueKeys = t.uniqueKeys.filterNot(_.contains(c))))
        ok("ALTER TABLE")
      case addRe(rawT, colDef) =>
        val t = requireTable(rawT)
        // a constraint form the dedicated patterns above failed to parse
        // must ERROR here, not silently become a junk column named
        // "constraint"/"foreign" in the catalog
        val firstWord = colDef.trim.split("[\\s(]+", 2)(0).toUpperCase
        if (Set("CONSTRAINT", "FOREIGN", "UNIQUE", "PRIMARY", "CHECK")(firstWord))
          throw new IllegalArgumentException(s"unsupported ALTER constraint form: $stmt")
        val c = parseColumnDef(colDef, t.name)
        require(t.column(c.name).isEmpty, s"column exists: ${c.name}")
        // a SERIAL/IDENTITY column needs its backing sequence, exactly as
        // createTable provisions one
        if (c.serial) {
          val sq = s"${t.name}_${c.name}_seq"
          if (!catalog.sequences.contains(sq)) catalog.putSequence(SequenceDef(sq))
        }
        catalog.putTable(t.copy(columns = t.columns :+ c))
        ok("ALTER TABLE")
      case _ => throw new IllegalArgumentException(s"unsupported ALTER: $stmt")
    }
  }

  /** Declare a UNIQUE key (shared by ALTER TABLE ADD UNIQUE and CREATE
    * UNIQUE INDEX): rejects if existing rows already violate it, then
    * records single columns as `unique` flags and composites in
    * `uniqueKeys`. */
  private def addUniqueKey(t: TableDef, ks: Seq[String], kind: String): DataFrame = {
    ks.foreach(k => require(t.column(k).isDefined, s"no column $k"))
    val nt =
      if (ks.length == 1)
        t.copy(columns = t.columns.map(c =>
          if (c.name == ks.head) c.copy(unique = true) else c))
      else t.copy(uniqueKeys = t.uniqueKeys :+ ks)
    val (counted, dups) = keyDuplicates(tableDf(nt), ks, "__kc")
    if (counted.agg(dups).collect()(0).getLong(0) > 0)
      throw new IllegalArgumentException(
        s"cannot ADD UNIQUE: existing duplicates on (${ks.mkString(",")})")
    catalog.putTable(nt)
    ok(kind)
  }

  /** CREATE [UNIQUE] INDEX: a plain index is a metadata no-op (SURVEY
    * §2.1 — Catalyst pushdown/pruning replaces index scans), but a UNIQUE
    * index DECLARES A CONSTRAINT and maps onto the same metadata as ALTER
    * TABLE ADD UNIQUE. Functional/expression indexes stay no-ops (their
    * uniqueness isn't expressible as column metadata). */
  private def createIndex(stmt: String): DataFrame = {
    // optional CONCURRENTLY, schema-qualified table, USING clause — all
    // forms that carry UNIQUE must parse or THROW: silently accepting an
    // unparsed unique index would leave the user believing a uniqueness
    // constraint exists that is never enforced
    val uqIdxRe = ("""(?is)CREATE\s+UNIQUE\s+INDEX\s+(?:CONCURRENTLY\s+)?(?:IF\s+NOT\s+EXISTS\s+)?(?:[\w"]+\s+)?""" +
      """ON\s+(?:(?:[\w"]+)\.)?([\w"]+)\s*(?:USING\s+\w+\s*)?\(([^)]*)\)\s*""").r
    stmt.trim.stripSuffix(";") match {
      case uqIdxRe(rawT, colsS) =>
        val t = requireTable(rawT)
        val ks = colsS.split(",").map(_.trim.replaceAll("\"", "").toLowerCase).toSeq
        if (ks.forall(k => t.column(k).isDefined)) addUniqueKey(t, ks, "CREATE INDEX")
        else ok("CREATE INDEX") // expression index: accept, cannot enforce
      // only statements that really declare CREATE UNIQUE INDEX must
      // parse-or-throw — a plain index whose NAME merely contains the
      // substring 'unique' (idx_unique_email, a column unique_id) is
      // still a valid no-op
      case s if s.matches("""(?is)^\s*CREATE\s+UNIQUE\s+INDEX\b.*""") =>
        throw new IllegalArgumentException(s"cannot parse CREATE UNIQUE INDEX: $stmt")
      case _ => ok("CREATE INDEX") // plain index: a no-op by design
    }
  }

  private def requireTable(raw: String): TableDef = {
    val n = raw.replaceAll("\"", "").toLowerCase
    catalog.getTable(n).getOrElse(throw new IllegalArgumentException(s"no such table: $n"))
  }

  private def createSequence(stmt: String): DataFrame = {
    val re = """(?is)CREATE\s+SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?([\w"]+)(.*)""".r
    stmt.trim.stripSuffix(";") match {
      case re(_, rawName, opts) =>
        val name = rawName.replaceAll("\"", "").toLowerCase
        var sq = SequenceDef(name)
        val o = opts.toUpperCase
        def num(p: String): Option[Long] =
          (p + """\s+(-?\d+)""").r.findFirstMatchIn(o).map(_.group(1).toLong)
        num("INCREMENT(?:\\s+BY)?").foreach(v => sq = sq.copy(increment = v))
        num("START(?:\\s+WITH)?").foreach(v => sq = sq.copy(start = v))
        num("MINVALUE").foreach(v => sq = sq.copy(minValue = v))
        num("MAXVALUE").foreach(v => sq = sq.copy(maxValue = v))
        if (o.contains("CYCLE") && !o.contains("NO CYCLE")) sq = sq.copy(cycle = true)
        if (sq.increment < 0 && !o.contains("MINVALUE")) sq = sq.copy(minValue = Long.MinValue)
        if (sq.increment < 0 && !o.contains("START")) sq = sq.copy(start = sq.maxValue)
        catalog.putSequence(sq)
        ok("CREATE SEQUENCE")
    }
  }

  private def createType(stmt: String): DataFrame = {
    val re = """(?is)CREATE\s+TYPE\s+([\w"]+)\s+AS\s+ENUM\s*\((.*)\)\s*""".r
    stmt.trim.stripSuffix(";") match {
      case re(rawName, vals) =>
        val name = rawName.replaceAll("\"", "").toLowerCase
        val values = topSplit(vals).map(_.trim.stripPrefix("'").stripSuffix("'"))
        catalog.putEnum(EnumDef(name, values))
        ok("CREATE TYPE")
      case _ => throw new IllegalArgumentException(s"unsupported CREATE TYPE: $stmt")
    }
  }

  private def createView(stmt: String): DataFrame = {
    val re = """(?is)CREATE\s+(OR\s+REPLACE\s+)?(MATERIALIZED\s+)?VIEW\s+([\w"]+)\s+AS\s+(.*)""".r
    stmt.trim.stripSuffix(";") match {
      case re(orRepl, mat, rawName, body) =>
        val name = rawName.replaceAll("\"", "").toLowerCase
        if (catalog.views.contains(name) && orRepl == null)
          throw new IllegalArgumentException(s"view exists: $name")
        // a redefinition must not inherit maintenance state built for the
        // old SQL (no-op for a fresh name)
        graft.streaming.MatviewMaintenance.onViewChanged(this, name)
        // a matview's first snapshot goes past the ones a dropped or
        // replaced matview of the same name left for ROLLBACK or a reader
        val v = ViewDef(name, body.trim, materialized = mat != null,
          version = if (mat != null) firstVersion("_mv_" + name) else 0L)
        catalog.putView(v)
        if (v.materialized) materialize(v)
        ok("CREATE VIEW")
    }
  }

  /** Recompute a matview snapshot (reference kv/KvQueryExecutor.java:5088-5256
    * row-copies through the driver; here the SELECT writes parquet directly
    * — fully distributed, any size). */
  private[graft] def materialize(v: ViewDef): Unit = {
    registerAll()
    val nv = v.copy(version = v.version + 1)
    writeSnapshot(spark.sql(PgRewrite.rewrite(v.sql)), "overwrite",
      catalog.matviewDir(nv).toString)
    catalog.putView(nv)
  }

  /** REFRESH MATERIALIZED VIEW v [INCREMENTALLY | CONTINUOUSLY]:
    * bare = full recompute; INCREMENTALLY = one-shot streaming refresh of
    * only the part-files appended since the last call (a write that
    * moved a snapshot version resets the held state: the refresh streams
    * the new snapshots from scratch when the last refresh before it read
    * held state, and otherwise runs the bare full recompute with no
    * stream started); CONTINUOUSLY = start
    * the background maintainer (the reference's scheduler job,
    * kv/jobs/BackgroundJobScheduler.java, as a SQL statement) — stopped
    * by DROP / redefinition / any snapshot version bump. */
  private def refreshMatview(stmt: String): DataFrame = {
    val trimmed = stmt.trim.stripSuffix(";")
    val up = trimmed.toUpperCase
    val mode =
      if (up.endsWith("INCREMENTALLY")) "incremental"
      else if (up.endsWith("CONTINUOUSLY")) "continuous"
      else "full"
    val body = trimmed.replaceAll("(?i)\\s+(INCREMENTALLY|CONTINUOUSLY)\\s*$", "")
    val name = lastWord(body).toLowerCase
    val v = catalog.views.getOrElse(name,
      throw new IllegalArgumentException(s"no such matview: $name"))
    require(v.materialized, s"$name is not materialized")
    mode match {
      case "incremental" => graft.streaming.MatviewMaintenance.refreshOnce(this, name)
      case "continuous" => graft.streaming.MatviewMaintenance.continuous(this, name)
      case _ => materialize(v)
    }
    ok("REFRESH")
  }

  private def dropView(stmt: String): DataFrame = {
    val name = lastWord(stmt).toLowerCase
    graft.streaming.MatviewMaintenance.onViewChanged(this, name)
    catalog.dropView(name)
    spark.catalog.dropTempView(name)
    ok("DROP VIEW")
  }

  /** EXPLAIN [ANALYZE]. Caveat on ANALYZE timing: execution is driven by
    * `df.count()`, and Catalyst may prune columns the bare query would
    * materialize (a count over a projection can skip column reads), so
    * the reported time can slightly UNDERSTATE the real scan cost. Plan
    * text is unaffected. A primary-key lookup shows the index's local
    * scan only when its index is already built, else the parquet scan. */
  private def explain(stmt: String): DataFrame = {
    import spark.implicits._
    val inner = stmt.trim.replaceFirst("(?is)^EXPLAIN\\s+(ANALYZE\\s+)?", "")
    val df = planQuery(inner) // EXPLAIN is read-classified — atomic with registration
    val analyze = stmt.trim.toUpperCase.startsWith("EXPLAIN ANALYZE")
    def shown = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // a cold point-lookup index is not built just to print the plan
    val plan = if (analyze) shown else PointLookup.planning(shown)
    val text =
      if (!analyze) plan
      else {
        val t0 = System.nanoTime()
        val n = df.count()
        f"$plan%nExecution: rows=$n time=${(System.nanoTime() - t0) / 1e6}%.1f ms"
      }
    text.linesIterator.toSeq.toDF("plan")
  }

  // --------------------------------------------- introspection / utility

  /** SHOW TABLES: catalog listing (tables, views, matviews, sequences,
    * enums) — the engine's pg_catalog-lite (reference PgCatalogManager). */
  private def showTables(): DataFrame = {
    import spark.implicits._
    val rows =
      catalog.tables.values.map(t => (t.name, "table")).toSeq ++
        catalog.views.values.map(v => (v.name, if (v.materialized) "matview" else "view")) ++
        catalog.sequences.values.map(q => (q.name, "sequence")) ++
        catalog.enums.values.map(e => (e.name, "enum"))
    rows.toDF("name", "type").orderBy("type", "name")
  }

  /** DESCRIBE t / \d t: visible columns with declared type + constraint
    * flags, followed by the table's indexes and FK constraints as their
    * own rows — the same detail psql's \d prints in its Indexes: /
    * Foreign-key constraints: sections (reference
    * postgres/PostgresConnectionHandler.java:372-396 describe path).
    * Also answers for views/matviews (columns from the resolved plan). */
  private def describe(name: String): DataFrame = {
    import spark.implicits._
    catalog.getTable(name.toLowerCase) match {
      case Some(t) =>
        val cols = t.visibleColumns.map { c =>
          val flags = Seq(
            if (t.primaryKey.contains(c.name)) Some("PK") else None,
            if (c.notNull) Some("NOT NULL") else None,
            if (c.unique) Some("UNIQUE") else None,
            if (c.serial) Some("SERIAL") else None,
            c.enumType.map(e => s"ENUM($e)"),
            c.references.map(r => s"FK→${r._1}(${r._2})")).flatten.mkString(" ")
          (c.name, c.sqlType, flags)
        }
        val idx =
          (if (t.primaryKey.nonEmpty)
            Seq((s"${t.name}_pkey", "index", s"PRIMARY KEY (${t.primaryKey.mkString(", ")})"))
          else Nil) ++
          t.columns.filter(_.unique).map(c =>
            (s"${t.name}_${c.name}_key", "index", s"UNIQUE (${c.name})")) ++
          t.uniqueKeys.zipWithIndex.map { case (k, i) =>
            (s"${t.name}_uq${i + 1}_key", "index", s"UNIQUE (${k.mkString(", ")})")
          } ++
          t.columns.flatMap(c => c.references.map { case (rt, rc) =>
            (s"${t.name}_${c.name}_fkey", "constraint",
              s"FOREIGN KEY (${c.name}) REFERENCES $rt($rc)")
          })
        (cols ++ idx).toDF("column", "type", "constraints")
      case None if catalog.views.contains(name.toLowerCase) =>
        val v = catalog.views(name.toLowerCase)
        registerAll()
        val kind = if (v.materialized) "matview" else "view"
        spark.table(v.name).schema.fields.map(f =>
          (f.name, f.dataType.sql, kind)).toSeq.toDF("column", "type", "constraints")
      case None =>
        throw new IllegalArgumentException(s"no such relation: $name")
    }
  }

  /** psql backslash meta-commands, answered as result sets (the reference
    * serves these at wire-protocol level,
    * postgres/PostgresConnectionHandler.java:372-430; protocol-only
    * toggles like \q \timing \x stay out of scope). Patterns accept
    * psql's * wildcard. */
  // psql client-side display toggles (\x, \timing): state acknowledged so
  // replayed psql scripts run; rendering itself is the client's job
  private var expandedDisplay = false
  private var timingDisplay = false

  private def metaCommand(stmt: String): DataFrame = {
    import spark.implicits._
    val parts = stmt.trim.stripSuffix(";").split("\\s+", 2)
    val cmd = parts(0).toLowerCase
    val arg = if (parts.length > 1) Some(parts(1).trim.replaceAll("\"", "").toLowerCase)
      else None
    def matches(n: String): Boolean =
      arg.forall(p => n.matches(p.replace("*", ".*")))
    def rels(kinds: Set[String]): DataFrame =
      (catalog.tables.values.map(t => ("public", t.name, "table", "graft")).toSeq ++
        catalog.views.values.map(v =>
          ("public", v.name, if (v.materialized) "materialized view" else "view", "graft")) ++
        catalog.sequences.values.map(q => ("public", q.name, "sequence", "graft")))
        .filter(r => kinds.contains(r._3) && matches(r._2))
        .toDF("schema", "name", "type", "owner").orderBy("name")
    cmd match {
      case "\\dt+" =>
        // like the reference's list-tables-with-sizes: bytes = current
        // snapshot dir's file total (driver-side metadata listing only)
        catalog.tables.values.filter(t => matches(t.name)).map { t =>
          val dir = catalog.tableDir(t)
          val bytes =
            if (!Files.exists(dir)) 0L
            else {
              val st = Files.list(dir)
              try st.mapToLong(f =>
                try Files.size(f) catch { case _: java.io.IOException => 0L }).sum()
              finally st.close()
            }
          ("public", t.name, "table", "graft", bytes)
        }.toSeq.toDF("schema", "name", "type", "owner", "size_bytes").orderBy("name")
      case "\\dt" => rels(Set("table"))
      case "\\dv" => rels(Set("view", "materialized view"))
      case "\\ds" => rels(Set("sequence"))
      case "\\d" | "\\d+" => arg match {
        case Some(n) => describe(n)
        case None => rels(Set("table", "view", "materialized view", "sequence"))
      }
      case "\\di" =>
        catalog.tables.values.flatMap { t =>
          (if (t.primaryKey.nonEmpty) Seq(s"${t.name}_pkey" -> t.name) else Nil) ++
            t.columns.filter(_.unique).map(c => s"${t.name}_${c.name}_key" -> t.name) ++
            t.uniqueKeys.zipWithIndex.map { case (_, i) => s"${t.name}_uq${i + 1}_key" -> t.name }
        }.toSeq.filter(r => matches(r._1))
          .map { case (i, tn) => ("public", i, "index", "graft", tn) }
          .toDF("schema", "name", "type", "owner", "table").orderBy("name")
      case "\\dn" =>
        Seq(("public", "graft"), ("pg_catalog", "graft"), ("information_schema", "graft"))
          .toDF("name", "owner")
      case "\\du" => Seq(("graft", "Superuser")).toDF("role_name", "attributes")
      case "\\l" | "\\list" =>
        databases.map(n => (n, "graft", "UTF8")).toDF("name", "owner", "encoding")
      case "\\df" | "\\df+" =>
        // function listing from Spark's own registry — what a user can
        // actually call here (reference serves \df from pg_catalog,
        // postgres/PostgresConnectionHandler.java:372-396)
        spark.catalog.listFunctions().collect().toSeq
          .filter(f => matches(f.name.toLowerCase))
          .map(f => ("public", f.name.toLowerCase,
            if (f.isTemporary) "temporary" else "builtin"))
          .sortBy(_._2).toDF("schema", "name", "kind")
      case "\\x" =>
        // expanded display is client-side row FORMATTING; the toggle is
        // acknowledged so scripts with \x run, output shape is unchanged
        expandedDisplay = arg.map(_ == "on").getOrElse(!expandedDisplay)
        Seq(s"Expanded display is ${if (expandedDisplay) "on" else "off"}.")
          .toDF("status")
      case "\\timing" =>
        timingDisplay = arg.map(_ == "on").getOrElse(!timingDisplay)
        Seq(s"Timing is ${if (timingDisplay) "on" else "off"}.").toDF("status")
      case "\\c" | "\\connect" =>
        // multi-database switch: `\c name` swaps the live catalog (a
        // nonexistent target is the PG "does not exist" error); bare \c
        // re-connects to the current database
        arg.map(_.split("\\s+").head).foreach(connectDatabase)
        Seq(s"""You are now connected to database "${ctx.dbName}" as user "graft".""")
          .toDF("status")
      case "\\conninfo" =>
        Seq(s"""You are connected to database "${ctx.dbName}" as user "graft".""")
          .toDF("status")
      case "\\copy" =>
        // \copy is COPY in psql clothing — the one meta-command that can
        // WRITE, so it takes the same cross-database transaction guard
        // execKeyword applies to the bare spelling (review find: the
        // backslash route bypassed guardCrossDbTxn entirely)
        guardCrossDbTxn("\\copy")
        // psql's CLIENT-side COPY: in a single-process engine the session
        // IS the client, so \copy is COPY plus psql's unquoted-path
        // convenience. The raw statement is re-split (the shared `arg`
        // lowercases and strips quotes — wrong for file paths), and for
        // the \copy (query) TO form only the clause TAIL is rewritten so
        // the query's own FROM keyword is never misquoted as a path.
        val rest = stmt.trim.stripSuffix(";").split("\\s+", 2).lift(1)
          .getOrElse(throw new IllegalArgumentException(
            "\\copy requires arguments")).trim
        val (qHead, clauseTail) =
          if (rest.startsWith("(")) {
            var d = 0; var i = 0; var close = -1
            while (i < rest.length && close < 0) {
              rest.charAt(i) match {
                case '(' => d += 1
                case ')' => d -= 1; if (d == 0) close = i
                case _ =>
              }
              i += 1
            }
            require(close > 0, s"unbalanced parens in \\copy: $stmt")
            (rest.substring(0, close + 1), rest.substring(close + 1))
          } else ("", rest)
        val unquotedPath =
          """(?i)\b(FROM|TO)\s+(?!')(?!STDIN\b)(?!STDOUT\b)(\S+)""".r
        val tail = unquotedPath.replaceAllIn(clauseTail, m =>
          java.util.regex.Matcher.quoteReplacement(
            s"${m.group(1)} '${m.group(2)}'"))
        copy("COPY " + qHead + tail)
      case other => throw new IllegalArgumentException(
        s"unknown meta-command: $other (supported: \\d \\dt \\dv \\ds \\di " +
          "\\dn \\du \\df \\l \\c \\conninfo \\x \\timing \\copy)")
    }
  }

  /** COPY t FROM 'file' [WITH] (FORMAT CSV[, HEADER] | JSON | PARQUET) —
    * bulk load through the same validation+append path as INSERT
    * (reference COPY FROM STDIN,
    * postgres/PostgresConnectionHandler.java:1310; file-based here).
    * COPY t TO 'file' / COPY (query) TO 'file' export as CSV (default),
    * JSON, or PARQUET — parquet being the columnar interchange format a
    * 100 TB pipeline actually moves data in. */
  private def copy(stmt: String): DataFrame = {
    val fromRe = """(?is)COPY\s+([\w"]+)\s+FROM\s+'([^']+)'(.*)""".r
    val toRe = """(?is)COPY\s+([\w"]+)\s+TO\s+'([^']+)'(.*)""".r
    val toStdoutRe = """(?is)COPY\s+([\w"]+)\s+TO\s+STDOUT(.*)""".r
    // PG's query-export form: COPY (SELECT …) TO 'file' | STDOUT. The
    // subquery is extracted with a balanced-paren scan (it may contain
    // parens/literals), run through the standard rewrite+Catalyst path,
    // then exported like the table form.
    val trimmed = stmt.trim.stripSuffix(";")
    val qMatch = """(?is)^COPY\s*\(""".r.findPrefixMatchOf(trimmed)
    if (qMatch.isDefined) {
      val open = qMatch.get.end - 1
      var depth = 0; var j = open; var close = -1
      while (j < trimmed.length && close < 0) {
        trimmed.charAt(j) match {
          case '\'' => // skip literal
            j += 1
            while (j < trimmed.length && trimmed.charAt(j) != '\'') j += 1
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = j
          case _ =>
        }
        if (close < 0) j += 1
      }
      require(close > 0, s"unbalanced parens in COPY (query): $stmt")
      val sel = trimmed.substring(open + 1, close)
      val tail = trimmed.substring(close + 1).trim
      registerAll()
      val df = spark.sql(PgRewrite.rewrite(sel))
      val toFile = """(?is)^TO\s+'([^']+)'(.*)""".r
      val toOut = """(?is)^TO\s+STDOUT(.*)""".r
      tail match {
        case toFile(path, opts) =>
          writeExport(df, path, opts)
          ok("COPY TO")
        case toOut(opts) =>
          val cols = df.columns.map(col)
          val line =
            if (opts.toUpperCase.contains("CSV")) to_csv(struct(cols.toSeq: _*))
            else concat_ws("\t",
              cols.toSeq.map(c => coalesce(c.cast("string"), lit("\\N"))): _*)
          df.select(line.as("line"))
        case _ => throw new IllegalArgumentException(s"cannot parse COPY: $stmt")
      }
    } else trimmed match {
      case toStdoutRe(rawT, opts) =>
        // the result-set form of the reference's CopyData-out stream:
        // every visible row serialized to one line. Default PG text mode
        // (tab-separated, \N nulls); (FORMAT CSV) selects proper CSV via
        // Spark's to_csv.
        val t = requireTable(rawT)
        val visCols = t.visibleColumns.map(c => col(c.name))
        val line =
          if (opts.toUpperCase.contains("CSV"))
            to_csv(struct(visCols: _*))
          else
            concat_ws("\t", visCols.map(c => coalesce(c.cast("string"), lit("\\N"))): _*)
        visibleDf(t).select(line.as("line"))
      case copyStdinRe(rawT, colList, opts, body) =>
        val up = opts.toUpperCase
        val fmt = if (up.contains("JSON")) "JSON" else if (up.contains("CSV")) "CSV" else "TEXT"
        val lines = body.linesIterator.takeWhile(_.trim != "\\.")
          .filterNot(_.isEmpty).toSeq
        val cols = Option(colList).map(
          _.split(",").map(_.trim.replaceAll("\"", "").toLowerCase).toSeq)
        copyIn(rawT.replaceAll("\"", ""), lines, fmt, up.contains("HEADER"), cols)
      case fromRe(rawT, path, opts) =>
        val t = requireTable(rawT)
        val up = opts.toUpperCase
        val vis = t.visibleColumns
        val schema = StructType(vis.map(c =>
          StructField(c.name, TypeMap.toSpark(c.sqlType), nullable = true)))
        val src =
          if (up.contains("PARQUET"))
            // parquet carries its own schema; project+cast to the
            // table's visible columns so validation sees declared types
            graft.Tables.readParquet(spark, path).select(vis.map(c =>
              col(c.name).cast(TypeMap.toSpark(c.sqlType)).as(c.name)): _*)
          else if (up.contains("JSON")) spark.read.schema(schema).json(path)
          else spark.read.option("header", up.contains("HEADER")).schema(schema).csv(path)
        insertRows(t, Some(vis.map(_.name).mkString(",")), src)
      case toRe(rawT, path, opts) =>
        writeExport(visibleDf(requireTable(rawT)), path, opts)
        ok("COPY TO")
      case _ => throw new IllegalArgumentException(s"cannot parse COPY: $stmt")
    }
  }

  /** COPY … TO 'file' export writer: (FORMAT PARQUET | JSON | CSV
    * [, HEADER]) — parquet is the native interchange format at scale
    * (columnar, schema-carrying, splittable); CSV stays the PG-compatible
    * default. */
  private def writeExport(df: DataFrame, path: String, opts: String): Unit = {
    val up = opts.toUpperCase
    if (up.contains("PARQUET")) df.write.mode("overwrite").parquet(path)
    else if (up.contains("JSON")) df.write.mode("overwrite").json(path)
    else df.write.option("header", up.contains("HEADER")).mode("overwrite").csv(path)
  }

  /** COPY t FROM STDIN with pg_dump-style inline data: the statement text
    * carries the rows after the first newline, terminated by `\.` — the
    * scripted form of the reference's CopyData streaming
    * (postgres/PostgresConnectionHandler.java:1310). Default format is
    * PG's text mode (tab-separated, \N nulls); (FORMAT CSV [, HEADER])
    * selects CSV. Data lines must not contain `;` (the statement splitter
    * runs first). */
  private val copyStdinRe =
    """(?is)COPY\s+([\w"]+)\s*(?:\(([^)]*)\))?\s*FROM\s+STDIN([^\n]*)\n(.*)""".r

  /** COPY FROM STDIN analogue for library users: bulk-load in-memory
    * lines through the SAME validated insert path as INSERT/COPY — every
    * constraint (PK/UNIQUE/FK/NOT NULL/enum/JSON) checked distributed,
    * nothing published unless the whole batch passes (a violation
    * mid-stream rejects atomically). `format` is "TEXT" (PG default:
    * tab-separated, \N nulls), "CSV", or "JSON". */
  def copyIn(table: String, lines: IterableOnce[String], format: String = "TEXT",
      header: Boolean = false, cols: Option[Seq[String]] = None): DataFrame = {
    import spark.implicits._
    val t = requireTable(table)
    // optional column list (`COPY t (a, b) FROM STDIN`): lines carry only
    // those columns, the rest take their DEFAULT/serial through the
    // normal insert path — same semantics as INSERT INTO t (a, b)
    val vis = cols match {
      case None => t.visibleColumns
      case Some(ks) => ks.map(k => t.column(k).getOrElse(
        throw new IllegalArgumentException(s"COPY: no column $k in ${t.name}")))
    }
    val schema = StructType(vis.map(c =>
      StructField(c.name, TypeMap.toSpark(c.sqlType), nullable = true)))
    // the whole stream materializes on the driver before distribution —
    // bounded by driver memory, like the reference buffering CopyData
    // rows per connection; kept whole for COPY's all-or-nothing semantics
    val ds = spark.createDataset(lines.iterator.toSeq)
    val src = format.toUpperCase match {
      case "JSON" => spark.read.schema(schema).json(ds)
      case "CSV" => spark.read.option("header", header).schema(schema).csv(ds)
      case _ => spark.read.option("sep", "\t").option("nullValue", "\\N")
        .schema(schema).csv(ds)
    }
    insertRows(t, Some(vis.map(_.name).mkString(",")), src)
  }

  /** Reader overload (java.io interop): drains the reader line-wise into
    * [[copyIn]], stopping at EOF or the first `\.` terminator — PG COPY
    * ignores anything after the terminator, so consumption must stop
    * there too (matching the inline-statement path's takeWhile). */
  def copyIn(table: String, reader: java.io.Reader, format: String,
      header: Boolean): DataFrame = {
    val br = new java.io.BufferedReader(reader)
    val lines = Iterator.continually(br.readLine())
      .takeWhile(l => l != null && l.trim != "\\.")
    copyIn(table, lines, format, header)
  }

  /** Time travel: read table `name` at an older snapshot version — the
    * file-level MVCC the copy-on-write layout gives for free (reference
    * reads at an MVCC timestamp, kv/KvStore.java:353-408; here versions
    * are the published snapshot dirs). Current data is never disturbed. */
  def tableVersion(name: String, version: Long): DataFrame = {
    val t = requireTable(name)
    require(version <= t.version, s"version $version > current ${t.version}")
    val minV = minRetained(t.name)
    if (version < minV) throw new IllegalStateException(
      s"version $version of ${t.name} was pruned by VACUUM (oldest retained: $minV)")
    val asOf = t.copy(version = version)
    val dir = catalog.tableDir(asOf)
    val schema = StructType(t.columns.map(c =>
      StructField(c.name, TypeMap.toSpark(c.sqlType), nullable = true)))
    val df =
      if (!dirNonEmpty(dir))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.schema(schema).parquet(dir.toString)
    df.select(t.visibleColumns.map(c => col(c.name)): _*)
  }

  // ----------------------------------------------------------------- DML

  /** The unique key sets a table enforces: single-column UNIQUE,
    * composite UNIQUE, and the primary key. */
  private def uniqueKeySets(t: TableDef): Seq[Seq[String]] =
    (t.columns.filter(_.unique).map(c => Seq(c.name)) ++ t.uniqueKeys ++
      (if (t.primaryKey.nonEmpty) Seq(t.primaryKey) else Nil)).distinct

  /** A key with any NULL part is never equal to another key (PG unique
    * semantics), so it can neither duplicate nor conflict. */
  private def allSet(k: Seq[String]): Column = k.map(col(_).isNotNull).reduce(_ && _)

  /** The duplicate-key detector, shared by DML validation, the
    * affect-twice check ([[affectTwice]]) and ALTER's constraint backfill:
    * `df` gains column `name`, the number of `keep` rows sharing each
    * row's key `k` (a window count), and the returned aggregate counts the
    * `keep` rows whose key is fully set and occurs more than once. The
    * window groups NULL keys together, so the [[allSet]] guard is what
    * keeps a key with a NULL part from ever counting. */
  private def keyDuplicates(df: DataFrame, k: Seq[String], name: String,
      keep: Column = lit(true)): (DataFrame, Column) =
    (df.withColumn(name, count(when(keep, lit(1))).over(Window.partitionBy(k.map(col): _*))),
      count(when(keep && allSet(k) && col(name) > 1, lit(1))))

  /** PG's "cannot affect a row a second time" rule as a [[keyDuplicates]]
    * window over `k`, a key every row of `rows` carries: the target's
    * pre-image row key (UPDATE … FROM, MERGE) or upsert's pre-SET conflict
    * key. Every row a statement can hit has it set, and rows that cannot
    * be hit hold distinct keys, so a repeat means one row was hit twice
    * and no window group collects the untouched rows. When `single` the
    * rows are coalesced first, so the window adds no shuffle. The
    * aggregate and `msg` are validationParts' `twice` check, observed in
    * the statement's one write. */
  private def affectTwice(rows: DataFrame, k: Seq[String], single: Boolean,
      msg: String): (DataFrame, Option[(Column, String)]) = {
    val (counted, dup) = keyDuplicates(if (single) rows.coalesce(1) else rows, k, "__kt")
    (counted, Some(dup -> msg))
  }

  /** DML validation as ONE set of aggregates riding the statement's own
    * snapshot write (Dataset.observe, see [[observedWrite]]): row-local
    * constraints (NOT NULL / enum / JSON; the reference validates per row,
    * kv/KvQueryExecutor.java:4276-4583), FK orphans, in-frame unique-key
    * duplicates and key conflicts against an existing snapshot all
    * evaluate over the one scan of `rows` the write makes. Adding a
    * constraint widens the aggregate; it never adds a Spark job. FK
    * parents and existing-table keys enter the plan as DISTINCT key
    * projections left-joined to the rows (distinct, so a duplicated
    * parent key never multiplies rows under the counts).
    *
    * In-frame duplicates are [[keyDuplicates]]' window count, not a
    * distinct count: observe rejects DISTINCT aggregates, and a
    * set-collecting aggregate that gets round it merges every key on the
    * driver. The window keeps the check distributed and every observed
    * metric O(1) on the driver, so one path serves statements of every
    * size. When `single` (a tiny statement, see [[singleFile]]) the rows
    * are coalesced to one partition first, which already satisfies the
    * windows' clustering, so they add no shuffle.
    *
    * The checker replays the failure ORDER over the observed metrics:
    * the verb's `twice` check ([[affectTwice]]) first, then row-local,
    * then FK in declaration order, then in-frame duplicates, then
    * existing-row conflicts (equality joins never match a NULL key part).
    * `dupMsg`/`conflictMsg` keep the DML verbs' statement-specific
    * messages. It reads every metric through a name→value getter and
    * returns the row count under "__total" plus one entry per `tagCounts`
    * condition, so the verbs' affected-row tallies ride the same
    * aggregate. With a `keepFilter` (MERGE: rows a DELETE arm hit stay in
    * the frame for the `twice` check and the tallies, and the write drops
    * them) the row-local, FK, unique-key and "__total" counts see only the
    * kept rows. */
  private def validationParts(t: TableDef, rows: DataFrame, single: Boolean,
      dupMsg: Seq[String] => String,
      conflictsWith: Option[DataFrame],
      conflictMsg: Seq[String] => String,
      tagCounts: Seq[(String, Column)],
      twice: Option[(Column, String)] = None,
      keepFilter: Option[Column] = None)
      : (DataFrame, Seq[Column], (String => Any) => Map[String, Long]) = {
    val keep = keepFilter.getOrElse(lit(true))
    val rowChecks: Seq[(String, Column)] =
      t.columns.filter(c => c.notNull && !c.serial).map(c =>
        s"NOT NULL violation: ${t.name}.${c.name}" -> col(c.name).isNull) ++
      t.columns.filter(_.enumType.isDefined).map { c =>
        val allowed = catalog.enums(c.enumType.get.toLowerCase).values
        val bad =
          if (c.sqlType.trim.toUpperCase.endsWith("[]")) {
            // enum arrays: every non-NULL element must be an allowed value
            val lits = allowed.map(v => s"'${v.replace("'", "''")}'").mkString(",")
            col(c.name).isNotNull &&
              expr(s"exists(${c.name}, x -> x IS NOT NULL AND NOT x IN ($lits))")
          } else col(c.name).isNotNull && !col(c.name).isin(allowed: _*)
        s"invalid value for enum ${c.enumType.get} in ${t.name}.${c.name}" -> bad
      } ++
      t.columns.filter(c => c.sqlType.toUpperCase.startsWith("JSON")).map(c =>
        s"invalid JSON in ${t.name}.${c.name}" ->
          (col(c.name).isNotNull && expr(s"try_parse_json(${c.name})").isNull))
    // first violated constraint per row (coalesce order = declaration
    // order); min() across rows picks a deterministic representative
    val violCol =
      if (rowChecks.isEmpty) lit(null).cast("string")
      else when(keep, coalesce(rowChecks.map { case (msg, cond) => when(cond, lit(msg)) } :+
        lit(null).cast("string"): _*))
    val keySets = uniqueKeySets(t)
    var joined = (if (single) rows.coalesce(1) else rows).withColumn("__cviol", violCol)
    val dups = keySets.zipWithIndex.map { case (k, j) =>
      val (counted, dup) = keyDuplicates(joined, k, s"__kc$j", keep)
      joined = counted
      dup.as(s"__dup$j")
    }
    val fks = t.columns.filter(_.references.isDefined)
    fks.zipWithIndex.foreach { case (c, i) =>
      val (rt, rc) = c.references.get
      val parent = catalog.getTable(rt).getOrElse(
        throw new IllegalArgumentException(s"FK parent missing: $rt"))
      joined = joined.join(
        tableDf(parent).select(col(rc).as(s"__fkp$i")).distinct(),
        col(c.name) === col(s"__fkp$i"), "left")
    }
    conflictsWith.foreach { existing =>
      keySets.zipWithIndex.foreach { case (k, j) =>
        val proj = existing.filter(allSet(k))
          .select(k.zipWithIndex.map { case (c0, x) => col(c0).as(s"__ex${j}_$x") }: _*)
          .distinct()
        val cond = k.zipWithIndex.map { case (c0, x) =>
          col(c0) === col(s"__ex${j}_$x") }.reduce(_ && _)
        joined = joined.join(proj, cond, "left")
      }
    }
    val aggs: Seq[Column] =
      twice.map(_._1.as("__twice")).toSeq ++
      Seq(min(col("__cviol")).as("__viol")) ++
      fks.zipWithIndex.map { case (c, i) =>
        sum(when(keep && col(c.name).isNotNull && col(s"__fkp$i").isNull, 1L)
          .otherwise(0L)).as(s"__orph$i") } ++
      dups ++
      (if (conflictsWith.isDefined)
        keySets.zipWithIndex.map { case (_, j) =>
          sum(when(col(s"__ex${j}_0").isNotNull, 1L).otherwise(0L)).as(s"__conf$j") }
      else Nil) ++
      Seq(count(when(keep, lit(1))).as("__total")) ++
      tagCounts.map { case (name, cond) =>
        sum(when(cond, 1L).otherwise(0L)).as(s"__tag_$name") }
    val check: (String => Any) => Map[String, Long] = get => {
      // sum() over ZERO rows yields NULL: normalize it to 0
      def lng(n: String): Long =
        Option(get(n)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      twice.foreach { case (_, msg) =>
        if (lng("__twice") > 0) throw new IllegalArgumentException(msg)
      }
      Option(get("__viol").asInstanceOf[String])
        .foreach(m => throw new IllegalArgumentException(m))
      fks.zipWithIndex.foreach { case (c, i) =>
        if (lng(s"__orph$i") > 0) {
          val (rt, rc) = c.references.get
          throw new IllegalArgumentException(
            s"FK violation: ${t.name}.${c.name} → $rt.$rc")
        }
      }
      keySets.zipWithIndex.foreach { case (k, j) =>
        if (lng(s"__dup$j") > 0)
          throw new IllegalArgumentException(dupMsg(k))
      }
      if (conflictsWith.isDefined) keySets.zipWithIndex.foreach { case (k, j) =>
        if (lng(s"__conf$j") > 0)
          throw new IllegalArgumentException(conflictMsg(k))
      }
      Map("__total" -> lng("__total")) ++
        tagCounts.map { case (name, _) => name -> lng(s"__tag_$name") }
    }
    (joined, aggs, check)
  }

  /** INSERT validation (in-batch duplicates and conflicts with the
    * existing snapshot included) riding the staged append's write (see
    * [[appendFused]]), no separate validation job. Returns the number of
    * rows appended. */
  private def insertFusedAppend(t: TableDef, newRows: DataFrame): Long = {
    val single = singleFile(newRows)
    val (joined, aggs, check) = validationParts(t, newRows, single,
      dupMsg = k => s"UNIQUE violation within batch: ${k.mkString(",")}",
      conflictsWith = Some(tableDf(t)),
      conflictMsg = k => s"UNIQUE violation: ${t.name}(${k.mkString(",")})",
      tagCounts = Nil)
    appendFused(t, joined, aggs, single, check)("__total")
  }

  /** Post-image validation for UPDATE/MERGE/upsert (the verb's `twice`
    * check + row-local + FK + whole-table uniqueness of the rewritten
    * snapshot) riding the publish write (see [[publishFused]]), no
    * separate validation job, with `beforePublish` (RETURNING pins) run
    * after every check passed. Rows failing `keepFilter` are counted by
    * `twice` and `tagCounts` but never validated or written. */
  private def validatePostImagePublish(t: TableDef, tagged: DataFrame,
      verb: String, single: Boolean, tagCounts: Seq[(String, Column)] = Nil,
      twice: Option[(Column, String)] = None, keepFilter: Option[Column] = None,
      beforePublish: () => Unit = () => ()): Map[String, Long] = {
    val (joined, aggs, check) = validationParts(t, tagged, single,
      dupMsg = k => s"UNIQUE violation after $verb: ${k.mkString(",")}",
      conflictsWith = None, conflictMsg = _ => "",
      tagCounts = tagCounts, twice = twice, keepFilter = keepFilter)
    publishFused(t, joined, aggs, keepFilter, single, check, beforePublish)
  }

  /** Top-level (outside single-quoted literals AND double-quoted
    * identifiers, paren depth 0) matches of `re`, for peeling trailing
    * clauses (RETURNING, ON CONFLICT) off a DML statement — the keywords
    * as literal content in a quoted value or as a quoted identifier
    * (`SELECT a AS "returning"`) are never matched. */
  private def topLevelMatches(s: String, re: Regex): List[scala.util.matching.Regex.Match] = {
    val ok = new Array[Boolean](s.length)
    var inS = false; var inD = false; var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inS) { if (c == '\'') inS = false; ok(i) = false }
      else if (inD) { if (c == '"') inD = false; ok(i) = false }
      else {
        c match {
          case '\'' => inS = true
          case '"' => inD = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        ok(i) = !inS && !inD && depth == 0 && c != '(' && c != ')' && c != '"'
      }
      i += 1
    }
    re.findAllMatchIn(s).filter(m => ok(m.start)).toList
  }

  private def topLevelMatch(s: String, re: Regex): Option[scala.util.matching.Regex.Match] =
    topLevelMatches(s, re).headOption

  /** `ON CONFLICT [(cols) | ON CONSTRAINT name] DO NOTHING | DO UPDATE
    * SET … [WHERE …]`. `action` None = DO NOTHING; Some((setClause,
    * where)) = DO UPDATE. `byConstraint` carries PG's named-constraint
    * target, resolved to columns at the consumption site (needs the
    * TableDef). */
  private case class OnConflictClause(
      target: Seq[String], byConstraint: Option[String],
      action: Option[(String, Option[String])])

  private def parseOnConflict(s: String): OnConflictClause = {
    val re = ("""(?is)ON\s+CONFLICT\s*(?:\(([^)]*)\)|""" +
      """ON\s+CONSTRAINT\s+("?[\w]+"?))?\s*DO\s+(NOTHING|UPDATE\s+SET\s+.*)""").r
    s.trim match {
      case re(cols, conName, act) =>
        val target = Option(cols).toSeq.flatMap(
          _.split(",").map(_.trim.replaceAll("\"", "").toLowerCase).filter(_.nonEmpty))
        val byCon = Option(conName).map(_.replaceAll("\"", "").toLowerCase)
        if (act.trim.equalsIgnoreCase("NOTHING")) OnConflictClause(target, byCon, None)
        else {
          require(target.nonEmpty || byCon.nonEmpty,
            "ON CONFLICT DO UPDATE requires a conflict target (PG semantics)")
          val body = act.trim.replaceFirst("(?is)^UPDATE\\s+SET\\s+", "")
          val (setS, whereOpt) = splitTopLevelWhere(body)
          OnConflictClause(target, byCon, Some((setS, whereOpt)))
        }
      case _ => throw new IllegalArgumentException(s"cannot parse ON CONFLICT clause: $s")
    }
  }

  /** Resolve PG's `ON CONFLICT ON CONSTRAINT <name>` against the
    * engine's deterministic constraint-name synthesis — the same names
    * pg_constraint publishes, which are also PG's own auto-generated
    * names: `<t>_pkey`, `<t>_<col>_key`, `<t>_uq<i>_key` (reference
    * kv/PgCatalogTable.java:235-272 shape). An unknown name fails with
    * the known-name list, never a silent fallthrough. */
  private def constraintColumns(t: TableDef, name: String): Seq[String] = {
    val known: Seq[(String, Seq[String])] =
      (if (t.primaryKey.nonEmpty) Seq(s"${t.name}_pkey" -> t.primaryKey) else Nil) ++
        t.columns.filter(_.unique).map(c => s"${t.name}_${c.name}_key" -> Seq(c.name)) ++
        t.uniqueKeys.zipWithIndex.map { case (k, i) => s"${t.name}_uq${i + 1}_key" -> k }
    known.collectFirst { case (n, cols) if n.equalsIgnoreCase(name) =>
      cols.map(_.toLowerCase) }
      .getOrElse(throw new IllegalArgumentException(
        s"ON CONFLICT ON CONSTRAINT $name: no such constraint on ${t.name}" +
          (if (known.isEmpty) "" else s"; known: ${known.map(_._1).mkString(", ")}")))
  }

  /** Peel `RETURNING <exprs>` off the end of a DML statement. */
  private def splitReturning(s: String): (String, Option[String]) =
    topLevelMatch(s, """(?i)\bRETURNING\b""".r) match {
      case Some(m) => (s.substring(0, m.start).trim, Some(s.substring(m.end).trim))
      case None => (s, None)
    }

  /** RETURNING projection over the affected rows (PG: the post-image for
    * INSERT/UPDATE, the deleted row for DELETE). localCheckpoint detaches
    * the result from the source caches and the superseded snapshot before
    * the statement's cleanup/publish runs. */
  private def returningDf(t: TableDef, rows: DataFrame, returning: String): DataFrame = {
    val visible = rows.select(t.visibleColumns.map(c => col(c.name)): _*)
    val pinned = visible.localCheckpoint()
    if (returning.trim == "*") pinned
    else pinned.selectExpr(topSplit(PgRewrite.rewrite(returning)): _*)
  }

  private def insert(stmt: String): DataFrame = {
    val valRe = """(?is)INSERT\s+INTO\s+([\w"]+)\s*(\(([^)]*)\))?\s*VALUES\s*(.*)""".r
    val selRe = """(?is)INSERT\s+INTO\s+([\w"]+)\s*(\(([^)]*)\))?\s*(SELECT.*|WITH.*)""".r
    val (noRet, returning) = splitReturning(stmt.trim.stripSuffix(";"))
    // Peel only a match that is REALLY the clause: `JOIN b ON conflict =
    // b.id` in an INSERT … SELECT source also hits the keyword regex
    // (CONFLICT is unreserved in PG), but is not followed by DO — skip
    // it; a match followed by DO with an unparsable action still throws.
    val conflictMatches = topLevelMatches(noRet, """(?i)\bON\s+CONFLICT\b""".r)
    val conflictAt = conflictMatches.find { m =>
      noRet.substring(m.start).trim.matches(
        """(?is)ON\s+CONFLICT\s*(\([^)]*\)|ON\s+CONSTRAINT\s+[\w"]+)?\s*DO\b.*""")
    }
    // A real-looking clause the DO-lookahead could NOT parse (expression
    // target with nested parens like `(lower(email))`) must fail loudly
    // here — falling through would leak the clause into the VALUES/SELECT
    // source and surface as an opaque Spark parse error.
    if (conflictAt.isEmpty) conflictMatches.foreach { m =>
      val rest = noRet.substring(m.start)
        .replaceFirst("""(?is)^ON\s+CONFLICT\s*""", "")
      if (rest.startsWith("(")) {
        // balanced-paren scan: a nested-paren target followed by DO is a
        // genuine (unsupported) clause; anything else is not a clause
        var depth = 0; var j = 0; var close = -1
        while (j < rest.length && close < 0) {
          rest.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = j
            case _ =>
          }
          j += 1
        }
        if (close >= 0 && rest.substring(close + 1).trim.matches("(?is)^DO\\b.*"))
          throw new IllegalArgumentException(
            s"cannot parse ON CONFLICT clause (expression conflict targets " +
              s"are not supported): ${noRet.substring(m.start)}")
      }
    }
    val (core, conflict) = conflictAt match {
      case Some(m) => (noRet.substring(0, m.start).trim,
        Some(parseOnConflict(noRet.substring(m.start).trim)))
      case None => (noRet, None)
    }
    // `INSERT INTO t DEFAULT VALUES` (PG): one row, every column from
    // its DEFAULT / serial / null — a zero-column single-row source
    // makes insertRows' missing-column fill do all the work.
    val defRe = """(?is)INSERT\s+INTO\s+([\w"]+)\s+DEFAULT\s+VALUES\s*""".r
    core match {
      case defRe(rawT) =>
        return insertRows(requireTable(rawT), None, spark.range(1).select(),
          conflict, returning)
      case _ =>
    }
    core match {
      case valRe(rawT, _, colsS, valuesS) =>
        val t = requireTable(rawT)
        // PG-dialect expressions inside VALUES get the same rewrite the
        // SELECT branch applies
        val src = spark.sql(PgRewrite.rewrite(s"SELECT * FROM VALUES $valuesS"))
        insertRows(t, Option(colsS), src, conflict, returning)
      case selRe(rawT, _, colsS, sel) =>
        val t = requireTable(rawT)
        registerAll()
        insertRows(t, Option(colsS), spark.sql(PgRewrite.rewrite(sel)), conflict, returning)
      case _ => throw new IllegalArgumentException(s"cannot parse INSERT: $stmt")
    }
  }

  /** The unique-key sets ON CONFLICT can target: PK + single-column
    * UNIQUE + composite UNIQUE (the hidden rowid is excluded — fresh
    * serials cannot conflict). Empty `target` (DO NOTHING only) arbiters
    * against ALL of them, like PG; a named target must match one. */
  private def conflictKeySets(t: TableDef, target: Seq[String]): Seq[Seq[String]] = {
    val all: Seq[Seq[String]] =
      (if (t.primaryKey.nonEmpty) Seq(t.primaryKey) else Nil) ++
        t.columns.filter(_.unique).map(c => Seq(c.name)) ++ t.uniqueKeys
    val sets = all.map(_.map(_.toLowerCase)).distinct
      .filterNot(_ == Seq(TableDef.RowId))
    if (target.isEmpty) {
      require(sets.nonEmpty, s"ON CONFLICT on ${t.name}: table has no unique constraints")
      sets
    } else {
      val tset = target.toSet
      sets.find(_.toSet == tset).map(Seq(_)).getOrElse(throw new IllegalArgumentException(
        s"ON CONFLICT (${target.mkString(",")}) does not match a unique " +
          s"constraint of ${t.name}"))
    }
  }

  private def insertRows(t: TableDef, colsS: Option[String], src: DataFrame,
      conflict: Option[OnConflictClause] = None,
      returning: Option[String] = None): DataFrame = {
    val targetNames: Seq[String] = colsS match {
      case Some(s) => s.split(",").map(_.trim.replaceAll("\"", "").toLowerCase).toSeq
      case None =>
        val vis = t.visibleColumns
        // no column list: positional against visible columns; if arity is
        // short by exactly the serial columns, they auto-generate
        // (reference kv/KvQueryExecutor.java:1610-1673)
        if (src.columns.length == vis.length) vis.map(_.name)
        else vis.filterNot(_.serial).map(_.name).take(src.columns.length)
    }
    require(targetNames.length == src.columns.length,
      s"INSERT arity mismatch: ${targetNames.length} target cols vs ${src.columns.length} values")
    val renamed = src.toDF(targetNames: _*)
    // fill serial / default / missing columns
    var dfv = renamed
    val missing = t.columns.filterNot(c => targetNames.contains(c.name))
    val serialCols = missing.filter(_.serial)
    var cached: DataFrame = null
    val n =
      if (serialCols.nonEmpty) {
        // Dense 0-based index via zipWithIndex (per-partition offsets, no
        // global single-partition window), CACHED and counted so the
        // source query is evaluated exactly ONCE: id assignment, the
        // reserved block size, constraint checks and the final write all
        // read the same materialized rows — a nondeterministic source
        // cannot produce ids outside the reservation. Each sequence
        // reserves its whole block in ONE catalog write.
        val base = dfv.schema
        val indexed = spark.createDataFrame(
          dfv.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
          StructType(base.fields :+ StructField("__rn", LongType, nullable = false)))
          .cache()
        val cnt = indexed.count() // materializes the cache
        dfv = indexed
        cached = indexed
        if (cnt > 0) serialCols.foreach { c =>
          val sq = s"${t.name}_${c.name}_seq"
          val inc = catalog.sequences(sq.toLowerCase).increment
          val start = catalog.reserve(sq, cnt)
          dfv = dfv.withColumn(c.name,
            (lit(start) + col("__rn") * lit(inc)).cast(TypeMap.toSpark(c.sqlType)))
        } else serialCols.foreach { c =>
          dfv = dfv.withColumn(c.name, lit(null).cast(TypeMap.toSpark(c.sqlType)))
        }
        cnt
      } else renamed.queryExecution.optimizedPlan match {
        // VALUES inserts are LocalRelations whose row count is known
        // without running a job and are trivially deterministic.
        case org.apache.spark.sql.catalyst.plans.logical.LocalRelation(_, data, _, _) =>
          data.size.toLong
        case _ =>
          // arbitrary SELECT source: cache so validation, uniqueness
          // checks and the write all see ONE evaluation — a
          // nondeterministic source must not pass checks on one row set
          // and publish another
          val c = renamed.cache()
          cached = c
          dfv = c
          c.count()
      }
    missing.filterNot(_.serial).foreach { c =>
      val v = c.default.map(d => expr(PgRewrite.rewrite(d))).getOrElse(lit(null))
      dfv = dfv.withColumn(c.name, v.cast(TypeMap.toSpark(c.sqlType)))
    }
    val aligned = dfv.select(t.columns.map(c =>
      col(c.name).cast(TypeMap.toSpark(c.sqlType)).as(c.name)): _*)
    try {
      conflict match {
        case None =>
          // validation rides the append's write job (observe-fused, ONE
          // Spark job); a violation discards the staged files
          insertFusedAppend(t, aligned)
          returning.map(r => returningDf(t, aligned, r)).getOrElse(ok("INSERT", n))
        case Some(OnConflictClause(target, byCon, None)) =>
          val resolved = byCon.map(constraintColumns(t, _)).getOrElse(target)
          insertDoNothing(t, aligned, resolved, returning)
        case Some(OnConflictClause(target, byCon, Some((setS, whereOpt)))) =>
          val resolved = byCon.map(constraintColumns(t, _)).getOrElse(target)
          upsertDoUpdate(t, aligned, resolved, setS, whereOpt, returning)
      }
    } finally {
      if (cached != null) cached.unpersist()
    }
  }

  /** INSERT … ON CONFLICT DO NOTHING: drop rows whose (non-null) conflict
    * key already exists in the table or matches an EARLIER batch row that
    * actually inserted (PG processes rows in order; only inserted rows
    * arbitrate — a row skipped on one constraint frees its other keys for
    * later rows). Rows with NULL in a key never conflict (PG unique
    * semantics). Sequence values consumed by dropped rows stay consumed,
    * like PG. */
  private def insertDoNothing(t: TableDef, aligned: DataFrame,
      target: Seq[String], returning: Option[String]): DataFrame = {
    val keySets = conflictKeySets(t, target)
    // Rows conflicting with the EXISTING table never insert and never
    // block later batch rows, so peel them first. The left_anti equality
    // join is null-safe by construction: a NULL key never equals anything,
    // so NULL-keyed rows pass through.
    var surv = aligned.withColumn("__ord", monotonically_increasing_id())
    for (k <- keySets)
      surv = surv.join(tableDf(t).filter(allSet(k)).select(k.map(col): _*), k, "left_anti")
    val out = (if (keySets.size == 1) {
      // one constraint: first-in-group inserts, the rest conflict with it
      // (if the first occurrence hit the existing table, so did the rest —
      // same key — so the pre-peel cannot change which row is first)
      val k = keySets.head
      val w = Window.partitionBy(k.map(col): _*).orderBy(col("__ord"))
      surv.withColumn("__rn", row_number().over(w))
        .filter(!allSet(k) || col("__rn") === 1).drop("__rn")
    } else resolveBatchConflicts(surv, keySets)).drop("__ord")
    // the kept-row tally rides the validation aggregate, which rides the
    // append's write job
    val kept = insertFusedAppend(t, out)
    returning.map(r => returningDf(t, out, r)).getOrElse(ok("INSERT", kept))
  }

  /** PG-order batch arbitration for ON CONFLICT DO NOTHING with several
    * unique constraints. One window-dedup per constraint is unsound: with
    * rows r1(a1,b1) r2(a2,b1) r3(a2,b2), PG inserts r1, skips r2 (b1
    * taken by r1), inserts r3 (a2 is free because r2 never inserted) —
    * but deduping on `a` first keeps r2 over r3 and then `b` drops r2,
    * losing r3. Fixpoint instead: a row that is FIRST (by batch order)
    * within every non-null key group of the undecided set cannot be
    * blocked (any accepted row sharing one of its keys would have
    * rejected it last round), so it inserts; rows sharing a key with a
    * row accepted this round are rejected; the rest go another round.
    * Every round accepts at least the earliest undecided row, so rounds
    * are bounded by the conflict-chain depth — 1 for typical batches.
    * Fully distributed: windows + anti-joins, no driver materialization;
    * localCheckpoint cuts the per-round lineage like the dedup
    * label-propagation loop does. */
  private def resolveBatchConflicts(batch: DataFrame,
      keySets: Seq[Seq[String]]): DataFrame = {
    var undecided = batch.localCheckpoint()
    var accepted: DataFrame = null
    // Termination guard without taxing the fast path: each round provably
    // accepts at least the earliest undecided row, so a batch of N rows
    // resolves in ≤ N rounds — but counting N up front costs a Spark job
    // on EVERY ON CONFLICT statement, and typical batches resolve in one
    // round. Instead, assert progress lazily: every 64 rounds the
    // undecided count must have shrunk by at least the 64 rounds run
    // (each accepted ≥1 row), else the loop is stuck — loud failure, no
    // unbounded spin, and zero extra jobs on the common path.
    var rounds = 0L
    var lastCheck = Long.MaxValue
    while (undecided.limit(1).count() > 0) {
      rounds += 1
      if (rounds % 64 == 0) {
        val c = undecided.count()
        require(c <= lastCheck - 64,
          "ON CONFLICT batch resolution made no progress — internal error")
        lastCheck = c
      }
      var d = undecided
      val flags = keySets.indices.map("__first" + _)
      keySets.zipWithIndex.foreach { case (k, i) =>
        val w = Window.partitionBy(k.map(col): _*).orderBy(col("__ord"))
        d = d.withColumn(flags(i), !allSet(k) || row_number().over(w) === 1)
      }
      val firstInAll = flags.map(col).reduce(_ && _)
      val acc = d.filter(firstInAll).drop(flags: _*).localCheckpoint()
      var rest = d.filter(!firstInAll).drop(flags: _*)
      for (k <- keySets)
        rest = rest.join(acc.filter(allSet(k)).select(k.map(col): _*), k, "left_anti")
      accepted = if (accepted == null) acc else accepted.unionByName(acc)
      undecided = rest.localCheckpoint()
    }
    if (accepted == null) batch.limit(0) else accepted
  }

  /** INSERT … ON CONFLICT (k) DO UPDATE SET … [WHERE …] — a distributed
    * MERGE over the copy-on-write snapshot: existing rows that match an
    * incoming key take the SET expressions (with `EXCLUDED.c` resolved to
    * the incoming row, bare columns to the existing row, both available
    * to SET and WHERE), matched-but-WHERE-false rows stay untouched, and
    * non-matching incoming rows insert. The merged state publishes as a
    * new snapshot version, exactly like UPDATE. The reference lists
    * UPSERT as its top unimplemented statement (docs/SQL_GRAMMAR.md:715).
    *
    * PG's rule that one statement cannot affect a row twice rejects two
    * incoming rows sharing a conflict key. Every post-image row carries
    * its pre-SET conflict key, and [[affectTwice]] counts repeats of it:
    * existing keys are unique and fresh keys are never existing keys, so a
    * repeat is two incoming rows on one key, whether or not the key
    * exists. The count is observed in the publish write, like every other
    * check: the statement is one Spark action. */
  private def upsertDoUpdate(t: TableDef, aligned: DataFrame, target: Seq[String],
      setS: String, whereOpt: Option[String], returning: Option[String]): DataFrame = {
    val k = conflictKeySets(t, target).head
    val keySet = allSet(k)
    val existing = tableDf(t)
    val inc = aligned.select(t.columns.map(c => col(c.name).as("__exc_" + c.name)): _*)
    val joinCond = k.map(c => col(c) === col("__exc_" + c)).reduce(_ && _)
    def resolveExc(e: String): String =
      e.replaceAll("(?i)\\bEXCLUDED\\s*\\.\\s*\"?(\\w+)\"?", "__exc_$1")
    val sets: Map[String, Column] = topSplit(setS).map { as =>
      val Array(c, e) = as.split("=", 2).map(_.trim)
      val cn = c.replaceAll("\"", "").toLowerCase
      val cd = t.column(cn).getOrElse(
        throw new IllegalArgumentException(s"no column $cn in ${t.name}"))
      cn -> expr(PgRewrite.rewrite(resolveExc(e))).cast(TypeMap.toSpark(cd.sqlType))
    }.toMap
    val wherePred = whereOpt.map(w => expr(PgRewrite.rewrite(resolveExc(w)))).getOrElse(lit(true))
    val matched = existing.join(inc, joinCond, "inner")
    // each row's pre-SET conflict key (on matched rows the existing key,
    // which equals the incoming one)
    val pre = k.map("__pre_" + _)
    val preKey = k.zip(pre).map { case (c, p) => col(c).as(p) }
    val updated = matched.filter(wherePred).select(t.columns.map(c =>
      sets.getOrElse(c.name, col(c.name)).as(c.name)) ++ preKey: _*)
    val skipped = matched.filter(!wherePred || wherePred.isNull)
      .select(t.columns.map(c => col(c.name)) ++ preKey: _*)
    val untouched = existing.join(
      aligned.filter(keySet).select(k.map(col): _*), k, "left_anti")
      .select(col("*") +: preKey: _*)
    val fresh = aligned.join(existing.filter(keySet).select(k.map(col): _*), k, "left_anti")
      .select(col("*") +: preKey: _*)
    // tag row provenance so the updated/inserted tallies ride the
    // validation aggregate instead of two extra count() jobs; the tag
    // never reaches the published snapshot. A row whose conflict key has
    // a NULL part can never be hit twice: a per-row id keeps all such
    // rows out of one shared window group.
    val tagged = untouched.withColumn("__src", lit("keep"))
      .unionByName(skipped.withColumn("__src", lit("keep")))
      .unionByName(updated.withColumn("__src", lit("up")))
      .unionByName(fresh.withColumn("__src", lit("ins")))
      .withColumn("__pre_row",
        when(allSet(pre), lit(0L)).otherwise(monotonically_increasing_id()))
    val upsertTags = Seq("up" -> (col("__src") === "up"),
      "ins" -> (col("__src") === "ins"))
    // The post-image is a join of the two inputs, which the optimizer
    // prices at their product, so the write layout is sized by the inputs
    // themselves.
    val single = singleFile(existing, aligned)
    val (counted, twice) = affectTwice(tagged, pre :+ "__pre_row", single,
      "ON CONFLICT DO UPDATE cannot affect a row a second time: " +
        s"duplicate (${k.mkString(",")}) keys in the insert batch")
    // affect-twice + row-local + FK + post-merge whole-table uniqueness
    // (the SET expressions or a different unique key could collide) + the
    // up/ins tallies ALL ride the publish write's job (observe).
    // RETURNING sees the post-image of every inserted or updated row,
    // pinned before the publish supersedes the snapshot this plan reads.
    var ret: Option[DataFrame] = None
    val counts = validatePostImagePublish(t, counted, "upsert", single,
      tagCounts = upsertTags, twice = twice,
      beforePublish = () =>
        ret = returning.map(r => returningDf(t, updated.unionByName(fresh), r)))
    ret.getOrElse(ok("INSERT", counts("up") + counts("ins")))
  }

  /** Split `body` at the first top-level occurrence of keyword `kw` —
    * outside string literals, quoted identifiers, comments and parens,
    * so `SET note = 'a where b'` and `extract(month FROM d)` parse
    * correctly. */
  private def splitTopLevelKeyword(body: String, kw: String): (String, Option[String]) = {
    // same opacity classes as StatementSplitter: quoted literals, quoted
    // identifiers (a column named "where"), -- and /* */ comments
    var i = 0; var inS = false; var inD = false
    var inLine = false; var inBlock = false; var depth = 0
    val k = kw.length
    while (i < body.length) {
      val c = body.charAt(i)
      val next = if (i + 1 < body.length) body.charAt(i + 1) else ' '
      if (inLine) { if (c == '\n') inLine = false }
      else if (inBlock) { if (c == '*' && next == '/') { inBlock = false; i += 1 } }
      else if (inS) { if (c == '\'') inS = false }
      else if (inD) { if (c == '"') inD = false }
      else c match {
        case '-' if next == '-' => inLine = true; i += 1
        case '/' if next == '*' => inBlock = true; i += 1
        case '\'' => inS = true
        case '"' => inD = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ch if depth == 0 && ch.toUpper == kw.charAt(0) &&
            body.regionMatches(true, i, kw, 0, k) &&
            (i == 0 || body.charAt(i - 1).isWhitespace) &&
            (i + k >= body.length || !body.charAt(i + k).isLetterOrDigit) =>
          return (body.substring(0, i).trim, Some(body.substring(i + k).trim))
        case _ =>
      }
      i += 1
    }
    (body.trim, None)
  }

  private def splitTopLevelWhere(body: String): (String, Option[String]) =
    splitTopLevelKeyword(body, "WHERE")

  /** The identifying key of a physical row: the hidden rowid when the
    * table has one (no PK), the primary key otherwise — exactly one of
    * the two exists by construction. */
  private def rowKey(t: TableDef): Seq[String] =
    if (t.hasRowId) Seq(TableDef.RowId) else t.primaryKey

  private def update(stmt: String): DataFrame = {
    val re = """(?is)UPDATE\s+([\w"]+)(?:\s+(?:AS\s+)?(?!SET\b)([a-zA-Z_]\w*))?\s+SET\s+(.*)""".r
    val (noRet, returning) = splitReturning(stmt.trim.stripSuffix(";"))
    noRet match {
      case re(rawT, aliasOpt, body) =>
        val t = requireTable(rawT)
        val (preFrom, fromOpt) = splitTopLevelKeyword(body, "FROM")
        if (fromOpt.isDefined)
          return updateFrom(t, Option(aliasOpt), preFrom, fromOpt.get, returning)
        val (setS, whereOpt) = splitTopLevelWhere(body)
        val pred = whereOpt.map(w => expr(PgRewrite.rewrite(w))).getOrElse(lit(true))
        val cur = tableDf(t)
        // SQL semantics: every SET expression AND the WHERE predicate
        // evaluate against the PRE-update row (so `SET a = b, b = a` swaps).
        // One select against `cur` builds all new columns simultaneously —
        // never chained withColumn, which would leak updated values into
        // later assignments.
        val assign: Map[String, Column] = topSplit(setS).map { as =>
          val Array(c, e) = as.split("=", 2).map(_.trim)
          val cn = c.replaceAll("\"", "").toLowerCase
          val cd = t.column(cn).getOrElse(throw new IllegalArgumentException(s"no column $cn"))
          cn -> expr(PgRewrite.rewrite(e)).cast(TypeMap.toSpark(cd.sqlType))
        }.toMap
        require(assign.size == topSplit(setS).size,
          s"multiple assignments to the same column in UPDATE: $setS")
        def retDf(r: String): DataFrame = returningDf(t,
          cur.filter(pred).select(t.columns.map(c =>
            assign.getOrElse(c.name, col(c.name)).as(c.name)): _*), r)
        // the changed-row tally AND the post-image validation ride the
        // publish write's job; RETURNING (the post-image of the updated
        // rows, PG) is pinned before the publish supersedes this snapshot
        val tagged = cur.select((t.columns.map(c =>
          assign.get(c.name).map(a => when(pred, a).otherwise(col(c.name)))
            .getOrElse(col(c.name)).as(c.name)) :+ pred.as("__chg")): _*)
        var ret: Option[DataFrame] = None
        val counts = validatePostImagePublish(t, tagged, "UPDATE", singleFile(cur),
          tagCounts = Seq("chg" -> col("__chg")),
          beforePublish = () => ret = returning.map(retDf))
        ret.getOrElse(ok("UPDATE", counts("chg")))
      case _ => throw new IllegalArgumentException(s"cannot parse UPDATE: $stmt")
    }
  }

  /** `UPDATE t [AS a] SET … FROM <from-list> [WHERE …]` — PG's join
    * UPDATE (reference parses it through Calcite's SqlUpdate source
    * list). The SET expressions and WHERE evaluate in the joined scope
    * (target alias + from-list), delegated wholesale to spark.sql so
    * qualified names, subqueries and join syntax all resolve exactly as
    * in a SELECT. One divergence from PG, deliberate: a target row
    * matching MORE THAN ONE source row fails loudly instead of taking
    * an arbitrary source row — a deterministic engine must not publish
    * whichever row a shuffle happened to order first. Such a row appears
    * once per match in `target ⟕ changed`, so [[affectTwice]] over its
    * pre-image row key catches it inside the publish write, which also
    * observes the updated-row tally: the statement is one Spark action. */
  private def updateFrom(t: TableDef, alias: Option[String], setS: String,
      fromRest: String, returning: Option[String]): DataFrame = {
    val (fromS, whereOpt) = splitTopLevelWhere(fromRest)
    val key = rowKey(t)
    val assignExprs: Seq[(String, String)] = topSplit(setS).map { as =>
      val Array(c, e) = as.split("=", 2).map(_.trim)
      val cn = c.replaceAll("\"", "").toLowerCase
      require(t.column(cn).isDefined, s"no column $cn in ${t.name}")
      cn -> e
    }
    require(assignExprs.map(_._1).distinct.size == assignExprs.size,
      s"multiple assignments to the same column in UPDATE: $setS")
    registerAll()
    // the target registers under a private view INCLUDING the hidden
    // rowid (the public temp view hides it), aliased back to the
    // statement's name so user-qualified references resolve
    val tv = "__graft_upd_target"
    tableDf(t).createOrReplaceTempView(tv)
    val tAlias = alias.getOrElse(t.name)
    val keySel = key.map(k => s"$tAlias.$k AS __key_$k").mkString(", ")
    val setSel = assignExprs.map { case (cn, e) => s"($e) AS __new_$cn" }.mkString(", ")
    val whereSql = whereOpt.map(w => s" WHERE $w").getOrElse("")
    // lazy checkpoint: the publish write is the first action and
    // materializes the blocks inside its own job
    val changed = spark.sql(PgRewrite.rewrite(
      s"SELECT $keySel, $setSel FROM $tv AS $tAlias, $fromS$whereSql"))
      .localCheckpoint(false)
    val cur = tableDf(t)
    val joinCond = key.map(k => col(k) === col("__key_" + k)).reduce(_ && _)
    val matched = col("__key_" + key.head).isNotNull
    val assign = assignExprs.toMap
    val single = singleFile(cur)
    val (next, twice) = affectTwice(cur.join(changed, joinCond, "left")
      .select(t.columns.map { c =>
        val base = col(c.name)
        (if (assign.contains(c.name))
          when(matched, col("__new_" + c.name).cast(TypeMap.toSpark(c.sqlType)))
            .otherwise(base)
        else base).as(c.name)
      } ++ key.map(k => col(k).as("__pre_" + k)) :+ matched.as("__upd"): _*),
      key.map("__pre_" + _), single,
      "UPDATE … FROM: a target row matches more than one source row")
    def retDf(r: String): DataFrame = {
      val post = cur.join(changed, joinCond, "inner")
        .select(t.columns.map { c =>
          (if (assign.contains(c.name))
            col("__new_" + c.name).cast(TypeMap.toSpark(c.sqlType))
          else col(c.name)).as(c.name)
        }: _*)
      returningDf(t, post, r)
    }
    // affect-twice, post-image validation and the updated-row tally ride
    // the publish write's job
    var ret: Option[DataFrame] = None
    val counts = validatePostImagePublish(t, next, "UPDATE", single,
      tagCounts = Seq("upd" -> col("__upd")), twice = twice,
      beforePublish = () => ret = returning.map(retDf))
    spark.catalog.dropTempView(tv)
    ret.getOrElse(ok("UPDATE", counts("upd")))
  }

  private def delete(stmt: String): DataFrame = {
    val re = """(?is)DELETE\s+FROM\s+([\w"]+)(?:\s+(?:AS\s+)?(?!WHERE\b|USING\b)([a-zA-Z_]\w*))?(\s.*)?""".r
    val (noRet, returning) = splitReturning(stmt.trim.stripSuffix(";"))
    noRet match {
      case re(rawT, aliasOpt, restOpt) =>
        val t = requireTable(rawT)
        val rest = Option(restOpt).map(_.trim).getOrElse("")
        val (preUsing, usingOpt) = splitTopLevelKeyword(rest, "USING")
        if (usingOpt.isDefined) {
          require(preUsing.isEmpty, s"cannot parse DELETE: $stmt")
          return deleteUsing(t, Option(aliasOpt), usingOpt.get, returning)
        }
        val whereS: String = splitTopLevelWhere(rest) match {
          case ("", Some(w)) => w
          case ("", None) => null
          case _ => throw new IllegalArgumentException(s"cannot parse DELETE: $stmt")
        }
        val cur = tableDf(t)
        val pred = Option(whereS).map(w => expr(PgRewrite.rewrite(w))).getOrElse(lit(true))
        // the deleted-row tally observes the PRE-filter rows of the
        // publish write's own job (DELETE validates nothing: surviving
        // rows were all valid at insert); SQL deletes rows where pred is
        // TRUE; RETURNING pins the deleted rows' old values (PG)
        var ret: Option[DataFrame] = None
        val nDel = publishFused(t, cur.withColumn("__del", pred),
          Seq(sum(when(col("__del"), 1L).otherwise(0L)).as("__tag_del")),
          keepFilter = Some(!col("__del") || col("__del").isNull),
          single = singleFile(cur),
          check = get => get("__tag_del").asInstanceOf[Number].longValue,
          beforePublish =
            () => ret = returning.map(r => returningDf(t, cur.filter(pred), r)))
        ret.getOrElse(ok("DELETE", nDel))
      case _ => throw new IllegalArgumentException(s"cannot parse DELETE: $stmt")
    }
  }

  /** `DELETE FROM t [AS a] USING <from-list> [WHERE …]` — PG's join
    * DELETE: a target row is deleted when ANY using-list row satisfies
    * the condition, i.e. semi-join semantics, which is what the EXISTS
    * rewrite delegates to spark.sql (no multi-match ambiguity — unlike
    * UPDATE … FROM, deleting a row twice is idempotent). */
  private def deleteUsing(t: TableDef, alias: Option[String], usingRest: String,
      returning: Option[String]): DataFrame = {
    val (usingS, whereOpt) = splitTopLevelWhere(usingRest)
    require(usingS.nonEmpty, "DELETE USING: empty using-list")
    val key = rowKey(t)
    registerAll()
    val tv = "__graft_del_target"
    tableDf(t).createOrReplaceTempView(tv)
    val tAlias = alias.getOrElse(t.name)
    val keySel = key.map(k => s"$tAlias.$k AS __key_$k").mkString(", ")
    val cond = whereOpt.getOrElse("TRUE")
    // lazy checkpoint: the count below is the first action and
    // materializes the blocks inside its own job (one job, not two)
    val victims = spark.sql(PgRewrite.rewrite(
      s"SELECT $keySel FROM $tv AS $tAlias " +
        s"WHERE EXISTS (SELECT 1 FROM $usingS WHERE $cond)"))
      .localCheckpoint(false)
    val nDel = victims.count()
    val cur = tableDf(t)
    val joinCond = key.map(k => col(k) === col("__key_" + k)).reduce(_ && _)
    val ret = returning.map(r =>
      returningDf(t, cur.join(victims, joinCond, "left_semi"), r))
    publish(t, cur.join(victims, joinCond, "left_anti"))
    spark.catalog.dropTempView(tv)
    ret.getOrElse(ok("DELETE", nDel))
  }

  // ----------------------------------------------------------------- MERGE

  private sealed trait MergeAction
  private case class MergeUpdate(sets: Seq[(String, String)]) extends MergeAction
  private case object MergeDelete extends MergeAction
  private case object MergeKeep extends MergeAction
  /** `specified` maps column -> value expression (source scope); columns a
    * clause leaves out take their DEFAULT (serial columns reserve ids). */
  private case class MergeInsert(specified: Map[String, String]) extends MergeAction
  /** kind: "matched" | "insert" (NOT MATCHED [BY TARGET]) | "bysource". */
  private case class MergeWhen(kind: String, cond: Option[String], action: MergeAction)

  /** `MERGE INTO t [AS a] USING src [AS s] ON cond WHEN … THEN …
    * [RETURNING …]` — PG 15 MERGE incl. PG 17's `NOT MATCHED BY SOURCE`
    * and RETURNING (post-image for INSERT/UPDATE, old image for DELETE).
    * The reference leaves MERGE unimplemented (docs/SQL_GRAMMAR.md lists
    * UPSERT/MERGE among missing statements); PG semantics are the spec.
    *
    * Distributed evaluation, no per-row driver loop: ONE inner join
    * (target × source) scores every matched pair against the WHEN MATCHED
    * chain — clause order becomes CASE order, so the first satisfied
    * clause wins exactly as in PG — while each NOT MATCHED direction is
    * an anti-join (NOT EXISTS) over the same ON condition. New column
    * values ride the same join projection (`__new_c` per column), so a
    * DELETE clause's branch carries the OLD row image for RETURNING free
    * of a second scan. Updates/deletes/inserts union into ONE new
    * copy-on-write snapshot: the statement is atomic at the version
    * pointer, like UPDATE/DELETE/upsert. PG's "cannot affect row a second
    * time" rule is [[affectTwice]] over the pre-image row key of
    * `target ⟕ acted-on pairs`, windowed before the inserted rows join.
    * Rows a DELETE arm hit stay in that frame, so two DELETE hits on one
    * row are caught too; the publish's keepFilter drops them from the
    * write and from every other check. The check and the update, delete
    * and insert tallies are all observed in the publish write: the
    * statement is one Spark action. */
  private def merge(stmt: String): DataFrame = {
    val (noRet, returning) = splitReturning(stmt.trim.stripSuffix(";"))
    val head =
      """(?is)MERGE\s+INTO\s+([\w"]+)(?:\s+(?:AS\s+)?(?!USING\b)([a-zA-Z_]\w*))?\s+USING\s+(.*)""".r
    val (t, tAlias, usingRest) = noRet match {
      case head(rawT, a, rest) =>
        val td = requireTable(rawT)
        (td, Option(a).getOrElse(td.name), rest)
      case _ => throw new IllegalArgumentException(s"cannot parse MERGE: $stmt")
    }
    val (srcText, onRest) = splitTopLevelKeyword(usingRest, "ON")
    val rest = onRest.getOrElse(
      throw new IllegalArgumentException(s"MERGE requires ON <condition>: $stmt"))
    val whenMs = topLevelMatches(rest, """(?i)\bWHEN\b""".r).toVector
    require(whenMs.nonEmpty, s"MERGE requires at least one WHEN clause: $stmt")
    val cond = rest.substring(0, whenMs.head.start).trim
    val segs = whenMs.indices.map { i =>
      val end = if (i + 1 < whenMs.length) whenMs(i + 1).start else rest.length
      rest.substring(whenMs(i).start, end).trim
    }
    val segRe = """(?is)WHEN\s+(NOT\s+)?MATCHED(?:\s+BY\s+(SOURCE|TARGET))?\b(.*)""".r
    val insValRe = """(?is)INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.*)\)\s*""".r
    val whens: Seq[MergeWhen] = segs.map { seg =>
      val (notM, by, armRest) = seg match {
        case segRe(n, b, r) => (n != null, Option(b).map(_.toUpperCase), r)
        case _ => throw new IllegalArgumentException(s"cannot parse MERGE WHEN clause: $seg")
      }
      require(notM || by.isEmpty, s"BY ${by.getOrElse("")} requires NOT MATCHED: $seg")
      val kind = if (!notM) "matched"
        else if (by.contains("SOURCE")) "bysource" else "insert"
      val (pre, thenOpt) = splitTopLevelKeyword(armRest, "THEN")
      val actS = thenOpt.getOrElse(
        throw new IllegalArgumentException(s"MERGE WHEN clause missing THEN: $seg")).trim
      val clauseCond = pre.trim match {
        case "" => None
        case p if p.matches("(?is)AND\\b.*") => Some(p.substring(3).trim)
        case p => throw new IllegalArgumentException(s"cannot parse MERGE WHEN condition: $p")
      }
      val action: MergeAction = actS match {
        case a if a.matches("(?is)UPDATE\\s+SET\\s+.*") =>
          require(kind != "insert", s"WHEN NOT MATCHED cannot UPDATE: $seg")
          val sets = topSplit(a.replaceFirst("(?is)^UPDATE\\s+SET\\s+", "")).map { as =>
            val Array(c, e) = as.split("=", 2).map(_.trim)
            val cn = c.replaceAll("\"", "").toLowerCase
            require(t.column(cn).isDefined, s"no column $cn in ${t.name}")
            cn -> e
          }
          require(sets.map(_._1).distinct.size == sets.size,
            s"multiple assignments to the same column in MERGE UPDATE: $actS")
          MergeUpdate(sets)
        case a if a.matches("(?is)DELETE\\s*") =>
          require(kind != "insert", s"WHEN NOT MATCHED cannot DELETE: $seg")
          MergeDelete
        case a if a.matches("(?is)DO\\s+NOTHING\\s*") => MergeKeep
        case a if a.matches("(?is)INSERT\\s+DEFAULT\\s+VALUES\\s*") =>
          require(kind == "insert", s"only WHEN NOT MATCHED can INSERT: $seg")
          MergeInsert(Map.empty)
        case insValRe(colsS, valuesS) =>
          require(kind == "insert", s"only WHEN NOT MATCHED can INSERT: $seg")
          val values = topSplit(valuesS)
          val vis = t.visibleColumns
          val names = Option(colsS) match {
            case Some(cs) => topSplit(cs).map(_.replaceAll("\"", "").toLowerCase)
            case None =>
              // KNOWN DIVERGENCE from PG (shared with the plain-INSERT
              // path): a short VALUES list with no column list maps to the
              // first N NON-SERIAL columns, so serials auto-fill; PG maps
              // positionally to the first N columns INCLUDING serials. A
              // serial-first table wanting PG's behavior must spell the
              // column list explicitly.
              if (values.length == vis.length) vis.map(_.name)
              else vis.filterNot(_.serial).map(_.name).take(values.length)
          }
          require(names.length == values.length,
            s"MERGE INSERT arity mismatch: ${names.length} cols vs ${values.length} values")
          names.foreach(n => require(t.column(n).isDefined, s"no column $n in ${t.name}"))
          // a VALUES item spelled DEFAULT = leave unspecified (PG)
          MergeInsert(names.zip(values).filterNot(_._2.equalsIgnoreCase("DEFAULT")).toMap)
        case a => throw new IllegalArgumentException(s"cannot parse MERGE action: $a")
      }
      MergeWhen(kind, clauseCond, action)
    }

    registerAll()
    val tv = "__graft_merge_target"
    tableDf(t).createOrReplaceTempView(tv)
    // the temp view and serial-index cache must not outlive the statement:
    // validation throws mid-body (affect-twice, UNIQUE violation), so
    // cleanup runs in finally, never only on the success path
    var insCache: DataFrame = null
    // localCheckpoint pins RDD blocks until the RDD object is GC'd; on
    // the validation-error path nothing can reference them again, so they
    // are dropped deterministically in finally (snapshot-diff: only RDDs
    // THIS statement persisted are released). The success path keeps its
    // blocks — a RETURNING result handed to the caller still reads them,
    // and unpersisting a local checkpoint breaks its truncated lineage.
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    var completed = false
    try {
    val key = rowKey(t)
    val keySel = key.map(k => s"$tAlias.$k AS __key_$k").mkString(", ")
    def actionCase(ws: Seq[MergeWhen]): String =
      "CASE " + ws.map { w =>
        val tag = w.action match {
          case MergeUpdate(_) => "update"
          case MergeDelete => "delete"
          case _ => "keep"
        }
        s"WHEN (${w.cond.getOrElse("TRUE")}) THEN '$tag'"
      }.mkString(" ") + " ELSE 'keep' END AS __action"
    // per-column post-value: first-satisfied clause's SET expression, the
    // pre-image otherwise (so delete/keep branches carry the old row)
    def newCols(ws: Seq[MergeWhen]): String =
      t.columns.map { cd =>
        val branches = ws.map { w =>
          val v = w.action match {
            case MergeUpdate(sets) =>
              sets.toMap.getOrElse(cd.name, s"$tAlias.${cd.name}")
            case _ => s"$tAlias.${cd.name}"
          }
          s"WHEN (${w.cond.getOrElse("TRUE")}) THEN ($v)"
        }.mkString(" ")
        s"CASE $branches ELSE $tAlias.${cd.name} END AS __new_${cd.name}"
      }.mkString(", ")

    val matchedWs = whens.filter(_.kind == "matched")
    val bySrcWs = whens.filter(_.kind == "bysource")
    val insWs = whens.filter(_.kind == "insert")
    val changedParts = Seq.newBuilder[DataFrame]
    if (matchedWs.nonEmpty)
      changedParts += spark.sql(PgRewrite.rewrite(
        s"SELECT $keySel, ${actionCase(matchedWs)}, ${newCols(matchedWs)} " +
          s"FROM $tv AS $tAlias INNER JOIN $srcText ON $cond"))
    if (bySrcWs.nonEmpty)
      changedParts += spark.sql(PgRewrite.rewrite(
        s"SELECT $keySel, ${actionCase(bySrcWs)}, ${newCols(bySrcWs)} " +
          s"FROM $tv AS $tAlias WHERE NOT EXISTS (SELECT 1 FROM $srcText WHERE $cond)"))
    // LAZY checkpoint: the publish write is the first action and
    // materializes the blocks inside its own job — an eager cut here
    // would pay a separate materialization job first
    val changed = changedParts.result().reduceOption(_ unionByName _)
      .map(_.filter(col("__action") =!= "keep").localCheckpoint(false))

    val inserted: Option[DataFrame] = if (insWs.isEmpty) None else {
      val maps = insWs.map {
        case MergeWhen(_, _, MergeInsert(m)) => m
        case _ => Map.empty[String, String] // DO NOTHING arm: values unused
      }
      val colSel = t.columns.map { cd =>
        val branches = insWs.zip(maps).map { case (w, m) =>
          val v = m.get(cd.name)
            .orElse(if (cd.serial) None else cd.default.map(d => s"($d)"))
            .getOrElse("NULL")
          s"WHEN (${w.cond.getOrElse("TRUE")}) THEN ($v)"
        }.mkString(" ")
        s"CASE $branches ELSE NULL END AS ${cd.name}"
      }.mkString(", ")
      val actCase = "CASE " + insWs.zip(maps).map { case (w, _) =>
        val tag = w.action match { case MergeKeep => "keep"; case _ => "insert" }
        s"WHEN (${w.cond.getOrElse("TRUE")}) THEN '$tag'"
      }.mkString(" ") + " ELSE 'keep' END AS __action"
      var ins = spark.sql(PgRewrite.rewrite(
        s"SELECT $actCase, $colSel FROM $srcText " +
          s"WHERE NOT EXISTS (SELECT 1 FROM $tv AS $tAlias WHERE $cond)"))
        .filter(col("__action") === "insert").drop("__action")
      val serialCols = t.columns.filter(_.serial)
      if (serialCols.exists(c => maps.exists(m => !m.contains(c.name)))) {
        // same block-reservation discipline as insertRows: dense 0-based
        // index (per-partition offsets), ONE catalog write per sequence,
        // cached so checks and the write read the same rows
        val base = ins.schema
        val indexed = spark.createDataFrame(
          ins.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
          StructType(base.fields :+ StructField("__rn", LongType, nullable = false)))
          .cache()
        val cnt = indexed.count()
        ins = indexed
        insCache = indexed
        if (cnt > 0) serialCols.foreach { c =>
          val sq = s"${t.name}_${c.name}_seq"
          val inc = catalog.sequences(sq.toLowerCase).increment
          val start = catalog.reserve(sq, cnt)
          val st = TypeMap.toSpark(c.sqlType)
          // clause-specified serial values win; unspecified rows take ids
          // from the reserved block (over-reserving burns ids, like PG)
          ins = ins.withColumn(c.name,
            coalesce(col(c.name).cast(st), (lit(start) + col("__rn") * lit(inc)).cast(st)))
        }
        ins = ins.drop("__rn")
      }
      val plan = ins.select(t.columns.map(c =>
        col(c.name).cast(TypeMap.toSpark(c.sqlType)).as(c.name)): _*)
      // lazy: the publish write's job materializes the blocks — no
      // separate checkpoint job
      Some(plan.localCheckpoint(false))
    }

    val cur = tableDf(t)
    // the write layout is sized by the statement's inputs, since the
    // optimizer prices the matched-arm join at its product
    val single = singleFile(cur +: inserted.toSeq: _*)
    // `__act`: the target row's arm (NULL when no arm hit it), or
    // "insert"; deleted rows keep their pre-image until the keepFilter
    val (afterMatched, twice) = changed match {
      case Some(ch) =>
        val joinCond = key.map(k => col(k) === col("__key_" + k)).reduce(_ && _)
        affectTwice(cur.join(ch, joinCond, "left")
          .select(t.columns.map { c =>
            when(col("__action") === "update",
              col("__new_" + c.name).cast(TypeMap.toSpark(c.sqlType)))
              .otherwise(col(c.name)).as(c.name)
          } ++ key.map(k => col(k).as("__pre_" + k)) :+ col("__action").as("__act"): _*),
          key.map("__pre_" + _), single,
          "MERGE command cannot affect row a second time: a target row " +
            "matches more than one source row")
      case None => (cur.withColumn("__act", lit(null).cast("string")), None)
    }
    def mergeRet(r: String): DataFrame = {
      val acted = Seq(
        changed.map(_.select(t.columns.map(c =>
          col("__new_" + c.name).cast(TypeMap.toSpark(c.sqlType)).as(c.name)): _*)),
        inserted).flatten
      returningDf(t, acted.reduceOption(_ unionByName _).getOrElse(cur.limit(0)), r)
    }
    // the affect-twice check, the update/delete/insert tallies AND the
    // post-merge validation (SET expressions or inserts could collide on
    // any unique key) ride the publish write's job
    val next = inserted.foldLeft(afterMatched)((f, i) =>
      f.unionByName(i.withColumn("__act", lit("insert")), allowMissingColumns = true))
    var ret: Option[DataFrame] = None
    val counts = validatePostImagePublish(t, next, "MERGE", single,
      tagCounts = Seq("update", "delete", "insert").map(a => a -> (col("__act") === a)),
      twice = twice, keepFilter = Some(col("__act").isNull || col("__act") =!= "delete"),
      beforePublish = () => ret = returning.map(mergeRet))
    completed = true
    ret.getOrElse(ok("MERGE", counts("update") + counts("delete") + counts("insert")))
    } finally {
      spark.catalog.dropTempView(tv)
      if (insCache != null) insCache.unpersist()
      if (!completed)
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => rddsBefore.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Publish a new copy-on-write snapshot and bump the version pointer.
    * Active matview maintainers watch the superseded snapshot dir, so
    * they are stopped here (and rebuild from the new snapshot on their
    * next start) rather than left idling against dead files. */
  private def publish(t: TableDef, df: DataFrame): Unit = {
    val nt = t.copy(version = t.version + 1)
    writeSnapshot(df, "overwrite", catalog.tableDir(nt).toString)
    catalog.putTable(nt)
    graft.streaming.MatviewMaintenance.onSnapshotChange(catalog.root.toString)
  }

  /** Parquet write of a table/matview snapshot, laid out by [[singleFile]]. */
  private def writeSnapshot(df: DataFrame, mode: String, dir: String): Unit =
    (if (singleFile(df)) df.coalesce(1) else df).write.mode(mode).parquet(dir)

  /** SIZE-ADAPTIVE file fan-out of a snapshot write: ONE part file when
    * the optimizer estimates every frame of `inputs` as tiny. A VALUES
    * insert arrives as a LocalRelation whose rows spread one-per-partition,
    * so a 3-row statement wrote 3 part files and scheduled 3 tasks — and
    * every later read of the snapshot paid the listing and per-file open
    * cost, compounding across a script's COW versions. The threshold is
    * deliberately small so a misestimated-but-large output keeps the
    * parallel write (coalesce collapses only the stage below the nearest
    * exchange, so an aggregate/join snapshot keeps its parallel upstream
    * either way). The byte estimate costs strings at a fixed ~20 B, so a
    * snapshot of many rows × wide TEXT cells can land under the byte gate
    * while the real output is hundreds of MB — a serial-write straggler.
    * When the optimizer KNOWS the row count (VALUES inserts, CBO-analyzed
    * sources), the single-file branch is capped at 100k rows; unknown row
    * counts keep the byte gate alone (parquet-scan-backed snapshots, whose
    * file-byte estimate is not string-blind). DML verbs whose post-image
    * joins their inputs pass the inputs, since the optimizer prices a
    * join at the product of its sides. Estimation failures keep the
    * parallel write. */
  private def singleFile(inputs: DataFrame*): Boolean = inputs.forall { df =>
    try {
      val st = df.queryExecution.optimizedPlan.stats
      st.sizeInBytes <= BigInt(8L << 20) && st.rowCount.forall(_ <= 100000L)
    } catch { case _: Throwable => false }
  }

  // ------------------------------------------- observe-fused DML writes
  //
  // Every DML verb validates, counts and writes in ONE pass over its rows:
  // Dataset.observe (CollectMetrics) computes validationParts' aggregates
  // and the verb's affected-row tallies as a side effect of the snapshot
  // write's own scan, and the checker then replays the failure order over
  // the observed metrics. Observe rejects DISTINCT aggregates, and the
  // driver must never merge a statement's key sets, so in-batch duplicates
  // are a distributed window count per unique key set (keyDuplicates) and
  // every observed metric is O(1) on the driver. The "cannot affect a row
  // a second time" rule of upsert, UPDATE … FROM and MERGE is the same
  // window count over a key every post-image row carries (affectTwice),
  // so each of those verbs, too, reaches the version pointer through its
  // write alone. One path therefore serves
  // statements of every size; the write is laid out by singleFile like any
  // snapshot write. Because the check runs AFTER the bytes land, the write
  // targets are arranged so a validation failure never mutates visible
  // state: publishes go to the not-yet-published next version dir (deleted
  // on failure, putTable only on success), appends go to a staging dir
  // whose part files move into the live snapshot only after the checks
  // pass. The statement holds the session's write gate throughout, so the
  // window is unobservable.

  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** Write `frame` (projected to the table's columns, optionally after
    * `keepFilter`; ONE part file when `single`) to `dir` while computing
    * `aggs` over the PRE-filter rows via Dataset.observe. Returns the
    * observed metrics getter once the write completed. No separate
    * validation job: the metrics ride the write plan's accumulators
    * (verified: CollectMetrics is not a filter-pushdown target, so
    * `keepFilter` cannot leak below the metrics). */
  private def observedWrite(t: TableDef, frame: DataFrame, aggs: Seq[Column],
      keepFilter: Option[Column], single: Boolean, dir: String): String => Any = {
    val obs = org.apache.spark.sql.Observation(
      s"graft_val_${obsId.incrementAndGet()}")
    val observed = frame.observe(obs, aggs.head, aggs.tail: _*)
    val out = keepFilter.map(observed.filter).getOrElse(observed)
      .select(t.columns.map(c => col(c.name)): _*)
    (if (single) out.coalesce(1) else out).write.mode("overwrite").parquet(dir)
    val m = obs.get
    m.apply
  }

  /** Observe-fused publish: write the next snapshot version, run `check`
    * over the observed metrics (throwing in the contract's order on a
    * violation — the unpublished version dir is deleted, the version
    * pointer untouched), then run `beforePublish` (RETURNING pins) and
    * publish the version. */
  private def publishFused[A](t: TableDef, frame: DataFrame,
      aggs: Seq[Column], keepFilter: Option[Column], single: Boolean,
      check: (String => Any) => A,
      beforePublish: () => Unit = () => ()): A = {
    val nt = t.copy(version = t.version + 1)
    val dir = catalog.tableDir(nt)
    val get = observedWrite(t, frame, aggs, keepFilter, single, dir.toString)
    val res =
      try check(get)
      catch { case e: Throwable => deleteRecursively(dir); throw e }
    beforePublish()
    catalog.putTable(nt)
    graft.streaming.MatviewMaintenance.onSnapshotChange(catalog.root.toString)
    res
  }

  /** Observe-fused INSERT append: write the batch to a staging sibling of
    * the version dirs (VACUUM's v\d+ matcher ignores it), check the
    * observed metrics, and only then move the part files into the live
    * snapshot dir — a validation failure discards the stage and the
    * snapshot is never touched. */
  private def appendFused[A](t: TableDef, frame: DataFrame,
      aggs: Seq[Column], single: Boolean, check: (String => Any) => A): A = {
    val dir = catalog.tableDir(t)
    val stage = dir.getParent.resolve(
      s".stage-${System.nanoTime()}-${obsId.incrementAndGet()}")
    try {
      val get = observedWrite(t, frame, aggs, None, single, stage.toString)
      val res = check(get) // throws on violation; stage dies in finally
      Files.createDirectories(dir)
      val s = Files.list(stage)
      try s.forEach { f =>
        val n = f.getFileName.toString
        // data files only: _SUCCESS markers and .crc siblings stay behind
        if (!n.startsWith("_") && !n.startsWith("."))
          { Files.move(f, dir.resolve(n)); () }
      } finally s.close()
      // the table's registration read the listing this append changed
      GraftSession.installed.remove(t.name)
      res
    } finally deleteRecursively(stage)
  }
}

object GraftSession {
  /** A standing temp-view registration: the inputs it was built from,
    * the relation Spark's session catalog got, and the temp views
    * (name → relation) its plan read. */
  private[sqlfront] final case class Installed(inputs: Any, relation: AnyRef,
      reads: Seq[(String, AnyRef)])

  /** Temp-view name → its standing registration, whichever session made
    * it: the only registration state (see registerAll). Temp views live
    * on the shared SparkSession, so this map is JVM-wide too. */
  private[sqlfront] val installed =
    new java.util.concurrent.ConcurrentHashMap[String, Installed]()

  /** A `v<n>` snapshot dir's name; the group is its version. */
  private val versionDirRe = """v(\d{1,18})""".r

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** A connection's identity within the shared engine: its current
  * database (catalog), prepared statements and cursors — the state
  * PostgreSQL scopes per backend process (reference: each connection's
  * startup `database` parameter resolves independently through
  * kv/DatabaseRegistry.java:29-60 / PostgresConnectionHandler's startup
  * path). Everything else — statement gate, COW snapshots, the
  * single-writer transaction, stats, version pins — is engine state on
  * [[GraftSession]], shared by all contexts. */
final class ConnContext private[sqlfront] (
    @volatile private[sqlfront] var dbName: String,
    @volatile private[sqlfront] var cat: Catalog) {
  private[sqlfront] val prepared =
    scala.collection.mutable.Map[String, (String, Seq[String])]()
  private[sqlfront] val cursors =
    scala.collection.mutable.Map[String, (DataFrame, Long)]()
}
