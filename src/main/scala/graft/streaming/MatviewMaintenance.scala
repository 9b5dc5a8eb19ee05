package graft.streaming

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StructField, StructType}

import graft.sqlfront.{GraftSession, PgRewrite, TypeMap}

/** Incremental materialized-view maintenance — the Spark-native analogue
  * of the reference's scheduled refresh job
  * (kv/jobs/MaterializedViewRefreshJob.java +
  * kv/jobs/BackgroundJobScheduler.java, which re-run the view SQL from
  * scratch on a timer and row-copy the result through the driver).
  *
  * Here the base table's snapshot directory is consumed as a Structured
  * Streaming FILE SOURCE: part-files appended by INSERT/COPY arrive as
  * micro-batches, the view SQL re-evaluates against streaming aggregation
  * STATE (only the new rows are read — never a rescan of processed
  * files), and each batch publishes the full current result to the
  * matview directory. The file-source log + aggregation state live in a
  * per-view checkpoint under the warehouse, so repeated one-shot
  * refreshes stay incremental across calls — `REFRESH MATERIALIZED VIEW v
  * INCREMENTALLY` only ever pays for rows inserted since the last call.
  *
  * Snapshot-drift safety: UPDATE/DELETE/TRUNCATE publish a NEW snapshot
  * dir (copy-on-write), and a joined dimension changing invalidates held
  * aggregation state even when the base table did not move — so the
  * checkpoint records the version of EVERY catalog table at build time.
  * Any drift resets the checkpoint. How [[refreshOnce]] rebuilds after
  * a reset depends on whether the view's held state has been worth
  * keeping: state a stream seeds pays off only when a later refresh
  * streams over it (appends alone since the reset). When the last
  * refresh before the reset did read held state, the reset streams the
  * new snapshots from scratch (still incremental thereafter, one pass
  * per reset); otherwise no state seeded since the previous reset was
  * ever read, so it recomputes the view as a batch (the bare REFRESH
  * path), records the current stamp and starts no stream — the next
  * refresh after appends alone then streams the snapshot into fresh
  * state. A [[continuous]] maintainer always streams, resetting the
  * checkpoint on drift. A drift observed by a RUNNING [[continuous]] query fails
  * that query loudly — a background maintainer must never keep
  * publishing silently stale state. Views whose SQL a streaming plan
  * can't express (no aggregate, LIMIT, …) fall back to a full
  * recompute.
  *
  * At most one maintenance query runs per (warehouse, view): starting
  * [[continuous]] twice throws, and [[refreshOnce]] while a continuous
  * query is active simply drains that query instead of competing for its
  * checkpoint.
  */
object MatviewMaintenance {

  private val fromRe = """(?is).*?\bFROM\s+([\w"]+).*""".r

  /** Active continuous maintainers keyed by (warehouse root, view). */
  private val active =
    scala.collection.concurrent.TrieMap.empty[(String, String), StreamingQuery]

  /** Called by the session whenever a snapshot version bumps
    * (UPDATE/DELETE/TRUNCATE/DROP): stops every active maintainer on that
    * warehouse, because their file streams watch the now-superseded
    * snapshot dirs and would otherwise idle forever while the matview
    * silently diverges. The next refreshOnce/continuous call sees the
    * version-stamp mismatch, resets the checkpoint, and rebuilds from the
    * new snapshots. */
  def onSnapshotChange(root: String): Unit =
    active.filterInPlace { case ((r, _), q) =>
      if (r == root) { if (q.isActive) q.stop(); false } else true
    }

  /** Called when part-files are REMOVED from a table's current snapshot
    * dir without a version bump (ROLLBACK, ROLLBACK TO or crash recovery
    * un-appending INSERT/COPY files). The base table's file listing is deliberately
    * excluded from [[versionStamp]] — appends there are what the stream
    * consumes — so a checkpoint whose file-source log already recorded a
    * now-deleted file would pass the stamp check and keep aggregation
    * state containing rolled-back rows. Removal is outside the
    * append-only contract of a file stream, so the checkpoints of every
    * view streaming from an affected base are deleted; the next refresh
    * rebuilds from the surviving files. `cat` is the database's catalog,
    * which for crash recovery is not yet the session's live one. */
  def onBaseFilesRemoved(cat: graft.catalog.Catalog, tables: Set[String]): Unit =
    cat.views.values.filter(_.materialized).foreach { v =>
      val base = v.sql match {
        case fromRe(t) => Some(t.replaceAll("\"", "").toLowerCase)
        case _ => None
      }
      if (base.exists(tables)) GraftSession.deleteRecursively(cat.root.resolve("_ckpt_" + v.name))
    }

  /** Called when a view is dropped or redefined (CREATE OR REPLACE):
    * stops its maintainer and removes its checkpoint, so a recreated view
    * can never inherit file-source logs or aggregation state built for
    * DIFFERENT SQL. */
  def onViewChanged(gs: GraftSession, name: String): Unit = {
    val key = (gs.catalog.root.toString, name.toLowerCase)
    active.remove(key).foreach(q => if (q.isActive) q.stop())
    GraftSession.deleteRecursively(gs.catalog.root.resolve("_ckpt_" + name.toLowerCase))
  }

  /** Validity stamp of a maintenance checkpoint: the version of every
    * catalog table (state may depend on joined dims, not just the base)
    * plus the view's own SQL — a redefinition invalidates held state even
    * when no snapshot moved. INSERT appends part-files without bumping a
    * version, so for every table EXCEPT the streamed base the stamp also
    * digests the snapshot dir's file listing: rows appended to a joined
    * dimension reset the checkpoint (held aggregation state was built
    * against the old dimension contents), while appends to the base table
    * are exactly what the file stream consumes and must NOT invalidate. */
  private def versionStamp(gs: GraftSession, v: graft.catalog.ViewDef,
      base: Option[String]): String =
    (gs.catalog.tables.values.toSeq.sortBy(_.name)
      .map { t =>
        val files =
          if (base.contains(t.name)) "" else ":" + dirDigest(gs.catalog.tableDir(t))
        s"${t.name}:${t.version}$files"
      } :+ s"sql:${v.sql.hashCode}").mkString(",")

  /** Order-independent digest of a snapshot dir's (file name, size) set. */
  private def dirDigest(p: Path): String =
    if (!Files.exists(p)) "-"
    else {
      val s = Files.list(p)
      try {
        val entries = new java.util.ArrayList[String]()
        // a file can vanish between list and size (concurrent _temporary
        // cleanup, rollback's deleteIfExists) — treat it as a digest
        // change (sentinel size) so drift still fails with the intended
        // stamp-mismatch message instead of a NoSuchFileException
        s.forEach { f =>
          val size =
            try Files.size(f)
            catch { case _: java.nio.file.NoSuchFileException => -1L }
          entries.add(f.getFileName.toString + "#" + size)
        }
        java.util.Collections.sort(entries)
        Integer.toHexString(String.join("|", entries).hashCode)
      } finally s.close()
    }

  /** One incremental refresh of matview `name`; returns the number of new
    * base-table rows processed (0 = already current, -1 = maintained by a
    * full recompute — a reset no held state was read since, or SQL that
    * cannot stream — or by an active continuous query). */
  def refreshOnce(gs: GraftSession, name: String): Long = {
    val key = (gs.catalog.root.toString, name.toLowerCase)
    active.get(key).filter(_.isActive) match {
      case Some(q) => q.processAllAvailable(); return -1L
      case None => active.remove(key)
    }
    val v = gs.catalog.views(name.toLowerCase)
    require(v.materialized, s"$name is not materialized")
    val t = baseTable(gs, v).getOrElse { gs.materialize(v); return -1L }
    val ckptRoot = gs.catalog.root.resolve("_ckpt_" + v.name)
    val warm = ckptRoot.resolve("_warm")
    val wasWarm = Files.exists(warm)
    val (stamp, moved) = restamp(gs, v, t)
    // a reset with no refresh reading held state since the previous one:
    // state streamed now would likely be discarded unread again, so
    // recompute as a batch and start no stream
    if (moved && !wasWarm) { gs.materialize(v); return -1L }
    // this refresh streams over state a previous one seeded: keeping
    // state pays off for this view, so its next reset streams
    if (!moved && Files.exists(ckptRoot.resolve("ckpt"))) Files.writeString(warm, "")
    startQuery(gs, v, t, stamp, None) match {
      case None => -1L // fell back to full materialize
      case Some(q) =>
        try q.processAllAvailable() finally q.stop()
        q.recentProgress.map(_.numInputRows).sum
    }
  }

  /** Continuous background maintenance — the analogue of the reference's
    * BackgroundJobScheduler + MaterializedViewRefreshJob pair, but push-
    * based: a long-running streaming query picks up every appended
    * part-file within one trigger interval and republishes the matview.
    * Caller owns the returned query's lifecycle (stop() when done). */
  def continuous(gs: GraftSession, name: String,
      triggerInterval: String = "5 seconds"): StreamingQuery = {
    val key = (gs.catalog.root.toString, name.toLowerCase)
    active.get(key).filter(_.isActive).foreach(_ =>
      throw new IllegalStateException(s"continuous maintenance already running for $name"))
    def notStreamable = new IllegalArgumentException(
      s"cannot maintain $name incrementally (view SQL is not streamable)")
    val v = gs.catalog.views(name.toLowerCase)
    val t = baseTable(gs, v).getOrElse { gs.materialize(v); throw notStreamable }
    val q = startQuery(gs, v, t, restamp(gs, v, t)._1,
      Some(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerInterval)))
      .getOrElse(throw notStreamable)
    active(key) = q
    q
  }

  /** Record the current [[versionStamp]] in view `v`'s checkpoint —
    * checkpoint validity is tied to every snapshot it may hold state
    * from, so a recorded stamp that no longer matches first deletes the
    * checkpoint. Returns the stamp and whether the recorded one moved. */
  private def restamp(gs: GraftSession, v: graft.catalog.ViewDef,
      base: graft.catalog.TableDef): (String, Boolean) = {
    val ckptRoot = gs.catalog.root.resolve("_ckpt_" + v.name)
    val marker = ckptRoot.resolve("_basever")
    val stamp = versionStamp(gs, v, Some(base.name))
    val moved = Files.exists(marker) && Files.readString(marker).trim != stamp
    if (moved) GraftSession.deleteRecursively(ckptRoot)
    Files.createDirectories(ckptRoot)
    Files.writeString(marker, stamp)
    (stamp, moved)
  }

  /** The table a view's SQL streams from: the first FROM target. */
  private def baseTable(gs: GraftSession, v: graft.catalog.ViewDef): Option[graft.catalog.TableDef] =
    v.sql match {
      case fromRe(t) => gs.catalog.getTable(t.replaceAll("\"", "").toLowerCase)
      case _ => None
    }

  /** Build and start the maintenance stream of view `v` from base table
    * `t`, whose checkpoint [[restamp]] just stamped `stamp`. Returns None
    * after falling back to a full recompute (un-streamable SQL). */
  private def startQuery(gs: GraftSession, v: graft.catalog.ViewDef,
      t: graft.catalog.TableDef, stamp: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger]): Option[StreamingQuery] = {
    val spark = gs.spark
    val ckptRoot = gs.catalog.root.resolve("_ckpt_" + v.name)

    val dir = gs.catalog.tableDir(t)
    Files.createDirectories(dir)
    val schema = StructType(t.columns.map(c =>
      StructField(c.name, TypeMap.toSpark(c.sqlType), nullable = true)))

    // batch views for any other tables the SQL joins, then shadow the base
    // table with its streaming twin — same SQL, incremental plan
    gs.registerAll()
    spark.readStream.schema(schema).parquet(dir.toString)
      .select(t.visibleColumns.map(c => org.apache.spark.sql.functions.col(c.name)): _*)
      .createOrReplaceTempView(t.name)
    try {
      val agg = spark.sql(PgRewrite.rewrite(v.sql))
      var writer = agg.writeStream.outputMode("complete")
        .option("checkpointLocation", ckptRoot.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // a snapshot moved under a running maintainer → fail LOUDLY;
          // publishing from stale state would be silent corruption
          val cur = versionStamp(gs, v, Some(t.name))
          if (cur != stamp)
            throw new IllegalStateException(
              s"snapshot versions changed under matview maintenance of ${v.name} " +
                s"(was [$stamp], now [$cur]) — restart maintenance to rebuild")
          // copy-on-write publish: every batch lands in the NEXT version
          // dir and only then moves the catalog pointer, so a concurrent
          // reader that already file-listed the current dir always sees a
          // complete immutable snapshot (same discipline as table publish,
          // GraftSession.publish)
          val curView = gs.catalog.views(v.name.toLowerCase)
          val nv = curView.copy(version = curView.version + 1)
          batch.write.mode("overwrite").parquet(gs.catalog.matviewDir(nv).toString)
          gs.catalog.putView(nv)
        }
      trigger.foreach(tr => writer = writer.trigger(tr))
      Some(writer.start())
    } catch {
      case NonFatal(_) =>
        // not streamable: full recompute is always correct, and the stale
        // checkpoint must not mask the fresh state
        GraftSession.deleteRecursively(ckptRoot)
        gs.materialize(v)
        None
    } finally {
      gs.registerAll() // restore the batch temp view over the base table
    }
  }
}
