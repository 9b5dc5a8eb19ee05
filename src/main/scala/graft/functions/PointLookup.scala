package graft.functions

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, IsNotNull, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types._

/** Primary-key point lookups without a Spark job — the reference's
  * key-value `get` on the encoded PK (kv/KvQueryExecutor.java:959-999),
  * served from a driver-side index kept beside the scan path.
  *
  * [[graft.sqlfront.GraftSession.visibleDf]] tags a table read with its
  * single-column primary key ([[PkOption]]). [[PointLookupRule]] rewrites
  * `Filter(cond, relation)` over such a read, when `cond` has a conjunct
  * `pk = <non-null literal>`, into the same filter's other conjuncts over a
  * `LocalRelation` holding that key's rows; Spark's ConvertToLocalRelation
  * then folds the lookup into a LocalTableScanExec.
  *
  * The index is keyed by the relation's exact file listing (path, length,
  * modification time), its read schema and its options, and is built by
  * executing that same relation, so schema reconciliation and the hidden
  * rowid match the scan exactly: a write, ROLLBACK or ALTER changes the
  * listing or the schema, which starts a new index. Snapshot files
  * are never rewritten in place. One index is kept per table directory
  * (the parent of the `v<n>` snapshot directory a read lists).
  *
  * Only the reads a statement's query makes of the public table views are
  * tagged: a DML statement
  * reads its target untagged, since its publish would make an index built
  * from that read stale at once. After each write the first lookup scans
  * and the second rebuilds the whole table's index, so the index pays off
  * for tables that get three or more point lookups per run of writes.
  */
object PointLookup {
  /** Relation option naming the table's single-column primary key. */
  val PkOption = "graft.pk"

  private final case class Key(files: Seq[(String, Long, Long)], schema: StructType,
      options: Map[String, String])

  /** One listing's index, built at most once, by the lookup of its second
    * planned query. The first query takes the scan path and is only
    * recorded, by its planning tracker (the optimizer applies a rule many
    * times while planning one query): a table written before each lookup
    * then costs what the scan costs and never pays a build, which takes
    * longer than one scan lookup. */
  private final class Index(val key: Key) {
    @volatile var scannedBy: AnyRef = _
    @volatile private var rows: Map[Any, Array[InternalRow]] = _
    def built: Boolean = rows != null
    def get(build: => Map[Any, Array[InternalRow]]): Map[Any, Array[InternalRow]] = {
      if (rows == null) synchronized { if (rows == null) rows = build }
      rows
    }
  }

  /** Table directory → its index. Each index is held softly, so memory
    * pressure evicts it and the next lookup rebuilds; DROP TABLE, DROP
    * DATABASE, RENAME and TRUNCATE [[release]] their directories. */
  private val indexes = new ConcurrentHashMap[String, SoftReference[Index]]()

  /** Set while a statement is planned and not run (EXPLAIN): a cold index
    * stays cold and the plan keeps the scan, so planning runs no job. */
  private val planOnly = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Run `body` (which plans queries without executing them) with no
    * index build. */
  def planning[T](body: => T): T = {
    val prev = planOnly.get
    planOnly.set(true)
    try body finally planOnly.set(prev)
  }

  /** Drop the index of every table directory at or under `dir`. */
  def release(dir: java.nio.file.Path): Unit = {
    val root = dir.toAbsolutePath.normalize.toString
    indexes.keySet.removeIf(k => k == root || k.startsWith(root + "/"))
  }

  /** Whether a built index for the table directory `dir` is held. */
  private[graft] def holds(dir: java.nio.file.Path): Boolean =
    Option(indexes.get(dir.toAbsolutePath.normalize.toString)).flatMap(r => Option(r.get))
      .exists(_.built)

  /** Key types whose Java equality is SQL equality. */
  private[functions] def keyable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType => true
    case StringType => true // the default UTF8_BINARY collation only
    case _ => false
  }

  /** Rows of `rel` whose column `pk` equals `value`, or None when the
    * relation does not qualify for the index. */
  private[functions] def rowsFor(session: SparkSession, rel: LogicalRelation,
      fs: HadoopFsRelation, pk: Attribute, value: Any): Option[Array[InternalRow]] = {
    val threshold = session.sessionState.conf.autoBroadcastJoinThreshold
    fs.location match {
      case files: PartitioningAwareFileIndex
          if threshold > 0 && fs.sizeInBytes <= threshold && files.rootPaths.size == 1 =>
        val key = Key(
          files.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
            .sortBy(_._1),
          fs.schema, fs.options)
        var idx: Index = null // held strongly while this lookup uses it
        indexes.compute(files.rootPaths.head.getParent.toUri.getPath, (_, old) => {
          idx = if (old == null) null else old.get
          if (idx != null && idx.key == key) old
          else { idx = new Index(key); new SoftReference(idx) }
        })
        val query: AnyRef = QueryPlanningTracker.get.getOrElse(new Object)
        val run = !planOnly.get
        if (run && idx.scannedBy == null) idx.scannedBy = query
        if (idx.built || (run && (idx.scannedBy ne query))) {
          val ord = rel.output.indexWhere(_.exprId == pk.exprId)
          Some(idx.get(
            session.sessionState.executePlan(rel).executedPlan.executeCollect()
              .filterNot(_.isNullAt(ord)).groupBy(r => r.get(ord, pk.dataType): Any))
            .getOrElse(value, Array.empty[InternalRow]))
        } else None
      case _ => None
    }
  }
}

/** Optimizer rule (injected by [[GraftExtensions]]): see [[PointLookup]].
  * Relations over `spark.sql.autoBroadcastJoinThreshold` (or with the
  * threshold ≤ 0) keep the scan path — the size at which Spark already
  * collects a relation to the driver to broadcast it. That size is the
  * files' on-disk size, and the decoded rows held can be several times
  * larger, which is why each index is held softly. Streaming relations,
  * relations exposing metadata columns and non-deterministic filters are
  * left alone. */
case class PointLookupRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _))
        if cond.deterministic && fs.options.contains(PointLookup.PkOption) &&
          rel.output.length == fs.schema.length =>
      val pkName = fs.options(PointLookup.PkOption)
      rel.output.find(a => a.name == pkName && PointLookup.keyable(a.dataType)) match {
        case Some(pk) => rewrite(f, cond, rel, fs, pk)
        case None => f
      }
  }

  private def rewrite(f: Filter, cond: Expression, rel: LogicalRelation,
      fs: HadoopFsRelation, pk: Attribute): LogicalPlan = {
    def isPk(e: Expression) = e match {
      case a: Attribute => a.semanticEquals(pk)
      case _ => false
    }
    val conjuncts = splitConjunctivePredicates(cond)
    val hit = conjuncts.collectFirst {
      case c @ EqualTo(a, Literal(v, dt)) if isPk(a) && v != null && dt == pk.dataType => (c, v)
      case c @ EqualTo(Literal(v, dt), a) if isPk(a) && v != null && dt == pk.dataType => (c, v)
    }
    hit.flatMap { case (eq, v) =>
      val rows =
        try PointLookup.rowsFor(session, rel, fs, pk, v)
        catch { case NonFatal(_) => None } // the scan path reports any real error
      rows.map { rs =>
        val local = LocalRelation(rel.output, rs.toSeq)
        conjuncts.filterNot(c => (c eq eq) || (c match {
          case IsNotNull(a) => isPk(a)
          case _ => false
        })).reduceOption(And).map(Filter(_, local)).getOrElse(local)
      }
    }.getOrElse(f)
  }
}
