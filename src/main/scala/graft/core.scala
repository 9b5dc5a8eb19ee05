package graft

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}

/** A named query over the fixture tables, with an optional DuckDB-dialect
  * oracle SQL string the driver replays for the correctness gate.
  *
  * Contract (see SparkEntry): `run(spark, sfDir)` must return a DataFrame
  * whose column names AND row order match the oracle exactly — every query
  * ends in a total ORDER BY so the hash compare is deterministic.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object Q {
  /** Query with a DuckDB oracle. */
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(oracle), run)

  /** Query with no SQL-expressible oracle (driver records rows-only check). */
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, None, run)
}

trait QueryPack { def qs: Seq[Q] }

/** Fixture-table access, and [[readParquet]], the read of every parquet
  * path whose schema the catalog does not hold. Tables are immutable
  * driver-generated parquet — the Spark analogue of the reference's KV
  * table scan (reference kv/KvQueryExecutor.java:1004-1136), with
  * Catalyst handling predicate pushdown / column pruning the reference
  * lacked. The reference keeps a table's schema as catalog metadata
  * (kv/TableMetadata.java:293-353); here a parquet file carries its own,
  * and [[readParquet]] takes it from the file's footer on the driver, so
  * defining a read runs no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts has shipped in two physical layouts, so the normalization is
    * gated on the READ schema, never assumed:
    *   - TIMESTAMP(NANOS): Spark has no nanos type, so the column arrives as
    *     a nanos-since-epoch long (legacy.parquet.nanosAsLong, set in
    *     [[Engine]]). Values are whole microseconds, so `div 1000` is
    *     lossless and matches DuckDB's CAST(ts AS TIMESTAMP).
    *   - TIMESTAMP(MICROS, tz-naive): arrives as TIMESTAMP_NTZ; cast to the
    *     session-local TimestampType (session TZ is pinned UTC, so wall-clock
    *     values are unchanged) so every downstream query and oracle sees one
    *     type regardless of which fixture generation produced the file.
    * The table is read through [[readParquet]], so loading one runs no
    * Spark job. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df // already session-local timestamp
      }
    else df
  }

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema is read from one data file's footer on the driver, with the
    * calls Spark's inference job runs on an executor
    * (`SchemaMergeUtils.mergeSchemasInParallel`: the footer without row
    * groups, `ParquetFileFormat.readSchemaFromFooter`, a converter built
    * from the session conf), so Spark's row metadata,
    * `legacy.parquet.nanosAsLong` and the TIMESTAMP_NTZ inference rules
    * apply as they do there. The file is the one that inference picks
    * with schema merging off: `path` itself when it is a file, else the
    * first data file by name of a flat directory, where names Spark's
    * listing hides (`_` or `.` prefixed, `._COPYING_` suffixed) are not
    * data. Anything else takes plain `spark.read.parquet(path)`: a
    * missing path or no data file (Spark's own error), a subdirectory
    * (partition discovery), a `_metadata`/`_common_metadata` summary
    * file, or `spark.sql.parquet.mergeSchema` on. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    // a file lists as itself
    val listed =
      try p.getFileSystem(hadoopConf).listStatus(p).toSeq
      catch { case _: FileNotFoundException => Nil }
    def name(f: FileStatus) = f.getPath.getName
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    val flat = !spark.sessionState.conf.isParquetSchemaMergingEnabled &&
      !listed.exists(f => f.isDirectory ||
        name(f).startsWith("_metadata") || name(f).startsWith("_common_metadata"))
    val data = if (flat) listed.filterNot(f => hidden(name(f))) else Nil
    data.minByOption(name).map { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** Register every fixture table as a temp view so spark.sql queries can
    * reference them by bare name (matching the oracle SQL's table names). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Decouple a compute-dense narrow stage from SCAN parallelism — but
    * only when the scan actually under-parallelizes. A small compressed
    * parquet file arrives as one split, so a CPU-heavy per-row map
    * (shingling, k×md5 min-hash, simhash bit votes, dot products)
    * inherits ONE task no matter how many cores the cluster has — the
    * work runs single-threaded before the first shuffle ever happens.
    * For that case a round-robin repartition to the cluster's
    * parallelism moves only the raw input rows (once, cheap) and lets
    * the expensive map use every core.
    *
    * The gate matters at the other end of the scale: at 100 TB the file
    * count already provides ≥cores splits, and an unconditional
    * repartition would shuffle the entire raw corpus over the network
    * before any work happens. So we read the physical split count off
    * the plan (driver-side only, no job) and pass the DataFrame through
    * untouched whenever the source already saturates the cluster. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val splits = df.rdd.getNumPartitions
    if (splits >= target) df else df.repartition(target)
  }
}

/** Session factory: every entry point (Verify, Bench, tests) builds its
  * SparkSession here so conf is uniform. local[N] stands in for a real
  * cluster; shuffle.partitions is sized to the local core count (the 100 TB
  * deployment would raise it, or let AQE coalesce from a high initial
  * value, which `adaptive.enabled` already turns on).
  */
object Engine {
  /** The local core count every session runs with, and the one source of
    * it: the default is local[32] with 32 shuffle partitions;
    * SPARK_GRAFT_CPUS overrides it for smaller machines. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // cost-based optimization consumes ANALYZE-collected statistics
      // (rowCount/ndv) wherever the plan exposes them; join reorder then
      // picks the cheapest order for the 6-7 table TPC-H shapes instead
      // of relying on the hand-written order (reference
      // optimizer/QueryOptimizer.java:150-226 does the same with its
      // StatisticsCollectorJob output)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // whole-stage-codegen class cache (STATIC conf, default 100
      // entries): a long-lived multi-statement session — the PgWire
      // frontend, a bench/verify sweep, any BI workload — runs hundreds
      // of distinct plans, and at the default size every re-execution
      // recompiles ~100-300 ms of Janino output that was already built
      // (measured r17: repeat runs of one query in a busy session sat
      // 1-2 s above their quiet-session steady state; a 246-query sweep
      // holds ~1500-2000 distinct codegen units, so 1000 entries still
      // thrashed). Compiled classes are tens of KB; 4096 entries is
      // ~100-200 MB of driver heap, bounded and scale-independent.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // iterative operators (BFS, pagerank, label propagation) cut their
      // per-round lineage with checkpoints; when a CLUSTER deployment
      // configures a checkpoint dir, the reliable-checkpoint branch
      // writes one RDD directory per round — without this flag the
      // ContextCleaner never deletes them (default false) and checkpoint
      // storage grows without bound across runs
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // streaming state lives in RocksDB, not the default
      // HDFSBackedStateStore: the default retains N committed versions of
      // the whole store as in-heap immutable maps, so a long-running
      // stateful query's executor heap grows with churn even when the
      // LOGICAL state is bounded (measured round 12: 808 MB resident for
      // 19k logical rows). RocksDB keeps state off-heap with incremental
      // (changelog) checkpoints — the backend a 100-TB deployment runs.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // Snapshot-boundary trigger spikes (the r13 "13.7 s stall"): at
      // every minDeltasForSnapshot-th version the native checkpoint
      // flushes each partition's accumulated memtable inline in the
      // committing task. Round 14 A/B'd the three candidate mitigations
      // at 50 k rows/s (series in BASELINE.md): staggering maintenance
      // (15 s interval, 2-thread pool) made the boundary batch WORSE
      // (7.4 s — the flush is not in the maintenance path), and small
      // write buffers (16 MB × 4) traded the spike for L0-compaction
      // debt late in the run (6.8 s batches; Spark pins RocksDB's
      // background-job parallelism, so continuous flushing starves
      // compaction). The stock settings measure best — one boundary
      // batch at 1.86× the median, inside the ≤2× SLA — so they are
      // deliberately left untouched; the production knob for a stricter
      // SLA is snapshot CADENCE (rocksdb.minDeltasForSnapshot), which
      // trades restore-time changelog replay for rarer boundaries.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Deterministic float math shared by Spark queries and their DuckDB
  * oracles.
  *
  * SUM/AVG over doubles is order-dependent in the last ulps, and Spark and
  * DuckDB will not accumulate partitions in the same order — so any double
  * aggregate would hash-mismatch nondeterministically. Casting each addend
  * to DECIMAL first makes the aggregation exact and order-independent; the
  * final cast back to DOUBLE is then the same well-defined rounding on both
  * engines. Per-row double arithmetic (a*b, 1-x) is IEEE-deterministic and
  * needs no such treatment.
  */
/** Per-corpus scratch locations for the layout round-trip operators
  * (partitioned/sharded/ORC/bucketed writes). One dir per (prefix,
  * corpus-hash) keeps reruns idempotent and concurrent scale factors
  * isolated; stale SIBLINGS (same prefix, other corpus, untouched for
  * >2 h) are pruned on acquisition so probe campaigns don't accumulate
  * one corpus copy per fixture dir forever. The TTL — rather than
  * prune-all — keeps a concurrently running Verify/test/probe on a
  * DIFFERENT fixture from losing its scratch mid-query; every caller
  * rewrites its own dir with mode=overwrite, so pruning an idle one is
  * always safe.
  */
object Scratch {
  private val ttlMs = 2L * 3600 * 1000

  /** Tmp-dir scratch path for `prefix` over the corpus at `corpusDir`. */
  def dir(prefix: String, corpusDir: String): String = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val name = s"${prefix}_${Integer.toHexString(corpusDir.hashCode)}"
    pruneStale(tmp, prefix, name)
    new java.io.File(tmp, name).toString
  }

  /** Prune stale same-prefix siblings of `keep` under `parent`. */
  def pruneStale(parent: java.io.File, prefix: String, keep: String): Unit = {
    val cutoff = System.currentTimeMillis() - ttlMs
    Option(parent.listFiles).foreach(_.foreach { f =>
      if (f.getName.startsWith(prefix + "_") && f.getName != keep &&
          f.lastModified() < cutoff) rm(f)
    })
  }

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }
}

object Exact {
  val dec: DecimalType = DecimalType(28, 6)

  /** Exact, order-independent sum of a double column.
    *
    * CAVEAT (the r14 sf1 sweep's q1 divergence): the FINAL decimal→double
    * cast is only engine-identical while the decimal's UNSCALED value
    * stays below 2^53. Above that, DuckDB's int→double-then-divide
    * double-rounds where the JVM rounds the exact decimal correctly — a
    * 1-ulp disagreement that strikes when the value lands near a rounding
    * boundary (total ~2.8e10 at scale 6 = 2.8e16 unscaled did, at sf1).
    * For corpus-scale money totals use [[dsum2]]: cents have four more
    * decades of headroom (safe to ~9e13 magnitude, not ~9e9). */
  def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** [[dsum]] with the output quantized to scale 2 (cents) BEFORE the
    * double cast, keeping the unscaled value under 2^53 so both engines'
    * decimal→double conversions are the same correctly-rounded result.
    * round() half-away-from-zero on the EXACT decimal matches on both
    * sides (Spark HALF_UP == DuckDB round(); note DuckDB's bare decimal
    * DOWNSCALE CAST truncates, which is why this must be round()). */
  def dsum2(c: Column): Column = round(sum(c.cast(dec)), 2).cast("double")

  /** avg as exact-sum / count so both engines divide identical doubles. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** [[davg]] over the cents-quantized sum — the 2^53-safe variant for
    * money averages whose corpus-total numerator outgrows [[dsum]]. */
  def davg2(c: Column): Column = dsum2(c) / count(c)

  /** DuckDB-side spelling of dsum. */
  def oSum(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(28,6))) AS DOUBLE)"

  /** DuckDB-side spelling of dsum2. */
  def oSum2(e: String): String =
    s"CAST(round(SUM(CAST($e AS DECIMAL(28,6))), 2) AS DOUBLE)"

  /** DuckDB-side spelling of davg. */
  def oAvg(e: String): String = s"(${oSum(e)} / COUNT($e))"

  /** DuckDB-side spelling of davg2. */
  def oAvg2(e: String): String = s"(${oSum2(e)} / COUNT($e))"
}
