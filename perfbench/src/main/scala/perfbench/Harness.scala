package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{Engine, SparkEntry, Tables}
import graft.operators.{DedupQueries, GraphQueries, TextQueries}
import graft.sqlfront.{GraftSession, PgRewrite, PgWire}

/** Entry point of the benchmark's JVM side.
  *
  *   oracles <name,name,...> <out.json>  write SparkEntry.oracleSql for the
  *                                       named operator queries
  *   run <plan.json> <out.json>          run one workload as the plan says
  */
object Main {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("oracles", names, out) =>
      val m = new java.util.LinkedHashMap[String, String]()
      names.split(",").foreach { n =>
        require(SparkEntry.queries.contains(n), s"no operator query named $n")
        SparkEntry.oracleSql.get(n).foreach(m.put(n, _))
      }
      new ObjectMapper().writeValue(Paths.get(out).toFile, m)
    case Seq("run", plan, out) =>
      val p = new ObjectMapper().readValue(Paths.get(plan).toFile, classOf[java.util.Map[String, AnyRef]])
      new Harness(p.asScala.toMap).run(Paths.get(out))
    case _ =>
      System.err.println("usage: perfbench.Main oracles <names> <out> | run <plan> <out>")
      sys.exit(2)
  }
}

/** One statement of the generated stream. */
final case class Item(id: Int, kind: String, via: String, sql: String,
    direct: String, params: Seq[String], op: String, family: String, warm: String,
    passEnd: Boolean, ordered: Boolean, expect: Map[String, AnyRef])

/** Runs one workload closed loop with one client: set-up, warm-up, then
  * the measured window; checks every result; writes metrics as JSON.
  * Per-layer probes (listener, tracker phases, warehouse walks, spans)
  * run only when the plan asks for a traced run, and outside the
  * statement timers. */
final class Harness(plan: Map[String, AnyRef]) {
  private def str(k: String) = plan(k).toString
  private def num(k: String) = plan(k).asInstanceOf[Number].doubleValue
  private def list(k: String): Seq[AnyRef] =
    plan.get(k).map(_.asInstanceOf[java.util.List[AnyRef]].asScala.toSeq).getOrElse(Nil)

  private val traced = num("trace") > 0
  private val cores = num("cores").toInt
  private val fixture = str("fixture")
  private val work = Paths.get(str("work"))
  private val setupSql = list("setup").map(_.toString)
  private val prelude = list("wire_prelude").map(_.toString)
  private val useWire = plan.get("wire").contains(java.lang.Boolean.TRUE)
  private val stream: IndexedSeq[Item] = list("stream").map { o =>
    val m = o.asInstanceOf[java.util.Map[String, AnyRef]].asScala
    def s(k: String) = m.get(k).flatMap(Option(_)).map(_.toString).orNull
    Item(m("id").asInstanceOf[Number].intValue, s("kind"), s("via"), s("sql"),
      Option(s("direct")).getOrElse(s("sql")),
      m.get("params").map(_.asInstanceOf[java.util.List[AnyRef]].asScala.map(_.toString).toSeq).getOrElse(Nil),
      s("op"), s("family"), s("warm"), m.get("pass_end").forall(_ == java.lang.Boolean.TRUE),
      m.get("ordered").contains(java.lang.Boolean.TRUE),
      m.get("expect").map(_.asInstanceOf[java.util.Map[String, AnyRef]].asScala.toMap).getOrElse(Map.empty))
  }.toIndexedSeq
  private val cyclic = plan.get("cyclic").contains(java.lang.Boolean.TRUE)

  private val tracer = new Tracer(traced)
  private var spark: SparkSession = _
  private var gs: GraftSession = _
  private var wire: PgWire = _
  private var client: WireClient = _
  private val listener = new ExecListener
  private object Plans extends AdaptiveSparkPlanHelper

  // outcome counters over warm-up and measured window
  private var attempted = 0L
  private var failed = 0L
  private val errors = ArrayBuffer[String]()

  // measured window samples: (measured pass, latency ms)
  private var pass = 0
  private val readMs = ArrayBuffer[(Int, Double)]()
  private val writeMs = ArrayBuffer[(Int, Double)]()
  private var stmts = 0L
  private var busyNs = 0L
  private var rowsReturned = 0L
  // per-layer accumulators: name -> (sum, count)
  private val acc = mutable.LinkedHashMap[String, (Double, Long)]()
  private def add(k: String, v: Double): Unit = {
    val (s, n) = acc.getOrElse(k, (0.0, 0L))
    acc(k) = (s + v, n + 1)
  }
  private def mean(k: String): Double = acc.get(k).map { case (s, n) => s / n }.getOrElse(0.0)
  // statement windows for the driver-only split: (start ms, end ms)
  private val windows = ArrayBuffer[(Long, Long)]()
  private var measuring = false
  private var afterWrite = false
  private var wireBytes = 0L // bytes the last wire statement received

  private def ms(ns: Long) = ns / 1e6

  private def fail(item: Item, why: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"#${item.id} ${item.kind} ${Option(item.op).getOrElse(item.sql).take(100)}: $why"
  }

  // ---------------------------------------------------------------- set-up

  private def setUp(): (Double, Seq[Double], Seq[Double]) = {
    val t0 = System.nanoTime()
    spark = tracer("setup.session")(Engine.session("perfbench"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val master = spark.sparkContext.master
    require(master == s"local[$cores]", s"engine runs on $master, expected local[$cores]")
    val reps = num("setup_reps").toInt
    val repS = ArrayBuffer[Double]()
    val openMs = ArrayBuffer[Double]()
    for (r <- 0 until reps) {
      if (client != null) { client.close(); wire.stop() }
      val wh = work.resolve(s"warehouse-$r")
      Files.createDirectories(wh)
      val t = System.nanoTime()
      gs = tracer("catalog.open")(new GraftSession(spark, wh))
      openMs += ms(System.nanoTime() - t)
      if (plan.get("fixture_views").contains(java.lang.Boolean.TRUE))
        tracer("storage.register")(Tables.registerAll(spark, fixture))
      setupSql.foreach(s => tracer("storage.load")(gs.sql(s).collect()))
      if (useWire) tracer("wire.start") {
        wire = new PgWire(gs, 0)
        client = new WireClient(wire.boundPort)
        prelude.foreach { s =>
          val r = client.query(s)
          r.error.foreach(e => throw new IllegalStateException(s"wire prelude failed: $s: $e"))
        }
      }
      repS += (System.nanoTime() - t) / 1e9
      if (r < reps - 1) deleteTree(wh)
    }
    (sessionS, repS.toSeq, openMs.toSeq)
  }

  // ------------------------------------------------------------ statements

  private def sessionRows(df: DataFrame): Seq[List[Any]] =
    tracer("exec.collect")(df.collect()).toSeq.map(r => r.toSeq.map(Check.canon).toList)

  private def planProbe(df: DataFrame): Unit = {
    val ph = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"plan.${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    add("plan.exchanges", Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: Exchange => e
    }.size.toDouble)
  }

  /** Compare with the expected rows; when the expectation names its
    * columns, match the result's columns by name (an oracle may list them
    * in another order). */
  private def checkRows(item: Item, got0: Seq[List[Any]], cols: Seq[String]): Unit = {
    if (measuring) rowsReturned += got0.size
    val got = item.expect.get("columns") match {
      case Some(c) if cols != null =>
        val want = c.asInstanceOf[java.util.List[AnyRef]].asScala.map(_.toString.toLowerCase).toSeq
        val idx = want.map(w => cols.map(_.toLowerCase).indexOf(w))
        if (idx.contains(-1)) {
          fail(item, s"columns ${cols.mkString(",")} do not match expected ${want.mkString(",")}")
          return
        }
        got0.map(r => idx.map(r(_)).toList)
      case _ => got0
    }
    item.expect.get("rows") match {
      case Some(rows) =>
        val exp = rows.asInstanceOf[java.util.List[AnyRef]].asScala.toSeq.map(r => Check.canon(r).asInstanceOf[List[Any]])
        Check.rows(exp, got, item.ordered).foreach(fail(item, _))
      case None => fail(item, "no expected rows")
    }
  }

  /** Execute and time one item, then check its outcome after the clock
    * stops. */
  private def execute(item: Item): Unit = {
    attempted += 1
    var got: Seq[List[Any]] = null
    var df: DataFrame = null
    var err: Option[Throwable] = None
    var wireErr: Option[String] = None
    var sqlNs = 0L
    var warmNs = 0L
    wireBytes = 0L
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try tracer(s"bench.${item.kind}") {
      item.via match {
        case "session" =>
          df = tracer(if (item.kind == "refresh") "streaming.refresh" else "sqlfront.sql")(gs.sql(item.sql))
          sqlNs = System.nanoTime() - t0
          got = sessionRows(df)
        case "wire" | "bind" =>
          val b0 = client.bytesIn
          val r = tracer("wire.roundtrip")(
            if (item.via == "wire") client.query(item.sql) else client.bind(item.sql, item.params))
          wireBytes = client.bytesIn - b0
          wireErr = r.error
          got = r.rows.map(_.toList.map(v => v: Any))
        case "op" =>
          // a consumer of an evicted shared stage rebuilds it first, as a
          // user's first run does
          if (item.warm != null) tracer("operators.shared_build")(item.warm match {
            case "pairs" => DedupQueries.warmSharedPairs(spark, fixture)
            case "edges" => GraphQueries.warmSharedEdges(spark, fixture)
            case "bigram" => TextQueries.warmBigramModel(spark, fixture)
          })
          warmNs = System.nanoTime() - t0
          df = tracer("operators.build_df")(SparkEntry.queries(item.op)(spark, fixture))
          sqlNs = System.nanoTime() - t0 - warmNs
          got = sessionRows(df)
        case "evict" =>
          DedupQueries.evictSharedPairs(spark)
          GraphQueries.evictSharedEdges(spark)
          TextQueries.evictBigramModels(spark)
          TextQueries.evictClassifierModels(spark)
      }
    } catch { case NonFatal(e) => err = Some(e) }
    val dt = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()

    // ---- outcome, outside the timer
    val rejectedOk = item.kind == "reject" && (err.isDefined || wireErr.isDefined)
    if (item.kind == "reject") {
      if (!rejectedOk) fail(item, "statement was accepted but must be rejected")
    } else if (err.isDefined) fail(item, s"${err.get.getClass.getSimpleName}: ${err.get.getMessage}".take(300))
    else if (wireErr.isDefined) fail(item, s"server error: ${wireErr.get}".take(300))
    else item.kind match {
      case "read" => checkRows(item, got, if (df == null) null else df.columns.toSeq)
      case "write" | "refresh" =>
        item.expect.get("count").foreach { c =>
          val n = got.headOption.flatMap(_.lift(1)).map(_.toString.toDouble.toLong).getOrElse(-1L)
          if (n != c.asInstanceOf[Number].longValue) fail(item, s"expected $c rows affected, reported $n")
        }
      case _ =>
    }

    if (measuring) {
      busyNs += dt
      item.kind match {
        case "read" => readMs += ((pass, ms(dt))); stmts += 1
        case "write" | "reject" | "refresh" => writeMs += ((pass, ms(dt))); stmts += 1
        case _ =>
      }
      if (traced) probe(item, df, dt, sqlNs, warmNs, startMs, endMs)
    }
    afterWrite = Set("write", "reject", "refresh")(item.kind) || (afterWrite && item.kind != "read")
  }

  /** Per-layer measurements for one statement (traced runs only). */
  private def probe(item: Item, df: DataFrame, dt: Long, sqlNs: Long, warmNs: Long,
      startMs: Long, endMs: Long): Unit = {
    if (item.kind != "evict") windows += ((startMs, endMs))
    if (df != null && item.kind == "read") planProbe(df)
    if (item.kind == "read" && afterWrite) add("sqlfront.plan_after_write_ms", ms(dt))
    item.via match {
      case "session" =>
        add("sqlfront.sql_call_ms", ms(sqlNs))
        if (item.kind == "refresh") add("streaming.refresh_ms", ms(dt))
      case "wire" | "bind" =>
        add("wire.roundtrip_ms", ms(dt))
        add("wire.bytes_per_stmt", wireBytes.toDouble)
        // the same statement through the session directly gives the wire's
        // own share of the round trip and the plan the server built; its
        // Spark jobs run in a job group the listener does not count
        spark.sparkContext.setJobGroup(ExecListener.ProbeGroup, "perfbench probe")
        try {
          val t = System.nanoTime()
          val direct = gs.sql(item.direct)
          val sqlCall = System.nanoTime() - t
          direct.collect()
          add("wire.overhead_ms", ms(dt) - ms(System.nanoTime() - t))
          add("sqlfront.sql_call_ms", ms(sqlCall))
          planProbe(direct)
        } catch { case NonFatal(_) => }
        finally spark.sparkContext.clearJobGroup()
      case "op" =>
        add("operators.build_df_ms", ms(sqlNs))
        add(s"operators.${item.family}_ms", ms(dt))
        if (item.warm != null) add("operators.shared_build_ms", ms(warmNs))
      case _ =>
    }
    if (item.sql != null && item.via != "op") {
      val t = System.nanoTime()
      PgRewrite.rewrite(item.sql)
      add("sqlfront.rewrite_ms", ms(System.nanoTime() - t))
    }
  }

  // ------------------------------------------------------------ storage

  private def walk(root: Path): (Long, Long, Long) = {
    if (!Files.exists(root)) return (0, 0, 0)
    val s = Files.walk(root)
    try s.iterator().asScala.foldLeft((0L, 0L, 0L)) { case ((files, bytes, vers), p) =>
      if (Files.isRegularFile(p)) (files + 1, bytes + Files.size(p), vers)
      else if (p.getFileName.toString.matches("v\\d+")) (files, bytes, vers + 1)
      else (files, bytes, vers)
    } finally s.close()
  }

  // ---------------------------------------------------------------- run

  def run(out: Path): Unit = {
    val (sessionS, repS, openMs) = setUp()
    if (traced) spark.sparkContext.addSparkListener(listener)
    val warehouse = work.resolve(s"warehouse-${repS.size - 1}")

    // the warm-up and the window are fixed numbers of whole passes (a
    // fixed mix, or a DML batch), so every run measures the same
    // statements and the same number of latency samples
    var i = 0
    def more = cyclic || i < stream.size
    val warmPasses = num("warmup_passes").toInt
    var warmed = 0
    val warm0 = System.nanoTime()
    while (warmed < warmPasses && more) {
      tracer.stmt = -2 - i // warm-up spans are kept but not counted
      val item = stream(i % stream.size)
      execute(item)
      if (item.passEnd) warmed += 1
      i += 1
    }

    val warmupS = (System.nanoTime() - warm0) / 1e9
    val before = if (traced) listener.settle() else Totals()
    val cgCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    measuring = true
    val w0 = System.nanoTime()
    val passes = num("passes").toInt
    while (pass < passes && more) {
      val item = stream(i % stream.size)
      tracer.stmt = i
      if (traced && Set("write", "reject")(item.kind)) {
        val (f0, b0, v0) = walk(warehouse)
        execute(item)
        val (f1, b1, v1) = walk(warehouse)
        val rows = item.expect.get("count").map(_.asInstanceOf[Number].doubleValue).getOrElse(0.0)
        add("storage.files_per_stmt", (f1 - f0).toDouble)
        add("storage.snapshot_versions", (v1 - v0).toDouble)
        if (rows > 0) add("storage.bytes_written_per_row", (b1 - b0).max(0L) / rows)
      } else execute(item)
      if (item.passEnd) pass += 1
      i += 1
    }
    require(pass == passes, s"the stream holds $pass of the $passes passes to measure")
    val windowS = (System.nanoTime() - w0) / 1e9
    measuring = false
    val exec = if (traced) listener.settle() - before else Totals()
    val cgCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgCount0
    val cgMean = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    val (_, diskBytes, _) = walk(warehouse)
    // host anchors after the window, on a warm JVM; the better of two
    // tries, so a one-off stall does not read as a slower host
    val cal = calibrateSer().min(calibrateSer())
    val calPar = calibratePar().min(calibratePar())

    val m = new java.util.LinkedHashMap[String, Any]()
    val n = stmts.max(1).toDouble
    m.put("setup_s", sessionS + median(repS))
    m.put("stmts_per_s", stmts / (busyNs / 1e9))
    m.put("latency_p50_ms", median(readMs.map(_._2).toSeq))
    m.put("latency_tail_ms", tail(readMs.toSeq)._1)
    m.put("peak_rss_mb", peakRssMb())
    if (traced) {
      m.put("write_p50_ms", median(writeMs.map(_._2).toSeq))
      m.put("write_tail_ms", tail(writeMs.toSeq)._1)
      m.put("disk_mb", diskBytes / 1e6)
      Seq("sqlfront.sql_call_ms", "sqlfront.rewrite_ms", "sqlfront.plan_after_write_ms",
        "wire.roundtrip_ms", "wire.overhead_ms", "wire.bytes_per_stmt",
        "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms", "plan.exchanges")
        .foreach(k => m.put(k, mean(k)))
      m.put("codegen.compiles", cgCount / n)
      m.put("codegen.compile_ms", cgCount * cgMean / n)
      m.put("exec.jobs", exec.jobs / n)
      m.put("exec.stages", exec.stages / n)
      m.put("exec.tasks", exec.tasks / n)
      m.put("exec.tasks_failed", exec.tasksFailed.toDouble)
      m.put("exec.run_ms", exec.runMs / n)
      m.put("exec.cpu_ms", exec.cpuNs / 1e6 / n)
      m.put("exec.gc_ms", exec.gcMs / n)
      m.put("exec.busy_cores", exec.runMs / (busyNs / 1e6))
      m.put("exec.driver_only_ms", driverOnlyMs() / n)
      m.put("exec.input_rows_per_result_row", exec.inputRows / rowsReturned.max(1L).toDouble)
      m.put("exec.input_bytes", exec.inputBytes / n)
      m.put("exec.shuffle_write_bytes", exec.shuffleWrite / n)
      m.put("exec.shuffle_read_bytes", exec.shuffleRead / n)
      m.put("exec.spill_bytes", exec.spill / n)
      m.put("catalog.open_ms", median(openMs))
      Seq("storage.bytes_written_per_row", "storage.files_per_stmt", "storage.snapshot_versions",
        "streaming.refresh_ms", "operators.shared_build_ms", "operators.build_df_ms")
        .foreach(k => m.put(k, mean(k)))
      Seq("dedup", "similarity", "text", "graph", "multimodal", "layout")
        .foreach(f => m.put(s"operators.${f}_ms", mean(s"operators.${f}_ms")))
      m.put("host.calib_par_s", calPar)
      m.put("host.calib_ser_s", cal)
      spanMetrics(m, n)
      m.put("trace.stmts_per_s", stmts / (busyNs / 1e9))
    }

    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("metrics", m)
    res.put("attempted", attempted)
    res.put("failed", failed)
    res.put("errors", errors.asJava)
    val info = new java.util.LinkedHashMap[String, Any]()
    info.put("master", spark.sparkContext.master)
    info.put("window_s", windowS)
    info.put("warmup_s", warmupS)
    info.put("statements", stmts)
    info.put("reads", readMs.size)
    info.put("writes", writeMs.size)
    info.put("passes", passes)
    info.put("latency_tail", tail(readMs.toSeq)._2)
    info.put("write_tail", tail(writeMs.toSeq)._2)
    info.put("setup_reps_s", repS.asJava)
    info.put("session_start_s", sessionS)
    info.put("host.calib_ser_s", cal)
    info.put("host.calib_par_s", calPar)
    res.put("info", info)
    new ObjectMapper().writeValue(out.toFile, res)
    if (traced) writeSpans(Paths.get(str("trace_out")))

    if (client != null) client.close()
    if (wire != null) wire.stop()
    spark.stop()
  }

  /** Statement time during which no Spark job was running. */
  private def driverOnlyMs(): Double = windows.map { case (s, e) =>
    val jobs = listener.jobIntervals(s, e).map { case (a, b) => (a.max(s), b.min(e)) }.sortBy(_._1)
    var covered = 0L
    var cur = s
    jobs.foreach { case (a, b) =>
      val from = a.max(cur)
      if (b > from) { covered += b - from; cur = b }
    }
    (e - s - covered).max(0L).toDouble
  }.sum

  /** Self time per layer: a span's duration minus what its children cover. */
  private def spanMetrics(m: java.util.LinkedHashMap[String, Any], n: Double): Unit = {
    // Spark jobs become child spans of the innermost span they started in
    val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val stmtSpans = tracer.spans.filter(_.stmt >= 0).toSeq
    val byStmt = stmtSpans.groupBy(_.stmt)
    byStmt.foreach { case (stmt, ss) =>
      val lo = ss.map(_.startNs).min
      val hi = ss.map(_.endNs).max
      listener.jobIntervals((lo + offsetNs) / 1000000L, (hi + offsetNs) / 1000000L).foreach { case (a, b) =>
        val s = a * 1000000L - offsetNs
        val e = b * 1000000L - offsetNs
        val parent = ss.filter(p => p.startNs <= s && p.endNs >= s).sortBy(p => p.endNs - p.startNs).headOption
        tracer.add("exec.job", parent.map(_.id).getOrElse(0), stmt, s.max(lo), e.min(hi))
      }
    }
    val all = tracer.spans.filter(_.stmt >= 0).toSeq
    val children = all.groupBy(_.parent)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { sp =>
      val kids = children.getOrElse(sp.id, Nil).map(k => (k.startNs.max(sp.startNs), k.endNs.min(sp.endNs))).sortBy(_._1)
      var covered = 0L
      var cur = sp.startNs
      kids.foreach { case (a, b) => val from = a.max(cur); if (b > from) { covered += b - from; cur = b } }
      self(sp.name.takeWhile(_ != '.')) += (sp.endNs - sp.startNs - covered) / 1e6
    }
    Seq("bench", "sqlfront", "wire", "exec", "operators", "streaming").foreach(l => m.put(s"$l.self_ms", self(l) / n))
    m.put("trace.spans_per_stmt", all.size / n)
  }

  private def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try tracer.spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","stmt":${s.stmt},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }

  // --------------------------------------------------------------- utils

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Tail latency of (pass, ms) samples and a label saying what it is.
    * With at least 100 samples: the highest percentile with ten samples
    * beyond it (p90 or above). With fewer: the median over the measured
    * passes of each pass's slowest statement. */
  private def tail(xs: Seq[(Int, Double)]): (Double, String) =
    if (xs.isEmpty) (0.0, "none")
    else if (xs.size >= 100) {
      val s = xs.map(_._2).sorted
      (s(s.size - 11), f"p${100.0 * (s.size - 10) / s.size}%.1f of n=${s.size}")
    } else {
      val maxima = xs.groupBy(_._1).values.map(_.map(_._2).max).toSeq
      (median(maxima), s"median of ${maxima.size} per-pass maxima, n=${xs.size}")
    }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** Fixed single-thread CPU work, independent of the engine's code. */
  private def calibrateSer(): Double = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    var hb = new Array[Byte](16)
    val t = System.nanoTime()
    var k = 0
    while (k < 300000) { md5.reset(); md5.update(hb); hb = md5.digest(); k += 1 }
    (System.nanoTime() - t) / 1e9
  }

  /** Fixed parallel work on the session's cores, independent of the
    * engine's own code. */
  private def calibratePar(): Double = {
    val t = System.nanoTime()
    spark.range(100000000L).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t) / 1e9
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
