package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // recorded with every run and JSON line: the driver benches the SAME
    // round at 32 AND 8 cores (scaling measurement), and an archive that
    // doesn't say which is which poisons the cross-run medians — the r17
    // scaling block was uninterpretable partly because core count had to
    // be guessed from calibration speed (VERDICT r17 §scaling)
    val cpus = Engine.cpus
    val spark = Engine.session("graft-bench")
    // warm up JVM/codegen/file-index paths so per-query timings measure the
    // queries, not first-touch JIT + parquet footer reads. A table that
    // fails to load is recorded under "warmup:<table>" in the errors
    // object — the same record-as-failure contract as queries — so one bad
    // fixture degrades the bench instead of aborting it with no JSON (the
    // r9 failure mode: rc=1, zero timings).
    spark.range(1000000).selectExpr("sum(id)").collect()
    val warmErrs: Seq[(String, String)] = Tables.names.flatMap { n =>
      try { Tables.load(spark, sfDir, n).count(); None }
      catch { case e: Throwable =>
        Some((s"warmup:$n",
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}"))
      }
    }
    // a failed query is recorded as a FAILURE (errors object + nonzero
    // failed count), never as a (fast) timing — the bench must not flatter
    // a regression
    // optional args = run only the named queries (local iteration);
    // the driver passes none and gets the full suite
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.filter(kv => args.contains(kv._1)).toSeq
    // the dedup pair set feeds three queries and is discovered once per
    // run — materialize it OUTSIDE the per-query timers and report the
    // shared stage under its own key, so the consumers' timings are
    // stable cache reads instead of arbitrary first-runner attribution.
    // Warm only when a selected query actually consumes the cache, and
    // record a warming failure as a failed entry (same contract as a
    // per-query failure) instead of aborting the bench with no JSON.
    val sharedStages: Seq[(String, Set[String], () => Long)] = Seq(
      ("shared:dedup_pairs",
        Set("dedup_jaccard_pairs", "dedup_components",
          "dedup_canonical", "dedup_cluster_histogram"),
        () => graft.operators.DedupQueries.warmSharedPairs(spark, sfDir)),
      // the customer↔supplier edge list feeds the graph trio — one
      // o⋈l+distinct shuffle paid here instead of once per consumer
      ("shared:graph_edges",
        Set("graph_degree_histogram", "graph_pagerank", "graph_shortest_path"),
        () => graft.operators.GraphQueries.warmSharedEdges(spark, sfDir)),
      // the trained classifier model is memoized per (session, corpus) —
      // without this stage the min-across-passes discipline would let
      // the ~full training cost vanish from EVERY label (first pass's
      // first runner pays it, the min discards it)
      ("shared:classifier_model",
        Set("text_classifier_train", "text_classifier_infer"),
        () => graft.operators.TextQueries.classifierWeights(spark, sfDir, 8).size.toLong),
      // the bigram-LM score frame feeds both perplexity gates — one
      // train+score pipeline paid here instead of once per consumer
      ("shared:bigram_model",
        Set("text_lm_bigram", "pipeline_ppl_buckets"),
        () => graft.operators.TextQueries.warmBigramModel(spark, sfDir)))
    val sharedTimed: Seq[(String, Either[String, Double])] = sharedStages.flatMap {
      case (key, consumers, warm) =>
        if (!selected.exists(kv => consumers(kv._1))) None
        else {
          val t0 = System.nanoTime()
          try { warm(); Some((key, Right((System.nanoTime() - t0) / 1e9))) }
          catch { case e: Throwable =>
            Some((key, Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")))
          }
        }
    }
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}") }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // Two full end-to-end passes, per-query min ACROSS passes. Back-to-back
    // repeats of one query share any host-load spike (r08 recorded phantom
    // 7-37x "regressions" that way); interleaving puts the whole suite
    // (minutes) between a query's two samples, decorrelating the noise. A
    // query that fails in pass 1 is a FAILURE and is not retried — the
    // bench must not flatter a flaky regression.
    val pass1 = selected.map { case (name, fn) => (name, once(fn)) }
    // (name, min-across-passes, per-pass samples, error). BOTH passes'
    // timings are kept for the bench_full.json artifact: min-of-2 alone
    // hid a bimodal plan for a whole round (an AQE-strategy-dependent
    // pair join ran 3.6 s or 32 s depending on runtime luck and the min
    // always reported the lucky pass) — the max/min spread per query
    // makes bimodality visible in the record itself.
    val results = selected.zip(pass1).map { case ((name, fn), (_, r1)) =>
      if (r1._2.isDefined) (name, r1._1, Seq(r1._1), r1._2)
      else {
        val r2 = once(fn)
        if (r2._2.isEmpty) (name, math.min(r1._1, r2._1), Seq(r1._1, r2._1), None)
        // pass 1 green, pass 2 failed = a FLAKY failure and must be
        // recorded as one — reporting the lucky pass would flatter
        // exactly the intermittent regression the two-pass design hunts
        else (name, r1._1, Seq(r1._1), r2._2.map("pass2: " + _))
      }
    }
    // strip every JSON-forbidden char (quotes, backslash, ALL control
    // chars) — a multi-line Spark exception must not corrupt the record
    def jstr(s: String): String =
      "\"" + s.replaceAll("[\"\\\\\\x00-\\x1f]", " ") + "\""
    val passed = results.filter(_._4.isEmpty)
    val sharedOk = sharedTimed.collect { case (k, Right(v)) => (k, v) }
    val sharedBad = sharedTimed.collect { case (k, Left(e)) => (k, e) }
    val qs = (passed.map { case (k, v, _, _) => jstr(k) + ":" + v } ++
      sharedOk.map { case (k, v) => jstr(k) + ":" + v }).mkString("{", ",", "}")
    val errs = (results.collect { case (k, _, _, Some(e)) => jstr(k) + ":" + jstr(e) } ++
      sharedBad.map { case (k, e) => jstr(k) + ":" + jstr(e) } ++
      warmErrs.map { case (k, e) => jstr(k) + ":" + jstr(e) }).mkString("{", ",", "}")
    val total = passed.map(_._2).sum + sharedOk.map(_._2).sum
    val failed = results.size - passed.size + sharedBad.size + warmErrs.size
    // Host-speed calibration, recorded with the run: fixed CPU work
    // whose cost depends on the HOST, not this repo's code. Round 13
    // measured a uniform ~1.3× per-query inflation against the round-12
    // record that reproduced bit-identically with round-12 code — pure
    // hypervisor drift, indistinguishable from a code regression without
    // an anchor. calibParSec exercises the 32-core codegen path,
    // calibSerSec a single JVM thread.
    val cp0 = System.nanoTime()
    spark.range(400000000L).selectExpr("sum(id * 3 + 1)").collect()
    val calibPar = (System.nanoTime() - cp0) / 1e9
    val md5 = java.security.MessageDigest.getInstance("MD5")
    var hb = new Array[Byte](16)
    val cs0 = System.nanoTime()
    var ci = 0
    while (ci < 300000) { md5.reset(); md5.update(hb); hb = md5.digest(); ci += 1 }
    val calibSer = (System.nanoTime() - cs0) / 1e9
    // total_s / failed go at the END of the line: the driver's capture
    // keeps the TAIL when the line exceeds its buffer, and the large
    // queries map has truncated the front-loaded totals three rounds
    // running. "value" stays first for anything parsing the full line.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","failed":$failed,"cpus":${jstr(cpus)},"calibParSec":$calibPar,"calibSerSec":$calibSer,"total_s":$total}"""
    println(line)
    // the driver's stdout capture keeps only the line's TAIL past its
    // buffer (r10 kept 59/210 per-query timings); a file copy makes the
    // full per-query record durable for regression diffing. The file
    // variant additionally carries "passes" (per-query per-pass arrays)
    // so a bimodal plan is visible as max/min spread in the artifact.
    val passes = (passed.map { case (k, _, ps, _) =>
      jstr(k) + ":[" + ps.mkString(",") + "]" } ++
      sharedOk.map { case (k, v) => jstr(k) + ":[" + v + "]" })
      .mkString("{", ",", "}")
    val fullLine = line.stripSuffix("}") + s""","passes":$passes}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // bench result already on stdout
    // APPEND-ONLY per-run archive under version control: round 16 proved
    // single-run per-query numbers swing >2× between same-HEAD runs, and
    // its triage only worked because an overwrite accidentally preserved
    // a second run. Every full invocation writes its OWN
    // bench_full_r<NN>_<runid>.json (runid = UTC-millis base36 + pid —
    // unique per run, never overwritten); `tools/bench_medians.py` derives
    // the round's cross-run medians from these archives. The round number
    // is inferred from the BENCH_r<N>.json records in the repo root — the
    // bench running in round N+1 sees records up to N. FILTERED runs
    // (query-name args — the local dev loop) never archive: a 1-query map
    // has no place in the round's evidence trail.
    if (args.isEmpty) try {
      val prior = Option(new java.io.File(".").listFiles).getOrElse(Array.empty)
        .flatMap(f => "^BENCH_r(\\d+)\\.json$".r
          .findFirstMatchIn(f.getName).map(_.group(1).toInt))
      val round = if (prior.isEmpty) 0 else prior.max + 1
      val runId = java.lang.Long.toString(System.currentTimeMillis(), 36) +
        "-" + ProcessHandle.current().pid()
      val dir = java.nio.file.Paths.get("bench_archive")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(
        dir.resolve(f"bench_full_r$round%02d_$runId.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    graft.operators.DedupQueries.evictSharedPairs(spark)
    graft.operators.GraphQueries.evictSharedEdges(spark)
    graft.operators.TextQueries.evictClassifierModels(spark)
    graft.operators.TextQueries.evictBigramModels(spark)
    // The driver's capture keeps only the LAST ~2000 chars of stdout and
    // parses a JSON line out of them: the full line above is ~8 KB, so
    // its head is always cut mid-line and the round record's "parsed" has
    // been null three rounds running. Print a compact self-contained
    // summary LAST — totals, calibration, and the slowest 15 per-query
    // timings (ms precision), sized well under the capture window — so
    // the tail always contains one complete parseable line; the complete
    // per-query map lives in the full line above and in
    // target/bench_full.json.
    val slowest = passed.sortBy(-_._2).take(15)
      .map { case (k, v, _, _) => jstr(k) + ":" + math.round(v * 1000) / 1000.0 }
    val sharedEntries =
      sharedOk.map { case (k, v) => jstr(k) + ":" + math.round(v * 1000) / 1000.0 }
    val compactQs = (slowest ++ sharedEntries).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","failed":$failed,"n_queries":${passed.size},"cpus":${jstr(cpus)},"calibParSec":$calibPar,"calibSerSec":$calibSer,"queries":$compactQs,"queries_are":"slowest 15 of ${passed.size}; full map in queries_full","queries_full":"target/bench_full.json","total_s":$total}""")
    spark.stop()
  }
}
