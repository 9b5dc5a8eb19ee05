package graft

import org.apache.spark.sql.functions._
import graft.plans.SkewJoin

/** Scale-technique helpers: salted skew join equivalence, approximate
  * sketches within tolerance of exact answers. */
class ScaleToolsSpec extends SparkSpec {

  test("salted join returns exactly the unsalted join's rows under skew") {
    // events.user_id is the fact key; synthesize a hot key by mapping 40%
    // of rows onto user 1
    val fact = Tables.load(spark, sf("sf0.01"), "events")
      .withColumn("uid", when(col("event_id") % 5 < 2, 1L).otherwise(col("user_id")))
      .select(col("uid"), col("event_id"), col("value"))
    val dim = Tables.load(spark, sf("sf0.01"), "events")
      .select(col("user_id").as("uid")).distinct()
      .withColumn("seg", col("uid") % 10)
    val plain = fact.join(dim, Seq("uid"), "inner")
      .agg(count(lit(1)), sum(col("seg")), sum(col("event_id"))).collect()(0)
    val salted = SkewJoin.salted(fact, dim, "uid", buckets = 8)
      .agg(count(lit(1)), sum(col("seg")), sum(col("event_id"))).collect()(0)
    assert(plain == salted)
  }

  test("left salted join preserves unmatched fact rows") {
    val fact = spark.range(0, 100).select(col("id").as("k"), col("id").as("v"))
    val dim = spark.range(0, 50).select(col("id").as("k"), (col("id") * 10).as("d"))
    val plain = fact.join(dim, Seq("k"), "left").orderBy("k", "v").collect().toSeq
    val salted = SkewJoin.salted(fact, dim, "k", 4, "left").orderBy("k", "v").collect().toSeq
    assert(plain == salted)
  }

  test("native expressions are SQL-callable via SparkSessionExtensions") {
    val r = spark.sql(
      "SELECT dot_exact(CAST(array(1.5, 2.0) AS ARRAY<FLOAT>), CAST(array(2.0, 3.0) AS ARRAY<FLOAT>)) AS d, " +
      "graft_minhash(array('a b c'), 2) AS mh, " +
      "size(graft_winnow('the quick brown fox jumps over the lazy dog')) AS nw").collect()(0)
    assert(r.getDouble(0) == 9.0)
    assert(r.getSeq[Long](1).length == 2)
    assert(r.getInt(2) > 0, "winnow fingerprints callable from SQL")
  }

  test("label propagation converges on a deep chain and fails loudly past the cap") {
    import spark.implicits._
    // chain 0-1-…-12: diameter 12 → needs 12 propagation rounds; a silent
    // cap would publish wrong clusters, so the cap must throw instead.
    // smallGraphEdges = 0 forces the distributed loop (the local
    // union-find path has no round cap to test).
    val pairs = (0 until 12).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val out = graft.operators.DedupQueries.labelPropagation(
      pairs, maxIter = 20, smallGraphEdges = 0)
    val rows = out.collect()
    assert(rows.length == 13 && rows.forall(_.getLong(1) == 0L))
    assertThrows[IllegalStateException](
      graft.operators.DedupQueries.labelPropagation(pairs, maxIter = 3, smallGraphEdges = 0))
  }

  test("local union-find path agrees with the distributed propagation loop") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val local = graft.operators.DedupQueries.labelPropagation(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = graft.operators.DedupQueries.labelPropagation(
      pairs, maxIter = 40, smallGraphEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
  }

  test("label propagation stays correct on the hash-partitioned large-graph path") {
    import spark.implicits._
    // 5 star components; a tiny threshold forces the repartition(u) path
    val pairs = (0 until 50).map(i => (i.toLong, (i % 5).toLong + 100L)).toDF("a", "b")
    val out = graft.operators.DedupQueries.labelPropagation(
      pairs, maxIter = 20, smallGraphEdges = 10)
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 50).foreach(i => assert(m(i.toLong) == (i % 5).toLong, s"node $i"))
    (0 until 5).foreach(k => assert(m(100L + k) == k.toLong, s"hub $k"))
  }

  test("LSH bucket occupancy stays within the adaptive-width design envelope") {
    import graft.operators.SimilarityQueries.{lshSketches, lshSketchWidth}
    // the width formula promises expected occupancy ≤ ~1024; real data
    // is not uniform, so pin a generous multiple — a fixed-width
    // regression (or a degenerate hyperplane set collapsing everything
    // into few buckets) blows straight through it
    val n = Tables.load(spark, sf(), "embeddings").count()
    val occ = lshSketches(spark, sf())
      .groupBy(col("sk")).count().agg(max(col("count"))).collect()(0).getLong(0)
    val expected = math.max(1L, n / (1L << lshSketchWidth(n)))
    assert(occ <= math.max(8L, expected * 8),
      s"hottest bucket $occ vs expected ~$expected (n=$n)")
  }

  test("blocked LSH kernel equals the raw candidate join at any threshold") {
    import graft.operators.SimilarityQueries.lshCandidatePairs
    // census path (raw equi-join, every candidate with its exact cosine)
    // filtered post-hoc vs the kernel path (pre-filter + in-loop verify):
    // same pair set, bit-identical cosines, at thresholds spanning the
    // pre-filter's operating range
    val raw = lshCandidatePairs(spark, sf()).persist()
    try Seq(0.05, 0.3, 0.7).foreach { t =>
      val expect = raw.filter(col("cosine") >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = lshCandidatePairs(spark, sf(), thr = Some(t))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expect,
        s"thr=$t: kernel ${got.size} pairs vs join ${expect.size}; " +
          s"diff ${(got diff expect).take(3)} / ${(expect diff got).take(3)}")
    } finally raw.unpersist()
  }

  test("pagerank lineage cut is bit-identical to the uncut loop") {
    import graft.operators.GraphQueries
    // 10 iterations: the default geometry cuts at round 8; overriding
    // checkpointEvery past the loop disables cutting. The materialization
    // must not change a single bit of the rank arithmetic.
    val cut = GraphQueries.pagerank(spark, sf(), 10).collect()
    val uncut = GraphQueries.pagerank(spark, sf(), 10, checkpointEvery = 99).collect()
    assert(cut.length == uncut.length && cut.nonEmpty)
    cut.zip(uncut).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) &&
        a.getDouble(1) == b.getDouble(1), s"rank diverged: $a vs $b")
    }
  }

  test("pagerank double path agrees with the exact-decimal path") {
    import graft.operators.GraphQueries
    // production path (plain double mass sums) vs the oracle-exact
    // DECIMAL(38,18) twin: the fixed-point contraction damps float
    // noise, so after 10 iterations the top-50 ordering must be
    // IDENTICAL and every rank within 1e-9 — the bound that justifies
    // running web-graph scale on the cheap arithmetic.
    val exact = GraphQueries.pagerank(spark, sf(), 10).collect()
    val dbl = GraphQueries.pagerank(spark, sf(), 10, exact = false).collect()
    assert(exact.length == dbl.length && exact.nonEmpty)
    exact.zip(dbl).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0),
        s"rank order diverged: ${a.getString(0)} vs ${b.getString(0)}")
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-9,
        s"rank value diverged at ${a.getString(0)}: ${a.getDouble(1)} vs ${b.getDouble(1)}")
    }
  }

  test("approximate sketches land within tolerance of exact answers") {
    val df = Tables.load(spark, sf("sf0.01"), "orders")
    val exact = df.select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    val approx = df.select(approx_count_distinct(col("o_custkey"), 0.05))
      .collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.10,
      s"approx=$approx exact=$exact")
    val p50 = df.stat.approxQuantile("o_totalprice", Array(0.5), 0.01)(0)
    val lo = df.filter(col("o_totalprice") <= p50).count().toDouble / df.count()
    assert(lo > 0.45 && lo < 0.55, s"median quantile off: $lo")
  }

  test("Jaccard prefix filtering equals the naive inverted-index join at any threshold") {
    import graft.operators.DedupQueries
    val ss = DedupQueries.shingleSets(spark, sf()).persist()
    // naive ground truth: FULL inverted index (no prefix), same verify
    def naive(thr: Double): Set[(Long, Long)] = {
      val sh = ss.select(col("doc_id"), explode(col("shingles")).as("sh"))
      val cand = sh.as("x").join(sh.as("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      val inter = size(array_intersect(col("sa"), col("sb")))
      cand
        .join(ss.select(col("doc_id").as("a"), col("shingles").as("sa")), "a")
        .join(ss.select(col("doc_id").as("b"), col("shingles").as("sb")), "b")
        .filter((inter.cast("double") /
          (size(col("sa")) + size(col("sb")) - inter)) >= thr)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // boundary-hostile thresholds: exact integer products (thr·n integral
    // for common n), a repeating decimal, and the degenerate 1.0
    for (thr <- Seq(0.3, 0.5, 2.0 / 3.0, 0.7, 0.8, 0.95, 1.0)) {
      val (pairs, prefixIdx) = DedupQueries.jaccardPairsBuild(ss, thr)
      val got = pairs.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      prefixIdx.unpersist()
      val want = naive(thr)
      assert(got == want,
        s"thr=$thr: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
    ss.unpersist()
    // out-of-range thresholds are rejected loudly
    assertThrows[IllegalArgumentException](DedupQueries.jaccardPairsBuild(ss, 0.0))
    assertThrows[IllegalArgumentException](DedupQueries.jaccardPairsBuild(ss, 1.5))
  }
}
