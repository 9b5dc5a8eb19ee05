package graft.operators

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Scan / filter / sort / limit surface (SURVEY.md §2.1, §2.2, §2.6).
  *
  * The reference executes these as a capped MVCC range scan with post-hoc
  * row-at-a-time filtering (reference kv/KvQueryExecutor.java:1004-1136 —
  * WHERE is applied AFTER fetching every column of up to 100k rows). Here
  * each query is a declarative plan: Catalyst pushes predicates and column
  * pruning into the parquet scan (visible as PushedFilters/ReadSchema in
  * `explain`), so the 100 TB version reads only the row groups and columns
  * it needs — there is deliberately no scan cap (§7.5 defect 2).
  */
object ScanQueries extends QueryPack {

  val qs: Seq[Q] = Seq(
    // Projection pushdown: scan reads exactly 3 of 11 lineitem columns.
    Q(
      "scan_project",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // Point lookup by key — the reference's (dead) point-get path
    // (kv/KvQueryExecutor.java:959-999); in Spark a pushed-down equality.
    Q(
      "scan_point_lookup",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey = 4242""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") === 4242)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    },

    // All six comparison operators (reference kv/CalciteSqlParser.java:1006-1018).
    Q(
      "filter_comparisons",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_quantity >= 49 AND l_discount < 0.02 AND l_linenumber <> 1
        |  AND l_orderkey > 100 AND l_orderkey <= 14000 AND l_tax = 0.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(
          col("l_quantity") >= 49 && col("l_discount") < 0.02 &&
          col("l_linenumber") =!= 1 && col("l_orderkey") > 100 &&
          col("l_orderkey") <= 14000 && col("l_tax") === 0.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // LIKE / NOT LIKE (reference regex translation kv/CalciteSqlParser.java:1092-1118).
    Q(
      "filter_like",
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_name LIKE '%gear%' AND p_brand NOT LIKE 'Brand#1%'
        |  AND p_name LIKE 'h_t%'
        |ORDER BY p_partkey""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "part")
        .filter(
          col("p_name").like("%gear%") && !col("p_brand").like("Brand#1%") &&
          col("p_name").like("h_t%"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .orderBy(col("p_partkey"))
    },

    // ILIKE — PG's case-insensitive LIKE (beyond the reference grammar;
    // both Spark ≥3.3 and DuckDB parse it natively). The fixture's part
    // names are lowercase, so the uppercase pattern matches ONLY through
    // ILIKE's case folding — plain LIKE '%WIDGET%' matches zero rows.
    Q(
      "filter_ilike",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_name ILIKE '%WIDGET%' AND p_name NOT ILIKE 'BLUE%'
        |ORDER BY p_partkey""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "part")
        .filter(col("p_name").ilike("%WIDGET%") && !col("p_name").ilike("BLUE%"))
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    },

    // Explicit NULLS FIRST/LAST placement — engine defaults differ
    // (Spark DESC puts nulls last only by convention, DuckDB is
    // configurable), so portable plans must spell it; the gate pins the
    // explicit form to identical output on both engines.
    Q(
      "sort_nulls_ordering",
      """SELECT o_orderkey, nullif(o_orderstatus, 'F') AS st FROM orders
        |WHERE o_orderkey < 300
        |ORDER BY st DESC NULLS LAST, o_orderkey""".stripMargin
    ) { (s, dir) =>
      val st = expr("nullif(o_orderstatus, 'F')")
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"), st.as("st"))
        .orderBy(col("st").desc_nulls_last, col("o_orderkey"))
    },

    // IN / NOT IN value lists (reference kv/CalciteSqlParser.java:310-341).
    Q(
      "filter_in",
      """SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_orderstatus NOT IN ('P')
        |  AND o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(
          col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          !col("o_orderstatus").isin("P") && col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    },

    // BETWEEN / NOT BETWEEN (reference kv/CalciteSqlParser.java:342-357).
    Q(
      "filter_between",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice BETWEEN 499000 AND 499978.59
        |  AND o_orderkey NOT BETWEEN 5000 AND 10000
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(
          col("o_totalprice").between(499000, 499978.59) &&
          !col("o_orderkey").between(5000, 10000))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // IS NULL / IS NOT NULL (reference kv/CalciteSqlParser.java:358-365);
    // NULLIF synthesizes NULLs since fixture columns are non-null.
    Q(
      "filter_null_tests",
      """SELECT l_orderkey, l_linenumber, NULLIF(l_discount, 0.0) AS disc_or_null
        |FROM lineitem
        |WHERE l_orderkey < 300 AND NULLIF(l_discount, 0.0) IS NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 300 && nullif(col("l_discount"), lit(0.0)).isNull)
        .select(col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_discount"), lit(0.0)).as("disc_or_null"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // OR branches + NOT (reference predicate model: AND list with nested OR
    // branch lists, kv/CalciteSqlParser.java:240-368).
    Q(
      "filter_or_not",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE (o_orderstatus = 'P' OR o_totalprice > 495000)
        |  AND NOT (o_orderpriority = '5-LOW' AND o_orderstatus = 'O')
        |  AND o_orderkey < 3000
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(
          (col("o_orderstatus") === "P" || col("o_totalprice") > 495000) &&
          !(col("o_orderpriority") === "5-LOW" && col("o_orderstatus") === "O") &&
          col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // Multi-column ORDER BY with mixed direction + explicit null order
    // (reference kv/KvQueryExecutor.java:2771-2810: null-first-on-asc).
    Q(
      "sort_multi_col",
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE c_custkey < 400
        |ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 400)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .orderBy(col("c_mktsegment").asc, col("c_acctbal").desc, col("c_custkey").asc)
    },

    // LIMIT/OFFSET after total sort (reference kv/KvQueryExecutor.java:1101-1119;
    // Spark plans TakeOrderedAndProject instead of full sort + cut).
    Q(
      "sort_limit_offset",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20 OFFSET 10""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10)
        .limit(20)
    },

    // Second columnar format end-to-end: write the document corpus to
    // ORC, read it back through the ORC reader WITH a pushed predicate,
    // aggregate per source. The oracle answers from the original parquet,
    // so the format round trip must preserve every row and value exactly;
    // PlanSpec pins that the filter reaches the ORC scan as a
    // PushedFilters entry (ORC reader predicate pushdown — same
    // scan-level filtering contract the parquet pins assert). Scratch is
    // dir-hashed + overwrite: idempotent, never stale behind the oracle.
    Q(
      "scan_orc_roundtrip",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE n_chars > 100
        |GROUP BY source
        |ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val scratch = graft.Scratch.dir("graft_orc", dir)
      Tables.load(s, dir, "documents")
        .write.mode("overwrite").orc(scratch)
      s.read.orc(scratch)
        .filter(col("n_chars") > 100)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("source"))
    },

    // Avro source/sink round trip: the row-oriented exchange format a
    // streaming ingest pipeline hands to the columnar warehouse.
    // Embeddings is the deliberate choice of table — the array<float>
    // column exercises complex-type encoding through the format, not
    // just scalars. The implementation classes ship inside spark-sql in
    // this Spark line but WITHOUT the DataSourceRegister service entry
    // (that lives in the separate spark-avro module jar), so the format
    // is addressed by its fully-qualified class name.
    Q(
      "scan_avro_roundtrip",
      """SELECT label, CAST(COUNT(*) AS BIGINT) AS vecs,
        |       CAST(SUM(len(embedding)) AS BIGINT) AS dims
        |FROM embeddings WHERE vec_id % 7 <> 0
        |GROUP BY label
        |ORDER BY label""".stripMargin
    ) { (s, dir) =>
      val scratch = graft.Scratch.dir("graft_avro", dir)
      Tables.load(s, dir, "embeddings")
        .write.mode("overwrite").format("org.apache.spark.sql.avro.AvroFileFormat").save(scratch)
      s.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(scratch)
        .filter(col("vec_id") % 7 =!= 0)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("vecs"),
          sum(size(col("embedding"))).cast("long").as("dims"))
        .orderBy(col("label"))
    },

    // JSON-lines source/sink round trip — the interchange format half
    // of web-scale ingest (crawl dumps, API exports). Completes the
    // format matrix: parquet (native), ORC + Avro (gates above), CSV +
    // JSON via COPY (session layer), and raw JSONL files here, read
    // back with an EXPLICIT schema — schema inference on 100 TB of
    // JSONL is a full extra pass over the data, so production reads
    // always carry one.
    Q(
      "scan_json_roundtrip",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE n_chars BETWEEN 100 AND 400
        |GROUP BY source
        |ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val scratch = graft.Scratch.dir("graft_jsonl", dir)
      val docs = Tables.load(s, dir, "documents")
      docs.write.mode("overwrite").json(scratch)
      s.read.schema(docs.schema).json(scratch)
        .filter(col("n_chars").between(100, 400))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("source"))
    },

    // Z-order clustered layout: lineitem rewritten on the Morton curve
    // over (l_partkey, l_suppkey), then a 2-D box query over the
    // clustered copy. The oracle runs the same SQL on the UNCLUSTERED
    // original — layout must never change results — while ZOrderSpec
    // pins the part that makes the layout worth its shuffle: row-group
    // footer stats confine each group to a small (part, supp) rectangle,
    // so the stock reader skips most groups for a box predicate where a
    // single-column sort skips almost none (SURVEY §2.1 sink surface;
    // the reference has no clustered layout at all — its scans are
    // whole-range MVCC reads).
    Q(
      "layout_zorder",
      s"""SELECT l_partkey, l_suppkey,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       ${graft.Exact.oSum("l_extendedprice")} AS revenue
         |FROM lineitem
         |WHERE l_partkey BETWEEN 200 AND 400 AND l_suppkey BETWEEN 20 AND 60
         |GROUP BY l_partkey, l_suppkey
         |ORDER BY l_partkey, l_suppkey""".stripMargin
    ) { (s, dir) =>
      val scratch = graft.Scratch.dir("graft_zorder", dir)
      graft.plans.ZOrder.writeClustered(
        Tables.load(s, dir, "lineitem"), "l_partkey", "l_suppkey", scratch, 16)
      Tables.readParquet(s, scratch)
        .filter(col("l_partkey").between(200, 400) &&
          col("l_suppkey").between(20, 60))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("l_partkey"), col("l_suppkey"))
    },

    // k-D Z-order: the 3-column variant of layout_zorder — a 100-TB fact
    // table is queried on 3-4 dimensions at once, and a 2-D curve leaves
    // the third column's row-group stats wide open. Same contract: the
    // oracle runs the identical SQL on the UNCLUSTERED original (layout
    // must never change results); ZOrderSpec's k-D census pins that the
    // 3-D layout actually skips for the 3-D box where a 1-D sort cannot.
    Q(
      "layout_zorder_kd",
      s"""SELECT l_partkey, l_suppkey,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       ${graft.Exact.oSum("l_extendedprice")} AS revenue
         |FROM lineitem
         |WHERE l_partkey BETWEEN 200 AND 400 AND l_suppkey BETWEEN 20 AND 60
         |  AND l_orderkey BETWEEN 1000 AND 30000
         |GROUP BY l_partkey, l_suppkey
         |ORDER BY l_partkey, l_suppkey""".stripMargin
    ) { (s, dir) =>
      val scratch = graft.Scratch.dir("graft_zorder_kd", dir)
      graft.plans.ZOrder.writeClustered(
        Tables.load(s, dir, "lineitem"),
        Seq("l_partkey", "l_suppkey", "l_orderkey"), scratch, 16)
      Tables.readParquet(s, scratch)
        .filter(col("l_partkey").between(200, 400) &&
          col("l_suppkey").between(20, 60) &&
          col("l_orderkey").between(1000, 30000))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("l_partkey"), col("l_suppkey"))
    }
  )
}
