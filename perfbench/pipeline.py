"""The pipeline_ops workload: operator-pack queries from SparkEntry.queries.

A pass evicts every memoized shared stage, then runs the pass's operator
queries in a seeded order. A query that consumes a shared stage first
rebuilds it through the stage's public warm* function inside its own
timed run, so it pays the build as a user's first run does. Each query's
full result is collected and compared with its DuckDB oracle
(SparkEntry.oracleSql) over the same parquet.
"""

import workloads

# (query, family, shared stage it consumes); every query here has a
# DuckDB oracle
OPS = [
    ("dedup_components", "dedup", "pairs"),
    ("graph_degree_histogram", "graph", "edges"),
    ("pipeline_ppl_buckets", "text", "bigram"),
    ("text_classifier_infer", "text", None),  # trains the memoized classifier
    ("sim_topk_bruteforce", "similarity", None),
    ("mm_manifest", "multimodal", None),
    ("layout_zorder", "layout", None),
]


def expected(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {"columns": cols,
            "rows": [[workloads.canon(v) for v in r] for r in cur.fetchall()]}


def pipeline_ops(rng, con, fixture, oracle_sql):
    missing = [n for n, _, _ in OPS if n not in oracle_sql]
    if missing:
        raise SystemExit(f"perfbench: no oracle for {', '.join(missing)}")
    order = list(OPS)
    rng.shuffle(order)
    stream = []
    workloads.item(stream, "evict", "evict", pass_end=False)
    for name, family, stage in order:
        workloads.item(stream, "read", "op", op=name, family=family, warm=stage,
                       expect=expected(con, oracle_sql[name]), pass_end=name == order[-1][0])
    return {"fixture_views": True, "stream": stream, "cyclic": True}
