#!/usr/bin/env python3
"""Per-statement-kind latency and Spark jobs of one traced benchmark run.

Usage: trace_by_kind.py <trace.jsonl> <seed> [--workload W] [--seconds S]

Reads the spans a `perfbench/run.py --trace 1` run wrote (by default to
perfbench/out/trace-<workload>-<seed>.jsonl), rebuilds the seed's
statement stream with the benchmark's own generator (perfbench/ is
imported, never written; the fixture is built under perfbench/.work/ if it
is missing, as a run would build it), and prints for each statement kind
of the measured window: the number of statements, their median latency,
the Spark jobs and job milliseconds per statement, and the median
milliseconds of each layer span the harness opens inside a statement:
operators.shared_build (a consumer's rebuild of an evicted shared stage),
operators.build_df (the operator call that defines the DataFrame) and
exec.collect (running it and collecting the rows); a layer the trace never
opens gets no column. Run it from any directory; --seconds must match the
run's (default 15, the benchmark's).

dml_mix kinds: order, execute, bind and catalog lookups, range (the
batch's key range), matview, count, each write verb (insert, update,
delete, upsert, merge), reject and refresh. pipeline_ops kinds: the
operator's name (`SparkEntry.queries` key), and evict.
"""
import argparse
import hashlib
import json
import os
import random
import re
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.dont_write_bytecode = True  # leave perfbench/ as it is

import fixture  # noqa: E402
import pipeline  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def stream_of(workload, seed, seconds):
    """The statement stream `run.py --workload W --seed N --seconds S` runs."""
    fx = fixture.build(os.path.join(run.WORK, f"fixture-v{fixture.VERSION}"),
                       run.SCALE, run.DOCS, run.EVENTS)
    passes = max(1, round(seconds / run.PASS_SECONDS[workload]))
    rng = random.Random(seed)
    con = run.duck(fx)
    try:
        if workload == "dml_mix":
            p = workloads.dml_mix(rng, con, fx, run.WARMUP_PASSES[workload] + passes)
        else:
            # the kinds need no expected rows: skip the DuckDB oracles
            pipeline.expected = lambda con, sql: None
            p = pipeline.pipeline_ops(rng, con, fx, {n: None for n, _, _ in pipeline.OPS})
    finally:
        con.close()
    return p["stream"]


# the layer spans reported per kind, with their column headers
LAYERS = {"operators.shared_build": "shared_build_ms",
          "operators.build_df": "build_df_ms",
          "exec.collect": "collect_ms"}


def kind_of(item):
    if item["via"] == "op":
        return item["op"]
    if item["kind"] in ("reject", "refresh", "evict"):
        return item["kind"]
    sql = item["sql"]
    if item["kind"] == "write":
        if "ON CONFLICT" in sql:
            return "upsert"
        return sql.split(None, 1)[0].lower()
    if item["via"] == "bind":
        return "bind"
    if sql.startswith("EXECUTE"):
        return "execute"
    if "pg_" in sql:
        return "catalog"
    if "BETWEEN" in sql:
        return "range"
    if "orders_by_status" in sql:
        return "matview"
    if re.search(r"WHERE o_orderkey = \d+$", sql):
        return "order"
    if sql.startswith("SELECT COUNT(*)"):
        return "count"
    return "other"


# the table each point-lookup kind reads by primary key
LOOKUP_TABLE = {"order": "orders", "bind": "orders", "execute": "customer"}


def written_table(item):
    """The table a published write statement changes, else None."""
    if item.get("kind") != "write":
        return None
    m = re.match(r"\s*(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM|MERGE\s+INTO)\s+(\w+)",
                 item["sql"], re.I)
    return m.group(1).lower() if m else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("trace")
    ap.add_argument("seed", type=int)
    ap.add_argument("--workload", choices=run.WORKLOADS,
                    help="default: from the trace file name")
    ap.add_argument("--seconds", type=float, default=15.0)
    a = ap.parse_args()
    workload = a.workload
    if workload is None:
        m = re.search(r"trace-(\w+)-\d+\.jsonl$", a.trace)
        if not m or m.group(1) not in run.WORKLOADS:
            sys.exit("cannot tell the workload from the file name; pass --workload")
        workload = m.group(1)

    stream = stream_of(workload, a.seed, a.seconds)
    digest = hashlib.sha256(json.dumps(
        [{k: v for k, v in s.items() if k != "expect"} for s in stream],
        sort_keys=True).encode()).hexdigest()[:16]

    # measured statements carry their stream position as `stmt` (>= 0);
    # the top span of each is bench.<kind>, and its Spark jobs are
    # exec.job spans
    latency, jobs, job_ms = {}, defaultdict(int), defaultdict(float)
    layer_ms = {name: defaultdict(float) for name in LAYERS}
    for line in open(a.trace):
        s = json.loads(line)
        if s["stmt"] < 0:
            continue
        ms = (s["end_ns"] - s["start_ns"]) / 1e6
        if s["name"].startswith("bench."):
            latency[s["stmt"]] = ms
        elif s["name"] == "exec.job":
            jobs[s["stmt"]] += 1
            job_ms[s["stmt"]] += ms
        elif s["name"] in layer_ms:
            layer_ms[s["name"]][s["stmt"]] += ms
    if not latency:
        sys.exit(f"{a.trace}: no measured statements")

    # walk the whole stream up to the window's end, warm-up included, so a
    # table written before the window counts as written
    by_kind = defaultdict(list)
    dirty, writes, lookups, runs = set(), defaultdict(int), defaultdict(int), defaultdict(int)
    for i in range(max(latency) + 1):
        item = stream[i % len(stream)]
        k, t = kind_of(item), written_table(item)
        if t is not None:
            dirty.add(t)
            if i in latency:
                writes[t] += 1
        lt = LOOKUP_TABLE.get(k)
        first = lt is not None and lt in dirty
        if first:
            dirty.discard(lt)
        if i in latency:
            by_kind[k + ":after-write" if first else k].append(i)
            if lt is not None:
                lookups[lt] += 1
                runs[lt] += first
    print(f"workload={workload} seed={a.seed} stream_sha256={digest} "
          f"statements={len(latency)}")
    layers = [name for name in LAYERS if layer_ms[name]]
    print(f"{'kind':<28}{'n':>5}{'p50_ms':>10}{'jobs/stmt':>11}{'job_ms/stmt':>13}"
          + "".join(f"{LAYERS[name]:>17}" for name in layers))
    for k in sorted(by_kind, key=lambda k: (-len(by_kind[k]), k)):
        ids = by_kind[k]
        print(f"{k:<28}{len(ids):>5}{statistics.median(latency[i] for i in ids):>10.1f}"
              f"{sum(jobs[i] for i in ids) / len(ids):>11.2f}"
              f"{sum(job_ms[i] for i in ids) / len(ids):>13.1f}"
              + "".join(f"{statistics.median(layer_ms[name][i] for i in ids):>17.1f}"
                        for name in layers))
    if lookups:
        print(f"\n{'table':<20}{'writes':>7}{'lookups':>9}{'lookups/write run':>19}")
        for t in sorted(lookups):
            per = f"{lookups[t] / runs[t]:.1f}" if runs[t] else "no write"
            print(f"{t:<20}{writes[t]:>7}{lookups[t]:>9}{per:>19}")


if __name__ == "__main__":
    main()
