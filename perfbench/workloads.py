"""Statement streams for the benchmark's workloads, with expected results.

Each builder takes the run's seed and a DuckDB connection holding the
fixture tables as views, and returns the plan the JVM harness runs:
set-up statements, the stream, and for every statement what it must
return. Expected read results come from DuckDB over the same parquet (an
independent engine); expected DML outcomes come from a model of the table
kept here.
"""

import bisect
import datetime
import decimal

TABLE_COLUMNS = {
    "customer": "c_custkey BIGINT PRIMARY KEY, c_name TEXT, c_nationkey INT, "
                "c_acctbal DOUBLE PRECISION, c_mktsegment TEXT",
    "orders": "o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, o_orderstatus TEXT, "
              "o_totalprice DOUBLE PRECISION, o_orderdate TIMESTAMP, o_orderpriority TEXT",
}

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


def canon(v):
    """A DuckDB value as the JSON value the harness compares against."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [[canon(k), canon(x)] for k, x in v.items()]
    return v


def rows(con, sql):
    return [[canon(v) for v in r] for r in con.execute(sql).fetchall()]


def load_sql(tables, fixture, extra=None):
    """CREATE TABLE + COPY FROM parquet through the engine's own SQL."""
    out = []
    for t in tables:
        cols = (extra or {}).get(t, TABLE_COLUMNS[t])
        out.append(f"CREATE TABLE {t} ({cols})")
        out.append(f"COPY {t} FROM '{fixture}/{t}.parquet' (FORMAT PARQUET)")
    return out


def item(stream, kind, via, **kw):
    """Append one statement to the stream; its id is its position."""
    stream.append({"id": len(stream), "kind": kind, "via": via, **kw})


# ----------------------------------------------------------- point reads

class Zipf:
    """Keys drawn Zipf-skewed over a seeded permutation. The exponent 0.99
    is YCSB's default zipfian constant (Cooper et al., SoCC 2010)."""

    def __init__(self, rng, keys, s=0.99):
        self.rng = rng
        self.keys = list(keys)
        rng.shuffle(self.keys)
        acc, self.cdf = 0.0, []
        for r in range(1, len(self.keys) + 1):
            acc += 1.0 / r ** s
            self.cdf.append(acc)

    def draw(self):
        x = self.rng.random() * self.cdf[-1]
        return self.keys[bisect.bisect_left(self.cdf, x)]


ORDER_POINT = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
               "FROM orders WHERE o_orderkey = {k}")
CUST_POINT = ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
              "FROM customer WHERE c_custkey = {k}")
PREPARE_CUST = f"PREPARE cust_by_key(BIGINT) AS {CUST_POINT.format(k='$1')}"


class PointReads:
    """Short statements over one PgWire connection: primary-key lookups with
    Zipf-skewed keys (simple query, PREPARE/EXECUTE and extended-protocol
    Bind) and the catalog queries BI clients send first. Skewed keys repeat
    statement texts and mix in fresh literals. Expected rows are looked up
    in batches once the stream is complete; rows the stream itself wrote
    are expected from its model. Every read has at most one row or a total
    ORDER BY, so its rows are compared in order."""

    def __init__(self, rng, con, tables):
        self.rng, self.tables = rng, tables
        n_orders = con.execute("SELECT count(*) FROM orders").fetchone()[0]
        n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
        self.okeys = Zipf(rng, range(n_orders))
        self.ckeys = Zipf(rng, range(n_cust))
        self.pending = []  # (expect dict, table, key)
        self.catalog = [
            ("SELECT tablename FROM pg_tables WHERE schemaname = 'public' ORDER BY tablename",
             [[t] for t in sorted(tables)]),
            ("SELECT attname FROM pg_attribute WHERE relname = 'orders' ORDER BY attnum",
             [[c] for c in ORDER_COLS]),
            ("SELECT nspname FROM pg_namespace ORDER BY nspname",
             [["information_schema"], ["pg_catalog"], ["public"]]),
        ]

    def add(self, stream, kind, order_key=None, model=None):
        """Append one read of `kind`; `order_key` fixes the key of an orders
        lookup, expected from `model` when the stream wrote it."""
        exp = {}
        kw = {"pass_end": False, "ordered": True, "expect": exp}
        if kind == "order":
            k = self.okeys.draw() if order_key is None else order_key
            item(stream, "read", "wire", sql=ORDER_POINT.format(k=k), **kw)
            if model is not None and k in model:
                exp["rows"] = [[model[k][i] for i in (0, 1, 2, 3, 5)]]
            else:
                self.pending.append((exp, "orders", k))
        elif kind == "execute":
            k = self.ckeys.draw()
            item(stream, "read", "wire", sql=f"EXECUTE cust_by_key({k})",
                 direct=CUST_POINT.format(k=k), **kw)
            self.pending.append((exp, "customer", k))
        elif kind == "bind":
            k = self.okeys.draw()
            item(stream, "read", "bind", sql=ORDER_POINT.format(k="$1"), params=[str(k)],
                 direct=ORDER_POINT.format(k=k), **kw)
            self.pending.append((exp, "orders", k))
        else:
            sql, rows_ = self.rng.choice(self.catalog)
            item(stream, "read", "wire", sql=sql, **kw)
            exp["rows"] = rows_

    def resolve(self, con):
        found = {}
        for t, sql in (("orders", ORDER_POINT), ("customer", CUST_POINT)):
            keys = sorted({k for _, tt, k in self.pending if tt == t})
            found[t] = {}
            if keys:
                for r in rows(con, sql.format(k=f"ANY([{', '.join(map(str, keys))}])")):
                    found[t].setdefault(r[0], []).append(r)
        for exp, t, k in self.pending:
            exp["rows"] = found[t].get(k, [])


# --------------------------------------------------------------- dml_mix

MATVIEW = ("CREATE MATERIALIZED VIEW orders_by_status AS SELECT o_orderstatus, "
           "COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders GROUP BY o_orderstatus")

# Reads after each batch's nine write statements: lookups by each of the
# three protocols and catalog queries, plus five more reads, 100 in all,
# which give the tail latency ten samples beyond p90 in one batch. The
# shares are chosen to cover each read path, not taken from a traffic trace.
LOOKUPS_PER_PROTOCOL = 30
CATALOG_READS = 4


def _values(order_rows):
    """VALUES list of `orders` rows (column 4 is the timestamp)."""
    def lit(i, v):
        if i == 4:
            return f"TIMESTAMP '{v}'"
        return f"'{v}'" if isinstance(v, str) else repr(v)
    return ", ".join("(" + ", ".join(lit(i, v) for i, v in enumerate(r)) + ")" for r in order_rows)


def dml_mix(rng, con, fixture, n_batches):
    n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
    max_key = con.execute("SELECT max(o_orderkey) FROM orders").fetchone()[0]
    n_base, sum_base = con.execute("SELECT count(*), sum(o_totalprice) FROM orders").fetchone()
    base_status = {s: [n, t] for s, n, t in con.execute(
        "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM orders GROUP BY 1").fetchall()}
    model = {}  # o_orderkey -> row, for rows the stream added
    points = PointReads(rng, con, ["customer", "orders", "orders_stage"])

    def new_row(k):
        return [k, rng.randrange(n_cust), rng.choice("FOP"),
                round(rng.uniform(900, 500000), 2),
                f"{rng.randint(1995, 2001)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} 00:00:00",
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])]

    stream = []

    def w(sql, count=None):
        item(stream, "write", "session", sql=sql, pass_end=False,
             expect={} if count is None else {"count": count})

    def read(sql, exp, end=False):
        item(stream, "read", "wire", sql=sql, expect={"rows": exp}, ordered=True, pass_end=end)

    # A batch's nine write statements (20 rows inserted, 8 updated, 4
    # deleted, 4 upserted, 6 merged from staging, one rejected, one
    # refresh) cover each write path once; like the read shares, the row
    # counts are placeholders, not taken from a traffic trace.
    for b in range(n_batches):
        lo = max_key + 1 + b * 100
        ins = [new_row(lo + i) for i in range(20)]
        w(f"INSERT INTO orders VALUES {_values(ins)}", 20)
        model.update({r[0]: r for r in ins})
        w(f"UPDATE orders SET o_totalprice = o_totalprice + 10.5, o_orderpriority = '1-URGENT' "
          f"WHERE o_orderkey BETWEEN {lo} AND {lo + 7}", 8)
        for k in range(lo, lo + 8):
            model[k][3] = round(model[k][3] + 10.5, 2)
            model[k][5] = "1-URGENT"
        w(f"DELETE FROM orders WHERE o_orderkey BETWEEN {lo + 16} AND {lo + 19}", 4)
        for k in range(lo + 16, lo + 20):
            del model[k]
        up = [new_row(lo + i) for i in range(14, 18)]
        w(f"INSERT INTO orders VALUES {_values(up)} ON CONFLICT (o_orderkey) "
          f"DO UPDATE SET o_totalprice = EXCLUDED.o_totalprice")
        for r in up:
            if r[0] in model:
                model[r[0]][3] = r[3]
            else:
                model[r[0]] = r
        stage = [new_row(lo + i) for i in (10, 11, 12, 20, 21, 22)]
        w(f"INSERT INTO orders_stage VALUES {_values(stage)}", 6)
        w("MERGE INTO orders t USING orders_stage s ON t.o_orderkey = s.o_orderkey "
          "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
          "WHEN NOT MATCHED THEN INSERT VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, "
          "s.o_totalprice, s.o_orderdate, s.o_orderpriority)", 6)
        for r in stage:
            if r[0] in model:
                model[r[0]][3], model[r[0]][2] = r[3], r[2]
            else:
                model[r[0]] = r
        w("DELETE FROM orders_stage", 6)
        # one statement per batch violates a constraint: a duplicate primary
        # key or an orphan foreign key, seeded
        bad = new_row(rng.randrange(max_key + 1))
        if rng.random() < 0.5:
            bad[0], bad[1] = lo + 50, n_cust + 1000 + rng.randrange(1000)
        item(stream, "reject", "session", sql=f"INSERT INTO orders VALUES {_values([bad])}",
             pass_end=False)
        item(stream, "refresh", "session", pass_end=False,
             sql="REFRESH MATERIALIZED VIEW orders_by_status INCREMENTALLY")
        mine = [model[k] for k in sorted(model) if lo <= k < lo + 100]
        read(f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
             f"FROM orders WHERE o_orderkey BETWEEN {lo} AND {lo + 99} ORDER BY o_orderkey",
             [[r[0], r[1], r[2], r[3], r[5]] for r in mine])
        agg = {s: list(v) for s, v in base_status.items()}
        for r in model.values():
            a = agg.setdefault(r[2], [0, 0.0])
            a[0] += 1
            a[1] += r[3]
        read("SELECT o_orderstatus, n, total FROM orders_by_status ORDER BY o_orderstatus",
             [[s, agg[s][0], agg[s][1]] for s in sorted(agg)])
        # point reads: keys this batch wrote, then lookups and catalog
        # queries in a seeded order
        for _ in range(3):
            points.add(stream, "order", order_key=rng.choice(mine)[0], model=model)
        kinds = ["order", "execute", "bind"] * LOOKUPS_PER_PROTOCOL + ["catalog"] * CATALOG_READS
        rng.shuffle(kinds)
        for kind in kinds:
            points.add(stream, kind)
        read("SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders",
             [[n_base + len(model), sum_base + sum(r[3] for r in model.values())]], end=True)
    points.resolve(con)
    orders_cols = ("o_orderkey BIGINT PRIMARY KEY, "
                   "o_custkey BIGINT NOT NULL REFERENCES customer(c_custkey), "
                   "o_orderstatus TEXT, o_totalprice DOUBLE PRECISION, o_orderdate TIMESTAMP, "
                   "o_orderpriority TEXT")
    setup = load_sql(["customer", "orders"], fixture, {"orders": orders_cols}) + [
        f"CREATE TABLE orders_stage ({TABLE_COLUMNS['orders'].replace(' PRIMARY KEY', '')})",
        MATVIEW,
    ]
    return {"setup": setup, "wire": True, "wire_prelude": [PREPARE_CUST],
            "stream": stream, "cyclic": False}
