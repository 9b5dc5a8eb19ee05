"""Deterministic fixture tables for the benchmark, written as parquet.

The tables have the schemas of the engine's own test fixture (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`), generated with
DuckDB from hash functions of the row index. The data does not depend on
the run's seed: the seed chooses the statement stream run over it.
"""

import os
import shutil

import duckdb

# generator version: bump when the data changes, so cached copies rebuild
VERSION = 1

# rows per table at scale 1 (TPC-H proportions; lineitem has 1-7 lines
# per order, about 4 on average)
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
}

WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark a the line sort window order data column join small "
         "customer query filter group big stream index shard token "
         "vector graph edge node cache plan cost page lock log").split()

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _lit(xs):
    return "[" + ", ".join("'" + x.replace("'", "''") + "'" for x in xs) + "]"


def _u(expr, salt, n):
    """Deterministic integer in [0, n) from a row expression and a salt."""
    return f"(hash({expr}, {salt}) % {n})::BIGINT"


def table_sql(scale, docs, events):
    n = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}
    words = _lit(WORDS)
    seg = _lit(SEGMENTS)
    pri = _lit(PRIORITIES)
    day = "TIMESTAMP '1995-01-01' + to_days"
    return {
        "region": f"""
            SELECT i::INT AS r_regionkey, {_lit(REGIONS)}[i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": f"""
            SELECT i::INT AS n_nationkey, {_lit(NATIONS)}[i + 1] AS n_name,
                   (i % 5)::INT AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   {_u('i', 1, 25)}::INT AS c_nationkey,
                   round({_u('i', 2, 1099999)} / 100.0 - 999.99, 2) AS c_acctbal,
                   {seg}[{_u('i', 3, 5)} + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   {_u('i', 4, 25)}::INT AS s_nationkey,
                   round({_u('i', 5, 1099999)} / 100.0 - 999.99, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {words}[{_u('i', 6, len(WORDS))} + 1] || ' '
                     || {words}[{_u('i', 7, len(WORDS))} + 1] AS p_name,
                   'Brand#' || ({_u('i', 8, 25)} + 1)::VARCHAR AS p_brand,
                   ['ECONOMY', 'STANDARD', 'PROMO', 'LARGE', 'MEDIUM', 'SMALL']
                     [{_u('i', 9, 6)} + 1] AS p_type,
                   ({_u('i', 10, 50)} + 1)::INT AS p_size,
                   round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey, {_u('i', 11, n['customer'])} AS o_custkey,
                   ['F', 'O', 'P'][{_u('i', 12, 3)} + 1] AS o_orderstatus,
                   round({_u('i', 13, 50000000)} / 100.0 + 900, 2) AS o_totalprice,
                   {day}({_u('i', 14, 2405)}::INT) AS o_orderdate,
                   {pri}[{_u('i', 15, 5)} + 1] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT o AS l_orderkey, {_u('o * 8 + j', 16, n['part'])} AS l_partkey,
                   {_u('o * 8 + j', 17, n['supplier'])} AS l_suppkey,
                   (j + 1)::INT AS l_linenumber,
                   ({_u('o * 8 + j', 18, 50)} + 1)::DOUBLE AS l_quantity,
                   round(({_u('o * 8 + j', 18, 50)} + 1)
                     * (900 + {_u('o * 8 + j', 16, n['part'])} % 1000 / 10.0), 2)
                     AS l_extendedprice,
                   ({_u('o * 8 + j', 19, 11)} / 100.0)::DOUBLE AS l_discount,
                   ({_u('o * 8 + j', 20, 9)} / 100.0)::DOUBLE AS l_tax,
                   ['A', 'N', 'R'][{_u('o * 8 + j', 21, 3)} + 1] AS l_returnflag,
                   ['F', 'O'][{_u('o * 8 + j', 22, 2)} + 1] AS l_linestatus,
                   {day}(({_u('o', 14, 2405)} + {_u('o * 8 + j', 23, 121)} + 1)::INT)
                     AS l_shipdate
            FROM range({n['orders']}) a(o), range(7) b(j)
            WHERE j <= {_u('o', 24, 7)}""",
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                     (i * 30000000 + {_u('i', 25, 30000000)})::BIGINT) AS ts,
                   {_u('i', 26, 1000)} AS user_id,
                   ['click', 'view', 'purchase', 'signup', 'error']
                     [{_u('i', 27, 5)} + 1] AS event_type,
                   round({_u('i', 28, 10000)} / 100.0, 2) AS value,
                   '{{"k": ' || {_u('i', 29, 100)}::VARCHAR || '}}' AS props
            FROM range({events}) t(i)""",
        # one document in eight repeats an earlier one with a word changed,
        # so the dedup and similarity operators find real near-duplicates
        "documents": f"""
            WITH base AS (
              SELECT i, array_to_string(list_transform(
                       range((20 + {_u('i', 30, 60)})::BIGINT),
                       w -> {words}[(hash(i * 131 + w, 31) % {len(WORDS)})::BIGINT + 1]),
                       ' ') AS text
              FROM range({docs}) t(i)),
            doc AS (
              SELECT b.i,
                     CASE WHEN b.i % 8 = 7
                          THEN regexp_replace(s.text, '^[a-z]+', 'data')
                          ELSE b.text END AS text
              FROM base b JOIN base s ON s.i = b.i - (b.i % 8 = 7)::INT * (1 + b.i % 5))
            SELECT i AS doc_id, text,
                   ['en', 'en', 'en', 'de', 'fr', 'es', 'zh'][{_u('i', 32, 7)} + 1] AS lang,
                   'src' || {_u('i', 33, 20)}::VARCHAR AS source,
                   length(text)::BIGINT AS n_chars
            FROM doc""",
        "embeddings": f"""
            SELECT i AS vec_id,
                   list_transform(range(64),
                     j -> ((hash(i * 64 + j, 34) % 20001)::FLOAT / 100000.0 - 0.1)::FLOAT)
                     AS embedding,
                   {_u('i', 35, 4)}::INT AS label
            FROM range({docs}) t(i)""",
    }


def build(out_dir, scale, docs, events):
    """Write every fixture table to `out_dir/<name>.parquet` (idempotent)."""
    stamp = os.path.join(out_dir, "_COMPLETE")
    want = f"v{VERSION} scale={scale} docs={docs} events={events}\n"
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET preserve_insertion_order = true")
    for name, sql in table_sql(scale, docs, events).items():
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{tmp}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
    os.rename(tmp, out_dir)
    with open(stamp, "w") as f:
        f.write(want)
    return out_dir
