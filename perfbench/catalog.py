"""Catalogue for the catalog_mix workload, and its DuckDB oracle check.

    python3 perfbench/catalog.py compare <data> <results> <oracle.json> <verdict.json>

runs the check: the benchmark JVM calls it after its loop, outside every
timed span, and drops the samples of each key it reports.

The tables have the schema, key ranges and value domains of the engine's
query catalogue inputs (a TPC-H-like star schema plus `events`,
`documents` and `embeddings`). Every value is a hash of (CONTENT_SEED,
table, row), so the content is fixed, like the engine's read-only test
catalogue; the run's seed only permutes the order rows are written in.
The same seed always writes byte-identical files.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# row counts: the smallest catalogue scale the engine's own tests use; at
# this size the catalogue's cost is planning, scheduling and staging
SCALE = 1
CONTENT_SEED = 42
DOC_WORDS = ("row the query stream value hash batch sort data big filter dup "
             "fast spark line small customer group key agg scan slow table "
             "part a merge window order column join vector").split()
PART_ADJ = "small new hot large cold blue old red".split()
PART_NOUN = "ring gear widget gizmo bolt plate anvil rod".split()


def _sql_list(words):
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def generate(out_dir, seed):
    """Write the ten tables as parquet files under `out_dir`, rows in an
    order drawn from `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")

    def u(tag, *cols):
        # uniform [0, 1) from a hash of (CONTENT_SEED, tag, cols)
        args = ", ".join([str(CONTENT_SEED), f"'{tag}'", *cols])
        return f"(hash({args}) % 1000000007) / 1000000007.0"

    def pick(words, tag, *cols):
        return f"{_sql_list(words)}[1 + floor({u(tag, *cols)} * {len(words)})::INT]"

    n_cust, n_supp, n_part = 150 * SCALE, 10 * SCALE, 200 * SCALE
    n_orders, n_users, n_events = 1500 * SCALE, 15 * SCALE, 1000 * SCALE
    n_docs, n_vecs = 500, 500
    tables = {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            floor({u('cn', 'i')} * 25)::INTEGER AS c_nationkey,
            round(-999.99 + {u('ca', 'i')} * 10999.98, 2) AS c_acctbal,
            {pick(['BUILDING', 'MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'FURNITURE'], 'cm', 'i')} AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            floor({u('sn', 'i')} * 25)::INTEGER AS s_nationkey,
            round(-999.99 + {u('sa', 'i')} * 10999.98, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            {pick(PART_ADJ, 'pa', 'i')} || ' ' || {pick(PART_NOUN, 'pn', 'i')} AS p_name,
            'Brand#' || (1 + floor({u('pb', 'i')} * 25)::INT) AS p_brand,
            {pick(['SMALL', 'MEDIUM', 'ECONOMY', 'STANDARD', 'LARGE', 'PROMO'], 'pt', 'i')} AS p_type,
            (1 + floor({u('ps', 'i')} * 50))::INTEGER AS p_size,
            round(900 + {u('pp', 'i')} * 99.9, 1) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
            floor({u('oc', 'i')} * {n_cust})::BIGINT AS o_custkey,
            {pick(['F', 'O', 'P'], 'os', 'i')} AS o_orderstatus,
            round(1000 + {u('ot', 'i')} * 499000, 2) AS o_totalprice,
            (TIMESTAMP '1995-01-01' + to_days(floor({u('od', 'i')} * 2404)::INT)) AS o_orderdate,
            {pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'op', 'i')} AS o_orderpriority
            FROM range({n_orders}) t(i)""",
        "lineitem": f"""WITH l AS (
              SELECT o, unnest(range(1, 2 + floor({u('ln', 'o')} * 7)::INT)) AS ln
              FROM range({n_orders}) a(o))
            SELECT l.o::BIGINT AS l_orderkey, pk::BIGINT AS l_partkey,
              floor({u('ls', 'o', 'ln')} * {n_supp})::BIGINT AS l_suppkey,
              ln::INTEGER AS l_linenumber, q AS l_quantity,
              round(q * p_retailprice, 2) AS l_extendedprice,
              round(floor({u('lk', 'o', 'ln')} * 11) / 100, 2) AS l_discount,
              round(floor({u('lt', 'o', 'ln')} * 9) / 100, 2) AS l_tax,
              {pick(['A', 'N', 'R'], 'lr', 'o', 'ln')} AS l_returnflag,
              {pick(['F', 'O'], 'lz', 'o', 'ln')} AS l_linestatus,
              (TIMESTAMP '1995-01-02' + to_days(floor({u('lsd', 'o', 'ln')} * 2498)::INT)) AS l_shipdate
            FROM (SELECT o, ln, floor({u('lp', 'o', 'ln')} * {n_part}) AS pk,
                    (1 + floor({u('lq', 'o', 'ln')} * 50))::DOUBLE AS q FROM l) l
            JOIN (SELECT p_partkey, p_retailprice FROM part) p ON p.p_partkey = l.pk""",
        "events": f"""SELECT row_number() OVER (ORDER BY ts, r)::BIGINT - 1 AS event_id,
              ts, u AS user_id, et AS event_type, v AS value, props FROM (
              SELECT i AS r,
                TIMESTAMP '2024-01-01' + to_microseconds(floor({u('et', 'i')} * 2592000000000)::BIGINT) AS ts,
                floor({u('eu', 'i')} * {n_users})::BIGINT AS u,
                {pick(['signup', 'click', 'error', 'purchase', 'view'], 'ey', 'i')} AS et,
                round(0.01 + {u('ev', 'i')} * 490, 2) AS v,
                '{{"k": ' || floor({u('ek', 'i')} * 100)::INT || '}}' AS props
              FROM range({n_events}) t(i))""",
        "documents": f"""SELECT i::BIGINT AS doc_id, text,
              {pick(['en', 'en', 'en', 'de', 'es', 'fr', 'zh'], 'dl', 'i')} AS lang,
              'src' || floor({u('ds', 'i')} * 20)::INT AS source,
              length(text)::BIGINT AS n_chars FROM (
              SELECT i, array_to_string(list_transform(
                  range(10 + floor({u('dn', 'i')} * 90)::INT),
                  j -> {pick(DOC_WORDS, 'dw', 'i', 'j')}), ' ') AS text
              FROM range({n_docs}) t(i))""",
        "embeddings": f"""SELECT i::BIGINT AS vec_id,
              list_transform(raw, x -> (x / sqrt(list_sum(list_transform(raw, y -> y * y))))::FLOAT) AS embedding,
              lab::INTEGER AS label FROM (
              SELECT i, lab, list_transform(range(64), j ->
                  (({u('ec', 'lab', 'j')} - 0.5) + 0.6 * ({u('en', 'i', 'j')} - 0.5))) AS raw
              FROM (SELECT i, floor({u('el', 'i')} * 10)::INT AS lab FROM range({n_vecs}) t(i)))""",
    }
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"CREATE OR REPLACE TABLE {name} AS {tables[name]}")
        con.execute(f"COPY (SELECT * FROM {name} ORDER BY hash({seed}, "
                    f"{name}::VARCHAR)) TO '{path}' (FORMAT PARQUET)")
    con.close()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "tolist") and not hasattr(v, "strftime"):
        return tuple(_norm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(v[k])) for k in sorted(v))
    return v


def compare(data_dir, results_dir, oracle):
    """Compare each Spark result (parquet under results_dir/<key>) with its
    DuckDB twin over the same tables: columns sorted by name, rows sorted,
    values exact, as tools/selfcheck.py does (that script runs on import,
    so its comparison is restated here). Returns {key: None if equal else
    the reason}."""
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for key, sql in sorted(oracle.items()):
        try:
            got = con.execute("SELECT * FROM read_parquet("
                              f"'{results_dir}/{key}/*.parquet')").df()
            want = con.execute(sql).df()
            gcols, wcols = sorted(got.columns), sorted(want.columns)
            if gcols != wcols:
                out[key] = f"columns {gcols} != {wcols}"
                continue
            g = sorted((tuple(_norm(v) for v in row)
                        for row in got[gcols].itertuples(index=False)), key=repr)
            w = sorted((tuple(_norm(v) for v in row)
                        for row in want[wcols].itertuples(index=False)), key=repr)
            if len(g) != len(w):
                out[key] = f"rows {len(g)} != {len(w)}"
            elif g != w:
                i = next(i for i in range(len(g)) if g[i] != w[i])
                out[key] = f"sorted row {i}: spark {g[i]!r:.200} != duckdb {w[i]!r:.200}"
            else:
                out[key] = None
        except Exception as e:  # a failing oracle read is a failed check
            out[key] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return out


if __name__ == "__main__":
    if len(sys.argv) != 6 or sys.argv[1] != "compare":
        raise SystemExit(__doc__)
    _, _, data, results, oracle_path, verdict_path = sys.argv
    with open(oracle_path) as f:
        verdict = compare(data, results, json.load(f))
    with open(verdict_path, "w") as f:
        json.dump(verdict, f)
