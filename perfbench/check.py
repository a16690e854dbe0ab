"""Output checks and metric assembly for the benchmark.

ETL ops are checked against counts DuckDB derives from the generated input
parquet alone: entities after resolver merges, dangling references, the
delta's ADD, MOD and DEL counts and every product's line count. Query ops are
checked against the engine's oracle SQL run by DuckDB over the same
generated tables, compared the way the repository's correctness gate
compares (columns by name, rows sorted, values normalized).
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

RISK_TOPICS = ("sanction", "sanction.linked", "sanction.counter", "crime",
               "crime.fraud", "crime.terror", "crime.theft", "crime.war",
               "crime.boss", "crime.fin", "crime.traffick", "debarment", "poi",
               "wanted", "export.control", "export.risk")
REF_PROPS = ("owner", "asset", "director", "organization")
NAME_PROPS = ("name", "alias")
MATCHABLE = ("Person", "Company")
PRODUCTS = ("ftm", "names", "simple_csv", "nested", "senzing", "statistics",
            "statements_csv", "delta", "index", "catalog")
PRODUCT_FILES = dict(zip(PRODUCTS, (
    "entities.ftm.json", "names.txt", "targets.simple.csv", "targets.nested.json",
    "senzing.json", "statistics.json", "statements.csv", "entities.delta.json",
    "index.json", "catalog.json")))
QUERIES = ("q114_streaming_statement_store",
           "q64_extract_date_full", "q209_incremental_components",
           "q255_q21_sole_blame", "q110_xref_pipeline")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")

# Per-layer metrics, in report order. A traced run reports every one; a
# layer its workload does not load reports 0.
LAYER_METRICS = (
    ["etl.jobs", "etl.tasks", "etl.driver_gap_s", "etl.task_busy_s",
     "etl.sched_delay_s", "etl.gc_s", "etl.failed_tasks", "etl.run_wall_s",
     "replay.span_sum_s", "trace.untraced_op_s", "trace.overhead_pct",
     "trace.listener_pct",
     "sources.store_scan_prev.s", "operators.delta.first_seen.s",
     "operators.resolver.s", "operators.resolver.jobs",
     "sources.store_write.s", "sources.store_write.mb",
     "operators.assemble.s", "operators.assemble.shuffle_mb",
     "operators.assemble.spill_mb", "operators.assemble.peak_task_mem_mb",
     "operators.validate.s", "operators.validate.jobs"]
    + [f"operators.export.{p}.{m}" for p in PRODUCTS for m in ("s", "mb")]
    + ["operators.export.jobs"]
    + [f"queries.{q}.{m}" for q in QUERIES for m in ("s", "jobs", "shuffle_mb")])


def layer_unit(name):
    suffix = name.rsplit(".", 1)[-1]
    if name.endswith("_pct"):
        return "%"
    if suffix == "s" or name.endswith("_s"):
        return "s"
    if suffix.endswith("mb"):
        return "MB"
    return "count"


def layer_metrics(measured):
    return {k: float(measured.get(k, 0.0)) for k in LAYER_METRICS}


def _lines(path, header):
    """Lines under a Spark output directory, less one header line per
    non-empty part file when `header`."""
    total = 0
    for f in sorted(glob.glob(f"{path}/part-*")):
        with open(f, "rb") as fh:
            n = sum(1 for _ in fh)
        total += n - (1 if header and n > 0 else 0)
    return total


def _quote(xs):
    return ", ".join(f"'{x}'" for x in xs)


def _canonical_view(con, name, statements, decisions):
    """Statements with resolver merges applied: entity ids and entity-ref
    values mapped to the lexicographic minimum of their decision pair."""
    pairs = con.execute(f"SELECT a, b FROM read_parquet('{decisions}') "
                        "WHERE judgement = 'POSITIVE'").fetchall()
    ids = [x for p in pairs for x in p]
    if len(ids) != len(set(ids)):
        raise ValueError("decision pairs overlap; the check assumes disjoint pairs")
    con.execute(f"""CREATE OR REPLACE VIEW remap_{name} AS
        SELECT a AS id, least(a, b) AS canon FROM read_parquet('{decisions}')
        WHERE judgement = 'POSITIVE'
        UNION ALL
        SELECT b, least(a, b) FROM read_parquet('{decisions}')
        WHERE judgement = 'POSITIVE'""")
    con.execute(f"""CREATE OR REPLACE VIEW {name} AS
        SELECT coalesce(r.canon, s.entityId) AS cid, s.schema, s.prop,
          CASE WHEN s.prop IN ({_quote(REF_PROPS)}) THEN coalesce(r2.canon, s.value)
               ELSE s.value END AS value
        FROM read_parquet('{statements}') s
        LEFT JOIN remap_{name} r ON r.id = s.entityId
        LEFT JOIN remap_{name} r2 ON r2.id = s.value
        WHERE NOT s.external""")


def _expected(con, name, statements, prev):
    """Expected counts for a republish of `name` over `prev`."""
    q = lambda sql: con.execute(sql).fetchone()[0]
    e = q(f"SELECT count(DISTINCT cid) FROM {name}")
    targets = q(f"SELECT count(DISTINCT cid) FROM {name} WHERE prop = 'topics' "
                f"AND value IN ({_quote(RISK_TOPICS)})")
    content = lambda v: f"""SELECT cid, any_value(schema) || '#' ||
        string_agg(DISTINCT prop || '|' || value, ';' ORDER BY prop || '|' || value) AS h
        FROM {v} GROUP BY cid"""
    delta_ops = dict(con.execute(f"""SELECT CASE WHEN p.h IS NULL THEN 'ADD'
          WHEN c.h IS NULL THEN 'DEL' ELSE 'MOD' END AS op, count(*)
        FROM ({content(prev)}) p FULL OUTER JOIN ({content(name)}) c USING (cid)
        WHERE p.h IS DISTINCT FROM c.h GROUP BY 1""").fetchall())
    return {
        "entities": e,
        "dangling": q(f"""SELECT count(*) FROM (SELECT DISTINCT cid, prop, value
            FROM {name} WHERE prop IN ({_quote(REF_PROPS)}))
            WHERE value NOT IN (SELECT cid FROM {name})"""),
        "ftm": e,
        "names": q(f"SELECT count(DISTINCT value) FROM {name} WHERE prop IN "
                   f"({_quote(NAME_PROPS)}) AND length(trim(value)) > 0"),
        "simple_csv": targets,
        "nested": targets,
        "senzing": q(f"SELECT count(DISTINCT cid) FROM {name} "
                     f"WHERE schema IN ({_quote(MATCHABLE)})"),
        "statistics": 1,
        "statements_csv": q(f"SELECT count(*) FROM read_parquet('{statements}')"),
        "delta": sum(delta_ops.values()),
        "delta_ops": {k: delta_ops.get(k, 0) for k in ("ADD", "MOD", "DEL")},
        "index": 1,
        "catalog": 1,
    }


def _delta_ops(path):
    """ADD/MOD/DEL line counts of an entities.delta.json product."""
    ops = {"ADD": 0, "MOD": 0, "DEL": 0}
    for f in glob.glob(f"{path}/part-*"):
        with open(f) as fh:
            for line in fh:
                op = json.loads(line)["op"]
                ops[op] = ops.get(op, 0) + 1
    return ops


def _check_etl_op(op, exp):
    f = op["fields"]
    bad = []
    for k in ("entities", "dangling"):
        if int(f[k]) != exp[k]:
            bad.append(f"{k} {f[k]} != {exp[k]}")
    for p in PRODUCTS:
        n = _lines(f"{f['dir']}/{PRODUCT_FILES[p]}",
                   header=p in ("simple_csv", "statements_csv"))
        if n != exp[p]:
            bad.append(f"{p} has {n} lines, expected {exp[p]}")
    ops = _delta_ops(f"{f['dir']}/{PRODUCT_FILES['delta']}")
    if ops != exp["delta_ops"]:
        bad.append(f"delta ops {ops} != {exp['delta_ops']}")
    if exp["dangling"] and _lines(f"{f['dir']}/issues.json", False) != exp["dangling"]:
        bad.append("issues.json line count != dangling refs")
    return "; ".join(bad)


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype("float64").round(9)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _check_query(want, result_dir):
    files = glob.glob(f"{result_dir}/*.parquet")
    if not files:
        return "no result written"
    got = _norm(pd.concat([pq.read_table(f).to_pandas() for f in files]))
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    if not got.equals(want):
        return "values differ"
    return ""


def check_ops(ops, work, etl_manifest, tables):
    """Returns (op label, reason) for every op that failed or is wrong."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work}/tmp'")
    con.execute("SET threads = 4")
    failures = [(f"{o['name']}#{i}", o["error"]) for i, o in enumerate(ops) if o["error"]]
    ok_ops = [(i, o) for i, o in enumerate(ops) if not o["error"]]
    etl_ops = [(i, o) for i, o in ok_ops if o["name"] == "etl.run"]
    query_ops = [(i, o) for i, o in ok_ops if o["name"].startswith("queries.")]
    if etl_ops:
        d = etl_manifest["dir"]
        _canonical_view(con, "v1", f"{d}/v1/statements.parquet", f"{d}/decisions.parquet")
        _canonical_view(con, "v2", f"{d}/v2/statements.parquet", f"{d}/decisions.parquet")
        exp = _expected(con, "v2", f"{d}/v2/statements.parquet", prev="v1")
        for i, o in etl_ops:
            why = _check_etl_op(o, exp)
            if why:
                failures.append((f"etl.run#{i}", why))
    if query_ops:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        oracle = json.load(open(f"{work}/oracle.json"))
        want = {q: _norm(con.execute(oracle[q]).df()) for q in QUERIES}
        for i, o in query_ops:
            q = o["fields"]["query"]
            try:
                why = _check_query(want[q], o["fields"]["dir"])
            except Exception as e:  # an unreadable result fails the op
                why = f"{type(e).__name__}: {e}"
            if why:
                failures.append((f"{q}#{i}", why))
    con.close()
    return failures


def _tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def output_bytes(workload, work, ops):
    """Bytes one measured op writes: statement store version plus products
    for republish_large; result plus stream state for the query mix."""
    if workload == "republish_large":
        vs = [f"v2_r{o['round']}" for o in ops]
        return sum(_tree_bytes(f"{work}/store/statements/{v}") +
                   _tree_bytes(f"{work}/store/datasets/{v}") for v in vs) / len(vs)
    rounds = {o["round"] for o in ops}
    state = glob.glob(f"{work}/tmp/graft_*")
    return (sum(_tree_bytes(o["fields"].get("dir", "")) for o in ops) / len(rounds)
            + sum(_tree_bytes(d) for d in state))
