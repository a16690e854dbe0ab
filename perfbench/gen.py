"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same parquet bytes. The engine only ever sees these files.

ETL inputs follow the statement fact-table layout (`graft.model.Statement`)
plus the resolver decision journal (a, b, judgement, user, decided_at).
Query inputs follow the TPC-H-like tables the named queries read.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

V1_TIME = np.datetime64("2025-01-01T00:00:00", "us")
V2_TIME = np.datetime64("2026-01-01T00:00:00", "us")

FIRST = ["Anna", "Boris", "Carla", "Dmitri", "Elena", "Farid", "Greta", "Hasan",
         "Irina", "Jamal", "Katya", "Luis", "Mariam", "Nikolai", "Olga", "Pavel",
         "Qiang", "Rosa", "Sergei", "Tatiana", "Umar", "Vera", "Wei", "Yusuf"]
LAST = ["Ivanov", "Petrova", "Kim", "Haddad", "Garcia", "Novak", "Okafor",
        "Schmidt", "Rossi", "Tanaka", "Kowalski", "Nguyen", "Smirnov", "Ali",
        "Fischer", "Moreau", "Silva", "Popescu", "Yilmaz", "Chen", "Sokolov",
        "Mendez", "Larsen", "Abbasi", "Volkov", "Ortiz", "Weber", "Kuznetsov"]
WORDS = ["Atlas", "Boreal", "Cobalt", "Delta", "Ember", "Falcon", "Granite",
         "Harbor", "Iris", "Juniper", "Krypton", "Lumen", "Meridian", "Nova",
         "Orion", "Pioneer", "Quartz", "Raven", "Sierra", "Titan", "Umbra",
         "Vector", "Willow", "Zenith"]
SUFFIX = ["LLC", "Ltd", "GmbH", "JSC", "SA", "Holdings", "Trading", "Group"]
COUNTRIES = ["ru", "us", "gb", "de", "cn", "ir", "ae", "tr", "fr", "ve", "by", "kp"]

STATEMENT_SCHEMA = pa.schema([
    ("id", pa.string()), ("entityId", pa.string()), ("canonicalId", pa.string()),
    ("prop", pa.string()), ("schema", pa.string()), ("value", pa.string()),
    ("dataset", pa.string()), ("lang", pa.string()), ("origin", pa.string()),
    ("originalValue", pa.string()),
    ("firstSeen", pa.timestamp("us", tz="UTC")),
    ("lastSeen", pa.timestamp("us", tz="UTC")),
    ("external", pa.bool_()),
])
DECISION_SCHEMA = pa.schema([
    ("a", pa.string()), ("b", pa.string()), ("judgement", pa.string()),
    ("user", pa.string()), ("decided_at", pa.timestamp("us", tz="UTC")),
])


def _entities(rng, ds, n, dangling_share):
    """The entity universe of one dataset: list of (entity_id, schema, props)
    with props a list of (prop, value). Ids sort legal entities ("e...")
    before their resolver duplicates ("m..."), so the canonical id the
    resolver picks (the lexicographic minimum) is the original's."""
    kinds = rng.random(n)
    ents = []
    legal = []
    for i in range(n):
        eid = f"{ds}-e{i:07d}"
        k = kinds[i]
        if k < 0.10 and len(legal) >= 2:
            ents.append((eid, None, i))  # edge, resolved below
            continue
        r = rng.integers(0, 1 << 30, size=8)
        if k < 0.62:
            name = f"{FIRST[r[0] % len(FIRST)]} {LAST[r[1] % len(LAST)]}"
            props = [("name", name),
                     ("birthDate", f"19{40 + r[2] % 60:02d}-{1 + r[3] % 12:02d}"),
                     ("nationality", COUNTRIES[r[4] % len(COUNTRIES)])]
            if r[5] % 10 < 3:
                props.append(("alias", f"{LAST[r[1] % len(LAST)].upper()}, "
                                       f"{FIRST[r[0] % len(FIRST)]} {i % 97}"))
            if r[6] % 100 < 12:
                props.append(("topics", "sanction"))
            elif r[6] % 100 < 17:
                props.append(("topics", "role.pep"))
            if r[7] % 10 < 2:
                props.append(("taxNumber", f"TX{r[7] % 1000003:07d}"))
            ents.append((eid, "Person", props))
        else:
            name = (f"{WORDS[r[0] % len(WORDS)]} {WORDS[r[1] % len(WORDS)]} "
                    f"{SUFFIX[r[2] % len(SUFFIX)]} {i % 89}")
            props = [("name", name),
                     ("jurisdiction", COUNTRIES[r[3] % len(COUNTRIES)]),
                     ("registrationNumber", f"RN{i:07d}"),
                     ("incorporationDate", f"{1990 + r[4] % 34}")]
            if r[5] % 100 < 8:
                props.append(("topics", "sanction"))
            if r[6] % 10 < 2:
                props.append(("alias", name.upper()))
            ents.append((eid, "Company", props))
        legal.append(eid)
    out = []
    for e in ents:
        eid, schema, p = e
        if schema is not None:
            out.append(e)
            continue
        i = p
        r = rng.integers(0, 1 << 30, size=4)
        a = legal[r[0] % len(legal)]
        b = legal[r[1] % len(legal)]
        if rng.random() < dangling_share:
            b = f"{ds}-x{i:07d}"
        if r[2] % 2 == 0:
            out.append((eid, "Ownership", [("owner", a), ("asset", b),
                                           ("percentage", str(1 + r[3] % 100)),
                                           ("startDate", f"{2000 + r[3] % 24}")]))
        else:
            out.append((eid, "Directorship", [("director", a), ("organization", b),
                                              ("role", "director"),
                                              ("startDate", f"{2000 + r[3] % 24}")]))
    return out


def _duplicates(rng, ds, ents, share):
    """Resolver duplicates for `share` of the legal entities: a second
    entity carrying the same name plus an upper-cased alias, and the
    POSITIVE decision merging it into the original."""
    dups, decisions = [], []
    for eid, schema, props in ents:
        if schema not in ("Person", "Company") or rng.random() >= share:
            continue
        did = eid.replace("-e", "-m", 1)
        name = dict(props)["name"]
        dups.append((did, schema, [("name", name), ("alias", name.upper())]))
        decisions.append((eid, did))
    return dups, decisions


def _statement_table(ds, ents, run_time):
    cols = {f.name: [] for f in STATEMENT_SCHEMA}
    for eid, schema, props in ents:
        for prop, value in props:
            cols["id"].append(hashlib.md5(
                f"{ds}|{eid}|{prop}|{value}".encode()).hexdigest())
            cols["entityId"].append(eid)
            cols["canonicalId"].append(eid)
            cols["prop"].append(prop)
            cols["schema"].append(schema)
            cols["value"].append(value)
    n = len(cols["id"])
    cols["dataset"] = [ds] * n
    cols["lang"] = ["en"] * n
    cols["origin"] = ["crawl"] * n
    cols["originalValue"] = cols["value"]
    ts = np.full(n, run_time)
    cols["firstSeen"] = ts
    cols["lastSeen"] = ts
    cols["external"] = np.zeros(n, dtype=bool)
    return pa.table({k: pa.array(v, type=STATEMENT_SCHEMA.field(k).type)
                     for k, v in cols.items()}, schema=STATEMENT_SCHEMA)


def _decision_table(pairs, run_time):
    n = len(pairs)
    return pa.table({
        "a": [a for a, _ in pairs], "b": [b for _, b in pairs],
        "judgement": ["POSITIVE"] * n, "user": ["bench"] * n,
        "decided_at": pa.array(np.full(n, run_time),
                               type=pa.timestamp("us", tz="UTC")),
    }, schema=DECISION_SCHEMA)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def etl_republish(seed, root, store, n, add=0.05, dele=0.03, mod=0.05):
    """v1 and v2 of one large dataset. The universe has n entities; v2
    drops `dele` of them and v1 lacks `add` of them; `mod` of the shared
    ones carry a different name in v1. Both versions share the resolver
    journal. v1 is also written as the previous version of the statement
    store under `store`, in the layout `graft.sources.StatementIO.write`
    gives it (one parquet directory per version, partitioned by dataset,
    canonical ids resolved). Returns the manifest."""
    ds = "large"
    rng = np.random.default_rng([seed, 3])
    ents = _entities(rng, ds, n, dangling_share=0.05)
    dups, pairs = _duplicates(rng, ds, ents, 0.02)
    fate = rng.random(len(ents))
    v1, v2 = [], []
    for (eid, schema, props), f in zip(ents, fate):
        if f < add:
            v2.append((eid, schema, props))
        elif f < add + dele:
            v1.append((eid, schema, props))
        elif f < add + dele + mod and schema in ("Person", "Company"):
            v2.append((eid, schema, props))
            v1.append((eid, schema, [(p, v + " (former)" if p == "name" else v)
                                     for p, v in props]))
        else:
            v1.append((eid, schema, props))
            v2.append((eid, schema, props))
    d = f"{root}/{ds}"
    s1 = _statement_table(ds, v1 + dups, V1_TIME)
    s2 = _statement_table(ds, v2 + dups, V2_TIME)
    nb1 = _write(s1, f"{d}/v1/statements.parquet")
    nb2 = _write(s2, f"{d}/v2/statements.parquet")
    nd = _write(_decision_table(pairs, V1_TIME), f"{d}/decisions.parquet")
    canon = {x: min(a, b) for a, b in pairs for x in (a, b)}
    stored = s1.set_column(s1.schema.get_field_index("canonicalId"), "canonicalId",
                           pa.array([canon.get(e, e) for e in s1["entityId"].to_pylist()]))
    _write(stored.drop(["dataset"]),
           f"{store}/statements/v1/dataset={ds}/part-00000.snappy.parquet")
    return {"dataset": ds, "dir": d, "entities": n,
            "statements_v1": s1.num_rows, "statements_v2": s2.num_rows,
            "bytes_v1": nb1 + nd, "bytes": nb2 + nd}


def _pow2_above(x):
    m = 1
    while m <= x:
        m <<= 1
    return m


def _affine(seed):
    """Seed-derived odd multiplier and offset for SeedShift's affine key
    bijection k -> (k * a + b) mod M; seed 42 maps every key to itself."""
    if seed == 42:
        return 1, 0
    rng = np.random.default_rng([seed, 4])
    return int(rng.integers(0, 1 << 20)) * 2 + 1, int(rng.integers(0, 1 << 20))


def query_tables(seed, root, scale):
    """The tables the query mix reads, at `scale` (1.0 = the row counts of
    the repository's sf0.1 test tables: 15k customers, 1k suppliers, 20k
    parts, 150k orders, 600k lineitems). Value distributions follow those
    tables as measured: every column is drawn independently and uniformly
    over the fixture's domain, lineitems pick their order uniformly (so
    lines per order are Poisson with mean 4), and `p_retailprice` is
    900 + (partkey mod 1000) / 10. The base rows come from a fixed
    generator; the seed then remaps every key domain through an affine
    bijection (foreign keys with their owning domain) and reorders the
    rows, so joins and group sizes stay the same while key values,
    residues and storage order change. Returns (total parquet bytes,
    total rows)."""
    g = np.random.default_rng(42)
    n_cust, n_supp = int(15000 * scale), max(10, int(1000 * scale))
    n_part, n_ord = int(20000 * scale), int(150000 * scale)
    n_li = 4 * n_ord
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part)
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "valve", "spring", "plate"]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    ok = np.arange(n_ord)
    day0 = np.datetime64("1995-01-01", "D")
    t["orders"] = pa.table({
        "o_orderkey": ok, "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": g.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": (day0 + g.integers(0, 2404, n_ord)).astype("datetime64[us]"),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": g.integers(0, n_ord, n_li), "l_partkey": g.integers(0, n_part, n_li),
        "l_suppkey": g.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(g.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(g.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": g.choice(["A", "N", "R"], n_li),
        "l_linestatus": g.choice(["O", "F"], n_li),
        "l_shipdate": (day0 + g.integers(1, 2500, n_li)).astype("datetime64[us]")})

    a, b = _affine(seed)
    keys = {"cust": n_cust, "supp": n_supp, "part": n_part, "ord": n_ord}
    mods = {d: _pow2_above(n - 1) for d, n in keys.items()}

    def remap(col, dom):
        m = mods[dom]
        return (np.asarray(col, dtype=np.int64) * a + b) % m

    owners = {"customer": [("c_custkey", "cust")],
              "supplier": [("s_suppkey", "supp")],
              "part": [("p_partkey", "part")],
              "orders": [("o_orderkey", "ord"), ("o_custkey", "cust")],
              "lineitem": [("l_orderkey", "ord"), ("l_partkey", "part"),
                           ("l_suppkey", "supp")]}
    order_rng = np.random.default_rng([seed, 5])
    total, rows = 0, 0
    for name, tab in t.items():
        for c, dom in owners.get(name, []):
            i = tab.schema.get_field_index(c)
            tab = tab.set_column(i, c, pa.array(remap(tab[c].to_numpy(), dom)))
        if name in owners:
            tab = tab.take(order_rng.permutation(tab.num_rows))
        total += _write(tab, f"{root}/{name}.parquet")
        rows += tab.num_rows
    return total, rows
