"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from one seed:

* ``tables``   - the ten registry parquet tables (TPC-H-like relational
  tables plus events, documents and embeddings) at a chosen scale factor.
* ``group_project``    - one dbt project, every model's properties in a
  single ``models/schema.yml`` (the layout the group workload edits).
* ``governed_project`` - 8 runnable pipelines of 6 models over the tables,
  marts public with enforced contracts.

Each project generator returns the facts the output checks compare against,
derived from the generator's own DAG, never from the program's parser.
Same seed, same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOMAINS = 8
WORDS = ("a the data spark stream batch value key row column table query join "
         "group sort hash filter scan merge window agg order line part "
         "customer vector fast slow big small").split()
LANGS = (["en"] * 4) + ["zh", "es", "fr", "de"]

# catalog type -> the contract type string Spark's typeName gives it
CONTRACT_TYPE = {
    "int": "integer", "bigint": "long", "string": "string",
    "double": "double", "boolean": "boolean", "date": "date",
    "timestamp": "timestamp", "decimal(12,2)": "decimal(12,2)",
}
COL_WORDS = ("id amount status created_at updated_at name code score "
             "region channel quantity price flag kind note ref").split()


def _write(path, table):
    pq.write_table(table, path, compression="snappy")


def tables(out_dir, seed, sf):
    """Write the ten registry tables for scale factor ``sf`` under out_dir."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ord = max(10, int(10_000 * sf)), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    day_us = 86_400 * 10**6
    epoch95 = np.datetime64("1995-01-01", "us").astype(np.int64)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts(us):
        return pa.array(us, type=pa.timestamp("us"))

    _write(f"{out_dir}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(f"{out_dir}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out_dir}/customer.parquet", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}))
    _write(f"{out_dir}/supplier.parquet", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}))
    adj = np.array(["small", "red", "blue", "large", "green", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "plate"])
    _write(f"{out_dir}/part.parquet", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 5, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"])[
            rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}))
    odate = epoch95 + rng.integers(0, 2405, n_ord) * day_us
    _write(f"{out_dir}/orders.parquet", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]}))
    lok = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    _, first = np.unique(lok, return_index=True)
    lineno = np.arange(n_line) - np.repeat(first, np.diff(np.append(first, n_line))) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(f"{out_dir}/lineitem.parquet", pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts(epoch95 + rng.integers(1, 2500, n_line) * day_us)}))
    evt_ts = np.sort(np.datetime64("2024-01-01", "us").astype(np.int64)
                     + rng.integers(0, 30 * day_us, n_evt))
    _write(f"{out_dir}/events.parquet", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts(evt_ts),
        "user_id": rng.integers(0, max(1, n_cust), n_evt, dtype=np.int64),
        "event_type": np.array(["view", "click", "signup", "purchase", "error"])[
            rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(100, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}))
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(8, 90))])
             for _ in range(n_doc)]
    # near-duplicates (one word swapped) and exact copies give the dedup and
    # similarity queries real candidate pairs
    for i in rng.choice(n_doc, n_doc // 25, replace=False):
        j = rng.integers(0, n_doc)
        w = texts[j].split(" ")
        w[rng.integers(0, len(w))] = words[rng.integers(0, len(WORDS))]
        texts[i] = " ".join(w)
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[rng.integers(0, n_doc)]
    _write(f"{out_dir}/documents.parquet", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    emb = rng.normal(0, 1, (n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_doc, dtype=np.int32)}))


# --------------------------------------------------------------- projects

def _dag(rng, n):
    """Models spread evenly over DOMAINS domains. Model k of a domain refs
    model k-1 and, half the time, one more random earlier model of its
    domain. Every fourth model also refs model k-1 of the next domain
    (cyclically). Edges always go from a lower k to a higher one, so the
    graph is acyclic, and a group over every other domain has a boundary
    whose size does not depend on the seed.
    """
    per = n // DOMAINS
    names, domain, parents = [], [], []
    for d in range(DOMAINS):
        dname = f"dom{d}"
        for k in range(per):
            names.append(f"{dname}_m{k:05d}")
            domain.append(dname)
            i = len(names) - 1
            ps = set()
            if k > 0:
                ps.add(i - 1)
                if k > 1 and rng.random() < 0.5:
                    ps.add(i - 2 - int(rng.integers(0, min(k - 1, 40))))
            if k % 4 == 1:
                ps.add(((d + 1) % DOMAINS) * per + k - 1)
            parents.append(sorted(ps))
    children = [[] for _ in names]
    for i, ps in enumerate(parents):
        for p in ps:
            children[p].append(i)
    return names, domain, parents, children


def _columns(rng):
    picks = rng.choice(len(COL_WORDS), 5, replace=False)
    types = list(CONTRACT_TYPE)
    return [(COL_WORDS[p], types[int(rng.integers(0, len(types)))]) for p in picks]


def _sql(name, cols, parent_names):
    sel = ", ".join(f"t0.{c}" for c, _ in cols)
    if not parent_names:
        return f"select {sel} from (select 1 as one) t0\n"
    frm = f"{{{{ ref('{parent_names[0]}') }}}} t0"
    for j, p in enumerate(parent_names[1:], 1):
        frm += f"\n  join {{{{ ref('{p}') }}}} t{j} on t0.id = t{j}.id"
    return f"-- {name}\nselect {sel}\nfrom {frm}\n"


def _entry(rng, name, cols):
    lines = [f"  - name: {name}",
             f"    description: \"{' '.join(rng.choice(WORDS, 6))}\"",
             "    columns:"]
    for c, _ in cols:
        lines += [f"      - name: {c}", f"        description: \"{c} of {name}\""]
    return lines


def _project_file(root, name):
    os.makedirs(root, exist_ok=True)
    with open(f"{root}/dbt_project.yml", "w") as f:
        f.write(f"name: {name}\nversion: \"1.0.0\"\nprofile: {name}\n"
                "model-paths: [\"models\"]\n")


def group_project(root, seed, n):
    """Single-schema.yml project; returns (catalog, facts) for a group over
    half the domains."""
    rng = np.random.default_rng([seed, 2])
    names, domain, parents, children = _dag(rng, n)
    _project_file(root, "meshgroup")
    yml = ["version: 2", "models:"]
    catalog = {}
    for i, name in enumerate(names):
        cols = _columns(rng)
        catalog[name] = cols
        os.makedirs(f"{root}/models/{domain[i]}", exist_ok=True)
        with open(f"{root}/models/{domain[i]}/{name}.sql", "w") as f:
            f.write(_sql(name, cols, [names[p] for p in parents[i]]))
        yml += _entry(rng, name, cols)
    with open(f"{root}/models/schema.yml", "w") as f:
        f.write("\n".join(yml) + "\n")
    # every other domain, so each selected domain's downstream is outside
    chosen = [f"dom{d}" for d in range(seed % 2, DOMAINS, 2)]
    sel = {i for i, d in enumerate(domain) if d in chosen}
    access = {names[i]: "protected" if (not children[i] or any(c not in sel for c in children[i]))
              else "private" for i in sel}
    facts = {
        "models": len(names),
        "select": [f"path:models/{d}" for d in chosen],
        "group": "bench_group",
        "access": access,
        "contracts": {m: [[c.lower(), CONTRACT_TYPE[t]] for c, t in catalog[m]]
                      for m, a in access.items() if a != "private"},
    }
    return catalog, facts


# ----------------------------------------------------- governed pipelines

# (name, table a, table b, join, staging cols a, staging cols b)
PIPES = [
    ("ord", "lineitem", "orders", "l_orderkey = o_orderkey",
     "l_orderkey, l_suppkey, l_partkey, l_quantity, l_extendedprice, l_returnflag, l_shipdate",
     "o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_orderdate"),
    ("cus", "orders", "customer", "o_custkey = c_custkey",
     "o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate",
     "c_custkey, c_nationkey, c_mktsegment, c_acctbal"),
    ("prt", "lineitem", "part", "l_partkey = p_partkey",
     "l_orderkey, l_partkey, l_quantity, l_extendedprice, l_linestatus, l_shipdate",
     "p_partkey, p_brand, p_type, p_size"),
    ("sup", "lineitem", "supplier", "l_suppkey = s_suppkey",
     "l_orderkey, l_suppkey, l_quantity, l_extendedprice, l_returnflag, l_shipdate",
     "s_suppkey, s_nationkey, s_acctbal"),
    ("nat", "customer", "nation", "c_nationkey = n_nationkey",
     "c_custkey, c_nationkey, c_acctbal, c_mktsegment",
     "n_nationkey, n_name, n_regionkey"),
    ("evt", "events", "customer", "user_id = c_custkey",
     "event_id, user_id, event_type, value, ts",
     "c_custkey, c_mktsegment, c_nationkey"),
    ("sny", "supplier", "nation", "s_nationkey = n_nationkey",
     "s_suppkey, s_nationkey, s_acctbal",
     "n_nationkey, n_regionkey, n_name"),
    ("doc", "documents", "embeddings", "doc_id = vec_id",
     "doc_id, lang, source, n_chars",
     "vec_id, label"),
]
# Spark types of the columns marts group by (contract data_type strings)
KEY_TYPES = {"o_orderpriority": "string", "l_returnflag": "string",
             "c_mktsegment": "string", "o_orderstatus": "string",
             "p_brand": "string", "l_linestatus": "string", "p_type": "string",
             "s_nationkey": "int", "n_regionkey": "int", "n_name": "string",
             "c_nationkey": "int", "event_type": "string", "lang": "string",
             "source": "string", "label": "int"}
# per pipeline: (filter, grouping keys, measure column, detail key)
PIPE_MEASURES = {
    "ord": ("l_quantity > 10", ["o_orderpriority", "l_returnflag"], "l_extendedprice", "o_orderstatus"),
    "cus": ("o_totalprice > 1000", ["c_mktsegment", "o_orderstatus"], "o_totalprice", "c_nationkey"),
    "prt": ("p_size > 10", ["p_brand", "l_linestatus"], "l_extendedprice", "p_type"),
    "sup": ("l_quantity > 10", ["s_nationkey", "l_returnflag"], "l_extendedprice", "s_nationkey"),
    "nat": ("c_acctbal > 0", ["n_regionkey", "c_mktsegment"], "c_acctbal", "n_name"),
    "evt": ("value > 10", ["event_type", "c_mktsegment"], "value", "c_nationkey"),
    "sny": ("s_acctbal > 0", ["n_regionkey", "n_name"], "s_acctbal", "n_regionkey"),
    "doc": ("n_chars > 100", ["lang", "source"], "n_chars", "label"),
}


def governed_project(root):
    """48 runnable models (8 pipelines x 6) over the tables; returns the
    mart names with the columns and contract types they must carry. The
    project is fixed; the seed varies the tables it reads."""
    _project_file(root, "governed")
    os.makedirs(f"{root}/models", exist_ok=True)
    src = ["version: 2", "sources:", "  - name: raw", "    tables:"]
    src += [f"      - name: {t}" for t in sorted({p[1] for p in PIPES} | {p[2] for p in PIPES})]
    with open(f"{root}/models/sources.yml", "w") as f:
        f.write("\n".join(src) + "\n")
    props = ["version: 2", "groups:", "  - name: marts", "    owner:",
             "      name: bench", "models:"]
    marts = {}

    def model(name, sql, materialized):
        with open(f"{root}/models/{name}.sql", "w") as f:
            f.write(f"{{{{ config(materialized='{materialized}') }}}}\n{sql}\n")

    for p, ta, tb, on, ca, cb in PIPES:
        filt, keys, meas, dkey = PIPE_MEASURES[p]
        model(f"stg_{p}_a", f"select {ca} from {{{{ source('raw', '{ta}') }}}}", "view")
        model(f"stg_{p}_b", f"select {cb} from {{{{ source('raw', '{tb}') }}}}", "view")
        model(f"int_{p}_joined",
              f"select a.*, b.* from {{{{ ref('stg_{p}_a') }}}} a\n"
              f"join {{{{ ref('stg_{p}_b') }}}} b on {on}\nwhere {filt}", "table")
        gk = ", ".join(keys)
        model(f"int_{p}_agg",
              f"select {gk}, {dkey} as dkey, count(*) as n,\n"
              f"  sum(cast({meas} as decimal(12,2))) as total\n"
              f"from {{{{ ref('int_{p}_joined') }}}}\ngroup by {gk}, {dkey}", "table")
        summary = [(keys[0], KEY_TYPES[keys[0]]), (keys[1], KEY_TYPES[keys[1]]),
                   ("n_rows", "bigint"), ("total", "decimal(18,2)"), ("groups", "bigint")]
        detail = [("dkey", KEY_TYPES[dkey]), ("n_rows", "bigint"),
                  ("top_total", "decimal(18,2)")]
        model(f"mart_{p}_summary",
              f"select {gk}, cast(sum(n) as bigint) as n_rows,\n"
              f"  cast(sum(total) as decimal(18,2)) as total,\n"
              f"  cast(count(*) as bigint) as groups\n"
              f"from {{{{ ref('int_{p}_agg') }}}}\ngroup by {gk}", "table")
        model(f"mart_{p}_detail",
              f"select dkey, cast(sum(n) as bigint) as n_rows,\n"
              f"  cast(max(total) as decimal(18,2)) as top_total\n"
              f"from {{{{ ref('int_{p}_agg') }}}}\ngroup by dkey", "table")
        for mart, cols in ((f"mart_{p}_summary", summary), (f"mart_{p}_detail", detail)):
            marts[mart] = [c for c, _ in cols]
            props += [f"  - name: {mart}", "    access: public", "    group: marts",
                      "    config:", "      contract:", "        enforced: true",
                      "    columns:"]
            props += [ln for c, t in cols
                      for ln in (f"      - name: {c}", f"        data_type: {t}")]
    with open(f"{root}/models/marts.yml", "w") as f:
        f.write("\n".join(props) + "\n")
    return {"models": 6 * len(PIPES), "marts": marts}
