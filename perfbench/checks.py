"""Output checks. Each returns None when the output is right, else a one-line
reason. Expectations come from an independent source: the generator's own
DAG facts (parsed back with PyYAML, not the program's YAML parser) or
DuckDB running the same SQL on the same parquet."""
import datetime
import decimal
import os
import re
import time

import duckdb
import yaml

LOADER = getattr(yaml, "CSafeLoader", yaml.SafeLoader)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _yaml(path):
    with open(path) as f:
        return yaml.load(f, Loader=LOADER) or {}


def _sql_files(root):
    for d, dirs, fs in os.walk(root):
        for f in fs:
            if f.endswith(".sql"):
                yield d, f[:-4]


def tree_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


# ------------------------------------------------------------------- mesh

def group_tree(root, facts):
    models = {e["name"]: e for e in _yaml(f"{root}/models/schema.yml")["models"]}
    sql = sum(1 for _ in _sql_files(f"{root}/models"))
    if len(models) != facts["models"] or sql != facts["models"]:
        return f"model count {len(models)} entries / {sql} files, expected {facts['models']}"
    groups = _yaml(f"{root}/models/_groups.yml").get("groups") or []
    if [g["name"] for g in groups] != [facts["group"]]:
        return f"groups file holds {groups}"
    for name, e in models.items():
        want = facts["access"].get(name)
        if want is None:
            if "group" in e or "access" in e:
                return f"{name} is not selected but got group/access"
            continue
        if e.get("group") != facts["group"] or e.get("access") != want:
            return f"{name}: group={e.get('group')} access={e.get('access')}, expected {want}"
        contract = facts["contracts"].get(name)
        enforced = ((e.get("config") or {}).get("contract") or {}).get("enforced")
        if contract is None:
            if enforced:
                return f"private model {name} got a contract"
            continue
        cols = {c["name"]: c.get("data_type") for c in e.get("columns", [])}
        if enforced is not True or cols != dict(map(tuple, contract)):
            return f"{name}: contract {cols} (enforced={enforced}), expected {contract}"
    return None


# ------------------------------------------------------------ data plane

def _connect(tables, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    return con


def _digest(con, relation):
    """Order-insensitive digest of a relation: column names, DuckDB logical
    types, row count and the sum of per-row hashes over text renderings."""
    rel = con.sql(relation)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    row = " || '|' || ".join(f"coalesce(cast(\"{c}\" AS VARCHAR), '<null>')" for c, _ in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM ({relation})").fetchone()
    return cols, n, int(h)


def governed_expected(project, tables, facts, threads):
    """DuckDB runs the generated model SQL (refs and sources inlined as
    views) and digests every mart."""
    con = _connect(tables, threads)
    pending = {}
    for d, n in _sql_files(f"{project}/models"):
        with open(f"{d}/{n}.sql") as f:
            text = re.sub(r"\{\{\s*config\([^)]*\)\s*\}\}", "", f.read())
        text = re.sub(r"\{\{\s*source\('raw',\s*'(\w+)'\)\s*\}\}", r"\1", text)
        pending[n] = re.sub(r"\{\{\s*ref\('(\w+)'\)\s*\}\}", r"\1", text)
    done = set(TABLES)
    while pending:
        ready = [n for n, s in pending.items()
                 if set(re.findall(r"\b(?:from|join)\s+(\w+)", s)) <= done]
        if not ready:
            raise RuntimeError(f"unresolvable models {sorted(pending)}")
        for n in ready:
            con.execute(f"CREATE TABLE {n} AS {pending.pop(n)}")
            done.add(n)
    out = {m: _digest(con, f"SELECT * FROM {m}") for m in facts["marts"]}
    con.close()
    return out


def governed_warehouse(wh, status, facts, expected):
    if len(status) != facts["models"] or any(s != "success" for s in status.values()):
        bad = {k: s for k, s in status.items() if s != "success"}
        return f"{len(status)} models ran, not all succeeded: {bad}"
    con = duckdb.connect()
    try:
        for m, want in expected.items():
            got = _digest(con, f"SELECT * FROM read_parquet('{wh}/{m}/*.parquet')")
            if got != want:
                return f"{m}: warehouse digest {got[:2]} differs from DuckDB {want[:2]}"
    finally:
        con.close()
    return None


class Oracle:
    """DuckDB over the same parquet; each query materialized in full, as the
    Spark side's full-plan sink does."""

    def __init__(self, tables, threads):
        self.con = _connect(tables, threads)

    def timed_pass(self, sql, rows=False):
        per, total = {}, 0.0
        for name, q in sql.items():
            t0 = time.monotonic()
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {q}")
            dt = time.monotonic() - t0
            total += dt
            per[name] = {"s": dt, "rows": self.con.execute(
                "SELECT count(*) FROM oracle_out").fetchone()[0]}
            if rows:
                rel = self.con.sql("SELECT * FROM oracle_out")
                per[name]["result"] = (list(zip(rel.columns, (str(t) for t in rel.types))),
                                       rel.fetchall())
        self.con.execute("DROP TABLE IF EXISTS oracle_out")
        return {"total_s": total, "queries": per}

    def close(self):
        self.con.close()


def ops_counts(spark_queries, oracle):
    for q in spark_queries:
        if not q.get("ok"):
            return f"{q['name']} threw: {q.get('error')}"
        want = oracle["queries"][q["name"]]["rows"]
        if q["rows"] != want:
            return f"{q['name']}: {q['rows']} rows, DuckDB {want}"
    return None


def duck_type(spark_type):
    """DuckDB's name for a Spark simpleString type."""
    t = spark_type.lower()
    if t.startswith("array<"):
        return duck_type(t[6:-1]) + "[]"
    if t.startswith("decimal("):
        return t.upper()
    return {"bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
            "tinyint": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
            "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
            "timestamp": "TIMESTAMP"}.get(t, t)


def _canon(v):
    """One rendering for a value from either side: numbers as floats (Spark
    decimals arrive as doubles), structs as sorted items, dates as ISO."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def _multiset(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i][0])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def ops_content(spark_results, oracle, failed):
    """Spark's collected rows against DuckDB's for every query: the same
    column names and types, and the same rows in any order."""
    if failed:
        return f"queries failed to run: {failed}"
    for name, o in oracle["queries"].items():
        want_cols, want_rows = o["result"]
        got = spark_results[name]
        got_cols = [(c, duck_type(t)) for c, t in got["columns"]]
        if sorted(got_cols) != sorted(want_cols):
            return f"{name}: columns {sorted(got_cols)} vs DuckDB {sorted(want_cols)}"
        if _multiset(got_cols, got["rows"]) != _multiset(want_cols, want_rows):
            return f"{name}: {len(got['rows'])} rows differ from DuckDB's {len(want_rows)}"
    return None
