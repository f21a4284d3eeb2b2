#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload mesh-group --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
worker from source with sbt (perfbench/build.sbt) and caches the classpath
under .bench_build/; later runs start the worker JVM directly. Inputs are
generated from --seed (gen.py), every op's output is checked (checks.py),
and the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full record (every op, stamped with load average and nproc, and the
set-up time) goes to .bench_build/results/. See perfbench/README.md.
"""
import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
NPROC = len(os.sched_getaffinity(0))
RUN_DEADLINE_S = 170  # per run, after the build
BUILD_TIMEOUT_S = 840
REF_WARM = 8  # reference runs in set-up, so the timed ones run compiled code

# Workload sizes (README.md says why each was chosen).
GROUP_MODELS = 200
GOVERNED_SF, OPS_SF = 0.02, 0.01
OPS_QUERIES = [
    # job-bound: the build-phase-heavy floor
    "q77_watermark_planner", "g04_pagerank", "d21_band_sweep",
    # shuffle-bound controls
    "d02_ngram_jaccard", "q12_star_join",
]

# A fixed 256 MB young generation and an old generation that starts at
# 256 MB and grows only when what survives young collections no longer
# fits: the resident set then follows what the program retains, not
# adaptive heap sizing.
JVM_OPTS = ["-Xms512m", "-Xmx3g", "-Xmn256m", "-Xss4m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy"]
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the worker; return the worker classpath."""
    for p in ("build.sbt", "src/main/scala", "perfbench/build.sbt", "perfbench/src"):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"missing {p}: run from the root of a full checkout")
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


# ----------------------------------------------------------------- worker

class WorkerError(Exception):
    pass


class Worker:
    """The JVM side (src/graft/perfbench/Worker.scala), one JSON line each way."""

    def __init__(self, classpath, scratch):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        tmp = os.path.join(scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.log = open(os.path.join(scratch, "worker.log"), "w")
        cmd = [java, *JVM_OPTS, *JDK17_OPENS, f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", os.pathsep.join(classpath), "graft.perfbench.Worker",
               "--scratch", scratch]
        self.proc = subprocess.Popen(cmd, cwd=scratch, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log,
                                     text=True, start_new_session=True)

    def call(self, cmd, **kw):
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        for line in self.proc.stdout:
            if line.startswith("@@"):
                reply = json.loads(line[2:])
                if "error" in reply:
                    raise WorkerError(reply["error"])
                return reply
        raise WorkerError(f"worker exited (code {self.proc.poll()}) during {cmd}")

    def close(self):
        if self.proc.poll() is None:
            try:
                self.call("quit")
                self.proc.wait(timeout=30)
            except Exception:
                pass
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()
        self.log.close()


# -------------------------------------------------------------- workloads

class MeshGroup:
    """`group` over half the domains of a single-schema.yml project."""
    min_ops, warm_ops = 3, 2  # the first op after one warm-up is still slow
    ref_yaml = True  # the op parses and dumps YAML; its reference does too

    def __init__(self, work, seed):
        self.work, self.seed = work, seed

    def inputs(self, w):
        self.base = os.path.join(self.work, "project")
        catalog, self.facts = gen.group_project(self.base, self.seed, GROUP_MODELS)
        cat_file = os.path.join(self.work, "catalog.json")
        with open(cat_file, "w") as f:
            json.dump(catalog, f)
        w.call("session", cores=NPROC)
        w.call("catalog", file=cat_file, project="meshgroup")

    def op(self, w):
        tree = os.path.join(self.work, "op")
        shutil.rmtree(tree, ignore_errors=True)
        shutil.copytree(self.base, tree)
        os.sync()  # flush the copy now, not as writeback inside the timed op
        rec = w.call("group", root=tree, select=self.facts["select"], group=self.facts["group"])
        rec["check"] = checks.group_tree(tree, self.facts)
        shutil.rmtree(tree)
        return rec


class RunGoverned:
    """Runner.runWithStatus over the governed 48-model project."""
    min_ops, warm_ops = 3, 2  # the second run is still about 10% slow
    ref_yaml = False

    def __init__(self, work, seed):
        self.work, self.seed = work, seed
        self.n = 0

    def inputs(self, w):
        self.tables = os.path.join(self.work, "tables")
        self.project = os.path.join(self.work, "project")
        gen.tables(self.tables, self.seed, GOVERNED_SF)
        self.facts = gen.governed_project(self.project)
        w.call("session", cores=NPROC)
        w.call("load", root=self.project)
        w.call("tables", dir=self.tables)
        self.expected = None

    def op(self, w):
        if self.expected is None:
            self.expected = checks.governed_expected(self.project, self.tables, self.facts, NPROC)
        self.n += 1
        wh = os.path.join(self.work, f"wh{self.n}")
        os.sync()  # the previous warehouse's writeback stays out of this op
        rec = w.call("run", warehouse=wh)
        rec["check"] = checks.governed_warehouse(wh, rec["status"], self.facts, self.expected)
        rec["engine.models"] = sum(1 for s in rec.pop("status").values() if s == "success")
        rec["engine.warehouse_mb"] = checks.tree_bytes(wh) / 2**20
        shutil.rmtree(wh)
        return rec


class OpsFloor:
    """One pass over the registry query list. The DuckDB oracle runs the
    same list once per run, right after the warm-up, for the content check
    and the Spark/DuckDB ratio."""
    min_ops = 3
    ref_ops = 2  # untraced passes of a traced run, for spark_to_duckdb
    ref_yaml = False

    def __init__(self, work, seed):
        self.work, self.seed = work, seed

    def inputs(self, w):
        self.tables = os.path.join(self.work, "tables")
        gen.tables(self.tables, self.seed, OPS_SF)
        w.call("session", cores=NPROC)
        w.call("tables", dir=self.tables)

    def warm(self, w):
        """Collect every query's result once (a cold pass over the same
        plans the timed passes run) and compare its content with DuckDB's;
        the timed passes then compare row counts. One more pass follows:
        the first pass after the cold one is still about 15% slow."""
        sql = w.call("oracle_sql", names=OPS_QUERIES)["sql"]
        rec = w.call("collect", dir=self.tables, names=OPS_QUERIES)
        oracle = checks.Oracle(self.tables, NPROC)
        self.oracle = oracle.timed_pass(sql, rows=True)
        oracle.close()
        rec["check"] = checks.ops_content(rec.pop("results"), self.oracle, rec["failed"])
        for q in self.oracle["queries"].values():
            q.pop("result")
        rec["oracle"] = self.oracle
        return [rec, self.op(w)]

    def op(self, w):
        rec = w.call("queries", dir=self.tables, names=OPS_QUERIES)
        rec["oracle.duckdb_s"] = self.oracle["total_s"]
        rec["check"] = checks.ops_counts(rec["queries"], self.oracle)
        return rec

    def reference(self, w):
        """Untraced passes right after the oracle: the Spark side of
        spark_to_duckdb, free of tracing probes."""
        refs = [self.op(w) for _ in range(self.ref_ops)]
        good = [r["op_s"] for r in refs if not r["check"]]
        ratio = statistics.median(good) / self.oracle["total_s"] if good else 0.0
        return refs, {"spark_to_duckdb": ratio}


WORKLOADS = {"mesh-group": MeshGroup, "run-governed": RunGoverned, "ops-floor": OpsFloor}

# ---------------------------------------------------------------- metrics

def per_layer(names, ops, extra, failed, attempted):
    """Median over ops of each per-layer metric, or its value in `extra`;
    0 where this workload does not exercise the layer."""
    derived = []
    for o in ops:
        d = dict(o)
        if o.get("mesh.changes"):
            d["changes.ms_per_change"] = 1e3 * o["changes.apply_s"] / o["mesh.changes"]
        if o.get("changes.changed_bytes"):
            d["changes.write_amp"] = o["changes.bytes_written"] / o["changes.changed_bytes"]
        if "spark.task_run_s" in o:
            d["spark.core_busy"] = o["spark.task_run_s"] / (o["op_s"] * NPROC)
        if "engine.run_s" in o:
            d["engine.driver_only_s"] = o["op_s"] - o.get("spark.job_active_s", 0.0)
        if "queries" in o:
            qs = o["queries"]
            for k in ("build_s", "build_jobs", "catalyst_s", "exec_s"):
                d[f"ops.{k}"] = sum(q.get(k, 0.0) for q in qs)
            for q in qs:
                d[f"ops.{q['name']}_s"] = q.get("build_s", 0.0) + q.get("exec_s", 0.0)
                d[f"ops.{q['name']}.build_jobs"] = q.get("build_jobs", 0)
        d["trace.op_s"] = o["op_s"]
        derived.append(d)
    out = {}
    for n in names:
        if n == "failed_ratio":
            out[n] = failed / attempted
        elif n in extra:
            out[n] = float(extra[n])
        else:
            vals = [d[n] for d in derived if n in d]
            out[n] = float(statistics.median(vals)) if vals else 0.0
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()

    t_run = time.monotonic()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    w = Worker(classpath, work)
    timer = threading.Timer(RUN_DEADLINE_S, lambda: os.killpg(w.proc.pid, signal.SIGKILL))
    timer.daemon = True
    timer.start()
    wl = WORKLOADS[args.workload](work, args.seed)
    ops, extra = [], {}
    try:
        # set-up, timed from the worker launch: JVM start, session, inputs,
        # views, then the warm-up (checked like an op)
        wl.inputs(w)
        warm = wl.warm(w) if hasattr(wl, "warm") else [wl.op(w) for _ in range(wl.warm_ops)]
        for _ in range(REF_WARM):
            w.call("ref", yaml=wl.ref_yaml)
        if args.trace:
            if hasattr(wl, "reference"):
                refs, extra = wl.reference(w)
                warm += refs
            w.call("trace", on=True)
        t_meas = time.monotonic()
        while time.monotonic() - t_meas < args.seconds or len(ops) < wl.min_ops:
            try:
                ref_s = w.call("ref", yaml=wl.ref_yaml)["ref_s"]
                rec = wl.op(w)
                rec["ref_s"] = ref_s
            except WorkerError as e:
                if w.proc.poll() is not None:
                    raise
                rec = {"op_s": None, "check": f"op threw: {e}"}
            rec["loadavg"] = os.getloadavg()[0]
            rec["nproc"] = NPROC
            ops.append(rec)
        stats = w.call("stats")
        if args.trace:
            spans_file = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}.spans.json")
            os.makedirs(os.path.dirname(spans_file), exist_ok=True)
            w.call("spans", file=spans_file)
    except WorkerError as e:
        fail(f"worker failed: {e} (log: {w.log.name})", 1)
    finally:
        timer.cancel()
        w.close()

    checked = warm + ops
    failed = sum(1 for o in checked if o.get("check"))
    attempted = len(checked)
    good = [o for o in ops if o["op_s"] is not None]
    if args.trace == 0:
        metrics = {
            "setup_s": t_meas - t_run,
            "op_per_ref": statistics.median(o["op_s"] / o["ref_s"] for o in good) if good else 0.0,
            "peak_rss_mb": stats["vm_hwm_mb"],
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = per_layer(names, good, extra, failed, attempted)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "nproc": NPROC, "setup_s": t_meas - t_run,
                   "process_to_first_op_s": t_meas - T_PROCESS, "op_samples": len(good),
                   "op_s": statistics.median(o["op_s"] for o in good) if good else None,
                   "failures": sorted({o["check"] for o in checked if o.get("check")}),
                   "warm_up": warm, "ops": ops, "result": result}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
