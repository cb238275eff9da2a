#!/usr/bin/env python3
"""graft benchmark: times graft's public entry points from outside.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. One call:

1. builds the benchmark's JVM program (`perfbench.Main`) together with
   graft's sources (sbt,
   offline; reused while no source changes);
2. generates the workload's inputs from the seed (rows of the pinned
   sf0.01 fixture permuted, the chain forest drawn), cached by (seed,
   fixture fingerprint) and timed apart from set-up;
3. runs that program on local[nproc], one call at a time (a closed
   loop with one client);
4. checks every call's row count against DuckDB, content-compares a
   seeded sample of gates through scripts/check_oracle.py, and checks the
   chain forest's components against a union-find;
5. prints every metric by name with its unit; the last stdout line is
   one JSON object. With --trace 0 it carries the end-to-end metrics of
   BENCHMARK.json, with --trace 1 the per-layer ones.

A self-describing record of the run (and, traced, its spans) is written
to perfbench/.work/results/. Exits non-zero on any failed call or check.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURE = os.path.join(HERE, "fixtures")
SCRIPTS = os.path.join(ROOT, "scripts")
SOURCES = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ("interactive", "iterative")
# deep-chain forest of the iterative workload: fixed shape (257 nodes, so
# the closure's doubling takes 8 rounds), seeded node ids ascending along
# each chain, seeded edge order
CHAINS, CHAIN_LEN = 2, 257
HEAP = ["-Xms3g", "-Xmx3g"]
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SBT_TIMEOUT_S = 800
KEEP_INPUTS = 3

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_geomean_ms": "ms",
              "queries_per_s": "1/s"}
INFO_UNITS = {"query_p50_ms": "ms", "query_p90_ms": "ms", "failed_frac": "ratio",
              "gen_s": "s", "build_s": "s", "old_gen_peak_mb": "MB"}
KERNELS = ["mmh3_hash64", "simhash16", "word_shingles", "minhash_signature",
           "bloom_might_contain", "fingerprint", "md5"]
GRAPH_JOB_CALLS = ["q_graph_cc", "q_graph_time_forward", "q_graph_forward_edges",
                   "chain_cc", "chain_closure"]
PER_LAYER = {
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.exchanges": "count",
    "catalyst.queries": "count",
    "core.build_ms": "ms", "core.caches.cached_mb_peak": "MB",
    "core.caches.leaked_rdds": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.job_s": "s", "exec.driver_gap_s": "s",
    "exec.empty_task_frac": "ratio", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    "sources.read_mb": "MB", "sources.write_mb": "MB", "sources.write_s": "s",
    "sources.write_mb_per_s": "MB/s",
    **{f"operators.graph.jobs.{c}": "count" for c in GRAPH_JOB_CALLS},
    "operators.dedup.jobs": "count", "operators.dedup.task_s": "s",
    "operators.graph_s": "s", "operators.dedup_s": "s",
    "plans.passthrough.ns_per_row": "ns/row",
    **{f"plans.{k}.rows": "count" for k in KERNELS},
    **{f"plans.{k}.ns_per_row": "ns/row" for k in KERNELS},
    **{f"plans.{k}.vs_builtin": "ratio" for k in KERNELS},
    "self.core_s": "s", "self.catalyst_s": "s", "self.exec_s": "s",
    "self.driver_s": "s", "self.bench_s": "s",
    "trace.wall_s": "s", "trace.overhead_frac": "ratio",
    "jvm.old_gen_peak_mb": "MB",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(r, f) for r, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and perfbench.Main; returns (classpath, build seconds)."""
    digest = tree_digest([SOURCES, os.path.join(HERE, "src"),
                          os.path.join(HERE, "build.sbt"),
                          os.path.join(HERE, "project", "build.properties")])
    out = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == digest:
        return open(cp_file).read(), 0.0
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log_file = os.path.join(out, "sbt.log")
    with open(log_file, "w") as fh:
        rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], SBT_TIMEOUT_S, cwd=HERE, env=env,
                       stdout=fh, stderr=subprocess.STDOUT)
    output = open(log_file).read()
    lines = [l for l in output.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if rc != 0 or not lines:
        sys.stderr.write(output[-4000:])
        die(f"build failed (sbt exit {rc})", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp, time.time() - t0


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def make_inputs(workload, seed, fingerprint):
    """Seeded inputs for a workload; returns (dir, generation seconds)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = f"{workload}-seed{seed}-{fingerprint[:12]}"
    root = os.path.join(WORK, "inputs")
    dst = os.path.join(root, key)
    if os.path.exists(os.path.join(dst, ".complete")):
        return dst, 0.0
    t0 = time.time()
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for i, name in enumerate(sorted(f for f in os.listdir(FIXTURE) if f.endswith(".parquet"))):
        tab = pq.read_table(os.path.join(FIXTURE, name))
        perm = np.random.default_rng([seed, i]).permutation(tab.num_rows)
        pq.write_table(tab.take(pa.array(perm)), os.path.join(dst, name))
    expected = {}
    if workload == "iterative":
        rng = np.random.default_rng([seed, 1 << 20])
        ids = rng.choice(1 << 40, size=CHAINS * CHAIN_LEN, replace=False).astype("int64")
        src_ids, dst_ids = [], []
        for c in range(CHAINS):
            chain = np.sort(ids[c * CHAIN_LEN:(c + 1) * CHAIN_LEN])
            src_ids += list(chain[:-1])
            dst_ids += list(chain[1:])
        order = rng.permutation(len(src_ids))
        edges = pa.table({"src": pa.array(np.array(src_ids)[order]),
                          "target": pa.array(np.array(dst_ids)[order])})
        pq.write_table(edges, os.path.join(dst, "chains.parquet"))
        expected["chain_cc"] = CHAINS * CHAIN_LEN
        expected["chain_closure"] = CHAINS * CHAIN_LEN * (CHAIN_LEN - 1) // 2
    with open(os.path.join(dst, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    open(os.path.join(dst, ".complete"), "w").close()
    # keep the cache small: only the most recent input sets survive
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)
    return dst, time.time() - t0


def duckdb_counts(inputs, sql_by_name, extra_sql):
    """Row counts of each oracle query over the generated inputs."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in os.listdir(inputs):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(inputs, f)}'")
    counts = {}
    for name, sql in list(sql_by_name.items()) + list(extra_sql.items()):
        q = sql.strip().rstrip(";")
        counts[name] = con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
    return counts


def chain_check(inputs, labels_file):
    """Components the run reported vs a union-find over the chain edges."""
    import pyarrow.parquet as pq
    edges = pq.read_table(os.path.join(inputs, "chains.parquet")).to_pydict()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["src"], edges["target"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    got = json.load(open(labels_file))
    label = dict(zip(got["node_id"], got["component"]))
    if set(label) != set(parent):
        return f"node set differs: {len(label)} labelled vs {len(parent)} in edges"
    by_root = {}
    for node in parent:
        by_root.setdefault(find(node), set()).add(label[node])
    if any(len(v) != 1 for v in by_root.values()):
        return "a union-find component carries more than one label"
    if len({next(iter(v)) for v in by_root.values()}) != len(by_root):
        return "two union-find components share a label"
    return None


def oracle_check(inputs, check_dir, gates):
    """Content compare of the sampled gates via scripts/check_oracle.py."""
    if not gates:
        return []
    p = subprocess.run([sys.executable, os.path.join(SCRIPTS, "check_oracle.py"),
                        inputs, check_dir, "--only=" + ",".join(gates)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=120)
    bad = [l.strip() for l in p.stdout.splitlines() if l.startswith("  ")]
    if p.returncode != 0 and not bad:
        bad = [f"check_oracle.py exit {p.returncode}: {p.stdout[-300:]}"]
    return bad


def percentile(values, q):
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def family_metrics(calls):
    """Workload-specific timings from one pass's calls."""
    def total_s(fam):
        return sum(c["ms"] for c in calls if c["family"] == fam) / 1000.0
    write_s = total_s("sources.write")
    write_mb = sum(c["bytes"] for c in calls if c["family"] == "sources.write") / 1048576.0
    return {"sources.write_s": write_s,
            "sources.write_mb_per_s": write_mb / write_s if write_s else 0.0,
            "operators.graph_s": total_s("graph"),
            "operators.dedup_s": total_s("dedup")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()
    load1 = os.getloadavg()[0]
    for need in (SOURCES, os.path.join(SCRIPTS, "check_oracle.py"),
                 os.path.join(SCRIPTS, "fixture_stamp.py"), FIXTURE):
        if not os.path.exists(need):
            die(f"missing {os.path.relpath(need, ROOT)}: run from a full graft checkout")
    java = shutil.which("java")
    if not java:
        die("java not found on PATH")
    sys.path.insert(0, SCRIPTS)
    import fixture_stamp

    cp, build_s = build()
    fixture_fp = fixture_stamp.stamp(FIXTURE)["fingerprint"]
    inputs, gen_s = make_inputs(a.workload, a.seed, fixture_fp)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out, scratch = os.path.join(WORK, "runs", tag), os.path.join(WORK, "scratch")
    for d in (out, scratch):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(scratch, "tmp"))
    jvm_opts = HEAP + [f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
                "-Dspark.sql.session.timeZone=UTC"] + \
        [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd = [java] + jvm_opts + ["-cp", cp, "perfbench.Main",
                               "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--inputs", inputs, "--scratch", scratch, "--out", out]
    # the run must end within RUN_LIMIT_S of its start, build time aside
    budget = RUN_LIMIT_S - (time.time() - started - build_s)
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        rc = run_group(cmd, budget, stdout=jlog, stderr=subprocess.STDOUT)
    result_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(os.path.join(out, "jvm.log")).read()[-4000:])
        die(f"benchmark JVM failed ({'timeout' if rc is None else rc})", 1)
    res = json.load(open(result_file))

    # ---- checks (outside every timed section) ----
    oracle_sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    expected = json.load(open(os.path.join(inputs, "expected.json")))
    extra = {}
    if a.workload == "interactive":
        extra = {f"tsv_read.{t}": f"SELECT * FROM {t}" for t in ("lineitem", "orders")}
        extra["date_scan.events"] = (
            "SELECT * FROM events WHERE strftime(ts, '%Y%m%d') BETWEEN "
            f"'{res['scan_from']}' AND '{res['scan_to']}'")
    expected.update(duckdb_counts(inputs, oracle_sql, extra))
    all_calls = res["warm"]["calls"] + [c for p in res["passes"] for c in p["calls"]]
    failures = []
    for c in all_calls:
        if c["error"]:
            failures.append(f"{c['name']}: {c['error']}")
        elif c["name"] in expected and c["rows"] != expected[c["name"]]:
            failures.append(f"{c['name']}: {c['rows']} rows, expected {expected[c['name']]}")
    for p in res["pinned_rdds"]:
        failures.append(f"{p['call']}: RDD {p['rdd']} left persisted after Caches.scoped "
                        "and not reclaimed by garbage collection")
    unchecked = sorted({c["name"] for c in all_calls
                        if c["name"] not in expected and c["family"] != "sources.write"})
    for n in unchecked:
        failures.append(f"{n}: no expected row count")
    check_dir = os.path.join(out, "check")
    sampled = res["checks"]["gates"]
    failures += oracle_check(inputs, check_dir, sampled)
    attempted = len(all_calls) + len(sampled)
    if res["checks"]["chain_cc"]:
        attempted += 1
        err = chain_check(inputs, res["checks"]["chain_cc"])
        if err:
            failures.append(f"chain_cc union-find: {err}")
    failed = len(failures)

    # ---- metrics ----
    timed = res["passes"] if not a.trace else res["passes"][:1]
    lat = [c["ms"] for p in timed for c in p["calls"]]
    ncalls, walls = len(lat), [p["wall_s"] for p in timed]
    e2e = {"setup_s": statistics.median(res["setup_s"]),
           "wall_s": statistics.median(walls),
           "query_geomean_ms": statistics.geometric_mean(lat),
           "queries_per_s": ncalls / sum(walls)}
    fam = family_metrics(timed[-1]["calls"])
    info = {"query_p50_ms": statistics.median(lat), "query_p90_ms": percentile(lat, 0.90),
            "timed_calls": ncalls,
            "passes": len(timed), "failed_frac": failed / attempted,
            "leaked_rdds": sum(c["leaked"] for c in all_calls),
            "gen_s": gen_s, "build_s": build_s,
            "old_gen_peak_mb": res["old_gen_peak_mb"], **fam}
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if a.trace:
        layers = dict(res["per_layer"])
        layers.update(fam)
        layers["jvm.old_gen_peak_mb"] = res["old_gen_peak_mb"]
        missing = sorted(set(PER_LAYER) - set(layers))
        if missing:
            die(f"per-layer metrics missing from the traced run: {missing}", 1)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}

    # ---- self-describing record ----
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        g = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        commit = g.stdout.strip() or None
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit, "source_digest": tree_digest([SOURCES]),
        "nproc": os.cpu_count(), "jvm_cores": res["cores"], "loadavg_1m_at_start": load1,
        "host": platform.node(), "jvm_args": res["jvm_args"],
        "heap_flags": [x for x in res["jvm_args"] if x.startswith("-X")],
        "spark_confs": res["spark_confs"],
        "fixture": {"pinned_fingerprint": fixture_fp, "input": fixture_stamp.stamp(inputs)},
        "end_to_end": e2e, "info": info, "metrics": metrics,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "failures": failures, "checked_gates": sampled,
        "setup_runs_s": res["setup_s"], "passes": res["passes"], "warm": res["warm"],
        "elapsed_s": time.time() - started,
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if a.trace:
        for f in ("spans.jsonl", "calls.jsonl"):
            shutil.copy(os.path.join(out, f), os.path.join(results, f"{tag}.{f}"))

    # ---- report ----
    for k, v in e2e.items():
        print(f"{k} = {v:.6g} {END_TO_END[k]}")
    for k, v in info.items():
        unit = INFO_UNITS.get(k) or PER_LAYER.get(k, "count")
        print(f"{k} = {v:.6g} {unit}" if isinstance(v, float) else f"{k} = {v} {unit}")
    if a.trace:
        for k, v in metrics.items():
            print(f"{k} = {v['value']:.6g} {v['unit']}")
    for f in failures[:20]:
        log(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
