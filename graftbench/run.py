#!/usr/bin/env python3
"""graft benchmark: clinical release, study refresh and corpus curation.

Run from the root of a graft checkout:

    python3 graftbench/run.py --workload clinical_release --seed 1 \\
        --seconds 10 --trace 0

The first run builds the library and the benchmark from source with sbt
(offline) into graftbench/target; later runs reuse the build while the
sources are unchanged. The benchmark JVM then runs the workload as a
closed loop from a single thread on local[nproc], checks every op's
output, and this script prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of the named
workload. With --trace 1 one JVM traces both benchmark workloads
(whatever --workload names, since the per-layer metric set spans both)
and the metrics are the per-layer ones; the full span summary is
written to .benchrun/trace.json. --workload all runs both benchmark
workloads and clinical_refresh untraced in one JVM and names each metric
<workload>.<metric>; clinical_release_reused_ids runs only when named.
Scratch files go to .benchrun/ in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

# The workloads BENCHMARK.json lists; clinical_refresh runs on request
# only (its set-up rebuilds three index stores, which does not fit the
# per-run time budget).
WORKLOADS = ["clinical_release", "corpus_curation"]
EXTRA = ["clinical_refresh"]
# Check-only: its check fails while Indexes joins nests on submitter ids
# without study_id (see README).
CHECK_ONLY = ["clinical_release_reused_ids"]
END_TO_END = [("setup_s", "s"), ("first_s", "s"), ("op_s", "s"),
              ("peak_rss_mb", "MB")]

# Per-layer metrics a traced run reports, <workload>.<span>.<counter>.
SPANS = {"clinical_release": ["pre_process", "process"],
         "corpus_curation": ["dedup", "ann", "graph"]}
COUNTERS = ["wall_s", "jobs", "tasks", "empty_task_frac", "busy_frac",
            "no_task_s", "shuffle_bytes", "spill_bytes"]
MODULES = ["sources", "etl", "core", "ops"]
FACES = ["q_dedup_near", "q_jaccard_exact", "q_decontaminate", "q_knn_ivf",
         "q_maxsim_ivf", "q_connected_components", "q_pagerank",
         "q_ontology_closure"]
PER_LAYER = (
    [f"{w}.{s}.{c}" for w, ss in SPANS.items() for s in ss for c in COUNTERS]
    + [f"{w}.{s}.by_module.{m}.{c}" for w, ss in SPANS.items() for s in ss
       for m in MODULES for c in ("jobs", "wall_s")]
    + [f"corpus_curation.face.{f}.wall_s" for f in FACES]
    + [f"{w}.{x}" for w in SPANS
       for x in ("retained_storage_bytes", "trace_overhead_s")]
    + ["clinical_release.tsv_read_amp", "clinical_release.output_bytes"])
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# A fixed heap: under the tier-1 SPARK_DRIVER_MEM rule (half of RAM, 2g
# to 8g) G1 grows the heap adaptively and peak RSS varied by a quarter
# from run to run.
HEAP = "3g"
JVM_TIMEOUT_S = 170  # benchmark workloads; EXTRA and "all" get 900

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN = os.path.join(ROOT, ".benchrun")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in (LIB_SRC, os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + benchmark once per source state; returns the
    runtime classpath."""
    stamp_file = os.path.join(RUN, "build.stamp")
    cp_file = os.path.join(RUN, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    log = os.path.join(RUN, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or "graftbench" not in lines[-1]:
        fail(f"build failed (see {log})", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, workloads, args, cores):
    work = os.path.join(RUN, "work")
    tmp = os.path.join(RUN, "tmp")
    out = os.path.join(RUN, "result.json")
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workloads", ",".join(workloads), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--out", out]
    log = os.path.join(RUN, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S if set(workloads) <= set(WORKLOADS)
                   and args.workload != "all" else 900)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"benchmark JVM timed out (see {log})", 4)
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed with {p.returncode} (see {log})", 4)
    with open(out) as f:
        result = json.load(f)
    return result, work


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (math.nan, math.nan)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summarize(name, r):
    """End-to-end metrics of one workload, plus report lines."""
    setup = r["setup_s"]
    ops = r["op_s"]
    m = {
        "setup_s": statistics.median(setup) if setup else math.nan,
        "first_s": float(r["first_s"]),  # "NaN" when the first op failed
        "op_s": statistics.median(ops) if ops else math.nan,
        "peak_rss_mb": float(r["peak_rss_mb"]),
    }
    frac = r["failed"] / max(1, r["attempted"])
    lines = [f"[{name}] attempted={r['attempted']} failed={r['failed']} "
             f"failed_frac={frac:.4f}"]
    for key, vals in (("setup_s", setup), ("op_s", ops),
                      ("lookup_s", r.get("lookup_s", []))):
        if vals:
            q1, q3 = quartiles(vals)
            lines.append(f"[{name}] {key} median={statistics.median(vals):.4f} s "
                         f"q1={q1:.4f} q3={q3:.4f} n={len(vals)}")
    lines.append(f"[{name}] first_s {m['first_s']:.4f} s (n=1)")
    lines.append(f"[{name}] peak_rss_mb {m['peak_rss_mb']:.1f} MB")
    for e in r["errors"][:10]:
        lines.append(f"[{name}] FAILED {e}")
    return m, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + EXTRA + CHECK_ONLY + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail("no graft sources under src/main/scala: run from the root of "
             "a graft checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(RUN, exist_ok=True)

    cp = build()
    cores = len(os.sched_getaffinity(0))
    workloads = (WORKLOADS if args.trace else WORKLOADS + EXTRA
                 if args.workload == "all" else [args.workload])
    result, work = run_jvm(cp, workloads, args, cores)

    attempted = failed = 0
    metrics = {}
    per_layer = result.get("per_layer", {})
    for name in workloads:
        r = result[name]
        oracle_fail = corpus_oracle(work) if name == "corpus_curation" else []
        if oracle_fail:
            r["failed"] += 1
            r["attempted"] += 1
            r["errors"] += oracle_fail
        attempted += r["attempted"]
        failed += r["failed"]
        m, lines = summarize(name, r)
        for l in lines:
            print(l)
        if args.trace:
            continue
        for key, unit in END_TO_END:
            metrics[key if args.workload != "all" else f"{name}.{key}"] = {
                "value": m[key], "unit": unit}
    if args.trace:
        for key in sorted(per_layer):
            print(f"[trace] {key} {per_layer[key]}")
        with open(os.path.join(RUN, "trace.json"), "w") as f:
            json.dump(per_layer, f, indent=1, sort_keys=True)
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in per_layer.items() if k in PER_LAYER}
    missing = [k for k in (PER_LAYER if args.trace else []) if k not in metrics]
    if missing:
        print(f"[trace] missing per-layer metrics: {missing}")
    shutil.rmtree(work, ignore_errors=True)
    finite = all(isinstance(v["value"], (int, float)) and
                 math.isfinite(v["value"]) for v in metrics.values())
    print(json.dumps({"correct": failed == 0 and finite and bool(metrics)
                      and not missing,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith("_frac") or last.endswith("_amp"):
        return "ratio"
    return "count"


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def rows_canon(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def fingerprint(canon_rows):
    cols, rows = canon_rows
    return {"cols": cols, "rows": len(rows),
            "sha": hashlib.sha256(repr(rows).encode()).hexdigest()}


def corpus_oracle(work):
    """Compare each dumped face result with its DuckDB oracle on the
    same generated tables, as sorted rows over name-sorted columns."""
    import glob
    import duckdb
    found = glob.glob(os.path.join(work, "corpus_curation*", "oracles.json"))
    if not found:
        return ["oracle: no face results were written"]
    with open(found[0]) as f:
        spec = json.load(f)
    cache = os.path.join(RUN, "oracle_cache")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    digest = hashlib.sha256()
    for t in ("documents", "embeddings", "lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{spec['tables']}/{t}.parquet/*.parquet')")
        digest.update(repr(con.execute(f"SELECT * FROM {t}").fetchall()).encode())
    bad = []
    for face, sql in sorted(spec["faces"].items()):
        try:
            got = fingerprint(rows_canon(con.execute(
                f"SELECT * FROM read_parquet('{spec['results']}/{face}/*.parquet')")))
            # the oracle's answer depends only on the tables and its SQL
            key = hashlib.sha256(digest.digest() + sql.encode()).hexdigest()
            path = os.path.join(cache, key + ".json")
            if os.path.exists(path):
                with open(path) as f:
                    want = json.load(f)
            else:
                want = fingerprint(rows_canon(con.execute(sql)))
                with open(path, "w") as f:
                    json.dump(want, f)
        except Exception as e:  # a failing oracle is a failed check
            bad.append(f"oracle {face}: {e}")
            continue
        if got != want:
            bad.append(f"oracle {face}: result differs from DuckDB "
                       f"({got['rows']} vs {want['rows']} rows)")
        else:
            print(f"[corpus_curation] oracle {face}: {got['rows']} rows match")
    return bad


if __name__ == "__main__":
    main()
