#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

  python3 perfbench/run.py --workload mr_text --seed 7 --seconds 10 --trace 0

Builds the engine and the harness from source (perfbench/build.py),
generates the seed's inputs (perfbench/gen_inputs.py), runs the workload in
one JVM at local[nproc] (perfbench/src/Harness.scala), checks every op's
output, prints every metric by name with its unit and sample count, and ends
with one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 attaches the census
listeners for the timed passes and reports the per-layer metrics, per op and
per workload; its pass_s minus an untraced run's (same seed) is the tracing
overhead. Everything a run writes goes under .bench_build/perfbench/
in the repository root; each run's full result is kept in its results/
directory for perfbench/diff.py.

Workloads (cache state declared per workload):
  mr_text         the paper's MapReduce job (façade + DataFrame twins) over
                  Zipf-skewed whole-text files; no engine caches
  graph_iter      iterative graph kernels and NN-descent on small tables;
                  every engine cache released before each op
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("mr_text", "graph_iter")
TABLES = ("orders", "lineitem", "embeddings")
JVM_HEAP = "3g"
RUN_LIMIT_S = 175      # a run ends within this, builds excepted
BUILD_LIMIT_S = 880    # the first run in a checkout also builds

END_TO_END = [  # name, unit, what
    ("setup_s", "s", "JVM start + SparkSession + warm-up pass, once per run"),
    ("pass_s", "s", "median wall time of one pass over the op mix"),
    ("slowest_op_s", "s", "median over passes of the slowest op in the pass"),
    ("cpu_s_per_pass", "s", "process CPU seconds per timed pass"),
    ("live_heap_mb", "MB", "heap in use after a full GC that follows the timed passes"),
]

sys.path.insert(0, HERE)
import build as pbbuild  # noqa: E402
import gen_inputs  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def inputs_for(seed, workload):
    """The seed's generated inputs, made once per checkout, generator and
    core count. Only mr_text reads the text files, which take most of the
    generation time."""
    text = workload == "mr_text"
    with open(gen_inputs.__file__, "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs",
                     f"seed-{seed}-p{gen_inputs.n_parts()}-{gen}{'-text' if text else ''}")
    if not os.path.exists(os.path.join(d, "_properties.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_inputs.generate(seed, tmp, text)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "_properties.json")) as fh:
        return d, json.load(fh)


def jvm_command(classes, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'run', 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(pbbuild.spark_jars(), "*"),
            "perfbench.Harness"] + args
    return cmd


def canonical(rows, cols):
    """Rows as sorted tuples of strings, columns in name order — the
    row-order-insensitive, value-exact comparison of the repo's oracle gate."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(r[i]) for i in order) for r in rows), [cols[i] for i in order]


def duckdb_gate(data, gate_dir, ops):
    """Replays each op's SparkEntry.oracleSql in DuckDB over the generated
    part files and compares it with the op's output from the warm-up pass."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'run', 'duckdb')}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{data}/{t}.parquet/*.parquet'")
    with open(os.path.join(gate_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    out = []
    for op in ops:
        rec = {"op": op, "ok": False}
        try:
            got = con.sql(f"SELECT * FROM '{gate_dir}/{op}/*.parquet'")
            want = con.sql(oracles[op])
            a, acols = canonical(got.fetchall(), got.columns)
            b, bcols = canonical(want.fetchall(), want.columns)
            rec["rows"], rec["expected_rows"] = len(a), len(b)
            if acols != bcols:
                rec["error"] = f"columns {acols} vs {bcols}"
            else:
                rec["mismatches"] = sum(x != y for x, y in zip(a, b)) + abs(len(a) - len(b))
                rec["ok"] = rec["mismatches"] == 0
        except Exception as e:  # a missing output or a failing oracle fails the op
            rec["error"] = str(e)[:300]
        out.append(rec)
    return out


def branch_check(workload, record):
    """Compares the branch-naming fields of the run's adaptive-branch record
    with the reference seed's. Recall values vary by seed; the legs taken,
    the chosen radius and the size-derived parameters do not, unless the
    work changes."""
    def key(r):
        return {k: ([leg["leg"] for leg in v] if k == "knn_recall_legs" else v)
                for k, v in r.items()}
    with open(os.path.join(HERE, "reference_branches.json")) as fh:
        ref = json.load(fh)
    want = ref["workloads"].get(workload)
    if want is None:
        return {"reference_seed": ref["seed"], "differs": None}
    return {"reference_seed": ref["seed"], "differs": key(record) != key(want),
            "reference": want}


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # build from source (engine + harness); refuses a tree without the engine
    built = not os.path.exists(os.path.join(WORK, "classes.stamp"))
    classes = pbbuild.build(WORK)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    data, props = inputs_for(a.seed, a.workload)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = jvm_command(classes, [a.workload, data, run_dir, str(a.seconds), str(a.trace)])
    log(f"{a.workload} seed={a.seed} trace={a.trace}: starting the JVM")
    launch = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time() - 15))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"perfbench: harness JVM failed ({rc})")
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)

    if a.workload == "mr_text":
        gate = res["jvm_gate"]
    else:
        gate = duckdb_gate(data, res["gate_dir"], res["ops"])
    gate_failed = [g["op"] for g in gate if not g["ok"]]
    failed = len(res["failures"]) + len(gate_failed)
    attempted = res["attempted"] + len(gate)
    span_ok = True
    if a.trace:
        span = res["layers"]["span_check"]
        span_ok = (span["jobs"] > 0 and not span["unattributed_jobs"]
                   and not span["jobs_outside_phase"])
    correct = failed == 0 and len(gate) == len(res["ops"]) and span_ok

    setup_s = res["ready_epoch_ms"] / 1000.0 - launch
    values = {"setup_s": setup_s, "pass_s": res["pass_s"],
              "slowest_op_s": res["slowest_op_s"],
              "cpu_s_per_pass": res["cpu_s_per_pass"], "live_heap_mb": res["live_heap_mb"]}
    branches = {"record": res["branches"], **branch_check(a.workload, res["branches"])}

    # ---- human-readable report ----
    n = res["passes"]
    print(f"perfbench {a.workload} seed={a.seed} cores={res['cores']} "
          f"passes={n} (closed loop, one client)")
    for name, unit, what in END_TO_END:
        samples = 1 if name in ("setup_s", "live_heap_mb") else n
        print(f"  {name:<16}{values[name]:>12.4f} {unit:<3} n={samples:<3} {what}")
    print(f"  {'op_fail_ratio':<16}{failed / attempted:>12.4f}     "
          f"n={attempted:<3} ops that threw or failed their oracle / ops attempted")
    for op, s in res["op_s"].items():
        print(f"    op {op:<28}{s:>9.4f} s (median)")
    for g in gate:
        print(f"  gate {g['op']:<28}{'ok' if g['ok'] else 'FAIL'} {g}")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    print(f"  branches {json.dumps(branches, sort_keys=True)}")
    if branches.get("differs"):
        print(f"  WARNING: seed {a.seed} takes a different adaptive branch than "
              f"reference seed {branches['reference_seed']}; its times measure other work")
    print(f"  inputs {json.dumps(props, sort_keys=True)}")

    if a.trace:
        lay = res["layers"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in lay["workload"].items()}
        metrics["trace.pass_s"] = {"value": res["pass_s"], "unit": "s"}
        print_layers(lay)
        untraced = latest_result(a.workload, a.seed, 0)
        if untraced:
            base = untraced["end_to_end"]["pass_s"]
            print(f"  tracing overhead: traced pass_s {res['pass_s']:.4f} - untraced pass_s "
                  f"{base:.4f} (same seed) = {res['pass_s'] - base:+.4f} s")
        else:
            print("  tracing overhead: run --trace 0 with this seed first; "
                  "overhead = traced pass_s - untraced pass_s")
        print(f"  span check ({'ok' if span_ok else 'FAILED'}): {span['jobs']} jobs started "
              f"in the timed window; {len(span['unattributed_jobs'])} reach no phase span "
              f"through their job group; {len(span['jobs_outside_phase'])} lie outside "
              f"their phase {span['jobs_outside_phase'][:5]}")
    else:
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit, _ in END_TO_END}

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(launch * 1000)}"
    if a.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        os.replace(os.path.join(run_dir, "spans.json"),
                   os.path.join(WORK, "traces", tag + ".json"))
        print(f"  spans: {os.path.join(WORK, 'traces', tag + '.json')}")
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "metrics": metrics, "end_to_end": values, "gate": gate,
                   "failed": failed, "attempted": attempted, "branches": branches,
                   "inputs": props, "harness": res}, fh)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def latest_result(workload, seed, trace):
    paths = sorted(glob.glob(os.path.join(
        WORK, "results", f"{workload}-seed{seed}-trace{trace}-*.json")))
    if not paths:
        return None
    with open(paths[-1]) as fh:
        return json.load(fh)


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("executor.core_util", "executor.task_skew"):
        return "ratio"
    return "count"


def print_layers(lay):
    names = list(lay["workload"].keys())
    ops = list(lay["per_op"].keys())
    print("  per-layer census (median over the timed passes)")
    print(f"    {'metric':<24}" + "".join(f"{o[:14]:>15}" for o in ops) + f"{'workload':>15}")
    for m in names:
        row = "".join(f"{lay['per_op'][o][m]:>15.4f}" for o in ops)
        print(f"    {m:<24}{row}{lay['workload'][m]:>15.4f}")


if __name__ == "__main__":
    main()
