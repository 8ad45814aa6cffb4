"""The graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one JVM with one `GraftSession.local(cores = nproc)` session, checks the
outputs, and prints every metric by name with its unit. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Build outputs, inputs and run artifacts
stay under .bench_build/ in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # gen and build are imported: no __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dashboard", "monthly_dag")
TIME_LIMIT_S = 170


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def inputs_for(workload, seed, build_dir, deadline):
    """Generates (or reuses) the seeded inputs, keyed by the generator's own
    source and the build, so an edited generator or library never serves
    stale inputs; keeps one input set per workload. monthly_dag's model is
    trained from its generated sample in a JVM of its own."""
    import gen
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + build_dir.encode()).hexdigest()[:12]
    d = os.path.join(OUT, "inputs", f"{workload}-{seed}-{key}")
    meta = os.path.join(d, "inputs.json")
    if not os.path.exists(meta):
        for old in os.listdir(os.path.dirname(d)) if os.path.isdir(os.path.dirname(d)) else []:
            if old.startswith(workload + "-"):
                shutil.rmtree(os.path.join(os.path.dirname(d), old), ignore_errors=True)
        t0 = time.time()
        desc = gen.generate(workload, seed, d)
        desc["generate_s"] = time.time() - t0
        if workload == "monthly_dag":
            t0 = time.time()
            work = os.path.join(OUT, "work-prepare")
            shutil.rmtree(work, ignore_errors=True)
            run_jvm(build_dir, "graftbench.Prepare", ["--inputs", d, "--seed", str(seed)],
                    work, deadline)
            desc["train_s"] = time.time() - t0
        with open(meta, "w") as f:
            json.dump(desc, f)
    with open(meta) as f:
        return d, json.load(f)


def compare(con, result_dir, sql):
    """None if the parquet result under result_dir equals the oracle's rows,
    else the first difference."""
    files = [os.path.join(result_dir, p) for p in os.listdir(result_dir) if p.endswith(".parquet")]
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    exp = con.execute(sql).fetchdf()
    got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns) or len(got) != len(exp):
        return f"shape {list(got.columns)}x{len(got)} vs {list(exp.columns)}x{len(exp)}"
    cols = list(got.columns)
    gs = got.sort_values(by=cols, ignore_index=True)
    es = exp.sort_values(by=cols, ignore_index=True)
    return next((f"{c} row {i}: {a!r} vs {b!r}" for c in cols
                 for i, (a, b) in enumerate(zip(gs[c].tolist(), es[c].tolist()))
                 if str(a) != str(b)), None)


def oracle_check(ref_dir, data_dir):
    """Compares each dashboard reference result with its DuckDB oracle SQL
    over the same generated tables: columns by name, rows sorted, values
    compared as strings. Returns (checked, failures)."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(os.listdir(data_dir)):
        if p.endswith(".parquet"):
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, p)}'")
    with open(os.path.join(ref_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            bad = compare(con, os.path.join(ref_dir, name), sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            bad = f"{type(e).__name__}: {e}"
        if bad:
            failures.append(f"oracle {name}: {bad}")
    return len(oracle), failures


def cpu_ticks():
    """Aggregate CPU tick counters of the machine (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run_jvm(build_dir, main, args, work, deadline):
    """Runs one benchmark JVM in `work`; exits without a result if it
    fails or outlives the deadline."""
    import build
    cmd = build.java_cmd(build_dir, work, main) + args
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"{main} {'timed out' if code is None else f'exited with {code}'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to the benchmark; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    import build

    t0 = time.time()
    build_dir = build.build()
    build_s = time.time() - t0
    # the first run in a checkout may spend its time compiling
    deadline = time.time() + TIME_LIMIT_S
    data, desc = inputs_for(a.workload, a.seed, build_dir, deadline)
    work = os.path.join(OUT, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    ticks0 = cpu_ticks()
    run_jvm(build_dir, "graftbench.Main",
            ["--workload", a.workload, "--inputs", data, "--work", work, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", result_file],
            work, deadline)
    if not os.path.exists(result_file):
        fail("the harness wrote no result")
    with open(result_file) as f:
        res = json.load(f)
    # share of the machine's CPU time stolen by its hypervisor during the run
    delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
    res["steal_share"] = delta[7] / max(1, sum(delta))

    attempted, failures = res["attempted"], list(res["failures"])
    failed = res["failed"]
    if a.workload == "dashboard":
        checked, bad = oracle_check(os.path.join(work, "reference"), data)
        attempted += checked
        failed += len(bad)
        failures += bad

    source = res["layers"] if a.trace else res["e2e"]
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in declared
               if not isinstance(source.get(m["name"]), (int, float))
               or not math.isfinite(source[m["name"]])]
    if missing:
        fail(f"the harness reported no value for {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in declared}

    artifact = dict(res, inputs=desc, build_s=build_s, wall_s=time.time() - started,
                    failures=failures, attempted=attempted, failed=failed)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    with open(os.path.join(OUT, "results", tag + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)
    spans = result_file[:-5] + ".spans.jsonl"
    if os.path.exists(spans):
        shutil.copyfile(spans, os.path.join(OUT, "results", tag + ".spans.jsonl"))

    print(f"workload {a.workload} seed {a.seed}: inputs {desc['rows']} "
          f"({desc['bytes']} bytes, sha256 {desc['sha256'][:16]})")
    print(f"ops {res['ops']} in {res['measured_s']:.1f} s; steal {res['steal_share']:.1%}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(f"  error_rate = {failed / max(1, attempted):.6g} ({failed}/{attempted})")
    for f_ in failures[:20]:
        print(f"  FAILED {f_}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
