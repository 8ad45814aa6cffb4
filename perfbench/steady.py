"""Steadiness and tracing-overhead checks.

    python3 perfbench/steady.py --workload W [--seeds 1-10] [--trace 0|1]
    python3 perfbench/steady.py --workload W --seeds 1-5 --overhead

The first form runs one workload on several seeds and reports, for each
metric, the median, the quartiles and the spread (third minus first
quartile, over the median) against the metric's bound. Quartiles are
Python's statistics.quantiles(values, n=4).

The second form runs every seed untraced and traced, alternating which
runs first, and reports for each end-to-end metric the tracing overhead:
traced minus untraced, per pair and as the median over the pairs.

Each run's full output lands in .bench_build/results/ as usual; the
summary is printed and written to .bench_build/steady/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_build", "results")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(spec, workload, seed, trace):
    """One benchmark run: (its last output line, its end-to-end metrics
    from the run's record)."""
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                          workload, "--seed", str(seed), "--seconds",
                          str(spec["run_seconds"]), "--trace", str(trace)],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    if out.returncode != 0 or not last.startswith("{"):
        sys.exit(f"seed {seed} trace {trace}: run failed (exit {out.returncode})")
    with open(os.path.join(RESULTS, f"{workload}-{seed}-t{trace}.json")) as f:
        return json.loads(last), json.load(f)["e2e"]


def spread(spec, a, declared):
    values = {m["name"]: [] for m in declared}
    runs = []
    for seed in seeds(a.seeds):
        res, _ = run(spec, a.workload, seed, a.trace)
        runs.append({"seed": seed, **res})
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    summary = {}
    for m in declared:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        sp = (q3 - q1) / med if med else float("nan")
        bound = m.get("bound")
        summary[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                              "spread": sp, "bound": bound, "n": len(xs)}
        flag = "" if bound is None else ("ok" if sp <= bound / 3 else
                                         "WIDE" if sp > bound else "within bound")
        print(f"{m['name']:>40} median {med:12.6g} {m['unit']:<6} "
              f"q1 {q1:.6g} q3 {q3:.6g} spread {sp:.4f} {flag}")
    return {"summary": summary, "runs": runs}


def overhead(spec, a, declared):
    pairs = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        e2e = {t: run(spec, a.workload, seed, t)[1] for t in order}
        pairs.append({"seed": seed, "order": list(order), "untraced": e2e[0], "traced": e2e[1]})
        print(f"seed {seed} (trace {order[0]} first): " + " ".join(
            f"{m['name']} {e2e[0][m['name']]:.4g} -> {e2e[1][m['name']]:.4g}"
            for m in declared), flush=True)
    summary = {}
    for m in declared:
        n = m["name"]
        diff = [p["traced"][n] - p["untraced"][n] for p in pairs]
        rel = [d / p["untraced"][n] for d, p in zip(diff, pairs)]
        summary[n] = {"unit": m["unit"], "diff": diff, "median_diff": statistics.median(diff),
                      "median_rel": statistics.median(rel)}
        print(f"{n:>14} traced - untraced: median {statistics.median(diff):+.4g} {m['unit']} "
              f"({statistics.median(rel):+.1%}); pairs " +
              ", ".join(f"{d:+.4g}" for d in diff))
    return {"summary": summary, "pairs": pairs}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.overhead:
        out, tag = overhead(spec, a, spec["end_to_end"]), "overhead"
    else:
        declared = spec["per_layer"] if a.trace else spec["end_to_end"]
        out, tag = spread(spec, a, declared), f"t{a.trace}"
    os.makedirs(os.path.join(ROOT, ".bench_build", "steady"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady", f"{a.workload}-{tag}.json"), "w") as f:
        json.dump({"workload": a.workload, "seeds": a.seeds, **out}, f, indent=1)


if __name__ == "__main__":
    main()
