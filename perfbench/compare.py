#!/usr/bin/env python3
"""Run series of benchmark runs, and judge two series against each other.

    python3 perfbench/compare.py series <out.jsonl> --workloads interactive,corpus
        --seeds 1-10 [--trace 0]
    python3 perfbench/compare.py spread <a.jsonl>
    python3 perfbench/compare.py compare <parent.jsonl> <change.jsonl>

`series` appends one line per run: workload, seed, wall time and the
run's result object. `spread` prints, per (metric, workload), the median,
quartiles and the quartile spread as a share of the median against the
metric's bound from BENCHMARK.json. `compare` pairs the two series by
(workload, seed) and prints each side's median and quartiles, the pair
wins, and a verdict:

  gain        the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's quartile spread;
  regression  the change's median is worse by more than the bound;
  unresolved  a side's spread exceeds the bound, unless every run of the
              change reads better than every run of the parent;
  same        otherwise.
"""
import json, os, statistics, subprocess, sys, time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b, {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def seeds(arg):
    out = []
    for part in arg.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def series(path, workloads, seed_list, trace):
    b, _ = spec()
    secs = str(b["run_seconds"])
    for w in workloads:
        for s in seed_list:
            t0 = time.time()
            r = subprocess.run(b["command"] + ["--workload", w, "--seed", str(s),
                                               "--seconds", secs, "--trace", str(trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            rec = {"workload": w, "seed": s, "trace": trace, "rc": r.returncode,
                   "wall_s": round(time.time() - t0, 1), "result": res}
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)


def load(path):
    """{(workload, metric): {seed: value}} over the runs that finished."""
    out = {}
    for line in open(path):
        r = json.loads(line)
        if not r["result"]:
            continue
        for m, v in r["result"]["metrics"].items():
            out.setdefault((r["workload"], m), {})[r["seed"]] = v["value"]
    return out


def quart(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
    return q1, med, q3, (q3 - q1) / abs(med) if med else float("inf")


def spread(path):
    _, metrics = spec()
    for (w, m), by_seed in sorted(load(path).items()):
        vals = list(by_seed.values())
        q1, med, q3, sp = quart(vals)
        bound = metrics.get(m, {}).get("bound")
        flag = "" if bound is None else ("ok" if sp < bound / 3 else
                                         "WIDE" if sp > bound else "over-third")
        print(f"{w:12s} {m:32s} n={len(vals):2d} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
              f"spread={sp:.3f} bound={bound} {flag}")


def compare(pa, pb):
    _, metrics = spec()
    a, b = load(pa), load(pb)
    for key in sorted(set(a) & set(b)):
        w, m = key
        spec_m = metrics.get(m, {})
        lower = spec_m.get("better", "lower") == "lower"
        bound = spec_m.get("bound")
        common = sorted(set(a[key]) & set(b[key]))
        if not common:
            continue
        va, vb = [a[key][s] for s in common], [b[key][s] for s in common]
        qa, qb = quart(va), quart(vb)
        better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
        wins = sum(better(y, x) for x, y in zip(va, vb))
        losses = sum(better(x, y) for x, y in zip(va, vb))
        worse_by = ((qb[1] - qa[1]) if lower else (qa[1] - qb[1])) / abs(qa[1]) if qa[1] else 0.0
        all_better = all(better(y, x) for x in va for y in vb)
        if bound is None:
            verdict = "n/a (no bound)"
        elif wins >= 0.9 * len(common) and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
            verdict = "gain"
        elif max(qa[3], qb[3]) > bound and not all_better:
            verdict = "unresolved"
        elif worse_by > bound:
            verdict = "regression"
        else:
            verdict = "same"
        print(f"{w:12s} {m:24s} parent {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]  "
              f"change {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}]  wins {wins}/{len(common)} "
              f"losses {losses}  {verdict}")


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    cmd = sys.argv[1]
    if cmd == "series":
        import argparse
        ap = argparse.ArgumentParser()
        ap.add_argument("out")
        ap.add_argument("--workloads", required=True)
        ap.add_argument("--seeds", required=True)
        ap.add_argument("--trace", type=int, default=0)
        a = ap.parse_args(sys.argv[2:])
        series(a.out, a.workloads.split(","), seeds(a.seeds), a.trace)
    elif cmd == "spread":
        spread(sys.argv[2])
    elif cmd == "compare" and len(sys.argv) == 4:
        compare(sys.argv[2], sys.argv[3])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
