#!/usr/bin/env python3
"""graft's benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload <interactive|corpus>
        --seed <n> --seconds <n> --trace <0|1>

Builds graft from this tree (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one JVM (perfbench/src/graftbench), checks every result, and prints one
JSON object as the last line of stdout. With --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced
run. A run artifact with the environment record, the stated input
properties and (traced) the span summary goes to perfbench/.work/runs/.
"""
import argparse, json, os, re, shutil, signal, statistics, subprocess, sys, time

sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
TIME_LIMIT_S = 175
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ---------------------------------------------------------------- oracle
def oracle_check(results, data):
    """Run tools/check_oracle.py over the dumped reference results and the
    generated tables; return its verdict per result name: "ok", or its
    report line. A result without an oracle query is "no-oracle"."""
    r = subprocess.run([sys.executable, CHECK_ORACLE, results, data],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    verdict = {n: "no-oracle" for n in os.listdir(results) if n != "oracle_sql.json"}
    for line in r.stdout.splitlines():
        m = re.match(r"\[(.{4})\] (\S+?): ", line)
        if m:
            verdict[m.group(2)] = "ok" if m.group(1) == " OK " else line
    bad = [v for v in verdict.values() if v not in ("ok", "no-oracle")]
    if r.returncode != (1 if bad else 0):
        raise RuntimeError(f"check_oracle.py failed ({r.returncode}):\n{r.stdout[-2000:]}")
    return verdict


# ---------------------------------------------------------------- spans
def self_times(spans_path):
    """Self time of the traced operations by span name (layer.part): each
    span's duration minus the part of it that its child spans cover.
    Parallel task spans each count in full."""
    spans = [s for s in map(json.loads, open(spans_path)) if s["op"].startswith("op-")]
    kids = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        iv = sorted((max(x, a), min(y, b)) for x, y in kids.get(s["id"], []) if min(y, b) > max(x, a))
        cov, cur = 0.0, None
        for x, y in iv:
            if cur is None or x > cur[1]:
                if cur:
                    cov += cur[1] - cur[0]
                cur = [x, y]
            else:
                cur[1] = max(cur[1], y)
        if cur:
            cov += cur[1] - cur[0]
        out[s["name"]] = out.get(s["name"], 0.0) + (b - a) - cov
    return out, len(spans)


# ---------------------------------------------------------------- run
def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: the 8th /proc/stat field."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def pct(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(WORK, f"{run_id}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t_gen = time.time()
    gen.generate(data, a.workload, a.seed)
    gen_s = time.time() - t_gen
    os.makedirs(os.path.join(work, "tmp"))
    load_before, cpu_before = os.getloadavg(), cpu_times()
    t_jvm = time.time()

    out = os.path.join(work, "result.json")
    # A fixed-size heap and the throughput collector: no heap resizing
    # and no concurrent GC threads competing with the task threads.
    cmd = (["java", "-Xss8m", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "graftbench.Runner",
              "--workload", a.workload, "--data", data, "--work", work,
              "--seconds", str(a.seconds), "--seed", str(a.seed),
              "--trace", str(a.trace), "--out", out])
    log_path = os.path.join(work, "jvm.log")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        tail = open(log_path, errors="replace").read()[-3000:]
        print(f"perfbench: runner failed ({rc}); log tail:\n{tail}", file=sys.stderr)
        sys.exit(1)
    res = json.load(open(out))
    jvm_s = time.time() - t_jvm

    # ---- correctness
    t_oracle = time.time()
    results = os.path.join(work, "results")
    verdict = oracle_check(results, data) if os.path.isdir(results) else {}
    oracle_s = time.time() - t_oracle
    bad_ref = {n for n, v in verdict.items() if v not in ("ok", "no-oracle")}
    all_ops = res["window"]["ops"]
    mismatched = set(res["checks"]["mismatched_names"])
    failed = sum(1 for o in all_ops if not o["ok"] or o["name"] in bad_ref) + \
        res["checks"]["mismatched_ops"]
    correct = failed == 0

    # ---- metrics, over the untraced rounds
    win = res["window"]
    plain_ops = [o for o in win["ops"] if not o["traced"]]
    lat = [o["ms"] / 1000 for o in plain_ops]
    plain_s = sum(ms for ms, t in zip(win["round_ms"], win["round_traced"]) if not t) / 1000
    rec_ops = [o for o in plain_ops if o["name"] in res["record_ops"]]
    e2e = {
        "setup_s": statistics.median(res["setup_ms"]) / 1000,
        "req_p50_s": pct(lat, 50),
        "req_p75_s": pct(lat, 75),
        "req_per_s": len(plain_ops) / plain_s,
        "records_per_s": sum(o["records"] for o in rec_ops) / (sum(o["ms"] for o in rec_ops) / 1000),
    }
    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "env": dict(res["env"], loadavg_before=load_before, loadavg_after=os.getloadavg(),
                    cpu_steal_share=steal_share(cpu_before, cpu_times()),
                    python=sys.version.split()[0]),
        "inputs": res["inputs"],
        "phase_s": dict({k: v / 1000 for k, v in res["phase_ms"].items()},
                        generate=gen_s, jvm=jvm_s, oracle=oracle_s,
                        total=time.time() - t_start),
        "setup_ms": res["setup_ms"], "session_start_ms": res["session_start_ms"],
        "session_warmup_ms": res["session_warmup_ms"],
        "requests": len(lat), "round_s": [x / 1000 for x in win["round_ms"]],
        "peak_heap_mb": res["peak_heap_mb"],
        "end_to_end": e2e,
        "oracle": verdict, "mismatched": sorted(mismatched),
        "errors": sorted({o["error"] for o in all_ops if not o["ok"]}),
        "ops": plain_ops,
    }
    if a.trace:
        lay = res["layers"]
        traced_ops = [o for o in win["ops"] if o["traced"]]
        # after the settling round 0 the rounds run U T T U …, so the two
        # means sit at the same point of the JVM's warm-up; a round's wall
        # includes the listener-bus drain and span building after each
        # traced operation
        blocks = list(zip(win["round_ms"], win["round_traced"]))[1:]
        plain = statistics.mean(ms for ms, t in blocks if not t)
        traced = statistics.mean(ms for ms, t in blocks if t)
        values = dict(lay, **{"session.start_ms": statistics.median(res["session_start_ms"]),
                              "session.warmup_ms": statistics.median(res["session_warmup_ms"]),
                              "driver.peak_heap_mb": res["peak_heap_mb"],
                              "trace.overhead_share": (traced - plain) / plain})
        selfs, n_spans = self_times(os.path.join(work, "spans.jsonl"))
        n_ops = max(1, len(traced_ops))
        artifact.update({
            "layers": lay, "spans": n_spans,
            "self_ms_per_op": {k: v / n_ops for k, v in sorted(selfs.items())},
            "tracing_overhead": {"untraced_round_ms": plain, "traced_round_ms": traced,
                                 "share": (traced - plain) / plain},
            "traced_ops": traced_ops})
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(WORK, "runs", f"{run_id}.spans.jsonl"))
    else:
        values = e2e
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{run_id}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    with open(SPEC) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({"correct": correct, "attempted": len(all_ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
