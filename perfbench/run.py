#!/usr/bin/env python3
"""Outside-in benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 24 --trace 0

Builds the program from `src/main` (see pbench/build.py), runs one fresh
JVM with `local[4]` on the workload's queries (untimed warm-up passes, then
timed closed-loop passes for `--seconds`), checks every result, and prints
one JSON object as the last line of stdout. `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics, writes the
span file and prints each layer's self time. Everything else goes to
stderr. Run from the repository root; see perfbench/README.md."""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from pbench import build, metrics, oracle, workloads  # noqa: E402

DEFAULT_DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def data_key(data_dir):
    h = hashlib.sha256()
    for n in sorted(os.listdir(data_dir)):
        h.update(n.encode())
        with open(os.path.join(data_dir, n), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_jvm(build_dir, run_dir, args, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {"PATH": os.environ.get("PATH", "/usr/bin:/bin"),
           "LANG": "C.UTF-8", "TZ": "UTC", "HOME": run_dir}
    if "JAVA_HOME" in os.environ:
        env["JAVA_HOME"] = os.environ["JAVA_HOME"]
    cmd = (["java"] + workloads.jvm_flags(tmp)
           + ["-cp", build.classpath(build_dir), "graft.perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(run_dir, "jvm.log"), "wb") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("harness JVM timed out")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exited {p.returncode}:\n{tail}")


def verify(run, data_dir, dump_dir, cache, cache_path):
    """Checks this run's dumped results against the DuckDB oracle and adds
    the digests of those that pass to `cache` (query -> verified digest),
    saved to `cache_path`. Returns {query: failure reason}."""
    bad = {}
    dumped = {v["q"]: v for v in run["verified"]}
    if not dumped:
        return bad
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    res = oracle.check(ROOT, data_dir, dump_dir,
                       {q: s for q, s in sql.items() if dumped[q]["ok"]})
    for q, v in dumped.items():
        if not v["ok"]:
            bad[q] = "dump failed: " + v.get("error", "")
        elif q not in sql:
            bad[q] = "no oracle SQL"
        elif res.get(q):
            bad[q] = "oracle mismatch: " + res[q]
        else:
            cache[q] = v["digest"]
    with open(cache_path + ".tmp", "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
    os.replace(cache_path + ".tmp", cache_path)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA,
                    help="directory of the input parquet tables")
    a = ap.parse_args()
    queries = workloads.WORKLOADS[a.workload]
    # a terminated run must not leave its JVM behind: SystemExit unwinds
    # through run_jvm, which kills the JVM's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    build_dir = build.ensure(ROOT)
    deadline = time.time() + JVM_TIMEOUT_S
    data_dir = os.path.abspath(a.data)
    cache_path = os.path.join(build_dir, f"verified-{data_key(data_dir)}.json")
    cached = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    runs = os.path.join(ROOT, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        dump_dir = os.path.join(run_dir, "dump")
        out = os.path.join(run_dir, "out.json")
        run_jvm(build_dir, run_dir, {
            "queries": ",".join(queries), "data": data_dir,
            "seconds": a.seconds, "seed": a.seed, "cpus": workloads.CPUS,
            "warmup": workloads.WARMUP_PASSES,
            "trace": a.trace, "out": out, "dump": dump_dir,
            "verify": ",".join(q for q in queries if q not in cached),
        }, deadline)
        with open(out) as f:
            run = json.load(f)
        bad = verify(run, data_dir, dump_dir, cached, cache_path)
    finally:
        # keep the JVM's log for diagnosis; drop its tables and artifacts
        logs = os.path.join(ROOT, ".bench_build", "logs")
        os.makedirs(logs, exist_ok=True)
        jvm_log = os.path.join(run_dir, "jvm.log")
        if os.path.exists(jvm_log):
            shutil.copy(jvm_log, os.path.join(
                logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.jvm.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [e for e in run["execs"] if e["pass"] >= 0]
    failed = [e for e in timed
              if not e["ok"] or e["digest"] != cached.get(e["q"])]
    for q in sorted({e["q"] for e in failed}):
        why = bad.get(q) or next(
            (e["error"] or "digest differs from the verified digest"
             for e in failed if e["q"] == q), "")
        log(f"FAILED {q}: {why}")
    report_e2e(run, a.workload, queries)
    if a.trace:
        values, spans, n_traced = metrics.per_layer(run)
        path = os.path.join(
            ROOT, ".bench_build", "traces", f"{a.workload}-seed{a.seed}.spans.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "traced_passes": n_traced, "spans": spans}, f)
        log(f"spans: {path}")
        report_self_times(a.workload, metrics.layer_self_times(spans), n_traced)
    else:
        values = metrics.end_to_end(run, len(failed), len(timed))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({
        "correct": not failed and not bad,
        "attempted": len(timed), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


def report_e2e(run, workload, queries):
    walls = [(b - a) / 1e3 for a, b in metrics.pass_windows(run)]
    p, v, n = metrics.tail_percentile(walls)
    tail = f"p{p:g} {v:.3f} s" if p else "no percentile has 10 samples beyond it"
    log(f"{workload}: setup {(run['setup_end_ms'] - run['jvm_start_ms']) / 1e3:.2f} s, "
        f"makespan median {statistics.median(walls):.3f} s over {n} passes ({tail}); "
        f"passes {' '.join(f'{w:.2f}' for w in walls)}")
    lat, cold = {}, {}
    for e in run["execs"]:
        if e["pass"] >= 0:
            lat.setdefault(e["q"], []).append(e["t1"] - e["t0"])
        else:
            cold.setdefault(e["q"], e["t1"] - e["t0"])
    allq = [x for xs in lat.values() for x in xs]
    p, v, n = metrics.tail_percentile(allq)
    log(f"  query latency median {statistics.median(allq):.0f} ms"
        + (f", p{p:g} {v:.0f} ms" if p else "") + f" (n={n})")
    for q in queries:
        if q in lat:
            log(f"  {q:28s} median {statistics.median(lat[q]):8.0f} ms (n={len(lat[q])}),"
                f" cold {cold[q]:8.0f} ms")
    per_pass = {}
    for e in run["execs"]:
        if e["pass"] >= 0 and e["marks"]:
            per_pass.setdefault(e["pass"], []).append(e)
    if per_pass:
        refresh = [metrics.refresh_s(v) for v in per_pass.values()]
        log(f"  refresh_s (IVM, p1 mark to result) median {statistics.median(refresh):.3f} s")


def report_self_times(workload, self_ms, n_traced):
    total = sum(self_ms.values()) or 1.0
    log(f"{workload}: self time per layer, mean over {n_traced} traced pass(es)")
    for layer, ms in sorted(self_ms.items(), key=lambda kv: -kv[1]):
        log(f"  {layer:12s} {ms / n_traced / 1e3:8.3f} s  {100 * ms / total:5.1f}%")


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 - any failure is a failed run
        log(f"error: {e}")
        sys.exit(1)
