"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload promql_range --seed 1 --seconds 10 --trace 0

Builds graft and the harness if needed (perfbench/build.py), generates
the seed's inputs once (perfbench/gen.py, cached under .perfbench/data),
runs the harness JVM on local[<cores>] with a fresh store root, and
prints each metric by name and unit. The last line is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits nonzero when an output check fails.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 165


def calibrate():
    """Seconds for a fixed pure-Python CPU kernel (median of 5): a
    host-speed stamp taken inside each record."""
    def kernel():
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += (i * i) % 7
        return time.perf_counter() - t
    return statistics.median(kernel() for _ in range(5))


class LoadSampler(threading.Thread):
    """Maximum 1-minute loadavg, sampled every half second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.max = os.getloadavg()[0]
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.5):
            self.max = max(self.max, os.getloadavg()[0])


def data_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in gen.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")

    java = build.jvm()
    data, knobs = gen.cached(a.workload, a.seed, WORK)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    calib_s = calibrate()
    load = LoadSampler()
    load.start()
    cmd = (java[:1] + [f"-Djava.io.tmpdir={run_dir}/tmp"] + java[1:] +
           ["perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--run", run_dir])
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    load.done.set()
    load.join()

    rec_path = os.path.join(run_dir, "record.json")
    if rc != 0 or not os.path.isfile(rec_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(rec_path) as f:
        rec = json.load(f)
    rec["host"] = dict(calibration_s=calib_s, loadavg_max=load.max,
                       cpus=os.cpu_count(),
                       inputs_bytes=data_bytes(data),
                       page_cache_note="inputs are a few MB and stay in the OS page "
                                       "cache: latencies reflect memory-resident reads, "
                                       "not a storage device")
    rec["inputs"] = knobs

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if a.trace:
        # tracing overhead: against the untraced run of the same
        # workload and seed, when this checkout has one
        base = os.path.join(results, f"{a.workload}-{a.seed}-t0.json")
        if os.path.isfile(base):
            with open(base) as f:
                plain = json.load(f)["end_to_end"]["op_p50_ms"]
            rec["trace_overhead_frac"] = rec["end_to_end"]["op_p50_ms"] / plain - 1.0
        else:
            rec["trace_overhead_frac"] = None
        wanted = spec["per_layer"]
        got = rec["per_layer"]
    else:
        wanted = spec["end_to_end"]
        got = rec["end_to_end"]
    # a layer the workload bypasses reports 0
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    spans = os.path.join(run_dir, "spans.json")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(results, f"{a.workload}-{a.seed}-spans.json"))
    with open(os.path.join(results, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    for c in rec["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    for n, v in sorted(rec["detail"].items()):
        print(f"detail {n} = {v:.6g}")
    for n, v in sorted(rec["per_layer"].items()):
        print(f"layer {n} = {v:.6g}")
    if a.trace:
        o = rec["trace_overhead_frac"]
        print("tracing overhead = " + (f"{o:.4f} of the untraced op_p50_ms" if o is not None
              else f"absent (no untraced run of seed {a.seed} in this checkout)"))
    s = rec["samples"]
    print(f"ops {rec['attempted']} attempted, {rec['failed']} failed; "
          f"tail = p{s['op_tail_pct']:.1f} of n={s['op_n']}; "
          f"calibration {calib_s:.4f} s; max loadavg {load.max:.2f}")
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
