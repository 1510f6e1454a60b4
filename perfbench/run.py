"""perfbench: graft's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload {warehouse,llm_curation}
        --seed N --seconds S --trace {0,1}

Run from the repository root. It builds graft plus the harness from
source (`perfbench/build.py`), generates the workload's inputs from the
seed (`perfbench/gen.py`), runs the harness JVM, checks the outputs
(`perfbench/check.py`) and prints a report whose last line is one JSON
object: `correct`, `attempted`, `failed`, and `metrics` — the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
Everything it writes stays under `.bench_build/`; the spans of a traced
run are kept in `.bench_build/traces/`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 150
SETUPS = 3
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_pressure():
    """`some avg10` of /proc/pressure/cpu, or None where PSI is absent."""
    try:
        with open("/proc/pressure/cpu") as f:
            return float(f.readline().split()[1].split("=")[1])
    except (OSError, IndexError, ValueError):
        return None


def percentile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def passes(res):
    """Set-up, cold-pass (pass 0) and warm-pass figures; warm ones are
    medians over the untraced warm passes."""
    warm = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    return {
        "setup_s": statistics.median(s["total"] for s in res["setups"]),
        "cold_pass_s": res["passes"][0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
    }


def op_latency(res):
    """Per-op latency over the warm passes, with the sample count."""
    ok = [o["seconds"] for o in res["ops"] if o["error"] is None and o["pass"] > 0]
    if not ok:
        return {"op_p50_s": 0.0, "op_p90_s": 0.0, "op_samples": 0.0}
    return {"op_p50_s": statistics.median(ok), "op_p90_s": percentile(ok, 0.9),
            "op_samples": float(len(ok))}


def per_layer(res, extra):
    m = dict(res.get("layers") or {})
    m.update({k: float(v) for k, v in res["cache_peaks"].items()})
    m.update({k: float(v) for k, v in res["leaks"].items()})
    m["cache.bytes_after"] = float(res["leaks"]["leak.cached_bytes"])
    m["retained_bytes"] = float(res["leaks"]["leak.cached_bytes"] +
                                res["leaks"]["leak.scratch_bytes"])
    m["datatests.violations"] = float(res["violations"])
    m["peak_rss_mb"] = res["peak_rss_mb"]
    m.update(op_latency(res))
    m.update(passes(res))
    m.update(extra)
    return m


def run(args):
    root = os.getcwd()
    bench = spec()
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    work = os.path.join(root, ".bench_build")
    classes = build.build(root, os.path.join(work, "classes"))
    rundir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    data, out, tmp = (os.path.join(rundir, d) for d in ("data", "out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d)
    try:
        inputs = gen.generate(args.workload, args.seed, data)
        cpus = len(os.sched_getaffinity(0))
        jars = build.spark_jars()
        cmd = (["java"] + ADD_OPENS +
               ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                "perfbench.Main", args.workload, data, out, str(args.seconds),
                str(args.trace), str(args.seed), str(cpus), str(SETUPS)])
        psi0 = cpu_pressure()
        log = open(os.path.join(rundir, "jvm.log"), "w")
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        finally:
            log.close()
        psi1 = cpu_pressure()
        result_path = os.path.join(out, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(os.path.join(rundir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
        with open(result_path) as f:
            res = json.load(f)
        t0 = time.time()
        fails, recall = check.check(args.workload, data, out, res)
        check_s = res["check_s"] + time.time() - t0
        op_errors = [o for o in res["ops"] if o["error"] is not None]
        attempted = len(res["ops"]) + 1  # the output check is one more operation
        failed = len(op_errors) + (1 if fails else 0)
        extra = {
            "error_rate": failed / attempted,
            "contention.peers": float(len(res["peers"])),
            "contention.cpu_psi_avg10": max(x for x in (psi0, psi1, 0.0) if x is not None),
            "check_s": check_s,
            "input_bytes": float(inputs["parquet_bytes"]),
            # recall of the approximate dedup operator against the exact answer
            "dedup.recall": min(recall.values(), default=0.0),
        }
        if args.trace:
            metrics = per_layer(res, extra)
            trace_dir = os.path.join(work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"), os.path.join(
                trace_dir, f"{args.workload}-{args.seed}.spans.json"))
        else:
            metrics = passes(res)
        wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
        report(args, res, metrics, fails, op_errors, extra)
        return {
            "correct": not fails and not op_errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": units[k]}
                        for k in wanted},
        }
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def report(args, res, metrics, fails, op_errors, extra):
    """Human-readable lines ahead of the JSON line."""
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(res['passes'])} passes, {len(res['ops'])} ops, "
          f"error_rate={extra['error_rate']:.4f}, peers={len(res['peers'])}, "
          f"cpu_psi_avg10={extra['contention.cpu_psi_avg10']}")
    print("  setups: " + ", ".join(
        f"{s['total']:.2f}s (session {s['session']:.2f}, register {s['register']:.2f}, "
        f"warm-up {s['warmup']:.2f})" for s in res["setups"]) +
          "; passes: " + ", ".join(f"{p['wall_s']:.2f}s" for p in res["passes"]) +
          f"; output checks: {extra['check_s']:.2f}s")
    for o in op_errors:
        print(f"  failed op: {o['name']}: {o['error']}")
    for f in fails:
        print(f"  failed check: {f}")
    for k in sorted(metrics):
        print(f"  {k} = {metrics[k]:.6g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    print(json.dumps(run(args)))


if __name__ == "__main__":
    main()
