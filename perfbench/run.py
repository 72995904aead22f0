#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload lake_ingest|analytics_batch
      --seed N --seconds S --trace 0|1 [--fail-every N]

Builds the program from source (once per source state), generates the
workload's inputs from the seed, runs the JVM side (perfbench.Main), checks
every output, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, the per-layer metrics with `--trace 1`.
A traced run reports tracing overhead: its end-to-end figures minus the
median of the stored untraced results of the same code. `--fail-every N`
makes every Nth timed call throw (a smoke test of the failure accounting).

Every run does the same fixed work (the generated schedule), whatever
`--seconds` says: sample counts, tail percentiles and table state must not
depend on how fast the program is. `--seconds` is recorded with the result.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import checks, gen, jvm, report  # noqa: E402

WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def fail(msg, code):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def unit_of(spec, name):
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            if m["name"] == name:
                return m["unit"]
    return ""


def read_lines(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return []


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(a, run_dir, inputs, traced, deadline):
    for d in ("tables", "out", "result", "tmp", "spark-local", "warmup", "lake", "setup"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    args = ["--workload", a.workload, "--inputs", inputs, "--work", run_dir,
            "--trace", "1" if traced else "0",
            "--fail-every", str(a.fail_every), "--seed", str(a.seed)]
    cmd = jvm.command(ROOT, os.path.join(run_dir, "tmp"), args)
    launched = time.time()
    try:
        code = jvm.run(cmd, {"SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local")},
                       os.path.join(run_dir, "jvm.log"), max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"JVM did not finish in time; log: {run_dir}/jvm.log", 4)
    if code != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-3000:])
        fail(f"JVM exited with {code}; log: {run_dir}/jvm.log", 5)
    res = os.path.join(run_dir, "result")
    run = {"summary": json.load(open(f"{res}/summary.json"))}
    for name in ("samples", "spans", "jobs", "stages", "plans"):
        run[name] = read_lines(f"{res}/{name}.jsonl")
    session_s = run["summary"]["session_ready_ms"] / 1e3 - launched
    return run, session_s


def check_and_measure(a, run, inputs, run_dir):
    """Output checks, plus the plain-parquet sizes the amplification
    ratios divide by."""
    summ = run["summary"]
    results = [(c["name"], c["ok"], c["detail"]) for c in summ["checks"]]
    scratch = os.path.join(run_dir, "tmp")
    if a.workload == "lake_ingest":
        r, models = checks.lake_ingest(inputs, os.path.join(run_dir, "out"), run["samples"])
        results += r
        plain = [checks.model_snapshot_bytes(models[t], f"{scratch}/model_{t}.parquet")
                 for t in ("cow", "mor")]
    else:
        out = summ["end"]["out_dir"]
        results += checks.analytics(inputs, out, os.path.join(run_dir, "out", "oracle_sql.json"),
                                    sorted(os.listdir(out)))
        plain = [summ["end"]["plain_bytes"]]
    return results, plain


def one_run(a, traced, deadline):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)  # bench-owned state, wiped every run
    inputs = os.path.join(WORK, "inputs", a.workload)
    shutil.rmtree(inputs, ignore_errors=True)
    t0 = time.time()
    gen.generate(a.workload, a.seed, inputs)
    t1 = time.time()
    run, session_s = run_jvm(a, run_dir, inputs, traced, deadline)
    t2 = time.time()
    results, plain = check_and_measure(a, run, inputs, run_dir)
    e2e, detail, attempted, failed = report.end_to_end(
        run, {"session_s": session_s, "model_plain_bytes": plain})
    layers = report.per_layer(run, run["summary"]["cores"], detail) if traced else {}
    detail["phases_s"] = {"generate": t1 - t0, "jvm": t2 - t1, "check": time.time() - t2,
                          "jvm_check": run["summary"]["check_s"]}
    return {"e2e": e2e, "detail": detail, "layers": layers, "checks": results,
            "attempted": attempted, "failed": failed, "summary": run["summary"]}


def untraced_medians(workload, code_stamp):
    """Per-metric medians of the stored untraced results of this workload
    on this code, with how many there were; (None, None) if none."""
    runs = []
    for f in sorted(glob.glob(os.path.join(WORK, "results", f"{workload}-*-t0-*.json"))):
        r = json.load(open(f))
        if r.get("code_stamp") == code_stamp and r["failed"] == 0 and not r.get("fail_every"):
            runs.append(r["end_to_end"])
    if not runs:
        return None, None
    return ({k: statistics.median(r[k] for r in runs) for k in runs[0]},
            f"median of {len(runs)} untraced runs")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fail-every", type=int, default=0)
    a = p.parse_args()
    t_start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(spec_path)):
        fail(f"{ROOT} is not a graft checkout (no build.sbt, src/main/scala/graft "
             "or BENCHMARK.json); nothing to measure", 2)
    spec = json.load(open(spec_path))
    os.makedirs(WORK, exist_ok=True)
    load0 = loadavg()
    try:
        jvm.build(ROOT, os.path.join(WORK, "build.log"), BUILD_LIMIT_S)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        fail(str(e), 3)
    deadline = time.time() + RUN_LIMIT_S
    code_stamp = jvm.stamp(ROOT)
    res = one_run(a, bool(a.trace), deadline)
    base, base_from, overhead = None, None, None
    if a.trace:
        # tracing overhead: traced minus untraced end-to-end figures, the
        # untraced side being the median of this code's stored untraced runs
        # (none yet: run --trace 0 first; a second JVM here would double the
        # run's time)
        base, base_from = untraced_medians(a.workload, code_stamp)
        if base:
            overhead = {k: res["e2e"][k] - base[k] for k in base}
        else:
            print("tracing overhead: no untraced run of this code stored yet")

    ok = all(c[1] for c in res["checks"])
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    values = res["layers"] if a.trace else res["e2e"]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": unit_of(spec, n)} for n in names}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "fail_every": a.fail_every,
        "git_commit": git_commit(), "nproc": res["summary"]["cores"], "loadavg_start": load0,
        "loadavg_end": loadavg(), "java_version": res["summary"]["java_version"],
        "spark_version": res["summary"]["spark_version"], "build_and_run_s": time.time() - t_start,
        "code_stamp": code_stamp, "end_to_end": res["e2e"], "end_to_end_untraced": base,
        "untraced_from": base_from, "tracing_overhead": overhead,
        "per_layer": res["layers"], "detail": res["detail"],
        "checks": [{"name": n, "ok": o, "detail": d} for n, o, d in res["checks"]],
        "attempted": res["attempted"], "failed": res["failed"]}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results",
                       f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for c in res["checks"]:
        if not c[1]:
            print(f"CHECK FAILED {c[0]}: {c[2]}")
    for k, v in sorted(res["e2e"].items()):
        print(f"{k} = {v:.6g} {unit_of(spec, k)}")
    print(f"detail: {json.dumps(res['detail'])}")
    if overhead:
        print(f"tracing overhead (traced - untraced, untraced = {base_from}): " +
              ", ".join(f"{k} {v:+.4g}" for k, v in sorted(overhead.items())))
    print(f"result: {out}")
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
