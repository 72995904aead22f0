"""Turn one run's recorded samples, spans and engine events into the
end-to-end and per-layer metrics named in BENCHMARK.json."""
import collections

from . import stats

MB = 1 << 20
MISS_VALUE = 1e9  # a latency that is a miss (failed call): no JSON infinity

COMMIT_KINDS = {  # per-layer name -> commit sample kinds
    "upsert": ("upsert",), "merge": ("merge",),
    "delete": ("delete_keys", "delete_where"), "partial_upsert": ("partial_upsert",),
    "compact": ("compact",), "clean": ("clean",), "checkpoint": ("checkpoint",)}
FS_OPS = {"create": ("create",), "open": ("open",), "list": ("list", "glob"),
          "status": ("status",), "rename": ("rename",), "delete": ("delete",)}
MODULES = ("operators", "dedup", "ann", "text", "pipeline")


def _finite(v):
    return MISS_VALUE if v == stats.MISS else v


def _p50_tail(samples, name):
    lat = stats.latencies(samples)
    out, detail = {}, {}
    if lat:
        out[f"{name}_p50_s"] = _finite(stats.median(lat))
        # with fewer than 20 samples no percentile leaves ten beyond it; the
        # median is then the highest one the run supports (the slowest of a
        # handful of calls moved 30 % from run to run). The schedules are
        # fixed, so every run of a workload lands on the same percentile.
        t = stats.tail(lat) or (stats.percentile(lat, 50.0), 50.0, len(lat))
        out[f"{name}_tail_s"] = _finite(t[0])
        detail[f"{name}_tail"] = {"percentile": t[1], "samples": t[2]}
    return out, detail


def end_to_end(run, extra):
    """`run`: dict with summary, samples; `extra`: launch/session times and
    the plain-parquet byte counts the runner measured."""
    summ, samples = run["summary"], run["samples"]
    timed = [s for s in samples if s["phase"] == "timed"]
    commits = [s for s in timed if s["cls"] == "commit"]
    reads = [s for s in timed if s["cls"] == "read"]
    m, detail = {}, {}
    m["setup_s"] = extra["session_s"] + summ["warmup_s"] + stats.median(summ["build_s"])
    m["heap_peak_mb"] = max(summ["heap_old_bytes"]) / MB
    for part, name in ((commits, "commit"), (reads, "read")):
        v, d = _p50_tail(part, name)
        m.update(v)
        detail.update(d)
    ok_commits = [s for s in commits if s["ok"]]
    busy = sum(s["dur_s"] for s in timed)  # the client's wall time in calls
    m["commit_rows_per_s"] = sum(s.get("rows", 0) for s in ok_commits) / busy
    m["write_amp"] = stats.write_amp([s.get("created_bytes", 0) for s in ok_commits],
                                     [s.get("batch_bytes", 0) for s in ok_commits])
    m["space_amp"] = stats.space_amp(list(summ["end"]["live_bytes"].values()),
                                     extra["model_plain_bytes"])
    m["reads_per_s"] = sum(1 for s in reads if s["ok"]) / busy
    m["batch_s"] = _finite(batch_s(timed))
    attempted, failed, rate, classes = stats.error_accounting(timed)
    detail.update({"samples": {"commit": len(commits), "read": len(reads)},
                   "error_rate": rate, "exceptions": classes,
                   "timed_wall_s": (summ["timed_t1_us"] - summ["timed_t0_us"]) / 1e6})
    return m, detail, attempted, failed


def batch_s(timed):
    """Time of the run's batch calls (its one cycle); a miss if one failed."""
    batch = [s for s in timed if s["in_batch"]]
    return sum(s["dur_s"] for s in batch) if all(s["ok"] for s in batch) else stats.MISS


# ------------------------------------------------------------- per layer

def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs):
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def plan_ms_by_span(calls, plans):
    """Planning time (ms) per call span. The query-execution listener is the
    one source of planning time; its events carry no span, so each goes to
    the call running when its first phase started: the last call started by
    then (starts compared at the event's millisecond resolution) that had not
    yet ended."""
    out = collections.defaultdict(float)
    for p in plans:
        running = [s for s in calls
                   if s["t0_us"] // 1000 * 1000 <= p["t0_us"] <= s["t0_us"] + s["dur_s"] * 1e6]
        if running:
            out[max(running, key=lambda s: s["t0_us"])["span"]] += p["plan_ms"]
    return out


def per_layer(run, cores, e2e_detail):
    timed = [s for s in run["samples"] if s["phase"] == "timed" and "span" in s]
    commits = [s for s in timed if s["cls"] == "commit"]
    reads = [s for s in timed if s["cls"] == "read"]
    jobs_by = collections.defaultdict(list)
    for j in run["jobs"]:
        if "t1_us" in j:
            jobs_by[j["parent"]].append((j["t0_us"], j["t1_us"]))
    stages_by = collections.defaultdict(list)
    for st in run["stages"]:
        stages_by[st["parent"]].append(st)
    calls = sorted(timed, key=lambda s: s["t0_us"])
    plan_by = plan_ms_by_span(calls, run["plans"])

    def self_s(s):
        t0 = s["t0_us"]
        return stats.self_time((t0, t0 + s["dur_s"] * 1e6), jobs_by[s["span"]]) / 1e6

    def stage_sum(s, key):
        return sum(st.get(key, 0) for st in stages_by[s["span"]])

    ops = [s for s in calls if s["ok"]]
    m = {}
    m["tables.commit_self_s"] = _med(self_s(s) for s in commits if s["ok"])
    for name, kinds in COMMIT_KINDS.items():
        m[f"tables.{name}_s"] = _med(s["dur_s"] for s in commits if s["kind"] in kinds and s["ok"])
    m["tables.files_added"] = _mean(s["files_added"] for s in commits if "files_added" in s)
    m["tables.files_removed"] = _mean(s["files_removed"] for s in commits if "files_removed" in s)
    end = run["summary"]["end"]
    m["tables.live_files"] = sum(end["live_files"].values())
    m["tables.timeline_instants"] = sum(end["timeline_instants"].values())
    m["tables.lock_retries"] = sum(s["lock_retries"] for s in timed)
    m["tables.read_self_s"] = _med(self_s(s) for s in reads if s["ok"])
    m["tables.files_scanned_frac"] = _mean(s["files_scanned"] / s["live_files"] for s in reads
                                           if s.get("live_files"))
    m["tables.point_lookup_s"] = _med(s["dur_s"] for s in reads if s["kind"] == "read_back" and s["ok"])
    for name, keys in FS_OPS.items():
        m[f"sources.fs_{name}"] = _mean(sum(s["fs"].get(k, 0) for k in keys) for s in ops)
    m["sources.bytes_written"] = _mean(s.get("created_bytes", 0) for s in commits if s["ok"])
    m["sources.bytes_read"] = _mean(stage_sum(s, "input_bytes") for s in ops)
    m["engine.plan_ms"] = _mean(plan_by[s["span"]] for s in ops)
    m["engine.jobs"] = _mean(len(jobs_by[s["span"]]) for s in ops)
    m["engine.stages"] = _mean(len(stages_by[s["span"]]) for s in ops)
    m["engine.tasks"] = _mean(stage_sum(s, "tasks") for s in ops)
    task_s = [stage_sum(s, "run_ms") / 1e3 for s in ops]
    m["engine.task_s"] = _mean(task_s)
    m["engine.cpu_s"] = _mean(stage_sum(s, "cpu_ns") / 1e9 for s in ops)
    m["engine.fixed_s"] = _mean(s["dur_s"] - t / cores for s, t in zip(ops, task_s))
    wall = sum(s["dur_s"] for s in ops)
    m["engine.busy_frac"] = sum(task_s) / (wall * cores) if wall else 0.0
    m["engine.shuffle_write_bytes"] = _mean(stage_sum(s, "shuffle_write") for s in ops)
    m["engine.shuffle_read_bytes"] = _mean(stage_sum(s, "shuffle_read") for s in ops)
    m["engine.spill_bytes"] = _mean(stage_sum(s, "spill") for s in ops)
    m["engine.gc_ms"] = _mean(s["gc_ms"] for s in ops)
    m["engine.persisted_rdds_end"] = max((s["persisted_rdds"] for s in ops), default=0)
    for mod in MODULES:
        m[f"{mod}.s"] = sum(s["dur_s"] for s in timed if s["layer"] == mod)
    for op in sorted({s["kind"] for s in timed if s["layer"] in MODULES}):
        m[f"op.{op}_s"] = _med(s["dur_s"] for s in timed if s["kind"] == op and s["ok"])
    m["error_rate"] = e2e_detail["error_rate"]
    return m
