"""Untimed output checks that run in Python: the lake_ingest model
comparison and the analytics_batch DuckDB oracle."""
import collections
import datetime
import glob
import json
import os

import duckdb
import pyarrow.parquet as pq

from . import gen

_EPOCH = datetime.datetime(1970, 1, 1)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _us(v):
    return (v - _EPOCH) // datetime.timedelta(microseconds=1) if isinstance(v, datetime.datetime) else v


def _row(r, cols=gen.LakeModel.COLS):
    return tuple(_us(r[c]) for c in cols)


def _parquet_rows(path, cols):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return []
    return [r for f in files for r in pq.read_table(f, columns=cols).to_pylist()]


def _compare(name, got, want):
    g, w = collections.Counter(got), collections.Counter(want)
    if g == w:
        return name, True, f"{len(got)} rows"
    return name, False, (f"{len(got)} rows, want {len(want)}; "
                         f"{sum((g - w).values())} unexpected, {sum((w - g).values())} missing")


def lake_ingest(inputs, out, samples):
    """Replay the steps each table committed on a plain-Python model and
    compare snapshots, the COW change feed, and every read-back."""
    manifest = json.load(open(f"{inputs}/manifest.json"))
    steps = manifest["steps"]
    base = pq.read_table(f"{inputs}/base.parquet")
    batches = {}

    def batch(step):
        if "file" not in step:
            return None
        if step["file"] not in batches:
            batches[step["file"]] = pq.read_table(f"{inputs}/{step['file']}").to_pylist()
        return batches[step["file"]]

    results, models, cdc = [], {}, []
    for table in ("cow", "mor"):
        model = gen.LakeModel(base)
        bad_reads = 0
        for s in samples:
            if s["table"] != table or s["phase"] != "timed":
                continue
            if s["cls"] == "commit" and "step" in s and s["ok"]:
                step = steps[s["step"]]
                images = model.apply(step, batch(step))
                if table == "cow":
                    cdc += [(s["instant"], im["_change_type"], _row(im)) for im in images]
            elif s["kind"] == "read_back" and s["ok"]:
                want = sorted(_row(model.rows[k]) for k in s["keys"] if k in model.rows)
                got = sorted(_row(r) for r in s.get("result", []))
                bad_reads += got != want
        models[table] = model
        snap = [_row(r) for r in _parquet_rows(f"{out}/{table}_snapshot", gen.LakeModel.COLS)]
        results.append(_compare(f"{table}_snapshot", snap, [_row(r) for r in model.rows.values()]))
        results.append((f"{table}_read_back", bad_reads == 0, f"{bad_reads} mismatched read-backs"))
    got_cdc = [(r["_commit"], r["_change_type"], _row(r)) for r in
               _parquet_rows(f"{out}/cow_cdc", gen.LakeModel.COLS + ["_change_type", "_commit"])]
    results.append(_compare("cow_cdc", got_cdc, cdc))
    return results, models


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _naive_utc(col):
    """Spark writes session timestamps as UTC instants and DuckDB reads
    them zone-aware; the oracle's timestamps are zone-less. Compare both
    as zone-less UTC wall-clock values."""
    tz = getattr(getattr(col, "dt", None), "tz", None) if str(col.dtype).startswith("datetime") else None
    return col.dt.tz_convert("UTC").dt.tz_localize(None) if tz is not None else col


def analytics(inputs, out_dir, oracle_path, ops):
    """Each output with an oracle must equal DuckDB's answer over the
    generated input; an output without one must be non-empty."""
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    results = []
    for op in ops:
        path = f"{out_dir}/{op}"
        got = con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()
        if op not in oracle:
            results.append((op, len(got) > 0, f"{len(got)} rows, no oracle"))
            continue
        want = con.execute(oracle[op]).fetchdf()
        g, w = _norm(got), _norm(want)
        if list(g.columns) != list(w.columns) or len(g) != len(w):
            results.append((op, False, f"shape {g.shape} {list(g.columns)} != {w.shape} {list(w.columns)}"))
            continue
        bad = []
        for c in g.columns:
            a, b = _naive_utc(g[c]), _naive_utc(w[c])
            try:
                eq = (a.isna() & b.isna()) | (a == b)
            except (TypeError, ValueError):
                eq = a.astype(str) == b.astype(str)
            if not bool(eq.all()):
                bad.append(c)
        results.append((op, not bad and len(g) > 0,
                        f"{len(g)} rows" + (f", mismatch in {bad}" if bad else "")))
    con.close()
    return results


def model_snapshot_bytes(model, path):
    """Size of the model's snapshot written once as plain parquet."""
    pq.write_table(model.table(), path)
    return os.path.getsize(path)

