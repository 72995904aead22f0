"""Seeded input generator.

Every input the program sees is made here from the workload seed: the
TPC-H-style tables (same schemas and value ranges as the repository's
sf0.1 test data, fewer rows), the commit batches of lake_ingest, and the
two-copy analytics input. The same seed gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, the sf0.1 order-date range
EVENTS_T0 = np.datetime64("2024-01-01", "us").astype(np.int64)

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
WORDS = np.array(
    "a the of and to in is for on with spark batch part line column order "
    "small sort fast value scan hash slow group agg filter query big key "
    "window row table stream merge data join vector customer".split())

# Sizes are picked to fit a run into about a minute on 4 cores, not taken
# from a reference workload; perfbench/README.md relates each to sf0.1.

# lake_ingest
LAKE_BASE_ROWS = 24_000
BATCH_ROWS = 1_000
INGEST_STEPS = 5  # one pass of INGEST_CYCLE; a run applies every step
RECENT_TAU_DAYS = 60.0  # key skew: weight exp((day - max_day) / tau)
INGEST_CYCLE = ["upsert", "merge", "delete_keys", "delete_where", "partial_upsert"]

# analytics_batch
ANALYTICS_COPIES = 2
ANALYTICS_BASE = dict(orders=30_000, customer=3_000, supplier=200, part=4_000,
                      events=40_000, documents=2_000, embeddings=1_500)
NEAR_DUP_RATE = 0.08
EXACT_DUP_RATE = 0.03
EMBED_DIM = 64


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --------------------------------------------------------------- orders

def orders_table(rng, keys, custkeys):
    n = len(keys)
    days = rng.integers(0, ORDER_DAYS, n)
    return pa.table({
        "o_orderkey": pa.array(keys, type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, custkeys, n), type=pa.int64()),
        "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _ts(EPOCH_1995 + days * DAY_US),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
    })


class LakeModel:
    """Row state of one keyed orders table, as plain Python: the expected
    result of every commit step, kept beside the program's answer."""

    COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]

    def __init__(self, base: pa.Table):
        self.rows = {}
        self.day = {}  # order day number per live key, for the key skew
        for r in base.to_pylist():
            self._put(r)
        self.next_key = max(self.rows) + 1

    def _put(self, r):
        k = r["o_orderkey"]
        self.rows[k] = r
        self.day[k] = (r["o_orderdate"] - _DT0).days

    def _pop(self, k):
        self.day.pop(k)
        return self.rows.pop(k)

    def live_keys_and_days(self):
        n = len(self.day)
        return (np.fromiter(self.day.keys(), dtype=np.int64, count=n),
                np.fromiter(self.day.values(), dtype=np.int64, count=n))

    def apply(self, step, batch):
        """Apply one step; return its change images (CDC) as dicts."""
        images = []
        op = step["op"]
        if op in ("upsert", "merge"):
            for r in batch:
                old = self.rows.get(r["o_orderkey"])
                if old is None:
                    images.append(dict(r, _change_type="insert"))
                else:
                    images.append(dict(old, _change_type="update_preimage"))
                    images.append(dict(r, _change_type="update_postimage"))
                self._put(r)
        elif op == "partial_upsert":
            for r in batch:
                old = self.rows.get(r["o_orderkey"])
                if old is None:
                    new = r
                    images.append(dict(new, _change_type="insert"))
                else:
                    new = {c: (old[c] if r[c] is None else r[c]) for c in self.COLS}
                    images.append(dict(old, _change_type="update_preimage"))
                    images.append(dict(new, _change_type="update_postimage"))
                self._put(new)
        elif op == "delete_keys":
            for r in batch:
                if r["o_orderkey"] in self.rows:
                    images.append(dict(self._pop(r["o_orderkey"]), _change_type="delete"))
        elif op == "delete_where":
            lo = np.datetime64(step["lo"]).astype("datetime64[us]").astype(object)
            doomed = [k for k, r in self.rows.items()
                      if k % step["mod"] == step["rem"] and r["o_orderdate"] >= lo]
            for k in doomed:
                images.append(dict(self._pop(k), _change_type="delete"))
        else:
            raise ValueError(op)
        return images

    def table(self):
        keys = sorted(self.rows)
        return pa.table({c: [self.rows[k][c] for k in keys] for c in self.COLS},
                        schema=_ORDERS_SCHEMA)


_DT0 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(object)
_ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])


def where_sql(step):
    return (f"o_orderkey % {step['mod']} = {step['rem']} AND "
            f"o_orderdate >= TIMESTAMP '{step['lo']} 00:00:00'")


def _skewed_keys(rng, model, n):
    """n distinct live keys, skewed toward recent order dates."""
    keys, days = model.live_keys_and_days()
    w = np.exp((days - ORDER_DAYS) / RECENT_TAU_DAYS)
    return rng.choice(keys, size=min(n, len(keys)), replace=False, p=w / w.sum())


def _step_batch(rng, model, op, custkeys):
    if op == "delete_where":
        # a residue class of keys in the most recent year
        lo = np.datetime64("1995-01-01") + ORDER_DAYS - 365
        step = {"op": op, "mod": int(rng.integers(40, 60)),
                "rem": int(rng.integers(0, 40)), "lo": str(lo)}
        step["sql"] = where_sql(step)
        return step, None
    if op == "delete_keys":
        keys = _skewed_keys(rng, model, BATCH_ROWS // 4)
        return {"op": op}, pa.table({"o_orderkey": pa.array(keys, type=pa.int64())})
    if op == "merge":
        n_new = BATCH_ROWS // 2
        old = _skewed_keys(rng, model, BATCH_ROWS - n_new)
        new = np.arange(model.next_key, model.next_key + n_new, dtype=np.int64)
        model.next_key += n_new
        keys = np.concatenate([old, new])
    else:
        keys = _skewed_keys(rng, model, BATCH_ROWS)
    t = orders_table(rng, keys, custkeys)
    # an update keeps the order date of the stored row: the partition of
    # a key never moves
    old_dates = [model.rows[k]["o_orderdate"] if k in model.rows else None for k in keys]
    dates = [d if d is not None else t.column("o_orderdate")[i].as_py()
             for i, d in enumerate(old_dates)]
    # new keys land in the most recent months
    dates = [d if old_dates[i] is not None else
             (_DT0 + np.timedelta64(int(ORDER_DAYS - 1 - rng.integers(0, 180)), "D")
              .astype("timedelta64[us]").astype(object))
             for i, d in enumerate(dates)]
    t = t.set_column(4, "o_orderdate", pa.array(dates, type=pa.timestamp("us")))
    if op == "partial_upsert":
        cols = {}
        for name in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"):
            c = t.column(name).to_pylist()
            mask = rng.random(len(c)) < 0.5
            cols[name] = [None if m else x for x, m in zip(c, mask)]
        for name, vals in cols.items():
            t = t.set_column(t.schema.get_field_index(name), name,
                             pa.array(vals, type=t.schema.field(name).type))
    return {"op": op}, t.cast(_ORDERS_SCHEMA)


def gen_ingest(seed, out):
    """The base table, INGEST_STEPS commit batches, and the manifest."""
    rng = np.random.default_rng([seed, 1])
    custkeys = 3_000
    base = orders_table(rng, np.arange(LAKE_BASE_ROWS, dtype=np.int64), custkeys)
    _write(base, f"{out}/base.parquet")
    model = LakeModel(base)
    steps = []
    for i in range(INGEST_STEPS):
        step, batch = _step_batch(rng, model, INGEST_CYCLE[i % len(INGEST_CYCLE)], custkeys)
        step["i"] = i
        if batch is not None:
            step["file"] = f"batch_{i:04d}.parquet"
            step["rows"] = batch.num_rows
            _write(batch, f"{out}/{step['file']}")
        # keys the client reads after the commit: recent keys from before
        # it, then its own write (the batch keys, or for a predicate delete
        # the keys it removed)
        recent = [[int(k) for k in _skewed_keys(rng, model, 10)]]
        images = model.apply(step, batch.to_pylist() if batch is not None else None)
        own = (batch.column("o_orderkey").to_pylist() if batch is not None
               else [r["o_orderkey"] for r in images])
        step["probes"] = recent + [[int(k) for k in own[:10]]]
        steps.append(step)
    _json(f"{out}/manifest.json", {"steps": steps, "base_rows": LAKE_BASE_ROWS,
                                   "batch_rows": BATCH_ROWS})


# ------------------------------------------------------------ analytics

def gen_analytics(seed, out):
    """The sf0.1 table set at reduced size (ANALYTICS_BASE rows per copy),
    made from the seed as ANALYTICS_COPIES key-shifted copies, with planted
    near duplicates; and, for the untimed warm-up, one copy at half the
    rows: the same operators and plans over a quarter of the data."""
    _analytics_tables(seed, out, ANALYTICS_BASE, ANALYTICS_COPIES)
    _analytics_tables(seed, f"{out}/warmup", {t: k // 2 for t, k in ANALYTICS_BASE.items()}, 1)


def _analytics_tables(seed, out, n, F):
    rng = np.random.default_rng([seed, 5])
    copies = {t: [] for t in ("region", "nation", "customer", "supplier", "part",
                              "orders", "lineitem", "events", "documents", "embeddings")}
    copies["region"].append(pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    copies["nation"].append(pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())}))
    for c in range(F):
        crng = np.random.default_rng([seed, 6, c])
        copies["customer"].append(_customer(crng, n["customer"], c * 10_000_000))
        copies["supplier"].append(_supplier(crng, n["supplier"], c * 100_000))
        copies["part"].append(_part(crng, n["part"], c * 1_000_000))
        o, li = _orders_lineitem(crng, n, c)
        copies["orders"].append(o)
        copies["lineitem"].append(li)
        copies["events"].append(_events(crng, n["events"], c))
        copies["documents"].append(_documents(crng, n["documents"], c))
        copies["embeddings"].append(_embeddings(rng, crng, n["embeddings"], c))
    sizes = {}
    for t, parts in copies.items():
        tab = pa.concat_tables(parts)
        _write(tab, f"{out}/{t}.parquet")
        sizes[t] = tab.num_rows
    _json(f"{out}/manifest.json", {"rows": sizes, "copies": F,
                                   "near_dup_rate": NEAR_DUP_RATE,
                                   "exact_dup_rate": EXACT_DUP_RATE})


def _customer(rng, n, shift):
    k = np.arange(n, dtype=np.int64) + shift
    return pa.table({
        "c_custkey": k, "c_name": [f"Customer#{x:09d}" for x in k],
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)]})


def _supplier(rng, n, shift):
    k = np.arange(n, dtype=np.int64) + shift
    return pa.table({
        "s_suppkey": k, "s_name": [f"Supplier#{x:09d}" for x in k],
        "s_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def _part(rng, n, shift):
    k = np.arange(n, dtype=np.int64) + shift
    adj = np.array(["large", "small", "red", "blue", "steel", "brass"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "plate", "valve"])
    return pa.table({
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n)], " "),
                              noun[rng.integers(0, 6, n)]),
        "p_brand": [f"Brand#{x}" for x in rng.integers(1, 56, n)],
        "p_type": PART_TYPES[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), type=pa.int32()),
        "p_retailprice": np.round(900 + (k % 1000) + rng.integers(0, 100, n) / 100, 2)})


def _orders_lineitem(rng, n, c):
    no = n["orders"]
    o = orders_table(rng, np.arange(no, dtype=np.int64) + c * 100_000_000, n["customer"])
    o = o.set_column(1, "o_custkey", pa.array(
        o.column("o_custkey").to_numpy() + c * 10_000_000, type=pa.int64()))
    per = rng.integers(1, 8, no)
    lk = np.repeat(o.column("o_orderkey").to_numpy(), per)
    ln = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    m = len(lk)
    odays = np.repeat((o.column("o_orderdate").to_numpy().astype(np.int64) - EPOCH_1995) // DAY_US, per)
    qty = rng.integers(1, 51, m).astype(np.float64)
    li = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, n["part"], m) + c * 1_000_000,
        "l_suppkey": rng.integers(0, n["supplier"], m) + c * 100_000,
        "l_linenumber": pa.array(ln, type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _ts(EPOCH_1995 + (odays + rng.integers(1, 122, m)) * DAY_US)})
    return o, li


def _events(rng, n, c):
    ts = np.sort(EVENTS_T0 + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64) + c * 1_000_000_000,
        "ts": _ts(ts),
        "user_id": rng.integers(0, 1500, n) + c * 10_000_000,
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(np.abs(rng.normal(100, 120, n)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, n, c):
    texts = []
    for _ in range(n):
        w = WORDS[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(w))
    # planted duplicates: exact copies and near copies (one word swapped)
    for i in range(n):
        u = rng.random()
        if i > 0 and u < EXACT_DUP_RATE:
            texts[i] = texts[int(rng.integers(0, i))]
        elif i > 0 and u < EXACT_DUP_RATE + NEAR_DUP_RATE:
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = str(WORDS[rng.integers(0, len(WORDS))])
            texts[i] = " ".join(w)
    if c:
        texts = [" ".join(f"{w}c{c}" for w in t.split(" ")) for t in texts]
    src = np.arange(n) % 20
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64) + c * 100_000_000,
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{s}" for s in src],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(shared_rng, rng, n, c):
    centers = np.random.default_rng(int(shared_rng.integers(1 << 30))).normal(0, 1, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    v = centers[labels] + rng.normal(0, 0.6, (n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    if c:
        v = v[:, rng.permutation(EMBED_DIM)] * rng.choice([-1.0, 1.0], EMBED_DIM)
    flat = pa.array(v.astype(np.float32).ravel(), type=pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64) + c * 100_000_000,
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat),
        "label": pa.array(labels, type=pa.int32())})


def _json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f)


GENERATORS = {"lake_ingest": gen_ingest, "analytics_batch": gen_analytics}


def generate(workload, seed, out):
    GENERATORS[workload](seed, out)
