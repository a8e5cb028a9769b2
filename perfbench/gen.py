"""Seeded input generation for the benchmark workloads.

Everything the program under test receives is made here from the
workload seed: the fixture tables of `query-mix`, the initial table and
the CDC change files of `stream-mor`, and the cold collections and the
request schedule of `kv-serve`. The same seed always gives the same
inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = "small red blue hot cold large old new".split()
PART_NOUN = "ring widget bolt plate gear rod anvil gizmo".split()
SEGMENTS = "HOUSEHOLD MACHINERY FURNITURE BUILDING AUTOMOBILE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = "LARGE ECONOMY SMALL STANDARD MEDIUM PROMO".split()
EVENT_TYPES = "error click view signup purchase".split()
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US = pa.timestamp("us")


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 24)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def fixtures(out_dir, seed, scale):
    """The star schema, `events`, `documents` and `embeddings` at `scale`
    (1.0 = 6M lineitems), one parquet file per table, in the fixture
    schemas the registry queries read. Returns the total bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_ev = int(1500000 * scale), int(1000000 * scale)
    n_doc, n_emb = max(200, int(50000 * scale)), max(200, int(20000 * scale))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out_dir}/part.parquet")

    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2400, n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 900.0, 450000.0, n_ord),
        "o_orderdate": pa.array(day0 + days.astype("timedelta64[D]"), US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]) if n_ord else np.array([])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = day0 + (np.repeat(days, lines) + rng.integers(1, 122, n_li)).astype("timedelta64[D]")
    perm = rng.permutation(n_li)
    _write(pa.table({
        "l_orderkey": pa.array(okey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship[perm], US)}),
        f"{out_dir}/lineitem.parquet")

    ev_start = np.datetime64("2024-01-01", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_start + ts.astype("timedelta64[us]"), US),
        "user_id": pa.array(rng.integers(0, max(15, int(15000 * scale)), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")

    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 10 and r < 0.10:
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[: max(3, len(src) // 2)] + ["dup"]))  # near duplicate
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(12, 90)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")
    return sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))


# ---- stream-mor: a time-series table and its CDC feed ----------------------

SERIES = 64          # series per time bucket
BUCKET_S = 3600      # one time bucket = one hour
DAY0 = dt.date(2024, 1, 1)

TS_SCHEMA = pa.schema([("day", pa.date32()), ("series", pa.int32()),
                       ("ts", pa.int64()), ("value", pa.int64())])
CDC_SCHEMA = pa.schema([("op", pa.string())] + list(TS_SCHEMA))


def _day_of(ts):
    return DAY0 + dt.timedelta(seconds=int(ts) // 86400)


class TsFeed:
    """Seeded generator of the `stream-mor` time series and its change feed,
    and at the same time the model the table is checked against: `rows`
    maps each key (series, ts) to its value after the changes generated so
    far. Inserts land at the head of time, updates and deletes hit recent
    buckets more often than old ones."""

    def __init__(self, seed, initial_buckets, points_per_bucket):
        self.rng = np.random.default_rng(seed)
        self.ppb = points_per_bucket
        self.rows = {}
        self.keys = []      # insertion-ordered live keys (with tombstones filtered lazily)
        self.head = 0       # next bucket index to insert into
        for _ in range(initial_buckets):
            self._insert_bucket()

    def _new_point(self, bucket):
        s = int(self.rng.integers(0, SERIES))
        ts = bucket * BUCKET_S + int(self.rng.integers(0, BUCKET_S))
        return s, ts

    def _insert_bucket(self):
        out = []
        for _ in range(self.ppb):
            k = self._new_point(self.head)
            if k in self.rows:
                continue
            v = int(self.rng.integers(0, 1_000_000))
            self.rows[k] = v
            self.keys.append(k)
            out.append(("i", k, v))
        self.head += 1
        return out

    def _recent_key(self):
        # geometric skew: the newest points are the likeliest targets
        n = len(self.keys)
        while True:
            back = int(self.rng.geometric(4.0 / max(n, 8)))
            k = self.keys[max(0, n - back)]
            if k in self.rows:
                return k
            self.keys = [x for x in self.keys if x in self.rows]
            n = len(self.keys)

    def epoch(self, n_updates, n_deletes):
        """One change file: a new bucket of inserts plus updates and deletes
        of distinct recent keys. Returns the change rows (op, key, value)."""
        changes = self._insert_bucket()
        touched = {k for _, k, _ in changes}
        for op, n in (("u", n_updates), ("d", n_deletes)):
            for _ in range(n):
                k = self._recent_key()
                if k in touched:
                    continue
                touched.add(k)
                if op == "u":
                    v = int(self.rng.integers(0, 1_000_000))
                    self.rows[k] = v
                    changes.append(("u", k, v))
                else:
                    del self.rows[k]
                    changes.append(("d", k, None))
        return changes

    def snapshot(self):
        return dict(self.rows)


def ts_table(rows):
    ks = sorted(rows)
    return pa.table({"day": pa.array([_day_of(t) for _, t in ks], pa.date32()),
                     "series": pa.array([s for s, _ in ks], pa.int32()),
                     "ts": pa.array([t for _, t in ks], pa.int64()),
                     "value": pa.array([rows[k] for k in ks], pa.int64())}, schema=TS_SCHEMA)


def cdc_table(changes):
    return pa.table({"op": [c[0] for c in changes],
                     "day": pa.array([_day_of(c[1][1]) for c in changes], pa.date32()),
                     "series": pa.array([c[1][0] for c in changes], pa.int32()),
                     "ts": pa.array([c[1][1] for c in changes], pa.int64()),
                     "value": pa.array([c[2] for c in changes], pa.int64())}, schema=CDC_SCHEMA)


def stream_inputs(out_dir, seed, cfg):
    """The initial table and `cfg["max_epochs"]` change files."""
    os.makedirs(f"{out_dir}/changes", exist_ok=True)
    feed = TsFeed(seed, cfg["initial_buckets"], cfg["points_per_bucket"])
    _write(ts_table(feed.rows), f"{out_dir}/initial.parquet")
    for e in range(1, cfg["max_epochs"] + 1):
        _write(cdc_table(feed.epoch(cfg["updates"], cfg["deletes"])), f"{out_dir}/changes/cdc-{e:05d}.parquet")


# ---- kv-serve: cold collections and the request schedule ------------------

def kv_inputs(out_dir, seed, collections, keys, requests, put_frac, zipf_s):
    """Cold values (`c<i>` × `k<j>` → value) and a request sequence over
    them: Zipf-distributed over all collection × key pairs, `put_frac` of
    them writes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/cold.tsv", "w") as f:
        for c in range(collections):
            for k in range(keys):
                f.write(f"c{c}\tk{k}\tv{int(rng.integers(0, 1 << 30))}\n")
    n = collections * keys
    # rank r (0-based) has weight 1/(r+1)^s; a seeded permutation spreads
    # the hot ranks across collections
    w = 1.0 / np.arange(1, n + 1) ** zipf_s
    w /= w.sum()
    perm = rng.permutation(n)
    picks = perm[rng.choice(n, size=requests, p=w)]
    is_put = rng.random(requests) < put_frac
    vals = rng.integers(0, 1 << 30, requests)
    with open(f"{out_dir}/requests.tsv", "w") as f:
        for i in range(requests):
            c, k = divmod(int(picks[i]), keys)
            op = "PUT" if is_put[i] else "GET"
            v = f"w{int(vals[i])}" if is_put[i] else ""
            f.write(f"{op}\tc{c}\tk{k}\t{v}\n")
