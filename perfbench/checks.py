"""Correctness checks of the program's outputs. Each returns a list of
problems; an empty list means every output was right."""
import glob
import json
import os

import gen

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


# ---- query-mix: each distinct query against its DuckDB oracle twin ---------

def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, [tuple(_canon(x) for x in r) for r in zip(*data)] if data else []


def query_oracle(fixture_dir, results_dir, oracle_sql):
    """Row count, column names and every value of each query's result must
    equal its oracle's, as the registry's own correctness gate compares."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    problems = []
    for name, sql in sorted(oracle_sql.items()):
        if not glob.glob(os.path.join(results_dir, name, "*.parquet")):
            problems.append(f"{name}: no result written")
            continue
        got = pq.read_table(os.path.join(results_dir, name))
        exp = con.sql(sql).arrow()
        if any(pa.types.is_decimal(f.type) for f in exp.schema):
            problems.append(f"{name}: oracle returns a decimal column")
            continue
        gc, gr = _rows(got)
        ec, er = _rows(exp)
        if gc != ec:
            problems.append(f"{name}: columns {gc} != {ec}")
        elif gr != er:
            bad = next((i for i, (a, b) in enumerate(zip(gr, er)) if a != b), min(len(gr), len(er)))
            problems.append(f"{name}: rows differ at {bad} ({len(gr)} vs {len(er)} rows)")
    return problems


# ---- stream-mor: every read against the model replayed from the changes ----

def _tsv(path):
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def _day(ts):
    return gen._day_of(ts).isoformat()


def _agg_by_series(rows):
    out = {}
    for (s, _), v in rows.items():
        n, sv = out.get(s, (0, 0))
        out[s] = (n + 1, sv + v)
    return sorted((str(s), str(n), str(sv)) for s, (n, sv) in out.items())


def _mv(rows):
    out = {}
    for (s, ts), v in rows.items():
        k = (_day(ts), s)
        n, sv = out.get(k, (0, 0))
        out[k] = (n + 1, sv + v)
    return sorted((d, str(s), str(n), str(sv)) for (d, s), (n, sv) in out.items())


def _full(rows):
    return sorted((_day(ts), str(s), str(ts), str(v)) for (s, ts), v in rows.items())


def _cdf(prev, cur):
    removed = {k: v for k, v in prev.items() if cur.get(k) != v}
    added = {k: v for k, v in cur.items() if prev.get(k) != v}
    return sorted([("removed",) + r for r in _full(removed)] + [("added",) + r for r in _full(added)])


def model_reads(prev, cur, back, head, range_seconds):
    """What each snapshot read must return at an epoch: `prev` and `cur` are
    the model before and after it, `back` the model `travel_back` epochs
    earlier, `head` the end of the newest time bucket."""
    return {
        "mv": _mv(cur),
        "range": _full({k: v for k, v in cur.items() if head - range_seconds <= k[1] < head}),
        "agg": _agg_by_series(cur),
        "timetravel": _agg_by_series(back),
        "cdf": _cdf(prev, cur),
    }


def stream_model(out_dir, feed, epochs, read_epochs, cfg):
    """Replays `feed` (a fresh `gen.TsFeed` with the run's seed) epoch by
    epoch and compares the view after every epoch, the four reads after
    each of `read_epochs`, and the final table with the model at the epoch
    each was read at."""
    problems = []
    history = [feed.snapshot()]
    for e in range(1, epochs + 1):
        feed.epoch(cfg["updates"], cfg["deletes"])
        history.append(feed.snapshot())
        head = (cfg["initial_buckets"] + e) * gen.BUCKET_S
        want = model_reads(history[-2], history[-1], history[max(0, e - cfg["travel_back"])],
                           head, cfg["range_seconds"])
        for kind, rows in want.items():
            if kind != "mv" and e not in read_epochs:
                continue
            if sorted(tuple(r) for r in _tsv(f"{out_dir}/{kind}-{e:05d}.tsv")) != rows:
                problems.append(f"epoch {e}: {kind} differs from the model")
        if e > cfg["travel_back"]:
            history[e - cfg["travel_back"] - 1] = None  # never read again
    final = sorted(tuple(r) for r in _tsv(f"{out_dir}/final.tsv"))
    if final != _full(history[-1]):
        problems.append("final table differs from the model")
    return problems


# ---- kv-serve: every GET returns the last acknowledged PUT or the cold value

def kv_reads(cold, ops):
    """A GET must return the value of a PUT to its key that was not yet
    superseded when the GET was sent (the last acknowledged one, or one in
    flight with the GET); before any acknowledged PUT, the cold value."""
    puts = {}
    for op in ops:
        if op["kind"] == "put" and op["ok"]:
            puts.setdefault((op["coll"], op["key"]), []).append(op)
    problems = []
    for op in ops:
        if op["kind"] != "get" or not op["ok"]:
            continue
        k = (op["coll"], op["key"])
        before = [p for p in puts.get(k, []) if p["sent_ms"] < op["end_ms"]]
        acked = [p for p in before if p["end_ms"] <= op["sent_ms"]]
        # a PUT is superseded once a later-sent PUT was acknowledged before the GET
        live = [p for p in before
                if not any(q["sent_ms"] > p["end_ms"] and q["end_ms"] <= op["sent_ms"] for q in acked)]
        allowed = {p["value"] for p in live}
        if not acked:
            allowed.add(cold[k])
        if op["value"] not in allowed:
            problems.append(f"GET {k[0]}/{k[1]} (req {op['req']}) returned {op['value']!r}")
    return problems


def load_cold(path):
    with open(path) as f:
        return {(c, k): v for c, k, v in (line.rstrip("\n").split("\t") for line in f if line.strip())}


def load_json(path):
    with open(path) as f:
        return json.load(f)
