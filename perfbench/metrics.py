"""From one run's raw record (and, traced, its spans) to the reported
metrics: the end-to-end metrics of BENCHMARK.json, the per-layer metrics of
the traced run, and the workload's own named metrics for the log."""
import json

import checks
import gen
import stats

MODULES = ["plans", "operators", "llm", "multimodal"]
LAYERS = MODULES + ["streaming", "sources", "kv"]


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check(workload, cfg, work, res, seed):
    ops = res["ops"]
    if workload == "query-mix":
        problems = checks.query_oracle(f"{work}/fixtures", f"{work}/results", checks.load_json(f"{work}/oracle.json"))
        return problems + [f"{o['name']} (req {o['req']}): {o['error']}" for o in ops
                           if o["kind"] == "query" and o["error"].startswith("rows ")]
    if workload == "stream-mor":
        feed = gen.TsFeed(seed, cfg["initial_buckets"], cfg["points_per_bucket"])
        read_epochs = {o["req"] for o in ops if o["kind"] == "read"}
        return checks.stream_model(res["info"]["out_dir"], feed, res["info"]["epochs"], read_epochs, cfg)
    return checks.kv_reads(checks.load_cold(f"{work}/kv/cold.tsv"), ops)


def _dur(o):
    return o["end_ms"] - o["start_ms"]


def _setup(res):
    """Median over the repetitions of session start plus the workload's own set-up."""
    parts = list(res["setup"].values())
    return stats.median([sum(p[i] for p in parts) for i in range(len(parts[0]))])


def _timing(named, prefix, xs, scale, unit):
    """Adds `<prefix>_p50` and `<prefix>_tail` (values in ms scaled by `scale`)."""
    value, q, n = stats.tail(xs)
    named[f"{prefix}_p50_{unit}"] = (stats.median(xs) * scale, unit, f"(n={n})")
    named[f"{prefix}_tail_{unit}"] = (value * scale, unit, f"(p{q}, n={n})")


def compute(workload, cfg, res, spans):
    ops, info = res["ops"], res["info"]
    named = {}
    if workload == "query-mix":
        work = [o for o in ops if o["kind"] == "query"]
        ok = [o for o in work if o["ok"]]
        _timing(named, "query", [_dur(o) for o in ok], 1e-3, "s")
        wall = (max(o["end_ms"] for o in work) - min(o["start_ms"] for o in work)) / 1e3
        named["queries_per_s"] = (len(ok) / wall, "1/s", f"(fixtures {info['fixture_bytes']} bytes)")
        primary, throughput = "query", named["queries_per_s"][0]
    elif workload == "stream-mor":
        epochs = [o for o in ops if o["kind"] == "epoch" and not o["warm"]]
        reads = [o for o in ops if o["kind"] == "read" and not o["warm"]]
        work = epochs + reads
        _timing(named, "epoch", [_dur(o) for o in epochs if o["ok"]], 1e-3, "s")
        named["changes_per_s"] = (sum(o["changes"] for o in epochs) / (sum(_dur(o) for o in epochs) / 1e3),
                                  "1/s", f"({len(epochs)} epochs)")
        _timing(named, "read", [_dur(o) for o in reads if o["ok"]], 1e-3, "s")
        named["stored_bytes_per_row"] = (info["stored_bytes_per_row"], "bytes",
                                         f"(table {info['table_bytes_start']} -> {info['table_bytes_end']} bytes)")
        primary, throughput = "epoch", named["changes_per_s"][0]
    else:
        work = [o for o in ops if o["kind"] in ("get", "put") and o["rung"] != "warm"]
        rungs = [o for o in ops if o["kind"] == "rung" and o["rung"] != "warm"]
        ref = str(float(cfg["ref_rate"]))
        at_ref = [o for o in work if o["rung"] == ref]
        for kind in ("get", "put"):
            lat, _ = stats.open_loop([o for o in at_ref if o["kind"] == kind and o["ok"]])
            _timing(named, kind, lat, 1.0, "ms")
        good = []
        for r in rungs:
            mine = [o for o in work if o["rung"] == r["rung"]]
            lat, _ = stats.open_loop(mine)
            backlog_ok = r["backlog_end"] <= max(2 * info["cores"], 0.25 * r["rate"])
            if all(o["ok"] for o in mine) and stats.tail(lat)[0] <= cfg["latency_limit_ms"] and backlog_ok:
                good.append(r["rate"])
        named["max_rate_ops_s"] = (max(good) if good else 0.0, "1/s",
                                   f"(limit {cfg['latency_limit_ms']} ms on the tail)")
        burst = next(o for o in ops if o["kind"] == "burst")
        done = [o for o in work if o["rung"] == "burst" and o["ok"]]
        throughput = len(done) / (_dur(burst) / 1e3)
        named["capacity_ops_s"] = (throughput, "1/s", f"({info['cores']} clients back to back, n={len(done)})")
        primary = "get"
    attempted, failed = len(work), sum(1 for o in work if not o["ok"])
    named["setup_s"] = (_setup(res), "s", "")
    named["failed_frac"] = (stats.failed_frac(attempted, failed), "ratio", f"({failed}/{attempted})")
    unit = "ms" if workload == "kv-serve" else "s"
    to_ms = 1.0 if unit == "ms" else 1e3
    e2e = {
        "setup_s": (named["setup_s"][0], "s"),
        "p50_ms": (named[f"{primary}_p50_{unit}"][0] * to_ms, "ms"),
        "throughput_per_s": (throughput, "1/s"),
    }
    per_layer = layers(workload, cfg, res, spans) if spans is not None else {}
    return named, e2e, per_layer, attempted, failed


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _gap_s(s):
    return max(0.0, (s["end_ms"] - s["start_ms"]) - s["job_ms"]) / 1e3


def layers(workload, cfg, res, spans):
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    ops, info, setup = res["ops"], res["info"], res["setup"]
    free = next((s for s in spans if s["id"] == 0), {"job_intervals_ms": []})
    spans = [s for s in spans if s["id"] != 0]
    self_ms = stats.self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    med = stats.median
    put("core.setup_session_s", med(setup["session_s"]), "s")
    put("core.setup_fixtures_s", info.get("fixtures_s", 0.0), "s")
    put("core.setup_table_s", med(setup.get("table_s", [0.0])), "s")
    put("core.setup_kv_cold_s", med(setup.get("kv_cold_s", [0.0])), "s")
    put("core.setup_oracle_s", info.get("oracle_s", 0.0), "s")

    for mod in MODULES:
        qs = [s for s in spans if s["layer"] == mod and s["parent"] == 0]
        put(f"{mod}.p50_s", med([(s["end_ms"] - s["start_ms"]) / 1e3 for s in qs]), "s")
        for k, unit in (("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")):
            put(f"{mod}.{k}", _mean([s[k] for s in qs]), unit)
        put(f"{mod}.driver_gap_s", _mean([_gap_s(s) for s in qs]), "s")

    def dur_s(name):
        return [(s["end_ms"] - s["start_ms"]) / 1e3 for s in by.get(name, [])]

    epochs = by.get("epoch", [])
    sink_ms = {}
    for s in by.get("apply_changes", []):
        sink_ms[s["req"]] = sink_ms.get(s["req"], 0.0) + s["end_ms"] - s["start_ms"]
    put("streaming.epoch_self_s", med([(s["end_ms"] - s["start_ms"] - sink_ms.get(s["req"], 0.0)) / 1e3
                                       for s in by.get("process_all_available", [])]), "s")
    in_epoch = [s for s in spans if s["layer"] in ("streaming", "sources") and not s["name"].startswith("read_")]
    put("streaming.epoch_jobs", sum(s["jobs"] for s in in_epoch) / len(epochs) if epochs else 0.0, "count")

    apply = by.get("apply_changes", [])
    put("sources.apply_changes_s", med(dur_s("apply_changes")), "s")
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes")):
        put(f"sources.apply_changes_{k}", _mean([s[k] for s in apply]), unit)
    put("sources.mv_refresh_s", med(dur_s("mv_refresh")), "s")
    put("sources.mv_refresh_jobs", _mean([s["jobs"] for s in by.get("mv_refresh", [])]), "count")
    ep_ops = [o for o in ops if o["kind"] == "epoch"]
    put("sources.mv_groups_recomputed", _mean([o["groups_recomputed"] for o in ep_ops]), "count")
    put("sources.mv_full_resyncs", sum(1 for o in ep_ops if o["full_resync"]), "count")
    reads = [s for s in spans if s["name"].startswith("read_")]
    for kind in ("range", "agg", "timetravel", "cdf"):
        put(f"sources.read_{kind}_s", med(dur_s("read_" + kind)), "s")
    rows = sum(s.get("rows", 0.0) for s in reads)
    put("sources.read_rows_scanned_per_row", sum(s["input_records"] for s in reads) / rows if rows else 0.0, "ratio")
    put("sources.compact_s", med(dur_s("compact")), "s")
    put("sources.vacuum_s", med(dur_s("vacuum")), "s")
    put("sources.live_files", info.get("live_files", 0), "count")
    put("sources.dv_sidecars", info.get("dv_sidecars", 0), "count")
    put("sources.driver_gap_apply_s", _mean([_gap_s(s) for s in apply]), "s")
    put("sources.driver_gap_refresh_s", _mean([_gap_s(s) for s in by.get("mv_refresh", [])]), "s")
    put("sources.driver_gap_read_s", _mean([_gap_s(s) for s in reads]), "s")

    ref = next((r for r in ops if r["kind"] == "rung" and r["rung"] == str(float(cfg.get("ref_rate", 0)))), None)
    at_ref = [o for o in ops if o["kind"] == "get" and ref and o["rung"] == ref["rung"]]
    for cls in ("overlay", "base", "load"):
        put(f"kv.get_{cls}_ms", med([o["end_ms"] - o["sent_ms"] for o in at_ref
                                     if o["class"] == cls and o["ok"] and o["traced"]]), "ms")
    n_jobs = sum(1 for a, _ in free["job_intervals_ms"] if ref and ref["start_ms"] <= a <= ref["end_ms"])
    put("kv.jobs_per_get", n_jobs / len(at_ref) if at_ref else 0.0, "count")
    put("kv.flush_s", med([_dur(o) / 1e3 for o in ops if o["kind"] == "flush" and o["traced"]]), "s")
    _, lag = stats.open_loop([o for o in ops if o["kind"] in ("get", "put") and ref and o["rung"] == ref["rung"]])
    put("kv.generator_lag_ms", max(lag, default=0.0), "ms")
    put("kv.backlog_max", ref["backlog_max"] if ref else 0, "count")

    roots = [s for s in spans if s["parent"] == 0]
    for layer in LAYERS:
        total = sum(self_ms[s["id"]] for s in spans if s["layer"] == layer)
        put(f"{layer}.self_s", total / 1e3 / len(roots) if roots else 0.0, "s")
    put("trace.overhead_frac", overhead(workload, ops), "ratio")
    return m


def overhead(workload, ops):
    """Traced over untraced median latency of the same operations, minus 1:
    a traced run traces every other operation."""
    kind = {"query-mix": "query", "stream-mor": "epoch", "kv-serve": "get"}[workload]
    ratios = []
    mine = [o for o in ops if o["kind"] == kind and o["ok"] and not o.get("warm") and o.get("rung") != "warm"]
    for n in {o.get("name", "") for o in mine}:
        t = [_dur_or_due(o) for o in mine if o.get("name", "") == n and o["traced"]]
        u = [_dur_or_due(o) for o in mine if o.get("name", "") == n and not o["traced"]]
        if t and u:
            ratios.append(stats.median(t) / stats.median(u))
    return stats.median(ratios) - 1 if ratios else 0.0


def _dur_or_due(o):
    return o["end_ms"] - (o["due_ms"] if "due_ms" in o else o["start_ms"])
