"""Metrics and correctness checks over one run's record (result.json).

End-to-end metrics come from untraced runs, per-layer metrics from
traced runs (where every other op is traced, so the same run also
gives the tracing overhead). Every op is checked; a failed check counts
in `failed` and the op stays in the timings.
"""
import datetime as dt
import glob
import json
import os
import statistics

import gen

# ------------------------------------------------------------ definitions

# Per end-to-end metric: (name in BENCHMARK.json, the workload's own name
# per workload, unit). The workload names are the ones the detail line
# prints; BENCHMARK.json uses the shared names so every workload reports
# every end-to-end metric.
E2E = [
    ("setup_s", {}, "s"),
    ("peak_live_heap_mb", {}, "MiB"),
    ("retained_heap_mb", {}, "MiB"),
    ("op_p50_ms", {"daily_etl": ("day_p50_s", 1e-3, "s"),
                   "corpus_dedup": ("dedup_batch_p50_s", 1e-3, "s")}, "ms"),
    ("items_per_s", {"daily_etl": ("backfill_rows_per_s", 1.0, "rows/s"),
                     "corpus_dedup": ("dedup_docs_per_s", 1.0, "docs/s")}, "1/s"),
]
# timed ops whose peak heaps give peak_live_heap_mb: an 18-second loop
# fits at least this many days or batches
HEAP_OPS = 4
TAIL = {"daily_etl": ("day_tail_s", 1e-3, "s"),
        "corpus_dedup": ("dedup_batch_tail_s", 1e-3, "s")}

STD = [("self_ms", "ms"), ("driver_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
       ("exec_cpu_ms", "ms"), ("shuffle_bytes", "B"), ("input_bytes", "B"),
       ("output_bytes", "B")]
DAILY_SPANS = ["io.Sources.parseWeatherJson", "etl.Pipeline.transform",
               "io.Sinks.upsertPartitioned", "etl.Quality", "io.Sinks.appendMetrics",
               "analytics.Views", "io.Manifest.read"]
DEDUP_SPANS = ["ops.DedupIndex.dedupBatch", "ops.DedupIndex.append"]
OP_SPAN = {"daily_etl": "day", "corpus_dedup": "batch"}
WORKLOADS = tuple(OP_SPAN)


def per_layer_defs():
    """[(name, unit, better, workload)] — the per-layer metrics, in order."""
    d = []
    for s in DAILY_SPANS:
        d += [("%s.%s" % (s, m), u, "lower", "daily_etl") for m, u in STD]
    d += [("day.raw_read_amp", "ratio", "lower", "daily_etl"),
          ("io.Sinks.upsertPartitioned.write_amp", "ratio", "lower", "daily_etl"),
          ("io.Sinks.upsertPartitioned.partitions_touched", "count", "lower", "daily_etl"),
          ("table.files_per_partition", "count", "lower", "daily_etl"),
          ("table.bytes_per_row", "B", "lower", "daily_etl")]
    for s in DEDUP_SPANS:
        d += [("%s.%s" % (s, m), u, "lower", "corpus_dedup") for m, u in STD]
    d += [("index.bytes_per_doc", "B", "lower", "corpus_dedup"),
          ("dedup.removed_ratio", "ratio", "higher", "corpus_dedup")]
    d += [("trace.overhead_ms", "ms", "lower", "all"),
          ("op.unattributed_ms", "ms", "lower", "all")]
    return d


# ------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it, or None
    when that percentile would not sit above the median."""
    n = len(xs)
    k = n - 11          # 0-based rank with exactly 10 samples above it
    if k <= (n - 1) // 2:
        return None
    return {"value": sorted(xs)[k], "percentile": round(100.0 * (k + 1) / n, 1), "n": n}


# ------------------------------------------------------------ spans

def span_tree(res):
    spans = {s["id"]: s for s in res["spans"]}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s["id"])
    return spans, kids


def attribute_jobs(res, spans):
    """job -> span id: the span named by the job's local property when
    the job started inside it, else the innermost span open at the
    job's start (jobs a layer submits from its own thread pool)."""
    out = {}
    ordered = sorted(spans.values(), key=lambda s: s["start_us"])
    for j in res["jobs"]:
        t = j["start_ms"] * 1000
        s = spans.get(j["span"]) if j["span"] is not None else None
        if s and s["start_us"] - 2000 <= t <= s["end_us"] + 2000:
            out[j["id"]] = s["id"]
            continue
        best = None
        for c in ordered:
            if c["start_us"] > t:
                break
            if c["end_us"] >= t:
                best = c["id"]
        if best is not None:
            out[j["id"]] = best
    return out


def _union_ms(intervals, lo, hi):
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_stats(res):
    """span id -> the 8 standard metrics (+ wall_ms), counters inclusive
    of child spans, self time exclusive of them."""
    spans, kids = span_tree(res)
    attr = attribute_jobs(res, spans)
    jobs = {j["id"]: j for j in res["jobs"]}
    own = {}
    for jid, sid in attr.items():
        own.setdefault(sid, []).append(jobs[jid])
    stats = {}

    def visit(sid):
        s = spans[sid]
        js = list(own.get(sid, []))
        for c in kids.get(sid, []):
            js += visit(c)
        wall = (s["end_us"] - s["start_us"]) / 1000.0
        child_wall = sum((spans[c]["end_us"] - spans[c]["start_us"]) / 1000.0
                         for c in kids.get(sid, []))
        busy = _union_ms([(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"])
                          for j in js], s["start_us"] / 1000.0, s["end_us"] / 1000.0)
        stats[sid] = {
            "name": s["name"], "op": s["op"], "wall_ms": wall,
            "self_ms": wall - child_wall, "driver_ms": wall - busy,
            "jobs": len(js), "tasks": sum(j["tasks"] for j in js),
            "exec_cpu_ms": sum(j["cpu_ns"] for j in js) / 1e6,
            "shuffle_bytes": sum(j["shuffle_write"] for j in js),
            "input_bytes": sum(j["in_bytes"] for j in js),
            "output_bytes": sum(j["out_bytes"] for j in js),
            "extra": s["extra"]}
        return js

    for sid in kids.get(0, []):
        visit(sid)
    return stats


def containment_errors(res):
    """Child spans that lie outside their parent (the summarizer fails on
    any)."""
    spans, _ = span_tree(res)
    bad = []
    for s in spans.values():
        p = spans.get(s["parent"])
        if p and (s["start_us"] < p["start_us"] or s["end_us"] > p["end_us"]):
            bad.append("%s(%d) outside %s(%d)" % (s["name"], s["id"], p["name"], p["id"]))
    return bad


def op_breakdown(res):
    """Per traced op: its measured wall, each layer's self time (every span
    under the op) and the unattributed remainder, the wall no layer span
    covers."""
    stats = span_stats(res)
    spans, kids = span_tree(res)
    op_spans = [sid for sid in sorted(kids.get(0, []))
                if spans[sid]["name"] == OP_SPAN[res["workload"]]]
    traced = [o for o in res["ops"] if o["traced"]]
    out = []
    for sid in op_spans:
        sp = spans[sid]
        # the timed op around this span
        op = next(o for o in traced if o["start_us"] <= sp["start_us"]
                  and o["start_us"] + o["wall_ms"] * 1000 >= sp["end_us"])
        layers = {}
        stack = list(kids.get(sid, []))
        while stack:
            c = stack.pop()
            layers[stats[c]["name"]] = layers.get(stats[c]["name"], 0.0) + stats[c]["self_ms"]
            stack += kids.get(c, [])
        out.append({"op": sid, "wall_ms": op["wall_ms"], "layers": layers,
                    "unattributed_ms": op["wall_ms"] - sum(layers.values())})
    return out


# ------------------------------------------------------------ checks

def _duck():
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=2")
    return con


def committed_files(table):
    """The data files the table's latest manifest lists (io.Manifest's
    `len\\tmtime\\trelpath` lines)."""
    md = os.path.join(table, "_graft_manifest")
    latest = sorted(f for f in os.listdir(md) if f.endswith(".list") and f.startswith("v"))[-1]
    out = []
    for line in open(os.path.join(md, latest)):
        line = line.rstrip("\n")
        if line and not line.startswith("#"):
            ln, _, rel = line.split("\t", 2)
            out.append((rel, int(ln)))
    return out


def _weather_view(con, table):
    files = [os.path.join(table, rel) for rel, _ in committed_files(table)]
    con.sql("CREATE OR REPLACE VIEW w AS SELECT * FROM read_parquet(%s, hive_partitioning=true)"
            % json.dumps(files).replace('"', "'"))


def check_daily(res, in_dir):
    """Per day: records kept == valid deliveries, the first pages of the
    daily summary, latest-weather and quality views equal the ground
    truth after that day. At the end: the table holds exactly one row
    per expected key with the latest valid delivery's values."""
    truth = json.load(open(os.path.join(in_dir, "truth.json")))
    days = truth["days"]
    failed, notes = [], []
    for o in res["ops"]:
        err = o["error"] or _check_day(o["payload"], truth)
        if err:
            failed.append(o)
            notes.append("day %d: %s" % (o["i"], err[:200]))
    fin = res["final"]
    con = _duck()
    _weather_view(con, fin["table"])
    got = con.sql("SELECT city, country, epoch_us(timestamp), temperature, humidity, "
                  "pressure FROM w").fetchall()
    exp = gen.expected_table(truth, fin["days_loaded"])
    rows = {}
    dup = 0
    for c, k, ts, t, h, p in got:
        key = (c, k, ts // 1000000)
        dup += key in rows
        rows[key] = (t, h, p)
    final_err = None
    if dup:
        final_err = "%d duplicate keys" % dup
    elif rows != exp:
        missing = len(set(exp) - set(rows))
        extra = len(set(rows) - set(exp))
        wrong = sum(1 for k in set(rows) & set(exp) if rows[k] != exp[k])
        final_err = "missing %d, extra %d, wrong values %d" % (missing, extra, wrong)
    if final_err and res["ops"] and res["ops"][-1] not in failed:
        failed.append(res["ops"][-1])
    if final_err:
        notes.append("final table: " + final_err)
    return failed, {"final_rows": len(rows), "expected_rows": len(exp),
                    "days_loaded": fin["days_loaded"], "notes": notes[:5],
                    "corrections": sum(len(d["valid"]) for d in days[:fin["days_loaded"]])
                    - len(exp)}


def _check_day(p, truth):
    d = p["day"]
    day = truth["days"][d]
    if p["records_after_cleaning"] != len(day["valid"]):
        return "records_after_cleaning %d != %d" % (p["records_after_cleaning"], len(day["valid"]))
    exp = gen.expected_table(truth, d + 1)
    groups = {}
    for (c, k, ts), (t, h, pr) in exp.items():
        date = dt.datetime.fromtimestamp(ts, dt.timezone.utc).date().isoformat()
        groups.setdefault((c, k, date), []).append((t, h, pr))
    pages = p["pages"]
    ds = pages["daily_summary"]
    names = [c for c, _ in ds["cols"]]
    want = sorted(groups, key=lambda g: (tuple(-ord(x) for x in g[2]), g[0]))[:50]
    if len(ds["rows"]) != len(want):
        return "daily_summary page has %d rows, want %d" % (len(ds["rows"]), len(want))
    for row, g in zip(ds["rows"], want):
        r = dict(zip(names, row))
        vals = groups[g]
        exp_row = {"city": g[0], "country": g[1], "date": g[2], "record_count": len(vals),
                   "avg_temperature": sum(v[0] for v in vals) / len(vals),
                   "min_temperature": min(v[0] for v in vals),
                   "max_temperature": max(v[0] for v in vals),
                   "avg_humidity": sum(v[1] for v in vals) / len(vals),
                   "avg_pressure": sum(v[2] for v in vals) / len(vals)}
        for k, v in exp_row.items():
            if r[k] != v:
                return "daily_summary %s %s: got %r want %r" % (g, k, r[k], v)
    latest = {}
    for (c, k, ts), vals in exp.items():
        if (c, k) not in latest or ts > latest[(c, k)][0]:
            latest[(c, k)] = (ts, vals[0])
    lw = pages["latest_weather"]
    names = [c for c, _ in lw["cols"]]
    want = sorted(latest)[:50]
    if len(lw["rows"]) != len(want):
        return "latest_weather page has %d rows, want %d" % (len(lw["rows"]), len(want))
    for row, key in zip(lw["rows"], want):
        r = dict(zip(names, row))
        ts, t = latest[key]
        if (r["city"], r["country"], r["timestamp"], r["temperature"]) != (
                key[0], key[1], ts * 1000000, t):
            return "latest_weather %s: got %r" % (key, (r["timestamp"], r["temperature"]))
    qs = pages["quality_summary"]
    names = [c for c, _ in qs["cols"]]
    top = dict(zip(names, qs["rows"][0])) if qs["rows"] else {}
    load_date = (gen.EPOCH + dt.timedelta(days=d + 1)).date().isoformat()
    if (top.get("load_date"), top.get("total_records"), top.get("load_count")) != (
            load_date, len(day["valid"]), 1):
        return "quality_summary top row %r" % (top,)
    return None


def check_dedup(res, in_dir):
    """Every planted exact duplicate removed, no planted-unique document
    removed; recall over all planted duplicates."""
    truth = json.load(open(os.path.join(in_dir, "truth.json")))["batches"]
    con = _duck()
    failed, notes = [], []
    planted = removed_planted = docs = removed = 0
    for o in res["ops"]:
        err = o["error"]
        if not err:
            b = truth[o["i"]]
            path = o["payload"]["survivors"]
            kept = {r[0] for r in con.sql(
                "SELECT doc_id FROM read_parquet('%s/*.parquet')" % path).fetchall()}
            all_ids = set(b["must_go"]) | set(b["should_go"]) | set(b["must_stay"])
            gone = all_ids - kept
            dups = set(b["must_go"]) | set(b["should_go"])
            planted += len(dups)
            removed_planted += len(dups & gone)
            docs += len(all_ids)
            removed += len(gone)
            if kept - all_ids:
                err = "survivors not in the batch: %d" % len(kept - all_ids)
            elif set(b["must_go"]) & kept:
                err = "%d exact duplicates kept" % len(set(b["must_go"]) & kept)
            elif set(b["must_stay"]) & gone:
                err = "%d unique documents removed" % len(set(b["must_stay"]) & gone)
        if err:
            failed.append(o)
            notes.append("batch %d: %s" % (o["i"], err[:200]))
    return failed, {"dedup_recall": removed_planted / planted if planted else 0.0,
                    "removed_ratio": removed / docs if docs else 0.0,
                    "notes": notes[:5]}


CHECKS = {"daily_etl": check_daily, "corpus_dedup": check_dedup}


# ------------------------------------------------------------ metrics

def items(res, o):
    """Work items one op processed: raw rows, or batch docs."""
    if res["workload"] == "daily_etl":
        return o["payload"]["input_count"] if o["payload"] else 0
    return gen.BATCH


def live_heap_mb(res, ops):
    """The largest of the first HEAP_OPS ops' peak heaps. An op's peak is
    the largest occupancy a collection left while the op ran, or, if none
    ran, what the collection before it left. A fixed set of ops keeps the
    figure from depending on how many ops the loop fits."""
    gcs = sorted(res["gc"], key=lambda g: g["end_ms"])
    peaks = []
    for o in ops[:HEAP_OPS]:
        start = o["start_us"] / 1000.0
        end = start + o["wall_ms"]
        before = [g["used_mb"] for g in gcs if g["end_ms"] <= start]
        during = [g["used_mb"] for g in gcs if start < g["end_ms"] <= end]
        peaks.append(max(before[-1:] + during))
    return max(peaks)


def end_to_end(res):
    wl = res["workload"]
    ops = [o for o in res["ops"] if not o["traced"]]
    walls = [o["wall_ms"] for o in ops]
    setup_s = (res["loop_start_ms"] - res["launch_ms"]) / 1000.0
    vals = {"setup_s": setup_s, "peak_live_heap_mb": live_heap_mb(res, ops),
            "retained_heap_mb": res["box"]["retained_heap_mb"],
            "op_p50_ms": median(walls),
            "items_per_s": sum(items(res, o) for o in ops) / (sum(walls) / 1000.0)}
    metrics = {n: {"value": vals[n], "unit": u} for n, _, u in E2E}
    own = {}
    for n, names, u in E2E:
        if wl in names:
            name, scale, unit = names[wl]
            own[name] = {"value": vals[n] * scale, "unit": unit}
        else:
            own[n] = {"value": vals[n], "unit": u}
    t = tail(walls)
    if t:
        name, scale, unit = TAIL[wl]
        own[name] = {"value": t["value"] * scale, "unit": unit,
                     "percentile": t["percentile"], "n": t["n"]}
    own["peak_rss_mb"] = {"value": res["box"]["peak_rss_mb"], "unit": "MiB"}
    own["ops_attempted"] = {"value": len(res["ops"]), "unit": "count"}
    return metrics, own


def timed_spans(res):
    """Stats of the spans inside timed, traced ops (set-up spans left out),
    grouped by name."""
    stats = span_stats(res)
    ops = {sid for sid, st in stats.items() if st["name"] == OP_SPAN[res["workload"]]}
    by_name = {}
    for st in stats.values():
        if st["op"] in ops:
            by_name.setdefault(st["name"], []).append(st)
    return stats, by_name


def per_layer(res, in_dir, check_info):
    wl = res["workload"]
    stats, by_name = timed_spans(res)
    vals = {}
    for s in DAILY_SPANS + DEDUP_SPANS:
        for m, _ in STD:
            vals["%s.%s" % (s, m)] = median([st[m] for st in by_name.get(s, [])])
    if wl == "daily_etl":
        truth_days = json.load(open(os.path.join(in_dir, "truth.json")))["days"]
        spans, kids = span_tree(res)
        forcing = [s for s in spans.values()
                   if s["name"] in ("io.Sources.parseWeatherJson", "etl.Pipeline.transform")]
        amps, wamps, touched = [], [], []
        table = res["final"]["table"]
        files = committed_files(table)
        total_bytes = sum(ln for _, ln in files)
        bpr = total_bytes / max(res["final"]["rows"], 1)
        for o, op_sid in zip([o for o in res["ops"] if o["traced"]],
                             [s["id"] for s in sorted(spans.values(), key=lambda s: s["id"])
                              if s["name"] == "day"]):
            op = spans[op_sid]
            read = sum(sc["bytes"] for sc in res["raw_scans"]
                       if op["start_us"] <= sc["t_ms"] * 1000 <= op["end_us"]
                       and not any(f["op"] == op_sid and f["start_us"] <= sc["t_ms"] * 1000
                                   <= f["end_us"] for f in forcing))
            amps.append(read / truth_days[o["i"]]["raw_bytes"])
            up = [stats[c] for c in kids.get(op_sid, [])
                  if stats[c]["name"] == "io.Sinks.upsertPartitioned"]
            if up and o["payload"]:
                wamps.append(up[0]["output_bytes"]
                             / (o["payload"]["records_after_cleaning"] * bpr))
                touched.append(up[0]["extra"].get("partitions_touched", 0))
        parts = {rel.rsplit("/", 1)[0] for rel, _ in files}
        vals.update({"day.raw_read_amp": median(amps),
                     "io.Sinks.upsertPartitioned.write_amp": median(wamps),
                     "io.Sinks.upsertPartitioned.partitions_touched": median(touched),
                     "table.files_per_partition": len(files) / max(len(parts), 1),
                     "table.bytes_per_row": bpr})
    if wl == "corpus_dedup":
        idx = res["final"]["index"]
        size = sum(os.path.getsize(f) for f in glob.glob(os.path.join(idx, "**", "*"),
                                                         recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
                   and "/." not in f[len(idx):])
        truth = json.load(open(os.path.join(in_dir, "truth.json")))
        con = _duck()
        appended = sum(con.sql("SELECT count(*) FROM read_parquet('%s/b%d/*.parquet')" % (
            res["final"]["survivors_dir"], b)).fetchone()[0]
            for b in range(res["final"]["batches_done"]))
        vals["index.bytes_per_doc"] = size / (truth["corpus_docs"] + appended)
        vals["dedup.removed_ratio"] = check_info.get("removed_ratio", 0.0)
    traced = [o["wall_ms"] for o in res["ops"] if o["traced"]]
    untraced = [o["wall_ms"] for o in res["ops"] if not o["traced"]]
    vals["trace.overhead_ms"] = median(traced) - median(untraced)
    vals["op.unattributed_ms"] = median([b["unattributed_ms"] for b in op_breakdown(res)])
    return {n: {"value": vals.get(n, 0.0), "unit": u} for n, u, _, w in per_layer_defs()
            if w in (wl, "all")}


def evaluate(res, in_dir):
    """-> (detail dict, final result dict)."""
    wl = res["workload"]
    failed, info = CHECKS[wl](res, in_dir)
    e2e, own = end_to_end(res)
    if wl == "corpus_dedup":
        own["dedup_recall"] = {"value": info["dedup_recall"], "unit": "ratio"}
    own["ops_failed"] = {"value": len(failed), "unit": "count"}
    detail = {"workload": wl, "seed": res["seed"], "trace": res["trace"],
              "metrics": own, "checks": info, "box": res["box"],
              "session_conf": res["session_conf"],
              "setup": {"session_ready_s": (res["session_ready_ms"] - res["launch_ms"]) / 1e3,
                        "inputs_ready_s": (res["inputs_ready_ms"] - res["launch_ms"]) / 1e3,
                        "generate_s": res["generate_s"], "preload_ms": res["preload_ms"],
                        "warmup_ms": res["warmup_ms"]}}
    final = {"correct": not failed, "attempted": len(res["ops"]), "failed": len(failed)}
    if res["trace"]:
        own_layers = per_layer(res, in_dir, info)
        detail["per_layer"] = own_layers
        # a metric of a layer this workload does not run reads 0
        final["metrics"] = {n: own_layers.get(n, {"value": 0.0, "unit": u})
                            for n, u, _, _ in per_layer_defs()}
        untraced = [o["wall_ms"] for o in res["ops"] if not o["traced"]]
        detail["trace_overhead"] = {
            "op_p50_ms_traced": median([o["wall_ms"] for o in res["ops"] if o["traced"]]),
            "op_p50_ms_untraced": median(untraced),
            "overhead_ms": own_layers["trace.overhead_ms"]["value"]}
    else:
        final["metrics"] = e2e
    return detail, final
