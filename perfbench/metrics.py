"""Turns one JVM run record into the benchmark's metrics.

`end_to_end(rec)` gives the metrics of an untraced run, `per_layer(rec, ...)`
those of a traced run; `extras(rec)` gives the workload-specific user-facing
figures (pipeline MB/s, commit latency, space amplification, error rate).
Names and units match BENCHMARK.json.
"""
import math
import statistics

MODULES = ["queries", "dedup", "similarity", "text", "temporal"]
ITEM4 = ["q_dedup_ngram_jaccard"]
COMMITS = {"append": "append", "merge": "merge", "delete": "delete",
           "sql_delete": "delete", "compact": "compact", "vacuum": "vacuum"}
READS = ["lookup", "prune", "topn", "travel", "history", "feed"]
MB = 1e6
TAIL_PCTS = [99.9, 99.0, 95.0, 90.0, 75.0, 50.0]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p50(samples):
    """Harrell-Davis estimate of the median: the mean of all order
    statistics, weighted by a Beta((n+1)/2, (n+1)/2) density over their
    ranks. A run has 10-14 warm reads of different ops, in clusters with
    gaps between them; the sample median jumps across a gap when one op
    moves, while this estimate moves with it in proportion."""
    xs = sorted(samples)
    n = len(xs)
    if n < 3:
        return median(xs)
    steps = 64  # integration steps per rank
    k = (n + 1) / 2 - 1
    dens = []
    for j in range(n * steps):
        x = (j + 0.5) / (n * steps)
        dens.append(math.exp(k * (math.log(x * (1 - x)) - math.log(0.25))))
    total = sum(dens)
    return sum(x * sum(dens[i * steps:(i + 1) * steps]) / total
               for i, x in enumerate(xs))


def tail(samples):
    """The highest of TAIL_PCTS whose nearest-rank percentile leaves at
    least ten samples above it: (value, percentile, n). With fewer than 20
    samples no percentile qualifies and the maximum is reported as p100."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PCTS:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return xs[rank - 1], p, n
    return (xs[-1] if xs else 0.0), 100.0, n


def warm_passes(rec):
    """Wall times of the timed warm passes: after the cold pass and the
    workload's untimed warm-up passes."""
    return rec["pass_s"][rec["first_warm"]:]


def warm_ok(rec, kind=None):
    return [o for o in rec["ops"] if o["pass"] >= rec["first_warm"]
            and o["err"] is None and (kind is None or o["kind"] == kind)]


def end_to_end(rec):
    reads = [o["ms"] for o in warm_ok(rec, "read")]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "cold_pass_s": (rec["pass_s"][0], "s"),
        "warm_pass_s": (median(warm_passes(rec)), "s"),
        "op_p50_ms": (p50(reads), "ms"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }


def extras(rec):
    """Figures printed beside the end-to-end metrics. `op_tail_ms` is here,
    not in BENCHMARK.json: a run has fewer than 20 warm reads, so no
    percentile above the median has ten samples beyond it, and the maximum
    it falls back to swings with single slow ops."""
    ops = rec["ops"]
    t, pct, n = tail([o["ms"] for o in warm_ok(rec, "read")])
    out = {"op_error_rate": (sum(o["err"] is not None for o in ops) / len(ops),
                             "ratio"),
           f"op_tail_ms p{pct:g} n={n}": (t, "ms")}
    f = rec.get("facts", {})
    if rec["workload"] == "wiki_dump":
        secs = median([o["ms"] for o in warm_ok(rec)]) / 1000.0
        out["wiki_mb_s"] = (f.get("dump_bytes", 0) / MB / secs if secs else 0.0,
                            "MB/s")
    if "table_bytes" in f:
        w = [o["ms"] for o in warm_ok(rec, "write")]
        t, pct, n = tail(w)
        out["write_p50_ms"] = (p50(w), "ms")
        out["write_tail_ms"] = (t, "ms")
        out["space_amp"] = (f["table_bytes"] / f["copy_bytes"], "ratio")
    return out


def _spans_by_op(rec):
    by = {}
    for s in rec["trace"]["spans"]:
        by.setdefault(s["op"], []).append(s)
    return by


def _top(spans):
    return next(s for s in spans if s["parent"] == "" or
                all(s["parent"] != o["id"] for o in spans))


def _sum(spans, key):
    return sum(s["counters"][key] for s in spans)


def _ms(s):
    return (s["end_ns"] - s["start_ns"]) / 1e6


def op_instances(rec):
    """Per warm op instance: (name, layer, kind, spans of its subtree)."""
    by = _spans_by_op(rec)
    out = []
    for o in warm_ok(rec):
        spans = by.get(f'{o["pass"]}:{o["idx"]}', [])
        if spans:
            out.append((o["name"], o["layer"], o["kind"], spans))
    return out


def _named(spans, suffix):
    return [s for s in spans if s["name"].endswith(suffix)]


def per_layer(rec, cpus, mat_bytes):
    m = {}
    inst = op_instances(rec)
    f = rec.get("facts", {})

    def per_name(rows, fn):
        """Median over warm passes of fn(spans), per op name."""
        by = {}
        for name, _, _, spans in rows:
            by.setdefault(name, []).append(fn(spans))
        return {k: median(v) for k, v in by.items()}

    # query modules
    for mod in MODULES:
        rows = [r for r in inst if r[1] == mod and r[0].startswith("q_")]
        build = per_name(rows, lambda sp: sum(_ms(s) for s in _named(sp, ".build")))
        exe = per_name(rows, lambda sp: sum(_ms(s) for s in _named(sp, ".exec")))
        cpu = sum(_sum(sp, "cpu_ns") for *_, sp in rows)
        wall = sum(_ms(_top(sp)) * 1e6 for *_, sp in rows)
        m[f"{mod}.build_ms"] = sum(build.values())
        m[f"{mod}.exec_ms"] = sum(exe.values())
        for key, name, scale in [("jobs", "jobs", 1), ("stages", "stages", 1),
                                 ("tasks", "tasks", 1),
                                 ("shuffle_write_bytes", "shuffle_mb", MB),
                                 ("disk_spill_bytes", "spill_mb", MB)]:
            m[f"{mod}.{name}"] = sum(per_name(
                rows, lambda sp, k=key: _sum(sp, k)).values()) / scale
        m[f"{mod}.peak_exec_mem_mb"] = max(
            [s["counters"]["peak_exec_mem_bytes"] for *_, sp in rows for s in sp],
            default=0) / MB
        m[f"{mod}.cpu_busy"] = cpu / (wall * cpus) if wall else 0.0

    qrows = [r for r in inst if r[0].startswith("q_")]
    m["plans.plan_ms"] = sum(per_name(
        qrows, lambda sp: sum(_ms(s) for s in _named(sp, ".plan"))).values())
    m["plans.exchanges"] = sum(per_name(
        qrows, lambda sp: _top(sp)["notes"].get("exchanges", 0)).values())
    for q in ITEM4:
        rows = [r for r in qrows if r[0] == q]
        m[f"q.{q}.exec_ms"] = median(
            [sum(_ms(s) for s in _named(sp, ".exec")) for *_, sp in rows])
        m[f"q.{q}.jobs"] = median([_sum(sp, "jobs") for *_, sp in rows])
        m[f"q.{q}.shuffle_mb"] = median(
            [_sum(sp, "shuffle_write_bytes") for *_, sp in rows]) / MB

    # tables: loader and per-session fixtures
    cold_build = {}
    by = _spans_by_op(rec)
    for o in rec["ops"]:
        if o["pass"] == 0 and o["err"] is None and o["name"].startswith("q_"):
            sp = by.get(f'0:{o["idx"]}', [])
            cold_build[o["name"]] = sum(_ms(s) for s in _named(sp, ".build"))
    warm_build = per_name(qrows, lambda sp: sum(_ms(s) for s in _named(sp, ".build")))
    m["tables.load_cold_ms"] = f.get("load_cold_ms", 0.0)
    m["tables.load_warm_ms"] = f.get("load_warm_ms", 0.0)
    m["tables.fixture_build_s"] = sum(
        cold_build[k] - warm_build.get(k, 0.0) for k in cold_build) / 1000.0
    m["tables.mat_mb"] = mat_bytes / MB

    # xml + wiki (probe phase facts, pipeline spans)
    for k in ["xml.plan_ms", "xml.splits", "xml.records", "xml.scan_s",
              "xml.parse_s", "wiki.extract_s", "wiki.agg_sort_s", "wiki.write_s",
              "wiki.link_rows"]:
        m[k] = f.get(k, 0)
    wrows = [r for r in inst if r[0] == "wiki_pipeline"]
    m["wiki.shuffle_mb"] = median([_sum(sp, "shuffle_write_bytes") for *_, sp in wrows]) / MB
    m["wiki.spill_mb"] = median([_sum(sp, "disk_spill_bytes") for *_, sp in wrows]) / MB
    m["wiki.peak_exec_mem_mb"] = max(
        [s["counters"]["peak_exec_mem_bytes"] for *_, sp in wrows for s in sp],
        default=0) / MB
    cpu = sum(_sum(sp, "cpu_ns") for *_, sp in wrows)
    wall = sum(_ms(_top(sp)) * 1e6 for *_, sp in wrows)
    m["wiki.cpu_busy"] = cpu / (wall * cpus) if wall else 0.0
    secs = median([_ms(_top(sp)) for *_, sp in wrows]) / 1000.0
    m["wiki.mb_s"] = f.get("dump_bytes", 0) / MB / secs if secs else 0.0

    # table layer
    trows = [r for r in inst if r[1] == "table"]
    for k in ["append", "merge", "delete", "compact", "vacuum"]:
        m[f"table.{k}_ms"] = median(
            [_ms(_top(sp)) for n, _, _, sp in trows if COMMITS.get(n) == k])
    for k in READS:
        m[f"table.{k}_ms"] = median([_ms(_top(sp)) for n, _, _, sp in trows if n == k])
    w = [sp for _, _, kind, sp in trows if kind == "write"]
    rd = [r for r in trows if r[2] == "read"]
    m["table.jobs_per_commit"] = sum(_sum(sp, "jobs") for sp in w) / len(w) if w else 0.0
    m["table.files_per_commit"] = sum(
        s["notes"].get("files_added", 0) for sp in w for s in sp) / len(w) if w else 0.0
    # every commit of the run, the cold pass included, as user_bytes counts
    written = sum(s["notes"].get("bytes_written", 0) for s in rec["trace"]["spans"])
    m["table.write_amp"] = written / f["user_bytes"] if f.get("user_bytes") else 0.0
    m["table.jobs_per_read"] = (sum(_sum(r[3], "jobs") for r in rd) / len(rd)) if rd else 0.0
    m["table.read_mb_per_lookup"] = median(
        [_sum(r[3], "input_bytes") for r in rd if r[0] == "lookup"]) / MB
    m["table.files_on_disk"] = f.get("files_on_disk", 0)
    if "table_bytes" in f:
        x = extras(rec)
        m["table.write_p50_ms"] = x["write_p50_ms"][0]
        m["table.write_tail_ms"] = x["write_tail_ms"][0]
        m["table.space_amp"] = x["space_amp"][0]
    else:
        m["table.write_p50_ms"] = m["table.write_tail_ms"] = m["table.space_amp"] = 0.0
    return m


def unit(name):
    if name.endswith("mb_s"):
        return "MB/s"
    if name.endswith("_per_lookup"):
        return "MB"
    for suf, u in [("_ms", "ms"), ("_s", "s"), ("_mb", "MB")]:
        if name.endswith(suf):
            return u
    if name.endswith(("cpu_busy", "_amp")):
        return "ratio"
    return "count"
