"""Turn the harness's raw observations into checked metrics.

Every operation's output fingerprint is compared with the reference; an
operation that raised or mismatched counts as failed and never as a timing.
"""
import statistics

from reference import compare

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "latency_ms.p50": "ms",
    "mem_peak_mb": "MB",
}

LAYERS = {
    "sources": [("self_s", "s"), ("rows_out", "count"), ("bytes_read", "B"), ("gc_s", "s")],
    "candles": [("self_s", "s"), ("rows_out", "count"), ("live_ratio", "ratio"),
                ("shuffle_bytes", "B"), ("core_util", "ratio"), ("gc_s", "s")],
    "rolling": [("self_s", "s"), ("rows_out", "count"), ("shuffle_bytes", "B"),
                ("core_util", "ratio"), ("gc_s", "s")],
    "correlations": [("self_s", "s"), ("packets", "count"), ("pair_candidates", "count"),
                     ("pairs_out", "count"), ("pair_yield", "ratio"),
                     ("shuffle_bytes", "B"), ("shuffle_records", "count"),
                     ("spill_bytes", "B"), ("peak_exec_mem_mb", "MB"),
                     ("core_util", "ratio"), ("task_skew", "ratio"), ("gc_s", "s")],
    "stream": [("stage_s", "s"), ("epochs", "count"), ("empty_epochs", "count"),
               ("epoch_ms.p50", "ms"), ("add_batch_ms.p50", "ms"),
               ("planning_ms.p50", "ms"), ("wal_commit_ms.p50", "ms"),
               ("commit_offsets_ms.p50", "ms"), ("pair_join_ms.p50", "ms"),
               ("state_rows.max", "count"), ("state_mem_mb.max", "MB"),
               ("state_commit_ms.p50", "ms"), ("rows_dropped_late", "count"),
               ("busy_ratio", "ratio"), ("generator_late_ms.max", "ms"),
               ("backlog_files.max", "count"), ("gc_s", "s")],
    "dedup": [("shingle_s", "s"), ("shingles_out", "count"), ("lsh_s", "s"),
              ("pairs_out", "count"), ("survivors_s", "s"), ("shuffle_bytes", "B"),
              ("gc_s", "s")],
    "text": [("quality_s", "s"), ("contamination_s", "s"),
             ("contaminated_out", "count"), ("gc_s", "s")],
    "curation": [("self_s", "s")],
    "trace": [("overhead_ratio", "ratio"), ("coverage", "ratio")],
}
PER_LAYER = {f"{layer}.{name}": unit for layer, ms in LAYERS.items() for name, unit in ms}
# a traced batch operation's layer spans must cover this share of its time
COVERAGE_MIN = 0.95


def pct(xs, q):
    """Linear-interpolated percentile `q` (0-100) of `xs`."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    if k == lo:
        return s[lo]
    return s[lo] + (s[lo + 1] - s[lo]) * (k - lo)


def setup_seconds(setups):
    """Median set-up time; the first set-up counts from JVM launch."""
    return statistics.median((s["end_ms"] - s["start_ms"]) / 1000.0 for s in setups)


class Summary:
    def __init__(self):
        self.metrics = {}
        self.samples = 0
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def fail(self, what):
        self.problems.append(what)


# ------------------------------------------------------------------ batch

def batch(raw, ref, input_rows, trace):
    out = Summary()
    for fp in raw["warm_up"]:
        bad = compare(ref["warm"], fp)
        if bad:
            out.fail(f"warm-up output mismatch: {bad[:3]}")
    ok = []
    for op in raw["ops"]:
        out.attempted += 1
        if "error" in op:
            out.failed += 1
            out.fail(f"operation {op['i']} raised: {op['error'].splitlines()[0]}")
            continue
        bad = compare(ref["total"], op["fp"])
        if bad:
            out.failed += 1
            out.fail(f"operation {op['i']} output mismatch: {bad[:3]}")
            continue
        ok.append(op)
    plain = [o["ms"] for o in ok if not o["traced"]]
    if trace:
        out.metrics = batch_layers(raw, ok, plain)
        if out.metrics["trace.coverage"] < COVERAGE_MIN:
            out.fail(f"layer spans cover {out.metrics['trace.coverage']:.3f} of the "
                     f"traced operation, under {COVERAGE_MIN}")
        return out
    p50 = pct(plain, 50)
    out.samples = len(plain)
    out.metrics = {
        "setup_s": setup_seconds(raw["setups"]),
        "rows_per_s": input_rows / (p50 / 1000.0),
        "latency_ms.p50": p50,
        "mem_peak_mb": statistics.median(o["mem_mb"] for o in ok),
    }
    return out


SPAN_SUMS = ("ms", "gc_ms", "input_bytes", "shuffle_bytes", "shuffle_records",
             "spill_bytes", "task_run_ms")


def per_op_layers(spans):
    """Sum each layer's spans within one traced operation (a layer called
    twice in one operation, as fx_batch calls candles, counts once)."""
    out = {}
    for s in spans:
        a = out.setdefault(s["layer"], {k: 0.0 for k in SPAN_SUMS} | {
            "peak_exec_mem": 0.0, "task_skew": 1.0})
        for k in SPAN_SUMS:
            a[k] += s[k]
        a["peak_exec_mem"] = max(a["peak_exec_mem"], s["peak_exec_mem"])
        a["task_skew"] = max(a["task_skew"], s["task_skew"])
    return out


def batch_layers(raw, ok, plain):
    m = {k: 0.0 for k in PER_LAYER}
    spans = {}
    for s in raw.get("spans", []):
        spans.setdefault(s["op"], []).append(s)
    traced = [o for o in ok if o["traced"] and o["i"] in spans]
    if not traced or not plain:
        return m
    cores = raw["cores"]
    layers, traced_ms, coverage = {}, [], []
    for o in traced:
        ss = spans[o["i"]]
        traced_ms.append(o["ms"])
        coverage.append(sum(s["ms"] for s in ss) / o["ms"])
        for layer, a in per_op_layers(ss).items():
            layers.setdefault(layer, []).append(a)

    def med(layer, f):
        return statistics.median(f(a) for a in layers[layer])

    seconds = {"sources": "sources.self_s", "candles": "candles.self_s",
               "rolling": "rolling.self_s", "correlations": "correlations.self_s",
               "curation": "curation.self_s", "dedup.shingle": "dedup.shingle_s",
               "dedup.lsh": "dedup.lsh_s", "dedup.survivors": "dedup.survivors_s",
               "text.quality": "text.quality_s",
               "text.contamination": "text.contamination_s"}
    for layer, key in seconds.items():
        if layer in layers:
            m[key] = med(layer, lambda a: a["ms"]) / 1000.0
    for group in ("sources", "candles", "rolling", "correlations", "dedup", "text"):
        parts = [n for n in layers if n == group or n.startswith(group + ".")]
        if parts:
            m[f"{group}.gc_s"] = sum(med(n, lambda a: a["gc_ms"]) for n in parts) / 1000.0
            if f"{group}.shuffle_bytes" in m:
                m[f"{group}.shuffle_bytes"] = sum(
                    med(n, lambda a: a["shuffle_bytes"]) for n in parts)
            if f"{group}.core_util" in m:
                m[f"{group}.core_util"] = med(
                    group, lambda a: a["task_run_ms"] / (a["ms"] * cores))
    if "sources" in layers:
        m["sources.bytes_read"] = med("sources", lambda a: a["input_bytes"])
    if "correlations" in layers:
        m["correlations.shuffle_records"] = med("correlations", lambda a: a["shuffle_records"])
        m["correlations.spill_bytes"] = med("correlations", lambda a: a["spill_bytes"])
        m["correlations.peak_exec_mem_mb"] = med(
            "correlations", lambda a: a["peak_exec_mem"]) / 1048576.0
        m["correlations.task_skew"] = med("correlations", lambda a: a["task_skew"])
    last = traced[-1]["counts"]
    for k, v in last.items():
        if k in m:
            m[k] = float(v)
    if last.get("candles.rows_out"):
        m["candles.live_ratio"] = last["candles.live"] / last["candles.rows_out"]
    if last.get("correlations.pair_candidates"):
        m["correlations.pair_yield"] = (last["correlations.pairs_out"]
                                        / last["correlations.pair_candidates"])
    m["trace.overhead_ratio"] = statistics.median(traced_ms) / statistics.median(plain) - 1.0
    m["trace.coverage"] = statistics.median(coverage)
    return m


# ----------------------------------------------------------------- stream

def stream_accounting(due_ms, commit_ms, failed=()):
    """Per-file latency from its due time to the commit of the epoch that
    consumed it, and the largest number of files due but not consumed.

    `commit_ms[i]` is None for a file never consumed; its latency, and that
    of a file in `failed`, is infinite. Because every latency runs from the
    due time, a stall delays (and is charged to) every file due while it
    lasts."""
    lat = [float("inf") if c is None or i in failed else c - d
           for i, (d, c) in enumerate(zip(due_ms, commit_ms))]
    backlog = 0
    for t in due_ms:
        waiting = sum(1 for d, c in zip(due_ms, commit_ms)
                      if d <= t and (c is None or c > t))
        backlog = max(backlog, waiting)
    return lat, backlog


def stream(raw, ref, input_rows, trace):
    out = Summary()
    feed = raw["stream"]
    due = feed["due_ms"]
    n = len(due)
    epochs = [e for e in feed["epochs"] if e["rows"] > 0]
    commit = [None] * n
    batch_file = {}
    for e in epochs:
        if 0 <= e["offset"] < n:
            commit[e["offset"]] = e["commit_ms"]
            batch_file[e["batch"]] = e["offset"]
    failed = set(i for i, c in enumerate(commit) if c is None)
    want = ref["windows"]
    seen = set()
    for call in feed["sink"]:
        f = batch_file.get(call["batch"], n - 1)
        for w, fp in call["windows"].items():
            bad = ["emitted twice"] if w in seen else []
            seen.add(w)
            bad += compare(want[w], fp) if w in want else ["not in reference"]
            if bad:
                failed.add(f)
                out.fail(f"window {w} (file {f}): {bad[:3]}")
    missing = set(want) - seen
    if missing:
        failed.add(n - 1)
        out.fail(f"{len(missing)} reference windows never emitted")
    for call in raw["warm_up"]:
        for w, fp in call["windows"].items():
            bad = compare(want[w], fp) if w in want else ["not in reference"]
            if bad:
                out.fail(f"warm-up window {w}: {bad[:3]}")
    out.attempted, out.failed = n, len(failed)
    lat, backlog = stream_accounting(due, commit, failed)
    done = [c for c in commit if c is not None]
    span_s = (max(done) - min(due)) / 1000.0 if done else float("nan")
    if trace:
        out.metrics = stream_layers(raw, feed, epochs, backlog, span_s)
        return out
    out.samples = len(lat)
    out.metrics = {
        "setup_s": setup_seconds(raw["setups"]),
        "rows_per_s": sum(e["rows"] for e in epochs) / span_s,
        "latency_ms.p50": pct(lat, 50),
        "mem_peak_mb": feed["mem_mb"],
    }
    return out


def stream_layers(raw, feed, epochs, backlog, span_s):
    m = {k: 0.0 for k in PER_LAYER}
    dur = lambda k: [e["durations"].get(k, 0) for e in epochs]
    sinks = feed["sink"]
    m.update({
        "stream.stage_s": statistics.median(s["stage_s"] for s in raw["setups"]),
        "stream.epochs": float(len(epochs)),
        "stream.empty_epochs": float(len(epochs) - len(sinks)),
        "stream.epoch_ms.p50": pct(dur("triggerExecution"), 50),
        "stream.add_batch_ms.p50": pct(dur("addBatch"), 50),
        "stream.planning_ms.p50": pct(dur("queryPlanning"), 50),
        "stream.wal_commit_ms.p50": pct(dur("walCommit"), 50),
        "stream.commit_offsets_ms.p50": pct(dur("commitOffsets"), 50),
        "stream.pair_join_ms.p50": pct([s["sink_ms"] for s in sinks], 50) if sinks else 0.0,
        "stream.state_rows.max": float(max(e["state_rows"] for e in epochs)),
        "stream.state_mem_mb.max": max(e["state_mem"] for e in epochs) / 1048576.0,
        "stream.state_commit_ms.p50": pct([e["state_commit_ms"] for e in epochs], 50),
        "stream.rows_dropped_late": float(sum(e["dropped_late"] for e in epochs)),
        "stream.busy_ratio": sum(dur("triggerExecution")) / 1000.0 / span_s,
        "stream.generator_late_ms.max": float(max(r - d for r, d in
                                                  zip(feed["released_ms"], feed["due_ms"]))),
        "stream.backlog_files.max": float(backlog),
        "stream.gc_s": feed["gc_ms"] / 1000.0,
    })
    spans = [s for s in raw.get("spans", []) if s["layer"] == "correlations"]
    if spans:
        m["correlations.self_s"] = sum(s["ms"] for s in spans) / 1000.0
        m["correlations.pairs_out"] = float(sum(
            fp["rows"] for c in sinks for fp in c["windows"].values()))
        for k in ("shuffle_bytes", "shuffle_records", "spill_bytes"):
            m[f"correlations.{k}"] = float(sum(s[k] for s in spans))
        m["correlations.peak_exec_mem_mb"] = max(s["peak_exec_mem"] for s in spans) / 1048576.0
        m["correlations.core_util"] = statistics.median(s["core_util"] for s in spans)
        m["correlations.task_skew"] = statistics.median(s["task_skew"] for s in spans)
        m["correlations.gc_s"] = sum(s["gc_ms"] for s in spans) / 1000.0
    return m


def summarize(workload, raw, ref, input_rows, trace):
    f = stream if workload == "fx_stream" else batch
    return f(raw, ref, input_rows, trace)
