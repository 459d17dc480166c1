"""Metrics from the raw measurements one benchmark JVM writes.

Pure functions over the JSON the JVM driver (``cdcbench.Main``) emits:
spans and Spark jobs in epoch milliseconds, streaming progress, table
counters and correctness checks. Nothing here touches the program.
"""

import statistics

MB = 1024.0 * 1024.0


# ----------------------------------------------------------- statistics

def percentile(values, q):
    """Linear-interpolated percentile, ``q`` in [0, 100]; 0.0 if empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of ``(start, end)`` intervals, clipped
    to ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, lo, hi, job_layer="spark"):
    """Attribute every instant of ``[lo, hi]`` to one layer.

    ``spans`` are ``(layer, start, end)`` on one timeline. An instant goes
    to the innermost span active at it: a Spark job if any is running,
    else the active span that started last (for nested spans, the
    deepest). Instants no span covers are unattributed. So each layer
    gets its spans' time minus what their children cover, and the layer
    totals plus the unattributed remainder equal ``hi - lo`` exactly.
    Returns ``({layer: time}, unattributed)``.
    """
    cuts = {lo, hi}
    live = []
    for layer, s, e in spans:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            live.append((layer, s, e))
            cuts.add(s)
            cuts.add(e)
    points = sorted(cuts)
    out = {}
    unattributed = 0.0
    for a, b in zip(points, points[1:]):
        best = None
        for layer, s, e in live:
            if s <= a and e >= b:
                key = (layer == job_layer, s)
                if best is None or key > best[0]:
                    best = (key, layer)
        if best is None:
            unattributed += b - a
        else:
            out[best[1]] = out.get(best[1], 0.0) + (b - a)
    return out, unattributed


# ------------------------------------------------------------- helpers

def _spans(raw, name=None, layer=None):
    return [s for s in raw["spans"]
            if (name is None or s["name"] == name) and (layer is None or s["layer"] == layer)]


def _dur_s(spans):
    return [(s["end"] - s["start"]) / 1000.0 for s in spans]


def _within(spans, lo, hi):
    return [s for s in spans if s["start"] >= lo and s["end"] <= hi]


def _progress(raw):
    """Progress records of batches that read data, in batch order."""
    seen = {}
    for p in raw.get("progress", []):
        if p["rows"] > 0:
            seen[p["batch"]] = p
    return [seen[b] for b in sorted(seen)]


def _usage(raw, key):
    """Growth of one resource counter over the measured window."""
    u = raw["usage"]
    return u["end"][key] - u["start"][key]


def _batch_events(raw):
    """Envelopes per streamed batch, through the segments its offsets
    added. (``numInputRows`` counts every scan of the batch's source, and
    the sinks scan it more than once.)"""
    size = {s["seg"]: s["events"] for s in _spans(raw, "publish")}
    return {p["batch"]: sum(size.get(x, 0) for x in set(p["end"]) - set(p["start"]))
            for p in _progress(raw)}


def _jobs_inside(raw, spans, slack=1.0):
    """Jobs whose interval lies inside one of ``spans`` (ms slack for the
    listener's millisecond clock)."""
    out = []
    for j in raw.get("jobs", []):
        for s in spans:
            if j["start"] >= s["start"] - slack and j["end"] <= s["end"] + slack:
                out.append(j)
                break
    return out


def _outside_jobs_s(raw, spans):
    """Time inside ``spans`` not covered by any Spark job."""
    jobs = [(j["start"], j["end"]) for j in raw.get("jobs", [])]
    total = 0.0
    for s in spans:
        total += (s["end"] - s["start"]) - union_length(jobs, s["start"], s["end"])
    return total / 1000.0


def commit_times(raw):
    """Segment id -> return time of the foreachBatch body of the first
    batch whose committed offsets include it (offsets mapped through the
    progress start/end offset sets)."""
    body_end = {s["batch"]: s["end"] for s in _spans(raw, "batch")}
    out = {}
    for p in _progress(raw):
        for seg in set(p["end"]) - set(p["start"]):
            if seg not in out and p["batch"] in body_end:
                out[seg] = body_end[p["batch"]]
    return out


def freshness(raw):
    """Per-segment freshness of the open-loop stream, in seconds: from
    the segment's due time at the generator to its commit time. Only
    segments due inside the measured window count. Returns sorted
    ``(due, freshness)`` pairs."""
    w0, w1 = raw["window"]
    done = commit_times(raw)
    return sorted((s["due"], (done[s["seg"]] - s["due"]) / 1000.0)
                  for s in _spans(raw, "publish")
                  if w0 <= s["due"] < w1 and s["seg"] in done)


def backlog_grows(samples):
    """The steady run is invalid when its backlog grows across the window:
    the median freshness of the window's last third exceeds twice that of
    its first third plus one second."""
    n = len(samples)
    if n < 6:
        return True
    first = [f for _, f in samples[: n // 3]]
    last = [f for _, f in samples[-(n // 3):]]
    return statistics.median(last) > 2 * statistics.median(first) + 1.0


# ------------------------------------------------------ end-to-end

def latency_samples(raw):
    """The workload's user-visible operation latencies, in seconds."""
    w = raw["workload"]
    if w == "cdc_steady":
        return [f for _, f in freshness(raw)]
    w0, w1 = raw["window"]
    if w == "cdc_backlog":
        # the whole backlog is published before the drain starts, so each
        # segment's wait starts with the drain
        return [(t - w0) / 1000.0 for t in commit_times(raw).values()]
    return _dur_s(_within(_spans(raw, "read"), w0, w1))


def throughput(raw):
    w0, w1 = raw["window"]
    w = raw["workload"]
    if w == "cdc_backlog":
        return raw["events"] / ((w1 - w0) / 1000.0)
    if w == "cdc_steady":
        batches = [p for p in _progress(raw) if w0 <= p["ts"] < w1]
        busy = sum(p["dur"]["triggerExecution"] for p in batches) / 1000.0
        events = _batch_events(raw)
        return sum(events[p["batch"]] for p in batches) / busy if busy else 0.0
    return len(_within(_spans(raw, "read"), w0, w1)) / ((w1 - w0) / 1000.0)


def setup_s(raw):
    session = (raw["session_ready_ms"] - raw["jvm_start_ms"]) / 1000.0
    return session + statistics.median(raw["preload_ms"]) / 1000.0


def operations(raw):
    """Events drained (stream workloads) or reads done in the window."""
    if raw["workload"] == "warehouse_reads":
        return len(_within(_spans(raw, "read"), *raw["window"]))
    if raw["workload"] == "cdc_backlog":
        return raw["events"]
    return sum(_batch_events(raw).values())


UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
         "throughput_per_s": "1/s", "cpu_ms_per_op": "ms",
         "snapshot_bytes_per_row": "B", "peak_rss_mb": "MB"}


def end_to_end(raw):
    """Every end-to-end figure; BENCHMARK.json names the gated ones."""
    lat = latency_samples(raw)
    t = raw["table"]
    return {
        "setup_s": setup_s(raw),
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": percentile(lat, 90),
        "throughput_per_s": throughput(raw),
        "cpu_ms_per_op": _usage(raw, "process_cpu_ns") / 1e6 / max(1, operations(raw)),
        "snapshot_bytes_per_row": t["snapshot_bytes"] / max(1, t["live_rows"]),
        "peak_rss_mb": raw["rss_hwm_kb"] / 1024.0,
    }


def details(raw):
    """Context printed beside the metrics: sample counts, generator
    lateness, failures and checks."""
    ticks = _usage(raw, "host_ticks")
    out = {"latency_samples": len(latency_samples(raw)),
           "host_steal_frac": _usage(raw, "host_steal_ticks") / ticks if ticks else 0.0,
           "attempted": raw["attempted"], "failed": raw["failed"],
           "failed_frac": raw["failed"] / max(1, raw["attempted"]),
           "checks": {c["name"]: c["ok"] for c in raw["checks"]}}
    if raw["workload"] == "cdc_steady":
        w0, w1 = raw["window"]
        late = [(s["start"] - s["due"]) for s in _spans(raw, "publish") if w0 <= s["due"] < w1]
        out["generator_lateness_p50_ms"] = percentile(late, 50)
        out["generator_lateness_max_ms"] = max(late) if late else 0.0
        out["backlog_grows"] = backlog_grows(freshness(raw))
    return out


def correct(raw):
    ok = raw.get("error") is None and raw["failed"] == 0 and \
        all(c["ok"] for c in raw["checks"])
    if raw["workload"] == "cdc_steady":
        ok = ok and not backlog_grows(freshness(raw))
    return ok


# ------------------------------------------------------------ per layer

TIMELINE_LAYERS = ("stream", "batch", "merge", "fold", "read", "spark", "trace")


def timeline(raw):
    """Spans on the measured timeline as ``(layer, start, end)``: trigger
    spans from progress, the benchmark's own spans around program calls,
    and Spark jobs. Generator publishes run on their own thread and stay
    off it."""
    out = []
    for p in raw.get("progress", []):
        out.append(("stream", p["ts"], p["ts"] + p["dur"].get("triggerExecution", 0)))
    for s in raw["spans"]:
        if s["layer"] in ("batch", "merge", "fold", "read", "trace"):
            out.append((s["layer"], s["start"], s["end"]))
    for j in raw.get("jobs", []):
        out.append(("spark", j["start"], j["end"]))
    return out


def per_layer(raw):
    """Per-layer metrics from a traced run. Returns ``(metrics,
    bottleneck_layer)``."""
    w0, w1 = raw["window"]
    wall = (w1 - w0) / 1000.0
    m = {}

    pubs = _spans(raw, "publish")
    pub_ms = [(s["end"] - s["start"]) for s in pubs]
    bb = raw.get("bus_bytes", {"before": {"published": 0, "consumed": 0},
                               "after": {"published": 0, "consumed": 0}})
    published = bb["after"]["published"] - bb["before"]["published"]
    consumed = bb["after"]["consumed"] - bb["before"]["consumed"]
    m["bus.publish_p50_ms"] = percentile(pub_ms, 50)
    m["bus.publish_busy_s"] = sum(pub_ms) / 1000.0
    m["bus.published_mb"] = published / MB
    m["bus.consumed_mb"] = consumed / MB
    m["bus.consumed_per_published"] = consumed / published if published else 0.0

    prog = [p for p in _progress(raw) if w0 - 1 <= p["ts"] <= w1]
    def dsum(k):
        return sum(p["dur"].get(k, 0) for p in prog) / 1000.0
    m["stream.batches"] = len(prog)
    batch_events = _batch_events(raw)
    events = sum(batch_events[p["batch"]] for p in prog)
    m["stream.events_per_batch_p50"] = percentile([batch_events[p["batch"]] for p in prog], 50)
    for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        m["stream.%s_s" % k] = dsum(k)
    m["stream.trigger_p50_s"] = percentile(
        [p["dur"].get("triggerExecution", 0) / 1000.0 for p in prog], 50)
    m["stream.backlog_segments_max"] = max(
        [int(p["metrics"].get("backlogSegments", 0)) for p in raw.get("progress", [])] or [0])

    tr = raw.get("transform")
    m["cdc.transform_events_per_s"] = \
        tr["events"] / (statistics.median(tr["ms"]) / 1000.0) if tr else 0.0

    jobs = raw.get("jobs", [])
    win_jobs = [j for j in jobs if j["start"] >= w0 and j["end"] <= w1]

    def label_s(label):
        return sum(j["end"] - j["start"] for j in win_jobs if j["label"] == label) / 1000.0

    merges = _within(_spans(raw, "merge"), w0, w1)
    md = _dur_s(merges)
    m["merge.p50_s"] = percentile(md, 50)
    m["merge.p95_s"] = percentile(md, 95)
    m["merge.busy_s"] = sum(md)
    m["merge.jobs_per_call"] = len(_jobs_inside(raw, merges)) / len(merges) if merges else 0.0
    m["merge.route_s"] = label_s("merge:route")
    m["merge.write_s"] = label_s("merge:write")
    m["merge.sidecars_s"] = label_s("merge:sidecars")
    m["merge.stats_scan_s"] = label_s("merge:stats-scan")
    m["merge.outside_jobs_s"] = _outside_jobs_s(raw, merges)
    m["merge.buckets_rewritten_per_call"] = \
        sum(s["buckets"] for s in merges) / len(merges) if merges else 0.0
    m["merge.bytes_written_per_event"] = \
        sum(s["bytes"] for s in merges) / events if events else 0.0
    t = raw["table"]
    stats_total = t["stats_from_footer"] + t["stats_from_scan"]
    m["merge.stats_footer_ratio"] = t["stats_from_footer"] / stats_total if stats_total else 0.0

    folds = _within(_spans(raw, "fold"), w0, w1)
    fd = _dur_s(folds)
    m["fold.p50_s"] = percentile(fd, 50)
    m["fold.busy_s"] = sum(fd)
    m["fold.jobs_per_call"] = len(_jobs_inside(raw, folds)) / len(folds) if folds else 0.0
    m["fold.outside_jobs_s"] = _outside_jobs_s(raw, folds)

    m["table.versions"] = t["versions"]
    m["table.files_per_bucket_p50"] = percentile(t["files_per_bucket"], 50)
    m["table.disk_mb"] = t["disk_bytes"] / MB
    m["table.snapshot_mb"] = t["snapshot_bytes"] / MB

    reads = _within(_spans(raw, "read"), w0, w1)
    for kind in ("analytics", "keys", "points", "range", "view"):
        m["read.%s_p50_s" % kind] = percentile(
            _dur_s([s for s in reads if s["kind"] == kind]), 50)
    m["read.jobs_per_read"] = len(_jobs_inside(raw, reads)) / len(reads) if reads else 0.0
    plans = [(p[0], p[1]) for p in raw.get("plans", [])]
    job_iv = [(j["start"], j["end"]) for j in jobs]
    m["read.plan_s"] = sum(
        union_length(plans + job_iv, s["start"], s["end"]) - union_length(job_iv, s["start"], s["end"])
        for s in reads) / 1000.0
    m["read.outside_jobs_s"] = _outside_jobs_s(raw, reads)
    m["read.bucket_admit_ratio"] = \
        t["probe_buckets_admitted"] / t["probe_buckets_total"] if t["probe_buckets_total"] else 0.0

    injob = union_length(job_iv, w0, w1) / 1000.0
    busy = union_length(plans + job_iv, w0, w1) / 1000.0
    m["spark.jobs"] = len(win_jobs)
    m["spark.tasks"] = sum(j["tasks"] for j in win_jobs)
    m["spark.plan_s"] = busy - injob
    m["spark.injob_s"] = injob
    m["spark.driver_s"] = wall - busy
    m["spark.shuffle_mb"] = sum(j["shuffle_bytes"] for j in win_jobs) / MB
    m["spark.spill_mb"] = sum(j["spill_bytes"] for j in win_jobs) / MB
    m["spark.gc_s"] = _usage(raw, "gc_ms") / 1000.0
    one = raw.get("single_core")
    m["spark.drain_events_per_s_1core"] = \
        one["events"] / ((one["window"][1] - one["window"][0]) / 1000.0) if one else 0.0

    layers, unattributed = self_times(timeline(raw), w0, w1)
    for layer in TIMELINE_LAYERS:
        m["self.%s_s" % layer] = layers.get(layer, 0.0) / 1000.0
    m["trace.unattributed_s"] = unattributed / 1000.0
    m["trace.wall_s"] = wall
    # the tracer's own work on the timeline (snapshot listings around each
    # merge) over the time the pipeline had; listener callbacks run on
    # Spark's listener thread and are not in it
    traced = m["self.trace_s"]
    m["trace.overhead_frac"] = traced / (wall - traced) if wall > traced else 0.0
    bottleneck = max(layers, key=layers.get) if layers else "none"
    return m, bottleneck
