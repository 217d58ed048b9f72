"""Turns the raw JSON a benchmark JVM writes into the reported metrics.

end_to_end(raw)  the gated metrics of an untraced run (BENCHMARK.json
                 `end_to_end`); every workload reports every one of them,
                 each measured on that workload's own calls
report(raw)      the workload's named user-facing figures, with units and
                 sample counts, plus the run's inputs and settings
per_layer(raw)   the traced run's per-layer figures (BENCHMARK.json
                 `per_layer`) and the tracing overhead
"""
from stats import median, percentile, ratio, union_length

# What the generic end-to-end metrics measure on each workload:
#   main      etl: one whole pipeline      lookup: Index.find + collect
#             store: one micro-batch (CSV read, nearDedupIngest,
#             survivors written as CSV)
#   aux       etl: the calls before the sink (CSV header checks, index
#             builds, join planning)       lookup: 64-key probe join
#             store: the fixed probe after each ingest
#   space_amp   etl: sink bytes per input byte
#               lookup: cached index bytes per input byte
#               store: store bytes written per ingested byte
#   bytes_per_row  etl: sink bytes per output row
#                  lookup: cached bytes per indexed row
#                  store: live store bytes per live doc


def _ms(xs):
    return median(xs) * 1000.0


def store_write_amp(raw):
    """Store bytes written per UTF-8 byte of ids and text ingested, with
    compaction amortised over the batches of one compaction cycle, so the
    figure does not depend on where in a cycle the run ended."""
    c = raw["counters"]
    ingested = c.get("ingested_bytes", 0.0)
    amp = ratio(c.get("ingest_bytes_added", 0.0), ingested)
    if c.get("compact_calls"):
        per_batch = ratio(ingested, c["ingest_calls"])
        cycle = per_batch * raw["info"]["inputs"]["compact_every"]
        amp += ratio(c["compact_bytes_added"] / c["compact_calls"], cycle)
    return amp


def end_to_end(raw):
    wl = raw["workload"]
    s, c, info = raw["samples"], raw["counters"], raw["info"]
    main, aux = s["main"], s["aux"]
    m = {
        "setup_s": (median(raw["setup_s"]), "s"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
        "main_p50_ms": (_ms(main), "ms"),
        "aux_p50_ms": (_ms(aux), "ms"),
    }
    if wl == "etl":
        sink = ratio(c["sink_bytes"], c["sink_calls"])
        m["space_amp"] = (ratio(sink, info["input_bytes"]), "ratio")
        m["bytes_per_row"] = (ratio(c["sink_bytes"], c["out_rows"]), "B")
    elif wl == "lookup":
        m["space_amp"] = (ratio(info["index_cache_bytes"], info["input_bytes"]), "ratio")
        m["bytes_per_row"] = (ratio(info["index_cache_bytes"], info["index_rows"]), "B")
    else:
        m["space_amp"] = (store_write_amp(raw), "ratio")
        m["bytes_per_row"] = (ratio(info["store_bytes_live"], info["store_docs_live"]), "B")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _timing(xs, scale, unit):
    return {"value": median(xs) * scale, "unit": unit, "n": len(xs)}


def report(raw):
    """The named figures a user of each workload reads, with sample counts.
    A traced run reports over its recorded and bare requests together."""
    wl = raw["workload"]
    if raw["trace"]:
        raw = dict(raw, samples={k: raw["samples"].get(k, []) + v
                                 for k, v in raw["traced_samples"].items()})
    s, e2e = raw["samples"], end_to_end(raw)
    r = {
        "setup_s": {"value": e2e["setup_s"]["value"], "unit": "s", "n": len(raw["setup_s"])},
        "error_rate": {"value": ratio(raw["failed"] + raw["wrong"], raw["attempted"]),
                       "unit": "ratio", "n": raw["attempted"]},
        "peak_rss_mb": {"value": raw["peak_rss_kb"] / 1024.0, "unit": "MB"},
        "live_heap_mb": e2e["live_heap_mb"],
    }
    if wl == "etl":
        rows = raw["info"]["inputs"]["stream_rows"] * len(s["main"])
        r["etl_rows_per_s"] = {"value": ratio(rows, sum(s["main"])), "unit": "rows/s"}
        r["etl_pipeline_p50_s"] = _timing(s["main"], 1.0, "s")
    elif wl == "lookup":
        r["lookup_p50_ms"] = _timing(s["main"], 1000.0, "ms")
        r["lookup_p90_ms"] = {"value": percentile(s["main"], 90) * 1000.0, "unit": "ms",
                              "n": len(s["main"])}
        r["probe_join_p50_ms"] = _timing(s["aux"], 1000.0, "ms")
    else:
        docs = raw["counters"]["ingested_docs"]
        r["ingest_docs_per_s"] = {"value": ratio(docs, sum(s["ingest"])), "unit": "docs/s"}
        r["ingest_batch_p50_s"] = _timing(s["ingest"], 1.0, "s")
        r["batch_step_p50_s"] = _timing(s["main"], 1.0, "s")
        r["store_probe_p50_ms"] = _timing(s["aux"], 1000.0, "ms")
        if s.get("compact"):
            r["compact_p50_s"] = _timing(s["compact"], 1.0, "s")
        r["store_write_amp"] = {"value": store_write_amp(raw), "unit": "ratio"}
        r["store_bytes_per_doc"] = dict(e2e["bytes_per_row"], unit="B/doc")
    return {
        "workload": wl, "seed": raw["seed"], "metrics": r,
        "inputs": raw["info"].get("inputs", {}),
        "index_cache_bytes": raw["info"].get("index_cache_bytes"),
        "storage_memory_bytes": raw["info"].get("storage_memory_bytes"),
        "session_start_s": raw["session_start_s"], "warmup_s": raw["warmup_s"],
        "requests": raw["requests"], "calib_s": raw["calib_s"],
        "settings": raw["settings"], "errors": raw["errors"],
    }


PER_LAYER = [
    ("sources.csv_read_s", "s"), ("sources.scan_bytes", "B"), ("sources.scan_rows", "count"),
    ("sources.header_check_s", "s"),
    ("operators.Index.build_s", "s"), ("operators.Index.cache_bytes", "B"),
    ("operators.Index.find_s", "s"), ("operators.Index.rows_scanned_per_hit", "ratio"),
    ("operators.Pipe.join_s", "s"), ("operators.Pipe.broadcast_build_ms", "ms"),
    ("operators.Pipe.sink_s", "s"), ("operators.Pipe.sink_bytes", "B"),
    ("operators.Dedup.ingest_s", "s"), ("operators.Dedup.ingest_jobs", "count"),
    ("operators.Store.bytes_written", "B"), ("operators.Store.files_written", "count"),
    ("operators.Dedup.probe_s", "s"), ("operators.Dedup.probe_jobs", "count"),
    ("operators.Dedup.compact_s", "s"), ("operators.Dedup.stats_s", "s"),
    ("operators.Store.files_live", "count"), ("operators.Store.bytes_live", "B"),
    ("spark.driver.plan_ms", "ms"), ("spark.driver.only_s", "s"),
    ("spark.sched.jobs", "count"), ("spark.sched.stages", "count"),
    ("spark.sched.tasks", "count"), ("spark.sched.delay_s", "s"),
    ("spark.exec.run_s", "s"), ("spark.exec.cpu_s", "s"), ("spark.exec.gc_s", "s"),
    ("spark.shuffle.write_bytes", "B"), ("spark.shuffle.read_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.exec.busy_frac", "ratio"),
    ("trace.overhead_ms", "ms"),
]


class Trace:
    """Index of one traced run: spans by id, each span's root, and the
    jobs, stages and queries attributed to each root span."""

    def __init__(self, t):
        self.spans = {s["id"]: s for s in t["spans"]}
        self.root = {sid: self._root(sid) for sid in self.spans}
        self.jobs = {}
        for j in t["jobs"]:
            r = self.root.get(j["span"])
            if r is not None:
                self.jobs.setdefault(r, []).append(j)
        self.stages = {}
        for st in t["stages"]:
            r = self.root.get(st["span"])
            if r is not None:
                self.stages.setdefault(r, []).append(st)
        # queries carry no span id: attribute each to the innermost span
        # that was open when its planning ended
        self.queries = {}
        self.query_span = []
        ordered = sorted(self.spans.values(), key=lambda s: s["t1"] - s["t0"])
        for q in t["queries"]:
            hit = next((s for s in ordered if s["t0"] <= q["t_ms"] <= s["t1"]), None)
            if hit is not None:
                self.queries.setdefault(self.root[hit["id"]], []).append(q)
                self.query_span.append((hit["id"], q))

    def _root(self, sid):
        s = self.spans[sid]
        while s["parent"] and s["parent"] in self.spans:
            s = self.spans[s["parent"]]
        return s["id"]

    def roots(self):
        """Root spans of loop requests (request 0 is the set-up)."""
        return [s for s in self.spans.values()
                if s["id"] == self.root[s["id"]] and s["req"] > 0]

    def requests(self):
        """Loop requests: req id -> its root spans."""
        out = {}
        for s in self.roots():
            out.setdefault(s["req"], []).append(s)
        return out

    def per_request_op_s(self, name):
        """Median over requests (set-up included) of the seconds spent in
        spans called `name` within the request."""
        per = {}
        for s in self.spans.values():
            if s["name"] == name:
                per[s["req"]] = per.get(s["req"], 0.0) + (s["t1"] - s["t0"]) / 1000.0
        return median(list(per.values())) or 0.0

    def jobs_per_call(self, name):
        counts = {s["id"]: 0 for s in self.spans.values() if s["name"] == name}
        for js in self.jobs.values():
            for j in js:
                if j["span"] in counts:
                    counts[j["span"]] += 1
        return median(list(counts.values())) or 0.0


def driver_only_ms(root, jobs):
    """Span wall time not covered by any of its jobs."""
    wall = root["t1"] - root["t0"]
    return wall - union_length([(j["t0"], j["t1"]) for j in jobs], clip=(root["t0"], root["t1"]))


def per_layer(raw):
    t = Trace(raw["trace"])
    reqs = t.requests()
    n = len(reqs)
    cores = int(raw["settings"]["master"].split("[")[1].rstrip("]"))
    c, info = raw["counters"], raw["info"]

    def per_req(f):
        return ratio(sum(f(r) for rs in reqs.values() for r in rs), n)

    def stage_sum(key, scan_only=False):
        return per_req(lambda r: sum(st[key] for st in t.stages.get(r["id"], [])
                                     if st["scan"] or not scan_only))

    def query_sum(key):
        return per_req(lambda r: sum(q[key] for q in t.queries.get(r["id"], [])))

    find_rows = sum(s["attrs"].get("rows", 0.0) for s in t.spans.values()
                    if s["name"] == "operators.Index.find")
    find_scanned = sum(q["mem_scan_rows"] for sid, q in t.query_span
                       if t.spans[sid]["name"] == "operators.Index.find")
    run_ms = sum(st["run_ms"] for r, sts in t.stages.items() if t.spans[r]["req"] > 0
                 for st in sts)
    wall_ms = sum(r["t1"] - r["t0"] for rs in reqs.values() for r in rs)
    traced = raw["traced_samples"].get("main", [])
    bare = raw["samples"].get("main", [])
    m = {
        # CsvSource.read is lazy apart from its header check; the parse runs
        # in the scan stages of whichever job consumes the frame
        "sources.csv_read_s": stage_sum("run_ms", scan_only=True) / 1000.0,
        "sources.scan_bytes": stage_sum("in_bytes", scan_only=True),
        "sources.scan_rows": stage_sum("in_records", scan_only=True),
        "sources.header_check_s": t.per_request_op_s("sources.CsvSource.read"),
        "operators.Index.build_s": t.per_request_op_s("operators.Index.build"),
        "operators.Index.cache_bytes": info.get("index_cache_bytes", 0),
        "operators.Index.find_s": t.per_request_op_s("operators.Index.find"),
        "operators.Index.rows_scanned_per_hit": ratio(find_scanned, find_rows),
        "operators.Pipe.join_s": t.per_request_op_s("operators.Pipe.join"),
        "operators.Pipe.broadcast_build_ms": query_sum("broadcast_build_ms"),
        "operators.Pipe.sink_s": t.per_request_op_s("operators.Pipe.sink"),
        "operators.Pipe.sink_bytes": ratio(c.get("sink_bytes", 0), c.get("sink_calls", 0)),
        "operators.Dedup.ingest_s": t.per_request_op_s("operators.Dedup.ingest"),
        "operators.Dedup.ingest_jobs": t.jobs_per_call("operators.Dedup.ingest"),
        "operators.Store.bytes_written": ratio(c.get("ingest_bytes_added", 0), c.get("ingest_calls", 0)),
        "operators.Store.files_written": ratio(c.get("ingest_files_added", 0), c.get("ingest_calls", 0)),
        "operators.Dedup.probe_s": t.per_request_op_s("operators.Dedup.probe"),
        "operators.Dedup.probe_jobs": t.jobs_per_call("operators.Dedup.probe"),
        "operators.Dedup.compact_s": t.per_request_op_s("operators.Dedup.compact"),
        "operators.Dedup.stats_s": t.per_request_op_s("operators.Dedup.stats"),
        "operators.Store.files_live": info.get("store_files_live", 0),
        "operators.Store.bytes_live": info.get("store_bytes_live", 0),
        "spark.driver.plan_ms": query_sum("plan_ms"),
        "spark.driver.only_s": per_req(lambda r: driver_only_ms(r, t.jobs.get(r["id"], []))) / 1000.0,
        "spark.sched.jobs": per_req(lambda r: len(t.jobs.get(r["id"], []))),
        "spark.sched.stages": per_req(lambda r: len(t.stages.get(r["id"], []))),
        "spark.sched.tasks": stage_sum("tasks"),
        "spark.sched.delay_s": stage_sum("delay_ms") / 1000.0,
        "spark.exec.run_s": stage_sum("run_ms") / 1000.0,
        "spark.exec.cpu_s": stage_sum("cpu_ns") / 1e9,
        "spark.exec.gc_s": stage_sum("gc_ms") / 1000.0,
        "spark.shuffle.write_bytes": stage_sum("sh_write_bytes"),
        "spark.shuffle.read_bytes": stage_sum("sh_read_bytes"),
        "spark.spill_bytes": stage_sum("spill_bytes"),
        "spark.exec.busy_frac": ratio(run_ms, wall_ms * cores),
        "trace.overhead_ms": (_ms(traced) - _ms(bare)) if traced and bare else 0.0,
    }
    units = dict(PER_LAYER)
    return {k: {"value": float(m[k]), "unit": units[k]} for k, _ in PER_LAYER}
