"""Turns one run's artifacts into the printed metrics.

`result.json` (written by the JVM) holds the end-to-end metrics, the
per-layer counters it measured directly, the output checks and the
operation counts. `spans.jsonl` (traced runs only) holds the spans; the
per-layer metrics that come from Spark's listener bus and the self times
are computed here.
"""
import json
import statistics
from collections import defaultdict

# Layer groups and the workloads that load them. A workload reports 0 for
# every metric of a group it does not load; the run's loaded-class check
# shows the group's code was never loaded.
GROUP_OF_PREFIX = {
    "source.": "batch", "parse.": "batch", "schedule.": "batch",
    "exchange.": "batch", "pace.": "batch",
    "sink.": "replay",
    "stream.": "stream", "reorder.": "stream",
    "query.": "query", "cache.": "query",
}
LOADS = {
    "replay-batch": {"batch", "replay"},
    "replay-stream": {"stream", "replay"},
    "query-mix": {"query"},
}


def self_times(spans):
    """Self time of every span, in microseconds: its duration minus the part
    of its interval covered by the union of its children's intervals."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def span_metrics(spans):
    """Per-layer metrics read from the span tree."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def subtree(root, name=None):
        stack, out = [root], []
        while stack:
            for c in kids.get(stack.pop()["id"], []):
                stack.append(c)
                if name is None or c["name"] == name:
                    out.append(c)
        return out

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    selfs = self_times(spans)
    m = {}
    stages = [s for s in spans if s["name"] == "spark.stage"]
    m["spark.executor_cpu_s"] = sum(s["attrs"]["cpu_ns"] for s in stages) / 1e9
    m["spark.gc_s"] = sum(s["attrs"]["gc_ms"] for s in stages) / 1e3
    m["spark.tasks"] = float(sum(s["attrs"]["tasks"] for s in stages))

    categories = {"self.call_s": None, "self.job_s": "spark.job",
                  "self.stage_s": "spark.stage", "self.send_s": "sink.send",
                  "self.sleep_s": "pace.sleep", "self.trigger_s": "stream.trigger"}
    named = {v for v in categories.values() if v}
    for key, name in categories.items():
        m[key] = sum(selfs[s["id"]] for s in spans
                     if (s["name"] == name if name else s["name"] not in named)) / 1e6

    runs = [s for s in spans if s["name"] in ("replay.run", "stream.run")]
    m["trace.covered_frac"] = _median([1 - selfs[r["id"]] / max(1, r["end_us"] - r["start_us"])
                                       for r in runs])
    m["trace.spans"] = float(len(spans))

    replay = [s for s in spans if s["name"] == "replay.run"]
    if replay:
        ex_s, ex_w, spill = [], [], []
        for r in replay:
            # the range repartition is the run's largest shuffle write (the
            # anchor aggregate writes a few bytes); with adaptive execution
            # its map stage runs as a job of its own
            st = subtree(r, "spark.stage")
            ex = max(st, key=lambda x: x["attrs"]["shuffle_write_bytes"])
            ex_s.append(dur(ex))
            ex_w.append(ex["attrs"]["shuffle_write_bytes"])
            spill.append(sum(x["attrs"]["spill_bytes"] for x in st))
        m["exchange.stage_s"] = _median(ex_s)
        m["exchange.shuffle_write_bytes"] = _median(ex_w)
        m["exchange.spill_bytes"] = _median(spill)

    stream = [s for s in spans if s["name"] == "stream.run"]
    if stream:
        trig, trig_s, add_s, collect, emit = [], [], [], [], []
        for r in stream:
            ts = [c for c in kids.get(r["id"], []) if c["name"] == "stream.trigger"]
            trig.append(len(ts))
            trig_s.append(sum(dur(t) for t in ts))
            add_s.append(sum(t["attrs"]["add_batch_ms"] for t in ts) / 1e3)
            # jobs started on the stream's thread all carry the call site of
            # `start`; a collect job reads the input files, an emit job
            # (`parallelize` + send) reads none
            jobs = subtree(r, "spark.job")
            reads = [sum(st["attrs"]["input_bytes"] for st in kids.get(j["id"], []))
                     for j in jobs]
            collect.append(sum(1 for b in reads if b > 0))
            emit.append(sum(1 for b in reads if b == 0))
        m["stream.triggers"] = _median(trig)
        m["stream.trigger_s"] = _median(trig_s)
        m["stream.add_batch_s"] = _median(add_s)
        m["stream.collect_jobs"] = _median(collect)
        m["stream.emit_jobs"] = _median(emit)

    cold = [s for s in spans if s["name"] == "query.cold"]
    warm = [s for s in spans if s["name"] == "query.warm"]
    if cold or warm:
        cold_stages = [st for q in cold for st in subtree(q, "spark.stage")]
        m["query.jobs_cold"] = float(sum(len(subtree(q, "spark.job")) for q in cold))
        m["query.shuffle_bytes_cold"] = float(
            sum(st["attrs"]["shuffle_write_bytes"] for st in cold_stages))
        m["query.spill_bytes"] = float(sum(st["attrs"]["spill_bytes"]
                                           for q in cold + warm
                                           for st in subtree(q, "spark.stage")))
        m["cache.warm_no_scan"] = float(sum(
            1 for q in warm
            if not any(st["attrs"]["file_scan"] for st in subtree(q, "spark.stage"))))
    return m


def load_spans(path):
    if not path.exists():
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def assemble(workload, trace, result, spans, env, declared):
    """The printed `metrics` object: every declared metric of the run's kind,
    each with its unit. `declared` maps name -> unit, from BENCHMARK.json."""
    if not trace:
        values = dict(result["metrics"])
    else:
        values = dict(result["layer"])
        values.update(span_metrics(spans))
        values.update(env)
    loads = LOADS[workload]
    out = {}
    for name, unit in declared.items():
        v = values.get(name)
        if v is None:
            group = next((g for p, g in GROUP_OF_PREFIX.items() if name.startswith(p)), None)
            if group is None or group in loads:
                raise KeyError(f"{workload} did not measure {name}")
            v = 0.0
        out[name] = {"value": v, "unit": unit}
    return out
