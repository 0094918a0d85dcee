"""Per-layer metrics of a traced run, from the engine's job/stage spans
(scala/Tracer.scala), the streaming progress and the benchmark's own spans
around each call into the program.

A job belongs to the layer named by the first matching LAYER_RULES entry,
matched against the physical plan of its SQL execution or the first
program frame of its call site; jobs the benchmark itself triggers (a
query's final write, a Reconciler check's action) carry no program frame
and are attributed by the benchmark span they ran in. A layer's time in a unit is the union of
its jobs' intervals, so jobs that run concurrently (the sink upsert runs
beside the control aggregate and the DLQ write) are not counted twice.

Units: a micro-batch on cdc-stream, a pass over the four queries on
batch-operators; a metric is the median over the measured units. A layer a
workload never calls reads 0 there.
"""
import datetime
import json
import os
import re
import statistics

# (what to match, regex, layer). Every job of a streaming query carries
# the call site of ReplicationJob.start, so micro-batch jobs are told apart
# by what their plan reads and writes.
LAYER_RULES = [
    ("plan", r"Arguments: file:\S*/dlq,", "ops.dlq_write"),
    ("plan", r"Arguments: file:\S*/target\.tmp,", "sink"),
    ("plan", r" AS dlq_n#", "ops.control"),
    # the eager checkpoint of the tagged micro-batch is the one job that
    # reads the source itself
    ("plan", r"MicroBatchScan", "materialize"),
    ("frame", r"graft\.util\.Materialize", "materialize"),
    ("frame", r"graft\.sink\.", "sink"),
    ("frame", r"graft\.", "program"),
]

FAMILIES = {"corpus_curated_v7": "llm.curate", "dedup_cluster_rep": "llm.dedup",
            "graph_label_communities": "graph.lpa", "q21_waiting_suppliers": "queries.q21"}

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")))


def parse_ts(s):
    return datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def layer_of(job, plans):
    text = {"plan": plans.get(int(job["execution"]), ""),
            "frame": job["frames"][0] if job["frames"] else ""}
    for kind, pattern, layer in LAYER_RULES:
        if re.search(pattern, text[kind]):
            return layer
    return "bench"


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of the intervals."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (cur_b - cur_a if cur_b is not None else 0.0)


def med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


class Trace:
    def __init__(self, raw):
        plans = {e["id"]: e["plan"] for e in raw["executions"]}
        self.jobs = [dict(j, start=j["start"] / 1000.0, end=j.get("end", j["start"]) / 1000.0,
                          layer=layer_of(j, plans)) for j in raw["jobs"]]
        stage_layer = {}
        for j in self.jobs:
            for s in j["stages"]:
                stage_layer.setdefault(s, j["layer"])
        self.stages = [dict(s, start=s["submit"] / 1000.0, end=s["complete"] / 1000.0,
                            layer=stage_layer.get(s["id"], "bench")) for s in raw["stages"]]

    def jobs_in(self, lo, hi, layer=None):
        return [j for j in self.jobs if lo <= j["start"] < hi and layer in (None, j["layer"])]

    def stages_in(self, lo, hi, layer=None):
        return [s for s in self.stages if lo <= s["start"] < hi and layer in (None, s["layer"])]

    def busy(self, lo, hi, layer=None):
        return union_s([(j["start"], j["end"]) for j in self.jobs_in(lo, hi, layer)], lo, hi)

    def engine(self, lo, hi):
        """The spark.* totals of one unit."""
        st = self.stages_in(lo, hi)
        skew = [s["task_max_ms"] / s["task_median_ms"] for s in st
                if s["tasks"] >= 2 and s["task_median_ms"] > 0]
        return {
            "spark.jobs": len(self.jobs_in(lo, hi)),
            "spark.stages": len(st),
            "spark.tasks": sum(s["tasks"] for s in st),
            "spark.executor_run_s": sum(s["run_ms"] for s in st) / 1000.0,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
            "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
            "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "spark.spill_bytes": sum(s["spill"] for s in st),
            "spark.task_skew": max(skew, default=1.0),
            "spark.between_jobs_s": (hi - lo) - self.busy(lo, hi),
        }


def trigger_span(p):
    """(start, commit) of the trigger a progress report describes."""
    start = parse_ts(p["timestamp"])
    return start, start + p["durationMs"]["triggerExecution"] / 1000.0


def batches(progress):
    """(start, commit, progress) of each micro-batch that read data."""
    return [(*trigger_span(p), p) for p in progress if p["numInputRows"] > 0]


def stream_layers(t, bs, m):
    """streaming/ops/sink/materialize metrics over micro-batches."""
    d = [b[2]["durationMs"] for b in bs]
    m["streaming.trigger_s"] = med(x["triggerExecution"] / 1000.0 for x in d)
    m["streaming.checkpoint_s"] = med((x.get("walCommit", 0) + x.get("commitOffsets", 0)) / 1000.0
                                      for x in d)
    m["streaming.latest_offset_s"] = med(x.get("latestOffset", 0) / 1000.0 for x in d)
    m["streaming.rows_per_batch"] = med(b[2]["numInputRows"] for b in bs)
    for name, layer in [("ops.control_s", "ops.control"), ("ops.dlq_write_s", "ops.dlq_write"),
                        ("sink.upsert_s", "sink"), ("materialize.busy_s", "materialize")]:
        m[name] = med(t.busy(a, b, layer) for a, b, _ in bs)
    m["materialize.barriers"] = med(len(t.jobs_in(a, b, "materialize")) for a, b, _ in bs)
    sink = [t.stages_in(a, b, "sink") for a, b, _ in bs]
    m["ops.compact_shuffle_bytes"] = med(sum(s["shuffle_write"] for s in st) for st in sink)
    m["sink.bytes_written"] = med(sum(s["output_bytes"] for s in st) for st in sink)
    return sum(s["output_bytes"] for st in sink for s in st)


def per_layer(raw, out):
    t = Trace(raw)
    ctx = out["trace_ctx"]
    m = {name: 0.0 for name in SPEC["per_layer"]}
    units = []
    if ctx["kind"] == "stream":
        # the window: batches that started once its first segment was due
        lead = ctx["lead_n"]
        every = batches(ctx["progress"])
        bs = [b for b in every if b[0] >= ctx["due"][lead]]
        written = stream_layers(t, bs, m)
        units = [(a, b) for a, b, _ in bs]
        m["streaming.trigger_wait_s"] = med(
            s - d for s, d in zip(ctx["trigger_start"], ctx["due"][lead:]))
        m["streaming.batches"] = len(bs)
        m["streaming.empty_batch_ratio"] = 1.0 - len(every) / len(ctx["progress"])
        rows = [s.rows for s in ctx["segments"]]
        backlog, committed = [], 0
        for a, _, p in every:
            landed = sum(r for r, d in zip(rows, ctx["due"]) if d <= a)
            if a >= ctx["due"][lead]:
                backlog.append(landed - committed)
            committed += p["numInputRows"]
        m["streaming.backlog_rows_max"] = max(backlog, default=0)
        m["ops.dlq_rows"] = ctx["dlq_rows"]
        m["sink.state_rows"] = ctx["state_rows"]
        m["sink.write_amplification"] = written / (
            sum(p["numInputRows"] for _, _, p in bs) * ctx["bytes_per_row"])
        for k in ["rowcount", "checksum", "ts_range", "sample"]:
            m[f"recon.{k}_s"] = med((r[f"recon_{k}_end_ms"] - r[f"recon_{k}_start_ms"]) / 1000.0
                                    for r in ctx["recon"])
    else:
        passes = ctx["passes"]
        for q, fam in FAMILIES.items():
            spans = [(p[q]["start_ms"] / 1000.0, p[q]["end_ms"] / 1000.0) for p in passes]
            m[f"{fam}.jobs"] = med(len(t.jobs_in(a, b)) for a, b in spans)
            m[f"{fam}.busy_s"] = med(t.busy(a, b) for a, b in spans)
            m[f"{fam}.shuffle_bytes"] = med(sum(s["shuffle_write"] for s in t.stages_in(a, b))
                                            for a, b in spans)
        units = [(min(p[q]["start_ms"] for q in p) / 1000.0,
                  max(p[q]["end_ms"] for q in p) / 1000.0) for p in passes]
        m["materialize.barriers"] = med(len(t.jobs_in(a, b, "materialize")) for a, b in units)
        m["materialize.busy_s"] = med(t.busy(a, b, "materialize") for a, b in units)
    per_unit = [t.engine(a, b) for a, b in units]
    for k in per_unit[0] if per_unit else []:
        m[k] = med(u[k] for u in per_unit)
    m["spark.failed_tasks"] = raw["failed_tasks"]
    m["trace.listener_busy_s"] = raw["listener_busy_s"]
    m["trace.primary_s"] = out["primary_s"]
    return {k: (v, SPEC["per_layer"][k]["unit"]) for k, v in m.items()}
