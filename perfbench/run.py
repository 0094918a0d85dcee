#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload cdc-stream --seed 1 --seconds 12 --trace 0

Workloads (see spec.json for why each exists and what each metric means):
  cdc-stream       open loop, 500 events/s landed as commit-log segments
                   into the continuous ReplicationJob over EventLogSource,
                   then the Reconciler suite over source and target
  batch-operators  closed loop, four SparkEntry queries one at a time over
                   tools/gen_scale.py fixtures

The inputs come from this process's seeded single-threaded generator; the
program (a separate JVM, scala/Server.scala) only sees the generated files.
Outputs are checked independently (checks.py). The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; --trace 0 gives
the end-to-end metrics, --trace 1 the per-layer ones. The exit code is
non-zero when a check fails or the generator fell behind its schedule.
Build outputs, run directories and cached oracle hashes go to .bench_build/.
"""
import argparse
import json
import os
import select
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build   # noqa: E402
import checks  # noqa: E402
import gen     # noqa: E402
import layers  # noqa: E402

CORES = len(os.sched_getaffinity(0))
# a fixed heap under the parallel collector: with G1 and a growing heap the
# cdc-stream commit latency spread about twice as widely between runs
HEAP = "3g"
RUN_DEADLINE_S = 170

# cdc-stream: 500 events/s as 50-event segments every 100 ms; a window
# of n segments supports the tail percentile tail_percentile(n)
STREAM_GAP_S = 0.1
STREAM_ROWS_PER_SEGMENT = 50
STREAM_SETUP_ROUNDS = 3
STREAM_WARM_S = 0.5
# the measured query runs this long before its window opens, so the window
# sees neither the query's first triggers (slow, and the backlog they
# leave) nor the JIT's steepest warm-up
STREAM_LEAD_IN_S = 30.0
# the Reconciler suite runs this many times (the first is the slowest: the
# JIT meets its plans for the first time); its time is the median
RECON_ROUNDS = 3
# a run is invalid when a segment landed this late against its schedule
GENERATOR_LATE_LIMIT_S = 0.2

BATCH_SF = "0.01"
BATCH_QUERIES = ["corpus_curated_v7", "dedup_cluster_rep",
                 "graph_label_communities", "q21_waiting_suppliers"]

ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs)


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it
    (the median when there are too few samples for any)."""
    return max(50, min(99, int(100 * (1 - 10 / n))))


def percentile(xs, p):
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


class Jvm:
    """The program's JVM, driven one command per line."""

    def __init__(self, classpath, work, trace, deadline):
        self.deadline = deadline
        self.buf = b""
        self.stderr = open(os.path.join(work, "jvm.log"), "w")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
               "-Dsun.net.inetaddr.negative.ttl=-1", "-Djava.net.preferIPv4Stack=true",
               *ADD_OPENS, "-cp", classpath,
               "perfbench.Server", str(CORES), work, str(trace)]
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.stderr)

    def ready(self):
        """Waits for the session; returns JVM start to session ready, in s."""
        hello = self.read()
        return (hello["ready_ms"] - hello["jvm_start_ms"]) / 1000.0

    def read(self):
        while b"\n" not in self.buf or not self.buf.startswith(b"OK "):
            if b"\n" in self.buf:  # a stray line: skip it
                self.buf = self.buf.split(b"\n", 1)[1]
                continue
            left = self.deadline - time.time()
            if left <= 0 or not select.select([self.p.stdout], [], [], left)[0]:
                raise RuntimeError("the program did not answer before the run deadline")
            chunk = os.read(self.p.stdout.fileno(), 65536)
            if not chunk:
                raise RuntimeError(f"the program exited (code {self.p.wait()}); see jvm.log")
            self.buf += chunk
        line, self.buf = self.buf.split(b"\n", 1)
        return json.loads(line[3:])

    def call(self, *args):
        self.p.stdin.write((" ".join(str(a) for a in args) + "\n").encode())
        self.p.stdin.flush()
        return self.read()

    def close(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.stderr.close()


def load_progress(run_dir):
    with open(os.path.join(run_dir, "progress.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


# ---------------------------------------------------------------- cdc-stream

def land_open_loop(jvm, run_dir, segments):
    """Starts the continuous job, lands one segment every STREAM_GAP_S on a
    fixed schedule, then drains. Returns (due times, max lateness).

    The 1 s processing-time trigger fires on whole seconds of the clock, so
    the schedule lands segments half a gap past each multiple of the gap:
    every trigger sees the same ten waits, whatever the start time."""
    log_dir = os.path.join(run_dir, "log")
    os.makedirs(log_dir)
    jvm.call("stream", run_dir)
    t0 = (int(time.time() / STREAM_GAP_S) + 1.5) * STREAM_GAP_S
    due, late = [], 0.0
    for k, seg in enumerate(segments):
        d = t0 + k * STREAM_GAP_S
        wait = d - time.time()
        if wait > 0:
            time.sleep(wait)
        gen.write_segment(log_dir, seg)
        late = max(late, time.time() - d)
        due.append(d)
    jvm.call("drain")
    return due, late


def commits(progress):
    """(end segment, end row, trigger start, commit time) per progress."""
    out = []
    for p in progress:
        end = p["sources"][0]["endOffset"]
        end = json.loads(end) if isinstance(end, str) else end
        out.append((end["name"], end["row"], *layers.trigger_span(p)))
    return out


def segment_latencies(segments, due, progress):
    """Per segment: due time to the first committed progress covering it,
    and the start of that trigger."""
    cs = commits(progress)
    lat, starts, i = [], [], 0
    for seg, d in zip(segments, due):
        while i < len(cs) and not (cs[i][0] > seg.name or
                                   (cs[i][0] == seg.name and cs[i][1] >= seg.rows)):
            i += 1
        if i == len(cs):
            raise RuntimeError(f"segment {seg.name} was never committed")
        lat.append(cs[i][3] - d)
        starts.append(cs[i][2])
    return lat, starts


def write_source_table(run_dir, rows):
    """The source table the Reconciler compares the target with: the
    generator's latest-per-key state, soft deletes included. Returns its
    path and a timestamp range covering the older half of it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    keys = sorted(rows)
    ts_us = [rows[k][1] // 1000 for k in keys]
    path = os.path.join(run_dir, "source.parquet")
    pq.write_table(pa.table({
        "user_id": pa.array(keys, pa.int64()),
        "event_id": pa.array([rows[k][0] for k in keys], pa.int64()),
        "ts_us": pa.array(ts_us, pa.int64()),
        "event_type": pa.array([rows[k][2] for k in keys], pa.string()),
        "value": pa.array([rows[k][3] for k in keys], pa.float64())}), path)
    lo, hi = min(ts_us), max(ts_us)
    return path, lo, lo + (hi - lo) // 2


def cdc_stream(jvm, work, seed, seconds, out):
    g = gen.Generator(seed)
    t = time.time()
    per_round = int(STREAM_WARM_S / STREAM_GAP_S)
    warm = [g.segments(g.fixture_event, per_round, STREAM_ROWS_PER_SEGMENT)
            for _ in range(STREAM_SETUP_ROUNDS)]
    lead_n = int(STREAM_LEAD_IN_S / STREAM_GAP_S)
    main = g.segments(g.fixture_event, lead_n + int(seconds / STREAM_GAP_S),
                      STREAM_ROWS_PER_SEGMENT)
    out["stage_s"] = time.time() - t
    out["session_s"] = jvm.ready()
    for r, segs in enumerate(warm):
        t = time.time()
        land_open_loop(jvm, os.path.join(work, f"warm{r}"), segs)
        out["round_s"].append(time.time() - t)
    run_dir = os.path.join(work, "measured")
    due, late = land_open_loop(jvm, run_dir, main)
    out["window_start"], out["window_end"] = due[lead_n], time.time()
    out["generator_late_ms_max"] = late * 1000.0
    progress = load_progress(run_dir)
    lat, trig = segment_latencies(main[lead_n:], due[lead_n:], progress)
    p = tail_percentile(len(lat))
    out["primary_s"] = median(lat)
    out["secondary_s"] = percentile(lat, p)
    rows, dlq = gen.expected_state(main)
    source, ts_lo, ts_mid = write_source_table(run_dir, rows)
    recon = [jvm.call("reconcile", run_dir, source, ts_lo, ts_mid) for _ in range(RECON_ROUNDS)]
    mismatches = max(sum(v for k, v in r.items() if k.endswith("_mismatches")) for r in recon)
    if mismatches:
        log(f"[check] the Reconciler reported {mismatches} mismatches")
    plant("drop-target-row", os.path.join(run_dir, "target"))
    failed, dlq_rows, state_rows = checks.check_cdc(run_dir, rows, dlq, log)
    out["attempted"] += sum(s.rows for s in main)
    out["failed"] += failed + mismatches
    # the Reconciler's time is printed, not bounded: it kept falling from
    # suite to suite as the JIT warmed, and spread by about 0.2 between runs
    # of identical code
    suites = [(r["recon_sample_end_ms"] - r["recon_rowcount_start_ms"]) / 1000.0 for r in recon]
    out["named"].update({
        "commit_latency_p50_s": (out["primary_s"], "s"),
        f"commit_latency_p{p}_s": (out["secondary_s"], "s"),
        "commit_latency_samples": (len(lat), "count"),
        "reconcile_s": (median(suites), "s"),
        "offered_events_per_s": (STREAM_ROWS_PER_SEGMENT / STREAM_GAP_S, "1/s")})
    out["trace_ctx"] = {"kind": "stream", "progress": progress, "segments": main,
                        "due": due, "lead_n": lead_n, "trigger_start": trig,
                        "dlq_rows": dlq_rows,
                        "recon": recon,
                        "state_rows": state_rows,
                        "bytes_per_row": sum(len(s.payload) for s in main) /
                        sum(s.rows for s in main)}


# ----------------------------------------------------------- batch-operators

def query_pass(jvm, fixtures, out_dir, executions):
    """Runs the four queries once; returns their replies by name."""
    res = {}
    for q in BATCH_QUERIES:
        path = os.path.join(out_dir, q)
        res[q] = jvm.call("query", q, fixtures, path)
        executions.append((path, res[q]))
    return res


def batch_operators(jvm, work, seed, seconds, out):
    fixtures = os.path.join(work, "fixtures")
    t = time.time()
    # gen_scale's numpy generator takes a non-negative 32-bit seed
    subprocess.run([sys.executable, "tools/gen_scale.py", fixtures, BATCH_SF, str(seed % 2**32)],
                   check=True, stdout=subprocess.DEVNULL)
    out["stage_s"] = time.time() - t
    out["session_s"] = jvm.ready()
    sql = {}
    for q in BATCH_QUERIES:
        path = os.path.join(work, f"{q}.sql")
        jvm.call("oracle", q, path)
        sql[q] = open(path).read()
    executions = []
    # one set-up pass: a pass costs as much as the measured window allows
    t = time.time()
    query_pass(jvm, fixtures, os.path.join(work, "out", "warm"), executions)
    out["round_s"].append(time.time() - t)
    measured = []
    out["window_start"] = t0 = time.time()
    # whole passes only, and none expected to end past the window
    while not measured or (time.time() - t0) * (len(measured) + 1) / len(measured) <= seconds:
        measured.append(query_pass(jvm, fixtures, os.path.join(work, "out", f"pass{len(measured)}"),
                                   executions))
    out["window_end"] = time.time()
    out["check"] = lambda: check_batch(fixtures, sql, executions, out)
    per_q = {q: median([(p[q]["end_ms"] - p[q]["start_ms"]) / 1000.0 for p in measured])
             for q in BATCH_QUERIES}
    out["primary_s"] = statistics.geometric_mean(per_q.values())
    out["secondary_s"] = sum(per_q.values())
    names = {"corpus_curated_v7": "curate_s", "dedup_cluster_rep": "dedup_s",
             "graph_label_communities": "graph_s", "q21_waiting_suppliers": "tpch_q21_s"}
    out["named"].update({names[q]: (v, "s") for q, v in per_q.items()})
    out["named"]["passes"] = (len(measured), "count")
    out["trace_ctx"] = {"kind": "batch", "passes": measured}


def check_batch(fixtures, sql, executions, out):
    """Checks every (result dir, reply) execution against DuckDB. Runs
    once the program has made its last measurement, so DuckDB never
    shares the host with one."""
    want = checks.oracle_hashes(fixtures, sql, os.path.join(build.BUILD, "oracle"))
    for path, reply in executions:
        out["attempted"] += 1
        if path.endswith(os.path.join("pass0", "q21_waiting_suppliers")):
            plant("perturb-result", path)
        if not (reply["ok"] and checks.spark_result_hash(path) == want[os.path.basename(path)]):
            log(f"[check] {path}: result does not match the DuckDB oracle")
            out["failed"] += 1


WORKLOADS = {"cdc-stream": cdc_stream, "batch-operators": batch_operators}


# ---------------------------------------------------------------------- main

PLANT = None


def plant(kind, path):
    """Self-test hook (selftest.py): damages one output right before it is
    checked, so the check must catch it."""
    if PLANT != kind:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = os.path.join(path, sorted(p for p in os.listdir(path) if p.endswith(".parquet"))[0])
    t = pq.read_table(f)
    if kind == "drop-target-row":
        t = t.slice(1)
    else:
        import pyarrow.types as pt
        i = next(i for i, f in enumerate(t.schema) if pt.is_integer(f.type))
        vals = t.column(i).to_pylist()
        vals[0] += 1
        t = t.set_column(i, t.schema.field(i), pa.array(vals, t.schema.field(i).type))
    pq.write_table(t, f)
    log(f"[selftest] planted {kind} in {f}")


def report(a, out, bye, trace):
    """Prints every named metric, then the result line; returns the exit code."""
    setup_s = out["stage_s"] + out["session_s"] + median(out["round_s"])
    log(f"[perfbench] stage {out['stage_s']:.2f}s session {out['session_s']:.2f}s rounds "
        + " ".join(f"{r:.2f}s" for r in out["round_s"])
        + f" window {out['window_end'] - out['window_start']:.2f}s")
    late = out.get("generator_late_ms_max")
    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (bye["peak_rss_mb"], "MB"),
             "error_rate": (out["failed"] / out["attempted"], "ratio"), **out["named"]}
    if late is not None:
        named["generator_late_ms_max"] = (late, "ms")
    for k, (v, u) in named.items():
        print(f"{a.workload} {k} {v:.6g} {u}")
    if late is not None and late > GENERATOR_LATE_LIMIT_S * 1000:
        log(f"perfbench: invalid run, the generator fell {late:.0f} ms behind its schedule")
        return 3
    if a.trace:
        metrics = layers.per_layer(trace, out)
    else:
        metrics = {"setup_s": (setup_s, "s"), "primary_s": (out["primary_s"], "s"),
                   "secondary_s": (out["secondary_s"], "s")}
    correct = out["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", choices=["drop-target-row", "perturb-result"],
                    help="self-test only: damage one output before checking it")
    a = ap.parse_args()
    global PLANT
    PLANT = a.plant
    classpath = build.build()
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.abspath(os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = {"round_s": [], "named": {}, "attempted": 0, "failed": 0}
    try:
        jvm = Jvm(classpath, work, a.trace, deadline)
        try:
            WORKLOADS[a.workload](jvm, work, a.seed, a.seconds, out)
            bye = jvm.call("exit", os.path.join(work, "trace.json"))
            if "check" in out:  # overlaps the program's shutdown
                out["check"]()
            jvm.p.wait(timeout=max(1, deadline - time.time()))
        finally:
            jvm.close()
        trace = None
        if a.trace:
            with open(os.path.join(work, "trace.json")) as f:
                trace = json.load(f)
        return report(a, out, bye, trace)
    except Exception:
        jvm_log = os.path.join(work, "jvm.log")
        if os.path.exists(jvm_log):
            with open(jvm_log) as f:
                log("".join(f.readlines()[-40:]))
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
