"""Metrics for one benchmark run, computed from the raw record the JVM
side (graftbench.Main) writes. Pure functions over plain data, so the
rules behind each figure are unit-tested on synthetic inputs
(tests/test_analysis.py).

All times in the raw record are epoch milliseconds (floats).
"""
import json
import math
import os
import statistics
from datetime import datetime, timezone

MIN_BEYOND = 10  # a percentile is reported only with this many samples beyond it


# ---------------------------------------------------------------- statistics
def percentile(values, q, min_beyond=MIN_BEYOND):
    """Linear-interpolated q-quantile of `values`, or None unless at least
    `min_beyond` samples lie beyond it (n - ceil(q * n) >= min_beyond)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0 or n - math.ceil(q * n) < min_beyond:
        return None
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- intervals
def interval_union(intervals, window=None):
    """Total length covered by `intervals` ((start, end) pairs), each
    clipped to `window` when given. Overlaps count once."""
    spans = []
    for s, e in intervals:
        if s is None or e is None:
            continue
        if window is not None:
            s, e = max(s, window[0]), min(e, window[1])
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_idle_ms(window, stage_intervals):
    """Wall time of `window` in which no stage was running."""
    return (window[1] - window[0]) - interval_union(stage_intervals, window)


def self_times(spans, stages=()):
    """Self time per layer: each span's duration minus the union of its
    children — spans naming it as parent, and stages tagged with its id
    (stage time is the `engine` layer's own). Returns {layer: ms}."""
    children = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for st in stages:
        if st.get("tag"):
            children.setdefault(st["tag"], []).append((st["start"], st["end"]))
    out = {}
    for s in spans:
        window = (s["start"], s["end"])
        own = (s["end"] - s["start"]) - interval_union(children.get(s["id"], []), window)
        layer = s["layer"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + own
    out["engine"] = out.get("engine", 0.0) + interval_union(
        [(st["start"], st["end"]) for st in stages])
    return out


# ---------------------------------------------------------------- open loop
def lateness_ms(drops):
    """How late the generator landed each drop against its due time."""
    return [d["landed"] - d["due"] for d in drops]


def parse_source_log(texts):
    """File-source log of a streaming checkpoint (`sources/0/<batch>` and
    `<batch>.compact` files, each "v1" then one JSON entry a line) ->
    {file name: batch id}."""
    out = {}
    for text in texts:
        for line in text.splitlines()[1:]:
            line = line.strip()
            if not line:
                continue
            e = json.loads(line)
            out[os.path.basename(e["path"])] = e["batchId"]
    return out


def read_source_log(checkpoint):
    d = os.path.join(checkpoint, "sources", "0")
    texts = []
    for name in sorted(os.listdir(d)):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            texts.append(f.read())
    return parse_source_log(texts)


def parse_ts(s):
    """Spark progress timestamp (ISO-8601, UTC, 'Z') -> epoch ms."""
    dt = datetime.strptime(s.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return dt.astimezone(timezone.utc).timestamp() * 1000.0


def batch_windows(progress):
    """{batch id: (start ms, end ms)} for batches that read input."""
    out = {}
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            start = parse_ts(p["timestamp"])
            out[p["batchId"]] = (start, start + p["batchDuration"])
    return out


def freshness_ms(drops, streams):
    """Per drop: time from its due time until every stream has committed
    the batch holding it. `streams` is a list of (file -> batch id,
    batch id -> (start, end)). None for a drop some stream never took."""
    out = []
    for d in drops:
        ends = []
        for file_batch, windows in streams:
            b = file_batch.get(d["file"])
            if b is None or b not in windows:
                ends = None
                break
            ends.append(windows[b][1])
        out.append(None if ends is None else max(ends) - d["due"])
    return out


def trend(values, parts=3):
    """(median of the last `parts`-th of `values` - median of the first)
    / median of all: near 0 when a series is flat, clearly positive when
    it grows over the run (a queue building up). None below 2 * parts
    values."""
    n = len(values) // parts
    if n < 2:
        return None
    med = statistics.median(values)
    if med <= 0:
        return None
    return (statistics.median(values[-n:]) - statistics.median(values[:n])) / med


def backlog_files_max(drops, file_batch, windows):
    """Most landed-but-unconsumed files any batch of one stream saw at
    its start."""
    best = 0
    for b, (start, _) in windows.items():
        waiting = sum(1 for d in drops
                      if d["landed"] <= start and file_batch.get(d["file"], b) >= b)
        best = max(best, waiting)
    return best


# ---------------------------------------------------------------- workloads
def _in(window, t):
    return t is not None and window[0] <= t <= window[1]


def gate_metrics(raw, expected):
    """End-to-end metrics and checks for a gate workload."""
    checks = raw["checks"]
    wrong = []
    for c in checks:
        exp = expected.get(c["gate"])
        if not c.get("ok") or exp is None or c.get("digest") != exp["digest"] \
                or c.get("rows") != exp["rows"]:
            wrong.append(c["gate"])
    runs = raw["runs"]
    failed_runs = [r for r in runs if not r["ok"]]
    ok_ms = [r["ms"] for r in runs if r["ok"]]
    rounds = raw["rounds"]
    attempted = len(checks) + len(runs)
    failed = len(wrong) + len(failed_runs)
    m = {
        "setup_s": median(raw["session_build_s"]) + raw["stage_s"] + raw["warm_s"],
        "wall_s": median([(r["end"] - r["start"]) / 1000.0 for r in rounds]),
        "op_p50_ms": percentile(ok_ms, 0.5),
    }
    detail = {
        "gate_p50_ms": (m["op_p50_ms"], "ms"),
        "gate_p90_ms": (percentile(ok_ms, 0.9), "ms"),
        "gate_runs": (len(ok_ms), "count"),
        "rounds": (len(rounds), "count"),
        "failed_ratio": (failed / attempted, "ratio"),
    }
    problems = ["wrong output: " + g for g in wrong] + \
               ["failed run: %s (%s)" % (r["gate"], r.get("error")) for r in failed_runs]
    return m, detail, attempted, failed, problems


def pipeline_streams(raw):
    """[(name, file -> batch, batch -> window)] for both streams."""
    out = []
    prog = {p["name"]: p["progress"] for p in raw["progress"]}
    for name, ck in sorted(raw["checkpoints"].items()):
        out.append((name, read_source_log(ck), batch_windows(prog[name])))
    return out


def pipeline_metrics(raw, streams):
    checks = raw["checks"]
    drops = raw["drops"]
    pairs = [(fb, w) for _, fb, w in streams]
    fresh = freshness_ms(drops, pairs)
    lost = sum(1 for f in fresh if f is None)
    fresh_ok = [f for f in fresh if f is not None]
    reads = raw["reads"]
    bad_reads = [r for r in reads if not r.get("match")]
    bf = raw["backfill"]
    bf_files = set(bf["files"])
    bf_end = max((w[fb[f]][1] for fb, w in pairs for f in bf_files
                  if f in fb and fb[f] in w), default=None)
    attempted = len(drops) + len(bf_files) + len(reads) + 1
    failed = lost + len(bad_reads)
    problems = []
    if not checks["exactly_once"] or checks["distinct_ids"] != checks["table_rows"]:
        failed += len(drops) + len(bf_files)
        problems.append("table is not exactly one copy of all drops: %d rows vs %d landed"
                        % (checks["table_rows"], checks["source_rows"]))
    if not checks["meta_equal"]:
        failed += 1
        problems.append("meta table differs from a batch groupBy of the same rows")
    problems += ["read mismatch: %s" % json.dumps(r) for r in bad_reads]
    if lost:
        problems.append("%d drops never committed by both streams" % lost)
    failed = min(failed, attempted)
    # wall_s leaves out the steady phase: its length is the generator's
    # schedule, which no change to the system moves.
    m = {
        "setup_s": median(raw["session_build_s"]) + raw["stage_s"] + raw["warm_s"],
        "wall_s": (raw["timed_end"] - bf["start"]) / 1000.0,
        "op_p50_ms": percentile(fresh_ok, 0.5),
    }
    bf_s = None if bf_end is None else (bf_end - bf["landed"]) / 1000.0
    bf_rate = None if not bf_s else bf["rows"] / bf_s
    offered = sum(d["rows"] for d in drops) * 1000.0 / (len(drops) * raw["interval_ms"]) \
        if drops else None
    detail = {
        "fresh_p50_ms": (m["op_p50_ms"], "ms"),
        "fresh_p90_ms": (percentile(fresh_ok, 0.9), "ms"),
        "fresh_trend": (trend(fresh_ok), "ratio"),
        "offered_rows_per_s": (offered, "rows/s"),
        "backfill_rows_per_s": (bf_rate, "rows/s"),
        "gen_late_max_ms": (max(lateness_ms(drops), default=None), "ms"),
        "read_p50_ms": (percentile([r["ms"] for r in reads if r.get("ok")], 0.5), "ms"),
        "drops": (len(fresh_ok), "count"),
        "reads": (len(reads), "count"),
        "failed_ratio": (failed / attempted, "ratio"),
    }
    return m, detail, attempted, failed, problems


# ---------------------------------------------------------------- per layer
def layer_metrics(raw, families, streams=None):
    """Per-layer figures of a traced run over its timed phase, per pass
    of the workload's fixed work (one gate round, or the one pipeline
    pass). `families` lists every operator family any workload uses, so
    each run reports the same names."""
    tr = raw["trace"]
    window = (raw["timed_start"], raw["timed_end"])
    passes = len(raw["rounds"]) if raw["workload"] == "gates" else 1
    wall_ms = window[1] - window[0]
    stages = [s for s in tr["stages"] if _in(window, s["start"])]
    queries = [q for q in tr["queries"] if _in(window, q["at"])]
    spans = [s for s in raw["spans"] if _in(window, s["start"])]
    intervals = [(s["start"], s["end"]) for s in stages]

    def per(x):
        return x / passes

    m = {
        "session.build_s": median(raw["session_build_s"]),
        "session.warm_s": raw["warm_s"],
        "plan.analysis_ms": per(sum(q["analysis_ms"] for q in queries)),
        "plan.optimizer_ms": per(sum(q["optimizer_ms"] for q in queries)),
        "plan.planning_ms": per(sum(q["planning_ms"] for q in queries)),
        "plan.queries": per(len(queries)),
        "codegen.compiles": per(raw["codegen"][1][0] - raw["codegen"][0][0]),
        "codegen.compile_ms": per((raw["codegen"][1][1] - raw["codegen"][0][1]) / 1e6),
        "engine.jobs": per(sum(1 for t in tr["job_starts"] if _in(window, t))),
        "engine.stages": per(len(stages)),
        "engine.tasks": per(sum(s["tasks"] for s in stages)),
        "engine.driver_idle_ms": per(driver_idle_ms(window, intervals)),
        "engine.task_cpu_ms": per(sum(s["cpu_ms"] for s in stages)),
        "engine.task_run_ms": per(sum(s["run_ms"] for s in stages)),
        "engine.gc_ms": per(sum(s["gc_ms"] for s in stages)),
        "engine.shuffle_read_bytes": per(sum(s["shuffle_read"] for s in stages)),
        "engine.shuffle_write_bytes": per(sum(s["shuffle_write"] for s in stages)),
        "engine.spill_bytes": per(sum(s["spill"] for s in stages)),
        "engine.input_bytes": per(sum(s["input"] for s in stages)),
        "engine.task_skew": task_skew(stages),
        "engine.failed_tasks": per(sum(s["failed_tasks"] for s in stages)),
        "wall_ms": per(wall_ms),
    }
    for fam in families:
        m["operators.%s.ms" % fam] = per(sum(
            s["end"] - s["start"] for s in spans if s["layer"] == "operators." + fam))
    commits = [s for s in spans if s["layer"] == "txtable.commit"]
    reads = [s for s in spans if s["layer"] == "txtable.read"]
    won = [c for c in raw.get("commits", []) if c["won"]]
    m["txtable.commit_ms"] = median([c["end"] - c["start"] for c in commits])
    m["txtable.commits"] = len(won)
    m["txtable.commit_noops"] = len(raw.get("commits", [])) - len(won)
    m["txtable.snapshot_ms"] = median([r["end"] - r["start"] for r in reads])
    dirs_total = raw.get("checks", {}).get("dirs_total", 0) if raw["workload"] == "pipeline" else 0
    m["txtable.dirs_total"] = dirs_total
    rd = raw.get("reads", [])
    m["txtable.dirs_read_ratio"] = (sum(r["dirs_read"] for r in rd) / (len(rd) * dirs_total)
                                    if rd and dirs_total else 0.0)
    m.update(stream_metrics(raw, window, streams or []))
    drops = raw.get("drops", [])
    m["gen.drops"] = len(drops)
    late = lateness_ms(drops)
    m["gen.late_p90_ms"] = percentile(late, 0.9) or 0.0
    batch_spans, stages = stream_batch_spans(raw, window, stages)
    selfs = self_times(spans + batch_spans, [s for s in stages if s["start"] and s["end"]])
    for layer in ("operators", "txtable", "stream", "gen", "engine"):
        m["self.%s_ms" % layer] = per(selfs.get(layer, 0.0))
    return m


def stream_batch_spans(raw, window, stages):
    """Micro-batches as `stream` spans (id q:<query>:<batch>) from the
    traced progress events, and the stages re-tagged from their query's
    tag (q:<query>) to the batch that was running when they started."""
    names = {p["id"]: p["name"] for p in raw.get("progress", [])}
    spans = []
    for p in raw["trace"]["progress"]:
        start = parse_ts(p["timestamp"])
        if p.get("numInputRows", 0) > 0 and _in(window, start) and p["id"] in names:
            spans.append({"id": "q:%s:%d" % (names[p["id"]], p["batchId"]), "layer": "stream",
                          "start": start, "end": start + p["batchDuration"], "parent": None})
    by_query = {}
    for s in spans:
        by_query.setdefault(s["id"].rsplit(":", 1)[0], []).append(s)
    out = []
    for st in stages:
        tag = st.get("tag")
        if tag and tag.startswith("q:") and tag.count(":") == 1:
            hit = [s for s in by_query.get(tag, []) if s["start"] <= st["start"] <= s["end"]]
            st = dict(st, tag=hit[0]["id"] if hit else None)
        out.append(st)
    return spans, out


def task_skew(stages):
    """Max / median task time per stage, averaged over stages with at
    least two tasks, weighted by each stage's summed task time."""
    num = den = 0.0
    for s in stages:
        ts = s["task_ms"]
        if len(ts) < 2:
            continue
        med = statistics.median(ts)
        w = float(sum(ts))
        if med <= 0 or w <= 0:
            continue
        num += w * (max(ts) / med)
        den += w
    return num / den if den else 0.0


STREAM_FIELDS = [
    ("stream.trigger_ms_p50", "triggerExecution"),
    ("stream.latest_offset_ms_p50", "latestOffset"),
    ("stream.get_batch_ms_p50", "getBatch"),
    ("stream.query_planning_ms_p50", "queryPlanning"),
    ("stream.add_batch_ms_p50", "addBatch"),
    ("stream.wal_commit_ms_p50", "walCommit"),
    ("stream.commit_offsets_ms_p50", "commitOffsets"),
]


def stream_metrics(raw, window, streams):
    """stream.* figures from the StreamingQueryListener's progress events
    of batches that read input inside the timed phase."""
    docs = [p for p in raw["trace"]["progress"]
            if p.get("numInputRows", 0) > 0 and _in(window, parse_ts(p["timestamp"]))]
    m = {"stream.batches": len(docs),
         "stream.rows_per_batch_p50": median([p["numInputRows"] for p in docs])}
    for name, field in STREAM_FIELDS:
        m[name] = median([p["durationMs"].get(field, 0) for p in docs])
    state = [op for p in docs for op in p.get("stateOperators", [])]
    m["stream.state_rows"] = max([op.get("numRowsTotal", 0) for op in state], default=0)
    m["stream.state_mem_bytes"] = max([op.get("memoryUsedBytes", 0) for op in state], default=0)
    drops = raw.get("drops", [])
    m["stream.backlog_files_max"] = max(
        [backlog_files_max(drops, fb, w) for _, fb, w in streams], default=0)
    return m
