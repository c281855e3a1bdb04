"""Turns the harness's raw record (operations, passes, spans, listener
events) into the benchmark's end-to-end and per-layer metrics."""
import collections
from statistics import median

from .stats import driver_gap, percentile, self_times

MB = 1024.0 * 1024.0
FAMILIES = ["a", "d", "e", "f", "g", "j", "m", "o", "p", "s", "sql", "t", "u", "w", "x"]
VOTES_STAGES = ["melt", "match_names", "find_duplicates", "apply_edits", "export"]
LLM_OPS = {"llm.lsh_probe_s": "lsh_probe", "llm.ivfpq_probe_s": "ivfpq_probe",
           "llm.lsh_ingest_batch_s": "lsh_ingest", "llm.ivfpq_maintain_batch_s": "ivfpq_maintain",
           "llm.ivfpq_delete_batch_s": "delete", "llm.lsh_compact_s": "lsh_compact"}
STREAM_PHASES = {"streaming.trigger_s": "triggerExecution", "streaming.add_batch_s": "addBatch",
                 "streaming.planning_s": "queryPlanning", "streaming.wal_commit_s": "walCommit",
                 "streaming.offsets_commit_s": "commitOffsets"}

# (name, unit, better); a per-layer metric reads 0 on a workload that does
# not exercise its layer
END_TO_END = [("setup_s", "s", "lower"), ("wall_s", "s", "lower"), ("op_p50_s", "s", "lower"),
              ("op_p90_s", "s", "lower"), ("cpu_s", "s", "lower"),
              ("retained_heap_mb", "MB", "lower"), ("disk_mb_written", "MB", "lower")]
PER_LAYER = (
    [("votes.%s_s" % s, "s", "lower") for s in VOTES_STAGES] +
    [("votes.match_rate", "ratio", "higher"), ("votes.match_precision", "ratio", "higher"),
     ("votes.merge_recall", "ratio", "higher")] +
    [("queries.%s_s" % f, "s", "lower") for f in FAMILIES] +
    [(k, "s", "lower") for k in LLM_OPS] +
    [("llm.index_mb", "MB", "lower"), ("llm.index_files", "count", "lower")] +
    [("streaming.batches", "count", "lower")] + [(k, "s", "lower") for k in STREAM_PHASES] +
    [("streaming.state_rows", "count", "lower"), ("streaming.state_commit_s", "s", "lower")] +
    [("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
     ("spark.tasks", "count", "lower"), ("spark.driver_gap_s", "s", "lower"),
     ("spark.executor_run_s", "s", "lower"), ("spark.executor_cpu_s", "s", "lower"),
     ("spark.task_skew", "ratio", "lower"), ("spark.shuffle_write_mb", "MB", "lower"),
     ("spark.shuffle_read_mb", "MB", "lower"), ("spark.spill_mb", "MB", "lower"),
     ("spark.output_mb", "MB", "lower")] +
    [("catalyst.queries", "count", "lower"), ("catalyst.analysis_s", "s", "lower"),
     ("catalyst.optimization_s", "s", "lower"), ("catalyst.planning_s", "s", "lower")] +
    [("codegen.compiles", "count", "lower"), ("codegen.compile_s", "s", "lower"),
     ("jvm.jit_s", "s", "lower"), ("jvm.gc_s", "s", "lower")] +
    [("trace.uncovered_s", "s", "lower"), ("trace.spans", "count", "lower"),
     ("error_rate", "ratio", "lower")])
UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}

# votes ops are named by stage; the match stage reports as match_names
_STAGE_OF_KIND = {"melt": "melt", "match": "match_names", "find_duplicates": "find_duplicates",
                  "apply_edits": "apply_edits", "export": "export"}


def _windows(rec):
    return [(p["before"]["t"], p["after"]["t"]) for p in rec["passes"]]


def _in(t, windows):
    return any(lo <= t <= hi for lo, hi in windows)


def end_to_end(raw, setup_s):
    ops = raw["recorder"]["ops"]
    passes = raw["recorder"]["passes"]
    durations = [o["end"] - o["start"] for o in ops]
    p50, n = percentile(durations, 50)
    p90, _ = percentile(durations, 90)
    return {
        "setup_s": setup_s,
        "wall_s": median([p["after"]["t"] - p["before"]["t"] for p in passes]),
        "op_p50_s": p50,
        "op_p90_s": p90,
        "cpu_s": median([p["after"]["cpu_s"] - p["before"]["cpu_s"] for p in passes]),
        "retained_heap_mb": raw["retained_heap_mb"],
        "disk_mb_written": median([p["disk_bytes"] / MB for p in passes]),
    }, n


def per_layer(raw, quality, attempted, failed):
    rec = raw["recorder"]
    ops, passes = rec["ops"], rec["passes"]
    n_pass = len(passes)
    windows = _windows(rec)
    m = {name: 0.0 for name, _, _ in PER_LAYER}

    by_kind = collections.defaultdict(list)
    for o in ops:
        by_kind[o["kind"]].append(o["end"] - o["start"])
    for kind, stage in _STAGE_OF_KIND.items():
        if by_kind.get(kind):
            m["votes.%s_s" % stage] = sum(by_kind[kind]) / n_pass
    m.update(quality)
    for f in FAMILIES:
        if by_kind.get(f):
            m["queries.%s_s" % f] = sum(by_kind[f]) / n_pass
    for metric, kind in LLM_OPS.items():
        if by_kind.get(kind):
            m[metric] = median(by_kind[kind])
    if any("index_bytes" in p for p in passes):
        m["llm.index_mb"] = median([p["index_bytes"] / MB for p in passes])
        m["llm.index_files"] = median([p["index_files"] for p in passes])

    progress = [p for p in rec["progress"] if _in(p["t"], windows)]
    m["streaming.batches"] = len(progress) / n_pass
    for metric, phase in STREAM_PHASES.items():
        m[metric] = sum(p["durations"].get(phase, 0.0) for p in progress) / n_pass
    m["streaming.state_rows"] = max([p["state_rows"] for p in progress], default=0)
    m["streaming.state_commit_s"] = sum(p["state_commit_s"] for p in progress) / n_pass

    jobs = [j for j in rec["jobs"] if j["end"] >= 0 and _in(j["start"], windows)]
    stages = [s for s in rec["stages"] if _in(s["t"], windows)]
    m["spark.jobs"] = len(jobs) / n_pass
    m["spark.stages"] = len(stages) / n_pass
    m["spark.tasks"] = sum(s["tasks"] for s in stages) / n_pass
    intervals = [(j["start"], j["end"]) for j in jobs]
    m["spark.driver_gap_s"] = sum(driver_gap(w, intervals) for w in windows) / n_pass
    for metric, key, scale in [("spark.executor_run_s", "run_s", 1), ("spark.executor_cpu_s", "cpu_s", 1),
                               ("spark.shuffle_write_mb", "shuffle_write", MB),
                               ("spark.shuffle_read_mb", "shuffle_read", MB),
                               ("spark.spill_mb", "spill", MB), ("spark.output_mb", "output", MB)]:
        m[metric] = sum(s.get(key, 0) for s in stages) / scale / n_pass
    multi = [s["skew"] for s in stages if s["tasks"] > 1]
    m["spark.task_skew"] = sum(multi) / len(multi) if multi else 1.0

    queries = [q for q in rec["queries"] if _in(q["t"], windows)]
    m["catalyst.queries"] = len(queries) / n_pass
    for phase in ("analysis", "optimization", "planning"):
        m["catalyst.%s_s" % phase] = sum(q.get(phase, 0.0) for q in queries) / n_pass

    def delta(key):
        return sum(p["after"][key] - p["before"][key] for p in passes) / n_pass
    m["codegen.compiles"] = delta("codegen_compiles")
    m["codegen.compile_s"] = m["codegen.compiles"] * passes[-1]["after"]["codegen_mean_ms"] / 1e3
    m["jvm.jit_s"] = delta("jit_s")
    m["jvm.gc_s"] = delta("gc_s")

    spans = [s for s in rec["spans"] if s["end"] >= 0 and _in(s["start"], windows)]
    selfs = self_times(spans)
    m["trace.uncovered_s"] = sum(selfs[s["id"]] for s in spans if s["parent"] == -1
                                 and s["name"].startswith("op:")) / n_pass
    m["trace.spans"] = len(spans) / n_pass
    m["error_rate"] = failed / attempted
    return m


def self_time_table(raw):
    """Total self time per span name, for the traced-run report."""
    spans = [s for s in raw["recorder"]["spans"] if s["end"] >= 0]
    selfs = self_times(spans)
    out = collections.defaultdict(float)
    for s in spans:
        out[s["name"]] += selfs[s["id"]]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
