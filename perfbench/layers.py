"""Per-layer numbers of a traced run, from its spans, the Spark event log
and the streaming listener's progress events.

Every number is per warm operation (its total over the warm operations
divided by their count), except ``session.*`` and the
``operators.seed_*`` metrics, which belong to the set-up.
"""

from __future__ import annotations

import statistics
from datetime import datetime

from spans import innermost, job_metrics, read_event_logs, self_times
from workloads import CURATION_ENTRIES, REFJOBS

# the operator functions each workload calls (as the traced runs show),
# reported whether or not this workload calls them so the set is fixed
OPERATORS = [
    "set_similarity_join", "minhash_signatures_vectorized", "minhash_band_rows",
    "ivf_topk_vectorized",
    "ngram_repetition_stats_vectorized",
    "semdedup_survivors_fast", "assign_clusters_fast",
    "seed_minhash_index", "minhash_signatures", "dedup_increment",
    "compact_bucketed_table", "save_table_recovering_orphan",
]
SEED_OPERATORS = {"seed_minhash_index"}
# the operators that launch Spark jobs themselves; the others return
# lazy DataFrames whose jobs run under the caller's action
EAGER_OPERATORS = {"ivf_topk_vectorized", "assign_clusters_fast", "dedup_increment",
                   "compact_bucketed_table", "save_table_recovering_orphan"}
PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = ["session.start_s", "session.warmup_s", "session.peak_rss_mb", "catalog.load_table.calls", "catalog.load_table.s",
             "sources.read_s", "sources.sink_s", "sources.input_bytes", "sources.output_bytes",
             "sources.dropped_rows", "functions.self_s"]
    names += [f"plans.{job}.s" for job in REFJOBS]
    for e in CURATION_ENTRIES:
        names += [f"queries.{e}.build_s", f"queries.{e}.action_s"]
    for fn in OPERATORS:
        names += [f"operators.{fn}.self_s"] + [f"operators.{fn}.jobs"] * (fn in EAGER_OPERATORS)
    names += ["operators.set_similarity_join.verify_yield", "operators.index.files",
              "operators.compact.bytes_rewritten", "operators.index.stored_bytes_per_input_byte",
              "streaming.triggers", "streaming.wait_s"] + [f"streaming.{p}_ms" for p in PHASES]
    names += ["jobs.count", "jobs.stages", "jobs.tasks", "jobs.union_s", "jobs.driver_only_s",
              "jobs.executor_run_s", "jobs.executor_cpu_s", "jobs.gc_s", "jobs.shuffle_read_bytes",
              "jobs.shuffle_write_bytes", "jobs.spill_bytes", "jobs.task_skew",
              "jobs.skipped_stage_ratio", "jobs.failed_tasks", "trace.warm_p50_s"]
    return names


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def per_layer(tracer, log_dir, samples: list[dict], extra: dict, progress: list[dict]) -> dict:
    spans = [s for s in tracer.spans if "end" in s]
    own = self_times(spans)
    warm_samples = [(i, r) for i, r in enumerate(samples, start=1) if r["warm"]]
    warm_ops = {f"op{i}" for i, _ in warm_samples}
    n = len(warm_ops)
    m = dict.fromkeys(metric_names(), 0.0)

    def warm(name_test):
        return [s for s in spans if s["op"] in warm_ops and name_test(s["name"])]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    for phase in ("start", "warmup"):
        m[f"session.{phase}_s"] = dur([s for s in spans if s["name"] == f"session.{phase}"])
    # peak resident memory of the driver Python process plus the JVM: it
    # moves with JVM heap growth by more than a tenth between runs, so it
    # is reported here rather than bounded end to end
    m["session.peak_rss_mb"] = extra["peak_rss_mb"]
    loads = warm(lambda x: x == "catalog.load_table")
    m["catalog.load_table.calls"] = len(loads) / n
    m["catalog.load_table.s"] = dur(loads) / n
    m["sources.read_s"] = dur(warm(lambda x: x.startswith("sources.read"))) / n
    m["sources.sink_s"] = dur(warm(lambda x: x.startswith("sources.write"))) / n
    m["sources.dropped_rows"] = extra.get("dropped_rows", 0)
    for job in REFJOBS:
        m[f"plans.{job}.s"] = dur(warm(lambda x: x == f"plans.run_{job}")) / n
    m["functions.self_s"] = sum(own[s["id"]] for s in warm(lambda x: x.startswith("functions."))) / n
    for e in CURATION_ENTRIES:
        for part in ("build", "action"):
            m[f"queries.{e}.{part}_s"] = dur(warm(lambda x: x == f"queries.{e}.{part}")) / n

    ev = read_event_logs(log_dir)
    jobs = [j for j in ev["jobs"] if "end" in j]
    owners = innermost(spans, [j["submit"] for j in jobs])
    for fn in OPERATORS:
        name = f"operators.{fn}"
        ops = {"setup"} if fn in SEED_OPERATORS else warm_ops
        per = len(ops) or 1
        m[f"{name}.self_s"] = sum(own[s["id"]] for s in spans if s["name"] == name and s["op"] in ops) / per
        if fn in EAGER_OPERATORS:
            m[f"{name}.jobs"] = sum(1 for o in owners if o and o["name"] == name and o["op"] in ops) / per

    # verify yield: result pairs over candidate pairs. The join's plan holds
    # three joins, top first: the verify join (its Jaccard filter pushed
    # into the condition), the distinct candidates joined to their sets,
    # and the prefix self-join; the second one's output counts candidates
    ssj = [s for s in spans if s["name"] == "queries.set_similarity_join.action" and s["op"] in warm_ops]
    sql_keys = list(ev["sql_start"])
    sql_owner = dict(zip(sql_keys, innermost(spans, [ev["sql_start"][k] for k in sql_keys])))
    yields = []
    for s in ssj:
        pairs = next((r["pairs"] for r in samples if "pairs" in r and r["t0"] <= s["start"] <= r["t1"]), None)
        if pairs is None:
            continue
        for k, o in sql_owner.items():
            rows = ev["join_rows"].get(k, [])
            if o is s and len(rows) >= 2 and rows[1] > 0:
                yields.append(pairs / rows[1])
    m["operators.set_similarity_join.verify_yield"] = statistics.mean(yields) if yields else 0.0

    m["operators.index.files"] = extra.get("index_files", 0)
    m["operators.compact.bytes_rewritten"] = sum(r.get("compacted_bytes", 0) for _, r in warm_samples) / n
    m["operators.index.stored_bytes_per_input_byte"] = extra.get("stored_bytes_per_input_byte", 0)

    by_batch = {p["batch"]: p for p in progress if p["rows"] > 0}
    days = [(i, r) for i, r in warm_samples if i - 1 in by_batch and "landed" in r]
    if days:
        m["streaming.triggers"] = sum(1 for p in progress if any(
            r["t0"] <= _iso(p["timestamp"]) <= r["t1"] for _, r in days)) / n
        m["streaming.wait_s"] = statistics.mean(
            max(_iso(by_batch[d - 1]["timestamp"]) - r["landed"], 0.0) for d, r in days)
        for p in PHASES:
            m[f"streaming.{p}_ms"] = statistics.mean(by_batch[d - 1]["durationMs"].get(p, 0) for d, _ in days)

    per_op = []
    for i, r in warm_samples:
        if "t1" not in r:
            continue
        op_jobs = [j for j, o in zip(jobs, owners) if o and o["op"] == f"op{i}"]
        per_op.append(job_metrics(op_jobs, r["t1"] - r["t0"]))
    for k in per_op[0]:
        m[k] = statistics.mean(p[k] for p in per_op)
    m["trace.warm_p50_s"] = statistics.median(r["s"] for _, r in warm_samples if "s" in r)
    return {k: {"value": v, "unit": unit(k)} for k, v in m.items()}


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("yield", "skew", "ratio", "per_input_byte")):
        return "ratio"
    if "bytes" in name.rsplit(".", 1)[-1]:
        return "bytes"
    return "count"
