"""Turns one run's raw measurements into the benchmark's metrics.

Pure functions over the JSON the JVM side writes, so the arithmetic is
testable without Spark (see test_metrics.py).
"""
import math
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

F1_DAGS = ["raceResults", "qualifyingResults", "practiceLaps", "topSpeeds",
           "driverStandings", "constructorStandings", "schedule"]
CURATE_LAYERS = ["textstats.quality", "dedup.exact", "dedup.minhash_sig",
                 "dedup.lsh_candidates", "dedup.verify", "textstats.split",
                 "sinks.versioned"]
# the TPC-H keys of the `queries` workload (Workloads.scala, Queries.Tpch)
TPCH = [1, 3, 9, 18, 21]
# StreamingQueryProgress.durationMs phases, per micro-batch
STREAM_PHASES = {"add_batch": "addBatch", "wal_commit": "walCommit",
                 "commit_offsets": "commitOffsets", "query_planning": "queryPlanning"}
TAIL_MIN_SAMPLES = 100

def nearest_rank(xs, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_ms(lat):
    """The p90 latency, or None below 100 samples: the tail is reported only
    where at least ten samples lie beyond it."""
    return nearest_rank(lat, 90) if len(lat) >= TAIL_MIN_SAMPLES else None


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(raw, gen_s):
    ops = [o for o in raw["ops"] if o["kind"] != "layers"]
    lat = [o["ms"] for o in ops]
    metrics = {
        "throughput": (len(ops) / raw["timed_s"], "op/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "setup_s": (gen_s + raw["session_s"] + raw["derive_s"] + raw["warmup_s"], "s"),
        "heap_peak_mb": (raw["heap_peak_bytes"] / 1e6, "MB"),
        "store_mb": (raw["store_bytes"] / 1e6, "MB"),
    }
    detail = {"latency_samples": len(lat), "latency_p90_ms": tail_ms(lat),
              "latencies_ms": [round(x, 1) for x in lat],
              "setup_parts_s": {"generate": round(gen_s, 2), **{
                  k: round(raw[f"{k}_s"], 2) for k in ["session", "derive", "warmup"]}},
              "timed_s": round(raw["timed_s"], 2),
              "attempted": len(ops), "failed": sum(1 for o in ops if not o["ok"])}
    return metrics, detail


def per_layer(raw):
    cores = raw["cores"]
    a, b = raw["traced_from"], raw["traced_to"]
    plain = [o for o in raw["ops"][:a] + raw["ops"][b:] if o["kind"] != "layers"]
    traced = [o for o in raw["ops"][a:b] if o["kind"] != "layers"]
    spans = raw["spans"]
    m = {}

    def each(key):
        return _mean([o.get(key, 0.0) for o in traced])

    m["catalyst.analysis_ms"] = (each("analysis_ms"), "ms")
    m["catalyst.optimization_ms"] = (each("optimization_ms"), "ms")
    m["catalyst.planning_ms"] = (each("planning_ms"), "ms")
    m["exec.jobs"] = (each("jobs"), "count")
    m["exec.stages"] = (each("stages"), "count")
    m["exec.tasks"] = (each("tasks"), "count")
    task_s = each("task_ms") / 1000.0
    m["exec.task_s"] = (task_s, "s")
    m["exec.floor_s"] = (task_s / cores, "s")
    wall = sum(o["ms"] for o in traced)
    m["exec.busy_share"] = (sum(o.get("task_ms", 0.0) for o in traced) / cores / wall
                            if wall else 0.0, "share")
    m["exec.no_job_s"] = (each("no_job_ms") / 1000.0, "s")
    m["shuffle.write_mb"] = (each("shuffle_write_bytes") / 1e6, "MB")
    m["shuffle.read_mb"] = (each("shuffle_read_bytes") / 1e6, "MB")
    m["shuffle.records"] = (each("shuffle_records"), "count")
    m["spill.mb"] = (each("spill_bytes") / 1e6, "MB")
    m["scan.mb"] = (each("scan_bytes") / 1e6, "MB")
    m["scan.rows"] = (each("scan_rows"), "count")
    m["output.mb"] = (each("output_bytes") / 1e6, "MB")
    m["output.files"] = (each("output_files"), "count")
    n_ops = len(plain) + len(traced)
    m["gc.ms"] = (raw["gc_ms"] / n_ops if n_ops else 0.0, "ms")

    def kind_ms(kind):
        return _median([o["ms"] for o in traced if o["kind"] == kind])

    def span_ms(name):
        return _median([s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name])

    for dag in F1_DAGS:
        m[f"pipelines.{dag}_ms"] = (kind_ms(dag), "ms")
    m["pipelines.curate_ms"] = (kind_ms("curate"), "ms")
    m["sinks.upsert_ms"] = (span_ms("sinks.upsert"), "ms")
    m["sinks.overwrite_ms"] = (span_ms("sinks.overwrite"), "ms")
    for layer in CURATE_LAYERS:
        m[f"{layer}_ms"] = (span_ms(layer), "ms")
    counters = raw.get("counters", {})
    for k in ["dedup.candidates", "dedup.verified"]:
        m[k] = (counters.get(k, 0.0), "count")
    m["dedup.verify_yield"] = (counters.get("dedup.verify_yield", 0.0), "share")
    m["curate.kept_share"] = (counters.get("curate.kept_share", 0.0), "share")
    batches = raw["batches"]
    m["streaming.batch_ms"] = (_median([b["ms"] for b in batches]), "ms")
    for name, phase in STREAM_PHASES.items():
        m[f"streaming.{name}_ms"] = (_median([b[phase] for b in batches]), "ms")
    m["streaming.jobs_per_batch"] = (_mean([b["jobs"] for b in batches]), "count")
    m["gatestores.store_mb"] = (counters.get("gatestores.store_bytes", 0.0) / 1e6, "MB")
    m["annindex.ingest_ms"] = (span_ms("annindex.ingest"), "ms")
    m["similarity.serve_ms"] = (span_ms("similarity.serve"), "ms")
    for q in TPCH:
        m[f"tpch.q{q:02d}_ms"] = (kind_ms(f"q_sql_tpch_q{q}"), "ms")
    selfs = self_times(spans)
    m["bench.self_ms"] = (_median([selfs[s["id"]] for s in spans
                                   if s["name"].startswith("op.")]), "ms")
    # the untraced passes run the first part only: compare its kinds
    kinds = {o["kind"] for o in plain}
    p50_plain = _median([o["ms"] for o in plain])
    p50_traced = _median([o["ms"] for o in traced if o["kind"] in kinds])
    m["trace.overhead_share"] = (p50_traced / p50_plain - 1.0 if p50_plain else 0.0, "share")
    return m
