"""Per-layer metrics of a traced run.

Layers are the engine modules the benchmark calls into.  Timings and
counts are medians over the calls made in the timed window (warm-up
excluded); builds happen once per run.

:data:`METRICS` is the full table, which a traced run prints on its detail
line.  A layer a workload never calls reads 0 there, which is the
prediction for it on that workload.  :data:`PER_LAYER` is the part every
workload reports on its result line: counts, bytes and ratios of every
layer, which read 0 where a layer is idle, and the times of the layers
both workloads call.  A time that is 0 on every run of a workload would
be no measurement at all, so the write-side times (refreshes, upsert,
delete, screen, dedup and the near-dup index build, which only
``ingest-churn`` calls) appear only in the full table.
"""

from __future__ import annotations

import statistics

from spans import Tracer

SEARCH_TYPES = ("dense_exact", "dense_ivf", "filtered", "text")
INDEXES = ("index", "payload_index", "text_search", "neardup_index")
DEDUP_OPS = ("dedup.exact", "dedup.minhash", "dedup.clusters",
             "dedup.simhash")

# calls whose Spark jobs, busy time and driver gap are broken out; the
# first group runs on every workload, the second only on ingest-churn
SHARED_OPS = ([f"search.{t}" for t in SEARCH_TYPES]
              + [f"build.{i}" for i in INDEXES[:3]])
WRITE_OPS = (["screen", "upsert", "delete"]
             + [f"refresh.{i}" for i in INDEXES]
             + list(DEDUP_OPS) + ["build.neardup_index"])
OPS = SHARED_OPS + WRITE_OPS
COUNTS = (("spark_jobs", "count"), ("shuffle_bytes", "bytes"))
TIMES = (("job_busy_ms", "ms"), ("executor_run_ms", "ms"),
         ("driver_gap_ms", "ms"))
CROSS = COUNTS + TIMES
# ops whose job count is already a named layer metric
# (query_search.jobs_per_request.<type>, upsert.jobs, <index>.refresh_jobs)
NAMED_JOBS = ({f"search.{t}" for t in SEARCH_TYPES} | {"upsert"}
              | {f"refresh.{i}" for i in INDEXES})


def _cross(ops, metrics) -> list[tuple[str, str]]:
    return [(f"{op}.{m}", u) for op in ops for m, u in metrics
            if not (m == "spark_jobs" and op in NAMED_JOBS)]


PER_LAYER = (
    [("query_search.construct_ms", "ms"), ("query_search.execute_ms", "ms")]
    + [(f"query_search.jobs_per_request.{t}", "count") for t in SEARCH_TYPES]
    + [(f"{i}.build_s", "s") for i in INDEXES[:3]]
    + [(f"{i}.refresh_jobs", "count") for i in INDEXES]
    + [("index.mask_rows", "count"), ("index.generations", "count"),
       ("upsert.jobs", "count"), ("upsert.bytes_written_per_point", "bytes"),
       ("upsert.files_per_bucket", "count"),
       ("dedup.jobs", "count"), ("dedup.shuffle_bytes", "bytes"),
       ("dedup.candidate_pairs", "count"), ("dedup.pair_precision", "ratio")]
    + _cross(OPS, COUNTS) + _cross(SHARED_OPS, TIMES))

METRICS = PER_LAYER + (
    [("neardup_index.build_s", "s")]
    + [(f"{i}.refresh_ms", "ms") for i in INDEXES]
    + [("upsert.upsert_ms", "ms"), ("upsert.delete_ms", "ms"),
       ("neardup_index.screen_ms", "ms")]
    + _cross(WRITE_OPS, TIMES))


def _med(v: list[float]) -> float:
    return float(statistics.median(v)) if v else 0.0


def _measured(tracer: Tracer) -> list:
    """Spans outside the warm-up subtree."""
    skip: set[int] = set()
    for s in tracer.spans:
        if s.name == "warm" or s.parent in skip:
            skip.add(s.sid)
    return [s for s in tracer.spans if s.sid not in skip]


def per_layer(wl, tracer: Tracer, stats: dict[int, dict]) -> dict:
    """Every metric of :data:`METRICS`, by name, with its unit."""
    spans = _measured(tracer)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    name_of = {s.sid: s.name for s in tracer.spans}

    def dur(name: str) -> float:
        return _med([s.dur_ms for s in by_name.get(name, [])])

    def stat(name: str, key: str) -> float:
        return _med([stats[s.sid][key] for s in by_name.get(name, [])])

    def under_search(part: str) -> float:
        return _med([s.dur_ms for s in by_name.get(part, [])
                     if name_of.get(s.parent, "").startswith("search.")])

    v: dict[str, float] = {
        "query_search.construct_ms": under_search("construct"),
        "query_search.execute_ms": under_search("execute"),
        "index.mask_rows": wl.layer_state().get("mask_rows", 0),
        "index.generations": wl.layer_state().get("generation", 0),
        "upsert.upsert_ms": dur("upsert"),
        "upsert.delete_ms": dur("delete"),
        "upsert.jobs": stat("upsert", "spark_jobs"),
        "upsert.bytes_written_per_point":
            wl.layer_state().get("bytes_written_per_point", 0),
        "upsert.files_per_bucket": wl.layer_state().get("files_per_bucket", 0),
        "neardup_index.screen_ms": dur("screen"),
        "dedup.jobs": sum(stat(op, "spark_jobs") for op in DEDUP_OPS),
        "dedup.shuffle_bytes": sum(stat(op, "shuffle_bytes")
                                   for op in DEDUP_OPS),
        "dedup.candidate_pairs": wl.layer_state().get("candidate_pairs", 0),
        "dedup.pair_precision": wl.layer_state().get("pair_precision", 0),
    }
    for t in SEARCH_TYPES:
        v[f"query_search.jobs_per_request.{t}"] = stat(f"search.{t}",
                                                       "spark_jobs")
    for i in INDEXES:
        v[f"{i}.build_s"] = dur(f"build.{i}") / 1000.0
        v[f"{i}.refresh_ms"] = dur(f"refresh.{i}")
        v[f"{i}.refresh_jobs"] = stat(f"refresh.{i}", "spark_jobs")
    for name, _ in _cross(OPS, CROSS):
        op, m = name.rsplit(".", 1)
        v[name] = stat(op, m)
    return {name: {"value": float(v[name]), "unit": unit}
            for name, unit in METRICS}


def result_metrics(table: dict) -> dict:
    """The :data:`PER_LAYER` part of a full :func:`per_layer` table."""
    return {name: table[name] for name, _ in PER_LAYER}


def gap_check(tracer: Tracer, stats: dict[int, dict]) -> float:
    """Worst share of a timed call's wall time that its own jobs spent
    outside it: ``driver_gap_ms + job_busy_ms`` is the wall time by
    construction, and this bounds how much job time that misattributes."""
    worst = 0.0
    for s in _measured(tracer):
        if s.name in OPS and s.dur_ms > 0:
            worst = max(worst, stats[s.sid]["outside_ms"] / s.dur_ms)
    return worst
