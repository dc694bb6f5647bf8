"""End-to-end and per-layer metrics, the environment record, and the
figures reported beside them but not gated."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import time

from . import trace


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------


def environment(spark, seed: int) -> dict:
    sc = spark.sparkContext
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = "unknown (not a git checkout)"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": commit,
    }


def probe_job(spark) -> float:
    """Wall of one fixed tiny Spark job. It tells a drifting host apart
    from benchmark noise; it never normalizes a metric."""
    t0 = time.time()
    spark.range(0, 10_000, 1, 4).selectExpr("sum(id)").collect()
    return time.time() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat.
    Time the hypervisor gave this machine's CPUs to other guests shows
    as steal; a run with a high share of it ran on a busy host."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return ticks[7], sum(ticks)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    import resource

    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return round(total, 1)


# ---------------------------------------------------------------------------
# end to end
# ---------------------------------------------------------------------------


def _disk_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def space_amp(wl) -> float:
    """Bytes on disk of the tables the workload wrote (data plus
    manifest log) over the bytes of one plain-parquet write of the
    same live rows."""
    from etl_stocks_with_sentiment_analysis_spark.operators import sinks

    disk = plain = 0
    for i, table in enumerate(wl.written):
        disk += _disk_bytes(table)
        out = os.path.join(wl.work, f"plain{i}")
        sinks.read_manifest_table(wl.spark, table).write.parquet(out)
        plain += _disk_bytes(out)
    return disk / plain


def end_to_end(wl, rec: trace.Recorder, setup_s: float) -> dict:
    cycles = sorted({s.cycle for s in rec.spans if s.cycle is not None})
    return {
        "setup_s": _m(setup_s, "s"),
        "cycle_s": _m(_median(wl.cycle_walls), "s"),
        "read_s": _m(_median([rec.sum(c, kind="read") for c in cycles]), "s"),
        "write_s": _m(_median([rec.sum(c, kind="write") for c in cycles]), "s"),
        "space_amp": _m(space_amp(wl), "ratio"),
    }


def reported(wl, rec: trace.Recorder) -> dict:
    """Figures printed beside the gated ones: per-kind p50 and tail
    with sample counts, freshness, recall and failure share."""
    kinds: dict[str, list[float]] = {}
    for s in rec.spans:
        if s.cycle is not None:
            kinds.setdefault(f"{s.layer}.{s.name.split('.')[0]}.{s.phase}", []).append(
                s.wall * 1000.0
            )
    per_kind = {}
    for k, xs in sorted(kinds.items()):
        xs = sorted(xs)
        # the highest percentile with at least ten samples beyond it
        tail_q = max(0.5, 1.0 - 10.0 / len(xs)) if len(xs) >= 20 else None
        per_kind[k] = {
            "n": len(xs),
            "p50_ms": round(_median(xs), 2),
            "tail": None if tail_q is None else {
                "q": round(tail_q, 3),
                "ms": round(xs[min(len(xs) - 1, int(tail_q * len(xs)))], 2),
            },
        }
    out = {"cycles": len(wl.cycle_walls), "cycle_walls_s": wl.cycle_walls,
           "per_kind_ms": per_kind}
    if hasattr(wl, "setup_walls"):
        out["setup_walls_s"] = wl.setup_walls
    if hasattr(wl, "freshness_ms"):
        out["freshness_ms_p50"] = round(_median(wl.freshness_ms), 1)
        out["freshness_n"] = len(wl.freshness_ms)
    if hasattr(wl, "recall_at_k"):
        out["recall_at_k"] = wl.recall_at_k()
    return out


# ---------------------------------------------------------------------------
# per layer (traced run)
# ---------------------------------------------------------------------------


def per_layer(wl, rec: trace.Recorder, log_dir: str) -> dict:
    stats = trace.attribute(trace.read_events(log_dir), rec.spans)
    spans = rec.spans
    timed = [i for i, s in enumerate(spans) if s.cycle is not None]
    n_cycles = max(1, len({spans[i].cycle for i in timed}))

    def idx(**match) -> list[int]:
        return [i for i in timed
                if all(getattr(spans[i], k) == v for k, v in match.items())]

    def total(ids: list[int], field: str) -> float:
        return sum(getattr(stats[i], field) for i in ids if i in stats)

    def wall(ids: list[int]) -> float:
        return sum(spans[i].wall for i in ids)

    def driver_s(ids: list[int]) -> float:
        # span wall during which none of the span's own jobs ran
        return sum(
            spans[i].wall - (stats[i].job_ms / 1000.0 if i in stats else 0.0)
            for i in ids
        )

    def per_op_ms(layer: str, name: str) -> float:
        # median over operations; an operation is an action span plus
        # the construct span just before it
        walls, pending = [], 0.0
        for i in timed:
            s = spans[i]
            if s.layer != layer or s.name.split(".")[0] != name:
                continue
            if s.phase == "construct":
                pending = s.wall
            else:
                walls.append(pending + s.wall)
                pending = 0.0
        return _median(walls) * 1000.0

    table_w = idx(layer="table", kind="write")
    commits = wl.publishes  # manifest versions the timed cycles published
    m = {
        "session.start_s": _m(wall([i for i, s in enumerate(spans)
                                    if s.layer == "session"]), "s"),
        "sources.files_read": _m(total(timed, "files_read") / n_cycles, "count"),
        "sources.bytes_read": _m(total(timed, "bytes_read") / n_cycles, "bytes"),
    }
    for layer in ("plans", "ml"):
        m[f"{layer}.construct_s"] = _m(
            wall(idx(layer=layer, phase="construct")) / n_cycles, "s"
        )
        m[f"{layer}.action_s"] = _m(
            wall(idx(layer=layer, phase="action")) / n_cycles, "s"
        )
        m[f"{layer}.jobs"] = _m(total(idx(layer=layer), "jobs") / n_cycles, "count")
    m["operators.sort_ms"] = _m(total(timed, "sort_ms") / n_cycles, "ms")
    m["operators.agg_build_ms"] = _m(total(timed, "agg_build_ms") / n_cycles, "ms")
    m["operators.shuffle_write_bytes"] = _m(
        total(timed, "shuffle_write_bytes") / n_cycles, "bytes"
    )
    dedup_ids = [i for i in idx(layer="llmdata") if spans[i].name.startswith("dedup")]
    m["llmdata.dedup_s"] = _m(wall(dedup_ids) / n_cycles, "s")
    m["llmdata.index_build_s"] = _m(
        wall([i for i in idx(layer="llmdata") if spans[i].name == "index.build"])
        / n_cycles, "s"
    )
    m["llmdata.probe_ms"] = _m(per_op_ms("llmdata", "probe"), "ms")
    m["llmdata.jobs"] = _m(total(idx(layer="llmdata"), "jobs") / n_cycles, "count")
    for kind in ("upsert", "merge", "update", "delete", "txn", "read"):
        m[f"table.{kind}_ms"] = _m(per_op_ms("table", kind), "ms")
    m["table.jobs_per_commit"] = _m(
        total(table_w, "jobs") / commits if commits else 0.0, "count"
    )
    m["table.driver_s"] = _m(driver_s(idx(layer="table")) / n_cycles, "s")
    m["table.files_written"] = _m(
        total(table_w, "files_written") / commits if commits else 0.0, "count"
    )
    m["table.bytes_written"] = _m(
        total(table_w, "bytes_written") / commits if commits else 0.0, "bytes"
    )
    m["table.cas_publishes"] = _m(commits / n_cycles, "count")
    drains = idx(layer="streaming")
    m["streaming.drain_ms"] = _m(_median([spans[i].wall for i in drains]) * 1000.0, "ms")
    m["streaming.jobs"] = _m(total(drains, "jobs") / n_cycles, "count")
    rows = getattr(wl, "drained_rows", [])
    m["streaming.rows"] = _m(_median(rows[-len(drains):]) if drains else 0.0, "count")
    for field, name, unit in (
        ("jobs", "all.jobs", "count"), ("stages", "all.stages", "count"),
        ("task_cpu_ms", "all.task_cpu_ms", "ms"), ("gc_ms", "all.gc_ms", "ms"),
        ("spill_bytes", "all.spill_bytes", "bytes"),
    ):
        m[name] = _m(total(timed, field) / n_cycles, unit)
    m["all.driver_s"] = _m(driver_s(timed) / n_cycles, "s")
    return m

