"""Roll the operator metrics of one traced operation up into the
per-layer metrics named in BENCHMARK.json.

Each SQL execution belongs to the innermost span open when it was
submitted, so its metrics land on the package call that triggered it.
A layer the workload never reaches reads 0.
"""

from __future__ import annotations

import statistics

from sparkmetrics import Execution, StatusStore
from spans import Span, Tracer
from workloads import QueryMix

CKPT = "checkpoint.extract_with_checkpoint"
APPEND = "checkpoint.SnapshotManifest.append"
HTML_QUERY = "html_main_spans"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"

NAMES = (
    "checkpoint.wave_s", "checkpoint.write_s", "checkpoint.task_commit_s",
    "checkpoint.job_commit_s", "checkpoint.manifest_append_s",
    "checkpoint.files_written", "checkpoint.sort_peak_mb",
    "checkpoint.readback_files", "checkpoint.readback_scan_s",
    "checkpoint.rows_scanned_per_doc",
    "skew.jobs_per_wave", "skew.shuffle_write_s", "skew.shuffle_mb",
    "skew.fetch_wait_s", "skew.partition_max_over_median",
    "extraction.python_init_s", "extraction.python_run_s",
    "extraction.arrow_in_mb", "extraction.arrow_out_mb",
    "extraction.python_tasks",
    "htmlparse.codegen_s",
    *(f"q.{q}.{m}" for q in QueryMix.QUERIES
      for m in ("s", "python_s", "exchange_mb")),
    "peak_rss_mb",
    "session.start_s", "warmup_s", "trace.docs_per_s", "trace.harvest_s",
)


def _sum(execs: list[Execution], op: str, metric: str) -> float:
    return sum(e.total(op, metric) for e in execs)


def _all_nodes_sum(execs: list[Execution], metric: str) -> float:
    return sum(n.metrics[metric].total for e in execs for n in e.nodes
               if metric in n.metrics)


def operation_layers(tr: Tracer, execs: list[Execution], store: StatusStore,
                     docs: int) -> dict[str, float]:
    """Per-layer metrics of one operation and its readback."""
    owner = {e.id: tr.innermost(e.submitted_ms / 1000 + 5e-4) for e in execs}

    def under(name: str, e: Execution) -> bool:
        s = owner[e.id]
        return s is not None and tr.under(s, name)

    def inside(e: Execution, span: Span) -> bool:
        return any(a is span for a in tr.ancestors(owner[e.id]))

    def spans(name: str, within: str | None = None) -> list[Span]:
        return [s for s in tr.spans if s.name == name
                and (within is None or tr.under(s, within))]

    ckpt = [e for e in execs if under(CKPT, e)]
    # the readback through read_extracted, repeated: figures are per read
    reads = len(spans("checkpoint.read_extracted", "readback"))
    readback = [e for e in execs if under("readback", e)] if reads else []
    reads = max(1, reads)
    out = dict.fromkeys(NAMES, 0.0)

    # plans.checkpoint: per wave, from the call start or the previous
    # commit to this commit
    waves = []
    for call in spans(CKPT):
        t = call.start
        for a in spans(APPEND, CKPT):
            if call.start <= a.start <= call.end:
                waves.append(a.end - t)
                t = a.end
    insert = "Execute InsertIntoHadoopFsRelationCommand"
    sort_peaks = [m.max if m.max is not None else m.total
                  for e in ckpt for m in e.metric("Sort", "peak memory")]
    out.update({
        "checkpoint.wave_s": statistics.median(waves) if waves else 0.0,
        "checkpoint.write_s": sum(s.seconds for s in
                                  spans("action.parquet", CKPT)),
        "checkpoint.task_commit_s": _sum(ckpt, insert, "task commit time"),
        "checkpoint.job_commit_s": _sum(ckpt, insert, "job commit time"),
        "checkpoint.manifest_append_s": sum(s.seconds for s in spans(APPEND)),
        "checkpoint.files_written": _sum(ckpt, insert,
                                         "number of written files"),
        "checkpoint.sort_peak_mb": max(sort_peaks, default=0.0),
        "checkpoint.readback_files": _sum(readback, "Scan",
                                          "number of files read") / reads,
        "checkpoint.readback_scan_s": _sum(readback, "Scan",
                                           "scan time") / reads,
        "checkpoint.rows_scanned_per_doc":
            _sum(ckpt, "Scan", "number of output rows") / docs
            if ckpt else 0.0,
    })

    # operators.skew: the salted range repartition inside every wave
    skews = [m.max / m.med for e in ckpt
             for m in e.metric("Exchange", "local bytes read")
             if m.med and m.max is not None]
    out.update({
        "skew.jobs_per_wave": sum(e.jobs for e in ckpt) / len(waves)
        if waves else 0.0,
        "skew.shuffle_write_s": _sum(ckpt, "Exchange", "shuffle write time"),
        "skew.shuffle_mb": _sum(ckpt, "Exchange", "shuffle bytes written"),
        "skew.fetch_wait_s": _sum(ckpt, "Exchange", "fetch wait time"),
        "skew.partition_max_over_median":
            statistics.median(skews) if skews else 0.0,
    })

    # the Python boundary (operators.extraction's mapInArrow)
    py = [n for e in ckpt for n in e.nodes if PY_INIT in n.metrics]

    def py_sum(metric: str) -> float:
        return sum(n.metrics[metric].total for n in py if metric in n.metrics)

    out.update({
        "extraction.python_init_s": py_sum(PY_INIT),
        "extraction.python_run_s": py_sum(PY_RUN),
        "extraction.arrow_in_mb": py_sum("data sent to Python workers"),
        "extraction.arrow_out_mb": py_sum("data returned from Python workers"),
        "extraction.python_tasks": float(sum(
            store.stage_tasks(n.metrics[PY_INIT].stage) for n in py
            if n.metrics[PY_INIT].stage is not None)),
    })

    # the query mix: each query's span holds its builder and its write
    for q in QueryMix.QUERIES:
        qs = spans(f"q.{q}")
        ex = [e for e in execs if any(inside(e, s) for s in qs)]
        out[f"q.{q}.s"] = sum(s.seconds for s in qs)
        out[f"q.{q}.python_s"] = _all_nodes_sum(ex, PY_INIT) \
            + _all_nodes_sum(ex, PY_RUN)
        out[f"q.{q}.exchange_mb"] = _sum(ex, "Exchange",
                                         "shuffle bytes written")
        if q == HTML_QUERY:
            # the longest codegen stage: the one that runs to_spans
            out["htmlparse.codegen_s"] = max(
                (n.metrics["duration"].total for e in ex for n in e.nodes
                 if n.name.startswith("WholeStageCodegen")
                 and "duration" in n.metrics), default=0.0)
    return out
