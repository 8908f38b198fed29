"""Job-level benchmark of the extraction engine.

    python3 perfbench/run.py --workload pdf_extract --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root.  One process starts a local Spark session
on every CPU this process may use, builds the workload's inputs from
``--seed``, warms up, then runs operations of the workload for
``--seconds`` seconds (at least one), checking each operation's output
outside its timed window.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` every operation is traced (and its peak memory sampled),
the metrics are the per-layer ones, and the spans go to
``.bench_work/``.  The line before
it records the pinned environment, the load average and how the host's
CPUs spent the run.

Exits with code 2 when the package is not importable from the
repository root.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "rca_pdf_extraction_pipeline_spark"
READBACK_MIN_S = 1.0


def pin_environment(work: Path) -> dict:
    """Pin the session through the package's own environment variables
    and keep every scratch file inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a third of RAM, at most 8g: the 48g default exceeds small hosts
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(8, mem_gb // 3))}g",
        "SPARK_GRAFT_JIT_FULL": "1",
    }
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    os.environ.update({
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(tmp),
        # no hsperfdata file in the system's /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return {**env, "nproc": cpus}


def cpu_ticks() -> list[int]:
    """Host-wide CPU time so far, in clock ticks: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(start: list[int], end: list[int]) -> dict[str, float]:
    """How the host's CPUs spent a run: other tenants show as steal, and
    as busy time this process did not use."""
    d = [b - a for a, b in zip(start, end)]
    total = sum(d) or 1
    return {k: round(v / total, 4) for k, v in
            zip(("user", "nice", "system", "idle", "iowait", "irq",
                 "softirq", "steal"), d)}


class RssSampler:
    """Peak resident memory of a process tree (the Spark JVM and the
    Python workers it forks), sampled every ``interval`` seconds."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root, self.interval = root_pid, interval
        self.page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = 0.0

    def _tree_mb(self) -> float:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            parent[int(d)], rss[int(d)] = int(fields[1]), int(fields[21])
        tree, frontier = {self.root}, [self.root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            tree.update(kids)
            frontier.extend(kids)
        return sum(rss.get(p, 0) for p in tree) * self.page_mb

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self.peak = 0.0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_mb())


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] \
        if len(xs) > 1 else xs[0]


def install_tracer(spark, wl):
    from spans import Tracer
    from rca_pdf_extraction_pipeline_spark.plans import checkpoint

    tr = Tracer()
    tr.wrap(checkpoint, "extract_with_checkpoint",
            "checkpoint.extract_with_checkpoint")
    tr.wrap(checkpoint, "read_extracted", "checkpoint.read_extracted")
    tr.wrap(checkpoint.SnapshotManifest, "append",
            "checkpoint.SnapshotManifest.append")
    tr.wrap_actions(spark)
    wl.span = tr.span
    return tr


def measure(args, work: Path) -> dict:
    from pyspark import SparkContext

    from layers import NAMES, operation_layers
    from rca_pdf_extraction_pipeline_spark.session import get_spark
    from sparkmetrics import StatusStore
    from spans import dump
    from workloads import WORKLOADS

    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.time() - t0
    gateway = SparkContext._gateway
    try:
        wl = WORKLOADS[args.workload](spark, args.seed)
        t = time.time()
        wl.build_inputs(work / "inputs")
        build_s = time.time() - t
        t = time.time()
        wl.warm_up()
        warmup_s = time.time() - t
        setup_s = session_s + build_s + warmup_s

        store = StatusStore(spark)
        tracer = install_tracer(spark, wl) if args.trace else None
        ops, problems, layer_rows, all_spans = [], [], [], []
        attempted = failed = 0
        deadline = time.time() + args.seconds
        while not ops or time.time() < deadline:
            out = work / f"out-{len(ops)}"
            last = store.last_id()
            attempted += len(wl.op_names)
            try:
                with RssSampler(gateway.proc.pid) if tracer \
                        else nullcontext() as rss, \
                        tracer.span("op") if tracer else nullcontext():
                    op = wl.run(out)
                with tracer.span("readback") if tracer else nullcontext():
                    # a second read when the first is short, so one
                    # scheduling hiccup does not set readback_s
                    reads, digests = [], []
                    while not reads or (len(reads) < 2
                                        and reads[0] < READBACK_MIN_S):
                        t = time.time()
                        digests.append(wl.read_output(op))
                        reads.append(time.time() - t)
                got = digests[0]
                row = {"wall_s": op.wall_s, "docs": op.docs,
                       "commits": [c - op.start for c in op.commits],
                       "readback_s": statistics.median(reads),
                       "output_files": wl.output_files(op),
                       "parts": op.parts}
                if tracer:
                    t = time.time()
                    layers = operation_layers(
                        tracer, store.executions_after(last), store,
                        op.docs)
                    layers["trace.harvest_s"] = time.time() - t
                    layers["trace.docs_per_s"] = op.docs / op.wall_s
                    layers["peak_rss_mb"] = rss.peak
                    layer_rows.append(layers)
                    all_spans.extend(tracer.take())
                bad = {k: v for k, v in wl.check(op, got).items() if v}
                if any(d != got for d in digests):
                    bad.setdefault(wl.op_names[0], []).append(
                        "readbacks disagree")
            except Exception as e:  # an operation that fails is counted
                bad = {k: [f"{type(e).__name__}: {e}"] for k in wl.op_names}
                row = {}
            failed += len(bad)
            problems.extend(p for v in bad.values() for p in v)
            ops.append(row)
            shutil.rmtree(out, ignore_errors=True)
        if tracer:
            tracer.close()
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    done = [r for r in ops if r]
    if not done:
        metrics = {}
    elif args.trace:
        metrics = {k: statistics.median(r[k] for r in layer_rows)
                   for k in NAMES if k not in ("session.start_s",
                                               "warmup_s")}
        metrics.update({"session.start_s": session_s, "warmup_s": warmup_s})
        dump(ROOT / ".bench_work" / f"trace-{args.workload}-{args.seed}.json",
             all_spans, {"layers": layer_rows})
    else:
        gaps = [b - a for r in done
                for a, b in zip([0.0] + r["commits"], r["commits"])]
        metrics = {
            "docs_per_s": statistics.median(r["docs"] / r["wall_s"]
                                            for r in done),
            "commit_s.p50": statistics.median(gaps),
            "commit_s.p90": p90(gaps),
            "readback_s": statistics.median(r["readback_s"] for r in done),
            "output_files": statistics.median(r["output_files"]
                                              for r in done),
            "setup_s": setup_s,
        }
    return {"ops": ops, "problems": problems, "attempted": attempted,
            "failed": failed, "metrics": metrics,
            "setup": {"session_s": session_s, "input_build_s": build_s,
                      "warmup_s": warmup_s}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    units = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {w["name"] for w in units["workloads"]}
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(names)}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    load_start, ticks = os.getloadavg(), cpu_ticks()
    try:
        env = pin_environment(work)
        res = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spec = units["per_layer" if args.trace else "end_to_end"]
    metrics = res["metrics"]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "env": env, "load_start": load_start,
                      "load_end": os.getloadavg(),
                      "cpu": cpu_shares(ticks, cpu_ticks()),
                      "setup": res["setup"],
                      "ops": res["ops"], "problems": res["problems"]}))
    print(json.dumps({
        "correct": res["failed"] == 0 and bool(metrics),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]}
                    for m in spec if metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
