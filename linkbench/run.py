"""Record-linkage benchmark for splink_spark.

Run from the root of a checkout:

    python3 linkbench/run.py --workload web_dedupe --seed 1 \
        --seconds 26 --trace 0

Workloads: web_dedupe, persons_incremental (see linkbench/spec.json for
sizes and reasons). ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` is a separate run that records Spark
counters per layer and prints the per-layer metrics. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

Everything the run writes stays under ``.linkbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

from tracing import Recorder, layer_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _proc_table() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def _resident_bytes(pid: int) -> tuple[str, int]:
    """Resident memory of one process. The JVM is counted by its RSS,
    which is cheap to read; other processes (forked Python workers) by
    their proportional set size, which splits each shared page among the
    processes that map it, so copy-on-write pages are not counted twice.
    Reading PSS walks the page tables, too slow for the JVM's heap.
    Returns ("jvm" or "other", bytes)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    pages = int(g.read().split()[1])
                return "jvm", pages * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return "other", int(line.split()[1]) * 1024
    except OSError:
        pass
    return "other", 0


def descendants(root: int, table: dict[int, int]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class PeakRss:
    """Samples the summed resident memory of this process and all of its
    descendants: the Spark JVM and its Python workers."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}  # jvm / other bytes at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        parts = {"jvm": 0, "other": 0}
        for p in descendants(os.getpid(), _proc_table()):
            kind, n = _resident_bytes(p)
            parts[kind] += n
        if sum(parts.values()) > self.peak:
            self.peak, self.peak_parts = sum(parts.values()), parts

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def start_spark(work: str, slots: int, driver_memory: str):
    from splink_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="linkbench",
        cores=slots,
        extra_conf={
            "spark.driver.memory": driver_memory,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    for pid in descendants(os.getpid(), _proc_table())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    # metric names and units come from the benchmark definition
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in spec["workloads"]:
        ap.error(f"unknown workload {args.workload!r}")

    sys.path.insert(0, ROOT)  # the engine package sits at the checkout root
    import workloads

    # Everything Spark, the JVM and Python write goes under the checkout;
    # Python workers need the checkout on their import path.
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(ROOT, ".linkbench", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # also for the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    )
    slots = len(os.sched_getaffinity(0))
    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            import_s = t0 - t_main
            spark = start_spark(work, slots, spec["spark"]["driver_memory"])
            spark_s = time.perf_counter() - t0
            rec = Recorder(spark, bool(args.trace), run_id)
            run = workloads.Run(
                spark, rec, spec, args.seed, args.seconds, work, slots
            )
            out = workloads.WORKLOADS[args.workload](run)
            workload_s = time.perf_counter() - t0 - spark_s
            rec.dump(os.path.join(ROOT, ".linkbench", f"{run_id}.spans.jsonl"))
    finally:
        t1 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    # where a run's wall goes, for sizing run_seconds against the time
    # all runs of a comparison may take
    peak_mb = {k: v / (1024.0 * 1024.0) for k, v in rss.peak_parts.items()}
    phases = {
        "import_s": import_s, "spark_s": spark_s, "workload_s": workload_s,
        "timed_s": run.timed_s, "stop_s": time.perf_counter() - t1,
    }

    sizes = out.pop("_sizes")
    setup = run.setup
    out["setup_s"] = (
        spark_s + setup["fixture_s"] + setup["warmup_s"] + setup.get("base_s", 0.0)
    )
    out["peak_rss_mb"] = rss.peak / (1024.0 * 1024.0)
    if args.trace:
        values = per_layer(run)
        wanted = bench["per_layer"]
    else:
        values, wanted = out, bench["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(
        "linkbench: "
        + json.dumps({"workload": args.workload, "seed": args.seed,
                      "units": len(run.units), "sizes": sizes, "setup": setup,
                      "phases": phases, "peak_mb": peak_mb}),
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": run.tally.failed == 0,
                "attempted": run.tally.attempted,
                "failed": run.tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def per_layer(run) -> dict:
    """Median per-unit layer counters over the traced units, the counts
    measured at layer boundaries, JVM GC time, the tracing overhead and
    how much of a unit the layer spans cover."""
    spans = run.rec.spans
    traced = [u for u in run.units if u not in run.untraced]
    values = layer_metrics(run.rec, traced + run.extra_units, run.slots)
    for name, vals in run.layer_counts.items():
        values[name] = statistics.median(vals)
    # each traced unit against the mean of its untraced neighbours; the
    # overhead reads 0 when it is within the neighbours' own difference
    pos = {u: k for k, u in enumerate(run.units)}
    walls = [spans[u].wall for u in run.units]
    # (a run that runs out of micro-batches may end on a traced unit)
    inner = [u for u in traced if pos[u] + 1 < len(walls)]
    near = [(walls[pos[u] - 1], walls[pos[u] + 1]) for u in inner]
    overhead = statistics.median(
        spans[u].wall - (a + b) / 2 for u, (a, b) in zip(inner, near)
    )
    noise = statistics.median(abs(a - b) / 2 for a, b in near)
    values["trace.overhead_s"] = overhead if abs(overhead) > noise else 0.0
    values["trace.noise_s"] = noise
    # share of each unit's wall that its layer spans cover, and the rest
    covered = {
        u: sum(s.wall for s in run.rec.leaves_under(u) if s.layer)
        for u in traced + run.extra_units
    }
    values["trace.self_frac"] = statistics.median(
        c / spans[u].wall for u, c in covered.items()
    )
    values["trace.unaccounted_s"] = statistics.median(
        spans[u].wall - covered[u] for u in traced
    )
    return values


if __name__ == "__main__":
    sys.exit(main())
