"""End-to-end and per-layer benchmark of the drug-disease engine.

Run from the repository root:

    python3 graftbench/run.py --workload dag_scaled --seed 1 --seconds 10 --trace 0

One process, one SparkSession on ``local[4]``, one closed-loop client. The
run generates its inputs from ``--seed`` under ``graftbench/.work`` (the
Spark warehouse, local and temp dirs, sinks and checkpoints live there too).
It runs one cold pass whose outputs are checked, untimed, and one warm-up
iteration. Any later iteration that is still more than WARMUP_FALL faster
than the one before it is a warm-up too. Then it times iterations for
``--seconds``, and at least MIN_SAMPLES of them.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``setup_s``, ``wall_p50_s``); with
``--trace 1`` the run wraps the program's modules, records spans, job-group
counts and an event log, and reports the per-layer metrics instead.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: warm-up stops once an iteration is no more than this share faster than
#: the one before it
WARMUP_FALL = 0.35
WARMUP_MAX = 6
MIN_SAMPLES = 2


def _isolate() -> None:
    """Keep every file the run writes under WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_DRIVER_MEM": "2g",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None


def _start_spark(trace: bool):
    from platform_etl_drug_disease_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(WORK, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="graftbench", master="local[4]", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class RssSampler:
    """Peak VmRSS of one process, sampled from /proc every 50 ms."""

    def __init__(self, pid: int) -> None:
        self.path = f"/proc/{pid}/status"
        self.peak_kb = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open(self.path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    return

    def _run(self) -> None:
        while not self._done.wait(0.05):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()
        self._sample()


def _still_falling(walls: list[float]) -> bool:
    return walls[-1] < (1.0 - WARMUP_FALL) * walls[-2]


#: per-layer time metric -> the spans (by name) whose durations it sums
LAYER_SPANS = {
    "plan.build_s": ["dag.inputs.read", "dag.run_pipeline", "dag.hypotheses",
                     "catalog.plan"],
    "dag.inputs.build_s": ["dag.inputs.read", "dag.inputs.shape"],
    "dag.network.build_s": ["dag.network"],
    "dag.wiring.build_s": ["dag.wiring"],
    "dag.propagation.build_s": ["dag.propagation"],
    "dag.scoring.build_s": ["dag.scoring"],
    "dag.hypotheses.build_s": ["dag.hypotheses"],
    "dag.sink.parquet_s": ["dag.sink.parquet"],
    "dag.sink.json_s": ["dag.sink.json"],
}


def _layer_metrics(spark, tracer, timed: list) -> dict[str, float]:
    """Per traced iteration: summed span time per layer, the share of the
    wall the layer spans cover, the tracer's counters and the event log's
    byte totals of the iteration's job groups. Each metric is the median
    over iterations. Stops the session (the event log is complete only
    then)."""
    from spans import event_log_totals, median

    rows = []
    for it in timed:
        spans = tracer.iteration_spans(it.index)
        by_name: dict[str, float] = {}
        for s, _ in spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + (s.end - s.start)
        row = dict(tracer.counters[it.index])
        # share of the wall inside the layer spans under each operation
        row["trace.coverage"] = sum(
            (s.end - s.start) - st for s, st in spans if s.parent is None
        ) / it.wall
        for metric, names in LAYER_SPANS.items():
            row[metric] = sum(by_name.get(n, 0.0) for n in names)
        for op, wall in it.ops.items():
            if op.startswith("catalog."):
                row[f"{op}.wall_s"] = wall
        rows.append(row)

    _stop_spark(spark)
    for group, totals in event_log_totals(os.path.join(WORK, "events")).items():
        for it, row in zip(timed, rows):
            if group and group.startswith(f"it{it.index}:"):
                for k, v in totals.items():
                    row[k] = row.get(k, 0.0) + v
    names = set().union(*rows)
    out = {name: median([row.get(name, 0.0) for row in rows]) for name in names}
    hits, builds = out.get("memo.hits", 0.0), out.get("memo.builds", 0.0)
    out["memo.hit_ratio"] = hits / (hits + builds) if hits + builds else 0.0
    return out


def _per_layer_spec() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "platform_etl_drug_disease_spark")):
        print(f"graftbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from spans import NULL_TRACER, Tracer, median
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"graftbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    per_layer = _per_layer_spec()
    wl = WORKLOADS[args.workload]()
    _isolate()

    t0 = time.perf_counter()
    spark = _start_spark(bool(args.trace))
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    digest = wl.prepare(spark, WORK, args.seed)
    excluded = time.perf_counter() - t0  # input generation and output checks
    print(f"{args.workload} seed {args.seed}: input digest {digest}", file=sys.stderr)

    # The checked pass is the cold first iteration and one more always
    # follows it. After that, an iteration that is still more than
    # WARMUP_FALL faster than the one before is a warm-up too; the first
    # one that is not opens the timed window.
    checked = wl.iteration(spark, NULL_TRACER, check=True)
    excluded += checked.check_s
    warm = [checked, wl.iteration(spark, NULL_TRACER, check=False)]
    tracer = Tracer() if args.trace else NULL_TRACER
    if args.trace:
        wl.instrument(tracer)
    timed: list = []
    # the JVM's memory is a per-layer metric: sampled in the traced run only
    rss = (
        RssSampler(spark._jvm.ProcessHandle.current().pid())
        if args.trace else contextlib.nullcontext()
    )
    with rss:
        while not timed or len(timed) < MIN_SAMPLES or (
            time.perf_counter() - window_start < args.seconds
        ):
            start = time.perf_counter()
            tracer.iteration = len(warm) + len(timed)
            it = wl.iteration(spark, tracer, check=False)
            it.index = tracer.iteration
            if not timed and len(warm) < WARMUP_MAX and _still_falling(
                [w.wall for w in warm] + [it.wall]
            ):
                warm.append(it)
                continue
            if not timed:
                window_start = start
                setup_s = start - T_START - excluded
            timed.append(it)

    failed = sum(it.failed for it in warm + timed)
    failed += sum(not ok for _, ok, _ in checked.checks)
    attempted = sum(len(it.ops) for it in warm + timed) + len(checked.checks)
    walls = [it.wall for it in timed if not it.failed]
    for name, ok, detail in checked.checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)
    print(
        f"warm-up walls {[round(w.wall, 3) for w in warm]}; timed walls "
        f"{[round(w, 3) for w in walls]} (n={len(walls)}, "
        f"max {max(walls, default=float('nan')):.3f} s)",
        file=sys.stderr,
    )
    if not walls:
        print("graftbench: every timed iteration failed", file=sys.stderr)
        _stop_spark(spark)
        return 1

    if args.trace:
        values = wl.layer_counts(spark)
        tracer.restore()
        # the untraced reference runs in the same warm state as the window
        untraced = wl.iteration(spark, NULL_TRACER, check=False).wall
        values.update(_layer_metrics(spark, tracer, timed))
        values.update({
            "session.start_s": session_s,
            "session.warmup_s": sum(w.wall for w in warm),
            "jvm.peak_rss_mb": rss.peak_kb / 1024.0,
            "trace.overhead_s": median(walls) - untraced,
        })
        metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in per_layer}
    else:
        _stop_spark(spark)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_p50_s": {"value": median(walls), "unit": "s"},
        }
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
