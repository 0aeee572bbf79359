#!/usr/bin/env python3
"""The repository benchmark: seeded workloads on ``local[$(nproc)]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus_extract --seed 1 --seconds 25 --trace 0

Workloads (``workloads.py``, described in ``LAYERS.md``):
``corpus_extract`` and ``driver_queries`` are listed in ``BENCHMARK.json``;
``corpus_dedup`` and ``books_salted`` run the same way by hand. One run:

1. sets up Spark: process start to ``get_spark`` returned and the Python
   workers spawned with the package imported (``setup_s``);
2. generates the workload's input from ``--seed``, untimed;
3. runs one untimed warm repetition, then repeats the measured work on a
   fresh output directory each time until ``--seconds`` have passed;
4. checks the outputs, untimed;
5. prints one JSON line of run details, then the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones, medians over the
repetitions. With ``--trace 1`` the run mixes untraced and traced
repetitions; the traced ones record spans with their own Spark job groups, and the
per-layer metrics come from those spans, Spark's monitoring REST API and
a driver-side timing of the kernel stages on a sample of the input. The
spans are written to ``.perfbench_work/traces/``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout. Numbers are ``local[N]`` with N = cores of the machine; they
are not comparable with the ``local[32]`` BENCH_r0x history.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start_epoch() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def load() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


class Bench:
    """What a workload needs from the run: session, tracer, seed, paths."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = None
        from jochre3_ocr_spark.sources.corpus import lexicon_words

        self.lexicon_words = lexicon_words()

    def setup(self) -> None:
        """Create the session and spawn its Python workers with the
        package imported."""
        from jochre3_ocr_spark.plans.pipeline import get_spark

        slots = len(os.sched_getaffinity(0))  # as nproc counts them
        self.spark = get_spark(
            "perfbench", master=f"local[{slots}]", shuffle_partitions=slots
        )
        self.spark.sparkContext.setLogLevel("ERROR")

        def import_package(batches):
            import jochre3_ocr_spark.operators.kernel  # noqa: F401
            import jochre3_ocr_spark.plans.pipeline  # noqa: F401

            yield from batches

        self.spark.range(slots, numPartitions=slots).mapInPandas(
            import_package, "id long"
        ).collect()


def configure_launch(work: str) -> None:
    """Static settings that must be in place before the JVM starts: the
    package on the Python workers' path, no console progress bars, and
    every scratch and temp directory inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # a traced run reads every job, stage and SQL execution back
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
        "spark.sql.ui.retainedExecutions": "2000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    from tracing import descendants, live

    started = set(descendants(os.getpid()))
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while alive := live(started):
        if time.monotonic() > deadline:
            for pid in alive:
                os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def measure(bench, wl, seconds: float, traced: bool) -> list[dict]:
    """Repeat the workload while another repetition fits in ``seconds``
    (at least ``wl.min_reps`` times), each on a fresh output directory.
    A traced run makes at least 3, traced, untraced, traced, so a steady
    warming trend cancels out of the tracing overhead."""
    from tracing import RssSampler

    reps: list[dict] = []
    min_reps = max(wl.min_reps, 3) if traced else wl.min_reps
    deadline = time.perf_counter() + seconds
    while len(reps) < min_reps or time.perf_counter() + reps[-1]["wall_s"] <= deadline:
        i = len(reps)
        out = os.path.join(bench.work, f"rep{i}")
        bench.tracer.enabled = traced and i % 2 == 0
        rss = RssSampler() if traced else contextlib.nullcontext()
        with rss:
            t0 = time.perf_counter()
            with bench.tracer.span("rep", run=i):
                n = wl.rep(bench, out)
            wall = time.perf_counter() - t0
        reps.append(
            {
                "run": i,
                "out": out,
                "wall_s": wall,
                "ops": n,
                "peak_rss": rss.peak if traced else None,
                "traced": bench.tracer.enabled,
            }
        )
    bench.tracer.enabled = False
    return reps


def end_to_end(reps: list[dict], setup_s: float, docs: int) -> dict:
    wall = statistics.median(r["wall_s"] for r in reps)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "docs_per_s": {"value": docs / wall, "unit": "docs/s"},
    }
    return metrics


def main() -> int:
    started = process_start_epoch()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "jochre3_ocr_spark", "__init__.py")):
        print(f"perfbench: no jochre3_ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    import layers
    import workloads
    from tracing import Tracer

    wls = workloads.all_workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wls)}", file=sys.stderr)
        return 2
    wl = wls[args.workload]

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_launch(work)
    bench = Bench(args.seed, work)
    info = {"workload": wl.name, "seed": args.seed, "load_before": load()}
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def lap(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    try:
        bench.setup()
        setup_s = time.time() - started
        lap("setup")
        bench.tracer = Tracer(bench.spark.sparkContext, enabled=False)
        info["inputs"] = wl.prepare(bench)
        lap("generate")
        if args.trace:
            wl.wrap_layers(bench)
        wl.warm(bench, os.path.join(work, "warm"))
        lap("warm")
        reps = measure(bench, wl, args.seconds, traced=bool(args.trace))
        lap("measure")
        info["load_after"] = load()
        try:
            attempted, failed, info["check"] = wl.check(bench, [r["out"] for r in reps])
        except Exception as exc:  # noqa: BLE001 — a crashed check is a failed run
            attempted = sum(r["ops"] for r in reps)
            failed = attempted
            info["check"] = {"error": f"{type(exc).__name__}: {exc}"}
        lap("check")

        if args.trace:
            metrics, trace_info = layers.per_layer(
                bench, wl, reps, info["inputs"], generate_s=phases["generate"]
            )
            info.update(trace_info)
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            trace_path = os.path.join(traces, f"{wl.name}-seed{args.seed}.json")
            bench.tracer.dump(trace_path)
            info["trace_file"] = os.path.relpath(trace_path, ROOT)
            correct = failed == 0 and trace_info["tiling_ok"]
            lap("layers")
        else:
            metrics = end_to_end(reps, setup_s, info["inputs"]["docs"])
            correct = failed == 0
        info["setup_s"] = round(setup_s, 3)
        info["reps"] = [
            {"wall_s": round(r["wall_s"], 4), "traced": r["traced"]} for r in reps
        ]
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        lap("stop")
    info["phases_s"] = phases

    print(json.dumps(info))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
