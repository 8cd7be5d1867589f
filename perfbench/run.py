"""Repository benchmark: extraction throughput of ocr_wrapper_spark.

    python3 perfbench/run.py --workload crawl_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

* ``crawl_cold``: thin pages in the five-dialect mix, empty cache;
* ``recrawl_fat``: ~65 KB pages, 90% of content hashes already cached.

With ``--trace 0`` the last stdout line is one JSON object with the
end-to-end metrics; with ``--trace 1`` it carries the per-layer ledger
(``ledger.py``). The line before it is a ``{"context": ...}`` object:
input fingerprint, host steal and load, pass count. Spark logs go to
stderr. Generated inputs and all scratch state live in ``.perfbench/``
under the checkout. ``--scale tiny`` runs on sf0.001-sized inputs
(``selftest.py``).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

SETUPS = 2  # set-ups per run; setup_s is their median
# The first pass pays one-off compilation, and later passes keep getting
# faster for about five passes while the JVM compiles hot code. A fixed
# pass count puts the median at the same place on that curve on a fast and
# on a slow host; with a time-only stop, a slow host would also get fewer
# passes and a median from earlier on the curve.
MIN_PASSES = 4


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def program_present() -> bool:
    sys.path.insert(0, str(ROOT))
    return (ROOT / "ocr_wrapper_spark" / "__init__.py").is_file() and (
        importlib.util.find_spec("ocr_wrapper_spark") is not None
    )


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class Measured:
    """Per-pass samples of one run."""

    def __init__(self):
        self.pass_s: list[float] = []
        self.cpu_s: list[float] = []
        self.rss: list[int] = []
        self.written: list[int] = []
        self.attempted = 0
        self.failed = 0

    def extend(self, other: "Measured") -> None:
        self.pass_s += other.pass_s
        self.cpu_s += other.cpu_s
        self.rss += other.rss
        self.written += other.written
        self.attempted += other.attempted
        self.failed += other.failed


def timed_passes(wl, seconds: float, run_prefix: str, min_passes: int) -> Measured:
    """Reset, time one pass, check its output; repeat until ``seconds`` of
    timed passes and ``min_passes`` passes have accumulated."""
    import host

    m = Measured()
    n = wl.data.n_docs
    while sum(m.pass_s) < seconds or len(m.pass_s) < min_passes:
        wl.reset()
        host.reset_peaks()
        cpu0 = host.tree_cpu_seconds()
        t0 = time.perf_counter()
        try:
            wl.run(wl.data.pages, f"{run_prefix}-{len(m.pass_s)}")
            raised = None
        except Exception as exc:  # a pass that raises fails every url in it
            raised = exc
        dt = time.perf_counter() - t0
        m.cpu_s.append(host.tree_cpu_seconds() - cpu0)
        peaks = host.tree_peaks()
        m.rss.append(sum(peaks.values()))
        m.pass_s.append(dt)
        m.attempted += n
        if raised is not None:
            # later passes would raise the same way: stop measuring
            log(f"pass raised: {type(raised).__name__}: {raised}")
            m.failed += n
            m.written.append(0)
            break
        m.failed += wl.failures()
        m.written.append(wl.written_bytes())
        log(f"pass {len(m.pass_s)}: {dt:.3f}s cpu {m.cpu_s[-1]:.2f}s peak rss "
            + " ".join(f"{k} {v / 1e6:.0f}MB" for k, v in sorted(peaks.items())))
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        log(f"ocr_wrapper_spark not found under {ROOT}: nothing to measure")
        return 2

    import host
    import inputs
    import spark_session
    from extraction import SPECS, TINY

    specs = TINY if args.scale == "tiny" else SPECS
    if args.workload not in specs:
        log(f"unknown workload {args.workload!r}; choose from {sorted(specs)}")
        return 2
    spec = specs[args.workload]
    spark_session.configure_environment(ROOT, WORK)

    steal0, wall0 = host.steal_seconds(), time.perf_counter()
    data = inputs.page_inputs(ROOT, WORK, spec, args.seed, spark_session.cpus())
    log(f"inputs {data.fingerprint()} in {time.perf_counter() - wall0:.1f}s")

    with host.LoadSampler() as load:
        if args.trace:
            import ledger

            metrics, context, attempted, failed = ledger.traced_run(
                spec, data, WORK, args.seconds, args.seed
            )
        else:
            metrics, context, attempted, failed = untraced_run(spec, data, args.seconds)
        context["host"] = {
            "cpus": spark_session.cpus(),
            "driver_memory": spark_session.driver_memory(),
            "steal_s": round(host.steal_seconds() - steal0, 3),
            "load_avg": round(load.mean(), 3),
            "run_wall_s": round(time.perf_counter() - wall0, 3),
        }
    context.update(workload=spec.name, seed=args.seed, fingerprint=data.fingerprint())
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def setups(work: Path, n: int, event_log: Path | None = None):
    """Start ``n`` sessions, stopping all but the last; returns it with
    the per-set-up (start_s, warm_s) samples."""
    import spark_session

    samples = []
    for i in range(n):
        spark, start_s, warm_s = spark_session.start(work, event_log)
        samples.append((start_s, warm_s))
        log(f"setup {i + 1}: start {start_s:.2f}s warm {warm_s:.2f}s")
        if i < n - 1:
            t0 = time.perf_counter()
            spark_session.stop(spark)
            log(f"stop {time.perf_counter() - t0:.2f}s")
    return spark, samples


def prepare_and_warm(wl, warm_passes: int) -> None:
    """Build the recrawl's caches if needed, then run ``warm_passes``
    untimed full passes."""
    t0 = time.perf_counter()
    if wl.prepare():
        log(f"prepare {time.perf_counter() - t0:.2f}s")
    for i in range(warm_passes):
        t0 = time.perf_counter()
        wl.reset()
        try:
            wl.run(wl.data.pages, f"warm-{i}")
        except Exception as exc:  # the timed passes will count the failure
            log(f"warm pass raised: {type(exc).__name__}: {exc}")
            return
        log(f"warm pass {i + 1}: {time.perf_counter() - t0:.2f}s")


def untraced_run(spec, data, seconds: float):
    import spark_session
    from extraction import Extraction

    spark, samples = setups(WORK, SETUPS)
    try:
        wl = Extraction(spark, spec, data, WORK)
        prepare_and_warm(wl, warm_passes=0)
        m = timed_passes(wl, seconds, "pass", MIN_PASSES)
    finally:
        spark_session.stop(spark)
    pass_s = median(m.pass_s)
    metrics = {
        "setup_s": (median([a + b for a, b in samples]), "s"),
        "pass_s": (pass_s, "s"),
        "docs_per_s": (data.n_docs / pass_s, "1/s"),
        "cpu_s": (median(m.cpu_s), "s"),
        "peak_rss_mb": (median(m.rss) / 1e6, "MB"),
        "written_mb": (median(m.written) / 1e6, "MB"),
        "ok_frac": (1.0 - m.failed / m.attempted, "ratio"),
    }
    context = {"passes": len(m.pass_s), "pass_s_all": [round(x, 4) for x in m.pass_s]}
    return as_metrics(metrics), context, m.attempted, m.failed


def as_metrics(values: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}


if __name__ == "__main__":
    sys.exit(main())
