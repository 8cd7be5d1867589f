"""Traced run: the per-layer ledger, measured from outside the program.

Every layer is timed by wrapping calls into its public functions at the
module attribute the caller looks up, by running cumulative prefixes of
the extraction plan to the noop sink, and by reading Spark's event log.
Nothing in the program is edited.

Layer chain (each level to the noop sink, same pages table):

    L0  parquet scan of the columns the pipeline reads
    L1  L0 + sha2(html) + with_url_bucket        (plans.partitioning)
    L2  L1 + identity mapInArrow, payload dropped (the Arrow stage alone)
    L3  L1 + operators.extract.with_extraction    (Arrow stage + kernels)

Reconciliation (tolerances stated in RECONCILE_TOL):

* pass: the traced pass time against L3 (crawl_cold) or the cache-join
  pass plus the extraction of its miss branch (recrawl_fat), plus the
  cache and metrics append spans and the results write span;
* kernels: the phase self times against the in-process
  ``extract_document`` total of the same traced executions.

A shortfall prints as an ``unexplained`` row. Spans (name, start, end,
parent, run id) are kept in memory and written to
``.perfbench/trace/<run id>.jsonl`` when the run ends.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import statistics
import sys
import time
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import host
import inputs

DIALECTS = ["html", "pdf", "json", "hocr", "textract"]
PHASES = ["parse", "rotation", "canonicalize", "date_split", "order", "layout", "assemble"]
QUERIES = [
    "crawl_priority_fusion",
    "host_novelty_ranking",
    "cms_heavy_hitters",
    "boilerplate_strip_rewrite",
    "kmv_distinct_sketch",
    "bitext_margin_mine",
    "filter_overlap_matrix",
    "crawl_pagerank",
]
KERNEL_SAMPLE = 40  # documents per dialect for the in-process kernel ledger
CHAIN_REPS = 3  # repetitions of each ledger pass; the median is reported
RECONCILE_TOL = {"pass": 0.25, "kernels": 0.25}  # |unexplained| / total

# (name, unit, better): the order and names BENCHMARK.json lists
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("session.warm_s", "s", "lower"),
        ("scan.pass_s", "s", "lower"),
        ("scan.mb_per_s", "MB/s", "higher"),
        ("plans.partitioning.pass_s", "s", "lower"),
        ("operators.extract.arrow_pass_s", "s", "lower"),
        ("operators.extract.tasks", "count", "lower"),
        ("operators.extract.batches", "count", "lower"),
        ("operators.extract.pass_s", "s", "lower"),
        ("operators.extract.cpu_ms_per_doc", "ms", "lower"),
    ]
    + [(f"kernels.ms_per_doc.{d}", "ms", "lower") for d in DIALECTS]
    + [(f"kernels.self_ms_per_doc.{p}", "ms", "lower") for p in PHASES]
    + [
        ("kernels.unexplained_ms_per_doc", "ms", "lower"),
        ("kernels.calls_per_doc", "count", "lower"),
        ("kernels.doc_ms_p50", "ms", "lower"),
        ("kernels.doc_ms_p99", "ms", "lower"),
        ("sources.cache.join_pass_s", "s", "lower"),
        ("sources.cache.hit_frac", "ratio", "higher"),
        ("sources.cache.lookups", "count", "lower"),
        ("sources.cache.append_s", "s", "lower"),
        ("sources.cache.written_mb", "MB", "lower"),
        ("sources.metrics.append_s", "s", "lower"),
        ("sources.metrics.rows", "count", "lower"),
        ("plans.pipeline.self_s", "s", "lower"),
        ("results.write_s", "s", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.task_run_s", "s", "lower"),
        ("spark.task_cpu_s", "s", "lower"),
        ("spark.sched_delay_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.task_skew", "ratio", "lower"),
        ("spark.failed_tasks", "count", "lower"),
    ]
    + [(f"relational.query_s.{q}", "s", "lower") for q in QUERIES]
    + [
        ("ledger.untraced_pass_s", "s", "lower"),
        ("ledger.traced_pass_s", "s", "lower"),
        ("ledger.overhead_frac", "ratio", "lower"),
        ("ledger.unexplained_s", "s", "lower"),
    ]
)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans; a span's parent is the span open when it began."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []  # [name, start, end, parent index]
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, self._stack[-1] if self._stack else -1])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the time the
        span's direct children cover."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent in self.spans:
            if parent >= 0:
                child[parent] += e - s
        out: dict[str, float] = {}
        for i, (name, s, e, _) in enumerate(self.spans):
            out[name] = out.get(name, 0.0) + (e - s) - child[i]
        return out

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.spans if n == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for name, s, e, parent in self.spans:
                f.write(json.dumps({"name": name, "start": s, "end": e, "parent": parent,
                                    "run_id": self.run_id}) + "\n")


@contextlib.contextmanager
def patched(tracer: Tracer, targets):
    """Wrap ``module.attr`` in a span for the duration of the block."""
    saved = []
    try:
        for module, attr, name in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, tracer.wrap(fn, name))
        yield
    finally:
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)


def pipeline_targets():
    from ocr_wrapper_spark.plans import pipeline
    from ocr_wrapper_spark.sources import cache, metrics

    return [
        (pipeline, "run_extraction", "plans.pipeline"),
        (cache, "read_cache_or_none", "sources.cache.read"),
        (cache, "split_hits_misses", "sources.cache.split"),
        (cache, "append_cache", "sources.cache.append"),
        (metrics, "append_metrics", "sources.metrics.append"),
    ]


def kernel_targets():
    from ocr_wrapper_spark.kernels import (
        bbox_core, clean, extract_doc, hocr_extract, json_extract, layout, order,
        pdf_extract, textract_extract,
    )

    return [
        (extract_doc, "extract_main_text", "parse"),
        (pdf_extract, "parse_pdf_payload", "parse"),
        (json_extract, "parse_json_payload", "parse"),
        (textract_extract, "parse_textract_payload", "parse"),
        (hocr_extract, "parse_hocr_payload", "parse"),
        (pdf_extract, "detect_rotation", "rotation"),
        (bbox_core, "canonicalize", "canonicalize"),
        (bbox_core, "rotate", "canonicalize"),
        (clean, "split_date_boxes", "date_split"),
        (order, "order_boxes", "order"),
        (layout, "layout_words", "layout"),
        (order, "assemble_text", "assemble"),
    ]


# ---------------------------------------------------------------------------
# layer chain
# ---------------------------------------------------------------------------


def _identity_arrow(counter):
    def op(batches):
        for b in batches:
            counter.add(1)
            yield b.drop_columns(["html"])

    return op


def layer_chain(spark, pages_dir: Path, reps: int) -> dict:
    """Median wall, tree CPU and per-level extras of L0..L3."""
    from pyspark.sql import functions as F

    from ocr_wrapper_spark.operators import extract as ops
    from ocr_wrapper_spark.plans import partitioning

    sc = spark.sparkContext

    def l0():
        return spark.read.parquet(str(pages_dir))

    def l1():
        pages = l0().withColumn("content_hash", F.sha2(F.col("html"), 256))
        return partitioning.with_url_bucket(pages)

    batches = sc.accumulator(0)
    out: dict[str, dict] = {}
    extract_ms = None
    for level in ("L0", "L1", "L2", "L3"):
        walls, cpus = [], []
        for _ in range(reps):
            sc.setJobGroup(level, f"perfbench ledger {level}")
            if level == "L2":
                df = l1()
                schema = df.drop("html").schema
                df = df.mapInArrow(_identity_arrow(batches), schema)
            elif level == "L3":
                df = ops.with_extraction(l1())
            else:
                df = l0() if level == "L0" else l1()
            cpu0, t0 = host.tree_cpu_seconds(), time.perf_counter()
            if level == "L3":
                extract_ms = df.select("extract_ms").toPandas()["extract_ms"].to_numpy()
            else:
                df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            cpus.append(host.tree_cpu_seconds() - cpu0)
        out[level] = {"wall_s": median(walls), "cpu_s": median(cpus)}
        log(f"ledger {level}: {out[level]['wall_s']:.3f}s cpu {out[level]['cpu_s']:.2f}s")
    out["L2"]["batches"] = batches.value / reps
    out["extract_ms"] = extract_ms
    return out


def cache_join_ledger(spark, wl, reps: int) -> dict[str, float]:
    """Against the restored pristine cache, to the noop sink:

    join      read_cache_or_none + split_hits_misses, both branches with
              every column (the hits carry the cached results);
    misses    the miss branch alone;
    extract   with_extraction over the miss branch, in the task layout
              the pipeline gives it (the fixed per-task cost included).
    """
    from pyspark.sql import functions as F

    from ocr_wrapper_spark.operators import extract as ops
    from ocr_wrapper_spark.plans import partitioning
    from ocr_wrapper_spark.sources import cache as cache_tbl

    def branches():
        pages = spark.read.parquet(str(wl.data.pages))
        pages = partitioning.with_url_bucket(pages.withColumn("content_hash", F.sha2(F.col("html"), 256)))
        return cache_tbl.split_hits_misses(pages, cache_tbl.read_cache_or_none(spark, str(wl.cache)))

    variants = {
        "join": lambda: branches(),
        "misses": lambda: branches()[1:],
        "extract": lambda: [ops.with_extraction(branches()[1])],
    }
    out = {}
    for name, build in variants.items():
        walls = []
        for _ in range(reps):
            wl.reset()
            spark.sparkContext.setJobGroup(f"cache.{name}", f"perfbench ledger cache {name}")
            t0 = time.perf_counter()
            for df in build():
                df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        out[name] = median(walls)
        log(f"ledger cache {name}: {out[name]:.3f}s")
    return out


# ---------------------------------------------------------------------------
# kernels, in process
# ---------------------------------------------------------------------------


def kernel_sample(pages_dir: Path, per_dialect: int) -> dict[str, list[tuple[bytes, str]]]:
    """The first ``per_dialect`` payloads of each dialect, in table order."""
    t = pq.read_table(str(pages_dir), columns=["url", "html", "lang"]).to_pandas()
    ext = t["url"].str.rsplit(".", n=1).str[-1]
    return {
        d: list(zip(t.loc[ext == d, "html"].head(per_dialect), t.loc[ext == d, "lang"].head(per_dialect)))
        for d in DIALECTS
    }


def _extract_all(docs) -> None:
    from ocr_wrapper_spark.kernels import extract_doc

    for payload, lang in docs:
        extract_doc.extract_document(payload, lang).extracted_text


def kernel_ledger(sample: dict, reps: int = 3) -> dict:
    """ms/doc per dialect, phase self times, and the exact Python call
    count per document, single-threaded in this process."""
    docs = [d for ds in sample.values() for d in ds]
    n = len(docs)
    _extract_all(docs)  # warm the per-token caches the kernels keep
    per_dialect = {}
    for d, ds in sample.items():
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            _extract_all(ds)
            walls.append(time.perf_counter() - t0)
        per_dialect[d] = median(walls) * 1000 / max(1, len(ds))
    total_ms = sum(per_dialect[d] * len(ds) for d, ds in sample.items()) / n

    # phases and their total from the same executions: each document is a
    # span, so its self time is the code outside the named phases
    from ocr_wrapper_spark.kernels import extract_doc

    tracer = Tracer("kernels")
    with patched(tracer, kernel_targets()):
        for payload, lang in docs:
            with tracer.span("extract_document"):
                extract_doc.extract_document(payload, lang).extracted_text
    selfs = tracer.self_times()
    self_ms = {p: selfs.get(p, 0.0) * 1000 / n for p in PHASES}
    traced_ms = sum(tracer.durations("extract_document")) * 1000 / n

    calls = 0

    def count(frame, event, arg):
        nonlocal calls
        if event == "call":
            calls += 1

    sys.setprofile(count)
    try:
        _extract_all(docs)
    finally:
        sys.setprofile(None)
    return {"ms_per_doc": per_dialect, "total_ms": total_ms, "traced_ms": traced_ms,
            "self_ms": self_ms, "calls_per_doc": calls / n, "n": n}


# ---------------------------------------------------------------------------
# relational queries
# ---------------------------------------------------------------------------


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive value hash (the scripts/crosscheck.py idiom)."""
    df = df[sorted(df.columns)].copy()
    if df.empty:
        return hashlib.md5("|".join(df.columns).encode()).hexdigest()
    for c in df.columns:
        df[c] = df[c].map(lambda v: f"{v:.6g}" if isinstance(v, float) else str(v))
    rows = sorted("|".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
        if pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64").round(6)
    return out


def oracle_digests(sf_dir: Path) -> dict[str, str]:
    """DuckDB oracle digests for QUERIES, computed once per replica."""
    path = sf_dir / "oracle_digests.json"
    if path.exists():
        return json.loads(path.read_text())
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    digests = {q: value_hash(normalize(con.sql(oracles[q]).df())) for q in QUERIES}
    con.close()
    path.write_text(json.dumps(digests))
    return digests


def relational_ledger(spark, sf_dir: Path, digests: dict[str, str], queries) -> tuple[dict, int]:
    """One timed ``toPandas`` per query; returns (seconds, failures)."""
    import functools

    import __spark_entry__ as entry
    from ocr_wrapper_spark.sources import pages as pages_src

    qs = entry.queries()
    times, failed = {}, 0
    # the link-graph queries materialize a derived pages table; keep it in
    # the work directory instead of the program's /tmp default
    orig = pages_src.materialize_pages
    pages_src.materialize_pages = functools.partial(orig, base_dir=str(sf_dir / "derived"))
    try:
        for q in queries:
            spark.sparkContext.setJobGroup(f"q.{q}", f"perfbench ledger {q}")
            t0 = time.perf_counter()
            try:
                got = qs[q](spark, str(sf_dir)).toPandas()
                ok = value_hash(normalize(got)) == digests[q]
            except Exception as exc:  # a raising query counts as failed
                log(f"query {q} raised: {type(exc).__name__}: {exc}")
                ok = False
            times[q] = time.perf_counter() - t0
            spark.catalog.clearCache()
            failed += 0 if ok else 1
            log(f"ledger query {q}: {times[q]:.2f}s {'ok' if ok else 'FAILED'}")
    finally:
        pages_src.materialize_pages = orig
    return times, failed


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def task_counters(event_dir: Path, group: str, n_passes: int) -> dict[str, float]:
    """Per-pass task counters of the jobs in ``group``, from the
    SparkListenerJobStart / SparkListenerTaskEnd records."""
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    for f in event_dir.rglob("*"):
        if not f.is_file() or f.name.startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    mine = [t for t in tasks if stage_group.get(t["Stage ID"]) == group]
    run = cpu = sched = gc = rd = wr = spill = 0.0
    failed = 0
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        info, m = t["Task Info"], t.get("Task Metrics") or {}
        if (t.get("Task End Reason") or {}).get("Reason") != "Success":
            failed += 1
        dur = info["Finish Time"] - info["Launch Time"]
        grt = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
        r = m.get("Executor Run Time", 0)
        run += r
        cpu += m.get("Executor CPU Time", 0) / 1e6
        gc += m.get("JVM GC Time", 0)
        sched += max(0, dur - r - m.get("Executor Deserialize Time", 0)
                     - m.get("Result Serialization Time", 0) - grt)
        sr = m.get("Shuffle Read Metrics") or {}
        rd += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        wr += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Disk Bytes Spilled", 0)
        by_stage.setdefault(t["Stage ID"], []).append(dur)
    skew = max(
        (max(d) / max(1e-9, statistics.median(d)) for d in by_stage.values() if len(d) > 1),
        default=1.0,
    )
    k = max(1, n_passes)
    return {
        "spark.tasks": len(mine) / k,
        "spark.task_run_s": run / 1000 / k,
        "spark.task_cpu_s": cpu / 1000 / k,
        "spark.sched_delay_s": sched / 1000 / k,
        "spark.gc_s": gc / 1000 / k,
        "spark.shuffle_read_mb": rd / 1e6 / k,
        "spark.shuffle_write_mb": wr / 1e6 / k,
        "spark.spill_mb": spill / 1e6 / k,
        "spark.task_skew": skew,
        "spark.failed_tasks": failed / k,
    }


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def alternate_passes(spark, wl, tracer: Tracer, seconds: float):
    """Untraced and traced passes in turn, so that drift over the run
    falls on both; the traced ones run in the ``pass`` job group."""
    import run

    plain, traced = run.Measured(), run.Measured()

    def one_plain():
        spark.sparkContext.setJobGroup("plain", "perfbench untraced pass")
        plain.extend(run.timed_passes(wl, 0, "plain", min_passes=1))

    def one_traced():
        spark.sparkContext.setJobGroup("pass", "perfbench traced pass")
        wl.tracer = tracer
        try:
            with patched(tracer, pipeline_targets()):
                traced.extend(run.timed_passes(wl, 0, "traced", min_passes=1))
        finally:
            wl.tracer = None

    rounds = 0
    while sum(plain.pass_s) + sum(traced.pass_s) < seconds or rounds < 2:
        # ABBA order: a linear drift cancels over each two rounds
        for step in (one_plain, one_traced) if rounds % 2 == 0 else (one_traced, one_plain):
            step()
        rounds += 1
    return plain, traced


def traced_run(spec, data, work: Path, seconds: float, seed: int):
    import run
    import spark_session
    from extraction import Extraction

    run_id = f"{spec.name}-s{seed}-{uuid.uuid4().hex[:8]}"
    event_dir = work / "eventlog" / run_id
    tracer = Tracer(run_id)
    with tracer.span("session"):
        spark, samples = run.setups(work, 1, event_dir)
    start_s, warm_s = samples[0]
    attempted = failed = 0
    try:
        wl = Extraction(spark, spec, data, work)
        spark.sparkContext.setJobGroup("warm", "perfbench warm pass")
        # one warm pass: the ABBA order below cancels a linear drift, not
        # the first pass's one-off costs
        run.prepare_and_warm(wl, warm_passes=1)

        plain, traced = alternate_passes(spark, wl, tracer, seconds)
        attempted += plain.attempted + traced.attempted
        failed += plain.failed + traced.failed
        hits = wl.results_frame(["is_hit"])["is_hit"]
        metric_rows = pq.read_table(str(wl.metrics)).num_rows
        cache_written = inputs.dir_bytes(wl.cache) - (
            inputs.dir_bytes(wl.pristine) if spec.cached_frac > 0 else 0
        )

        chain = layer_chain(spark, data.pages, CHAIN_REPS)
        cj = cache_join_ledger(spark, wl, CHAIN_REPS) if spec.cached_frac > 0 else {}

        rel_times: dict[str, float] = {}
        if spec.replica_docs:
            sf_dir = inputs.replica(run.ROOT, work, seed, spec.replica_docs, spec.replica_docs * 2 // 5)
            rel_times, rel_failed = relational_ledger(spark, sf_dir, oracle_digests(sf_dir), QUERIES)
            attempted += len(QUERIES)
            failed += rel_failed
    finally:
        spark_session.stop(spark)
    kern = kernel_ledger(kernel_sample(data.pages, KERNEL_SAMPLE))
    tracer.dump(work / "trace" / f"{run_id}.jsonl")

    k = len(traced.pass_s)
    selfs = tracer.self_times()
    per_pass = {name: v / k for name, v in selfs.items()}
    spans_total = {
        name: sum(tracer.durations(name)) / k
        for name in ("sources.cache.append", "sources.metrics.append", "results.write")
    }
    L = {lv: chain[lv]["wall_s"] for lv in ("L0", "L1", "L2", "L3")}
    join_s = cj.get("join", 0.0)
    if cj:
        rows = [
            ("cache join pass (scan, hash, join)", join_s),
            ("arrow stage + kernels on the misses", cj["extract"] - cj["misses"]),
        ]
    else:
        rows = [
            ("scan (L0)", L["L0"]),
            ("partitioning (L1-L0)", L["L1"] - L["L0"]),
            ("arrow stage (L2-L1)", L["L2"] - L["L1"]),
            ("kernels (L3-L2)", L["L3"] - L["L2"]),
        ]
    rows += [
        ("cache append", spans_total["sources.cache.append"]),
        ("metrics append", spans_total["sources.metrics.append"]),
        ("results write", spans_total["results.write"]),
    ]
    traced_pass = median(traced.pass_s)
    explained = sum(v for _, v in rows)
    unexplained = traced_pass - explained
    kern_unexplained = kern["traced_ms"] - sum(kern["self_ms"].values())
    print_ledger(spec.name, rows, traced_pass, unexplained, kern, kern_unexplained)

    ext_ms = chain["extract_ms"]
    n = data.n_docs
    values = {
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "scan.pass_s": L["L0"],
        "scan.mb_per_s": data.payload_mb / L["L0"],
        "plans.partitioning.pass_s": L["L1"] - L["L0"],
        "operators.extract.arrow_pass_s": L["L2"] - L["L1"],
        "operators.extract.tasks": task_counters(event_dir, "L3", CHAIN_REPS)["spark.tasks"],
        "operators.extract.batches": chain["L2"]["batches"],
        "operators.extract.pass_s": L["L3"] - L["L2"],
        "operators.extract.cpu_ms_per_doc": (chain["L3"]["cpu_s"] - chain["L1"]["cpu_s"]) * 1000 / n,
        **{f"kernels.ms_per_doc.{d}": kern["ms_per_doc"][d] for d in DIALECTS},
        **{f"kernels.self_ms_per_doc.{p}": kern["self_ms"][p] for p in PHASES},
        "kernels.unexplained_ms_per_doc": kern_unexplained,
        "kernels.calls_per_doc": kern["calls_per_doc"],
        "kernels.doc_ms_p50": float(np.percentile(ext_ms, 50)),
        "kernels.doc_ms_p99": float(np.percentile(ext_ms, 99)),
        "sources.cache.join_pass_s": join_s,
        "sources.cache.hit_frac": float(hits.mean()),
        "sources.cache.lookups": float(len(hits)) if spec.cached_frac > 0 else 0.0,
        "sources.cache.append_s": spans_total["sources.cache.append"],
        "sources.cache.written_mb": cache_written / 1e6,
        "sources.metrics.append_s": spans_total["sources.metrics.append"],
        "sources.metrics.rows": float(metric_rows),
        "plans.pipeline.self_s": per_pass.get("plans.pipeline", 0.0),
        "results.write_s": spans_total["results.write"],
        **task_counters(event_dir, "pass", k),
        **{f"relational.query_s.{q}": rel_times.get(q, 0.0) for q in QUERIES},
        "ledger.untraced_pass_s": median(plain.pass_s),
        "ledger.traced_pass_s": traced_pass,
        "ledger.overhead_frac": traced_pass / median(plain.pass_s) - 1.0,
        "ledger.unexplained_s": unexplained,
    }
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit, _ in PER_LAYER}
    context = {
        "passes": {"untraced": len(plain.pass_s), "traced": k},
        "reconcile": {
            "pass": {"explained_s": explained, "traced_pass_s": traced_pass,
                     "unexplained_s": unexplained, "tolerance": RECONCILE_TOL["pass"],
                     "ok": abs(unexplained) <= RECONCILE_TOL["pass"] * traced_pass},
            "kernels": {"untraced_ms_per_doc": kern["total_ms"],
                        "traced_ms_per_doc": kern["traced_ms"],
                        "phase_sum_ms_per_doc": sum(kern["self_ms"].values()),
                        "unexplained_ms_per_doc": kern_unexplained,
                        "tolerance": RECONCILE_TOL["kernels"],
                        "ok": abs(kern_unexplained) <= RECONCILE_TOL["kernels"] * kern["traced_ms"]},
        },
        "kernel_sample_docs": kern["n"],
        "not_applicable": [
            name for name, _, _ in PER_LAYER
            if (name.startswith("relational.") and not rel_times)
            or (name in ("sources.cache.join_pass_s", "sources.cache.lookups") and spec.cached_frac == 0)
        ],
        "trace_file": str((work / "trace" / f"{run_id}.jsonl").relative_to(run.ROOT)),
    }
    return metrics, context, attempted, failed


def print_ledger(workload, rows, traced_pass, unexplained, kern, kern_unexplained) -> None:
    log(f"ledger {workload}: traced pass {traced_pass:.3f}s")
    for name, v in rows:
        log(f"  {name:<34} {v:8.3f}s {100 * v / traced_pass:6.1f}%")
    log(f"  {'unexplained':<34} {unexplained:8.3f}s {100 * unexplained / traced_pass:6.1f}%")
    log(f"kernels: {kern['traced_ms']:.3f} ms/doc traced in process over {kern['n']} docs "
        f"({kern['total_ms']:.3f} untraced)")
    for p, v in kern["self_ms"].items():
        log(f"  {p:<34} {v:8.4f}ms {100 * v / kern['traced_ms']:6.1f}%")
    log(f"  {'unexplained':<34} {kern_unexplained:8.4f}ms {100 * kern_unexplained / kern['traced_ms']:6.1f}%")
