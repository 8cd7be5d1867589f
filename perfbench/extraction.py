"""The extraction workloads: one timed pass is one ``run_extraction`` over
the pages table plus its results write, with the cache and metrics
tables set as in ``scripts/extract_job.py``.

* ``crawl_cold`` starts every pass from an empty cache: the pipeline
  skips the cache join and every page goes through the kernels.
* ``recrawl_fat`` starts every pass from a pristine cache that holds 90%
  of the pages' content hashes, built beforehand by the program from the
  same crawl; only the seed-chosen changed 10% reach the kernels.
"""

from __future__ import annotations

import contextlib
import shutil
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import inputs


@dataclass(frozen=True)
class Spec:
    name: str
    n_docs: int  # a multiple of inputs.ID_STEP keeps class shares exact
    fat_pad: int  # extra payload bytes per page (sources/pages.py knob)
    n_files: int  # parquet shards of the pages table
    cached_frac: float  # share of content hashes in the pristine cache
    replica_docs: int  # traced run: documents of the relational replica (0: none)
    offset_choices: int  # 0: the seed picks any id offset; k: one of k offsets


# The fat pages and their fully cached extraction take ~15 s to build:
# recrawl_fat draws its id offset from 4 choices so that a checkout builds
# them at most 4 times; its changed 10% still follows the seed.
SPECS = {
    "crawl_cold": Spec("crawl_cold", 4800, 0, 16, 0.0, 5000, 0),
    "recrawl_fat": Spec("recrawl_fat", 2400, 65_000, 12, 0.9, 0, 4),
}
# sf0.001-sized inputs for the self-test
TINY = {
    "crawl_cold": Spec("crawl_cold", 240, 0, 4, 0.0, 500, 0),
    "recrawl_fat": Spec("recrawl_fat", 120, 65_000, 4, 0.9, 0, 4),
}

RESULT_CHECK_COLS = ["url", "extracted_text", "provider", "doc_rotation", "error"]


def count_failures(expected: pd.DataFrame, got: pd.DataFrame) -> int:
    """Failed urls of one pass: missing, duplicated or unexpected urls,
    text that differs from ``documents.text`` in any byte, a provider or
    rotation other than the oracle's closed-form rule, or an error."""
    dup = got["url"][got["url"].duplicated(keep=False)]
    got1 = got.drop_duplicates("url")
    m = expected.merge(got1, on="url", how="left", indicator=True)
    bad = (
        (m["_merge"] != "both")
        | m["url"].isin(dup)
        | (m["extracted_text"] != m["text"])
        | (m["provider"] != m["provider_exp"])
        | (m["doc_rotation"] != m["rotation"])
        | m["error"].notna()
    )
    unexpected = (~got1["url"].isin(expected["url"])).sum()
    return int(bad.sum() + unexpected)


class Extraction:
    """Tables, reset and check for one extraction workload in one run."""

    def __init__(self, spark, spec: Spec, data: inputs.PageInputs, work: Path):
        self.spark = spark
        self.spec = spec
        self.data = data
        self.state = work / "state" / spec.name
        self.results = self.state / "results"
        self.cache = self.state / "cache"
        self.metrics = self.state / "metrics"
        self.pristine = work / "state" / f"{spec.name}-pristine"
        self._expected = data.expected.rename(columns={"provider": "provider_exp"})
        self.tracer = None  # a ledger.Tracer while the traced passes run

    def prepare(self) -> bool:
        """Recrawl only: build the fully cached extraction of the pages
        once per input set, then the seed's pristine cache from it, with
        the changed pages' content hashes left out. True when the full
        extraction was built now."""
        if self.spec.cached_frac == 0.0:
            return False
        from ocr_wrapper_spark.plans import pipeline

        full = self.data.dir / f"cache_full-{self.data.program_digest}"
        built = not (full / "_READY").exists()
        if built:
            shutil.rmtree(full, ignore_errors=True)
            pages = self.spark.read.parquet(str(self.data.pages))
            # with a cache path set, run_extraction extracts and appends eagerly
            pipeline.run_extraction(self.spark, pages, cache_path=str(full))
            (full / "_READY").touch()
        shutil.rmtree(self.pristine, ignore_errors=True)
        table = pads.dataset(str(full), format="parquet").to_table()
        changed = pa.array(self.data.changed["content_hash"])
        (self.pristine / "snap-base").mkdir(parents=True)
        pq.write_table(
            table.filter(pc.invert(pc.is_in(table["content_hash"], changed))),
            self.pristine / "snap-base" / "part-00000.parquet",
        )
        return built

    def reset(self) -> None:
        for d in (self.results, self.metrics, self.cache):
            shutil.rmtree(d, ignore_errors=True)
        self.state.mkdir(parents=True, exist_ok=True)
        if self.spec.cached_frac > 0.0:
            shutil.copytree(self.pristine, self.cache)
        # a full collection, so that every pass starts from the same JVM
        # heap and its peak memory does not depend on earlier passes' garbage
        self.spark.sparkContext._jvm.java.lang.System.gc()

    def run(self, pages_dir: Path, run_id: str):
        """One pass; returns the result frame the pass wrote."""
        from ocr_wrapper_spark.plans import pipeline

        pages = self.spark.read.parquet(str(pages_dir))
        result = pipeline.run_extraction(
            self.spark,
            pages,
            cache_path=str(self.cache),
            metrics_path=str(self.metrics),
            run_id=run_id,
        )
        span = self.tracer.span("results.write") if self.tracer else contextlib.nullcontext()
        with span:
            result.write.mode("overwrite").parquet(str(self.results))
        return result

    def written_bytes(self) -> int:
        cache = inputs.dir_bytes(self.cache)
        if self.spec.cached_frac > 0.0:
            cache -= inputs.dir_bytes(self.pristine)
        return inputs.dir_bytes(self.results) + cache + inputs.dir_bytes(self.metrics)

    def results_frame(self, columns: list[str] | None = None) -> pd.DataFrame:
        return pq.read_table(str(self.results), columns=columns or RESULT_CHECK_COLS).to_pandas()

    def failures(self) -> int:
        return count_failures(self._expected, self.results_frame())
