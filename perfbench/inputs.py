"""Seeded input generation for the benchmark.

Everything the program reads is generated here, inside the benchmark's
work directory, before any timed region:

* ``documents``: a fixed base corpus shaped like the ``documents`` table
  of the test corpora (a 31-token vocabulary, 44-577 characters, five
  languages). The text of row ``i`` never changes; the seed only moves
  the doc ids by a multiple of 60, which keeps every dialect, checkbox,
  QR and rotation class share exact while moving the Zipf host draw.
* ``pages``: the program's own page builder
  (``ocr_wrapper_spark.sources.pages.build_page_rows``) over those
  documents, written as parquet shards.
* ``expected``: per url, the text, provider and rotation the
  ``pipeline_extract`` oracle predicts in closed form.
* ``replica``: ``documents`` plus an ``embeddings`` table for the
  relational queries of the traced ledger.

Each input set is built once per (workload, id offset, size, generator
source digest) and reused by later runs in the same checkout.
"""

from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
import os
import shutil
from dataclasses import dataclass
from multiprocessing import resource_tracker
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101  # base corpus; the run seed never changes it
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ID_STEP = 60  # lcm of the generator's dialect/checkbox/QR/rotation periods

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

_HERE = Path(__file__).resolve().parent


def generator_digest(root: Path) -> str:
    """Digest of every source file that shapes the generated bytes."""
    files = [
        _HERE / "inputs.py",
        root / "ocr_wrapper_spark/sources/pages.py",
        root / "ocr_wrapper_spark/kernels/layout.py",
        root / "ocr_wrapper_spark/kernels/order.py",
    ]
    h = hashlib.sha256()
    for f in files:
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def program_digest(root: Path) -> str:
    """Digest of the program's sources: results the program computed
    (the recrawl's cached extraction) are reused only by the same code."""
    h = hashlib.sha256()
    for f in sorted((root / "ocr_wrapper_spark").rglob("*.py")):
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def id_offset(seed: int) -> int:
    return ID_STEP * int(np.random.default_rng(seed).integers(0, 10**7))


def base_documents(n: int, offset: int) -> pd.DataFrame:
    """``n`` documents with ids ``offset .. offset + n - 1``."""
    rng = np.random.default_rng(GEN_SEED)
    n_chars = rng.integers(44, 578, size=n)
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    texts = []
    for k in n_chars:
        words = rng.choice(VOCAB, size=int(k) // 3 + 2)
        texts.append(" ".join(words)[: int(k)].rstrip())
    doc_ids = offset + np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{d % 20}" for d in doc_ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(n: int, offset: int) -> pd.DataFrame:
    """Unit-norm 64-d vectors in 10 loosely clustered labels."""
    rng = np.random.default_rng(GEN_SEED + 1)
    labels = rng.integers(0, 10, size=n)
    centroids = rng.normal(size=(10, 64))
    vecs = 0.3 * centroids[labels] + rng.normal(size=(n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": offset + np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )


def expected_outputs(docs: pd.DataFrame, urls: list[str]) -> pd.DataFrame:
    """The ``pipeline_extract`` oracle's closed-form columns per url."""
    d = docs["doc_id"].to_numpy()
    m5 = d % 5
    provider = np.where(
        m5 == 3, "pdf",
        np.where(m5 == 1, "json", np.where(m5 == 4, "hocr", np.where(d % 10 == 7, "textract", "html"))),
    )
    q = d // 5
    rotated = (m5 == 3) & (q % 2 == 0) & (docs["text"].to_numpy() != "")
    rotation = np.where(rotated, np.array([0, 90, 180, 270])[q % 4], 0).astype(np.int32)
    return pd.DataFrame(
        {"url": urls, "text": docs["text"].to_numpy(), "provider": provider, "rotation": rotation}
    )


def _build_chunk(args: tuple[pd.DataFrame, int]) -> pd.DataFrame:
    from ocr_wrapper_spark.sources.pages import build_page_rows

    docs, fat_pad = args
    return build_page_rows(docs, fat_pad)


def build_pages(docs: pd.DataFrame, fat_pad: int, procs: int) -> pd.DataFrame:
    step = -(-len(docs) // (procs * 4))
    chunks = [(docs.iloc[i : i + step], fat_pad) for i in range(0, len(docs), step)]
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        parts = pool.map(_build_chunk, chunks)
    finally:
        pool.terminate()
        pool.join()
    # the pool's semaphores started a resource tracker process: release
    # them, then stop and reap the tracker rather than leave it running
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    return pd.concat(parts, ignore_index=True)


def write_shards(pages: pd.DataFrame, out: Path, n_files: int) -> None:
    out.mkdir(parents=True)
    table = pa.Table.from_pandas(pages, schema=PAGES_SCHEMA, preserve_index=False)
    step = -(-len(pages) // n_files)
    for i, start in enumerate(range(0, len(pages), step)):
        pq.write_table(table.slice(start, step), out / f"part-{i:05d}.parquet")


def fingerprint(payloads: list[bytes]) -> dict:
    """Rows, payload bytes and a digest of the sorted content hashes: the
    same three numbers mean the same measured bytes."""
    hashes = sorted(hashlib.sha256(p).hexdigest() for p in payloads)
    return {
        "rows": len(payloads),
        "payload_bytes": int(sum(len(p) for p in payloads)),
        "content_digest": hashlib.sha256("\n".join(hashes).encode()).hexdigest()[:16],
    }


@dataclass(frozen=True)
class PageInputs:
    dir: Path
    pages: Path  # parquet shard directory read by the timed passes
    expected: pd.DataFrame  # url, text, provider, rotation, content_hash
    changed: pd.DataFrame  # rows of ``expected`` the seed marks as changed
    meta: dict
    program_digest: str

    @property
    def n_docs(self) -> int:
        return self.meta["fingerprint"]["rows"]

    @property
    def payload_mb(self) -> float:
        return self.meta["fingerprint"]["payload_bytes"] / 1e6

    def fingerprint(self) -> dict:
        fp = dict(self.meta["fingerprint"])
        if len(self.changed):
            fp["changed_rows"] = len(self.changed)
            fp["changed_digest"] = hashlib.sha256(
                "\n".join(sorted(self.changed["content_hash"])).encode()
            ).hexdigest()[:16]
        return fp


def page_inputs(root: Path, work: Path, spec, seed: int, procs: int) -> PageInputs:
    """The pages of ``spec`` for ``seed``. With ``spec.offset_choices`` set,
    the seed picks one of that many id offsets, so a checkout builds at
    most that many page tables; the changed set always follows the seed."""
    offset_seed = seed % spec.offset_choices if spec.offset_choices else seed
    offset = id_offset(offset_seed)
    key = (f"{spec.name}-n{spec.n_docs}-f{spec.fat_pad}-p{spec.n_files}-o{offset}"
           f"-{generator_digest(root)}")
    d = work / "inputs" / key
    if not (d / "meta.json").exists():
        _evict(work / "inputs", prefix=f"{spec.name}-", keep=max(2, spec.offset_choices))
        shutil.rmtree(d, ignore_errors=True)
        docs = base_documents(spec.n_docs, offset)
        pages = build_pages(docs, spec.fat_pad, procs)
        write_shards(pages, d / "pages", spec.n_files)
        expected = expected_outputs(docs, pages["url"].tolist())
        expected["content_hash"] = [hashlib.sha256(p).hexdigest() for p in pages["html"]]
        expected.to_parquet(d / "expected.parquet")
        meta = {"workload": spec.name, "id_offset": offset, "fat_pad": spec.fat_pad,
                "fingerprint": fingerprint(pages["html"].tolist())}
        tmp = d / "meta.json.tmp"
        tmp.write_text(json.dumps(meta))
        tmp.rename(d / "meta.json")
    meta = json.loads((d / "meta.json").read_text())
    expected = pd.read_parquet(d / "expected.parquet")
    n_changed = round(spec.n_docs * (1.0 - spec.cached_frac)) if spec.cached_frac else 0
    picked = np.random.default_rng(seed).choice(spec.n_docs, size=n_changed, replace=False)
    return PageInputs(
        dir=d,
        pages=d / "pages",
        expected=expected,
        changed=expected.iloc[np.sort(picked)],
        meta=meta,
        program_digest=program_digest(root),
    )


def replica(root: Path, work: Path, seed: int, n_docs: int, n_vecs: int) -> Path:
    """An id-remapped ``documents`` + ``embeddings`` directory in the
    layout the registered queries read (``<dir>/<table>.parquet``). The
    directory name carries seed and digest: the program keys its own
    derived page tables on that name."""
    d = work / "inputs" / f"replica-n{n_docs}-s{seed}-{generator_digest(root)}"
    if not (d / "_SUCCESS").exists():
        _evict(work / "inputs", prefix="replica-", keep=2)
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        off = id_offset(seed)
        base_documents(n_docs, off).to_parquet(d / "documents.parquet", index=False)
        embeddings(n_vecs, off).to_parquet(d / "embeddings.parquet", index=False)
        (d / "_SUCCESS").touch()
    return d


def _evict(base: Path, prefix: str, keep: int) -> None:
    """Bound disk use: keep only the newest ``keep`` input sets per prefix."""
    if not base.is_dir():
        return
    sets = sorted(
        (p for p in base.iterdir() if p.name.startswith(prefix)),
        key=lambda p: p.stat().st_mtime,
    )
    for p in sets[: max(0, len(sets) - keep)]:
        shutil.rmtree(p, ignore_errors=True)


def dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
