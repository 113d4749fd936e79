"""Benchmark inputs: a planted-cluster corpus from `synth.generate_corpus`,
cached by (seed, size), plus the url-hash split the incremental workload
uses.

The generator is pure (same seed and size give byte-identical files), so
caching its output is safe. Nothing the pipeline writes is ever cached here.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

#: delta batches held out of the incremental base, each 1% of the corpus
HELD_OUT_BATCHES = 10


@dataclass
class Inputs:
    docs: int
    pages: str
    base: str
    deltas: list[str]
    delta_docs: int
    #: url -> planted cluster (negative ids are singletons)
    truth_map: dict[str, int] = field(default_factory=dict)
    #: (url1, url2, label) ground-truth pairs
    label_rows: list[tuple[str, str, bool]] = field(default_factory=list)


def _url_hash(url: str) -> bytes:
    return hashlib.blake2b(url.encode(), digest_size=8).digest()


def _generate(out: Path, seed: int, docs: int) -> None:
    from dig_entity_resolution_spark.synth import generate_corpus

    n_clusters = max(1, docs // 8)
    generate_corpus(
        str(out),
        n_clusters=n_clusters,
        cluster_size=4,
        n_singletons=max(0, docs - 4 * n_clusters),
        seed=seed,
    )
    # url-hash split: the HELD_OUT_BATCHES * batch urls with the smallest
    # hash form the delta batches, in hash order; the rest is the base
    pages = pq.read_table(out / "pages.parquet")
    urls = pages.column("url").to_pylist()
    batch = max(1, len(urls) // 100)
    held = sorted(urls, key=_url_hash)[: batch * HELD_OUT_BATCHES]
    which = {u: i // batch for i, u in enumerate(held)}
    in_base = pa.array([u not in which for u in urls])
    pq.write_table(pages.filter(in_base), out / "base.parquet")
    for k in range(HELD_OUT_BATCHES):
        mask = pa.array([which.get(u) == k for u in urls])
        pq.write_table(pages.filter(mask), out / f"delta_{k:02d}.parquet")


def load_inputs(cache_root: Path, seed: int, docs: int) -> Inputs:
    """Generate (or reuse) the corpus for (seed, docs) under cache_root."""
    key = f"seed{seed}_docs{docs}_held{HELD_OUT_BATCHES}"
    d = cache_root / key
    if not (d / "_COMPLETE").exists():
        tmp = cache_root / f".{key}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        tmp.mkdir(parents=True)
        _generate(tmp, seed, docs)
        (tmp / "_COMPLETE").touch()
        os.replace(tmp, d)
    truth = pq.read_table(d / "truth.parquet").to_pydict()
    labels = pq.read_table(d / "labels.parquet").to_pydict()
    deltas = sorted(str(p) for p in d.glob("delta_*.parquet"))
    return Inputs(
        docs=len(truth["url"]),
        pages=str(d / "pages.parquet"),
        base=str(d / "base.parquet"),
        deltas=deltas,
        delta_docs=pq.read_metadata(deltas[0]).num_rows,
        truth_map=dict(zip(truth["url"], truth["true_cluster"])),
        label_rows=list(zip(labels["url1"], labels["url2"], labels["label"])),
    )
