"""Kernel probes with numpy only, no Spark: the seen-filter segments and the
extract kernel, so their numbers isolate the kernel from the engine."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# the engine's default seen_capacity_per_part: one segment at design load
FILTER_KEYS = 1 << 16
EXTRACT_DOCS = 2000
EXTRACT_BATCH = 500
REPS = 3


def _timed(fn, *args) -> tuple[float, object]:
    t = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t, out


def filter_probe(seed: int, n_keys: int = FILTER_KEYS) -> tuple[dict, list[str]]:
    """ns/key of add / contains (/ delete) on pre-hashed keys, and the
    segment's bytes per key, for one Bloom and one cuckoo segment sized for
    ``n_keys``. ``contains`` probes the members plus as many non-members."""
    from fraudcrawler_spark.frontier.bloom import BloomSegment
    from fraudcrawler_spark.frontier.cuckoo import CuckooSegment

    rng = np.random.default_rng(seed)
    keys = np.frombuffer(rng.bytes(8 * n_keys), dtype=np.uint64)
    probe = np.concatenate(
        [keys, np.frombuffer(rng.bytes(8 * n_keys), dtype=np.uint64)])
    errors: list[str] = []
    times: dict[str, list[float]] = {}
    sizes: dict[str, float] = {}
    for kind, cls in (("bloom", BloomSegment), ("cuckoo", CuckooSegment)):
        for _ in range(REPS):
            seg = cls(n_keys)
            dt, _ = _timed(seg.add_hashed, keys)
            times.setdefault(f"{kind}.add", []).append(dt / n_keys)
            dt, hit = _timed(seg.contains_hashed, probe)
            times.setdefault(f"{kind}.contains", []).append(dt / len(probe))
            if not hit[:n_keys].all():
                errors.append(f"{kind} segment lost a member (false negative)")
            if kind == "cuckoo":
                dt, gone = _timed(seg.delete_hashed, keys)
                times.setdefault("cuckoo.delete", []).append(dt / n_keys)
                if not gone.all():
                    errors.append("cuckoo delete missed a member")
        table = seg.bits if kind == "bloom" else seg.table
        sizes[f"{kind}.bytes_per_key"] = table.nbytes / n_keys
    out = {f"{k}_ns_per_key": statistics.median(v) * 1e9
           for k, v in times.items()}
    out.update(sizes)
    return out, sorted(set(errors))


def extract_probe(corpus_dir: str) -> tuple[dict, list[str]]:
    """µs/doc of the extract kernel's Python body (``extract_listing.func``)
    on a fixed, evenly strided sample of corpus HTML, in batches."""
    from fraudcrawler_spark.functions.extract import extract_listing

    pages = pq.read_table(f"{corpus_dir}/pages.parquet",
                          columns=["url", "html", "text"]).to_pandas()
    pages = pages.sort_values("url", kind="stable").reset_index(drop=True)
    step = max(1, len(pages) // EXTRACT_DOCS)
    sample = pages.iloc[::step].head(EXTRACT_DOCS).reset_index(drop=True)
    batches = [sample["html"].iloc[i:i + EXTRACT_BATCH].reset_index(drop=True)
               for i in range(0, len(sample), EXTRACT_BATCH)]
    per_doc = []
    out = None
    for _ in range(REPS):
        t = time.perf_counter()
        out = [extract_listing.func(b) for b in batches]
        per_doc.append((time.perf_counter() - t) / len(sample))
    text = pd.concat(out, ignore_index=True)["extracted_text"]
    errors = []
    if not (text == sample["text"]).all():
        errors.append("extract kernel: extracted_text differs from pages.text")
    return {"extract.us_per_doc": statistics.median(per_doc) * 1e6}, errors
