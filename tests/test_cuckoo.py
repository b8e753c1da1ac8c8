"""Cuckoo-filter seen segments: unit + property tests, SeenStore drop-in
equivalence, and crawl parity with the Bloom backend (north_star names
'Bloom/cuckoo-filter URL-seen set' — both are first-class)."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fraudcrawler_spark.frontier.bloom import segments_from_pdf, segments_to_pdf
from fraudcrawler_spark.frontier.cuckoo import CuckooSegment
from fraudcrawler_spark.frontier.seen import SeenStore


def test_cuckoo_add_contains_fp_rate():
    seg = CuckooSegment(capacity=1000)
    urls = [f"https://shop{i}.ch/p{i:06d}" for i in range(800)]
    seg.add_many(urls)
    assert seg.contains_many(urls).all()
    others = [f"https://other{i}.ch/x{i}" for i in range(1000)]
    fp = seg.contains_many(others).mean()
    assert fp < 0.02  # 16-bit fingerprints ⇒ ~2·4/2^16 ≈ 0.01%


def test_cuckoo_delete():
    """The capability Bloom lacks: retract urls without a rebuild."""
    seg = CuckooSegment(capacity=256)
    urls = [f"u{i}" for i in range(100)]
    seg.add_many(urls)
    deleted = seg.delete_many(urls[:50])
    assert deleted.all()
    assert not seg.contains_many(urls[:50]).any()  # no residue (exact delete)
    assert seg.contains_many(urls[50:]).all()      # survivors intact


def test_cuckoo_serialization_roundtrip():
    seg = CuckooSegment(capacity=300)
    urls = [f"https://s.ch/{i}" for i in range(250)]
    seg.add_many(urls)
    pdf = segments_to_pdf({5: seg})
    assert int(pdf["n_hashes"].iloc[0]) == -1  # cuckoo sentinel in the schema
    back = segments_from_pdf(pdf)[5]
    assert isinstance(back, CuckooSegment)
    assert back.contains_many(urls).all()
    assert (back.table == seg.table).all() and back.stash == seg.stash


def test_cuckoo_overload_never_drops():
    """Past design load the filter stashes instead of dropping — FP rate
    may degrade, false negatives never appear (exactness contract)."""
    seg = CuckooSegment(capacity=64)
    urls = [f"x{i}" for i in range(400)]  # ~6x over capacity
    seg.add_many(urls)
    assert seg.contains_many(urls).all()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=50))
def test_cuckoo_no_false_negatives(urls):
    seg = CuckooSegment(capacity=64)
    seg.add_many(urls)
    assert seg.contains_many(urls).all()


def test_seen_store_cuckoo_exactness(spark):
    store = SeenStore(spark, partitions=8, capacity_per_part=256,
                      filter_kind="cuckoo")
    seen_urls = [f"https://s.ch/p{i:06d}" for i in range(300)]
    store.add(spark.createDataFrame(pd.DataFrame({"url": seen_urls})))
    probe = [f"https://s.ch/p{i:06d}" for i in range(200, 600)]
    got = {
        r[0]
        for r in store.filter_new(
            spark.createDataFrame(pd.DataFrame({"url": probe}))
        ).collect()
    }
    assert got == set(probe) - set(seen_urls)


def test_cuckoo_fp_claim_owns_fingerprint_copy(spark):
    """A filter-positive url that the exact confirm proves NEW must be
    claimed into the cuckoo segments too (its own fingerprint copy):
    otherwise deleting the colliding member would flip it filter-negative
    → duplicate claim. (Bloom skips this — re-setting set bits is a no-op.)"""
    import zlib

    store = SeenStore(spark, partitions=2, capacity_per_part=128,
                      filter_kind="cuckoo")
    url = "https://s.ch/fp-victim"
    store.add(spark.createDataFrame(pd.DataFrame({"url": [url]})))
    # keep the segments, wipe the exact table: the url now probes as a
    # guaranteed "false positive" (filter-positive, exactly-unseen)
    store.load(store.segments.localCheckpoint(), None)
    claimed = store.probe_and_claim(
        spark.createDataFrame(pd.DataFrame({"url": [url]}))
    )
    # exact confirm says new → claimed
    assert claimed.where("claimed").count() == 1
    seg = segments_from_pdf(store.segments.toPandas())[
        zlib.crc32(url.encode()) % 2
    ]
    # two copies now (seed + claim): deleting one keeps membership
    assert seg.delete_many([url]).all()
    assert seg.contains_many([url]).all()


def test_retire_deletes_each_url_once(spark):
    """A url repeated in one retire() call loses ONE fingerprint copy: a
    second delete would remove the copy some colliding member owns."""
    import zlib

    store = SeenStore(spark, partitions=2, capacity_per_part=128,
                      filter_kind="cuckoo")
    url = "https://s.ch/twice"
    one = spark.createDataFrame(pd.DataFrame({"url": [url]}))
    store.add(one)
    store.add(one)  # two copies
    store.retire(spark.createDataFrame(pd.DataFrame({"url": [url, url]})))
    seg = segments_from_pdf(store.segments.toPandas())[
        zlib.crc32(url.encode()) % 2
    ]
    assert seg.contains_many([url]).all()
    assert seg.delete_many([url]).all()
    assert not seg.contains_many([url]).any()


def test_crawl_cuckoo_matches_bloom(spark, corpus_dir, tmp_path_factory):
    """Same crawl, both seen backends → identical results + seen sets
    (backend choice is an implementation detail of the exact seen-set
    contract); manifest records the kind for resume."""
    from fraudcrawler_spark.config import CrawlConfig
    from fraudcrawler_spark.frontier.crawl import run_crawl

    roots = {}
    for kind in ("bloom", "cuckoo"):
        cfg = CrawlConfig(host_budget=8, max_depth=2, seen_filter_kind=kind)
        root = str(tmp_path_factory.mktemp(f"crawl_{kind}"))
        roots[kind] = run_crawl(spark, corpus_dir, root, cfg, max_rounds=3)

    last_b = roots["bloom"].read_manifest()["last_round"]
    last_c = roots["cuckoo"].read_manifest()["last_round"]
    assert last_b == last_c
    assert roots["cuckoo"].read_manifest()["seen_filter_kind"] == "cuckoo"

    seen_b = {r[0] for r in roots["bloom"].read_all("seen", last_b).select("url").collect()}
    seen_c = {r[0] for r in roots["cuckoo"].read_all("seen", last_c).select("url").collect()}
    assert seen_b == seen_c

    res_b = sorted(
        (r["round"], r["url"]) for r in
        roots["bloom"].read_all("results", last_b).select("round", "url").collect()
    )
    res_c = sorted(
        (r["round"], r["url"]) for r in
        roots["cuckoo"].read_all("results", last_c).select("round", "url").collect()
    )
    assert res_b == res_c
