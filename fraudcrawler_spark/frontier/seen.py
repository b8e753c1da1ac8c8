"""Distributed URL-seen store: crc32-partitioned Bloom segments + exact table.

Replaces the reference's single-threaded in-memory set collector
(orchestrator.py:92-93,150-188). Partitioning uses ``crc32(url) % P`` —
computed natively in Spark (F.crc32) and identically in Python
(zlib.crc32), so the trace simulator and the engine agree bit-for-bit
and no per-row Python is needed for routing.

Probe path (per round):
  candidates → part = crc32(url)%P, h1 = xxhash64(url) (both JVM columns —
  the Arrow kernels never hash a url in Python) → cogroup with Bloom
  segments →
  definite-new (Bloom negative) short-circuits; Bloom positives are
  confirmed with an exact anti-join against the persisted seen table
  (FPs can never drop a URL — north_rule exactness).
Update path: claimed urls cogroup-merged into per-partition segments
(one task per segment), urls appended to the seen table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fraudcrawler_spark.frontier.bloom import (
    new_segment,
    segments_from_pdf,
    series_u64,
)

SEG_SCHEMA = StructType(
    [
        StructField("part", IntegerType()),
        StructField("capacity", LongType()),
        StructField("n_hashes", IntegerType()),
        StructField("n_items", LongType()),
        StructField("bitmap", BinaryType()),
    ]
)


def with_part(df: DataFrame, partitions: int, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "part", F.pmod(F.crc32(F.col(url_col)), F.lit(partitions)).cast("int")
    )


def with_part_hash(df: DataFrame, partitions: int,
                   url_col: str = "url") -> DataFrame:
    """part for routing + h1 = xxhash64(url) for segment membership — both
    computed JVM-side so the Arrow kernels never hash a url in Python."""
    return with_part(df, partitions, url_col).withColumn(
        "h1", F.xxhash64(F.col(url_col))
    )


class SeenStore:
    """Bloom segments (small DF, one row per partition) + exact url table."""

    def __init__(
        self,
        spark: SparkSession,
        partitions: int = 32,
        capacity_per_part: int = 1 << 16,
        filter_kind: str = "bloom",
    ):
        """filter_kind: 'bloom' (default) or 'cuckoo' — same probe/claim
        semantics (negatives definite, positives exact-confirmed); cuckoo
        additionally supports deletion (frontier/cuckoo.py). Persisted
        segment rows self-describe their kind, so a resume reads either."""
        self.spark = spark
        self.partitions = partitions
        self.capacity_per_part = capacity_per_part
        self.filter_kind = filter_kind
        self._segments: DataFrame | None = None  # (part, capacity, n_hashes, bitmap)
        self._seen: DataFrame | None = None  # (part, url)

    def _by_segment(self, rows: DataFrame, segments: DataFrame, kernel,
                    schema: StructType) -> DataFrame:
        """Full cogroup of ``rows`` with ``segments`` on ``part``, the kernel
        called once per segment. Both sides are hash-partitioned over an
        explicit partition count — one task per core, at most one per
        segment. Left to adaptive execution, the small segment shuffle is
        coalesced into ONE Python task that runs every segment's kernel
        call back to back."""
        n = max(1, min(self.partitions,
                       self.spark.sparkContext.defaultParallelism))
        return (
            rows.repartition(n, "part").groupBy("part")
            .cogroup(segments.repartition(n, "part").groupBy("part"))
            .applyInPandas(kernel, schema)
        )

    # -- state I/O ---------------------------------------------------------
    def load(self, segments: DataFrame | None, seen: DataFrame | None) -> None:
        self._segments = segments
        self._seen = seen

    @property
    def segments(self) -> DataFrame | None:
        return self._segments

    @property
    def seen(self) -> DataFrame | None:
        return self._seen

    # -- probe -------------------------------------------------------------
    def probe(self, urls: DataFrame, url_col: str = "url",
              assume_unique: bool = False) -> DataFrame:
        """→ (url, [input columns,] maybe_seen). Filter-negative ⇒
        definitely new.

        assume_unique=True skips the defensive distinct() — callers whose
        input is unique by construction (frontier rows, groupBy-url
        candidates) save a full shuffle of the probe set per call, which
        at 10^10-url rounds is the single biggest avoidable exchange —
        and carries the input's other columns through, so the caller
        needs no join back to its rows."""
        if assume_unique:
            extra = [c for c in urls.columns if c not in (url_col, "url")]
            sel = urls.select(F.col(url_col).alias("url"), *extra)
        else:
            sel = urls.select(F.col(url_col).alias("url")).distinct()
        cand = with_part_hash(sel, self.partitions)
        if self._segments is None:
            return sel.withColumn("maybe_seen", F.lit(False))
        out_schema = StructType(
            [StructField(f.name, f.dataType, True) for f in sel.schema.fields]
            + [StructField("maybe_seen", BooleanType())]
        )
        out_cols = out_schema.fieldNames()

        def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(columns=out_cols)
            out = left.drop(columns=["part", "h1"])
            if right.empty:
                out["maybe_seen"] = False
            else:
                seg = segments_from_pdf(right)[int(right["part"].iloc[0])]
                # h1 is the JVM xxhash64 column — membership is pure numpy
                out["maybe_seen"] = seg.contains_hashed(series_u64(left["h1"]))
            return out[out_cols]

        return self._by_segment(cand, self._segments, _probe, out_schema)

    def filter_new(self, urls: DataFrame, url_col: str = "url",
                   assume_unique: bool = False) -> DataFrame:
        """Exact set of urls NOT in the seen store (filter probe + exact
        confirm join); with assume_unique, the input rows themselves.

        The probe output feeds two consumers (the filter-negatives, and
        the positives' exact confirm), so it is materialized once
        (localCheckpoint) — left lazy, each consumer re-ran the whole
        probe subtree: the cogroup Python pass and everything upstream
        of it. Its positive count is observed on that materialization; a
        probe with no positive skips the confirm, and its scan of the
        seen history, entirely."""
        probed = self.probe(urls, url_col, assume_unique=assume_unique)
        if self._seen is None:
            return probed.drop("maybe_seen")
        obs = Observation()
        probed = probed.observe(
            obs, F.count(F.when(F.col("maybe_seen"), 1)).alias("n")
        ).localCheckpoint()
        negatives = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
        if not obs.get["n"]:
            return negatives
        positives = probed.where(F.col("maybe_seen")).drop("maybe_seen")
        confirmed_new = positives.join(
            self._seen.select("url"), "url", "left_anti"
        )
        return negatives.unionByName(confirmed_new)

    # -- fused probe + claim -------------------------------------------------
    def probe_and_claim(self, urls: DataFrame, url_col: str = "url") -> DataFrame:
        """ONE cogroup pass over (urls ⨝ segments): filter-negative urls
        are definitely new — claimed into the segment immediately;
        filter-positives are exact-confirmed against the seen table.
        Confirmed false positives are appended to the exact seen table
        only (Bloom: re-adding them to the bitmap would set already-set
        bits — a no-op skipped entirely); the deletion-capable cuckoo
        backend additionally claims them into the segments in a tiny
        second pass so every member owns its own fingerprint copy.

        Input urls must be unique and may carry extra passthrough
        columns (e.g. is_blocked, the frontier row). Returns the input
        rows (url + passthroughs) with a boolean ``claimed``: True for
        the urls this call claimed, False for those the exact seen table
        already holds — so a caller needs no join back to its rows to
        split the two. Updates ``self._segments`` (caller persists).
        Halves the shuffle and Python-pass count of the old
        probe-then-merge round path.
        The filter-positive count is observed on the cogroup's
        materialization: a round whose probe yields no positive skips the
        exact confirm — and its scan of the seen history — entirely.
        """
        extra_cols = [c for c in urls.columns if c != url_col]
        inp = with_part_hash(
            urls.select(F.col(url_col).alias("url"), *extra_cols), self.partitions
        )
        cap, kind = self.capacity_per_part, self.filter_kind

        out_fields = [StructField("kind", StringType()), StructField("url", StringType())]
        # passthroughs must be NULLABLE: segment rows carry null there even
        # when the input column was non-nullable (e.g. lit(False))
        out_fields += [
            StructField(c, inp.schema[c].dataType, True) for c in extra_cols
        ]
        out_fields += [
            StructField("part", IntegerType()),
            StructField("capacity", LongType()),
            StructField("n_hashes", IntegerType()),
            StructField("n_items", LongType()),
            StructField("bitmap", BinaryType()),
        ]
        out_schema = StructType(out_fields)
        out_cols = [f.name for f in out_fields]

        def _fused(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            part = int(left["part"].iloc[0]) if not left.empty else int(right["part"].iloc[0])
            if right.empty:
                seg, n_items = new_segment(kind, cap), 0
            else:
                seg = segments_from_pdf(right)[part]
                n_items = int(right["n_items"].iloc[0]) if "n_items" in right else 0
            seg_row = pd.DataFrame(
                {"kind": ["seg"], "url": [None],
                 **{c: [None] for c in extra_cols},
                 "part": [part], "capacity": [seg.capacity],
                 "n_hashes": [seg.n_hashes], "n_items": [n_items],
                 "bitmap": [seg.to_bytes()]}
            )
            if left.empty:
                return seg_row[out_cols]
            # column-wise construction + JVM-hashed membership — zero
            # per-url Python on the hot path (this kernel sees every
            # scheduled url per round)
            h1 = series_u64(left["h1"])
            hit = seg.contains_hashed(h1)
            n_new = int((~hit).sum())
            if n_new:
                seg.add_hashed(h1[~hit])
                n_items += n_new
                seg_row.loc[:, "n_items"] = n_items
                seg_row.loc[:, "bitmap"] = [seg.to_bytes()]
            url_part = pd.DataFrame(
                {"kind": np.where(hit, "maybe", "new"),
                 "url": left["url"].to_numpy(),
                 **{c: left[c].to_numpy() for c in extra_cols},
                 "part": None, "capacity": None, "n_hashes": None,
                 "n_items": None, "bitmap": None}
            )
            return pd.concat([url_part[out_cols], seg_row[out_cols]],
                             ignore_index=True)

        seg_df = self._segments
        if seg_df is None:
            seg_df = self.spark.createDataFrame([], SEG_SCHEMA)
        maybe_obs = Observation()
        fused = (
            self._by_segment(inp, seg_df, _fused, out_schema)
            .observe(maybe_obs,
                     F.count(F.when(F.col("kind") == "maybe", 1)).alias("n"))
        ).localCheckpoint()

        self._segments = fused.where(F.col("kind") == "seg").select(
            "part", "capacity", "n_hashes", "n_items", "bitmap"
        )
        definite_new = fused.where(F.col("kind") == "new").select("url", *extra_cols)
        new_all = definite_new
        confirmed_new = dups = None
        if maybe_obs.get["n"]:
            maybe = fused.where(F.col("kind") == "maybe").select("url", *extra_cols)
            unseen = maybe
            if self._seen is not None:
                seen_urls = self._seen.select("url")
                unseen = maybe.join(seen_urls, "url", "left_anti")
                dups = maybe.join(seen_urls, "url", "left_semi")
            # materialized once: the confirm scans the seen history, and
            # the claimed rows feed several consumers downstream
            fp_obs = Observation()
            confirmed_new = unseen.observe(
                fp_obs, F.count(F.lit(1)).alias("n")
            ).localCheckpoint()
            if fp_obs.get["n"]:
                new_all = definite_new.unionByName(confirmed_new)
            else:
                confirmed_new = None

        if self.filter_kind == "cuckoo":
            # Deletion-capable filters must hold one fingerprint copy PER
            # member: a fingerprint-collision FP that is actually new
            # shares its entry with some other member url — if it is not
            # inserted itself, a later delete_many(other) would turn this
            # url filter-negative (false negative → duplicate claim). The
            # FP set is tiny, so the extra add() pass stays cheap and only
            # this backend pays it.
            if confirmed_new is not None:
                self.add(confirmed_new.select("url"))  # segments + seen
            add_seen = with_part(definite_new.select("url"), self.partitions)
        else:
            # Bloom false positives already answer contains() True, so
            # merging them into the bitmap would set already-set bits — a
            # no-op. Only the exact seen table needs them: append new_all
            # (definite new + confirmed FPs) in one pass, no second
            # cogroup.
            add_seen = with_part(new_all.select("url"), self.partitions)
        self._seen = (
            add_seen if self._seen is None else self._seen.unionByName(add_seen)
        )
        rows = new_all.withColumn("claimed", F.lit(True))
        if dups is not None:
            rows = rows.unionByName(dups.withColumn("claimed", F.lit(False)))
        return rows

    # -- retire (recrawl/TTL) ------------------------------------------------
    def retire(self, urls: DataFrame, url_col: str = "url") -> None:
        """Remove urls from the seen store so they can be claimed (and
        fetched) again — the recrawl/TTL path. Requires the
        deletion-capable cuckoo backend: Bloom bits are shared between
        keys, so Bloom REFUSES (deleting would corrupt other members).

        One cogroup pass deletes the fingerprints from the segments
        (hashes computed JVM-side, numpy kernel); the exact seen table
        drops the urls via anti-join. A retired url probes
        filter-negative afterwards, so the next round claims and fetches
        it fresh. Known bound: a retired url whose fingerprint collides
        with another member in the same bucket pair (~2^-16 per
        cohabitant) stays filter-positive and is re-confirmed against the
        seen table — which is why the table must be pruned here too."""
        if self.filter_kind != "cuckoo":
            raise ValueError(
                "retire() requires the deletion-capable cuckoo backend "
                "(SeenStore(filter_kind='cuckoo')); Bloom cannot delete"
            )
        if self._segments is None:
            return
        # not distinct() here: a url's rows all route to its segment, so
        # the kernel drops repeats itself, with no shuffle of its own
        ret = with_part_hash(urls.select(F.col(url_col).alias("url")),
                             self.partitions)

        def _del(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if right.empty:
                # urls routed to a partition with no segment: nothing to do
                return pd.DataFrame(columns=[f.name for f in SEG_SCHEMA.fields])
            part = int(right["part"].iloc[0])
            seg = segments_from_pdf(right)[part]
            n_items = int(right["n_items"].iloc[0]) if "n_items" in right else 0
            if not left.empty:
                # one delete per url: a repeat would remove a colliding
                # member's fingerprint copy
                h1 = left.drop_duplicates("url")["h1"]
                deleted = seg.delete_hashed(series_u64(h1))
                n_items = max(0, n_items - int(deleted.sum()))
            return pd.DataFrame(
                {
                    "part": [part],
                    "capacity": [seg.capacity],
                    "n_hashes": [seg.n_hashes],
                    "n_items": [n_items],
                    "bitmap": [seg.to_bytes()],
                }
            )

        self._segments = self._by_segment(ret, self._segments, _del, SEG_SCHEMA)
        if self._seen is not None:
            self._seen = self._seen.join(ret.select("url"), "url", "left_anti")

    # -- update ------------------------------------------------------------
    def add(self, new_urls: DataFrame, url_col: str = "url") -> None:
        """Merge claimed urls into segments + seen table (in-memory DFs;
        persistence is the checkpoint layer's job)."""
        new = with_part_hash(
            new_urls.select(F.col(url_col).alias("url")).distinct(),
            self.partitions,
        )
        cap, kind = self.capacity_per_part, self.filter_kind

        def _merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            part = int(left["part"].iloc[0]) if not left.empty else int(right["part"].iloc[0])
            if right.empty:
                seg = new_segment(kind, cap)
                n_items = 0
            else:
                seg = segments_from_pdf(right)[part]
                n_items = int(right["n_items"].iloc[0]) if "n_items" in right else 0
            if not left.empty:
                seg.add_hashed(series_u64(left["h1"]))
                n_items += len(left)
            # n_items tracks segment load: fill > capacity means the FP
            # rate is degrading (correctness is unaffected — positives are
            # always confirmed exactly — but re-sizing is due); surfaced
            # via seen_fill_ratio in the round metrics
            return pd.DataFrame(
                {
                    "part": [part],
                    "capacity": [seg.capacity],
                    "n_hashes": [seg.n_hashes],
                    "n_items": [n_items],
                    "bitmap": [seg.to_bytes()],
                }
            )

        seg_df = self._segments
        if seg_df is None:
            seg_df = self.spark.createDataFrame([], SEG_SCHEMA)
        # cogroup is a FULL cogroup: partitions with no new urls still
        # appear (left empty, right = segment) and pass through unchanged,
        # so no separate "untouched" pass is needed
        self._segments = self._by_segment(new, seg_df, _merge, SEG_SCHEMA)

        add_seen = new.select("part", "url")
        self._seen = (
            add_seen if self._seen is None else self._seen.unionByName(add_seen)
        )
        # NOTE: lazily defined — the crawl driver persists segments/seen to
        # the round checkpoint and reloads (truncating lineage); standalone
        # users can call .localCheckpoint() on .segments/.seen if iterating.
