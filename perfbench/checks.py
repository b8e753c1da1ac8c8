"""Output checks on a finished crawl's state, run outside the timed region.

Each failing check names the round it belongs to, so failures count
against ``round_fail_ratio``; a crawl-wide check that fails is charged to
the last round. State tables are read with pyarrow, without Spark jobs.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq


def read_table(root: str, table: str, round_no: int,
               columns: list[str] | None = None) -> pd.DataFrame | None:
    d = Path(root) / table / f"round={round_no:05d}"
    if not (d / "_SUCCESS").exists():
        return None
    return pq.read_table(d, columns=columns).to_pandas()


def read_rounds(root: str, table: str, n_rounds: int,
                columns: list[str] | None = None) -> pd.DataFrame:
    parts = [read_table(root, table, r, columns) for r in range(n_rounds)]
    parts = [p for p in parts if p is not None]
    if not parts:
        return pd.DataFrame(columns=columns)
    return pd.concat(parts, ignore_index=True)


def metrics_rows(root: str, n_rounds: int) -> list[dict]:
    return [read_table(root, "metrics", r).iloc[0].to_dict()
            for r in range(n_rounds)]


def effective_seen(root: str, n_rounds: int) -> set[str]:
    """Urls whose last claim is not older than their last retire."""
    seen = read_rounds(root, "seen", n_rounds, ["url", "claim_round"])
    ret = read_rounds(root, "retired", n_rounds, ["url", "retire_round"])
    last_claim = seen.groupby("url")["claim_round"].max()
    last_retire = ret.groupby("url")["retire_round"].max()
    rr = last_retire.reindex(last_claim.index)
    return set(last_claim.index[rr.isna() | (last_claim >= rr)])


def identity_failures(root: str, rows: list[dict]) -> dict[int, list[str]]:
    """The per-round count identities every crawl must satisfy."""
    bad: dict[int, list[str]] = defaultdict(list)
    for r, m in enumerate(rows):
        if m["n_frontier"] != m["n_scheduled"] + m["n_deferred"] + m["n_blocked"]:
            bad[r].append("n_frontier != n_scheduled + n_deferred + n_blocked")
        nxt = read_table(root, "frontier", r + 1, ["url"])
        if nxt is None or len(nxt) != m["n_deferred"] + m["n_enqueued"]:
            bad[r].append("next frontier rows != n_deferred + n_enqueued")
        res = read_table(root, "results", r, ["url"])
        if res is None or len(res) != m["n_new"]:
            bad[r].append("results rows != n_new")
    return bad


def simulator_failures(root: str, n_rounds: int, sim: dict) -> dict[int, list[str]]:
    """Each round's claimed urls, in (priority, crawl_depth, host, url)
    order, and the final effective seen set must equal the simulator's."""
    bad: dict[int, list[str]] = defaultdict(list)
    if len(sim["rounds"]) != n_rounds:
        bad[max(n_rounds - 1, 0)].append(
            f"engine ran {n_rounds} rounds, simulator {len(sim['rounds'])}")
    for r, g in enumerate(sim["rounds"][:n_rounds]):
        res = read_table(root, "results", r,
                         ["url", "priority", "crawl_depth", "host"])
        order = [] if res is None else list(
            res.sort_values(["priority", "crawl_depth", "host", "url"])["url"])
        if order != g["new"]:
            bad[r].append("claimed urls differ from the simulator")
    if effective_seen(root, n_rounds) != sim["seen_set"]:
        bad[max(n_rounds - 1, 0)].append("effective seen set differs")
    return bad


def bulk_failures(root: str, rows: list[dict], corpus: str) -> dict[int, list[str]]:
    """Seen rows are distinct and are exactly the claimed plus the blocked
    urls; every hit's extracted_text equals pages.text byte for byte."""
    n = len(rows)
    bad: dict[int, list[str]] = defaultdict(list)
    last = max(n - 1, 0)
    seen = read_rounds(root, "seen", n, ["url"])
    if seen["url"].duplicated().any():
        bad[last].append("a url was claimed twice")
    # the seen delta also claims each blocked url once (probe_and_claim's
    # is_blocked rows), so it holds claimed + blocked urls
    claimed = sum(m["n_new"] + m["n_blocked"] for m in rows)
    if len(seen) != claimed:
        bad[last].append(f"seen rows {len(seen)} != sum(n_new + n_blocked) {claimed}")
    text = pq.read_table(f"{corpus}/pages.parquet",
                         columns=["url", "text"]).to_pandas().set_index("url")["text"]
    for r in range(n):
        res = read_table(root, "results", r,
                         ["url", "fetch_status", "extracted_text"])
        hits = res[res["fetch_status"] == "hit"]
        ref = text.reindex(hits["url"]).to_numpy()
        if (hits["extracted_text"].to_numpy() != ref).any():
            bad[r].append("extracted_text != pages.text on a hit")
    return bad


def merge(*maps: dict[int, list[str]]) -> dict[int, list[str]]:
    out: dict[int, list[str]] = defaultdict(list)
    for m in maps:
        for r, msgs in m.items():
            out[r].extend(msgs)
    return dict(out)
