"""Driver-surface dtype parity probes (VERDICT r5 item 2 evidence).

The driver's value hash is dtype-sensitive on the pandas surface:
DuckDB surfaces HUGEINT (SUM of BIGINT) as float64 via ``.df()`` while
a Spark long collects as int — the exact mechanism behind the
cms_hot_shingles CORRECTNESS_r05 red row (values were equal).

Two modes:

``--sweep`` (default): for every oracled registry entry, compare each
column of the DuckDB twin's ``.df()`` output against the Spark
DataFrame's declared schema CLASS (integral/floating/bool). Cheap — the
Spark side stays lazy (schema only). Flags candidates; a flag is not
yet a failure (NULLs legitimately turn an integral column float64 on
BOTH surfaces).

``--exact NAME [NAME ...]``: run the flagged/selected entries for real
and compare Spark ``toPandas()`` vs oracle ``.df()`` — dtypes AND
values — the exact surface the driver hashes. Used this round to clear
all 10 sweep-flagged columns (NULL-induced float64 on both sides) and
to verify the 13 window-rebuild veterans at sf0.001 and sf0.01 before
rotating them into the r6 driver window.

The permanent regression gate for the same hazard lives in
tests/test_conformance.py::test_oracle_match (per-column dtype-class
pin over all twins, every suite run).

Usage: python scripts/dtype_surface_probe.py [--sweep | --exact N ...]
Env: SF_DIR (default /root/testdata/sf0.001)
"""
from __future__ import annotations

import os
import sys
import warnings

warnings.filterwarnings("ignore")

import duckdb
import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _spark_class(dt) -> str:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double") or s.startswith("decimal"):
        return "float"
    if s == "boolean":
        return "bool"
    return "other"


def _pandas_class(dt) -> str:
    if np.issubdtype(dt, np.bool_):
        return "bool"
    if np.issubdtype(dt, np.integer):
        return "int"
    if np.issubdtype(dt, np.floating):
        return "float"
    return "other"


def main() -> int:
    from fraudcrawler_spark.registry import REGISTRY
    from fraudcrawler_spark.session import get_spark

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    args = sys.argv[1:]
    exact = args[1:] if args[:1] == ["--exact"] else None
    if exact == []:
        # nothing to check is not a clean result
        print("usage: dtype_surface_probe.py [--sweep | --exact NAME ...]: "
              "--exact needs at least one entry name", file=sys.stderr)
        return 2

    spark = get_spark("dtype_probe", cores=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = _duck(sf_dir)
    bad: list[tuple[str, str, str]] = []

    if exact is not None:
        for name in exact:
            fn, sql = REGISTRY.get(name, (None, None))
            if sql is None:
                print(f"{name}: SKIP (no twin)")
                continue
            pdf_s = fn(spark, sf_dir).toPandas()
            pdf_o = con.sql(sql).df()
            ds = dict(pdf_s.dtypes.astype(str))
            do = dict(pdf_o.dtypes.astype(str))
            diff = {c: (ds.get(c), do[c]) for c in do if ds.get(c) != do[c]}
            if diff:
                bad.append((name, "dtype", str(diff)))
                continue
            cols = sorted(pdf_s.columns)
            a = pdf_s[cols].sort_values(cols).reset_index(drop=True)
            b = pdf_o[cols].sort_values(cols).reset_index(drop=True)
            ok = a.equals(b)
            print(f"{name}: dtypes OK, values "
                  f"{'EQUAL' if ok else 'DIFFER'} ({len(a)} rows)")
            if not ok:
                bad.append((name, "values", "differ"))
    else:
        n = 0
        for name, (fn, sql) in sorted(REGISTRY.items()):
            if sql is None:
                continue
            n += 1
            sd = {f.name: _spark_class(f.dataType)
                  for f in fn(spark, sf_dir).schema.fields}
            pdf = con.sql(sql).df()
            for col in pdf.columns:
                oc = _pandas_class(pdf[col].dtype)
                sc = sd.get(col)
                if sc is None:
                    bad.append((name, col, "missing in spark schema"))
                elif sc != oc and "other" not in (sc, oc):
                    bad.append((name, col, f"spark={sc} oracle={oc}"))
        print(f"swept {n} twins")

    for b in bad:
        print("FLAG", *b)
    print("RESULT:", "flags above — clear each with --exact" if bad else "CLEAN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
