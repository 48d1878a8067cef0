"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() AND extra_queries() entry (the
latter are retired from the driver's 50-slot window but stay gated here)
at sf0.01 and compares against
its oracle_sql() via DuckDB: row count, column names, and order-insensitive
per-column values (sorted-by-name columns, stringified, sorted rows).

Usage: python tools/check_oracle.py [sf_dir] [query1,query2,...]
(second arg restricts the gate to the named queries — fast targeted check)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bb_ocr_spark.session import get_spark  # noqa: E402
from bb_ocr_spark.sources.tables import TPCH_TABLES  # noqa: E402


def norm_frame(df) -> list[tuple]:
    cols = sorted(df.columns)
    sub = df[cols].astype(str)
    return sorted(map(tuple, sub.values.tolist())), cols


def main(sf_dir: str, only: set[str] | None = None) -> int:
    # no env pin needed: the ANN models train once on one canonical dir
    # (__spark_entry__._ann_model) and each query and its oracle take the
    # same model, so the gate is green at any sf out of the box

    import __spark_entry__ as E

    spark = get_spark("check_oracle", cores=8)
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = dict(E.queries()), dict(E.oracle_sql())
    # retired-from-driver-window queries stay locally gated
    qs.update(E.extra_queries())
    oracles.update(E.extra_oracle_sql())
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        got_df = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name}: NO-ORACLE rows={len(got_df)}")
            continue
        want_df = con.execute(oracles[name]).fetchdf()
        got, gcols = norm_frame(got_df)
        want, wcols = norm_frame(want_df)
        if gcols != wcols:
            print(f"{name}: FAIL columns {gcols} != {wcols}")
            failures += 1
            continue
        # dtype drift warning (the driver may compare schemas strictly)
        for c in gcols:
            gd, wd = str(got_df[c].dtype), str(want_df[c].dtype)
            if gd != wd:
                print(f"{name}: DTYPE {c}: spark={gd} duckdb={wd}")
        if len(got) != len(want):
            print(f"{name}: FAIL rows {len(got)} != {len(want)}")
            failures += 1
            continue
        if got != want:
            bad = [(g, w) for g, w in zip(got, want) if g != w][:3]
            print(f"{name}: FAIL values; first diffs: {bad}")
            failures += 1
            continue
        print(f"{name}: OK rows={len(got)}")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None,
        )
    )
