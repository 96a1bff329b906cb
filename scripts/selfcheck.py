"""Local replica of the driver's correctness gate, and the one home of
the oracle side of every in-repo sweep.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same sf tables, then compares row count, sorted
column names, and an order-insensitive value hash (rows rendered to
canonical strings, sorted, sha256'd) — the same shape of check the
driver records in CORRECTNESS_r{N}.json. Queries with a
``bounded_oracle()`` spec instead of SQL (the HLL sketch queries, whose
estimates legitimately differ across engines) get a numeric-tolerance
check: exact counts must match, sketch estimates must sit within the
published error bound, percentiles inside a rank window — reported as
PASS(bound)/FAIL(bound).

``scripts/registry_verify.py``, ``scripts/vanilla_check.py`` and
``tests/test_registry.py`` reuse ``open_duckdb``, ``check_query`` and
``sweep`` from here. Loading this file has no side effects: perfbench
and the tests load it by path for ``canon``.

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        parts = []
        for v in tup:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                parts.append("NULL")
            elif isinstance(v, float):
                parts.append(repr(v))
            elif hasattr(v, "tolist"):  # numpy scalar/array
                parts.append(repr(v.tolist()))
            else:
                parts.append(repr(v))
        rows.append("|".join(parts))
    rows.sort()
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), cols, digest


def check_bounded(sdf: pd.DataFrame, odf: pd.DataFrame, spec: dict) -> list[str]:
    """Apply a ``bounded_oracle()`` spec; return failure descriptions."""
    errs: list[str] = []
    merged = sdf.merge(odf, on=spec["keys"], how="outer", indicator=True)
    if (merged["_merge"] != "both").any():
        missing = merged.loc[merged["_merge"] != "both", spec["keys"]]
        return [f"key mismatch: {missing.to_dict('records')}"]
    for scol, ocol in spec.get("exact", []):
        bad = merged[merged[scol] != merged[ocol]]
        if len(bad):
            errs.append(f"{scol} != {ocol} on {len(bad)} rows")
    for scol, ocol, tol in spec.get("rel", []):
        rel = (merged[scol] - merged[ocol]).abs() / merged[ocol].clip(lower=1)
        bad = merged[rel > tol]
        if len(bad):
            errs.append(
                f"{scol} off {ocol} by >{tol:.0%} on {len(bad)} rows "
                f"(worst {rel.max():.1%})"
            )
    for acol, windows in spec.get("array_between", []):
        for i, (lo, hi) in enumerate(windows):
            vals = merged[acol].map(lambda a: a[i])
            bad = merged[(vals < merged[lo]) | (vals > merged[hi])]
            if len(bad):
                errs.append(f"{acol}[{i}] outside [{lo},{hi}] on {len(bad)} rows")
    return errs


def open_duckdb(sf_dir: str):
    """DuckDB connection with a view per driver test-harness table."""
    import duckdb

    from big_data_in_agriculture_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def oracles() -> dict[str, str | dict]:
    """Each query's oracle: its ``oracle_sql()`` text or its
    ``bounded_oracle()`` spec."""
    import __spark_entry__ as entry

    return {**entry.oracle_sql(), **entry.bounded_oracle()}


def _show_mismatch(sdf: pd.DataFrame, odf: pd.DataFrame) -> None:
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols or len(sdf) != len(odf):
        print(f"  columns spark={scols} oracle={ocols}")
        return
    s = sdf[scols].sort_values(scols).reset_index(drop=True)
    o = odf[ocols].sort_values(ocols).reset_index(drop=True)
    bad = ((s != o) & ~(s.isna() & o.isna())).any(axis=1)
    print(s[bad].head(3))
    print(o[bad].head(3))


def check_query(spark, con, sf_dir: str, builder, oracle) -> dict:
    """Run one query on Spark and on its oracle; return the row
    ``REGISTRY_VERIFY.json`` stores for it.

    ``oracle`` is an ``oracle_sql()`` text (value-hash check) or a
    ``bounded_oracle()`` spec (tolerance check). A raise on either side
    becomes an ``error`` row and its traceback is printed.
    """
    try:
        sdf = builder(spark, sf_dir).toPandas()
    except Exception as exc:  # noqa: BLE001 — recorded, sweep continues
        traceback.print_exc()
        return {"kind": "error", "err": f"spark raised: {exc}"}
    sn, scols, shash = canon(sdf)
    if isinstance(oracle, dict):
        try:
            errs = check_bounded(sdf, con.execute(oracle["sql"]).fetchdf(), oracle)
        except Exception as exc:  # noqa: BLE001
            traceback.print_exc()
            return {"kind": "error", "err": f"bound check raised: {exc}"}
        return {
            "kind": "bounded",
            "spark_rows": sn,
            "spark_hash": shash,
            "bounded_pass": not errs,
            "errs": errs,
        }
    try:
        odf = con.execute(oracle).fetchdf()
    except Exception as exc:  # noqa: BLE001
        traceback.print_exc()
        return {"kind": "error", "err": f"oracle raised: {exc}"}
    on, ocols, ohash = canon(odf)
    match = (sn, scols, shash) == (on, ocols, ohash)
    if not match:
        _show_mismatch(sdf, odf)
    return {
        "kind": "oracle",
        "spark_rows": sn,
        "oracle_rows": on,
        "spark_hash": shash,
        "oracle_hash": ohash,
        "hash_match": match,
    }


def passed(row: dict) -> bool:
    return row.get("hash_match", row.get("bounded_pass", False))


def _report(name: str, row: dict) -> str:
    verdict = "PASS" if passed(row) else "FAIL"
    if row["kind"] == "error":
        detail = row["err"]
    elif row["kind"] == "bounded":
        verdict += "(bound)"
        detail = "; ".join(row["errs"]) or f"{row['spark_rows']} rows"
    elif passed(row):
        detail = f"{row['spark_rows']} rows {row['spark_hash']}"
    else:
        detail = (
            f"spark=({row['spark_rows']},{row['spark_hash']}) "
            f"oracle=({row['oracle_rows']},{row['oracle_hash']})"
        )
    return f"{verdict}  {name}: {detail}"


def sweep(spark, sf_dir: str, only: set[str] = frozenset()) -> dict[str, dict]:
    """Check every registry query (or just ``only``) in registry order,
    printing one verdict line each; return name -> ``check_query`` row.

    Before each query the previous one's pinned blocks are reclaimed
    and the session timezone is reset to the one the session started
    with, so no query can lean on a predecessor's pin.
    """
    import __spark_entry__ as entry
    from bench import reclaim

    twins = oracles()
    tz = spark.conf.get("spark.sql.session.timeZone")
    rows: dict[str, dict] = {}
    with open_duckdb(sf_dir) as con:
        for name, builder in entry.queries().items():
            if only and name not in only:
                continue
            reclaim(spark)
            spark.conf.set("spark.sql.session.timeZone", tz)
            t0 = time.time()
            rows[name] = row = check_query(spark, con, sf_dir, builder, twins[name])
            print(f"{_report(name, row)}  ({time.time() - t0:.1f}s)", flush=True)
    return rows


def summary(rows: dict[str, dict]) -> tuple[str, int]:
    """('N pass, N fail, N bound', number of failures) for sweep rows."""
    n_fail = sum(not passed(row) for row in rows.values())
    n_bound = sum(passed(row) for row in rows.values() if row["kind"] == "bounded")
    n_pass = len(rows) - n_fail - n_bound
    return f"{n_pass} pass, {n_fail} fail, {n_bound} bound", n_fail


def oracle_session(app: str):
    """The session the oracle sweeps run in.

    6g heap: local mode shares ONE JVM across all task threads —
    Spark's 1g default dies in spill-read buffers on the heavier
    queries at sf0.1 (measured: edit_linkage OOM in a fresh 1g
    session); a real cluster gives each executor core GBs. The driver
    GATE runs sf0.01 with its own session; this conf only governs the
    in-repo sweeps.
    """
    from big_data_in_agriculture_spark.session import get_spark

    spark = get_spark(
        app, shuffle_partitions=8, extra_conf={"spark.driver.memory": "6g"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.path.insert(0, REPO)

    rows = sweep(oracle_session("selfcheck"), sf_dir, only)
    text, n_fail = summary(rows)
    print(f"\n{text}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
