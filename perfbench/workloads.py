"""The benchmark's workloads.

Each workload is single-client and closed-loop: the next request is sent
only after the previous one returned. A workload knows how to warm one
round (the tail of every set-up) and how to run a timed pass of whole
rounds, checking what the program returned outside the timed windows.

* ``analytics`` — eight relational/event/ERA5-semantics builders from
  ``__spark_entry__.queries()`` over sf0.1. A request is one builder call
  plus a noop-sink write, so every output column is computed. Results are
  checked once per run, in the set-up's warm round, against the DuckDB
  ``oracle_sql()`` twin with ``scripts/selfcheck.py``'s ``canon``.
* ``era5_etl_serve`` — the paper's pipeline through ``cli.main``: raw
  NetCDF/HDF5 months → hourly mart → two daily marts → keyed load and an
  overlapping reload (the upsert merges) → a burst of ``cli query``
  requests, once per round. Each round's marts, warehouse and served rows
  are checked against a numpy recomputation from the generated arrays.
"""

from __future__ import annotations

import ast
import contextlib
import hashlib
import io
import json
import math
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import inputs


@dataclass
class Outcome:
    """One timed request."""

    req: str  # request id; the Spark job group when traced
    name: str  # distinct request this is an instance of
    latency_s: float = 0.0
    error: str | None = None
    layers: dict = field(default_factory=dict)  # per-layer numbers, traced runs

    @property
    def ok(self) -> bool:
        return self.error is None


def _describe(exc: Exception) -> str:
    return f"raised {type(exc).__name__}: {exc}".splitlines()[0][:300]


def _span_s(rec: dict) -> float:
    return rec["end"] - rec["start"]


class Analytics:
    name = "analytics"
    #: one builder per operator class: scan-aggregate, join, semi-join with
    #: HAVING, two window shapes, as-of join, cohort aggregate, ERA5 chain
    QUERIES = (
        "tpch_q1", "tpch_q10", "tpch_q18", "sessionize", "window_topn",
        "asof_attribution", "retention_cohorts", "era5_chain",
    )
    #: a steady round at local[4] on a 4-core x86 host; sizes the timed pass
    ROUND_S = 5.5
    #: requests whose latency the end-to-end figures summarise (None: all)
    SERVED = None

    def __init__(self, work: str, cache: str, seed: int, seconds: int) -> None:
        import __spark_entry__ as entry

        self.seed = seed
        self.tables = inputs.sf_tables(cache)
        self.input_bytes = sum(os.path.getsize(f"{self.tables}/{t}.parquet")
                               for t in inputs.SF_TABLES)
        self.queries = entry.queries()
        self.canon = inputs.load_repo_module("scripts/selfcheck.py").canon
        self.refs = self._oracle_refs(entry.oracle_sql())
        self.rounds = max(2, round(seconds / self.ROUND_S))
        self.check_errors: dict[str, str] = {}

    def _oracle_refs(self, oracle: dict[str, str]) -> dict[str, list]:
        """DuckDB reference (rows, columns, digest) per query, cached.

        The cache key covers the SQL texts, ``scripts/selfcheck.py`` (whose
        ``canon`` makes the digest) and the DuckDB version.
        """
        import duckdb

        sqls = {n: oracle[n] for n in self.QUERIES}
        key = hashlib.sha256(json.dumps(
            [sqls, inputs.file_sha("scripts/selfcheck.py"), duckdb.__version__],
            sort_keys=True).encode()).hexdigest()[:12]
        path = os.path.join(self.tables, f"oracle-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        con = duckdb.connect()
        for t in inputs.SF_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.tables}/{t}.parquet')")
        refs = {n: list(self.canon(con.execute(sql).fetchdf()))
                for n, sql in sqls.items()}
        con.close()
        inputs.write_json(path, refs)
        return refs

    def order(self, tag: str) -> list[str]:
        names = list(self.QUERIES)
        random.Random(f"{self.seed}:{tag}").shuffle(names)
        return names

    def warm(self, spark, tag: str, check: bool) -> float:
        """One untimed round; returns the seconds spent in the program.

        With ``check`` each result is collected and compared with its
        oracle; the comparison itself is not counted.
        """
        spent = 0.0
        for name in self.order(f"warm.{tag}"):
            t0 = time.perf_counter()
            try:
                df = self.queries[name](spark, self.tables)
                if check:
                    pdf = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failing request is reported, not fatal
                if check:
                    self.check_errors[name] = _describe(exc)
                continue
            finally:
                spent += time.perf_counter() - t0
            if check:
                got, want = list(self.canon(pdf)), self.refs[name]
                if got != want:
                    self.check_errors[name] = (
                        f"rows/columns/hash {got} != oracle {want}")
        return spent

    def timed(self, spark, tracer, tag: str,
              rounds: int) -> tuple[list[Outcome], list[float]]:
        """Whole rounds of every query in a seeded order.

        Returns the checked outcomes and each round's wall time.
        """
        out, walls = [], []
        for r in range(rounds):
            t_round = time.perf_counter()
            for i, name in enumerate(self.order(f"{tag}.round{r}")):
                o = Outcome(f"{tag}.r{r}.{i:02d}.{name}", name)
                t0 = time.perf_counter()
                try:
                    with tracer.request(o.req, name):
                        with tracer.span("entry.build", o.req) as build:
                            df = self.queries[name](spark, self.tables)
                        if tracer.enabled:
                            o.layers["build_jobs"] = len(tracer.jobs(o.req))
                        with tracer.span("exec.action", o.req) as action:
                            df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    o.error = _describe(exc)
                o.latency_s = time.perf_counter() - t0
                if tracer.enabled and o.ok:
                    o.layers["build_s"] = _span_s(build)
                    o.layers["action_s"] = _span_s(action)
                if o.ok and name in self.check_errors:
                    o.error = self.check_errors[name]
                out.append(o)
            walls.append(time.perf_counter() - t_round)
        return out, walls

    def layer_extras(self, outcomes: list[Outcome], tasks: dict) -> dict[str, float]:
        return {}


class Era5EtlServe:
    name = "era5_etl_serve"
    #: steady ETL and one ``cli query`` at local[4] on a 4-core x86 host;
    #: they size the timed pass
    ETL_S = 9.0
    QUERY_S = 0.2
    #: ``cli query`` requests after each round's ETL, and in a warm round
    BURST = 30
    WARM_QUERIES = 3
    SERVED = "query"

    def __init__(self, work: str, cache: str, seed: int, seconds: int) -> None:
        from big_data_in_agriculture_spark import cli

        self.cli = cli
        self.work = work
        self.rounds = max(1, round(seconds / (self.ETL_S + self.BURST * self.QUERY_S)))
        # enough distinct queries for every round a run can make: the
        # set-up's, the untraced pass's and a traced set-up and round
        n = 2 * self.WARM_QUERIES + (self.rounds + 1) * self.BURST
        self.inp = inputs.era5_inputs(os.path.join(work, "raw"), seed, n)
        self._next_query = iter(self.inp.queries)
        self.input_bytes = self.inp.raw_bytes
        self.stored_bytes = 0
        self.last_dir = ""  # the last timed round's marts and warehouse

    def _take(self, n: int) -> list[dict]:
        return [next(self._next_query) for _ in range(n)]

    @staticmethod
    def _months(ms: list[int]) -> str:
        return ",".join(map(str, ms))

    def _etl(self, d: str) -> list[tuple[str, list[str]]]:
        inp = self.inp
        return [
            ("aggregate_hourly", ["aggregate-hourly", "--raw-root", inp.raw_root,
                                  "--out", f"{d}/hourly"]),
            ("aggregate_daily_a", ["aggregate-daily", "--hourly", f"{d}/hourly",
                                   "--out", f"{d}/daily_a",
                                   "--months", self._months(inp.months_a)]),
            ("aggregate_daily_b", ["aggregate-daily", "--hourly", f"{d}/hourly",
                                   "--out", f"{d}/daily_b",
                                   "--months", self._months(inp.months_b)]),
            ("load", ["load", "--source", f"{d}/daily_a", "--target",
                      f"{d}/warehouse", "--key", "region,day"]),
            ("reload", ["load", "--source", f"{d}/daily_b", "--target",
                        f"{d}/warehouse", "--key", "region,day"]),
        ]

    @staticmethod
    def _query(q: dict, d: str) -> list[str]:
        return ["query", "--mart", f"{d}/warehouse", "--regions",
                ",".join(q["regions"]), "--start", q["start"], "--end", q["end"],
                "--limit", str(q["limit"])]

    def _cli(self, spark, argv: list[str]) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.cli.main(argv, spark=spark)
        if rc:
            raise RuntimeError(f"cli {argv[0]} exited {rc}")
        return buf.getvalue()

    def warm(self, spark, tag: str, check: bool) -> float:
        """One untimed ETL plus a few queries into a scratch directory.

        Failures are not reported here: the timed rounds report them, by
        request name, and check every result.
        """
        d = os.path.join(self.work, f"warm.{tag}")
        argvs = [argv for _, argv in self._etl(d)]
        argvs += [self._query(q, d) for q in self._take(self.WARM_QUERIES)]
        t0 = time.perf_counter()
        for argv in argvs:
            try:
                self._cli(spark, argv)
            except Exception:
                pass
        spent = time.perf_counter() - t0
        shutil.rmtree(d, ignore_errors=True)
        return spent

    def timed(self, spark, tracer, tag: str,
              rounds: int) -> tuple[list[Outcome], list[float]]:
        """Rounds of ETL then a serve burst, each checked after it ran.

        Returns the outcomes and each round's ETL wall time (raw files to
        loaded and reloaded warehouse); the burst is not in it.
        """
        out, walls = [], []

        def request(name: str, argv: list[str], req: str) -> Outcome:
            o = Outcome(req, name)
            t0 = time.perf_counter()
            try:
                with tracer.request(req, name):
                    with tracer.span(f"cli.{argv[0]}", req) as rec:
                        o.layers["stdout"] = self._cli(spark, argv)
            except Exception as exc:
                o.error = _describe(exc)
            o.latency_s = time.perf_counter() - t0
            if tracer.enabled and o.ok:
                o.layers["action_s"] = _span_s(rec)
            out.append(o)
            return o

        for r in range(rounds):
            d = self.last_dir = os.path.join(self.work, f"{tag}.r{r}")
            etl = []
            t_etl = time.perf_counter()
            for i, (name, argv) in enumerate(self._etl(d)):
                etl.append(request(name, argv, f"{tag}.r{r}.etl{i}.{name}"))
                if tracer.enabled and name == "load":
                    etl[-1].layers["table_files"] = _parquet_files(f"{d}/warehouse")
            walls.append(time.perf_counter() - t_etl)
            served = []
            for i, q in enumerate(self._take(self.BURST)):
                served.append((request("query", self._query(q, d),
                                       f"{tag}.r{r}.q{i:03d}"), q))
            self._check_round(d, etl, served)
            self.stored_bytes = sum(inputs.dir_bytes(f"{d}/{m}") for m in
                                    ("hourly", "daily_a", "daily_b", "warehouse"))
        return out, walls

    # -- checking ----------------------------------------------------------

    def _rows_error(self, rows: list[dict], want_keys: list[tuple]) -> str | None:
        got_keys = [(r["region"], r["day"]) for r in rows]
        if got_keys != want_keys:
            return f"{len(got_keys)} rows, expected {len(want_keys)} (keys differ)"
        for r in rows:
            exp = self.inp.expected_daily[(r["region"], r["day"])]
            for c in inputs.DAILY_COLUMNS:
                a, e = r[c], exp[c]
                if math.isnan(e):
                    if a is not None and not math.isnan(a):
                        return f"{c} {r['region']} {r['day']}: {a} != NULL"
                elif a is None or abs(a - e) > 1e-5 + 1e-5 * abs(e):
                    return f"{c} {r['region']} {r['day']}: {a} != {e}"
        return None

    def _keys(self, months: list[int]) -> list[tuple]:
        return sorted(k for k in self.inp.expected_daily if k[1].month in months)

    def _table_error(self, path: str, months: list[int]) -> str | None:
        import pyarrow.dataset as ds

        try:
            table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        except Exception as exc:
            return _describe(exc)
        rows = sorted(table.to_pylist(), key=lambda r: (r["region"], r["day"]))
        return self._rows_error(rows, self._keys(months))

    def _check_round(self, d: str, etl: list[Outcome],
                     served: list[tuple[Outcome, dict]]) -> None:
        """Check one round's daily marts, warehouse and served rows."""
        inp = self.inp
        by_name = {o.name: o for o in etl}
        for name, path, months in (
            ("aggregate_daily_a", "daily_a", inp.months_a),
            ("aggregate_daily_b", "daily_b", inp.months_b),
            ("reload", "warehouse", sorted(set(inp.months_a) | set(inp.months_b))),
        ):
            o = by_name[name]
            if o.ok:
                o.error = self._table_error(f"{d}/{path}", months)
        for o, q in served:
            if not o.ok:
                continue
            want = [k for k in self._keys(inputs.MONTHS)
                    if k[0] in q["regions"] and q["start"] <= k[1].isoformat() <= q["end"]]
            try:
                rows = [_parse_row(line) for line in o.layers["stdout"].splitlines()]
            except (ValueError, SyntaxError) as exc:
                o.error = _describe(exc)
                continue
            o.error = self._rows_error(rows, want[: q["limit"]])

    def layer_extras(self, outcomes: list[Outcome], tasks: dict) -> dict[str, float]:
        """Per-layer numbers only this workload has, from one traced round."""
        from big_data_in_agriculture_spark.sources.hdf5 import era5_frame
        from big_data_in_agriculture_spark.sources.netcdf import sniff_netcdf_bytes

        by = {o.name: o for o in outcomes if o.name != "query"}
        d = self.last_dir
        cli_s = lambda *names: sum(by[n].latency_s for n in names)  # noqa: E731
        files = []
        for m in ("hourly", "daily_a", "daily_b", "warehouse"):
            files += _parquet_files(f"{d}/{m}")
        files += by["load"].layers.get("table_files", [])
        # rows the reload's jobs wrote (event log) per row it was given
        reload_written = tasks.get(by["reload"].req, {}).get("records_written", 0)
        reload_in = _parquet_rows(f"{d}/daily_b")
        decode_bytes = decode_s = 0.0
        for path in self.inp.files:
            with open(path, "rb") as fh:
                blob = sniff_netcdf_bytes(fh.read())
            t0 = time.perf_counter()
            era5_frame(blob, list(inputs.VARIABLES))
            decode_s += time.perf_counter() - t0
            decode_bytes += len(blob)
        return {
            "cli.aggregate_hourly_s": cli_s("aggregate_hourly"),
            "cli.aggregate_daily_s": cli_s("aggregate_daily_a", "aggregate_daily_b"),
            "cli.load_s": cli_s("load"),
            "cli.reload_s": cli_s("reload"),
            "marts.files_written": len(files),
            "marts.bytes_written": sum(size for _, size in files) / 1e6,
            "marts.stored_bytes_ratio": self.stored_bytes / self.input_bytes,
            "upsert.rows_rewritten_per_row_in": reload_written / max(reload_in, 1),
            "hdf5.decode_mb_per_s": decode_bytes / 1e6 / decode_s,
        }


def _parquet_files(root: str) -> list[tuple[str, int]]:
    out = []
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out.append((p, os.path.getsize(p)))
    return out


def _parquet_rows(root: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p, _ in _parquet_files(root))


_DATE = re.compile(r"datetime\.date\((\d+), (\d+), (\d+)\)")


def _parse_row(line: str) -> dict:
    """One ``cli query`` output line (a printed ``Row.asDict()``) to a dict."""
    import datetime as dt

    row = ast.literal_eval(_DATE.sub(r"(\1, \2, \3)", line))
    row["day"] = dt.date(*row["day"])
    return row


WORKLOADS = {w.name: w for w in (Analytics, Era5EtlServe)}
