"""Benchmark inputs: the sf0.1 relational tables and seeded ERA5 month files.

Two kinds of input, both built outside every timed window:

* ``sf_tables`` — the TPC-H-ish star schema plus ``events``/``documents``/
  ``embeddings`` at sf0.1, made by the repo's own generator
  (``scripts/fuzzdata.py``, seed 42, scale 10). They do not depend on the
  workload seed, so they are built once per checkout and reused.
* ``era5_inputs`` — ERA5-Land-shaped NetCDF4/HDF5 month files in the
  hive layout ``region=<r>/year=<y>/month=<mm>.{nc,zip}`` that
  ``cli aggregate-hourly`` reads, written with ``tests/_hdf5_writer.py``.
  The seed drives the grid values, which file gets which container
  (plain superblock v0, chunked+deflate superblock v2, ZIP-wrapped
  ``data_0.nc`` of either), the reload overlap and the serve parameters.
  The generated arrays also give the independent numpy expectation of
  the daily mart that the benchmark checks the CLI's output against.
"""

from __future__ import annotations

import calendar
import datetime as dt
import hashlib
import importlib.util
import io
import json
import os
import random
import shutil
import warnings
import zipfile
from dataclasses import dataclass, field

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SF_SEED = 42
SF_SCALE = 10.0  # fuzzdata scale 1.0 is sf0.01


def load_repo_module(relpath: str):
    """Import a repo file that is not part of a package (scripts/, tests/)."""
    path = os.path.join(ROOT, relpath)
    name = "perfbench_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def file_sha(relpath: str) -> str:
    with open(os.path.join(ROOT, relpath), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def sf_tables(cache_root: str) -> str:
    """Directory of the sf0.1 tables, generating it on first use.

    The directory name carries the generator's hash, so a changed
    generator never reuses stale tables. Generation writes to a
    temporary directory and renames it into place.
    """
    key = f"sf0.1-seed{SF_SEED}-{file_sha('scripts/fuzzdata.py')}"
    out = os.path.join(cache_root, key)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    load_repo_module("scripts/fuzzdata.py").generate(tmp, SF_SEED, SF_SCALE)
    os.rename(tmp, out)
    return out


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# ERA5 month files
# ---------------------------------------------------------------------------

REGIONS = ("region_a", "region_b")
YEAR = 2022
MONTHS = (1, 2, 3, 4)
#: 8 files, about 213 MB: the size the engine's own ETL was probed at
NLAT, NLON = 36, 41
VARIABLES = ("t2m", "d2m", "tp", "u10", "v10", "swvl1", "swvl2")
#: Container kinds CDS downloads arrive in; each is used by the same
#: number of files every seed, so seeds differ in values, not in work.
FILE_KINDS = ("nc_v0", "nc_v2_deflate", "zip_v0", "zip_v2_deflate")
#: Daily-mart columns as ``cli aggregate-daily`` names them.
DAILY_COLUMNS = (
    "t2m_mean", "t2m_min", "t2m_max", "d2m_mean", "tp_sum",
    "swvl1_mean", "swvl2_mean", "wind_speed_10m_mean",
)


@dataclass
class Era5Inputs:
    raw_root: str
    raw_bytes: int
    files: list[str]
    months_a: list[int]  # first load: daily mart of these months
    months_b: list[int]  # overlapping reload
    queries: list[dict]  # serve requests: regions, start, end, limit
    #: (region, day) -> {column: expected float or nan}
    expected_daily: dict = field(default_factory=dict)


def _grid(rng: np.random.Generator, nt: int) -> dict[str, np.ndarray]:
    """One month of one region's grid, float32, (time, lat, lon)."""
    shape = (nt, NLAT, NLON)
    hours = np.arange(nt) % 24  # files start at midnight
    diurnal = (6.0 * np.sin((hours - 9) / 24.0 * 2 * np.pi))[:, None, None]
    t2m = 268.0 + rng.normal(0.0, 4.0, (1, NLAT, NLON)) + diurnal
    t2m = t2m + rng.normal(0.0, 1.5, shape)
    d2m = t2m - np.abs(rng.normal(3.0, 1.5, shape))
    tp = np.clip(rng.gamma(0.3, 0.0006, shape), 0.0, 0.02)
    u10 = rng.normal(1.0, 4.0, shape)
    v10 = rng.normal(-0.5, 4.0, shape)
    swvl1 = rng.uniform(0.10, 0.45, shape)
    swvl2 = np.clip(swvl1 * 0.9 + rng.normal(0.02, 0.01, shape), 0.0, 0.5)
    data = {
        "t2m": t2m, "d2m": d2m, "tp": tp, "u10": u10, "v10": v10,
        "swvl1": swvl1, "swvl2": swvl2,
    }
    # ERA5-Land is NaN over sea for every variable
    sea = rng.random((NLAT, NLON)) < 0.08
    out = {}
    for k, v in data.items():
        v = v.astype(np.float32)
        v[:, sea] = np.nan
        out[k] = v
    # one hour with a variable masked everywhere: its hourly mean is NULL
    out["swvl2"][int(rng.integers(0, nt)), :, :] = np.nan
    return out


def _hdf5_bytes(write_hdf5, datasets: dict, kind: str) -> bytes:
    if kind.endswith("deflate"):
        chunks = {v: (24, NLAT, NLON) for v in VARIABLES}
        blob = write_hdf5(datasets, chunk_dims=chunks, deflate_level=1,
                          shuffle=True, superblock_version=2)
    else:
        blob = write_hdf5(datasets, deflate_level=None, superblock_version=0)
    if kind.startswith("zip"):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            zf.writestr("data_0.nc", blob)
        blob = buf.getvalue()
    return blob


def _expected_daily(region: str, times: np.ndarray,
                    grid: dict[str, np.ndarray]) -> dict:
    """numpy twin of hourly (spatial nanmean → units → float32) then daily."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN hours
        mean = {v: np.nanmean(grid[v].astype(np.float64), axis=(1, 2))
                for v in VARIABLES}
    hourly = {
        "t2m": mean["t2m"] - 273.15,
        "d2m": mean["d2m"] - 273.15,
        "tp": mean["tp"] * 1000.0,
        "swvl1": mean["swvl1"],
        "swvl2": mean["swvl2"],
        "wind_speed_10m": np.sqrt(mean["u10"] ** 2 + mean["v10"] ** 2),
    }
    hourly = {k: v.astype(np.float32).astype(np.float64) for k, v in hourly.items()}
    days = (times // 86400).astype(np.int64)
    out = {}
    for d in np.unique(days):
        sel = days == d
        day = dt.date(1970, 1, 1) + dt.timedelta(days=int(d))

        def agg(col: str, fn) -> float:
            vals = hourly[col][sel]
            vals = vals[~np.isnan(vals)]
            return float(np.float32(fn(vals))) if len(vals) else float("nan")

        out[(region, day)] = {
            "t2m_mean": agg("t2m", np.mean),
            "t2m_min": agg("t2m", np.min),
            "t2m_max": agg("t2m", np.max),
            "d2m_mean": agg("d2m", np.mean),
            "tp_sum": agg("tp", np.sum),
            "swvl1_mean": agg("swvl1", np.mean),
            "swvl2_mean": agg("swvl2", np.mean),
            "wind_speed_10m_mean": agg("wind_speed_10m", np.mean),
        }
    return out


def era5_inputs(raw_root: str, seed: int, n_queries: int) -> Era5Inputs:
    """Write the seeded month files under ``raw_root`` and plan the run."""
    write_hdf5 = load_repo_module("tests/_hdf5_writer.py").write_hdf5
    rng = np.random.default_rng(seed)
    pick = random.Random(seed)
    cells = [(r, m) for r in REGIONS for m in MONTHS]
    kinds = list(FILE_KINDS) * (len(cells) // len(FILE_KINDS))
    pick.shuffle(kinds)
    inp = Era5Inputs(raw_root=raw_root, raw_bytes=0, files=[],
                     months_a=[], months_b=[], queries=[])
    for (region, month), kind in zip(cells, kinds):
        nt = calendar.monthrange(YEAR, month)[1] * 24
        t0 = calendar.timegm((YEAR, month, 1, 0, 0, 0))
        times = t0 + 3600 * np.arange(nt, dtype=np.int64)
        ri = REGIONS.index(region)
        lat = np.round(50.0 + 2.0 * ri - 0.1 * np.arange(NLAT), 2)
        lon = np.round(10.0 + 3.0 * ri + 0.1 * np.arange(NLON), 2)
        grid = _grid(rng, nt)
        datasets = {"valid_time": times, "latitude": lat, "longitude": lon, **grid}
        blob = _hdf5_bytes(write_hdf5, datasets, kind)
        ext = "zip" if kind.startswith("zip") else "nc"
        path = os.path.join(raw_root, f"region={region}", f"year={YEAR}",
                            f"month={month:02d}.{ext}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(blob)
        inp.raw_bytes += len(blob)
        inp.files.append(path)
        inp.expected_daily.update(_expected_daily(region, times, grid))
    # the load and the reload each cover three consecutive months; the two
    # middle months are loaded twice, so the reload merges. The seed picks
    # which end of the four months is loaded first.
    load1, load2 = list(MONTHS[:3]), list(MONTHS[1:])
    if pick.random() < 0.5:
        load1, load2 = load2, load1
    inp.months_a, inp.months_b = load1, load2
    first = dt.date(YEAR, MONTHS[0], 1)
    n_days = sum(calendar.monthrange(YEAR, m)[1] for m in MONTHS)
    for _ in range(n_queries):
        regions = pick.sample(REGIONS, pick.randint(1, len(REGIONS)))
        start = first + dt.timedelta(days=pick.randrange(n_days))
        end = start + dt.timedelta(days=pick.randint(0, 40))
        inp.queries.append({
            "regions": sorted(regions), "start": start.isoformat(),
            "end": end.isoformat(), "limit": pick.choice((10, 20, 50)),
        })
    return inp


def write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.rename(tmp, path)
