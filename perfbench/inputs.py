"""Seeded benchmark inputs: tables, cells, project locations, DET requests.

Everything here is a pure function of the seed, so the same seed gives
byte-identical parquet files and an identical request stream. The
program under test only ever sees the generated files and requests.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = ["A", "N", "R"]
# The reference's active extract types, minus ``reliability`` (which is
# reserved for release data, where a potential surface exists).
RASTER_TYPES = [
    "categorical", "weighted_mean", "weighted_count", "weighted_sum",
    "mean", "count", "sum", "min", "max",
]
# One cycle of cold requests: (years per raster dataset, extract types
# of each raster dataset, release dataset kind or None); 6 and 5
# items, together every raster extract type, a release entry (one MSR
# and one reliability item) and a two-dataset merge. Request k of a
# stream has shape k % len(SHAPES), so each run measures whole cycles
# with the same types, and a shape's best time over a run's cycles can
# be taken (a `categorical` (pivot) item costs more than the others):
# runs at different seeds differ only in seeded content (names, years,
# boundary sizes, cells). The cycle is small because the warm-up
# repeats it until steady, and an item costs ~0.6 s on 4 vCPUs.
SHAPES = [
    (1, [["categorical", "mean", "weighted_sum", "sum"]], "aiddata"),
    (1, [["weighted_mean", "count", "max"], ["min", "weighted_count"]], None),
]
# Boundary size of each shape (features), jittered by the seed.
BOUNDARY_TIERS = [800, 4500]
YEARS = list(range(1990, 2020))
GRID = 0.05  # MSR resolution, det_module_spark.plans.spec.MSR_RESOLUTION


def rng(seed: int, *salt: str) -> np.random.Generator:
    """Independent stream per (seed, salt): adding a table never
    changes another table's values."""
    digest = hashlib.sha1("/".join((str(seed),) + salt).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "big"))


def boundary_features(name: str) -> int:
    """Feature count of a boundary named ``bnd<n>_<tag>``: the count is
    part of the name so the engine callbacks and the DuckDB oracle
    derive the same ``asdf_id`` domain from the request alone."""
    return int(name.split("_")[0][len("bnd"):])


def item_shift(file_name: str) -> int:
    """Per-file integer value shift: the per-item cell transform."""
    return int(hashlib.sha1(file_name.encode()).hexdigest()[:8], 16) % 97


# -- tables -----------------------------------------------------------


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n) * 100) / 100


def _days(r: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = r.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def lineitem(seed: int, rows: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    r = rng(seed, "lineitem", str(rows))
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, rows), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_parts, rows), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, rows), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, rows), pa.int32()),
        "l_quantity": r.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, rows),
        "l_discount": r.integers(0, 11, rows) / 100.0,
        "l_tax": r.integers(0, 9, rows) / 100.0,
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], rows)),
        "l_linestatus": pa.array(r.choice(["F", "O"], rows)),
        "l_shipdate": _days(r, "1995-01-02", 2500, rows),
    })


def orders(seed: int, rows: int, n_cust: int) -> pa.Table:
    r = rng(seed, "orders", str(rows))
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(rows), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, rows), pa.int64()),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], rows)),
        "o_totalprice": _money(r, 1000.0, 500000.0, rows),
        "o_orderdate": _days(r, "1995-01-01", 2400, rows),
        "o_orderpriority": pa.array(r.choice(prio, rows)),
    })


def write_suite_tables(seed: int, out_dir: str) -> dict[str, str]:
    """The query suite's tables at sf0.01 row counts, one parquet file
    each, in the layout ``load_table`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "lineitem": lineitem(seed, 60_000, 15_000, 2_000, 100),
        "orders": orders(seed, 15_000, 1_500),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def write_det_inputs(
    seed: int, out_dir: str, datasets: list[str], rows: int = 600_000
) -> dict[str, str]:
    """Cell base (sf0.1 ``lineitem`` rows, projected the way the
    registry's CELLS_SQL projects them: integer values, coverage in
    eighths, so sums are exact on both engines) and the project
    locations of the release ``datasets``, which the MSR items
    rasterize."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "cells", str(rows))
    price = _money(r, 900.0, 105000.0, rows)
    tax = r.integers(0, 9, rows) / 100.0
    nulls = r.random(rows) < 0.01  # nodata cells
    cells = pa.table({
        "okey": pa.array(r.integers(0, rows // 4, rows), pa.int64()),
        "value": pa.array(np.round(price), mask=nulls),
        "coverage": r.integers(1, 8, rows) / 8.0,
        "potential": np.round(price * (1 + tax)),
        "category": pa.array(r.choice(CATEGORIES, rows)),
    })
    paths = {"cells": os.path.join(out_dir, "cells.parquet")}
    pq.write_table(cells, paths["cells"])
    paths["locations"] = os.path.join(out_dir, "locations.parquet")
    pq.write_table(locations_for(seed, datasets), paths["locations"])
    return paths


def locations_for(seed: int, datasets: list[str]) -> pa.Table:
    """Geocoded project locations per release dataset: 400 projects,
    1-4 locations each, dyadic coordinates over a 10°×10° extent and
    integer commitments."""
    parts = []
    for ds in datasets:
        r = rng(seed, "locations", ds)
        n_proj = 400
        per = r.integers(1, 5, n_proj)
        pid = np.repeat(np.arange(n_proj), per)
        n = len(pid)
        commit = r.integers(1_000, 2_000_000, n_proj).astype(np.float64)
        parts.append(pa.table({
            "dataset": pa.array([ds] * n),
            "project_id": pa.array([f"{ds}:p{i}" for i in pid]),
            "lon": r.integers(0, 640, n) / 64.0,
            "lat": r.integers(0, 640, n) / 64.0,
            "total_commitments": commit[pid],
        }))
    return pa.concat_tables(parts)


# -- DET requests -----------------------------------------------------


def _raster_entry(name: str, years: list[int], types: list[str]) -> dict:
    return {
        "name": name,
        "options": {"extract_types": list(types)},
        "files": [{"name": f"{name}_{y}", "path": f"/rasters/{name}_{y}.tif"} for y in years],
    }


def _release_entry(dataset: str, r: np.random.Generator) -> dict:
    years = sorted(int(y) for y in r.choice(YEARS, 2, replace=False))
    return {
        "dataset": dataset,
        "filters": {"years": [str(y) for y in years], "donors": ["All"]},
    }


def _boundary(r: np.random.Generator, tier: int, tag: str) -> dict:
    n = int(tier * r.uniform(0.9, 1.1))
    return {"name": f"bnd{n}_{tag}", "title": f"synthetic boundary ({n} features)"}


def cold_stream(seed: int, n: int, tag: str = "c") -> list[dict]:
    """``n`` requests whose items are all distinct from each other (and
    from any other tag's stream): the 0 % hit workload. Request ``k``
    has shape ``k % len(SHAPES)``."""
    r = rng(seed, "cold", tag)
    out = []
    for k in range(n):
        pos = k % len(SHAPES)
        n_years, type_lists, release = SHAPES[pos]
        rid = f"{tag}{k:04d}"
        raster = []
        for d, types in enumerate(type_lists):
            years = sorted(int(y) for y in r.choice(YEARS, n_years, replace=False))
            raster.append(_raster_entry(f"{rid}d{d}", years, types))
        req = {
            "_id": rid,
            "custom_name": f"cold request {rid}",
            "boundary": _boundary(r, BOUNDARY_TIERS[pos], rid),
            "raster_data": raster,
        }
        if release:
            req["release_data"] = [_release_entry(f"{release}_{rid}", r)]
        out.append(req)
    return out


def release_datasets(requests: list[dict]) -> list[str]:
    return sorted({e["dataset"] for q in requests for e in q.get("release_data", [])})


def warm_pool(seed: int) -> list[dict]:
    """Set-up requests for det_warm: for the smallest and the largest
    boundary tier, two datasets × 4 years × 4 extract types plus one
    release entry, issued as small requests so the manifest log keeps
    one commit per request."""
    r = rng(seed, "pool")
    pool = []
    for b, tier in enumerate((BOUNDARY_TIERS[0], BOUNDARY_TIERS[-1])):
        boundary = _boundary(r, tier, f"w{b}")
        years = sorted(int(y) for y in r.choice(YEARS, 4, replace=False))
        types = [str(t) for t in r.choice(RASTER_TYPES, 4, replace=False)]
        release = _release_entry(f"aiddata_w{b}", r)
        for d in range(2):
            name = f"w{b}d{d}"
            for half in (years[:2], years[2:]):
                pool.append({
                    "_id": f"pool{len(pool):02d}",
                    "boundary": boundary,
                    "raster_data": [_raster_entry(name, half, types)],
                })
        pool[-1]["release_data"] = [release]
    return pool


def _pool_catalog(pool: list[dict]) -> dict[str, dict]:
    """boundary name → {boundary, datasets: {name: (years, types)}, release}."""
    cat: dict[str, dict] = {}
    for q in pool:
        b = cat.setdefault(q["boundary"]["name"], {
            "boundary": q["boundary"], "datasets": {}, "release": None,
        })
        for e in q.get("raster_data", []):
            years, types = b["datasets"].setdefault(e["name"], ([], e["options"]["extract_types"]))
            years.extend(int(f["name"].rsplit("_", 1)[1]) for f in e["files"])
        if q.get("release_data"):
            b["release"] = q["release_data"][0]
    return cat


def warm_stream(seed: int, pool: list[dict], n: int, tag: str = "h") -> list[dict]:
    """``n`` new requests built only from pool items (100 % hits), each
    a combination of datasets, years and types no earlier request of
    the stream used, so every merge is new."""
    r = rng(seed, "warm", tag)
    cat = _pool_catalog(pool)
    bnames = sorted(cat)
    seen: set = set()
    out = []
    while len(out) < n:
        n_years, type_lists, release = SHAPES[len(out) % len(SHAPES)]
        n_ds, n_types = len(type_lists), len(type_lists[0])
        b = cat[bnames[len(out) % len(bnames)]]
        ds_names = sorted(b["datasets"])
        n_ds = min(n_ds, len(ds_names))
        chosen = sorted(str(d) for d in r.choice(ds_names, n_ds, replace=False))
        raster, key = [], []
        for d in chosen:
            years, types = b["datasets"][d]
            ys = sorted(int(y) for y in r.choice(sorted(years), min(n_years, len(years)), replace=False))
            ts = [str(t) for t in r.choice(types, min(n_types, len(types)), replace=False)]
            raster.append(_raster_entry(d, ys, ts))
            key.append((d, tuple(ys), tuple(ts)))
        with_rel = bool(release and b["release"])
        key_t = (b["boundary"]["name"], tuple(key), with_rel)
        if key_t in seen:
            continue
        seen.add(key_t)
        rid = f"{tag}{len(out):04d}"
        req = {
            "_id": rid,
            "custom_name": f"warm request {rid}",
            "boundary": b["boundary"],
            "raster_data": raster,
        }
        if with_rel:
            req["release_data"] = [b["release"]]
        out.append(req)
    return out
