"""DET request lifecycle against the unmodified engine, and its oracle.

``DetBench`` wires ``det_module_spark.plans.runner.Engine`` to the
generated cells and project locations and runs one request the way a
user receives it: ``Engine.run_request`` through the bundle written by
``write_request_bundle`` (CSV, JSON, documentation, zip), along the
documented path of ``tests/test_runner.py::test_bundle_sinks``.

``check_bundle`` recomputes the delivered CSV with DuckDB straight
from the generated parquet files, with the same aggregates and
``<dataset>.<temporal|hash7>.<method>`` rename algebra as the
registry's ``request_lifecycle`` oracle.
"""

from __future__ import annotations

import math
import os
import zipfile

import pandas as pd

from perfbench.inputs import CATEGORIES, GRID, boundary_features, item_shift

MSR_VERSION = "0.1"
ASDF_FROM_CELL = "(cell_y * 1000 + cell_x)"  # MSR grid cell → feature


class DetBench:
    def __init__(self, spark, paths: dict[str, str]):
        from pyspark.sql import functions as F

        self.spark = spark
        self.F = F
        self.cells = spark.read.parquet(paths["cells"]).persist()
        self.locations = spark.read.parquet(paths["locations"]).persist()

    def load(self) -> int:
        return self.cells.count() + self.locations.count()

    # -- engine callbacks (what a deployment plugs into Engine) ---------

    def cell_source(self, item):
        F = self.F
        n = boundary_features(item.boundary)
        if item.source == "release":
            from det_module_spark.operators.msr import even_split_allocation, msr_surface

            surf = msr_surface(even_split_allocation(self.release_source(item)))
            return surf.select(
                (F.expr(ASDF_FROM_CELL) % n).alias("asdf_id"),
                F.col("sum").alias("value"),
                F.lit(1.0).alias("coverage"),
                F.col("potential"),
                F.lit(None).cast("string").alias("category"),
            )
        s = item_shift(item.data)
        return self.cells.select(
            (F.col("okey") % n).alias("asdf_id"),
            (F.col("value") + s).alias("value"),
            F.col("coverage"),
            (F.col("potential") + s).alias("potential"),
            F.col("category"),
        )

    def release_source(self, item):
        return self.locations.filter(self.F.col("dataset") == item.dataset)

    def engine(self, cache_root: str):
        from det_module_spark.plans.runner import Engine

        return Engine(
            self.spark, cache_root,
            cell_source=self.cell_source,
            release_source=self.release_source,
            categories=CATEGORIES,
        )

    @staticmethod
    def run(engine, request: dict, out_dir: str):
        """One request, end to end. Returns (result, bundle artifacts)."""
        from det_module_spark.operators.merge import MergeItem
        from det_module_spark.plans.runner import STATUS_DONE
        from det_module_spark.sources.sinks import write_request_bundle

        res = engine.run_request(request)
        if res.status != STATUS_DONE or res.merged is None:
            raise RuntimeError(f"request {request['_id']} ended in status {res.status}: {res.error}")
        merge_items = [
            MergeItem(engine.cache.get(i.spec_hash), i.dataset, i.temporal, i.extract_type)
            for i in res.items
            if i.kind == "extract"
        ]
        artifacts = write_request_bundle(request, res.merged, merge_items, out_dir)
        return res, artifacts


# -- oracle -------------------------------------------------------------

_RASTER_AGGS = {
    "mean": ["AVG(value)"],
    "count": ["COUNT(value)"],
    "sum": ["SUM(value)"],
    "min": ["MIN(value)"],
    "max": ["MAX(value)"],
    "weighted_mean": ["SUM(value * coverage) / SUM(coverage)"],
    "weighted_count": ["SUM(coverage)"],
    "weighted_sum": ["SUM(value * coverage)"],
    "categorical": [f"COUNT(*) FILTER (WHERE category = '{c}')" for c in CATEGORIES],
}


def expected_columns(request: dict) -> list[tuple[str, str, str]]:
    """[(source key, SQL aggregate, output column)] in merge order:
    release extracts first, then raster files × extract types."""
    from det_module_spark.plans.spec import msr_hash, normalize_filters

    cols = []
    for rel in request.get("release_data", []):
        ds = rel["dataset"]
        h7 = msr_hash(ds, normalize_filters(rel.get("filters")), MSR_VERSION)[:7]
        key = f"release:{ds}"
        if ds.startswith("worldbank_"):
            cols.append((key, "SUM(value)", f"{ds}.{h7}.sum"))
        else:
            cols += [
                (key, "SUM(value)", f"{ds}.{h7}.sum"),
                (key, "SUM(potential)", f"{ds}.{h7}.potential"),
                (key, "SUM(value) / SUM(potential)", f"{ds}.{h7}.reliability"),
            ]
    for raster in request.get("raster_data", []):
        name = raster["name"]
        for f in raster["files"]:
            temporal = f["name"][len(name) + 1:]
            for etype in raster["options"]["extract_types"]:
                field = f"{name}.{temporal}.{etype}"
                aggs = _RASTER_AGGS[etype]
                if etype == "categorical":
                    cols += [(f"raster:{f['name']}", a, f"{field}_{c}") for a, c in zip(aggs, CATEGORIES)]
                else:
                    cols.append((f"raster:{f['name']}", aggs[0], field))
    return cols


def _source_sql(key: str, n: int) -> str:
    kind, ref = key.split(":", 1)
    if kind == "raster":
        s = item_shift(ref)
        return (f"SELECT okey % {n} AS asdf_id, value + {s} AS value, coverage, "
                f"potential + {s} AS potential, category FROM cells")
    return f"""
        WITH loc AS (SELECT * FROM locations WHERE dataset = '{ref}'),
        cnt AS (SELECT project_id, COUNT(*) AS n FROM loc GROUP BY 1),
        alloc AS (
          SELECT CAST(FLOOR(lon / {GRID}) AS BIGINT) AS cell_x,
                 CAST(FLOOR(lat / {GRID}) AS BIGINT) AS cell_y,
                 total_commitments / n AS allocated,
                 total_commitments AS potential
          FROM loc JOIN cnt USING (project_id)),
        surf AS (SELECT cell_x, cell_y, SUM(allocated) AS s, SUM(potential) AS p
                 FROM alloc GROUP BY 1, 2)
        SELECT {ASDF_FROM_CELL} % {n} AS asdf_id, s AS value, 1.0 AS coverage,
               p AS potential, NULL AS category FROM surf"""


def expected_bundle(con, request: dict) -> pd.DataFrame:
    """The merged wide table the request must deliver (full outer join
    of every item on ``asdf_id``), in merge column order."""
    n = boundary_features(request["boundary"]["name"])
    cols = expected_columns(request)
    frames = []
    for key in dict.fromkeys(k for k, _, _ in cols):
        sel = ", ".join(f'{a} AS "{c}"' for k, a, c in cols if k == key)
        df = con.execute(f"SELECT asdf_id, {sel} FROM ({_source_sql(key, n)}) GROUP BY asdf_id").fetchdf()
        frames.append(df.set_index("asdf_id"))
    wide = frames[0].join(frames[1:], how="outer") if len(frames) > 1 else frames[0]
    return wide[[c for _, _, c in cols]]


def check_bundle(con, request: dict, artifacts: dict[str, str]) -> list[str]:
    """Problems with one delivered bundle; empty when it is correct."""
    problems = []
    for k in ("csv", "json", "doc", "zip"):
        if not os.path.exists(artifacts.get(k, "")):
            problems.append(f"missing {k} artifact")
    if problems:
        return problems
    names = set(zipfile.ZipFile(artifacts["zip"]).namelist())
    if not {"results.csv", "request_details.json", "documentation.txt"} <= names:
        problems.append(f"zip lacks artifacts: {sorted(names)}")
    got = pd.read_csv(artifacts["csv"])
    want = expected_bundle(con, request)
    header = list(got.columns)
    if header != ["asdf_id"] + list(want.columns):
        return problems + [f"header {header[:4]}... != expected {list(want.columns)[:3]}..."]
    got = got.set_index("asdf_id").sort_index()
    want = want.sort_index()
    if list(got.index) != list(want.index):
        return problems + [f"asdf_id set differs: {len(got)} vs {len(want)} rows"]
    for c in want.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _same(a, b):
                problems.append(f"{c} at asdf_id {want.index[i]}: got {a}, want {b}")
                break
    return problems


def _same(a, b) -> bool:
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
