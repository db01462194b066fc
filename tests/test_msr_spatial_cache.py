"""MSR allocation, grid-bucketed spatial join, cache idempotency, and
schema-carrying cache reads."""

import math
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from det_module_spark.operators.extract_types import zonal_extract
from det_module_spark.operators.msr import (
    apply_release_filters,
    even_split_allocation,
    msr_surface,
)
from det_module_spark.operators.spatial import spatial_join_rect
from det_module_spark.plans.cache import CacheManifest


@pytest.fixture(scope="module")
def locations(spark):
    rows = [
        # project A: 100.0 over 2 locations, 2002-2004
        Row(project_id="A", lon=0.01, lat=0.01, donors="France",
            ad_sector_names="Education", start_year=2002, end_year=2004,
            total_commitments=100.0),
        Row(project_id="A", lon=0.07, lat=0.01, donors="France",
            ad_sector_names="Education", start_year=2002, end_year=2004,
            total_commitments=100.0),
        # project B: 90.0 over 3 locations, 1999-2001
        Row(project_id="B", lon=0.01, lat=0.01, donors="Japan",
            ad_sector_names="Health", start_year=1999, end_year=2001,
            total_commitments=90.0),
        Row(project_id="B", lon=0.07, lat=0.07, donors="Japan",
            ad_sector_names="Health", start_year=1999, end_year=2001,
            total_commitments=90.0),
        Row(project_id="B", lon=0.12, lat=0.01, donors="Japan",
            ad_sector_names="Health", start_year=1999, end_year=2001,
            total_commitments=90.0),
    ]
    return spark.createDataFrame(rows)


def test_even_split_allocation(locations):
    alloc = even_split_allocation(locations)
    rows = alloc.collect()
    by_project = {}
    for r in rows:
        by_project.setdefault(r["project_id"], []).append(r)
    assert all(math.isclose(r["allocated"], 50.0) for r in by_project["A"])
    assert all(math.isclose(r["allocated"], 30.0) for r in by_project["B"])
    assert all(r["potential"] == r["total_commitments"] for r in rows)


def test_msr_surface_triple(locations):
    surface = msr_surface(even_split_allocation(locations))
    cells = {(r["cell_x"], r["cell_y"]): r for r in surface.collect()}
    # lon 0.01 -> cell 0; lon 0.07 -> cell 1; lon 0.12 -> cell 2 at res 0.05
    assert set(cells) == {(0, 0), (1, 0), (1, 1), (2, 0)}
    c00 = cells[(0, 0)]
    assert math.isclose(c00["sum"], 50.0 + 30.0)
    assert math.isclose(c00["potential"], 100.0 + 90.0)
    assert math.isclose(c00["reliability"], 80.0 / 190.0)


def test_year_overlap_filter(locations):
    # interval overlap semantics (templates/aid_data.txt:5)
    assert apply_release_filters(locations, years=(2001, 2002)).count() == 5
    assert apply_release_filters(locations, years=(2005, 2010)).count() == 0
    assert apply_release_filters(locations, donors=["France"]).count() == 2
    assert (
        apply_release_filters(locations, commitments=(95.0, 200.0)).count() == 2
    )


def test_spatial_join_rect(spark):
    points = spark.createDataFrame(
        [Row(pid=i, lon=x, lat=y) for i, (x, y) in enumerate(
            [(0.5, 0.5), (1.5, 0.5), (2.5, 2.5), (9.9, 9.9), (10.1, 0.5)]
        )]
    )
    # two rectangles tiling [0,2)x[0,10) and [2,10)x[0,10)
    bounds = spark.createDataFrame(
        [
            Row(asdf_id=1, minx=0.0, miny=0.0, maxx=2.0, maxy=10.0),
            Row(asdf_id=2, minx=2.0, miny=0.0, maxx=10.0, maxy=10.0),
        ]
    )
    joined = spatial_join_rect(points, bounds, bucket_size=1.0)
    got = {(r["pid"], r["asdf_id"]) for r in joined.collect()}
    # every in-bounds point assigned exactly once; 10.1 is outside
    assert got == {(0, 1), (1, 1), (2, 2), (3, 2)}


def test_cache_round_trip_and_idempotency(spark, tmp_path):
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    items = spark.createDataFrame(
        [Row(spec_hash="h1", dataset="d1"), Row(spec_hash="h2", dataset="d2")]
    )
    # empty manifest: everything is missing
    assert cache.missing(items).count() == 2
    result = spark.createDataFrame([Row(asdf_id=1, exfield_0=4.2)])
    cache.put_many([("h1", "extract", result)])
    # second pass: only h2 missing; h1 readable and complete
    missing = cache.missing(items)
    assert [r["spec_hash"] for r in missing.collect()] == ["h2"]
    assert items.join(missing, "spec_hash", "left_anti").count() == 1
    assert cache.get("h1").collect()[0]["exfield_0"] == 4.2
    # re-put is idempotent (reference: find-then-update-else-insert,
    # extract_check.py:165-183)
    cache.put_many([("h1", "extract", result)])
    assert cache.missing(items).count() == 1
    assert cache.read().filter(F.col("spec_hash") == "h1").count() == 1


def test_cache_concurrent_put_many_no_lost_rows(spark, tmp_path):
    """VERDICT r01 #5 'done' bar: two threads commit disjoint hash
    batches through the transaction log; every row survives (the old
    rewrite-in-place manifest could drop a concurrent batch). A reader
    thread races the writers: every read succeeds and sees a subset of
    the final state (commit files are immutable, so a lazily replayed
    listing can never break or go partial)."""
    import threading

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    result = spark.createDataFrame([Row(asdf_id=1, exfield_0=1.0)])
    want = {f"{p}{i}" for p in ("a", "b") for i in range(10)}
    errors = []
    seen = []
    done = threading.Event()

    def writer(prefix):
        try:
            # many small batches to force version-claim interleaving
            for i in range(10):
                cache.put_many([(f"{prefix}{i}", "extract", result)])
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def reader():
        try:
            while True:
                seen.append({r["spec_hash"] for r in cache.read().collect()})
                if done.is_set():
                    break
        except Exception as e:  # pragma: no cover
            errors.append(e)

    writers = [
        threading.Thread(target=writer, args=(p,)) for p in ("a", "b")
    ]
    reading = threading.Thread(target=reader)
    reading.start()
    for t in writers:
        t.start()
    for t in writers:
        t.join()
    done.set()
    reading.join()
    assert not errors, errors
    assert seen and all(s <= want for s in seen)
    got = {r["spec_hash"] for r in cache.read().collect()}
    assert got == want
    items = spark.createDataFrame([Row(spec_hash=h) for h in sorted(want)])
    assert cache.missing(items).count() == 0
    # every commit claimed a distinct version; log replay is stable
    assert len(cache.versions()) == 20
    assert cache.read().count() == 20


def test_vacuum_reclaims_orphans_with_retention(spark, tmp_path):
    """vacuum() removes result dirs no manifest row references —
    put_many's crash-safe write-then-commit ordering can leave them —
    but NEVER inside the retention window (a live put_many may have
    written-but-not-yet-committed them)."""
    import time

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    result = spark.createDataFrame([Row(asdf_id=1, exfield_0=1.0)])
    cache.put_many([("live", "extract", result)])
    # simulate a crashed batch: artifact on disk, no manifest row
    orphan = cache.result_path("crashed")
    result.write.mode("overwrite").parquet(orphan)
    assert os.path.isdir(orphan)
    # inside the retention window: protected
    assert cache.vacuum(retention_s=3600) == []
    assert os.path.isdir(orphan)
    # age it out (rewind mtime), dry-run first, then reclaim
    old = time.time() - 100
    os.utime(orphan, (old, old))
    assert cache.vacuum(retention_s=10, dry_run=True) == [orphan]
    assert os.path.isdir(orphan)
    assert cache.vacuum(retention_s=10) == [orphan]
    assert not os.path.isdir(orphan)
    # the referenced artifact survives regardless of age
    live = cache.result_path("live")
    os.utime(live, (old, old))
    assert cache.vacuum(retention_s=10) == []
    assert cache.get("live").count() == 1


# -- get(): the reader is built from the schema in the artifact's footer --

CELLS = [
    # (asdf_id, value, coverage, potential, category)
    (1, 10.0, 0.5, 20.0, "water"),
    (1, 20.0, 1.0, 20.0, "water"),
    (1, 30.0, 0.25, 40.0, "forest"),
    (2, 5.0, 1.0, 10.0, "desert"),
    (2, None, 0.5, 10.0, "water"),
]


@pytest.fixture(scope="module")
def cells(spark):
    return spark.createDataFrame(
        CELLS, "asdf_id long, value double, coverage double, "
        "potential double, category string",
    )


ARTIFACTS = {
    # the engine coalesces extracts and MSR surfaces to one file
    "scalar": lambda spark, cells, locs: zonal_extract(cells, "mean")
    .coalesce(1),
    "categorical": lambda spark, cells, locs: zonal_extract(
        cells, "categorical", categories=["desert", "forest", "water"]
    ).coalesce(1),
    "reliability": lambda spark, cells, locs: zonal_extract(
        cells, "reliability"
    ).coalesce(1),
    "msr": lambda spark, cells, locs: msr_surface(
        even_split_allocation(locs)
    ).coalesce(1),
    # streaming cache-sink artifacts are not coalesced
    "multi_file": lambda spark, cells, locs: spark.range(0, 4, 1, 2)
    .withColumn("v", F.col("id") * 0.5),
    "empty": lambda spark, cells, locs: zonal_extract(cells, "sum")
    .filter(F.lit(False))
    .coalesce(1),
}


@pytest.mark.parametrize("kind", sorted(ARTIFACTS))
def test_cache_get_matches_inferred_read(spark, tmp_path, cells, locations, kind):
    """get(h) is the frame spark.read.parquet would infer: same schema,
    same rows, for every kind of artifact the cache holds."""
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    cache.put_many([("h", kind, ARTIFACTS[kind](spark, cells, locations))])
    path = cache.result_path("h")
    if kind == "multi_file":
        assert len([n for n in os.listdir(path) if n.startswith("part-")]) == 2
    got, want = cache.get("h"), spark.read.parquet(path)
    assert got.schema == want.schema
    rows = sorted(got.collect())
    assert rows == sorted(want.collect())
    assert bool(rows) == (kind != "empty")


def _jobs_run_by(spark, group, fn):
    """Spark jobs ``fn`` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cache_get_starts_no_spark_job(spark, tmp_path):
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    cache.put_many([("h", "extract", spark.range(3).coalesce(1))])
    path = cache.result_path("h")
    # control: schema inference is a job, so the count can see one
    assert _jobs_run_by(spark, "infer-read", lambda: spark.read.parquet(path)) >= 1
    assert _jobs_run_by(spark, "cache-get", lambda: cache.get("h")) == 0


def test_cache_get_missing_artifact_is_key_error(spark, tmp_path):
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    with pytest.raises(KeyError, match="absent"):
        cache.get("absent")
    # a directory holding only bookkeeping files has no data file either
    os.makedirs(cache.result_path("husk"))
    open(os.path.join(cache.result_path("husk"), "_SUCCESS"), "w").close()
    with pytest.raises(KeyError, match="husk"):
        cache.get("husk")


def test_cache_get_footer_without_spark_schema_is_value_error(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    path = cache.result_path("foreign")
    os.makedirs(path)
    pq.write_table(pa.table({"x": [1, 2]}), os.path.join(path, "part-0.parquet"))
    with pytest.raises(ValueError, match="part-0.parquet"):
        cache.get("foreign")
