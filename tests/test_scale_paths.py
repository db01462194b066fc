"""Scale-path features: IVF ANN recall, bucketed zero-shuffle joins,
partition pruning, watermark late-data semantics, error states."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from det_module_spark.operators.similarity import cosine_topk, ivf_topk
from det_module_spark.sources.tables import (
    _scan_floor_partitions,
    load_table,
    write_bucketed,
    write_partitioned,
)


def test_ivf_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(queries, emb, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_topk(queries, emb, k=3, n_cells=8, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    # probing half the cells must recall well above chance
    assert recall >= 0.5, f"IVF recall {recall} too low"


def test_ivf_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    a = ivf_topk(q, emb, k=3).orderBy("query_id", "rank").collect()
    b = ivf_topk(q.repartition(5), emb.repartition(7), k=3).orderBy(
        "query_id", "rank"
    ).collect()
    assert a == b


@pytest.mark.parametrize(
    "env, name",
    [
        ("SPARK_GRAFT_SCAN_PART_BYTES", "orders"),
        ("SPARK_GRAFT_SCAN_PART_BYTES_TEXT", "documents"),
    ],
)
def test_scan_floor_rejects_non_positive_target(monkeypatch, tmp_path, env, name):
    """A zero or negative per-partition byte target is a configuration
    error named by its variable, not a ZeroDivisionError; a positive
    one still sizes the floor from the input bytes."""
    f = tmp_path / f"{name}.parquet"
    f.write_bytes(b"x" * 4096)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    for bad in ("0", "-1"):
        monkeypatch.setenv(env, bad)
        with pytest.raises(ValueError, match=env):
            _scan_floor_partitions(str(f), name)
    monkeypatch.setenv(env, "1024")
    assert _scan_floor_partitions(str(f), name) == 4


def test_partition_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(ds="a" if i % 2 else "b", v=i) for i in range(100)]
    )
    path = str(tmp_path / "part")
    write_partitioned(df, path, ["ds"])
    assert os.path.isdir(os.path.join(path, "ds=a"))
    read = spark.read.parquet(path).filter(F.col("ds") == "a")
    explained = read._sc._jvm.PythonSQLUtils.explainString(
        read._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in explained and "ds#" in explained
    assert read.count() == 50


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    # warehouse dir is a static conf, pinned to /tmp in session.py
    a = spark.createDataFrame([Row(k=i % 50, v=float(i)) for i in range(1000)])
    b = spark.createDataFrame([Row(k=i % 50, w=float(i * 2)) for i in range(1000)])
    write_bucketed(a, "bt_a", "k", n_buckets=8, sort_by="k")
    write_bucketed(b, "bt_b", "k", n_buckets=8, sort_by="k")
    # disable broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        explained = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in explained
        assert "Exchange hashpartitioning" not in explained  # zero shuffles
        assert joined.count() == 1000 * 20
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_watermark_drops_late_data(spark, tmp_path):
    """Event older than watermark arriving in a later batch is dropped
    from the aggregation state (append-mode emission)."""
    from det_module_spark.streaming.windows import flatten_window, tumbling_agg

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "late_src")
    ck = str(tmp_path / "late_ck")
    out = str(tmp_path / "late_out")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_batch():
        # parquet sink: append-mode + checkpoint recovery across runs
        # (memory sink can't recover from a checkpoint)
        stream = spark.readStream.schema(schema).parquet(src)
        agg = flatten_window(
            tumbling_agg(stream, "1 hour", watermark="30 minutes")
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        return spark.read.parquet(out).collect()

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    write([(t, "click", 1.0), (t + dt.timedelta(hours=3), "click", 2.0)])
    first = run_batch()
    # watermark advanced to 12:30 -> the 10:00 window is finalized
    first_1000 = [r for r in first if r["window_start"] == "2024-01-01 10:00:00"]
    assert len(first_1000) == 1 and first_1000[0]["sum_value"] == 1.0

    # a very late event for the finalized 10:00 window + one fresh event
    write([(t + dt.timedelta(minutes=5), "click", 100.0),
           (t + dt.timedelta(hours=4), "click", 3.0)])
    second = run_batch()
    # the late event must NOT re-open the finalized window: the sink
    # still holds exactly one 10:00 row with the original sum
    second_1000 = [r for r in second if r["window_start"] == "2024-01-01 10:00:00"]
    assert len(second_1000) == 1 and second_1000[0]["sum_value"] == 1.0


def test_runner_error_state(spark, tmp_path):
    from det_module_spark.plans.runner import Engine, STATUS_ERROR

    def boom(item):
        raise RuntimeError("source unavailable")

    eng = Engine(spark, str(tmp_path / "c"), cell_source=boom)
    req = {
        "_id": "x", "boundary": {"name": "b"},
        "raster_data": [{"name": "r", "options": {"extract_types": ["mean"]},
                         "files": [{"name": "r_1998", "path": "/x"}]}],
    }
    result = eng.run_request(req)
    assert result.status == STATUS_ERROR
    assert result.error and "source unavailable" in result.error
    # nothing committed to the cache
    assert eng.cache.read().count() == 0


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Runtime DPP: a fact table partitioned on the join key must be
    pruned by a FILTERED dim at execution time — the plan's partition
    filters carry a dynamicpruning subquery, so at 100 TB the scan
    reads only the partitions the dim filter selects, without the
    fact-side predicate existing statically."""
    fact = spark.createDataFrame(
        [Row(ds=f"d{i % 10}", v=i) for i in range(1000)]
    )
    path = str(tmp_path / "dpp_fact")
    write_partitioned(fact, path, ["ds"])
    dim = spark.createDataFrame(
        [Row(ds=f"d{i}", tag="keep" if i < 2 else "drop") for i in range(10)]
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.read.parquet(path)
            .join(dim.filter(F.col("tag") == "keep"), "ds")
            .select("ds", "v")
        )
        explained = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "dynamicpruning" in explained.lower(), explained
        assert joined.count() == 200  # 2 of 10 partitions survive
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
