"""A micro-batch's sink writes: the reject sinks and the staged leaves.

``StagingPipeline`` writes every sink of a batch — one reject sink per
contract reason plus the staged write — as concurrent Spark jobs over
the batch, persisted once.  These tests pin what that must keep:

- a failing sink fails the batch cleanly: the query raises, the
  persisted batch is released, no counts are recorded for the batch,
  and a restart from the same checkpoint converges to independently
  counted rows in every sink;
- one parquet file per ``(date, _ingest_batch)`` leaf, both for a
  one-partition batch (written without the repartition shuffle) and
  for a batch read as several partitions (repartitioned by date);
- the write threads inherit the stream thread's local properties
  without pyspark's "Tags will not be inherited" warning.
"""

from __future__ import annotations

import os
import shutil
import warnings
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from data_lake_staging_engine_spark.contracts import (
    EVENT_TIME_VALID_HI,
    EVENT_TIME_VALID_LO,
)
from data_lake_staging_engine_spark.pipeline import StagingPipeline
from data_lake_staging_engine_spark.streaming.runner import landing_copy

CONTRACTS = {"finite_measures": ("value",), "event_time_col": "ts"}


def _hostile_files(spark, sf_dir, dest) -> tuple[list[str], object]:
    """The 4 files of the events landing copy, rewritten with non-finite
    values and out-of-window event times in disjoint rows."""
    src, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    os.makedirs(dest)
    paths = []
    for i, name in enumerate(sorted(f for f in os.listdir(src) if f.endswith(".parquet"))):
        t = pq.read_table(os.path.join(src, name))
        eid = t.column("event_id").to_numpy()
        nonfinite = eid % 97 == 5
        out_of_time = (eid % 89 == 7) & ~nonfinite
        value = pc.if_else(pa.array(nonfinite), float("nan"), t.column("value"))
        ts = pc.if_else(
            pa.array(out_of_time),
            pa.scalar(datetime(1990, 1, 1), pa.timestamp("us")),
            t.column("ts").cast(pa.timestamp("us")),
        )
        t = t.set_column(t.schema.get_field_index("value"), "value", value)
        t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
        path = os.path.join(dest, f"events-{i}.parquet")
        pq.write_table(t, path)
        paths.append(path)
    return paths, schema


def _expected(paths: list[str]) -> dict[str, int]:
    """Rows each sink must hold, counted with pyarrow: the finite check
    claims a row first, then the validity window (NULL time rejected)."""
    t = pa.concat_tables(pq.read_table(p) for p in paths)
    v = t.column("value")
    nonfinite = pc.fill_null(pc.or_(pc.is_nan(v), pc.is_inf(v)), False).to_numpy(
        zero_copy_only=False
    )
    ts = t.column("ts")
    lo = pa.scalar(datetime.fromisoformat(EVENT_TIME_VALID_LO), ts.type)
    hi = pa.scalar(datetime.fromisoformat(EVENT_TIME_VALID_HI), ts.type)
    in_window = pc.fill_null(
        pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi)), False
    ).to_numpy(zero_copy_only=False)
    out_of_time = ~nonfinite & ~in_window
    return {
        "staged": int((~nonfinite & ~out_of_time).sum()),
        "nonfinite": int(nonfinite.sum()),
        "out_of_time": int(out_of_time.sum()),
    }


def _rows(root: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
        for d, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )


def _pipe(spark, tmp_path, schema) -> StagingPipeline:
    landing = tmp_path / "landing"
    landing.mkdir()
    return StagingPipeline(
        spark,
        landing_dir=str(landing),
        staged_dir=str(tmp_path / "staged"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        table=f"sink_writes_{tmp_path.name[:24]}",
        schema=schema,
        contracts=dict(CONTRACTS),
        rejects_dir=str(tmp_path / "rejects"),
    )


def _land(pipe, paths) -> None:
    for p in paths:
        shutil.copy(p, pipe.landing_dir)


@pytest.mark.parametrize("blocked", ["out_of_time", "staged"])
def test_failing_sink_fails_the_batch_and_a_restart_converges(
    spark, sf_dir, tmp_path, blocked
):
    """A plain file where a sink's directory goes fails that sink's
    write; the other sinks of the batch may have been written."""
    paths, schema = _hostile_files(spark, sf_dir, str(tmp_path / "src"))
    want = _expected(paths)
    assert want["nonfinite"] > 0 and want["out_of_time"] > 0
    pipe = _pipe(spark, tmp_path, schema)
    _land(pipe, paths)
    os.makedirs(pipe.rejects_dir)
    blocker = (
        pipe.staged_dir
        if blocked == "staged"
        else os.path.join(pipe.rejects_dir, blocked)
    )
    with open(blocker, "w") as f:
        f.write("not a directory")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    with pytest.raises(StreamingQueryException):
        pipe.run_available_now(timeout_s=180)
    assert cache.isEmpty(), "the failed batch left its persisted frame cached"
    assert pipe.reject_metrics == {}, "counts recorded for a batch that failed"

    os.remove(blocker)
    pipe.run_available_now(timeout_s=180)
    assert _rows(pipe.staged_dir) == want["staged"]
    for reason in ("nonfinite", "out_of_time"):
        assert _rows(os.path.join(pipe.rejects_dir, reason)) == want[reason], reason
    assert pipe.reject_metrics == {
        0: {"nonfinite": want["nonfinite"], "out_of_time": want["out_of_time"]}
    }
    assert cache.isEmpty()


@pytest.mark.parametrize(
    "n_files, split", [(1, None), (4, "16k")], ids=["one_partition", "multi_partition"]
)
def test_one_file_per_leaf(spark, sf_dir, tmp_path, n_files, split):
    paths, schema = _hostile_files(spark, sf_dir, str(tmp_path / "src"))
    paths = paths[:n_files]
    pipe = _pipe(spark, tmp_path, schema)
    _land(pipe, paths)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    if split:
        spark.conf.set(key, split)
    try:
        n_parts = spark.read.schema(schema).parquet(pipe.landing_dir).rdd.getNumPartitions()
        assert (n_parts == 1) == (split is None), n_parts
        pipe.run_available_now(timeout_s=180)
    finally:
        spark.conf.set(key, old)

    leaves = [
        (d, [n for n in names if n.endswith(".parquet")])
        for d, _, names in os.walk(pipe.staged_dir)
        if os.path.basename(d).startswith("_ingest_batch=")
    ]
    assert len(leaves) > 1
    assert all(len(files) == 1 for _, files in leaves), leaves
    assert _rows(pipe.staged_dir) == _expected(paths)["staged"]


def test_write_threads_inherit_without_warning(spark, sf_dir, tmp_path):
    paths, schema = _hostile_files(spark, sf_dir, str(tmp_path / "src"))
    pipe = _pipe(spark, tmp_path, schema)
    _land(pipe, paths[:1])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pipe.run_available_now(timeout_s=180)
    assert pipe.reject_metrics, "the drain ran no contract batch"
    msgs = [str(w.message) for w in caught]
    assert not any("Tags will not be inherited" in m for m in msgs), msgs
