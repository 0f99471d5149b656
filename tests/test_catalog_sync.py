"""SessionCatalogSync registers the staged Parquet layout in place.

A staged table is already at rest in one directory, so the sync is a
metadata call: an EXTERNAL table at ``staged_dir`` plus ``MSCK REPAIR
TABLE … SYNC PARTITIONS``.  These tests pin that path end to end through
``StagingPipeline`` — placement, schema, new and folded leaves, replacing
a managed entry — the copy path the versioned layout still takes, and
the guard that stops a replace from deleting the frame's own input.
"""

import os
import shutil

import pytest

from data_lake_staging_engine_spark.catalog import SessionCatalogSync
from data_lake_staging_engine_spark.pipeline import StagingPipeline
from data_lake_staging_engine_spark.streaming.runner import landing_copy


def _pipe(spark, sf_dir, tmp_path, table):
    """A pipeline over an empty landing dir plus a function that lands
    the next file of a 4-file events copy and drains it."""
    src, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    landing = tmp_path / "landing"
    landing.mkdir()
    pipe = StagingPipeline(
        spark,
        landing_dir=str(landing),
        staged_dir=str(tmp_path / "staged"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        table=table,
        schema=schema,
    )

    def land():
        shutil.copy(os.path.join(src, files.pop(0)), landing)
        return pipe.run_available_now(timeout_s=180)

    return pipe, land


def _describe(spark, table) -> dict[str, str]:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return {r["col_name"]: r["data_type"] for r in rows}


def _staged_rows(spark, pipe) -> int:
    return spark.read.schema(pipe.staged_schema()).parquet(pipe.staged_dir).count()


def _batch_ids(spark, table) -> set[int]:
    return {
        int(r["partition"].rsplit("_ingest_batch=", 1)[1])
        for r in spark.sql(f"SHOW PARTITIONS {table}").collect()
    }


def _warehouse(spark) -> str:
    return spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")


def _managed(spark, table, n):
    """A managed table of ``n`` rows.  Clears the directory an earlier
    process may have left at its default location, which would block
    the CREATE in a fresh in-memory catalog."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(os.path.join(_warehouse(spark), table), ignore_errors=True)
    spark.range(n).write.saveAsTable(table)
    assert _describe(spark, table)["Type"] == "MANAGED"


def _tree(root: str) -> set[str]:
    return {
        os.path.join(d, n) for d, dirs, names in os.walk(root) for n in dirs + names
    }


def test_plain_layout_is_registered_in_place(spark, sf_dir, tmp_path):
    table = "cs_plain_events"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    before = _tree(_warehouse(spark))
    pipe, land = _pipe(spark, sf_dir, tmp_path, table)

    back = land()
    desc = _describe(spark, table)
    assert desc["Type"] == "EXTERNAL"
    assert desc["Location"].removeprefix("file:") == pipe.staged_dir
    assert _tree(_warehouse(spark)) == before
    assert spark.table(table).schema == pipe.staged_schema()
    assert back.count() == _staged_rows(spark, pipe) > 0
    assert _batch_ids(spark, table) == {0}

    # a second drain's leaves are visible through the same entry
    back = land()
    assert _batch_ids(spark, table) == {0, 1}
    n = _staged_rows(spark, pipe)
    assert back.count() == n == spark.table(table).count()

    # compaction folds batches 0 and 1 into the -1 epoch; the re-sync
    # drops their leaves from the catalog
    assert pipe.compact_staged().count() == n
    assert _batch_ids(spark, table) == {-1}
    assert spark.table(table).count() == n
    assert _tree(_warehouse(spark)) == before


def test_resync_replaces_a_managed_table(spark, sf_dir, tmp_path):
    table = "cs_managed_events"
    _managed(spark, table, 7)
    pipe, land = _pipe(spark, sf_dir, tmp_path, table)

    back = land()
    desc = _describe(spark, table)
    assert desc["Type"] == "EXTERNAL"
    assert desc["Location"].removeprefix("file:") == pipe.staged_dir
    assert back.count() == _staged_rows(spark, pipe) > 0
    assert spark.table(table).schema == pipe.staged_schema()


def test_versioned_layout_syncs_snapshot_and_live_rows(spark, sf_dir, tmp_path):
    table = "cs_versioned_events"
    pipe, land = _pipe(spark, sf_dir, tmp_path, table)
    n_first = land().count()
    assert pipe.compact_staged(versioned=True).count() == n_first

    # the late batch is live; the snapshot holds the first one
    back = land()
    live = _staged_rows(spark, pipe)
    assert 0 < live
    assert back.count() == n_first + live == spark.table(table).count()
    # snapshot ∪ live is not at rest in one directory: copied
    assert _describe(spark, table)["Type"] == "MANAGED"


def test_sync_refuses_to_delete_its_own_input(spark):
    sync = SessionCatalogSync()
    table = "cs_guard_managed"
    _managed(spark, table, 5)
    location = _describe(spark, table)["Location"]

    # copy path: the frame reads the managed table it would replace
    with pytest.raises(ValueError, match="own input"):
        sync.sync_table(spark.table(table).filter("id > 0"), table)
    # metadata path: a plain scan of that managed table's directory
    with pytest.raises(ValueError, match="own input"):
        sync.sync_table(spark.read.parquet(location), table)
    assert spark.table(table).count() == 5
    spark.sql(f"DROP TABLE {table}")

    # a staged dir placed at the default location of the table it syncs
    table = "cs_guard_staged"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    staged = os.path.join(_warehouse(spark), table)
    spark.range(4).write.mode("overwrite").parquet(staged)
    with pytest.raises(ValueError, match="own input"):
        sync.sync_table(spark.read.parquet(staged).filter("id > 0"), table)
    assert spark.read.parquet(staged).count() == 4
    shutil.rmtree(staged)
