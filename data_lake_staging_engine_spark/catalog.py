"""Catalog-sync layer (§2.A a11) — the reference's Glue-sync re-expressed.

The reference registers every staged Parquet prefix in the AWS Glue Data
Catalog so it is immediately queryable (SURVEY.md §0 [PK] profile). The
engine abstracts that behind ``CatalogSync``:

- ``SessionCatalogSync`` — the tested implementation: Spark session
  catalog / warehouse. A frame that is a plain scan of one Parquet
  directory (the staged layout ``StagingPipeline.sync`` hands over) is
  REGISTERED, not copied: an EXTERNAL table at that directory plus
  ``MSCK REPAIR TABLE … SYNC PARTITIONS`` — a driver-side metadata
  call per batch, no data rewrite. Any other frame (a union, a
  filtered or single-file scan) is materialized with ``saveAsTable``.
  On a real deployment with ``spark.sql.catalogImplementation=hive``
  and the Glue Data Catalog client factory configured, the exact same
  ``CREATE TABLE … LOCATION`` / ``MSCK REPAIR`` statements land the
  table in Glue — the idiomatic Spark-on-AWS wiring.
- ``GlueBoto3CatalogSync`` — thin, clearly-marked untested shim for
  environments that sync Glue out-of-band via boto3 (no AWS access in
  this environment; SURVEY.md §7 hard-list #5).

Reader semantics of a registered table: a catalog read sees the leaves
registered at the last sync, read LIVE from the staged directory (as
Athena reads a Glue table over S3), not a frozen copy. Leaves a later
drain adds appear at the next sync; leaves a compaction folds away are
dropped by the sync that compaction runs. The fold-and-re-sync is
therefore a maintenance op under the pipeline's one-writer rule
(DEPLOYMENT.md): a query planned before the fold can fail on the
removed files and must be re-run.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CatalogSync:
    """Register a staged DataFrame/location as a queryable table."""

    def sync_table(self, df: DataFrame, table: str, partition_cols: list[str] | None = None) -> None:
        raise NotImplementedError

    def read_table(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError


class SessionCatalogSync(CatalogSync):
    """Session-catalog (local warehouse / Hive metastore / Glue-via-Hive)
    implementation — the tested code path."""

    def sync_table(self, df, table, partition_cols=None):
        """Create-or-update ``table`` from ``df``.

        Metadata only when ``df`` is a plain scan of one Parquet
        directory and that directory is partitioned by (at least)
        ``partition_cols``: an EXTERNAL table at the directory,
        partitioned by the directory's own partition columns, then
        ``MSCK REPAIR TABLE … SYNC PARTITIONS`` adds the leaves new
        batches wrote and drops the ones compaction folded. The entry is
        dropped and recreated only when it is managed, sits elsewhere,
        or its columns differ.

        Every other frame is materialized with ``saveAsTable`` — frames
        that are not at rest in one directory: the versioned layout's
        snapshot ∪ live union, a single-file scan (a11), anything
        filtered or joined.

        Refuses (``ValueError``) to drop a managed table, or clear the
        default table directory, that contains the frame's own input:
        the drop would delete the source before the write reads it.
        """
        spark = df.sparkSession
        ident = spark._jsparkSession.sessionState().sqlParser().parseTableIdentifier(table)
        scan = _directory_scan(df)
        if scan is not None and set(partition_cols or ()) <= set(scan[1]):
            self._register(spark, df, table, ident, *scan)
        else:
            self._materialize(spark, df, table, ident, partition_cols)

    @staticmethod
    def _register(spark, df, table, ident, root, pcols):
        # Spark keeps a datasource table's partition columns last.
        schema = StructType(
            [f for f in df.schema.fields if f.name not in pcols]
            + [df.schema[c] for c in pcols]
        )
        meta = _existing(spark, ident)
        if meta is not None and not (
            meta.tableType().name() == "EXTERNAL"
            and meta.location().toString().rstrip("/") == root.rstrip("/")
            and _py_schema(meta.schema()).simpleString() == schema.simpleString()
            and _py_schema(meta.partitionSchema()).names == pcols
        ):
            _refuse_drop_of_input(meta, [root], table)
            spark.sql(f"DROP TABLE {table}")
            meta = None
        if meta is None:
            ddl = spark._jsparkSession.parseDataType(schema.json()).toDDL()
            parts = ", ".join(f"`{c}`" for c in pcols)
            location = root.replace("\\", "\\\\").replace("'", "\\'")
            spark.sql(
                f"CREATE TABLE {table} ({ddl}) USING parquet"
                + (f" PARTITIONED BY ({parts})" if pcols else "")
                + f" LOCATION '{location}'"
            )
        spark.sql(
            f"MSCK REPAIR TABLE {table} SYNC PARTITIONS"
            if pcols
            else f"REFRESH TABLE {table}"
        )

    @staticmethod
    def _materialize(spark, df, table, ident, partition_cols):
        roots = _input_roots(df)
        meta = _existing(spark, ident)
        if meta is not None:
            _refuse_drop_of_input(meta, roots, table)
        jcat = spark._jsparkSession.sessionState().catalog()
        default = jcat.defaultTablePath(ident).toString()
        _refuse_input_under(roots, default, table)
        # A fresh (in-memory) metastore doesn't know about tables from a
        # previous process, but their warehouse directories survive and
        # block CREATE — drop both, like the reference's idempotent
        # create-or-update Glue sync.
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        path = spark._jvm.org.apache.hadoop.fs.Path(default)
        path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.saveAsTable(table)

    def read_table(self, spark, table):
        return spark.table(table)

    def drop_table(self, spark: SparkSession, table: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _py_schema(jschema) -> StructType:
    return StructType.fromJson(json.loads(jschema.json()))


def _existing(spark: SparkSession, ident):
    """The session catalog's entry for ``ident``, or None."""
    jcat = spark._jsparkSession.sessionState().catalog()
    return jcat.getTableMetadata(ident) if jcat.tableExists(ident) else None


def _directory_scan(df: DataFrame) -> tuple[str, list[str]] | None:
    """(root URI, partition columns) when ``df`` is a bare scan of one
    Parquet directory — nothing on top of the relation and no read
    option beyond the path — else None."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    opts = rel.options()
    roots = rel.location().rootPaths()
    if (
        rel.fileFormat().toString() != "Parquet"
        or roots.size() != 1
        or opts.size() != int(opts.contains("path"))
    ):
        return None
    root = roots.apply(0)
    fs = root.getFileSystem(df.sparkSession._jsc.hadoopConfiguration())
    if not fs.getFileStatus(root).isDirectory():
        return None
    return root.toString(), _py_schema(rel.partitionSchema()).names


def _input_roots(df: DataFrame) -> list[str]:
    """Root paths of every file relation ``df`` reads (catalog tables
    included: their file index is rooted at the table location)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() == "LogicalRelation"
            and leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
        ):
            paths = leaf.relation().location().rootPaths()
            roots += [paths.apply(j).toString() for j in range(paths.size())]
    return roots


def _refuse_input_under(roots: list[str], location: str, table: str) -> None:
    loc = location.rstrip("/")
    for r in roots:
        if r.rstrip("/") == loc or r.startswith(loc + "/"):
            raise ValueError(
                f"refusing to sync {table!r}: its directory {loc!r} holds "
                f"the frame's own input {r!r}, which the replace would "
                "delete before the write reads it.  Stage elsewhere or "
                "sync under another table name."
            )


def _refuse_drop_of_input(meta, roots: list[str], table: str) -> None:
    """Dropping a MANAGED table deletes its directory."""
    if meta.tableType().name() == "MANAGED":
        _refuse_input_under(roots, meta.location().toString(), table)


class GlueBoto3CatalogSync(CatalogSync):
    """Direct Glue Data Catalog sync for non-Hive deployments (the
    public ``boto3`` Glue API: ``create_table`` / ``update_table`` with
    a TableInput document).

    The Glue client is INJECTABLE: production passes nothing and gets
    ``boto3.client('glue')``; tests pass a fake that records the API
    calls — so the whole adapter contract (Spark-schema -> Glue column
    mapping, partition-key split, parquet serde descriptor, idempotent
    create-or-update) is exercised offline (tests/test_glue_contract
    .py); only the wire client itself needs AWS. Against a real
    account this is the standard external-table registration shape."""

    _PARQUET_INPUT = "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat"
    _PARQUET_OUTPUT = "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat"
    _PARQUET_SERDE = "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"

    def __init__(self, database: str, s3_location_root: str, client=None):
        self.database = database
        self.s3_location_root = s3_location_root.rstrip("/")
        self._client = client

    def _glue(self):
        if self._client is None:  # pragma: no cover - needs AWS
            try:
                import boto3
            except ImportError as e:
                raise NotImplementedError(
                    "GlueBoto3CatalogSync requires boto3/AWS access (offline "
                    "env); use SessionCatalogSync, or Hive+Glue catalog wiring"
                ) from e
            self._client = boto3.client("glue")
        return self._client

    def table_input(self, df: DataFrame, table: str, partition_cols=None) -> dict:
        """Build the Glue TableInput for a staged DataFrame. Spark's
        ``DataType.simpleString()`` already emits Hive/Glue-compatible
        type names (bigint, double, array<double>, struct<...>), so the
        schema maps 1:1; partition columns move from Columns to
        PartitionKeys exactly as Hive-layout parquet requires."""
        pcols = list(partition_cols or [])
        fields = {f.name: f for f in df.schema.fields}
        missing = [c for c in pcols if c not in fields]
        if missing:
            raise ValueError(f"partition columns not in schema: {missing}")
        data_cols = [
            {"Name": f.name, "Type": f.dataType.simpleString()}
            for f in df.schema.fields
            if f.name not in pcols
        ]
        part_keys = [
            {"Name": c, "Type": fields[c].dataType.simpleString()} for c in pcols
        ]
        return {
            "Name": table,
            "TableType": "EXTERNAL_TABLE",
            "Parameters": {"classification": "parquet"},
            "PartitionKeys": part_keys,
            "StorageDescriptor": {
                "Columns": data_cols,
                "Location": f"{self.s3_location_root}/{table}",
                "InputFormat": self._PARQUET_INPUT,
                "OutputFormat": self._PARQUET_OUTPUT,
                "SerdeInfo": {"SerializationLibrary": self._PARQUET_SERDE},
            },
        }

    def sync_table(self, df, table, partition_cols=None):
        """Idempotent create-or-update (the same semantics as
        SessionCatalogSync's, expressed the Glue way: update when the
        table exists, create when it doesn't)."""
        glue = self._glue()
        ti = self.table_input(df, table, partition_cols)
        try:
            glue.get_table(DatabaseName=self.database, Name=table)
        except glue.exceptions.EntityNotFoundException:
            glue.create_table(DatabaseName=self.database, TableInput=ti)
            return
        glue.update_table(DatabaseName=self.database, TableInput=ti)

    def read_table(self, spark, table):
        return spark.table(f"{self.database}.{table}")
