"""The workloads: what each generates, the ops it times and how it
checks their outputs.

A workload exposes
- ``inputs(b)``: write its seeded input files (timed as set-up);
- ``warmup(b)``: the engine work done once before the first timed op,
  which also warms the JVM (analytics: b20 on a small table and the
  band-index build; ingest: the pipeline's backlog drain);
- ``ops(b)``: the timed ops of a run, in order: a fixed list, so every
  run does the same work however fast the engine is;
- ``check(b)``: untimed output checks, returning ``{what: error}`` for
  each output that was wrong.

``b`` is the running ``Bench`` (run.py): session, seed, run root,
tracer.  Ops call the engine only through its public functions.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

# Row counts per table: the fixture's sf0.01 counts, so that one run --
# set-up, one pass of every op and the DuckDB oracle checks -- fits the
# benchmark's time per run on a 4-core host (README.md, "Sizes").
SF_SMALL = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "users": 150,
    "documents": 500, "embeddings": 500,
}
SF_INGEST_EVENTS = 100_000
OPEN_DOCS = 3_000  # x3 replicated: ~8,900 distinct token sets
WARMUP_LINEITEM = 6_000

QUERY_MIX = (
    "b20_agg_groupby", "b10_join_inner", "b15_join_broadcast",
    "b18_join_asof", "b41_topk_per_group", "c03_win_running_sum",
    "c05_win_range_interval", "d05_fn_array", "d13_fn_url",
    "e08_stream_stream_join",
)


@dataclass
class Op:
    name: str  # metric key, e.g. "g02_3x"
    layer: str  # module the op exercises; "op" for a step over several
    fn: object  # () -> pyarrow.Table
    in_p50: bool = True  # counts in op_p50_s (compaction does not)


class _Rows:
    """Adapter giving ``testing.compare`` the ``columns``/``collect()``
    it reads from a DataFrame, over an already materialized result."""

    def __init__(self, tab: pa.Table) -> None:
        self.columns = tab.column_names
        self._tab = tab

    def collect(self):
        cols = [self._tab.column(c).to_pylist() for c in self.columns]
        return list(zip(*cols))


def duck(sf_dir: str, tables) -> object:
    """DuckDB connection with one view per table, reading single-file or
    multi-file table paths alike."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def materialize(df) -> pa.Table:
    """Run a query to completion and hand its rows to the caller."""
    return df.toArrow()


def _oracle_check(name, tab, con, sql) -> str | None:
    from data_lake_staging_engine_spark.testing import compare

    res = compare(name, _Rows(tab), con, sql)
    return None if res.ok else res.detail or "mismatch"


# -- query_mix ---------------------------------------------------------------


class QueryMix:
    tables = ("region", "nation", "customer", "orders", "lineitem",
              "events", "documents", "embeddings")

    def inputs(self, b) -> None:
        self.sf = os.path.join(b.root, "sf")
        os.makedirs(self.sf)
        tabs = datagen.make_tables(b.seed, SF_SMALL, self.tables)
        rng = np.random.default_rng(b.seed)
        for t, tab in tabs.items():
            n_files = 1 if tab.num_rows < 100 else 7
            datagen.write_table(datagen.permute(rng, tab), self.sf, t, n_files)
        self.warm = os.path.join(b.root, "warmup")
        os.makedirs(self.warm)
        tab = datagen.make_tables(b.seed, dict(SF_SMALL, lineitem=WARMUP_LINEITEM), ["lineitem"])
        datagen.write_table(tab["lineitem"], self.warm, "lineitem")

    def warmup(self, b) -> None:
        from data_lake_staging_engine_spark.registry import registry

        self.reg = registry()
        self.outputs: dict[str, pa.Table] = {}  # each op's output, for check()
        materialize(self.reg["b20_agg_groupby"].fn(b.spark, self.warm))

    def ops(self, b) -> list[Op]:
        ops = []
        for q in QUERY_MIX:
            layer = {"b": "relational", "c": "windows", "d": "functions",
                     "e": "streaming"}[q[0]]
            fn = self.reg[q].fn

            def run(q=q, fn=fn):
                return self.outputs.setdefault(q, materialize(fn(b.spark, self.sf)))

            ops.append(Op(q, layer, run))
        return ops

    def check(self, b) -> dict[str, str]:
        con = duck(self.sf, self.tables)
        bad = {}
        for q, tab in self.outputs.items():
            err = _oracle_check(q, tab, con, self.reg[q].oracle)
            if err:
                bad[q] = err
        return bad


# -- dedup -------------------------------------------------------------------


class Dedup:
    """g02, g31 and g32 on the fixture-drawn sf0.01 documents, where g02
    takes the all-pairs branch; g02 again on the 3x replica of the open
    corpus, which crosses ``_ALLPAIRS_MAX_REPS`` and takes the
    prefix-filter branch."""

    names = ("g02", "g02_3x", "g31", "g32")

    def inputs(self, b) -> None:
        from scripts.make_replicated_copy import replicate

        self.sf = os.path.join(b.root, "docs")
        self.sf3 = os.path.join(b.root, "docs_3x")
        os.makedirs(self.sf)
        os.makedirs(os.path.join(self.sf3, "documents.parquet"))
        tabs = datagen.make_tables(
            b.seed, {"documents": SF_SMALL["documents"], "open_documents": OPEN_DOCS},
            ["documents", "open_documents"],
        )
        rng = np.random.default_rng(b.seed)
        datagen.write_table(datagen.permute(rng, tabs["documents"]), self.sf, "documents")
        open_docs = datagen.permute(rng, tabs["open_documents"])
        for i in range(3):
            pq.write_table(
                replicate(open_docs, "documents", i),
                os.path.join(self.sf3, "documents.parquet", f"part-{i}.parquet"),
            )

    def warmup(self, b) -> None:
        from data_lake_staging_engine_spark.operators.llmops import BandSignatureIndex
        from data_lake_staging_engine_spark.registry import registry
        from data_lake_staging_engine_spark.sources import load

        self.reg = registry()
        self.outputs: dict[str, pa.Table] = {}
        self.index_root = os.path.join(b.root, "band_index")
        docs = load(b.spark, self.sf, "documents").select("doc_id", "text")
        corpus = docs.filter(docs.doc_id % 7 != 0)
        with b.tracer.span("llmops.index_build", "llmops"):
            BandSignatureIndex(self.index_root, b.spark).build(corpus)

    def ops(self, b) -> list[Op]:
        reg, sf = self.reg, self.sf
        calls = {
            "g02": lambda: reg["g02_dedup_near"].fn(b.spark, sf),
            "g02_3x": lambda: reg["g02_dedup_near"].fn(b.spark, self.sf3),
            "g31": lambda: reg["g31_dedup_segments"].fn(b.spark, sf),
            "g32": lambda: reg["g32_dedup_band_probe"].fn(
                b.spark, sf, index_root=self.index_root
            ),
        }
        ops = []
        for name in self.names:

            def run(name=name):
                return self.outputs.setdefault(name, materialize(calls[name]()))

            ops.append(Op(name, "llmops", run))
        return ops

    def check(self, b) -> dict[str, str]:
        oracle = {
            "g02": "g02_dedup_near", "g02_3x": "g02_dedup_near",
            "g31": "g31_dedup_segments",
        }
        con = duck(self.sf, ["documents"])
        con3 = duck(self.sf3, ["documents"])
        bad = {}
        for name, tab in self.outputs.items():
            if name == "g32":
                continue
            err = _oracle_check(
                name, tab, con3 if name == "g02_3x" else con, self.reg[oracle[name]].oracle
            )
            if err:
                bad[name] = err
        if "g32" in self.outputs:
            err = self._check_probe(con)
            if err:
                bad["g32"] = err
        return bad

    def _check_probe(self, con) -> str | None:
        """g32's near verdicts must be a subset of the exact incremental
        dedup's near/exact set with recall >= 0.90 (the floor
        tests/test_dedup_recall.py pins); the exact set is g30's
        registered oracle."""
        exact = {
            d for d, v, _ in con.execute(self.reg["g30_dedup_incremental"].oracle).fetchall()
            if v in ("near", "exact")
        }
        probe = self.outputs["g32"].to_pydict()
        near = {d for d, v in zip(probe["doc_id"], probe["verdict"]) if v == "near"}
        if not exact:
            return "exact near set is empty"
        if not near <= exact:
            return f"{len(near - exact)} probe pairs outside the exact set"
        recall = len(near & exact) / len(exact)
        return None if recall >= 0.90 else f"recall {recall:.4f} < 0.90"


# -- ingest ------------------------------------------------------------------


INGEST_FILES = 20
BACKLOG_FILES = 4  # drained in set-up: warms the loop, gives the table a size
LANDS = 6  # timed land steps; the remaining files are never landed
VIOLATION_SHARE = 0.005  # per kind: non-finite value, event time outside window
READ_SQL = (
    "SELECT event_type, COUNT(*) AS n, "
    "SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents "
    "FROM {table} GROUP BY event_type"
)


class Ingest:
    table = "events_staged"
    contracts = {"finite_measures": ("value",), "event_time_col": "ts"}

    def inputs(self, b) -> None:
        """Split the events into landing files and inject seeded contract
        violations into disjoint rows."""
        rng = np.random.default_rng(b.seed)
        ev = datagen.make_tables(
            b.seed, {"events": SF_INGEST_EVENTS, "users": SF_SMALL["users"]}, ["events"]
        )["events"]
        n = ev.num_rows
        k = int(n * VIOLATION_SHARE)
        rows = rng.choice(n, 2 * k, replace=False)
        nonfinite, out_of_time = rows[:k], rows[k:]
        value = ev.column("value").to_numpy().copy()
        value[nonfinite] = rng.choice([np.nan, np.inf, -np.inf], k)
        ts = ev.column("ts").cast(pa.int64()).to_numpy().copy()
        ts[out_of_time] = np.where(
            rng.random(k) < 0.5,
            631_152_000_000_000,  # 1990-01-01: before the validity window
            4_260_211_200_000_000,  # 2105-01-01: after it
        )
        ev = ev.set_column(ev.schema.get_field_index("value"), "value", pa.array(value))
        ev = ev.set_column(
            ev.schema.get_field_index("ts"), "ts", pa.array(ts, pa.timestamp("us"))
        )
        kind = np.zeros(n, dtype=np.int8)  # 0 clean, 1 non-finite, 2 out of time
        kind[nonfinite] = 1
        kind[out_of_time] = 2

        # Equal files with a seeded +-10% jitter on each cut: the seed
        # moves the cut points without moving the work a land op does.
        size = n // INGEST_FILES
        jitter = rng.integers(-size // 10, size // 10 + 1, INGEST_FILES - 1)
        bounds = [0, *(size * np.arange(1, INGEST_FILES) + jitter).tolist(), n]
        self.src = os.path.join(b.root, "ingest_src")
        os.makedirs(self.src)
        self.files, self.clean_parts, self.injected_parts = [], [], []
        for i in range(INGEST_FILES):
            part = ev.slice(bounds[i], bounds[i + 1] - bounds[i])
            path = os.path.join(self.src, f"events-{i:03d}.parquet")
            pq.write_table(part, path)
            self.files.append(path)
            k_part = kind[bounds[i]:bounds[i + 1]]
            self.clean_parts.append(part.filter(pa.array(k_part == 0)))
            self.injected_parts.append(
                {"nonfinite": int((k_part == 1).sum()), "out_of_time": int((k_part == 2).sum())}
            )
        self.landed = 0
        self.read_errors: dict[str, str] = {}

    def _land(self, b, i: int) -> None:
        shutil.copy(self.files[i], self.landing)
        self.pipe.run_available_now(timeout_s=170)
        self.landed = i + 1
        if b.tracer.enabled:
            # what the catalog sync that just ran had to cover
            c = b.tracer.counts
            c["staged_bytes_at_syncs"] = c.get("staged_bytes_at_syncs", 0) + _tree(
                self.pipe.staged_dir
            )[1]

    def warmup(self, b) -> None:
        from pyspark.sql import types as T

        from data_lake_staging_engine_spark.pipeline import StagingPipeline

        self.landing = os.path.join(b.root, "landing")
        os.makedirs(self.landing)
        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ])
        self.pipe = StagingPipeline(
            b.spark,
            landing_dir=self.landing,
            staged_dir=os.path.join(b.root, "staged"),
            checkpoint_dir=os.path.join(b.root, "ckpt"),
            table=self.table,
            schema=schema,
            catalog=b.tracer.catalog(),
            contracts=dict(self.contracts),
            rejects_dir=os.path.join(b.root, "rejects"),
        )
        with b.tracer.span("ingest.backlog", "pipeline"):
            for i in range(BACKLOG_FILES):
                shutil.copy(self.files[i], self.landing)
            self.pipe.run_available_now(timeout_s=170)
            self.landed = BACKLOG_FILES
            self._read(b, "backlog")

    def _read(self, b, tag: str) -> pa.Table:
        out = materialize(b.spark.sql(READ_SQL.format(table=self.table)))
        err = self._check_read(out)
        if err:
            self.read_errors[tag] = err
        return out

    def _expected_clean(self) -> pa.Table:
        return pa.concat_tables(self.clean_parts[: self.landed])

    def _check_read(self, out: pa.Table) -> str | None:
        exp = self._expected_clean()
        cents = np.round(exp.column("value").to_numpy() * 100).astype(np.int64)
        want = {}
        for t, c in zip(exp.column("event_type").to_pylist(), cents.tolist()):
            n, s = want.get(t, (0, 0))
            want[t] = (n + 1, s + c)
        got = {
            t: (n, s) for t, n, s in zip(
                out.column("event_type").to_pylist(),
                out.column("n").to_pylist(),
                out.column("cents").to_pylist(),
            )
        }
        return None if got == want else f"read mismatch after {self.landed} files"

    def ops(self, b) -> list[Op]:
        ops = []
        for i in range(BACKLOG_FILES, BACKLOG_FILES + LANDS):

            def step(i=i):
                with b.tracer.span("land", "pipeline"):
                    self._land(b, i)
                with b.tracer.span("read", "sources"):
                    return self._read(b, f"land{i}")

            ops.append(Op(f"step{i:02d}", "op", step))

        def compact():
            if b.tracer.enabled:
                b.tracer.counts["staged_files"] = _tree(self.pipe.staged_dir)[0]
            with b.tracer.span("compact", "pipeline"):
                self.pipe.compact_staged()
            with b.tracer.span("read", "sources"):
                return self._read(b, "compacted")

        return ops + [Op("compact", "op", compact, in_p50=False)]

    def check(self, b) -> dict[str, str]:
        bad = dict(self.read_errors)
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        got = materialize(b.spark.table(self.table).select(*cols))
        got = got.sort_by("event_id")
        exp = self._expected_clean().sort_by("event_id")
        same = got.num_rows == exp.num_rows and all(
            pc.all(pc.equal(
                got.column(c).cast(pa.int64()) if c == "ts" else got.column(c),
                exp.column(c).cast(pa.int64()) if c == "ts" else exp.column(c),
            )).as_py()
            for c in cols
        )
        if not same:
            bad["catalog"] = f"catalog {got.num_rows} rows, expected {exp.num_rows}"
        # Rejects: every injected violation among the landed files is in
        # the audit sink under its reason, and the pipeline's own
        # per-batch counts agree.
        injected = {
            r: sum(p[r] for p in self.injected_parts[: self.landed])
            for r in ("nonfinite", "out_of_time")
        }
        rejected = 0
        for reason, want in injected.items():
            root = os.path.join(self.pipe.rejects_dir, reason)
            n_sink = _tree(root)[2]
            n_obs = sum(m.get(reason, 0) for m in self.pipe.reject_metrics.values())
            rejected += n_sink
            if not n_sink == n_obs == want:
                bad[f"rejects.{reason}"] = f"sink {n_sink}, observed {n_obs}, injected {want}"
        b.tracer.counts["reject_match"] = rejected / max(sum(injected.values()), 1)
        return bad


def _tree(path: str) -> tuple[int, int, int]:
    """(data files, bytes, rows) of the Parquet files under ``path``."""
    files = size = rows = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                files += 1
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return files, size, rows


class Analytics:
    """The query mix and then the dedup ops, each run once.

    The order is fixed: first-use costs that ops share (code generation,
    JIT, the streaming machinery, the bitmap strategy's classes) fall on
    whichever of them runs first, so a seed-shuffled order moved seconds
    between ops from run to run.
    One workload, not two, because a run pays ~20 s of session start and
    JVM warm-up before its first op on a 4-core host; two runs' worth of
    that does not fit the benchmark's time per run (README.md)."""

    def __init__(self) -> None:
        self.parts = (QueryMix(), Dedup())

    def inputs(self, b) -> None:
        for p in self.parts:
            p.inputs(b)

    def warmup(self, b) -> None:
        for p in self.parts:
            p.warmup(b)

    def ops(self, b) -> list[Op]:
        return [op for p in self.parts for op in p.ops(b)]

    def check(self, b) -> dict[str, str]:
        bad = {}
        for p in self.parts:
            bad.update(p.check(b))
        return bad


WORKLOADS = {"ingest": Ingest, "analytics": Analytics}
