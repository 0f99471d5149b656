"""Spans around the benchmark's calls into each layer, and the per-layer
metrics of a traced run.

Nothing inside the engine is instrumented.  The traced run measures each
layer from outside:
- spans the benchmark records around its own calls (kept in memory and
  written when the run ends);
- a job group ``<workload>.<op>.<i>`` set around every op, so Spark's
  event log ties each job to the call that caused it;
- a timing subclass of the catalog sync, passed as
  ``StagingPipeline(catalog=...)``, so catalog time is split from the
  micro-batch it follows;
- Spark's own event log: jobs, tasks, SQL executions (their write path
  splits contract-reject writes from staged writes) and the streaming
  progress events of every micro-batch.
"""

from __future__ import annotations

import contextlib
import glob
import os
import time
from datetime import datetime

import stats

Q = ("time_s", "jobs", "task_s", "cpu_s", "gc_s", "shuffle_mb", "eff_par",
     "driver_gap_s", "max_task_share")
LLM_Q = ("time_s", "jobs", "task_s", "eff_par", "driver_gap_s", "max_task_share")
QUERY_LAYERS = ("relational", "windows", "functions", "streaming")
READ_LAYERS = QUERY_LAYERS + ("llmops", "sources")
LLM_OPS = ("g02", "g02_3x", "g31", "g32")


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op
    so the untraced run pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[dict] = []
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        s = {
            "id": len(self.spans), "name": name, "layer": layer,
            "group": group, "start": time.time(), "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(s)
        self._stack.append(s)
        if group:
            self.spark.sparkContext.setJobGroup(group, group)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if group:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.spark.sparkContext.setLocalProperty("spark.job.description", None)

    def catalog(self):
        from data_lake_staging_engine_spark.catalog import SessionCatalogSync

        if not self.enabled:
            return SessionCatalogSync()
        tracer = self

        class TimedCatalogSync(SessionCatalogSync):
            def sync_table(self, df, table, partition_cols=None):
                with tracer.span("catalog.sync", "catalog"):
                    super().sync_table(df, table, partition_cols)

            def read_table(self, spark, table):
                with tracer.span("catalog.read", "catalog"):
                    return super().read_table(spark, table)

        return TimedCatalogSync()


_UNITS = (
    ("_s", "s"), ("_mb", "MB"), (".jobs", "count"), ("staged_files", "count"),
    ("read_files", "count"), ("scan_files", "count"), (".batches", "count"),
    ("state_rows", "count"),
)


def unit(name: str) -> str:
    for suffix, u in _UNITS:
        if name.endswith(suffix):
            return u
    return "ratio"


def read_event_log(log_dir: str) -> stats.EventLog:
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    paths += sorted(glob.glob(os.path.join(log_dir, "local-*")))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    log = stats.EventLog()
    for p in paths:
        with open(p) as f:
            log.add_lines(f)
    return log


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _self_windows(span, spans) -> list[tuple[float, float]]:
    """The span's interval minus its direct children's intervals."""
    cuts = sorted((c["start"], c["end"]) for c in spans if c["parent"] == span["id"])
    out, cur = [], span["start"]
    for s, e in cuts:
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if span["end"] > cur:
        out.append((cur, span["end"]))
    return out


def layer_metrics(tracer: Tracer, log: stats.EventLog, ctx: dict) -> dict:
    """Every per-layer metric of the traced run.

    A layer the workload does not exercise reads 0: no time, no jobs."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    jobs = log.finished_jobs()
    by_span = stats.attribute(jobs, spans)
    rejects_dir = ctx.get("rejects_dir")
    out: dict[str, float] = {}

    def jobs_of(ss):
        return [j for s in ss for j in by_span.get(s["id"], [])]

    def q_metrics(prefix, ss, keys=Q, jobs_override=None, time_override=None):
        windows = [w for s in ss for w in _self_windows(s, spans)]
        js = jobs_of(ss) if jobs_override is None else jobs_override
        t = sum(e - s for s, e in windows) if time_override is None else time_override
        q = stats.job_summary(js, t, windows)
        for k in keys:
            out[f"{prefix}.{k}"] = q[k]

    # session
    for k in ("start_s", "warmup_s", "input_s"):
        out[f"session.{k}"] = ctx["setup"].get(k, 0.0)

    # pipeline and contracts: jobs inside land/compact spans, split by the
    # output path of their SQL execution
    lands = [s for s in spans if s["name"] == "land"]
    compacts = [s for s in spans if s["name"] == "compact"]
    pipe_spans = lands + compacts
    pipe_jobs, contract_jobs = [], []
    for j in jobs_of(pipe_spans):
        path = (log.sql.get(j["sql"]) or {}).get("write_path") or ""
        if rejects_dir and rejects_dir in path:
            contract_jobs.append(j)
        else:
            pipe_jobs.append(j)
    q_metrics("pipeline", pipe_spans, jobs_override=pipe_jobs)
    # driver gap of the pipeline counts contract jobs as busy too: they
    # run inside the pipeline's own micro-batch
    windows = [w for s in pipe_spans for w in _self_windows(s, spans)]
    busy = stats.covered_by(
        [(j["start"], j["end"]) for j in pipe_jobs + contract_jobs], windows
    )
    out["pipeline.driver_gap_s"] = max(sum(e - s for s, e in windows) - busy, 0.0)
    # contracts run inside the pipeline's foreachBatch, with no call
    # boundary the benchmark can time: their time is the union of their
    # jobs' spans, so they have no driver gap of their own
    c_busy = stats.union_length(
        [(j["start"], j["end"]) for j in contract_jobs]
    )
    q_metrics("contracts", [], keys=[k for k in Q if k != "driver_gap_s"],
              jobs_override=contract_jobs, time_override=c_busy)
    out["contracts.reject_match"] = tracer.counts.get("reject_match", 0.0)

    # micro-batch phases of the ingest loop, from its progress events.
    # restart_s is measured, not derived: per land, the time before its
    # first trigger plus the time from its last trigger's end to the
    # catalog sync.  What reconcile leaves out is the gaps between
    # triggers and the time after the sync.
    trig = plan = commit = restart = 0.0
    land_wall = sync = 0.0
    for land in lands:
        prog = [p for p in log.progress
                if land["start"] <= _epoch(p["timestamp"]) <= land["end"]]
        syncs = [s for s in spans if s["parent"] == land["id"]
                 and s["name"] == "catalog.sync"]
        land_wall += land["end"] - land["start"]
        sync += sum(s["end"] - s["start"] for s in syncs)
        if not prog:
            continue
        d = [p["durations"] for p in prog]
        trig += sum(x.get("triggerExecution", 0) for x in d) / 1e3
        plan += sum(x.get("queryPlanning", 0) for x in d) / 1e3
        commit += sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1e3
        first = min(_epoch(p["timestamp"]) for p in prog)
        last_end = max(_epoch(p["timestamp"]) + p["durations"].get("triggerExecution", 0) / 1e3
                       for p in prog)
        sync_start = min((s["start"] for s in syncs), default=land["end"])
        restart += (first - land["start"]) + max(sync_start - last_end, 0.0)
    out["pipeline.restart_s"] = restart
    out["pipeline.trigger_s"] = trig
    out["pipeline.plan_s"] = plan
    out["pipeline.commit_s"] = commit
    out["pipeline.staged_files"] = tracer.counts.get("staged_files", 0.0)
    out["pipeline.compact_s"] = sum(
        e - s for c in compacts for s, e in _self_windows(c, spans)
    )
    out["pipeline.land_wall_s"] = land_wall
    out["pipeline.reconcile"] = (restart + trig + sync) / land_wall if land_wall else 0.0

    # catalog
    cat = [s for s in spans if s["layer"] == "catalog"]
    q_metrics("catalog", cat)
    land_syncs = [s for s in cat if s["name"] == "catalog.sync"
                  and any(s["parent"] == land["id"] for land in lands)]
    out["catalog.sync_s"] = sync
    out["catalog.sync_share"] = sync / land_wall if land_wall else 0.0
    written = sum(t["out_bytes"] for j in jobs_of(land_syncs) for t in j["tasks"])
    staged = tracer.counts.get("staged_bytes_at_syncs", 0.0)
    out["catalog.rewrite_ratio"] = written / staged if staged else 0.0
    reads = [s for s in spans if s["name"] == "read"]
    files = sum(
        log.files_read(i) for s in reads for i in {j["sql"] for j in by_span.get(s["id"], [])}
    )
    out["catalog.read_files"] = files / len(reads) if reads else 0.0

    # sources: what every read-side call scanned
    read_spans = [s for s in spans if s["layer"] in READ_LAYERS and s["group"] is not None
                  or s["name"] == "read"]
    read_jobs = jobs_of(read_spans)
    out["sources.scan_mb"] = sum(
        t["in_bytes"] for j in read_jobs for t in j["tasks"]
    ) / 2**20
    sql_ids = {j["sql"] for j in read_jobs if j["sql"] is not None}
    out["sources.scan_files"] = sum(log.files_read(i) for i in sql_ids)

    # query layers
    for layer in QUERY_LAYERS:
        q_metrics(layer, [s for s in spans if s["layer"] == layer and s["group"]])
    stream = [s for s in spans if s["layer"] == "streaming" and s["group"]]
    batches = state = 0
    for s in stream:
        prog = [p for p in log.progress if s["start"] <= _epoch(p["timestamp"]) <= s["end"]]
        batches += len(prog)
        state += max((p["state_rows"] for p in prog), default=0)
    out["streaming.batches"] = batches
    out["streaming.state_rows"] = state

    # llmops, per op
    for op in LLM_OPS:
        q_metrics(f"llmops.{op}", [s for s in spans if s["layer"] == "llmops"
                                  and s["name"] == op and s["group"]], keys=LLM_Q)
    out["llmops.index_build_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "llmops.index_build"
    )
    # the traced run's own wall_s: over the untraced wall_s of the same
    # seed and code, the tracing overhead
    out["trace.wall_s"] = ctx.get("wall_s", 0.0)
    return out
