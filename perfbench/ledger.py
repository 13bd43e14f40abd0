"""Layer ledger for the traced pass, recorded from outside the program.

Wrappers are installed on the public entry points of each layer
(``StageRunner.run_stage``, the ``Table`` write calls and
``MetricsSink.flush``); the near-dup workload opens its ``dedup`` spans
itself. Every span is kept in memory as (name, layer, kind, start, end,
parent). A span that opens a new layer sets the Spark job group
``<run>:<layer>`` for its duration, so each job's task metrics can be
charged to a layer afterwards from Spark's in-process status store.

Span kinds:
  * ``layer``  — a stage, a master-table call made outside any stage
    (layer ``tables``), a metrics flush (layer ``metrics``) or a dedup
    query (layer ``dedup``);
  * ``fn``     — the stage body passed to ``run_stage``;
  * ``commit`` — a ``Table`` write made while another span is open. It
    belongs to the enclosing layer and is only used to split the
    runner's own bookkeeping time out of a stage.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from mdmpublic_spark.metrics import MetricsSink
from mdmpublic_spark.operators.scoring import DEFAULT_THRESHOLD
from mdmpublic_spark.plans.runner import StageRunner
from mdmpublic_spark.tables import Table

STAGE_LAYERS = (
    "extract",
    "profile",
    "block",
    "pairs",
    "features",
    "score",
    "cluster",
    "golden",
    "effective",
)
LAYERS = STAGE_LAYERS + ("dedup",)
COUNTERS = {
    "wall_s": "s",
    "rows_out": "count",
    "jobs": "count",
    "task_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "python_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
    "slot_idle_frac": "frac",
}
EXTRAS = {
    "tables.wall_s": "s",
    "tables.commits": "count",
    "tables.task_s": "s",
    "runner.wall_s": "s",
    "metrics.wall_s": "s",
    "pairs.admitted_frac": "frac",
    "score.edge_yield": "frac",
    "cluster.cc_rounds": "count",
    "untraced.task_s": "s",
    "trace.overhead_frac": "frac",
}
# SQL metric that ArrowEvalPython / pandas-UDF nodes report
PYTHON_TIME_METRIC = "time to run Python workers"
TABLE_WRITES = ("append", "overwrite", "merge_upsert")
MB = 1 << 20


def metric_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTERS.items()}
    units.update(EXTRAS)
    return units


def stage_layer(stage_name: str) -> str:
    """``inc-<batch>.pairs`` → ``pairs``: delta stages share layer names."""
    return stage_name.rsplit(".", 1)[-1]


def _parse_timing(text: str) -> float:
    """Seconds from a formatted SQL timing metric: ``'551 ms'``, ``'3.0 s'``,
    or the multi-task form whose second line starts with the total."""
    lines = [ln for ln in text.splitlines() if ln and not ln.startswith("total (")]
    m = re.match(r"\s*([\d.]+)\s*(ms|s|m|h)\b", lines[0]) if lines else None
    if not m:
        return 0.0
    return float(m.group(1)) * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[m.group(2)]


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class Ledger:
    """Spans and job-group tagging for one traced pass."""

    def __init__(self, spark, run_tag: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_tag = run_tag
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.captured: dict[str, float] = {}
        self.score_tables: list[tuple[str, int]] = []
        self._saved: dict = {}
        self._job_mark = -1
        self._exec_mark = -1

    # ------------------------------------------------------------ spans

    def _group(self, layer: str | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if layer is None else f"{self.run_tag}:{layer}"
        )

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "layer"):
        parent = self.stack[-1] if self.stack else None
        rec = {
            "name": name,
            "layer": layer,
            "kind": kind,
            "parent": parent,
            "start": time.perf_counter(),
            "end": None,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self.stack.append(idx)
        outer = self._layer_of(parent)
        if kind == "layer" and layer != outer:
            self._group(layer)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if kind == "layer" and layer != outer:
                self._group(outer)

    def _layer_of(self, idx: int | None) -> str | None:
        return None if idx is None else self.spans[idx]["layer"]

    # --------------------------------------------------------- wrappers

    def install(self) -> None:
        """Wrap the layer entry points (class attributes, so every
        instance the program creates is traced)."""
        ledger = self
        run_stage = StageRunner.run_stage
        flush = MetricsSink.flush
        add = MetricsSink.add
        self._saved = {
            (StageRunner, "run_stage"): run_stage,
            (MetricsSink, "flush"): flush,
            (MetricsSink, "add"): add,
        }

        def traced_run_stage(runner, name, fn, config=None, inputs=None):
            layer = stage_layer(name)

            def traced_fn():
                with ledger.span(name, layer, kind="fn"):
                    return fn()

            with ledger.span(name, layer) as rec:
                out = run_stage(runner, name, traced_fn, config, inputs)
                if name in runner.ran:
                    rec["rows"] = runner.state[name]["rows"]
            if layer == "score":
                # a later fold may overwrite the table; keep this snapshot
                ledger.score_tables.append((out.path, out.current_snapshot_id()))
            return out

        def traced_flush(sink, spark):
            with ledger.span("metrics.flush", "metrics"):
                return flush(sink, spark)

        def traced_add(sink, stage, key, value, partition_id=-1):
            if key == "cc_rounds":
                ledger.captured[key] = ledger.captured.get(key, 0.0) + float(value)
            return add(sink, stage, key, value, partition_id)

        StageRunner.run_stage = traced_run_stage
        MetricsSink.flush = traced_flush
        MetricsSink.add = traced_add
        for op in TABLE_WRITES:
            orig = getattr(Table, op)
            self._saved[(Table, op)] = orig
            setattr(Table, op, self._traced_table_op(op, orig))

    def _traced_table_op(self, op: str, orig):
        ledger = self

        def traced(table, *args, **kwargs):
            if ledger.stack:
                layer = ledger._layer_of(ledger.stack[-1])
                with ledger.span(f"table.{op}", layer, kind="commit"):
                    return orig(table, *args, **kwargs)
            with ledger.span(f"table.{op}", "tables") as rec:
                rec["commit"] = 1
                return orig(table, *args, **kwargs)

        return traced

    def uninstall(self) -> None:
        for (owner, attr), fn in self._saved.items():
            setattr(owner, attr, fn)
        self._saved = {}

    # ------------------------------------------------------------- pass

    def begin_pass(self) -> None:
        self.spans, self.stack = [], []
        self.captured, self.score_tables = {}, []
        self._job_mark = self._max_job_id()
        self._exec_mark = self._max_exec_id()

    def _status(self):
        return self.sc._jsc.sc().statusStore()

    def _sql_status(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_job_id(self) -> int:
        return max((j.jobId() for j in _seq(self._status().jobsList(None))), default=-1)

    def _max_exec_id(self) -> int:
        return max(
            (e.executionId() for e in _seq(self._sql_status().executionsList())),
            default=-1,
        )

    def _jobs(self) -> list[tuple[int, str | None, list[int]]]:
        """(job id, job group, stage ids) of every job since begin_pass."""
        out = []
        for j in _seq(self._status().jobsList(None)):
            if j.jobId() > self._job_mark:
                g = j.jobGroup()
                group = g.get() if g.isDefined() else None
                out.append((j.jobId(), group, list(_seq(j.stageIds()))))
        return sorted(out)

    def _task_totals(self, jobs) -> dict[str | None, dict]:
        """Per job group: jobs, task/cpu/gc seconds, shuffle write and
        spill MB, failed tasks. A stage shared by several jobs is charged
        once, to the first job that lists it; skipped stages ran nothing."""
        st = self._status()
        seen: set[int] = set()
        out: dict[str | None, dict] = {}
        for _, group, stage_ids in jobs:
            tot = out.setdefault(group, _zero_totals())
            tot["jobs"] += 1
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                s = st.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                tot["task_s"] += s.executorRunTime() / 1e3
                tot["cpu_s"] += s.executorCpuTime() / 1e9
                tot["gc_s"] += s.jvmGcTime() / 1e3
                tot["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                tot["spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / MB
                tot["failed_tasks"] += s.numFailedTasks()
        return out

    def _python_seconds(self, groups: dict[int, str | None]) -> dict[str | None, float]:
        """Python worker time per job group, from the SQL status store's
        plan metrics (Spark exposes it there, not in stage metrics)."""
        sql = self._sql_status()
        out: dict[str | None, float] = {}
        for e in _seq(sql.executionsList()):
            eid = e.executionId()
            if eid <= self._exec_mark:
                continue
            jids = sorted(int(j) for j in _seq(e.jobs().keys()))
            if not jids:
                continue
            group = groups.get(jids[0])
            values = sql.executionMetrics(eid)
            secs = 0.0
            for node in _seq(sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    if m.name() == PYTHON_TIME_METRIC:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            secs += _parse_timing(v.get())
            out[group] = out.get(group, 0.0) + secs
        return out

    def _self_times(self) -> dict[str, float]:
        """Self time per layer: a layer span's duration minus the layer
        spans of other layers nested inside it."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["kind"] == "layer" and s["parent"] is not None:
                p = self.spans[s["parent"]]
                if p["layer"] != s["layer"]:
                    child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["kind"] == "layer":
                out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def _runner_seconds(self) -> float:
        """run_stage time outside its body and its commit."""
        inner = [0.0] * len(self.spans)
        for s in self.spans:
            if s["kind"] in ("fn", "commit") and s["parent"] is not None:
                inner[s["parent"]] += s["end"] - s["start"]
        return sum(
            (s["end"] - s["start"]) - inner[i]
            for i, s in enumerate(self.spans)
            if s["kind"] == "layer" and s["layer"] in STAGE_LAYERS
        )

    def collect(self, cores: int, dropped_pairs_est: float) -> dict[str, float]:
        """Per-layer metrics of the pass just traced. Runs jobs of its own
        (the score-table edge counts), so call it after the pass ends."""
        jobs = self._jobs()
        totals = self._task_totals(jobs)
        python = self._python_seconds({jid: group for jid, group, _ in jobs})
        walls = self._self_times()
        rows: dict[str, float] = {}
        for s in self.spans:
            if s["kind"] == "layer" and "rows" in s:
                rows[s["layer"]] = rows.get(s["layer"], 0.0) + s["rows"]

        def key(layer):
            return f"{self.run_tag}:{layer}"

        out: dict[str, float] = {}
        for layer in LAYERS:
            tot = totals.get(key(layer), _zero_totals())
            wall = walls.get(layer, 0.0)
            out[f"{layer}.wall_s"] = wall
            out[f"{layer}.rows_out"] = rows.get(layer, 0.0)
            for c, v in tot.items():
                out[f"{layer}.{c}"] = float(v)
            out[f"{layer}.python_s"] = python.get(key(layer), 0.0)
            out[f"{layer}.slot_idle_frac"] = (
                1.0 - tot["task_s"] / (wall * cores) if wall > 0 else 0.0
            )
        tables = totals.get(key("tables"), _zero_totals())
        out["tables.wall_s"] = walls.get("tables", 0.0)
        out["tables.commits"] = float(
            sum(1 for s in self.spans if s["kind"] == "layer" and s.get("commit"))
        )
        out["tables.task_s"] = tables["task_s"]
        out["runner.wall_s"] = self._runner_seconds()
        out["metrics.wall_s"] = walls.get("metrics", 0.0)
        pairs = out["pairs.rows_out"]
        out["pairs.admitted_frac"] = (
            pairs / (pairs + dropped_pairs_est) if pairs + dropped_pairs_est else 0.0
        )
        out["score.edge_yield"] = self._edge_yield(out["score.rows_out"])
        out["cluster.cc_rounds"] = self.captured.get("cc_rounds", 0.0)
        out["untraced.task_s"] = totals.get(None, _zero_totals())["task_s"]
        return out

    def _edge_yield(self, scored: float) -> float:
        if not scored:
            return 0.0
        from pyspark.sql import functions as F

        edges = sum(
            Table(path)
            .read(self.spark, snapshot_id=snap)
            .where(F.col("score") >= DEFAULT_THRESHOLD)
            .count()
            for path, snap in self.score_tables
        )
        return edges / scored

    def span_dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]


def _zero_totals() -> dict:
    return {
        "jobs": 0,
        "task_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "failed_tasks": 0,
    }
