"""Run metrics (SURVEY.md §3.1.f).

The reference interleaves timing prints through its phases
(src/main.py, log:41-97). Here metrics wrap the *action* call sites —
a context manager for wall clock plus a plan-summary probe reading the
already-computed queryExecution — no Python listener callbacks (a py4j
callback server is a liveness liability in embedded/driver-managed
sessions), no instrumentation inside query code. Row counts come from
:func:`observe_count`: a ``pyspark.sql.Observation`` is JVM-side, filled
by the action that runs the plan, so counting needs no job of its own.
Collected rows feed the S12 run report.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class QueryMetric:
    name: str
    duration_ms: float
    plan_head: str = ""
    rows: int | None = None


def observe_count(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter attached, and the counter. Whichever
    action runs the returned frame fills it; read it with
    ``obs.get["filas"]`` after that action returns. ``name`` must be
    unique within the plan of that action."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("filas")), obs


def plan_summary(df: DataFrame, max_len: int = 120) -> str:
    """First line of the executed physical plan (cheap introspection of
    the plan Spark already holds; never triggers execution)."""
    try:
        head = df._jdf.queryExecution().executedPlan().nodeName()
        return str(head)[:max_len]
    except Exception:
        return "?"


@dataclass
class MetricsCollector:
    """Explicit action-site metrics.

    Usage::

        mc = MetricsCollector()
        df, written = observe_count(df, "carga_listings")
        with mc.timed("carga_listings") as m:
            df.write.parquet(path)
        m.rows = written.get["filas"]   # counted by the write itself
        report["acciones"] = mc.as_rows()
    """

    metrics: list[QueryMetric] = field(default_factory=list)

    @contextmanager
    def timed(self, name: str):
        """Time the block; yields its :class:`QueryMetric`, so a caller
        that counts rows during the action can set ``rows``."""
        metric = QueryMetric(name=name, duration_ms=0.0)
        start = time.perf_counter()
        try:
            yield metric
        finally:
            metric.duration_ms = round((time.perf_counter() - start) * 1e3, 3)
            self.metrics.append(metric)

    def timed_count(self, name: str, df: DataFrame) -> int:
        start = time.perf_counter()
        n = df.count()
        self.metrics.append(
            QueryMetric(
                name=name,
                duration_ms=round((time.perf_counter() - start) * 1e3, 3),
                plan_head=plan_summary(df),
                rows=n,
            )
        )
        return n

    def as_rows(self) -> list[dict]:
        return [
            {
                "accion": m.name,
                "duracion_ms": m.duration_ms,
                "plan": m.plan_head,
                "filas": m.rows,
            }
            for m in self.metrics
        ]
