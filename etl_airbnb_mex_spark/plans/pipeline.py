"""End-to-end E-T-L orchestration (SURVEY.md §3.1 redesigned).

The reference runs eager sequential phases through an ETLManager
(src/main.py:224-263) holding every table in driver RAM between phases.
Here each table is ONE lazy plan — scan → transform expressions → write —
so Spark pipelines extract+transform+load per partition with no
whole-table materialization, and the write is the table's only action:
its extract and load counts are observed by that write, not counted by
jobs of their own before and after it. The driver only ever holds
per-table counts for the run report (S11/S12).
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import read_table_set
from ..sources.writers import (
    drop_id_columns,
    normalize_for_sink,
    write_json_report,
    write_parquet_overwrite,
)
from .metrics import MetricsCollector, observe_count
from .transforms import TRANSFORMS


def run_pipeline(
    spark: SparkSession,
    input_paths: dict[str, str],
    output_dir: str,
    fmt: str = "parquet",
    report_path: str | None = None,
    limit: int | None = None,
    partition_spec: dict[str, tuple[str, ...]] | None = None,
) -> dict[str, Any]:
    """Extract → transform → load → verify → report, one lazy plan per
    table. Returns the run report dict (S12 shape: per-table extracted /
    transformed / loaded counts + timings, src/main.py:175-222).

    Each table with an input path runs exactly one action, the parquet
    write, so its source is scanned once; the reference scans each table
    once per *step*. Two row counters ride on that write:

    * ``extraidos`` counts the extracted rows (after ``limit``), below
      the transform's dedup shuffle. A map task Spark re-runs after a
      fetch failure is counted again, so on a retried stage this count
      can exceed the rows read.
    * ``cargados`` (= ``transformados``) counts the rows handed to the
      writer, in the write's own result stage, where each task's count
      is taken once. This is the S11 verification: the count of what
      was persisted, pinned to a re-read of the output by a test.

    A table with no input path is recorded as zeros without running a
    Spark job (the reference's missing calendar, log:31); one whose input
    is present but empty is written (an empty table with the sink schema)
    and reports zeros.
    """
    unknown_parts = sorted(set(partition_spec or {}) - set(input_paths))
    if unknown_parts:
        # Same fail-loudly contract as the CLI's entradas validation: a
        # typo here would silently skip the 100 TB partitioning posture.
        raise ValueError(
            f"partition_spec names unknown tables {unknown_parts}; "
            f"inputs are {sorted(input_paths)}"
        )
    started = time.perf_counter()
    mc = MetricsCollector()
    report: dict[str, Any] = {
        "fecha_inicio": datetime.now(timezone.utc).isoformat(),
        "tablas": {},
    }

    tables = read_table_set(spark, input_paths, fmt=fmt)
    for name, raw in tables.items():
        t0 = time.perf_counter()
        if input_paths.get(name) is None:
            # Missing collection: recorded, not fatal (the reference's
            # calendar case, log:31 / report:36).
            report["tablas"][name] = {
                "extraidos": 0, "transformados": 0, "cargados": 0,
                "segundos": round(time.perf_counter() - t0, 3),
            }
            continue
        if limit is not None:
            # S1/O3 — the reference's --limite extraction cap
            # (find().limit(n)); Catalyst pushes the LocalLimit to the
            # scan, so capped runs never read the full source.
            raw = raw.limit(limit)
        raw, extracted = observe_count(raw, f"extraccion_{name}")
        out_path = os.path.join(output_dir, f"raw_{name}_transformado")
        sink_df, written = observe_count(
            normalize_for_sink(drop_id_columns(_transform(name, raw))),
            f"carga_{name}",
        )
        # 100 TB sink posture: partitioned writes (e.g. reviews by año)
        # give readers partition pruning and writers full parallelism.
        partitions = (partition_spec or {}).get(name, ())
        with mc.timed(f"carga_{name}") as load:
            write_parquet_overwrite(sink_df, out_path, partition_by=partitions)
        load.rows = written.get["filas"]
        report["tablas"][name] = {
            "extraidos": extracted.get["filas"],
            "transformados": load.rows,
            "cargados": load.rows,
            "columnas": len(sink_df.columns),
            "ruta": out_path,
            "segundos": round(time.perf_counter() - t0, 3),
        }

    report["total_registros"] = sum(
        t["cargados"] for t in report["tablas"].values()
    )
    report["acciones"] = mc.as_rows()
    report["segundos_totales"] = round(time.perf_counter() - started, 3)
    report["fecha_fin"] = datetime.now(timezone.utc).isoformat()
    if report_path:
        write_json_report(report, report_path)
    return report


def _transform(name: str, df: DataFrame) -> DataFrame:
    fn = TRANSFORMS.get(name)
    return fn(df) if fn else df
