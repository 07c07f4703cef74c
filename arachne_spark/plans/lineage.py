"""Per-file lineage + per-stage metrics tables.

Spark analog of the reference's ``network_metrics`` instrumentation
(/root/reference/include/utils.hpp:119-142, updated at
src/http_client.cpp:346-356): in-process counters the stage graph
updates as it runs, with no extra request to count what was just
sent.  Every stage run records

* ``metrics``  — one row per stage run: rows out, wall ms, resumed flag
* ``lineage``  — one row per writer task: (stage, partition_id, rows),
  the task number and the row count from the parquet footers of the
  *committed* table (``Warehouse.file_row_counts``), so it reflects
  exactly what was persisted without scanning it.

The recorder launches no Spark job while the stage graph runs: rows are
buffered in memory and ``flush`` commits them once per run, one append
to each table.  Stages may run on several threads at once and finish
in any order; ``flush`` lists the records and both tables' rows in the
graph's declared order.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from arachne_spark.plans.storage import Warehouse
from arachne_spark.session import local_df

METRICS_TABLE = "kg_metrics"
LINEAGE_TABLE = "kg_lineage"
METRICS_SCHEMA = (
    "run_id string, stage string, rows long, wall_ms long, resumed boolean"
)
LINEAGE_SCHEMA = "run_id string, stage string, partition_id int, rows long"


@dataclass
class StageRecorder:
    wh: Warehouse
    run_id: str
    records: list = field(default_factory=list)
    # rows not yet committed by flush()
    _lineage: list = field(default_factory=list)
    _metrics: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def run_stage(
        self, name: str, compute, force: bool = False
    ) -> DataFrame:
        """resume_or_compute a stage and buffer its metrics + lineage."""
        t0 = time.time()
        df, resumed = self.wh.resume_or_compute(name, compute, force=force)
        wall_ms = int((time.time() - t0) * 1000)

        parts = self.wh.file_row_counts(name)
        lineage = [
            (self.run_id, name, pid, rows)
            for pid, rows in sorted(parts.items())
        ] or [(self.run_id, name, -1, 0)]
        total = sum(parts.values())
        with self._lock:
            self._lineage += lineage
            self._metrics.append(
                (self.run_id, name, total, wall_ms, bool(resumed))
            )
            self.records.append(
                {"stage": name, "rows": total, "wall_ms": wall_ms,
                 "resumed": resumed}
            )
        return df

    def flush(self, order: tuple = ()) -> None:
        """Commit the buffered rows: one single-file append to each of
        the lineage and metrics tables.  ``records`` and the rows are
        first put in ``order`` (stage names; a stage not in it goes
        last), whatever order the stages finished in."""
        rank = {name: i for i, name in enumerate(order)}
        with self._lock:
            self.records.sort(key=lambda r: rank.get(r["stage"], len(rank)))
            for rows in (self._lineage, self._metrics):
                rows.sort(key=lambda row: rank.get(row[1], len(rank)))
        spark = self.wh.spark
        for table, rows, schema in (
            (LINEAGE_TABLE, self._lineage, LINEAGE_SCHEMA),
            (METRICS_TABLE, self._metrics, METRICS_SCHEMA),
        ):
            if rows:
                self.wh.write(
                    local_df(spark, rows, schema),
                    table,
                    mode="append",
                )
                rows.clear()
