"""Stage spans of one traced pipeline job."""

from __future__ import annotations

import os
import time

from abecto_spark.sources.checkpoint import SnapshotStore
from procfs import tree_cpu


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class TracingStore(SnapshotStore):
    """Closes a stage span at each snapshot commit. A span runs from the
    previous commit (or the job start) to this one, so work done before
    ``write`` is called (e.g. S2's eager local checkpoint) lands in its
    stage. Each span's jobs run under their own job group, which the
    event log records. Spans stay in memory in ``spans``."""

    def __init__(self, spark, root: str, jvm_pid: int):
        super().__init__(spark, root)
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.t_start = time.perf_counter()
        self._open()

    def _open(self) -> None:
        group = f"perfbench-span-{len(self.spans)}"
        self.spark.sparkContext.setJobGroup(group, group)
        self._cur = {
            "group": group,
            "t0": time.perf_counter(),
            "py_cpu0": tree_cpu(self.jvm_pid)[1],
        }

    def write(self, df, stage: str, config_token: str = "") -> dict:
        manifest = super().write(df, stage, config_token)
        t1 = time.perf_counter()
        cur = self._cur
        self.spans.append({
            "name": stage,
            "group": cur["group"],
            "start_s": cur["t0"] - self.t_start,
            "end_s": t1 - self.t_start,
            "wall_s": t1 - cur["t0"],
            "py_cpu_s": tree_cpu(self.jvm_pid)[1] - cur["py_cpu0"],
            "rows_out": manifest["row_count"],
            "bytes_written": dir_bytes(self._dir(stage)),
        })
        self._open()
        return manifest

    def finish(self) -> None:
        """Drop the span opened after the last commit."""
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
