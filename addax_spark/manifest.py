"""Per-partition checkpoint + lineage/metrics manifest (north_rule:
"resumable from per-partition checkpoints with lineage + metrics ...
persisted to an Iceberg manifest table").

Spark-native re-expression of the reference's failover + accounting
machinery: task retry/requeue (core/.../taskgroup/TaskGroupContainer.java:
150-246) becomes *job-level* resume — a rerun skips work units whose
partition_key is already 'done' in the manifest — and the Communication
counters (core/.../statistics/communication/CommunicationTool.java:30-120)
become explicit metric columns per work unit.

Storage: an append-only parquet directory of manifest rows (atomic at the
file level — each commit writes one new file; latest status per key wins by
committed_at), with the schema ``_SCHEMA``. The files are put and
got whole through the fs layer (any Hadoop FS root) and decoded with
pyarrow, so resume and summary reads cost no Spark job. On a cluster with
an Iceberg catalog the same rows go to an Iceberg table via MERGE; the
protocol is identical.
"""

from __future__ import annotations

import datetime as dt
import io
import time
import uuid
from dataclasses import asdict, dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from . import fs

_METRICS = ("rows_read", "chunks_encoded", "bytes_raw", "bytes_compressed")
#: the schema of every manifest file: one row per committed (job_id,
#: partition_key), status 'done' or 'failed', with the unit's metrics
_SCHEMA = pa.schema(
    [("job_id", pa.string()), ("partition_key", pa.string()), ("status", pa.string())]
    + [(k, pa.int64()) for k in _METRICS]
    + [("wall_s", pa.float64()), ("committed_at", pa.timestamp("us"))]
)


@dataclass
class UnitMetrics:
    rows_read: int = 0
    chunks_encoded: int = 0
    bytes_raw: int = 0
    bytes_compressed: int = 0
    wall_s: float = 0.0


class Manifest:
    """Checkpoint/lineage log keyed by (job_id, partition_key)."""

    def __init__(self, spark: SparkSession, path: str, job_id: str):
        self.spark = spark
        self.path = path
        self.job_id = job_id
        fs.mkdirs(path)

    def _append(self, rows: list[dict]) -> None:
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        table = pa.Table.from_pylist(
            [{"job_id": self.job_id, "committed_at": now, **r} for r in rows], schema=_SCHEMA
        )
        buf = io.BytesIO()
        pq.write_table(table, buf)
        # one parquet file per commit: atomic, append-only, no read-modify-write
        fs.put(f"{self.path}/m-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet", buf.getvalue())

    def mark_done(self, units: dict[str, UnitMetrics]) -> None:
        """Commit every ``partition_key -> metrics`` of a batch as 'done', in
        one file."""
        self._append([{"partition_key": k, "status": "done", **asdict(m)} for k, m in units.items()])

    def mark_failed(self, partition_keys: list[str]) -> None:
        self._append([{"partition_key": k, "status": "failed"} for k in partition_keys])

    def _latest(self) -> pd.DataFrame:
        """This job's rows, latest status per partition_key (by committed_at;
        ties go to the later commit file). The manifest is a handful of
        small files, so each is got whole and decoded with pyarrow — no
        Spark job."""
        names = sorted(
            n for n, _, _ in fs.ls(self.path) if n.startswith("m-") and n.endswith(".parquet")
        )
        # an explicit schema: a 'failed' commit's metric columns may be
        # null-typed in its file and are read as the 'done' commits' types
        tables = [
            pq.read_table(io.BytesIO(fs.get(f"{self.path}/{n}")), schema=_SCHEMA) for n in names
        ]
        df = pa.concat_tables(tables or [_SCHEMA.empty_table()]).to_pandas()
        df = df[df["job_id"] == self.job_id].sort_values("committed_at", kind="stable")
        return df.drop_duplicates("partition_key", keep="last")

    def done_keys(self) -> set[str]:
        """Latest-status-wins set of completed partition keys for this job."""
        df = self._latest()
        return set(df.loc[df["status"] == "done", "partition_key"])

    def metrics_summary(self) -> dict:
        df = self._latest()
        done = df[df["status"] == "done"]
        return {"units": len(done), **{k: int(done[k].sum()) for k in _METRICS}}
