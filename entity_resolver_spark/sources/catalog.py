"""Warehouse: per-stage checkpoint tables with atomic commits + lineage.

The reference checkpoints stage outputs as pickles with tmp-file atomic
replace (/root/reference/src/preprocessing.py:337-352,
src/classifying.py:425-458) and tracks stage state in pipeline_state.json
(src/checkpoint_manager.py:16-185). Here every stage commits a TABLE:

* Iceberg when the runtime has the Iceberg Spark extensions on the classpath
  (``spark.sql.catalog...`` configured) — ``writeTo(...).createOrReplace()``
  gives atomic snapshots and time travel.
* Otherwise (this sandbox: no Iceberg jars) a parquet warehouse directory with
  write-to-tmp + atomic ``os.rename`` — same commit discipline, same layout.

Per-partition lineage: alongside each table a ``_lineage`` table records
(stage, partition_id, rows, committed_at_ns) so a resumed run can prove which
partitions were produced by which stage run (north_rule requirement).

A parquet-mode commit runs no Spark job beyond the stage's own data write.
Lineage and the commit stats come from the committed files' footers at commit
time (Spark names each task's output ``part-<partition id>-...``, and that id
is the ``_pid`` its rows carry), not from a rescan of the table; the small
``_lineage`` and ``_metrics`` appends are written from the driver as one
parquet file each. Catalog mode takes lineage from one collected
``groupBy("_pid")`` over the committed table.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Telemetry table schemas: the column types Spark wrote for these tables
# before their appends moved to the driver.
_TELEMETRY = {
    "_lineage": pa.schema([
        ("stage", pa.string()), ("partition_id", pa.int32()),
        ("rows", pa.int64()), ("committed_at_ns", pa.int64()),
    ]),
    "_metrics": pa.schema([
        ("stage", pa.string()), ("payload", pa.string()), ("rows", pa.int64()),
        ("wall_ms", pa.float64()), ("at_ns", pa.int64()),
    ]),
}

# A Spark task's output file: part-<task partition id>-<job uuid>-c<n>...parquet
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def _footer_counts(path: str) -> dict[int, int]:
    """Rows per ``_pid`` of a committed Spark parquet table, summed from the
    ``part-NNNNN-*`` file footers (a task may write several files; empty
    partitions write none, and an empty table's lone schema file has 0 rows)."""
    counts: dict[int, int] = {}
    for name in os.listdir(path):
        m = _PART_FILE.match(name)
        if m:
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            if n:
                pid = int(m.group(1))
                counts[pid] = counts.get(pid, 0) + n
    return counts


def iceberg_available(spark: SparkSession, catalog: str | None = None) -> bool:
    """True when an Iceberg catalog is configured on this session — either in
    the context SparkConf or (``catalog`` given) set at runtime on SQL conf."""
    confs = spark.sparkContext.getConf().getAll()
    if any(k.startswith("spark.sql.catalog.") for k, _ in confs):
        return True
    return bool(catalog) and (
        spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
    )


class Warehouse:
    """Stage-table store rooted at a directory (parquet mode) or an Iceberg
    namespace (iceberg mode)."""

    def __init__(self, spark: SparkSession, root: str, namespace: str = "er"):
        self.spark = spark
        self.root = root
        self.namespace = namespace
        self.use_iceberg = iceberg_available(spark, namespace.split(".")[0])
        if not self.use_iceberg:
            os.makedirs(root, exist_ok=True)

    # -- paths / names -------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _ident(self, table: str) -> str:
        return f"{self.namespace}.{table}"

    # -- commits --------------------------------------------------------
    def write(self, table: str, df: DataFrame) -> dict:
        """Atomically (re)place ``table`` with ``df``; record lineage rows.
        Returns commit stats {rows, partitions, wall_ms}. In parquet mode both
        come from the committed files' footers, with no rescan of the table,
        and the lineage append is written from the driver."""
        t0 = time.monotonic()
        with_pid = df.withColumn("_pid", F.spark_partition_id())
        if self.use_iceberg:
            with_pid.writeTo(self._ident(table)).createOrReplace()
            counts = dict(
                self.spark.read.table(self._ident(table))
                .groupBy("_pid").count().collect()
            )
        else:
            tmp = self._path(f"_tmp_{table}_{uuid.uuid4().hex[:8]}")
            with_pid.write.mode("overwrite").parquet(tmp)
            final = self._path(table)
            # Two renames instead of rmtree-then-rename: the previously
            # committed table is moved aside first, so a crash at any point
            # leaves either the old or the new table in place (never neither);
            # the stale `.old` copy is garbage, not state — exists() keys on
            # the final path's _SUCCESS marker.
            old = final + ".old"
            if os.path.exists(old):
                shutil.rmtree(old)
            if os.path.exists(final):
                os.rename(final, old)
            os.rename(tmp, final)
            if os.path.exists(old):
                shutil.rmtree(old)
            counts = _footer_counts(final)
        now = time.time_ns()
        self._append(
            "_lineage", [(table, pid, n, now) for pid, n in sorted(counts.items())]
        )
        return {
            "rows": sum(counts.values()),
            "partitions": len(counts),
            "wall_ms": int((time.monotonic() - t0) * 1000),
        }

    def _append(self, table: str, rows: list[tuple]) -> None:
        """Append ``rows`` to the telemetry table ``table``. Parquet mode
        writes one file from the driver, under a hidden dot-name until it is
        complete and renamed into the table directory."""
        schema = _TELEMETRY[table]
        data = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        if self.use_iceberg:
            df = self.spark.createDataFrame(data)
            try:
                df.writeTo(self._ident(table)).append()
            except AnalysisException as exc:
                if exc.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
                    raise
                df.writeTo(self._ident(table)).createOrReplace()
            return
        path = self._path(table)
        os.makedirs(path, exist_ok=True)
        name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        tmp = os.path.join(path, "." + name)
        pq.write_table(data, tmp)
        os.rename(tmp, os.path.join(path, name))

    def append_metrics(self, rows: list[dict]) -> None:
        """Append stage-metrics rows to the `_metrics` table (the reference's
        telemetry sink, src/classifying.py:460-483, as a table not JSON)."""
        self._append(
            "_metrics",
            [
                (
                    r["stage"],
                    json.dumps(r, default=str),
                    int(r.get("rows", -1)),
                    float(r.get("wall_ms", -1)),
                    time.time_ns(),
                )
                for r in rows
            ],
        )

    # -- reads ------------------------------------------------------------
    def exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        p = self._path(table)
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            df = self.spark.read.table(self._ident(table))
        else:
            df = self.spark.read.parquet(self._path(table))
        return df.drop("_pid") if "_pid" in df.columns else df

    def drop(self, table: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(table)}")
        else:
            p = self._path(table)
            if os.path.exists(p):
                shutil.rmtree(p)

    # -- stage state (reference PipelineStateTracker) ----------------------
    def _state_path(self) -> str:
        return os.path.join(self.root, "_pipeline_state.json")

    def load_state(self) -> dict:
        p = self._state_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"completed": [], "stages": {}}

    def save_state(self, state: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=2, default=str)
        os.replace(tmp, self._state_path())
