"""Outside-in stage tracing for the traced benchmark run.

Nothing here changes the program: spans are recorded by wrapping, for the
duration of one operation, the public calls the pipeline makes into the
catalog layer (``Warehouse.write`` / ``append_metrics`` / ``read``) and the
parquet writer the catalog uses. Because every stage plan is lazy, a stage's
work runs when the pipeline commits it, so:

* a stage span runs from the end of the previous ``Warehouse.write`` to the
  end of its own write (eager checkpoints a stage builds before its commit,
  such as the blocking pass's, land in its span);
* the write is a ``catalog`` child span, and the parquet write of the
  stage's temporary table inside it is a grandchild span of the stage's own
  layer (that is where the lazy plan executes); the rest of the write is the
  catalog's own cost: commit renames, lineage and stats rescans.

A layer's busy time is the sum of the self times of its spans. Spark jobs are
tagged with the span they ran under through ``setJobGroup``, and the event
log written by the traced session is rolled up per layer by ``rollup``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

CATALOG = "catalog"


class Tracer:
    """Records spans for one operation: entering patches the calls above,
    leaving restores them. Use around exactly one operation."""

    def __init__(self, spark, layer_of: dict[str, str]):
        self.sc = spark.sparkContext
        self.layer_of = layer_of
        self.spans: list[dict] = []
        self.group_layer: dict[str, str] = {}
        self._n = 0
        self.t0 = self._cursor = 0.0
        self._table: str | None = None
        self._saved: list[tuple[type, str, object]] = []

    # -- spans ----------------------------------------------------------
    def _span(self, sid, name, layer, parent, start, end, stage=None) -> None:
        self.spans.append(
            {"id": sid, "name": name, "layer": layer, "parent": parent,
             "stage": stage, "start": start, "end": end}
        )

    def _group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def _stage_group(self) -> str:
        return f"s{self._n}"

    def _catalog_group(self) -> str:
        gid = f"c{self._n}"
        self.group_layer[gid] = CATALOG
        return gid

    # -- patching -------------------------------------------------------
    def _patch(self, cls: type, attr: str, make) -> None:
        orig = getattr(cls, attr)
        self._saved.append((cls, attr, orig))
        setattr(cls, attr, make(orig))

    def __enter__(self) -> "Tracer":
        from pyspark.sql.readwriter import DataFrameWriter

        from entity_resolver_spark.sources.catalog import Warehouse

        tr = self

        def write(orig):
            def traced_write(wh, table, df):
                sid = tr._stage_group()
                t0 = time.monotonic()
                tr._table = table
                try:
                    return orig(wh, table, df)
                finally:
                    t1 = time.monotonic()
                    tr._table = None
                    layer = tr.layer_of.get(table, "pipeline")
                    tr.group_layer[sid] = layer
                    tr._span(sid, table, layer, "op", tr._cursor, t1, table)
                    tr._span(f"w{tr._n}", f"write:{table}", CATALOG, sid, t0, t1)
                    tr._cursor = t1
                    tr._n += 1
                    tr._group(tr._stage_group())
            return traced_write

        def parquet(orig):
            def traced_parquet(writer, path, *a, **kw):
                table = tr._table
                if table is None or not os.path.basename(path).startswith(
                    f"_tmp_{table}_"
                ):
                    return orig(writer, path, *a, **kw)
                t0 = time.monotonic()
                try:
                    return orig(writer, path, *a, **kw)
                finally:
                    layer = tr.layer_of.get(table, "pipeline")
                    tr._span(f"x{tr._n}", f"compute:{table}", layer,
                             f"w{tr._n}", t0, time.monotonic(), table)
                    tr._group(tr._catalog_group())
            return traced_parquet

        def catalog_call(name):
            def make(orig):
                def traced(wh, *a, **kw):
                    t0 = time.monotonic()
                    tr._group(tr._catalog_group())
                    try:
                        return orig(wh, *a, **kw)
                    finally:
                        tr._span(f"{name}{len(tr.spans)}", name, CATALOG,
                                 tr._stage_group(), t0, time.monotonic())
                        tr._group(tr._stage_group())
                return traced
            return make

        self._patch(Warehouse, "write", write)
        self._patch(Warehouse, "append_metrics", catalog_call("append_metrics"))
        self._patch(Warehouse, "read", catalog_call("read"))
        self._patch(DataFrameWriter, "parquet", parquet)
        self.t0 = self._cursor = time.monotonic()
        self._group(self._stage_group())
        return self

    def __exit__(self, *exc) -> None:
        for cls, attr, orig in reversed(self._saved):
            setattr(cls, attr, orig)
        self._saved.clear()
        self.sc.setJobGroup("post", "post")

    # -- results --------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Self time per span id: duration minus the child spans'."""
        child = defaultdict(float)
        for s in self.spans:
            child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def busy_by_stage(self) -> dict[str, float]:
        """Non-catalog self time per committed table (the stage's own work)."""
        st = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["layer"] != CATALOG:
                out[s["stage"]] += st[s["id"]]
        return dict(out)

    def catalog_s(self) -> float:
        st = self.self_times()
        return sum(st[s["id"]] for s in self.spans if s["layer"] == CATALOG)

    def stage_span_total(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] == "op")


def rollup(event_log_dir: str, group_layer: dict[str, str]) -> dict[str, dict]:
    """Per-layer task metrics from a Spark event log (stdlib json only).

    Jobs carry their span's group id in ``spark.jobGroup.id``; each stage is
    credited to the first tagged job that lists it. Returns, per layer:
    shuffle_write_bytes, shuffle_read_bytes, spill_bytes, executor_cpu_s,
    output_bytes, jobs and task_skew. Skew is max task / median task run time
    per Spark stage, averaged over the layer's stages weighted by their task
    time (stages with fewer than two tasks or a zero median are skipped)."""
    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_ms: dict[int, list[int]] = defaultdict(list)
    # Spark 4 writes a directory per application holding events_<n>_* files
    # beside an empty appstatus marker and hidden .crc checksums.
    files = sorted(
        os.path.join(d, fn)
        for d, _, names in os.walk(event_log_dir)
        for fn in names
        if fn.startswith("events_")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid not in group_layer:
                        continue
                    jobs[gid] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_layer.setdefault(sid, group_layer[gid])
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if layer is None or not m:
                        continue
                    acc = sums[layer]
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["output_bytes"] += out.get("Bytes Written", 0)
                    task_ms[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
    skew_num: dict[str, float] = defaultdict(float)
    skew_den: dict[str, float] = defaultdict(float)
    for sid, runs in task_ms.items():
        med = statistics.median(runs)
        if len(runs) < 2 or med <= 0:
            continue
        layer = stage_layer[sid]
        skew_num[layer] += sum(runs) * max(runs) / med
        skew_den[layer] += sum(runs)
    layers = set(group_layer.values())
    out: dict[str, dict] = {}
    for layer in layers:
        row = {k: sums[layer][k] for k in (
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "executor_cpu_s", "output_bytes")}
        row["task_skew"] = skew_num[layer] / skew_den[layer] if skew_den[layer] else 1.0
        row["jobs"] = sum(n for g, n in jobs.items() if group_layer[g] == layer)
        out[layer] = row
    return out

