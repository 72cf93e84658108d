"""Output sinks (matches CSV, detailed TSV, clusters JSON) and Warehouse commits."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from entity_resolver_spark.sources.sinks import (
    write_clusters_json,
    write_detailed_matches_tsv,
    write_matches_csv,
)


def test_sinks_roundtrip(spark, tmp_path):
    scored = spark.createDataFrame(
        [("a", "b", 0.912345678, True), ("c", "d", 0.4, False)],
        ["left", "right", "proba", "is_match"],
    )
    feats = spark.createDataFrame(
        [("a", "b", 0.9), ("c", "d", 0.1)], ["left", "right", "name_jw"]
    )
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], ["conv_id", "cluster_id"]
    )

    mpath = str(tmp_path / "matches")
    write_matches_csv(scored, mpath, single_file=True)
    rows = spark.read.option("header", True).csv(mpath).collect()
    assert len(rows) == 1
    assert rows[0]["entity_id1"] == "a" and rows[0]["entity_id2"] == "b"
    assert abs(float(rows[0]["confidence"]) - 0.912346) < 1e-9

    tpath = str(tmp_path / "detailed")
    write_detailed_matches_tsv(scored, feats, tpath, single_file=True)
    trows = spark.read.option("header", True).option("sep", "\t").csv(tpath).collect()
    assert len(trows) == 2 and "name_jw" in trows[0].asDict()

    jpath = str(tmp_path / "clusters")
    write_clusters_json(clusters, jpath, single_file=True)
    part = [f for f in os.listdir(jpath) if f.startswith("part-")][0]
    lines = [json.loads(l) for l in open(os.path.join(jpath, part))]
    by_id = {l["cluster_id"]: l for l in lines}
    assert by_id["a"]["members"] == ["a", "b"] and by_id["a"]["size"] == 2


LINEAGE_DTYPES = [
    ("stage", "string"), ("partition_id", "int"), ("rows", "bigint"),
    ("committed_at_ns", "bigint"),
]
METRICS_DTYPES = [
    ("stage", "string"), ("payload", "string"), ("rows", "bigint"),
    ("wall_ms", "double"), ("at_ns", "bigint"),
]


def test_warehouse_commit_stats_match_rescan(spark, tmp_path):
    """A parquet-mode commit derives rows, partitions and the ``_lineage``
    rows from the committed files' footers. They must equal a
    groupBy("_pid") over the committed table for every input layout:
    several partitions, empty partitions, an empty table, an AQE-coalesced
    aggregate and a sortWithinPartitions input."""
    from entity_resolver_spark.sources.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    shapes = {
        "many": spark.range(10000).repartition(7),
        "sparse": spark.range(5).repartition(16),
        "empty": spark.range(0),
        "coalesced": spark.range(1000).groupBy((F.col("id") % 37).alias("k")).count(),
        "sorted": spark.range(1000).repartition(5).sortWithinPartitions(F.desc("id")),
    }
    for table, df in shapes.items():
        stats = wh.write(table, df)
        committed = spark.read.parquet(os.path.join(wh.root, table))
        want = {r["_pid"]: r["count"] for r in committed.groupBy("_pid").count().collect()}
        assert stats["rows"] == sum(want.values()), table
        assert stats["partitions"] == len(want), table
        lineage = wh.read("_lineage").where(F.col("stage") == table).collect()
        assert {r["partition_id"]: r["rows"] for r in lineage} == want, table
        assert len(lineage) == len(want), table
    assert wh.read("_lineage").dtypes == LINEAGE_DTYPES
    wh.append_metrics([{"stage": "many", "rows": 10000, "wall_ms": 2.5}])
    assert wh.read("_metrics").dtypes == METRICS_DTYPES


def test_warehouse_driver_appends_upgrade_spark_written_tables(spark, tmp_path):
    """Telemetry tables holding files written by Spark jobs (earlier
    warehouses) keep reading back, with their exact schemas, once
    driver-side appends land beside them."""
    from entity_resolver_spark.sources.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for table, row, dtypes in [
        ("_lineage", ("old", 0, 3, 1), LINEAGE_DTYPES),
        ("_metrics", ("old", "{}", 3, 1.0, 1), METRICS_DTYPES),
    ]:
        spark.createDataFrame([row], ", ".join(map(" ".join, dtypes))).write.mode(
            "append"
        ).parquet(os.path.join(wh.root, table))

    wh.write("t", spark.range(10).repartition(2))
    wh.append_metrics([{"stage": "t", "rows": 10, "wall_ms": 1.0}])

    lineage = wh.read("_lineage")
    assert lineage.dtypes == LINEAGE_DTYPES
    got = sorted((r["stage"], r["rows"]) for r in lineage.collect())
    assert got[0] == ("old", 3) and sum(n for s, n in got if s == "t") == 10
    metrics = wh.read("_metrics")
    assert metrics.dtypes == METRICS_DTYPES
    assert sorted(r["stage"] for r in metrics.collect()) == ["old", "t"]
    payload = json.loads(metrics.where(F.col("stage") == "t").first()["payload"])
    assert payload == {"stage": "t", "rows": 10, "wall_ms": 1.0}


def test_session_warmup_failure_warns(monkeypatch):
    """The session warm-up is best-effort, but a failure in it is reported,
    not swallowed."""
    from entity_resolver_spark.session import _warm_session

    class Broken:
        sparkContext = SimpleNamespace(applicationId="warmup-failure-test")

        def range(self, *a, **kw):
            raise RuntimeError("boom")

    monkeypatch.delenv("SPARK_GRAFT_WARM_IO", raising=False)
    with pytest.warns(RuntimeWarning, match="boom"):
        _warm_session(Broken())


def test_warehouse_catalog_mode_via_jdbc_v2(spark, tmp_path):
    """Catalog-mode Warehouse commits, executed for real (not jar-gated).

    The Iceberg branch of ``Warehouse`` calls only generic V2-catalog API —
    ``writeTo().createOrReplace()/append()``, ``read.table``, ``tableExists``,
    ``DROP TABLE`` — so Spark's built-in ``JDBCTableCatalog`` over the
    bundled embedded Derby drives every line of that branch without the
    Iceberg runtime jar. What this cannot attest is Iceberg's own snapshot
    format; what it does attest is that the catalog code path (the one the
    jar-gated test below always skipped) runs green end to end: replace,
    lineage append-with-create-fallback, metrics append, read's _pid drop,
    exists, and drop."""
    from entity_resolver_spark.sources.catalog import Warehouse

    confs = {
        "spark.sql.catalog.er_jdbc": (
            "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog"
        ),
        "spark.sql.catalog.er_jdbc.url": f"jdbc:derby:{tmp_path}/derby_wh;create=true",
        "spark.sql.catalog.er_jdbc.driver": "org.apache.derby.jdbc.EmbeddedDriver",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        spark.sql("CREATE NAMESPACE IF NOT EXISTS er_jdbc.er")
        wh = Warehouse(spark, str(tmp_path / "wh"), namespace="er_jdbc.er")
        assert wh.use_iceberg, "JDBC V2 catalog must select the catalog branch"

        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        stats = wh.write("t1", df)
        assert stats["rows"] == 2 and stats["partitions"] >= 1
        assert wh.exists("t1") and not wh.exists("t_missing")
        got = wh.read("t1")
        assert "_pid" not in got.columns
        assert {r["id"]: r["s"] for r in got.collect()} == {1: "a", 2: "b"}

        # replace commit: table is swapped, not appended
        wh.write("t1", spark.createDataFrame([(3, "c")], "id int, s string"))
        assert wh.read("t1").count() == 1

        # two commits above -> two lineage batches through the
        # append-or-create fallback in _append. Filter driver-side: Derby
        # stores Spark strings as CLOB and rejects pushed-down CLOB = CHAR
        # comparisons (a dialect quirk, not a Warehouse behavior).
        lineage_stages = [r["stage"] for r in wh.read("_lineage").collect()]
        assert lineage_stages.count("t1") >= 2

        wh.append_metrics([{"stage": "t1", "rows": 2, "wall_ms": 1.5}])
        metric_stages = [r["stage"] for r in wh.read("_metrics").collect()]
        assert metric_stages.count("t1") == 1

        # Only a missing table takes the create fallback: any other append
        # failure is raised, not papered over by a createOrReplace that
        # would drop the telemetry history.
        wh.drop("_metrics")
        spark.createDataFrame([(1,)], "x int").writeTo("er_jdbc.er._metrics").create()
        with pytest.raises(AnalysisException):
            wh.append_metrics([{"stage": "t1", "rows": 2, "wall_ms": 1.5}])

        wh.drop("t1")
        assert not wh.exists("t1")
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_warehouse_iceberg_mode_jar_gated(spark, tmp_path):
    """Iceberg-mode Warehouse commits (the north-rule storage layer),
    executed when the Iceberg Spark runtime is on the classpath and SKIPPED
    otherwise — this sandbox ships no Iceberg jars, so the parquet
    two-rename path (exercised by every pipeline test) is the fallback."""
    import pytest as _pytest

    from entity_resolver_spark.sources.catalog import Warehouse

    confs = {
        "spark.sql.catalog.icetest": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.icetest.type": "hadoop",
        "spark.sql.catalog.icetest.warehouse": str(tmp_path / "ice"),
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        try:
            spark.sql("CREATE NAMESPACE IF NOT EXISTS icetest.er")
        except Exception as exc:  # jar-gated: no Iceberg runtime here
            _pytest.skip(f"Iceberg runtime not on classpath ({type(exc).__name__})")
        wh = Warehouse(spark, str(tmp_path / "wh"), namespace="icetest.er")
        assert wh.use_iceberg
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        stats = wh.write("t1", df)
        assert stats["rows"] == 2
        assert wh.exists("t1")
        got = {r["id"]: r["s"] for r in wh.read("t1").collect()}
        assert got == {1: "a", 2: "b"}
        # replace is atomic snapshot commit
        wh.write("t1", spark.createDataFrame([(3, "c")], "id int, s string"))
        assert wh.read("t1").count() == 1
    finally:
        for k in confs:
            spark.conf.unset(k)
