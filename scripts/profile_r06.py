"""Round-6 measurement harness (guide §1: measure first, noop-sink isolation).

Replicates bench.py's timed region but with FINE-GRAINED timers inside each
ER stage (blocking sub-steps, CC rounds, pair_inputs phases) plus repeated
runs of each headline query, so optimization targets are chosen from
evidence, not guesses. Does NOT touch bench.py (frozen).

Usage: python scripts/profile_r06.py [queries|er|cc]   # default: all
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

T: dict[str, float] = {}


def timed(name, fn):
    t0 = time.monotonic()
    out = fn()
    T[name] = round(time.monotonic() - t0, 3)
    print(f"  {name}: {T[name]:.3f}s", flush=True)
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entry_mod
    from entity_resolver_spark.session import get_spark

    spark = get_spark(
        "profile-r06", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    spark.range(1_000).count()
    sc = spark.sparkContext

    if what in ("all", "queries"):
        print("== headline queries (3 runs each: cold, warm, warm) ==")
        qmap = entry_mod.queries()
        for name in [
            "agg_pricing", "join_revenue_by_nation", "topk_orders_per_customer",
            "exact_dedup", "token_stats", "quality_buckets", "embedding_topk",
            "sessionize",
        ]:
            walls = []
            for i in range(3):
                sc.setJobDescription(f"{name}#{i}")
                t0 = time.monotonic()
                df = qmap[name](spark, sf_dir)
                noop(df)
                walls.append(round(time.monotonic() - t0, 3))
            T[f"q_{name}"] = walls
            print(f"  {name}: {walls}", flush=True)

    if what in ("all", "er", "cc"):
        from entity_resolver_spark import datagen
        from entity_resolver_spark.config import EngineConfig
        from entity_resolver_spark.operators import blocking as B
        from entity_resolver_spark.operators.features import (
            features_from_inputs, pair_inputs, text_vectors,
        )
        from entity_resolver_spark.operators.scoring import Model, score_pairs
        from entity_resolver_spark.operators.transcripts import build_entity_records

        cfg = EngineConfig()
        n_entities = int(os.environ.get("SPARK_GRAFT_BENCH_ENTITIES", "2000"))
        data = datagen.generate(
            n_entities=n_entities, convs_per_entity=(2, 5), turns_per_conv=(3, 12)
        )
        sc.setJobDescription("corpus_load")
        transcripts = timed(
            "corpus_load",
            lambda: datagen.to_spark(spark, data["transcripts"])
            .repartition(max(cpus, 8))
            .localCheckpoint(),
        )

        _DEAD = ["full_text", "norm_text", "first_turn", "name_raw"]
        sc.setJobDescription("er_normalize")
        # sub-steps: build plan analysis+exec vs checkpoint
        t0 = time.monotonic()
        rec_plan = build_entity_records(transcripts).drop(*_DEAD)
        T["normalize_planbuild"] = round(time.monotonic() - t0, 3)
        records = timed("normalize_exec_ckpt", lambda: rec_plan.localCheckpoint())
        timed("normalize_count", lambda: records.count())

        # ---- blocking sub-steps (replicates candidate_pairs internals) ----
        sc.setJobDescription("er_blocking")
        tB = time.monotonic()
        sh = timed("blk_shingle_rows", lambda: B._shingle_hash_rows(records, cfg))
        key_battery = B._explode_keys(
            records,
            [
                *B._exact_key_exprs(),
                *B._anchor_key_arrays(),
            ],
        )
        out = key_battery.unionByName(B.minhash_blocks_from_shingle_rows(sh, cfg))
        out = out.unionByName(B.rare_shingle_blocks(records, cfg, sh=sh))
        blocks = timed("blk_allblocks_ckpt", lambda: out.localCheckpoint())
        split = timed(
            "blk_split_hot", lambda: B.split_hot_blocks(blocks, cfg, materialized=True)
        )
        pairs_plan = B.pairs_from_blocks(split)
        pairs = timed("blk_pairjoin_dedup_ckpt", lambda: pairs_plan.localCheckpoint())
        n_pairs = timed("blk_count", lambda: pairs.count())
        T["er_blocking_total"] = round(time.monotonic() - tB, 3)
        print(f"  n_pairs={n_pairs}")

        sc.setJobDescription("er_vectors")
        vectors = timed(
            "er_vectors", lambda: text_vectors(records, cfg).localCheckpoint()
        )
        timed("vectors_count", lambda: vectors.count())

        # ---- pair_inputs sub-steps ----
        sc.setJobDescription("er_pair_inputs")
        tP = time.monotonic()
        score_tasks = max(cpus, min(4 * cpus, 1 + n_pairs // 65536))
        ranged = timed(
            "pi_range_pairs",
            lambda: pairs.repartitionByRange(score_tasks, "left", "right"),
        )
        pi_plan = pair_inputs(ranged, records, vectors=vectors)
        inputs = timed("pi_exec_ckpt", lambda: pi_plan.localCheckpoint())
        timed("pi_count", lambda: inputs.count())
        T["er_pair_inputs_total"] = round(time.monotonic() - tP, 3)

        model = Model.default()
        scored_plan = score_pairs(features_from_inputs(inputs), model)
        sc.setJobDescription("er_score")
        timed("er_score_cold", lambda: noop(scored_plan))
        walls = []
        for _ in range(3):
            t0 = time.monotonic()
            noop(scored_plan)
            walls.append(round(time.monotonic() - t0, 3))
        T["er_score_warm"] = walls
        print(f"  er_score_warm: {walls}")
        scored = scored_plan.persist()
        timed("scored_persist_count", lambda: scored.count())

        # ---- clustering sub-steps ----
        sc.setJobDescription("er_cluster")
        tC = time.monotonic()
        from entity_resolver_spark.operators.clustering import cluster_records

        clusters = cluster_records(records, scored, model.edge_threshold)
        T["cluster_cc"] = round(time.monotonic() - tC, 3)
        timed("cluster_distinct_count", lambda: clusters.select("cluster_id").distinct().count())
        T["er_cluster_total"] = round(time.monotonic() - tC, 3)

        # ---- evaluate_pairs (untracked bench tail) ----
        sc.setJobDescription("evaluate_pairs")
        from entity_resolver_spark.plans.pipeline import evaluate_pairs

        labeled = spark.createDataFrame(data["labeled_pairs"])
        timed("evaluate_pairs", lambda: evaluate_pairs(scored, labeled) and None)

    print(json.dumps(T))


if __name__ == "__main__":
    main()
