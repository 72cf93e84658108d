"""Workload corpora for the production-path benchmark.

Every corpus comes from the in-repo generator ``datagen.generate`` with the
run's seed, so the same seed gives the same inputs. Sizes are scaled down
from the 24k-entity throughput corpus so that one run (JVM start, warm-up,
set-up, the timed operation and its checks) fits in well under a minute on a
4-core box; README.md gives the reasons and the measured shares.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch": time ResolutionPipeline.run; "incremental": time run_incremental
    n_entities: int
    convs_per_entity: tuple[int, int]
    turns_per_conv: tuple[int, int]
    confounder_frac: float
    new_frac: float = 0.0  # incremental: share of conversations delivered last
    redeliver_frac: float = 0.0  # incremental: share of prior conversations sent again


WORKLOADS = {
    w.name: w
    for w in (
        Workload("batch_2k", "batch", 2000, (2, 5), (3, 12), 0.2),
        Workload(
            "incremental_5pct", "incremental", 2000, (2, 5), (3, 12), 0.2,
            new_frac=0.05, redeliver_frac=0.01,
        ),
    )
}


def generate(w: Workload, seed: int) -> dict[str, pd.DataFrame]:
    from entity_resolver_spark import datagen

    return datagen.generate(
        n_entities=w.n_entities,
        convs_per_entity=w.convs_per_entity,
        turns_per_conv=w.turns_per_conv,
        confounder_frac=w.confounder_frac,
        seed=seed,
    )


def split_delivery(
    transcripts: pd.DataFrame, w: Workload, seed: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Split a corpus into (prior, delivery) for the incremental workload.

    Conversations are ordered by their first turn's timestamp; the latest
    ``new_frac`` form the delivery, so new conversations land on existing
    entities as well as new ones. ``redeliver_frac`` of the prior
    conversations, drawn with the seed, are delivered again unchanged; the
    fold must retract and re-score them.
    """
    starts = (
        transcripts.groupby("conv_id")["ts"].min().reset_index()
        .sort_values(["ts", "conv_id"])
    )
    order = starts["conv_id"].tolist()
    cut = len(order) - int(len(order) * w.new_frac)
    prior_ids = order[:cut]
    redelivered = set(
        random.Random(seed).sample(prior_ids, int(len(order) * w.redeliver_frac))
    )
    delivered = set(order[cut:]) | redelivered
    prior = transcripts[transcripts["conv_id"].isin(set(prior_ids))]
    delivery = transcripts[transcripts["conv_id"].isin(delivered)]
    return prior.reset_index(drop=True), delivery.reset_index(drop=True)
