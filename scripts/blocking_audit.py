"""Per-pass blocking audit: pair volume, solo recall, and LEAVE-ONE-OUT
marginal recall of every blocking pass — the data that decides which passes
earn their shuffle cost (VERDICT r3: the recall fixes nearly doubled candidate
volume at 72k; this audit is how passes get pruned back).

Builds the production block table once (``all_blocks``) and audits each of
its five passes as the rows whose block key carries the pass prefix: t:
(exact sorted-token name), i: / a: (token and anagram anchors), m (text
MinHash-LSH), r (rare-shingle inverted index). Also reports the hot-split
forgone-TRUE-pair check (truth coverage of raw block keys vs post-split
pairs) and rare-shingle df-cap variants.

Usage: python scripts/blocking_audit.py [n_entities] [--loo] [--variants]
                                        [--union-only]
  (solo table runs unless --union-only; --loo adds the 5 leave-one-out
   unions; --variants sweeps rare-shingle df caps and a min-support-2 pair
   filter; --union-only reports just the union volume, recall, and
   hot-split forgone-TRUE-pair check — the cheap per-commit regression
   probe)
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import replace
from functools import reduce
from operator import or_

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from entity_resolver_spark import datagen  # noqa: E402
from entity_resolver_spark.config import EngineConfig  # noqa: E402
from entity_resolver_spark.operators import blocking as B  # noqa: E402
from entity_resolver_spark.operators.transcripts import build_entity_records  # noqa: E402
from entity_resolver_spark.session import get_spark  # noqa: E402


def _truths(labeled):
    return (
        labeled.where(F.col("match"))
        .select(
            F.least("left", "right").alias("left"),
            F.greatest("left", "right").alias("right"),
        )
        .dropDuplicates()
    )


def truth_key_coverage(blocks, truths) -> int:
    """True pairs sharing >=1 RAW block key (pre-split upper bound on what any
    split can retain) — computed by key-join, never by materializing the raw
    pair set (mega blocks would make that quadratic)."""
    lb = blocks.select(F.col("conv_id").alias("left"), "block_key")
    rb = blocks.select(F.col("conv_id").alias("right"), "block_key")
    return (
        truths.join(lb, "left")
        .join(rb, ["right", "block_key"], "left_semi")
        .select("left", "right")
        .dropDuplicates()
        .count()
    )


def rare_support_pairs(records, cfg, min_support: int = 2):
    """Rare-shingle pairs requiring >= min_support shared rare shingles.
    True near-dups share MANY rare shingles; a junk pair shares one by
    chance — the support count is the same shuffle as the pair dedup."""
    b = B.rare_shingle_blocks(records, cfg).localCheckpoint()
    a, bb = b.alias("a"), b.alias("b")
    return (
        a.join(bb, "block_key")
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .groupBy(
            F.col("a.conv_id").alias("left"), F.col("b.conv_id").alias("right")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
        .select("left", "right")
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    n_entities = int(args[0]) if args else 2000
    do_loo = "--loo" in flags
    do_variants = "--variants" in flags
    spark = get_spark("blocking-audit")
    cfg = EngineConfig()
    data = datagen.generate(
        n_entities=n_entities, convs_per_entity=(2, 5), turns_per_conv=(3, 12)
    )
    transcripts = datagen.to_spark(spark, data["transcripts"]).repartition(32)
    labeled = spark.createDataFrame(data["labeled_pairs"])
    records = build_entity_records(transcripts).localCheckpoint()
    n_rec = records.count()
    truths = _truths(labeled).localCheckpoint()
    n_truth = truths.count()

    blocks = B.all_blocks(records, cfg).localCheckpoint()
    passes = {
        "exact": "t:",
        "anchor_id": "i:",
        "anchor_ana": "a:",
        "minhash_text": "m",
        "rare_shingle": "r",
    }

    def rows_of(*prefixes):
        return blocks.where(
            reduce(or_, [F.col("block_key").startswith(p) for p in prefixes])
        )

    def without(name):
        return rows_of(*[p for other, p in passes.items() if other != name])

    def pairs_of(blocks_df):
        # the _st stamp assumes every t: block is in the input; a pass subset
        # may lack them, so pairs come from the unstamped split
        split = B.split_hot_blocks(blocks_df, cfg).drop("_st")
        return B.pairs_from_blocks(split).localCheckpoint()

    def covered(p) -> int:
        return truths.join(p, ["left", "right"], "left_semi").count()

    print(f"=== corpus: {n_entities} entities, {n_rec} records, "
          f"{n_truth} labeled true pairs ===", flush=True)

    solo = {}
    if "--union-only" not in flags:
        for name, prefix in passes.items():
            t0 = time.monotonic()
            p = pairs_of(rows_of(prefix))
            n = p.count()
            rec = covered(p) / n_truth
            solo[name] = (n, rec, time.monotonic() - t0)
            print(f"solo {name:14s} pairs={n:>10d} recall={rec:.5f} "
                  f"wall={solo[name][2]:.1f}s", flush=True)

    all_pairs = pairs_of(blocks)
    n_all = all_pairs.count()
    cov_split = covered(all_pairs)
    cov_raw = truth_key_coverage(blocks, truths)
    print(f"\nunion: {n_all} pairs ({n_all / n_rec:.1f}/record), "
          f"recall {cov_split / n_truth:.5f}", flush=True)
    print(f"hot-split forgone TRUE pairs: raw-key coverage {cov_raw} vs "
          f"post-split {cov_split} -> forgone {cov_raw - cov_split}", flush=True)

    if do_loo:
        print(f"\n{'pass':14s} {'solo pairs':>10s} {'solo rec':>9s} "
              f"{'loo pairs':>10s} {'loo rec':>9s} {'marg rec':>9s} "
              f"{'uniq pairs':>10s}", flush=True)
        for name in passes:
            loo = pairs_of(without(name))
            n_loo = loo.count()
            rec_loo = covered(loo) / n_truth
            n_solo, rec_solo, _ = solo[name]
            print(f"{name:14s} {n_solo:>10d} {rec_solo:>9.5f} "
                  f"{n_loo:>10d} {rec_loo:>9.5f} "
                  f"{cov_split / n_truth - rec_loo:>9.5f} {n_all - n_loo:>10d}",
                  flush=True)

    if do_variants:
        print("\n-- rare-shingle variants (solo + union-with-rest) --", flush=True)
        rest_pairs = pairs_of(without("rare_shingle"))
        for df_cap in (6, 4, 3):
            vcfg = replace(cfg, rare_shingle_max_df=df_cap)
            for min_sup in (1, 2):
                t0 = time.monotonic()
                if min_sup == 1:
                    p = pairs_of(B.rare_shingle_blocks(records, vcfg))
                else:
                    p = rare_support_pairs(records, vcfg, min_sup).localCheckpoint()
                n = p.count()
                rec = covered(p) / n_truth
                u = rest_pairs.unionByName(p).dropDuplicates(["left", "right"])
                n_u = u.count()
                rec_u = covered(u) / n_truth
                print(f"df<={df_cap} sup>={min_sup}: solo pairs={n:>9d} "
                      f"rec={rec:.5f} | union pairs={n_u:>10d} "
                      f"rec={rec_u:.5f} wall={time.monotonic() - t0:.1f}s",
                      flush=True)


if __name__ == "__main__":
    main()
