"""Stage 2 — multi-pass blocking: candidate pair generation.

Replaces the reference's two blocking passes —
* exact person-hash grouping (reference src/classifying.py:1930-1968)
* Weaviate ANN expansion, cosine distance <= 0.18
  (reference src/classifying.py:1663-1833)
— with five Spark-native passes that all emit (conv_id, block_key, skey) rows
into ONE pair-generation join. The block-key prefix names the pass:

  t:  exact       : hash of the sorted-token name key                  (J3)
  i:  anchors     : for EVERY name token (len >= 3), the token paired with
                    the sorted initials of the other tokens. Order/length
                    symmetric: "Turing, Rosalind" and "Turing, R." both emit
                    turing|r even though their LONGEST token differs.
  a:  anagram     : the same with the token's sorted characters, which are
                    invariant under adjacent-transposition typos
                    ("Mnedel" ~ "Mendel").
  m   minhash-lsh : banded MinHash over the distinct word shingles of the
                    text (north_rule's "MinHash-LSH on token shingles";
                    replaces the ANN join J4)
  r   rare-shingle: inverted index on text shingles with document
                    frequency <= rare_shingle_max_df

The t:/i:/a: keys come from one fused per-record expression; the m and r
passes both derive from one materialized distinct-shingle table, so the
corpus text is shingled once per run.

Pair generation is a single self-equi-join on block_key with a skew guard:
hot blocks (> max_block_size members) are split into RANK-ORDERED overlapping
sub-blocks under (skey, conv_id) order — two bucketings offset by half the
cap, so members within cap/2 ranks of each other always still share a
sub-block (north_rule's "salted repartitioning on blocking keys"). Because
members are ordered by the sorted name key, the pairs a split forgoes are the
name-distant ones; same-name neighbors stay together. The forgone-pair count
is exact and observable via ``hot_block_metrics`` (recorded per run by the
pipeline).

Durability note (cluster scale): the ``localCheckpoint()`` calls in this
module are LINEAGE cuts, not durability points — blocks live on executors
and are lost with them. That is safe here because blocking is a single
pipeline STAGE: the Warehouse stage boundary (plans/pipeline.py writes
``candidate_pairs`` to parquet via the two-rename commit) is the durable
cut, and a mid-stage executor loss merely recomputes this stage from the
previous stage table, never from raw input. The cuts that would need to
become Warehouse round-trips if blocking were ever split into separately
resumable sub-stages are: the distinct-shingle table (scanned by the MinHash
signature, the df aggregate and the rare probe), the hot-shingle set, and
the post-split block table feeding the pair self-join. The CC loop is the
one place where an intra-stage failure loses unbounded work; it has the
``reliable_every`` knob instead (operators/clustering.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.functions.hashing import lsh_band_keys, shingles_expr


def _name_tokens() -> F.Column:
    return F.filter(F.split(F.col("name_key"), r"\s+"), lambda t: t != "")


def _sorted_name_key() -> F.Column:
    """Word-order-insensitive name key: sorted tokens of name_key. Handles
    'Franz Schubert' vs 'Schubert, Franz' (normalization already dropped the
    comma) — the reference gets this for free because its `person` field is
    already authority-formatted; transcripts aren't."""
    return F.array_join(F.array_sort(_name_tokens()), " ")


def _exact_key_exprs() -> list[F.Column]:
    """t: the sorted-token name hash, NULL for records without a usable name.
    ``split_hot_blocks`` stamps records whose t: block stays intact, and
    ``pairs_from_blocks`` lets that block alone emit their same-name pairs."""
    key = F.concat(F.lit("t:"), F.xxhash64(_sorted_name_key()).cast("string"))
    return [F.array(F.when(F.col("name_key") != "", key))]


def _explode_keys(records: DataFrame, key_arrays: list[F.Column]) -> DataFrame:
    # concat() is NULL if ANY argument is NULL — a record with no name (whose
    # name-pass arrays are NULL) must still keep its text-LSH keys, so every
    # array is coalesced to empty first. (Regression: nameless records lost
    # ALL blocks, silently dropping them from candidate generation.)
    empty = F.array().cast("array<string>")
    keys = F.concat(*[F.coalesce(arr, empty) for arr in key_arrays])
    return records.select(
        "conv_id",
        F.explode(F.filter(keys, lambda k: k.isNotNull())).alias("block_key"),
        _sorted_name_key().alias("skey"),
    )


def _sorted_chars(t: F.Column) -> F.Column:
    """Characters of a token, sorted — invariant under adjacent swaps."""
    return F.concat_ws("", F.array_sort(F.filter(F.split(t, ""), lambda c: c != "")))


def _anchor_key_arrays() -> list[F.Column]:
    """i:/a: per-token anchor keys. For each name token t (len >= 3), pair t
    (i:) or its sorted characters (a:) with the sorted first letters of the
    OTHER tokens. Symmetric in which token is the surname — 'rosalind turing'
    emits both (rosalind|t) and (turing|r), so 'turing r' meets it at
    turing|r no matter which token is longer."""
    toks = _name_tokens()
    idx = F.sequence(F.lit(1), F.size(toks))

    def initials_excl(i: F.Column) -> F.Column:
        others = F.filter(toks, lambda t, j: j != (i - 1))
        return F.array_join(
            F.array_sort(F.transform(others, lambda t: F.substring(t, 1, 1))), ""
        )

    def fam(tag: str, fn):
        def one(i: F.Column) -> F.Column:
            t = F.element_at(toks, i)
            return F.when(
                F.length(t) >= 3,
                F.concat(
                    F.lit(tag),
                    F.xxhash64(
                        F.concat_ws("|", fn(t), initials_excl(i))
                    ).cast("string"),
                ),
            )

        return F.when(F.size(toks) > 0, F.transform(idx, one))

    return [fam("i:", lambda t: t), fam("a:", _sorted_chars)]


def _shingle_hash_rows(records: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(conv_id, _gh, skey): one row per DISTINCT word ``rare_shingle_k``-
    shingle per record, shingle hashed to 64 bits. Materialized once
    (localCheckpoint) and consumed by both text passes — the MinHash
    signature and the rare-shingle df aggregate + probe — so the corpus text
    is scanned and shingled exactly once per blocking run."""
    return records.select(
        "conv_id",
        F.explode(
            F.array_distinct(shingles_expr(F.col("tokens"), cfg.rare_shingle_k))
        ).alias("_g"),
        _sorted_name_key().alias("skey"),
    ).select("conv_id", F.xxhash64("_g").alias("_gh"), "skey").localCheckpoint()


def minhash_blocks_from_shingle_rows(
    sh: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """m: banded-MinHash blocks computed from the materialized
    ``_shingle_hash_rows`` table. Signature hashes re-hash the 64-bit
    shingle hash per slot (xxhash64 over longs) — statistically the same
    LSH family as hashing the shingle string per slot (recall measured
    identical to a separate string-scan signature at 24k: 0.99971 either
    way; that extra scan cost 73s of a ~210s blocking wall at the 144k
    corpus, local[16]). The signature is an explode+groupBy: partial
    aggregation keeps the shuffle to one reduced row per mapper x record,
    and the corpus text never shuffles.

    MinHash over DISTINCT shingles equals MinHash over the multiset — min()
    ignores multiplicity — so sharing the rare pass's distinct rows is
    exact. The Jaccard being estimated is over ``rare_shingle_k``-shingles
    (4) rather than ``shingle_k`` (3); the banded-collision recall of that
    estimate is part of the measured blocking-recall gates."""
    aggs = [
        F.min(F.xxhash64(F.col("_gh"), F.lit(i))).alias(f"_h{i}")
        for i in range(cfg.minhash_hashes)
    ] + [F.first("skey").alias("skey")]
    sig = sh.groupBy("conv_id").agg(*aggs).select(
        "conv_id",
        F.array(*[F.col(f"_h{i}") for i in range(cfg.minhash_hashes)]).alias("sig"),
        "skey",
    )
    keys = lsh_band_keys(F.col("sig"), cfg.minhash_hashes, cfg.minhash_bands)
    tagged = F.transform(keys, lambda k: F.concat(F.lit("m"), k))
    return sig.select("conv_id", F.explode(tagged).alias("block_key"), "skey")


def rare_shingle_blocks(
    records: DataFrame, cfg: EngineConfig, sh: DataFrame | None = None
) -> DataFrame:
    """r: inverted index on RARE text shingles — block key = any distinct
    word ``rare_shingle_k``-shingle whose document frequency is
    <= ``rare_shingle_max_df``. The shingle here is LONGER than the
    Jaccard-estimation shingles (``shingle_k``): rarity decays as the
    corpus grows over a bounded vocabulary, and the scale-correct response
    is a longer (more specific) shingle at the SAME df cap, not a higher
    cap — see the RARE_SHINGLE_K note in config.py for the 252k/504k-record
    measurements.

    Near-duplicate texts share many shingles, and the rare ones identify the
    family almost uniquely, so this pass catches pairs whose NAMES are
    unusable (the measured residual at 24k entities: typo-mangled hyphenated
    surnames truncated by name extraction — 3039 missed pairs; this pass
    recovers ~96% of them at ~20% extra candidate volume, where a wider
    name-order window or more MinHash bands bought nothing or cost 2-3x).
    The df cap bounds junk: a shingle can emit at most C(df_max, 2) pairs;
    a cap of 0 or 1 emits no block at all.

    Shape for 100 TB: shingles are hashed early (64-bit; a collision only
    adds a spurious block), df comes from a map-side-combining groupBy (tiny
    shuffle — one row per distinct shingle), and the join back PROBES with
    the doc-shingle rows against the rare subset; hot shingles are filtered
    out of the build side so no reduce task owns a mega-key, and AQE splits
    any skewed probe partition. A count-Window over the shingle would instead
    ship every instance of every hot shingle to one task.
    """
    if sh is None:
        sh = _shingle_hash_rows(records, cfg)  # scanned twice: df agg + probe
    # INVERTED probe (r5): most distinct shingles are rare at any sane df cap
    # — at 144k entities the old rare-side equi-join shuffled ~30M of ~45M
    # occurrence rows against an ~10M-row build side. The HOT set (df > cap)
    # is the small complement, so probe with a broadcast LEFT ANTI join
    # against it: identical output (df <= cap  <=>  not hot), zero shuffle of
    # the occurrence table. Fallback to the shuffled anti-join if the hot set
    # is ever too big to broadcast (degenerate corpora).
    hot = (
        sh.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > cfg.rare_shingle_max_df)
        .select("_gh")
        .localCheckpoint()
    )
    hot_side = F.broadcast(hot) if hot.count() <= HOT_BROADCAST_MAX else hot
    rare_rows = sh.join(hot_side, "_gh", "left_anti")
    # MEMBER-SET dedup (r5, exactly pair-preserving): consecutive shingles of
    # one shared phrase all key the SAME record set, and 62% of rare blocks
    # at the 144k corpus had only ONE member (zero pairs, pure join
    # traffic). Group members per shingle (bounded by the df cap — never a
    # hot-key collect), drop size-1 sets, and key each block by the hash of
    # its member list so duplicate sets collapse to one block. Measured at
    # 144k: 30.3M block rows -> ~14.7M, raw pair fan-out 20.8M -> 17.9M,
    # with the downstream pair set IDENTICAL by construction.
    grouped = (
        rare_rows.groupBy("_gh")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("conv_id", "skey"))
            ).alias("_mem")
        )
        .where(F.size("_mem") >= 2)
        .select(
            F.transform(F.col("_mem"), lambda m: m["conv_id"]).alias("_ids"),
            "_mem",
        )
        # exact-array dedup (a hash-only dedup could drop a real block on a
        # 64-bit collision); the hash is only the block KEY, where a
        # collision merely merges two blocks — extra pairs, never lost
        .dropDuplicates(["_ids"])
        .select(F.xxhash64("_ids").alias("_gh"), "_mem")
    )
    return grouped.select(
        F.explode("_mem").alias("_m"),
        F.concat(F.lit("r"), F.col("_gh").cast("string")).alias("block_key"),
    ).select(
        F.col("_m.conv_id").alias("conv_id"), "block_key",
        F.col("_m.skey").alias("skey"),
    )


def all_blocks(records: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Union of the five blocking passes: (conv_id, block_key, skey).

    ``skey`` (the sorted-token name key) rides along so ``split_hot_blocks``
    can order hot-block members by name — splits then forgo name-DISTANT
    pairs, not arbitrary ones.

    The name passes (t:, i:, a:) fuse into ONE scan of records (one select,
    one explode). The text passes (m, r) share ONE materialized
    distinct-shingle table (``_shingle_hash_rows``): the MinHash signature
    and the rare-shingle index are both derived from it.

    The pass set follows the leave-one-out audit (scripts/blocking_audit.py,
    COVERAGE.md round 4): a pass must buy marginal recall proportionate to
    its unique-pair volume, because every junk candidate is Jaro-Winkler +
    cosine work downstream. Sorted-neighborhood, char-gram name LSH and
    soundex anchors failed that test at 72k entities and were dropped.
    """
    sh = _shingle_hash_rows(records, cfg)
    return (
        _explode_keys(records, [*_exact_key_exprs(), *_anchor_key_arrays()])
        .unionByName(minhash_blocks_from_shingle_rows(sh, cfg))
        .unionByName(rare_shingle_blocks(records, cfg, sh=sh))
    )


# Blocks larger than max_block_size * this multiplier skip the rank-ordered
# split (whose per-block sort a single task must perform) and fall back to a
# stateless hash salt. Blocks that big are junk buckets by construction —
# ordering adds nothing there, and at web scale a mega-block must never
# serialize through one sort task.
ORDERED_SPLIT_MULT = 32

# Ceiling on the row count of a "small complement" table (hot shingles, hot
# block sizes) that the inverted probes below broadcast. 4M longs ~ 32 MB
# serialized — comfortably within executor broadcast budgets; beyond it the
# code falls back to the shuffled join it replaced. Hot sets are small by
# construction (they are the skew tail), so the fallback is a degenerate-
# corpus safety valve, not an expected path.
HOT_BROADCAST_MAX = 4_000_000


def split_hot_blocks(
    blocks: DataFrame, cfg: EngineConfig, materialized: bool = False
) -> DataFrame:
    """Skew guard: blocks larger than ``max_block_size`` are split into
    sub-blocks; pair fan-out per block is bounded at ~cap^2.

    Three routes by block size n (sizes from a map-side-combining groupBy,
    joined back — NOT a count Window, which would ship every instance of the
    hottest key to one task):

    * n <= cap — untouched.
    * cap < n <= cap*ORDERED_SPLIT_MULT — RANK-ORDERED overlapping split:
      members ranked by (skey, conv_id); two interval bucketings offset by
      cap/2 guarantee members within cap/2 ranks still share a sub-block, so
      with name-sorted order the forgone pairs are the name-DISTANT ones
      (the split that saved this round's quality-at-scale gate). The rank
      Window only ever sees these bounded blocks — per-task sort <= cap*MULT
      rows per block.
    * n > cap*ORDERED_SPLIT_MULT — stateless hash salt on the member id:
      no sort anywhere, and because the salt is a projection, AQE's skew
      handling can split the mega-key's join partitions freely.

    Forgone pairs are exactly countable — see ``hot_block_metrics``.
    """
    cap = cfg.max_block_size
    h = max(cap // 2, 1)
    mega = cap * ORDERED_SPLIT_MULT
    has_skey = "skey" in blocks.columns
    order = ["skey", "conv_id"] if has_skey else ["conv_id"]
    if not materialized:
        # the sizes aggregate and the join probe each scan `blocks`; an
        # un-materialized key-battery plan must not be evaluated twice
        # (callers that already checkpointed pass materialized=True)
        blocks = blocks.localCheckpoint()
    # INVERTED size probe (r5): almost every block is small, so joining ALL
    # block rows against the full sizes table (40M x 22M at the 144k corpus,
    # 64s at local[16]) shuffles everything to route almost nothing. The HOT
    # sizes (_n > cap) are the tiny complement: broadcast them, route small
    # rows via LEFT ANTI (map-side, no shuffle), and only hot-block member
    # rows (few by construction) join to pick up their _n. Output identical:
    # _n <= cap  <=>  block_key not in hot_sizes.
    hot_sizes = (
        blocks.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > cap)
        .localCheckpoint()
    )
    n_hot = hot_sizes.count()
    hot_is_small = n_hot <= HOT_BROADCAST_MAX
    hot_side = F.broadcast(hot_sizes) if hot_is_small else hot_sizes
    carry = ["skey"] if has_skey else []
    small = blocks.join(hot_side, "block_key", "left_anti").select(
        "conv_id", "block_key", *carry
    )
    b = blocks.join(hot_side, "block_key")

    wo = Window.partitionBy("block_key").orderBy(*order)
    med = (
        b.where((F.col("_n") > cap) & (F.col("_n") <= mega))
        .select(
            "conv_id", "block_key", *carry,
            (F.row_number().over(wo) - 1).alias("_r"),
        )
        .select(
            "conv_id",
            F.explode(
                F.array(
                    F.concat_ws(
                        "#", F.col("block_key"),
                        F.floor(F.col("_r") / cap).cast("string"),
                    ),
                    F.concat_ws(
                        "#", F.col("block_key"), F.lit("o"),
                        F.floor((F.col("_r") + h) / cap).cast("string"),
                    ),
                )
            ).alias("block_key"),
            *carry,
        )
    )

    big = b.where(F.col("_n") > mega).select(
        "conv_id",
        F.concat_ws(
            "#",
            F.col("block_key"),
            F.lit("h"),
            F.pmod(F.xxhash64("conv_id"), F.ceil(F.col("_n") / cap)).cast("string"),
        ).alias("block_key"),
        *carry,
    )
    out = small.unionByName(med).unionByName(big)
    # KEY-SUBSUMPTION STAMP (r6): ``_st`` = xxhash64(skey) when the record is
    # named AND its exact sorted-token block (key "t:<xxhash64(skey)>") was
    # NOT hot-split; NULL otherwise. Two rows with equal non-null _st share
    # an intact exact block, so every pair between them is ALREADY emitted by
    # the t: pass — ``pairs_from_blocks`` uses the stamp to skip re-emitting
    # such pairs from every other pass, shrinking the raw pair fan-out and
    # the dedup exchange (the largest single blocking term at the 144k
    # corpus) with a pair set identical BY CONSTRUCTION:
    #   _st non-null  =>  t-key not in hot_sizes  =>  the t: block survived
    #   the split intact  =>  the exact pass emits the pair. Even two
    #   DIFFERENT skeys colliding on xxhash64 share the same t: block key
    #   (the key IS that hash), so the guarantee survives hash collisions.
    # The hot-t probe is a broadcast left join against the (tiny) t-subset of
    # hot_sizes; on a degenerate corpus where hot_sizes itself outgrows the
    # broadcast budget the stamp is all-NULL — no pair is dropped, exactly
    # the previous behavior.
    if has_skey and n_hot == 0:
        # no hot block at all => every named record's t: block is intact;
        # stamp without the (empty) hot-t probe join
        out = out.select(
            "conv_id",
            "block_key",
            F.when(F.col("skey") != "", F.xxhash64("skey")).alias("_st"),
        )
    elif has_skey and hot_is_small:
        hot_t = hot_sizes.where(F.col("block_key").startswith("t:")).select(
            F.col("block_key").alias("_tk"), F.lit(1).alias("_hot")
        )
        out = (
            out.withColumn(
                "_tk",
                F.when(
                    F.col("skey") != "",
                    F.concat(F.lit("t:"), F.xxhash64("skey").cast("string")),
                ),
            )
            .join(F.broadcast(hot_t), "_tk", "left")
            .select(
                "conv_id",
                "block_key",
                F.when(
                    F.col("_hot").isNull() & (F.col("skey") != ""),
                    F.xxhash64("skey"),
                ).alias("_st"),
            )
        )
    else:
        out = out.select(
            "conv_id", "block_key", F.lit(None).cast("long").alias("_st")
        )
    return out


def _sum_pairs_interval(n: F.Column, width: int, off: int) -> F.Column:
    """Sum of C(size, 2) over the partition of [0, n) into intervals of
    ``width`` with boundaries shifted by ``off`` (bucket = floor((r+off)/w))."""
    first = F.least(n, F.lit(width - off) if off else F.lit(width))
    rest = n - first
    full = F.floor(rest / width)
    tail = rest - full * width
    c2 = lambda x: (x * (x - 1)) / 2  # noqa: E731
    return c2(first) + full * c2(F.lit(width)) + c2(tail)


def _sum_pairs_refinement(n: F.Column, cap: int, h: int) -> F.Column:
    """Sum of C(size, 2) over the COMMON REFINEMENT of the two offset
    bucketings (grid `cap` offset 0, grid `cap` offset `h`): boundaries at
    every multiple of cap AND every multiple-of-cap-minus-h, i.e. segments of
    alternating widths (cap-h), h, (cap-h), h, ... Pairs sharing a bucket in
    BOTH bucketings are exactly the pairs sharing a refinement segment. When
    cap == 2h this is the uniform h-grid; for odd caps the widths differ and
    assuming the h-grid undercounts forgone pairs (cap=5, n=17: true retained
    47, h-grid formula said 52)."""
    c2 = lambda x: (x * (x - 1)) / 2  # noqa: E731
    w1 = cap - h  # first segment width of each cap-period
    full = F.floor(n / cap)
    t = n - full * cap  # remainder: one partial period, widths w1 then h
    per_period = c2(F.lit(w1)) + c2(F.lit(h))
    seg1 = F.least(t, F.lit(w1))
    seg2 = F.greatest(t - w1, F.lit(0).cast("double"))
    return full * per_period + c2(seg1) + c2(seg2)


def hot_block_metrics(blocks: DataFrame, cfg: EngineConfig) -> DataFrame:
    """One row of observability for the skew guard: how many blocks exceeded
    the cap, how many member rows they held, and EXACTLY how many candidate
    pairs the split forgoes (the doc contract of ``split_hot_blocks``).
    Pass the same (ideally materialized) blocks the split consumes.

    Rank-split blocks (cap < n <= cap*ORDERED_SPLIT_MULT): retained pairs =
    pairs sharing a bucket in either of the two offset bucketings. By
    inclusion-exclusion: S(n, cap, 0) + S(n, cap, h) - (pairs sharing a
    bucket in BOTH) — and since both bucketings are interval partitions of
    the rank line, sharing both is exactly sharing a segment of their common
    refinement, whose segments alternate widths (cap-h) and h (the uniform
    h-grid when cap is even). Closed form from n alone, exact for ANY cap.

    Hash-salted mega blocks (n > cap*ORDERED_SPLIT_MULT): retained depends
    on the realized hash bucket sizes, so it is computed from the data —
    sum of C(bucket_size, 2) over the actual salt assignment (mega blocks
    are few; this scans only their rows).
    """
    cap = cfg.max_block_size
    h = max(cap // 2, 1)
    mega = cap * ORDERED_SPLIT_MULT
    sizes = (
        blocks.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cap)
    )
    n = F.col("n").cast("double")
    total = (n * (n - 1)) / 2
    retained_ranked = (
        _sum_pairs_interval(n, cap, 0)
        + _sum_pairs_interval(n, cap, h)
        - _sum_pairs_refinement(n, cap, h)
    )
    ordered = sizes.where(F.col("n") <= mega).select(
        "block_key", "n", (total - retained_ranked).alias("_forgone")
    )
    mega_sizes = sizes.where(F.col("n") > mega)
    bkt = F.pmod(F.xxhash64("conv_id"), F.ceil(F.col("n") / cap))
    mega_buckets = (
        blocks.join(mega_sizes, "block_key")
        .select("block_key", "n", bkt.alias("_b"))
        .groupBy("block_key", "n", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    c = F.col("_c").cast("double")
    mega_per_block = mega_buckets.groupBy("block_key", "n").agg(
        F.sum((c * (c - 1)) / 2).alias("_retained")
    ).select(
        "block_key", "n", (total - F.col("_retained")).alias("_forgone")
    )
    per_block = ordered.unionByName(mega_per_block)
    return per_block.agg(
        F.count(F.lit(1)).alias("n_hot_blocks"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("hot_rows"),
        F.coalesce(F.sum("_forgone"), F.lit(0.0)).cast("long").alias("forgone_pairs"),
    )


def pairs_from_blocks(blocks: DataFrame, materialize: bool = True) -> DataFrame:
    """Canonicalized candidate pairs from (conv_id, block_key) rows.

    One self-equi-join on block_key; `<` ordering both de-duplicates within a
    block and canonicalizes (reference canonicalizes pairs by sorting ids,
    src/classifying.py:1108-1130). dropDuplicates collapses pairs found by
    multiple passes — the reference unions within-group and cross-group pair
    sets the same way (src/classifying.py:1089-1130).

    ``materialize`` (default) cuts the input's lineage with an eager
    localCheckpoint before the self-join: the block rows are tiny, but their
    PLAN is the whole multi-pass key computation — without the cut the join
    evaluates it once per side, and every downstream action re-analyzes the
    giant expression tree on the driver.

    KEY SUBSUMPTION (r6): when the input carries the ``_st`` stamp from
    ``split_hot_blocks``, pairs whose two sides share a non-null stamp are
    emitted ONLY by the exact (``t:``) blocks — every other pass skips them
    (the stamp guarantees the intact exact block already produces the pair;
    see the stamp's construction for the proof). This shrinks the join
    output feeding the dedup exchange — same-name records collide in every
    text/anchor pass, so their cross products used to be re-emitted and
    re-deduped once per pass — while the distinct pair set is unchanged.
    """
    has_st = "_st" in blocks.columns
    blocks = blocks.select(
        "conv_id", "block_key", *(["_st"] if has_st else [])
    )
    if materialize:
        blocks = blocks.localCheckpoint()
    a = blocks.alias("a")
    b = blocks.alias("b")
    joined = a.join(b, "block_key").where(
        F.col("a.conv_id") < F.col("b.conv_id")
    )
    if has_st:
        joined = joined.where(
            F.col("block_key").startswith("t:")
            | F.col("a._st").isNull()
            | F.col("b._st").isNull()
            | (F.col("a._st") != F.col("b._st"))
        )
    return joined.select(
        F.col("a.conv_id").alias("left"),
        F.col("b.conv_id").alias("right"),
    ).dropDuplicates(["left", "right"])


def candidate_pairs(records: DataFrame, cfg: EngineConfig | None = None) -> DataFrame:
    cfg = cfg or EngineConfig()
    blocks = all_blocks(records, cfg).localCheckpoint()
    return pairs_from_blocks(split_hot_blocks(blocks, cfg, materialized=True))


def blocking_recall(pairs: DataFrame, labeled: DataFrame) -> float:
    """Fraction of labeled true pairs covered by candidate pairs (the judged
    blocking keys). The reference reports a 99.23% comparison *reduction*;
    recall of true pairs is the correctness side of that trade."""
    truths = (
        labeled.where(F.col("match"))
        .select(
            F.least("left", "right").alias("left"),
            F.greatest("left", "right").alias("right"),
        )
        .dropDuplicates()
    )
    total = truths.count()
    if total == 0:
        return 1.0
    covered = truths.join(pairs, ["left", "right"], "left_semi").count()
    return covered / total
