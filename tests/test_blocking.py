"""Blocking: recall of labeled true pairs, canonicalization, skew guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.blocking import (
    all_blocks,
    blocking_recall,
    candidate_pairs,
    pairs_from_blocks,
    split_hot_blocks,
)


def test_blocking_recall_is_total(spark, records, labeled):
    """Every labeled true pair must share >=1 blocking key (the north_rule
    judges F1 'at identical blocking keys' — blocking must not lose pairs)."""
    pairs = candidate_pairs(records)
    assert blocking_recall(pairs, labeled) == 1.0


def test_pairs_are_canonical_and_deduped(spark, records):
    pairs = candidate_pairs(records)
    assert pairs.where(F.col("left") >= F.col("right")).count() == 0
    assert pairs.count() == pairs.dropDuplicates(["left", "right"]).count()


def test_blocking_reduces_comparisons(spark):
    """Reduction ratio improves with corpus size (block sizes are bounded by
    the split cap and the rare-shingle df cap, so candidate pairs grow about
    linearly while all-pairs grows quadratically): assert at 200 entities.
    The conftest 20-entity corpus (~55 records) is too small for a reduction
    claim — a handful of shared text bands already spans much of it."""
    from entity_resolver_spark import datagen
    from entity_resolver_spark.operators.transcripts import build_entity_records

    data = datagen.generate(n_entities=200, seed=7)
    recs = build_entity_records(datagen.to_spark(spark, data["transcripts"]))
    n = recs.count()
    pairs = candidate_pairs(recs).count()
    assert pairs < n * (n - 1) / 2 * 0.2, "blocking should prune >=80% of pairs"


def test_hot_block_split_bounds_block_size(spark):
    cfg = EngineConfig(max_block_size=10)
    blocks = spark.createDataFrame(
        [(f"id{i:03d}", "hot") for i in range(100)]
        + [(f"id{i:03d}", "cold") for i in range(5)],
        ["conv_id", "block_key"],
    )
    salted = split_hot_blocks(blocks, cfg)
    sizes = salted.groupBy("block_key").count().collect()
    assert max(r["count"] for r in sizes) <= cfg.max_block_size
    # every member kept (hot members appear in both offset bucketings)
    assert salted.select("conv_id").distinct().count() == 100
    # cold block untouched
    assert salted.where(F.col("block_key") == "cold").count() == 5


def test_hot_block_split_keeps_rank_neighbors_and_counts_forgone(spark):
    """Members within cap/2 ranks must still share a sub-block, and
    hot_block_metrics' forgone-pair count must equal the EXACT number of
    pairs the split dropped (cross-checked by brute force)."""
    from entity_resolver_spark.operators.blocking import hot_block_metrics

    cfg = EngineConfig(max_block_size=10)
    n = 47  # non-multiple of cap: exercises partial buckets
    blocks = spark.createDataFrame(
        [(f"id{i:03d}", "hot") for i in range(n)], ["conv_id", "block_key"]
    )
    salted = split_hot_blocks(blocks, cfg)
    retained = pairs_from_blocks(salted).count()
    # neighbor guarantee: ranks are conv_id order here (no skey column)
    got = {
        (r["left"], r["right"]) for r in pairs_from_blocks(salted).collect()
    }
    h = cfg.max_block_size // 2
    for i in range(n - 1):
        for j in range(i + 1, min(i + h + 1, n)):
            assert (f"id{i:03d}", f"id{j:03d}") in got, (i, j)
    m = hot_block_metrics(blocks, cfg).collect()[0]
    assert m["n_hot_blocks"] == 1
    assert m["hot_rows"] == n
    assert m["forgone_pairs"] == n * (n - 1) // 2 - retained


def test_forgone_pairs_exact_for_odd_caps(spark):
    """The rank-split retained-pair closed form must be exact for ODD caps
    too (ADVICE r3: the two offset bucketings' common refinement is the
    uniform h-grid only when cap == 2h; odd caps have alternating segment
    widths cap-h and h — the old formula undercounted forgone pairs, e.g.
    cap=5, n=17 retained 47 but the formula said 52)."""
    from entity_resolver_spark.operators.blocking import hot_block_metrics

    for cap, n in [(5, 17), (5, 23), (7, 30), (9, 100), (10, 47), (11, 11 * 32)]:
        cfg = EngineConfig(max_block_size=cap)
        blocks = spark.createDataFrame(
            [(f"id{i:04d}", "hot") for i in range(n)], ["conv_id", "block_key"]
        )
        retained = pairs_from_blocks(split_hot_blocks(blocks, cfg)).count()
        m = hot_block_metrics(blocks, cfg).collect()[0]
        assert m["forgone_pairs"] == n * (n - 1) // 2 - retained, (cap, n)


def test_pairs_from_blocks_within_block_only(spark):
    blocks = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k2"), ("d", "k2"), ("e", "k3")],
        ["conv_id", "block_key"],
    )
    got = {
        (r["left"], r["right"])
        for r in pairs_from_blocks(blocks).collect()
    }
    assert got == {("a", "b"), ("c", "d")}


def test_golden_pair_blocks_together(spark):
    """FIXTURES.md §5: 'Schubert, Franz' vs 'Schubert, Franz, 1797-1828' must
    share a block despite different raw names (the reference's inline
    regression case, src/classifying.py:979-982)."""
    from entity_resolver_spark.operators.transcripts import build_entity_records

    rows = [
        ("g1", 0, "user", "Schubert, Franz. symphony vienna lieder composition", None, None),
        ("g1", 1, "assistant", "symphony vienna lieder piano quartet", None, None),
        ("g2", 0, "user", "Schubert, Franz, 1797-1828. symphony vienna lieder composition", None, None),
        ("g2", 1, "assistant", "symphony vienna lieder piano quartet", None, None),
        ("g3", 0, "user", "Schubert, Franz. excavation pottery bronze stratigraphy", None, None),
        ("g3", 1, "assistant", "excavation pottery dig site artifact", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    recs = build_entity_records(df)
    pairs = {
        (r["left"], r["right"]) for r in candidate_pairs(recs).collect()
    }
    assert ("g1", "g2") in pairs


def test_nameless_records_keep_text_blocks(spark):
    """Records with NO name mention (name_key == '') must still receive
    text-MinHash block keys — regression: NULL name-pass key arrays made the
    fused concat NULL and silently dropped nameless records from blocking."""
    from entity_resolver_spark.config import EngineConfig
    from entity_resolver_spark.operators.blocking import all_blocks, candidate_pairs
    from entity_resolver_spark.operators.transcripts import build_entity_records

    body = "the same lowercase words repeated over and over again for blocking"
    rows = [
        ("n1", 0, "user", body, None, None),
        ("n2", 0, "user", body + " extra", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    records = build_entity_records(df)
    assert records.where(F.col("name_key") != "").count() == 0  # truly nameless
    blocks = all_blocks(records, EngineConfig())
    m_keys = blocks.where(F.col("block_key").startswith("m")).count()
    assert m_keys > 0, "nameless records lost their text-LSH blocks"
    pairs = candidate_pairs(records, EngineConfig()).collect()
    assert {(r["left"], r["right"]) for r in pairs} == {("n1", "n2")}


def test_mega_block_hash_salt_route(spark):
    """Blocks beyond cap*ORDERED_SPLIT_MULT skip the rank sort and get a
    stateless hash salt; hot_block_metrics stays EXACT there too (retained
    computed from the realized bucket sizes)."""
    from entity_resolver_spark.operators.blocking import (
        ORDERED_SPLIT_MULT,
        hot_block_metrics,
    )

    cfg = EngineConfig(max_block_size=4)
    n = 4 * ORDERED_SPLIT_MULT + 72  # 200 > mega threshold (128)
    blocks = spark.createDataFrame(
        [(f"id{i:04d}", "mega") for i in range(n)], ["conv_id", "block_key"]
    )
    salted = split_hot_blocks(blocks, cfg)
    sizes = [r["count"] for r in salted.groupBy("block_key").count().collect()]
    # hash salt: ~ceil(n/cap) buckets (hash may leave a few empty); sizes
    # concentrate near cap
    assert len(sizes) >= (n // cfg.max_block_size) // 2
    assert sum(sizes) == n  # every member lands in exactly one sub-block
    assert max(sizes) <= cfg.max_block_size * 6  # loose Poisson bound
    retained = pairs_from_blocks(salted).count()
    m = hot_block_metrics(blocks, cfg).collect()[0]
    assert m["n_hot_blocks"] == 1 and m["hot_rows"] == n
    assert m["forgone_pairs"] == n * (n - 1) // 2 - retained


def test_rare_member_set_dedup_is_pair_preserving(spark, records):
    """r5 volume cut: the rare-shingle pass collapses blocks with identical
    member sets (and drops size-1 blocks). The resulting PAIR set must equal
    the naive one-block-per-shingle form's, exactly."""
    from entity_resolver_spark.functions.hashing import shingles_expr
    from entity_resolver_spark.operators.blocking import rare_shingle_blocks

    cfg = EngineConfig()
    blocks = rare_shingle_blocks(records, cfg)
    got = pairs_from_blocks(blocks)

    # naive reference: one block per rare shingle hash
    sh = records.select(
        "conv_id",
        F.explode(
            F.array_distinct(shingles_expr(F.col("tokens"), cfg.rare_shingle_k))
        ).alias("_g"),
    ).select("conv_id", F.xxhash64("_g").alias("_gh"))
    rare = (
        sh.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= cfg.rare_shingle_max_df)
        .select("_gh")
    )
    naive = pairs_from_blocks(
        sh.join(rare, "_gh").select(
            "conv_id", F.col("_gh").cast("string").alias("block_key")
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))
    # and no block the pass emits has fewer than 2 members
    sizes = blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))
    assert sizes.where(F.col("n") < 2).count() == 0


def test_unified_scan_minhash_schema_and_bands(spark, records):
    """minhash_blocks_from_shingle_rows: one block row per (record, band),
    band keys prefixed 'm', carrying the sorted name key."""
    from entity_resolver_spark.operators.blocking import (
        _shingle_hash_rows,
        minhash_blocks_from_shingle_rows,
    )

    cfg = EngineConfig()
    sh = _shingle_hash_rows(records, cfg)
    out = minhash_blocks_from_shingle_rows(sh, cfg)
    assert out.columns == ["conv_id", "block_key", "skey"]
    n_rec = records.select("conv_id").distinct().count()
    assert out.count() == n_rec * cfg.minhash_bands
    assert out.where(~F.col("block_key").startswith("m")).count() == 0


def test_key_subsumption_keeps_pair_set(spark, records):
    """The ``_st`` stamp lets ``pairs_from_blocks`` skip same-name pairs in
    every pass but the exact ``t:`` one; the distinct pair set must equal
    the one computed with the stamp dropped. Named records cover the stamp's
    three routes: a hot (split) ``t:`` block, whitespace-only names (empty
    sorted-token key, so no stamp) and a same-name pair that the ``i:`` and
    ``a:`` anchors block as well as the ``t:`` key."""
    from entity_resolver_spark.functions.hashing import content_hash

    cfg = EngineConfig(max_block_size=8)
    ids = [r["conv_id"] for r in records.select("conv_id").orderBy("conv_id").collect()]

    def copies(src: str, tag: str, n: int, name: str):
        return (
            records.where(F.col("conv_id") == src)
            .crossJoin(spark.range(n).withColumnRenamed("id", "_i"))
            .withColumn("conv_id", F.concat(F.lit(tag), F.col("_i").cast("string")))
            .withColumn("name_key", F.lit(name))
            .withColumn("name_hash", content_hash(F.col("name_key")))
            .drop("_i")
        )

    named = (
        records.unionByName(copies(ids[0], "hot", 12, "anna maria smith"))
        .unionByName(copies(ids[1], "blank", 3, "   "))
        .unionByName(copies(ids[2], "same", 2, "franz schubert"))
        .unionByName(copies(ids[3], "same_other", 1, "schubert franz"))
    )
    blocks = all_blocks(named, cfg).localCheckpoint()
    split = split_hot_blocks(blocks, cfg).localCheckpoint()
    stamps = {r["conv_id"]: r["_st"] for r in split.select("conv_id", "_st").distinct().collect()}
    assert stamps["hot0"] is None, "a hot t: block must not stamp its members"
    assert stamps["blank0"] is None, "whitespace-only names carry no stamp"
    assert stamps["same0"] is not None and stamps["same0"] == stamps["same1"]
    assert stamps["same_other0"] == stamps["same0"], "sorted-token key is word-order free"
    keys = {r["block_key"][:2] for r in blocks.where(F.col("conv_id") == "same0").collect()}
    assert {"t:", "i:", "a:"} <= keys

    stamped = {tuple(r) for r in pairs_from_blocks(split).collect()}
    plain = {tuple(r) for r in pairs_from_blocks(split.drop("_st")).collect()}
    assert stamped == plain
    assert ("same0", "same1") in stamped and ("blank0", "blank1") in stamped


def _pass_prefix(block_key: str) -> str:
    return block_key[:2] if block_key[1:2] == ":" else block_key[:1]


def test_default_key_battery(spark, records):
    """``all_blocks`` runs exactly five passes — t:, i:, a:, m, r — and every
    named record with a token of >= 3 characters gets both anchor keys."""
    rows = all_blocks(records, EngineConfig()).collect()
    assert {_pass_prefix(r["block_key"]) for r in rows} == {"t:", "i:", "a:", "m", "r"}

    by_rec: dict[str, set[str]] = {}
    for r in rows:
        by_rec.setdefault(r["conv_id"], set()).add(_pass_prefix(r["block_key"]))
    anchored = [
        r["conv_id"]
        for r in records.select("conv_id", "name_key").collect()
        if any(len(t) >= 3 for t in (r["name_key"] or "").split())
    ]
    assert anchored, "corpus has no named records"
    for cid in anchored:
        assert {"i:", "a:"} <= by_rec.get(cid, set()), cid
