"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship entity-resolution pipeline end-to-end on
transcripts deterministically derived from /root/testdata/sf0.001 documents.
``queries()`` exposes one callable per implemented operator family
(SURVEY.md §2); ``oracle_sql()`` gives the DuckDB-equivalent SQL where the
operator is SQL-expressible (non-SQL ops — LSH blocking, CC, scoring — get
rows-only checks).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


# ---------------------------------------------------------------------------
# Transcript derivation: documents -> multi-turn transcripts (deterministic).
# Each document becomes a conversation (turns = fixed-width word windows);
# every 3rd document also yields a near-duplicate variant conversation
# (deterministic token dropout keyed on doc_id) so the resolver has real
# work to do. No randomness — everything is a function of the input rows.
# ---------------------------------------------------------------------------

def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    turn_w = 12
    n_turns = F.greatest(F.ceil(n / turn_w).cast("int"), F.lit(1))
    base = docs.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.col("doc_id"),
        toks.alias("_t"),
        n_turns.alias("_nt"),
    )
    turns = base.select(
        "conv_id",
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_nt") - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_t"), i * turn_w + 1, turn_w)
                ),
            )
        ).alias("turn_idx", "text"),
    )
    primary = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(F.pmod("turn_idx", F.lit(2)) == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 3600 + F.col("turn_idx") * 60
        ).alias("ts"),
        "doc_id",
    )
    # near-duplicate variant: drop every 7th token, keyed deterministically
    dup = primary.where(F.pmod("doc_id", F.lit(3)) == 0).select(
        F.concat(F.lit("v"), F.col("doc_id").cast("string")).alias("conv_id"),
        "turn_idx",
        "role",
        F.array_join(
            F.filter(
                F.split(F.col("text"), r"\s+"),
                lambda t, i: F.pmod(i + F.col("doc_id"), F.lit(7)) != 0,
            ),
            " ",
        ).alias("text"),
        "tool",
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"),
        "doc_id",
    )
    return primary.drop("doc_id").unionByName(dup.drop("doc_id"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full block -> score -> cluster resolution over transcripts
    derived from sf0.001; returns (conv_id, cluster_id)."""
    import tempfile

    from entity_resolver_spark.plans.pipeline import ResolutionPipeline

    transcripts = derive_transcripts(spark, "/root/testdata/sf0.001")
    wh = tempfile.mkdtemp(prefix="er_wh_")
    pipe = ResolutionPipeline(spark, wh)
    return pipe.run(transcripts, resume=False).clusters


# ---------------------------------------------------------------------------
# queries() / oracle_sql()
# ---------------------------------------------------------------------------

def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# -- TPC-H-style relational coverage (scans/filters/joins/aggs/windows) -----

def q_agg_pricing(spark, sf_dir):
    """A1/A2-style multi-agg groupBy (TPC-H Q1 shape)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_revenue_by_nation(spark, sf_dir):
    """J1-style broadcast-dim joins: revenue per nation."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    n = _read(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


def q_anti_join_no_orders(spark, sf_dir):
    """P8/O2-style left_anti (NOT EXISTS): customers without orders."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def q_topk_orders_per_customer(spark, sf_dir):
    """W1/W2-style windowed top-k: top-3 orders by price per customer."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk", "o_orderkey")
    )


def q_exact_block_pairs(spark, sf_dir):
    """J3: exact-key blocking self-join — supplier pairs sharing a nation."""
    s = _read(spark, sf_dir, "supplier")
    a = s.select(F.col("s_suppkey").alias("left"), F.col("s_nationkey").alias("k"))
    b = s.select(F.col("s_suppkey").alias("right"), F.col("s_nationkey").alias("k"))
    return (
        a.join(b, "k")
        .where(F.col("left") < F.col("right"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.col("k").alias("s_nationkey"), "n_pairs")
        .orderBy("s_nationkey")
    )


def q_turn_concat(spark, sf_dir):
    """W6: stable ordered per-group concatenation (the normalize-stage
    invariant) — events per user ordered by (ts, event_id)."""
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ",",
            ).alias("event_seq"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag + cumsum windows)."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sess = e.withColumn("new_sess", F.coalesce(gap, F.lit(0))).withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "sess_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sess_value"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


def q_asof_clicks(spark, sf_dir):
    """As-of join: each purchase event gets the most recent click of the same
    user at-or-before it (union-tag + running last() — one shuffle, no join
    blow-up). DuckDB's native ASOF JOIN is the oracle."""
    from entity_resolver_spark.operators.temporal import asof_join

    e = _read(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="cts",
        value_cols=["click_id", "click_value"],
    ).select("user_id", "event_id", "click_id", "click_value").orderBy("event_id")


def q_rollup_order_stats(spark, sf_dir):
    """Rollup aggregation (hierarchical totals) over orders."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def q_scaler_bounds(spark, sf_dir):
    """M5 RobustMinMaxScaler fit: exact percentile clip bounds per column
    (matches DuckDB quantile_cont bit-for-bit — Spark `percentile` is exact)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.agg(
        F.percentile(F.col("l_extendedprice"), F.lit(0.0)).alias("price_lo"),
        F.percentile(F.col("l_extendedprice"), F.lit(0.95)).alias("price_hi"),
        F.percentile(F.col("l_quantity"), F.lit(0.0)).alias("qty_lo"),
        F.percentile(F.col("l_quantity"), F.lit(0.95)).alias("qty_hi"),
    )


# -- training-data pipeline ops over documents/embeddings -------------------

def q_exact_dedup(spark, sf_dir):
    from entity_resolver_spark.operators.dedup import exact_dedup

    docs = _read(spark, sf_dir, "documents")
    out = exact_dedup(docs)
    return (
        out.groupBy("canonical_id")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .orderBy("group_size")
    )


def q_token_stats(spark, sf_dir):
    from entity_resolver_spark.operators.text_analysis import token_count_expr

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("lang", token_count_expr(F.col("text")).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.avg("n_tok").alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def q_subword_stats(spark, sf_dir):
    """BPE-ish subword counting (letter/digit runs at ceil(len/4), punctuation
    marks) — tokenizer-free token budgeting for training-data pipelines."""
    from entity_resolver_spark.operators.text_analysis import (
        bpe_ish_token_count_expr,
    )

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("lang", bpe_ish_token_count_expr(F.col("text")).alias("n_sub"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sub").alias("total_subwords"),
        )
        .orderBy("lang")
    )


def q_lang_id_confusion(spark, sf_dir):
    """Heuristic language-ID vs the table's lang column (confusion counts)."""
    from entity_resolver_spark.operators.text_analysis import lang_id_expr

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id_expr(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def q_quality_buckets(spark, sf_dir):
    from entity_resolver_spark.operators.text_analysis import quality_score_expr

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(F.floor(quality_score_expr(F.col("text")) * 10).alias("q_bucket"))
        .groupBy("q_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("q_bucket")
    )


def q_ngram_dedup_verify(spark, sf_dir):
    """MinHash-LSH candidates verified by exact n-gram Jaccard —
    ORACLE-CHECKED as a recall contract: the oracle computes ALL pairs with
    exact word-3-gram Jaccard >= 0.8 (SQL-expressible; the xxhash64 LSH
    itself is not DuckDB-reproducible, and doesn't need to be). Because the
    Spark side post-filters candidates by the same exact Jaccard, its result
    equals the oracle's IFF banded LSH (16 hashes x 8 bands: miss prob at
    j=0.8 is (1-0.64)^8 ~ 3e-4 per pair) surfaced every such pair — any
    missed pair is a hash mismatch, so the driver gate continuously verifies
    LSH recall at the dedup threshold, not just the verify kernel."""
    from entity_resolver_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )

    docs = _read(spark, sf_dir, "documents")
    cand = minhash_dedup_pairs(docs).select("left", "right")
    verified = ngram_jaccard_pairs(docs, cand)
    return verified.where(F.col("jaccard") >= 0.8).orderBy("left", "right")


def q_jaccard_near_dup(spark, sf_dir):
    """Exact n-gram-Jaccard near-dup pairs with SQL-expressible candidates
    (same-lang pairs): oracle-checks the P5 Jaccard-verify kernel end to end.
    The LSH candidate path (``minhash_dedup_pairs``) is the scale path; this
    exact form is its oracle baseline, same pattern as embedding_near_dup."""
    from entity_resolver_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    ids = docs.select("doc_id", "lang")
    cand = (
        ids.select(F.col("doc_id").alias("left"), "lang")
        .join(ids.select(F.col("doc_id").alias("right"), "lang"), "lang")
        .where(F.col("left") < F.col("right"))
        .select("left", "right")
    )
    return (
        ngram_jaccard_pairs(docs, cand)
        .where(F.col("jaccard") >= 0.6)
        .orderBy("left", "right")
    )


def q_graph_sessions(spark, sf_dir):
    """G1 connected-components cross-validated against an independent oracle:
    build edges between CONSECUTIVE events of a user when the gap is <= 30min,
    run the large-star/small-star CC operator, and aggregate components to
    per-user session stats. The DuckDB oracle computes the same partition via
    gap-based sessionization (lag + cumulative sum) — two entirely different
    algorithms, same answer."""
    from entity_resolver_spark.operators.clustering import connected_components

    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    adj = e.select(
        "user_id",
        F.col("event_id").cast("string").alias("dst"),
        F.lag(F.col("event_id").cast("string")).over(w).alias("src"),
        (epoch - F.lag(epoch).over(w)).alias("gap"),
    )
    edges = adj.where(F.col("src").isNotNull() & (F.col("gap") <= 1800)).select(
        "src", "dst"
    )
    comp = connected_components(edges)
    sessions = (
        e.select("user_id", F.col("event_id").cast("string").alias("id"))
        .join(comp, "id", "left")
        .select("user_id", F.coalesce("component", "id").alias("sess"))
    )
    per_sess = sessions.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 for the first 8 vectors as queries."""
    from entity_resolver_spark.operators.similarity_search import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return (
        brute_force_topk(emb, queries, k=5)
        .select("query_id", "vec_id", "rank")
        .orderBy("query_id", "rank")
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact path — the oracle baseline;
    the SRP-LSH scale path is equivalence-tested in pytest where vectors are
    clustered enough for LSH semantics to apply). Threshold 0.45 because the
    synthetic embeddings have no true near-dups (max pairwise cosine ~0.51)."""
    from entity_resolver_spark.operators.dedup import embedding_near_dup

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, threshold=0.45, exact=True).orderBy(
        "left", "right"
    )


def q_embedding_label_centroid_sim(spark, sf_dir):
    """A5-style weighted centroid + cosine: avg within-label cosine of each
    vector to its label centroid."""
    emb = _read(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    arr = F.col("embedding").cast("array<double>")
    ex = emb.select("label", "vec_id", F.posexplode(arr).alias("pos", "v"))
    cent = ex.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    joined = ex.join(cent, ["label", "pos"])
    sims = (
        joined.groupBy("label", "vec_id")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"),
        )
        .select(
            "label",
            (F.col("dot") / (F.col("nv") * F.col("nc"))).alias("sim"),
        )
    )
    return (
        sims.groupBy("label")
        .agg(F.avg("sim").alias("avg_centroid_sim"), F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("label")
    )


# -- entity-resolution ops on derived transcripts (rows-only checks) --------

def q_er_records(spark, sf_dir):
    """Normalize stage (oracle-checked): conversation grouping, stable
    turn-window reconstruction, leading-name extraction, year regexes. Column
    choice is oracle-expressible on purpose — name_key's NFKD normalization
    is pandas-UDF-only (covered by pytest test_normalize instead)."""
    from entity_resolver_spark.operators.transcripts import build_entity_records

    t = derive_transcripts(spark, sf_dir)
    return build_entity_records(t).select(
        "conv_id", "n_turns", "first_turn", "name_raw", "birth_year", "death_year"
    ).orderBy("conv_id")


def q_er_blocking_recall(spark, sf_dir):
    """Blocking-recall INVARIANT, oracle-checked: every derived true pair
    (primary conversation d{i} and its near-dup variant v{i}) must share a
    blocking key. Spark emits the true pairs that candidate_pairs covers;
    the oracle emits ALL true pairs — they hash-equal iff the full multi-pass
    blocker (exact, anchors, MinHash-LSH, rare-shingle, hot-split) achieves
    100% recall on this corpus. Exercises the same operator the old
    rows-only er_candidate_pairs query ran, now with a pass/fail gate."""
    from entity_resolver_spark.operators.blocking import candidate_pairs
    from entity_resolver_spark.operators.transcripts import build_entity_records

    t = derive_transcripts(spark, sf_dir)
    records = build_entity_records(t)
    pairs = candidate_pairs(records)
    docs = _read(spark, sf_dir, "documents")
    truth = docs.where(F.pmod("doc_id", F.lit(3)) == 0).select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("left"),
        F.concat(F.lit("v"), F.col("doc_id").cast("string")).alias("right"),
    )
    return truth.join(pairs, ["left", "right"], "left_semi").orderBy("left")


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs over documents — oracle-checked: fingerprints
    are md5-derived 60-bit SimHashes (operators/dedup.simhash_fingerprints),
    bit-for-bit reproducible in DuckDB, which brute-forces all pairs while
    Spark goes through the banded equi-join (n_bands = max_hamming + 1)."""
    from entity_resolver_spark.operators.dedup import simhash_pairs

    docs = _read(spark, sf_dir, "documents")
    return (
        simhash_pairs(docs, max_hamming=6)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("left", "right")
    )


def q_cluster_size_dist(spark, sf_dir):
    """G1 twin #2: connected components over an ORACLE-REPRODUCIBLE edge set
    (same-language doc pairs with exact 3-gram Jaccard >= 0.6 — the
    jaccard_near_dup kernel) plus singleton append; output is the cluster
    size distribution. DuckDB recomputes the same partition with a recursive
    CTE (min-label propagation) — a second, independent closure algorithm
    cross-validating large-star/small-star, on a different graph shape than
    graph_sessions' chain graphs."""
    from entity_resolver_spark.operators.clustering import connected_components
    from entity_resolver_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    ids = docs.select("doc_id", "lang")
    cand = (
        ids.select(F.col("doc_id").alias("left"), "lang")
        .join(ids.select(F.col("doc_id").alias("right"), "lang"), "lang")
        .where(F.col("left") < F.col("right"))
        .select("left", "right")
    )
    edges = (
        ngram_jaccard_pairs(docs, cand)
        .where(F.col("jaccard") >= 0.6)
        .select(
            F.col("left").cast("string").alias("src"),
            F.col("right").cast("string").alias("dst"),
        )
    )
    comp = connected_components(edges)
    members = docs.select(F.col("doc_id").cast("string").alias("id")).join(
        comp, "id", "left"
    ).select(F.coalesce("component", "id").alias("c"))
    sizes = members.groupBy("c").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("size")
    )


def q_er_impute(spark, sf_dir):
    """Subject-imputation analogue, ORACLE-CHECKED as a planted-label
    recovery invariant (was the last rows-only query; its raw scores are
    hashed-TF cosines DuckDB cannot reproduce, but WHICH value wins is
    derivable). A two-valued attribute is planted on every 5th primary
    conversation d{i} (value keyed by i so both classes occur); the full
    impute operator runs over the whole corpus, and the query returns the
    rank-1 vote for each variant v{j} whose own primary is a donor
    (j % 15 == 0: j % 3 == 0 means the variant exists, j % 5 == 0 means
    d{j} carries a planted value). The oracle emits the expected
    (conv_id, planted value) rows: a missing recovery (no donor met the
    similarity floor) OR a wrong winning value both hash-mismatch — recall
    and precision of the blocked-KNN vote in one check. donor_top_k=1 makes
    the winner the NEAREST donor (the reference's KNN shape): on this corpus
    every variant's own primary beats the best unrelated donor by >=0.06
    cosine (measured: min own-donor sim 0.932, per-row min margin 0.060),
    while the unrestricted sum-vote would legitimately track the
    neighborhood majority (unrelated small-vocabulary docs reach 0.93
    cosine) and is covered by the planted-label pytest instead. Docs with a
    coincidental near-identical partner (exact trigram Jaccard >= 0.8, same
    exclusion and rationale as er_clusters) are removed from the CHECK
    subset on both sides: for those, content gives the resolver no way to
    prefer the planted donor over the coincidental one. min_similarity=0.7
    additionally gates that the recovery comes from a genuinely similar
    donor."""
    from entity_resolver_spark.config import EngineConfig
    from entity_resolver_spark.operators.blocking import all_blocks, split_hot_blocks
    from entity_resolver_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from entity_resolver_spark.operators.features import text_vectors
    from entity_resolver_spark.operators.imputation import impute_attribute
    from entity_resolver_spark.operators.transcripts import build_entity_records

    cfg = EngineConfig()
    t = derive_transcripts(spark, sf_dir)
    records = build_entity_records(t).localCheckpoint()
    vectors = text_vectors(records, cfg)
    blocks = split_hot_blocks(all_blocks(records, cfg), cfg)
    doc_num = F.substring("conv_id", 2, 10).cast("int")
    attrs = records.select(
        "conv_id",
        F.when(
            F.col("conv_id").startswith("d") & (F.pmod(doc_num, F.lit(5)) == 0),
            F.when(
                F.pmod(doc_num, F.lit(10)) == 0, F.lit("search_catalog")
            ).otherwise(F.lit("web_search")),
        ).alias("attr"),
    )
    out = impute_attribute(
        records, vectors, attrs, blocks, min_similarity=0.7, donor_top_k=1
    )
    docs = _read(spark, sf_dir, "documents")
    nd = ngram_jaccard_pairs(
        docs, minhash_dedup_pairs(docs).select("left", "right")
    ).where(F.col("jaccard") >= 0.8)
    excl = (
        nd.select(F.col("left").alias("doc_id"))
        .unionByName(nd.select(F.col("right").alias("doc_id")))
        .distinct()
        .select(F.concat(F.lit("v"), F.col("doc_id").cast("string")).alias("conv_id"))
    )
    out_num = F.substring("conv_id", 2, 10).cast("int")
    return (
        out.where(
            (F.col("rank") == 1)
            & F.col("conv_id").startswith("v")
            & (F.pmod(out_num, F.lit(15)) == 0)
        )
        .join(excl, "conv_id", "left_anti")
        .select("conv_id", "attr")
        .orderBy("conv_id")
    )


def q_er_clusters(spark, sf_dir):
    """Full resolution pipeline (block -> train -> score -> cluster),
    ORACLE-CHECKED against derivable truth: the d{i}/v{i} construction makes
    the expected clustering exact — every retained primary conversation with
    doc_id % 3 == 0 and its variant form one 2-cluster, everything else is a
    singleton. Output unions two invariants into one comparable result:

      ('pair', d{i}, v{i})        — truth pairs the pipeline CO-CLUSTERED
                                    (oracle emits ALL truth pairs: any split
                                    entity hash-mismatches)
      ('size', size, n_clusters)  — the full cluster-size distribution
                                    (oracle emits {1: n-2k, 2: k}: any FALSE
                                    merge shifts the distribution and
                                    hash-mismatches)

    Together these gate recall AND precision of end-to-end resolution, not
    just row counts — the r3 verdict's last missing oracle. (That oracle
    immediately earned its keep: the r3 rows-only form reported "2 rows" that
    were actually sizes {1: 7, 660: 1} — a giant false cluster, invisible to
    a row count.)

    Two things make the truth derivable AND achievable by content:

    * The documents table contains COINCIDENTAL near-identical pairs (the
      small-vocabulary generator emits ~25 doc pairs with exact trigram
      Jaccard >= 0.8 at sf0.01, vs 0.32-0.73 for the planted d/v variants) —
      no content-based resolver can call those "different entities", so docs
      with a >= 0.8 partner are EXCLUDED up front, on both sides: Spark uses
      the production dedup path (MinHash-LSH candidates + exact verify),
      the oracle the all-pairs exact form — their equality at >= 0.8 is
      itself gated by ngram_dedup_verify's recall contract. The remaining
      corpus is cleanly separable: junk pairs <= 0.15 Jaccard, truth >= 0.32.
    * The model is TRAINED IN-QUERY (M1/M3/M4) on labels derived from the
      same d/v construction, then scored and clustered — so this one query
      exercises block -> feature -> train -> threshold-opt -> score ->
      cluster end to end against ground truth.
    """
    from entity_resolver_spark.operators.blocking import candidate_pairs
    from entity_resolver_spark.operators.clustering import cluster_records
    from entity_resolver_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from entity_resolver_spark.operators.features import pair_features
    from entity_resolver_spark.operators.scoring import score_pairs, train
    from entity_resolver_spark.operators.transcripts import build_entity_records

    docs = _read(spark, sf_dir, "documents")
    cand = minhash_dedup_pairs(docs).select("left", "right")
    nd = ngram_jaccard_pairs(docs, cand).where(F.col("jaccard") >= 0.8)
    excluded = (
        nd.select(F.col("left").alias("doc_id"))
        .unionByName(nd.select(F.col("right").alias("doc_id")))
        .distinct()
    )
    excl_convs = excluded.select(
        F.explode(
            F.array(
                F.concat(F.lit("d"), F.col("doc_id").cast("string")),
                F.concat(F.lit("v"), F.col("doc_id").cast("string")),
            )
        ).alias("conv_id")
    )

    t = derive_transcripts(spark, sf_dir)
    records = (
        build_entity_records(t)
        .join(excl_convs, "conv_id", "left_anti")
        .localCheckpoint()
    )
    truth = (
        docs.where(F.pmod("doc_id", F.lit(3)) == 0)
        .join(excluded, "doc_id", "left_anti")
        .select(
            F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("a"),
            F.concat(F.lit("v"), F.col("doc_id").cast("string")).alias("b"),
        )
    )

    pairs = candidate_pairs(records)
    feats = pair_features(pairs, records).localCheckpoint()
    labeled = pairs.join(
        truth.select(
            F.col("a").alias("left"), F.col("b").alias("right")
        ).withColumn("match", F.lit(True)),
        ["left", "right"],
        "left",
    ).select("left", "right", F.coalesce("match", F.lit(False)).alias("match"))
    model = train(feats, labeled)
    scored = score_pairs(feats, model)
    # Edge threshold = the model's own F1-optimized decision threshold: the
    # config floor (0.65) and the +0.1 edge band are calibrated to the
    # DEFAULT model's probability scale; this in-query model's L2-regularized
    # scale is compressed (the sweep found a separating threshold at ~0.06),
    # and the sweep by construction picks a separating point whenever one
    # exists on the grid.
    clusters = cluster_records(records, scored, model.threshold).localCheckpoint()
    cl = clusters.select("conv_id", "cluster_id")
    co_clustered = (
        truth.join(cl.withColumnRenamed("conv_id", "a"), "a")
        .withColumnRenamed("cluster_id", "_ca")
        .join(cl.withColumnRenamed("conv_id", "b"), "b")
        .where(F.col("_ca") == F.col("cluster_id"))
        .select(F.lit("pair").alias("kind"), "a", "b")
    )
    dist = (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.lit("size").alias("kind"),
            F.col("size").cast("string").alias("a"),
            F.col("n_clusters").cast("string").alias("b"),
        )
    )
    return co_clustered.unionByName(dist).orderBy("kind", "a", "b")


def _doc_family_turns(docs, prefix: str, drop_mod: int | None, name: str | None):
    """Deterministic record family derived from documents: conv_id
    ``{prefix}{doc_id}``, tokens = doc tokens minus every ``drop_mod``-th
    (keyed by doc_id, like derive_transcripts' v-variant), optionally
    prefixed with a planted two-token capitalized NAME (prepended AFTER the
    drop so the name survives verbatim in every family member). Re-splits
    into the same 12-token turn windows as derive_transcripts."""
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    if drop_mod is not None:
        toks = F.filter(
            toks, lambda t, i: F.pmod(i + F.col("doc_id"), F.lit(drop_mod)) != 0
        )
    if name is not None:
        first, last = name.split()
        toks = F.concat(F.array(F.lit(first), F.lit(last)), toks)
    turn_w = 12
    base = docs.select(
        F.concat(F.lit(prefix), F.col("doc_id").cast("string")).alias("conv_id"),
        F.col("doc_id"),
        toks.alias("_t"),
        F.greatest(F.ceil(F.size(toks) / turn_w).cast("int"), F.lit(1)).alias("_nt"),
    )
    return base.select(
        "conv_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_nt") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i * turn_w + 1, turn_w)),
            )
        ).alias("turn_idx", "text"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 3600
        ).alias("ts"),
    ).select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "role", "text", "tool", "ts")


def q_er_enhance(spark, sf_dir):
    """G3 match enhancement, ORACLE-CHECKED via a planted match graph whose
    enhanced-edge set is exactly derivable (operators/enhancement.py;
    reference /root/reference/src/classifying.py:1970-2160):

    * transitive pass — for docs i % 6 == 0 the match edges form the chain
      d{i}—v{i}—w{i}—z{i} (w/z are extra same-doc variants dropping every
      13th/17th token — pairwise text cosine >= ~0.9, far above the 0.60
      verify floor). At 'moderate' (max_distance=2) the enhanced edges must
      be EXACTLY the distance-2 pairs (d,w) and (v,z): the distance-3 pair
      (d,z) is a structural negative (depth gate), the direct edges are
      anti-joined out, and docs i % 6 == 3 keep their plain d—v component
      (size 2: no distance-2 pairs, contributes nothing).
    * singleton rescue — for docs j % 6 == 1 four fresh records are planted:
      singletons r{j} (full doc text, name 'Marcus Webb') and a{j}
      (drops every 11th token, same name), plus decoys b{j}/c{j} (full text,
      name 'Marcus Weld') married by a planted b—c match edge. Blocked
      candidates are (r,a) and (r,b): both pass the name gate
      (name_jw 1.0 / 0.927 >= 0.70, kernel-verified) and the cosine verify,
      but the top-1-per-singleton window must pick a{j} (higher name_jw) and
      b{j} is NOT a singleton (it has an edge), so only (a,r) is rescued —
      rank discrimination, not just thresholding.

    The oracle emits the closed-form expected set; a missing enhanced edge
    (recall), a leaked distance-3/decoy edge (precision), or a wrong
    confidence all hash-mismatch. Content gates hold by construction:
    same-doc variants' cosines sit >= ~0.9 (the d/v construction's own
    measured floor is 0.93 for a 1-in-7 drop; these drop 1-in-11/13/17)."""
    from entity_resolver_spark.operators.enhancement import enhance_matches
    from entity_resolver_spark.operators.transcripts import build_entity_records

    docs = _read(spark, sf_dir, "documents")
    chain_docs = docs.where(F.pmod("doc_id", F.lit(6)) == 0)
    rescue_docs = docs.where(F.pmod("doc_id", F.lit(6)) == 1)
    fams = (
        _doc_family_turns(chain_docs, "w", 13, None)
        .unionByName(_doc_family_turns(chain_docs, "z", 17, None))
        .unionByName(_doc_family_turns(rescue_docs, "r", None, "Marcus Webb"))
        .unionByName(_doc_family_turns(rescue_docs, "a", 11, "Marcus Webb"))
        .unionByName(_doc_family_turns(rescue_docs, "b", None, "Marcus Weld"))
        .unionByName(_doc_family_turns(rescue_docs, "c", None, "Marcus Weld"))
    )
    records = build_entity_records(
        derive_transcripts(spark, sf_dir).unionByName(fams)
    ).localCheckpoint()

    def _edge(src, l_pre, r_pre):
        did = F.col("doc_id").cast("string")
        return src.select(
            F.concat(F.lit(l_pre), did).alias("left"),
            F.concat(F.lit(r_pre), did).alias("right"),
            F.lit(0.9).alias("proba"),
            F.lit(True).alias("is_match"),
        )

    dv = docs.where(F.pmod("doc_id", F.lit(3)) == 0)
    scored = (
        _edge(dv, "d", "v")
        .unionByName(_edge(chain_docs, "v", "w"))
        .unionByName(_edge(chain_docs, "w", "z"))
        .unionByName(_edge(rescue_docs, "b", "c"))
    )
    rid = F.col("doc_id").cast("string")
    candidates = rescue_docs.select(
        F.concat(F.lit("r"), rid).alias("left"),
        F.concat(F.lit("a"), rid).alias("right"),
    ).unionByName(
        rescue_docs.select(
            F.concat(F.lit("r"), rid).alias("left"),
            F.concat(F.lit("b"), rid).alias("right"),
        )
    )
    out = enhance_matches(records, scored, candidates, aggressiveness="moderate")
    return out.select("left", "right", "proba").orderBy("left", "right")


def q_range_join_views(spark, sf_dir):
    """Range join (temporal.range_join, BUCKETED skew-safe path): each
    purchase event joined to the same user's view events inside the 4
    hours before it, aggregated per purchase. bucket_minutes=30 exercises
    the interval-explode + (key, bucket) equi-join form — the 100-TB shape
    where hot users never become per-key cross products; the plain-predicate
    form is equivalence-tested against it in tests/test_temporal.py. Oracle:
    DuckDB evaluates the same interval-containment join natively."""
    from entity_resolver_spark.operators.temporal import range_join

    e = _read(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("vvalue")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 4 HOURS")).alias("wstart"),
        F.col("ts").alias("wend"),
    )
    joined = range_join(
        views, purchases, on="user_id", ts="vts", start="wstart",
        end="wend", bucket_minutes=30,
    )
    return (
        joined.groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.sum("vvalue").alias("view_value_sum"),
        )
        .orderBy("purchase_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "agg_pricing": q_agg_pricing,
        "join_revenue_by_nation": q_join_revenue_by_nation,
        "anti_join_no_orders": q_anti_join_no_orders,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "exact_block_pairs": q_exact_block_pairs,
        "rollup_order_stats": q_rollup_order_stats,
        "asof_clicks": q_asof_clicks,
        "range_join_views": q_range_join_views,
        "scaler_bounds": q_scaler_bounds,
        "turn_concat": q_turn_concat,
        "sessionize": q_sessionize,
        "exact_dedup": q_exact_dedup,
        "token_stats": q_token_stats,
        "quality_buckets": q_quality_buckets,
        "subword_stats": q_subword_stats,
        "lang_id_confusion": q_lang_id_confusion,
        "ngram_dedup_verify": q_ngram_dedup_verify,
        "jaccard_near_dup": q_jaccard_near_dup,
        "graph_sessions": q_graph_sessions,
        "embedding_topk": q_embedding_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_label_centroid_sim": q_embedding_label_centroid_sim,
        "simhash_near_dup": q_simhash_near_dup,
        "cluster_size_dist": q_cluster_size_dist,
        "er_records": q_er_records,
        "er_blocking_recall": q_er_blocking_recall,
        "er_impute": q_er_impute,
        "er_clusters": q_er_clusters,
        "er_enhance": q_er_enhance,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                   avg(l_quantity) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "join_revenue_by_nation": """
            SELECT n_name,
                   sum(o_totalprice) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "anti_join_no_orders": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS rk
                FROM orders
            ) WHERE rk <= 3
            ORDER BY o_custkey, rk, o_orderkey
        """,
        "exact_block_pairs": """
            SELECT a.s_nationkey AS s_nationkey, count(*) AS n_pairs
            FROM supplier a JOIN supplier b
              ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
            GROUP BY a.s_nationkey ORDER BY s_nationkey
        """,
        "rollup_order_stats": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n, sum(o_totalprice) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """,
        "asof_clicks": """
            SELECT p.user_id, p.event_id,
                   c.event_id AS click_id, c.value AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            ORDER BY p.event_id
        """,
        "range_join_views": """
            SELECT p.event_id AS purchase_id,
                   count(*) AS n_views,
                   sum(v.value) AS view_value_sum
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON v.user_id = p.user_id
             AND v.ts >= p.ts - INTERVAL 4 HOUR
             AND v.ts <= p.ts
            GROUP BY p.event_id
            ORDER BY purchase_id
        """,
        "scaler_bounds": """
            SELECT quantile_cont(l_extendedprice, 0.0) AS price_lo,
                   quantile_cont(l_extendedprice, 0.95) AS price_hi,
                   quantile_cont(l_quantity, 0.0) AS qty_lo,
                   quantile_cont(l_quantity, 0.95) AS qty_hi
            FROM lineitem
        """,
        "turn_concat": """
            SELECT user_id,
                   string_agg(event_type, ',' ORDER BY ts, event_id) AS event_seq,
                   count(*) AS n_events
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "sessionize": """
            WITH flagged AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessions AS (
                SELECT user_id, value,
                       sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS sess_id
                FROM (SELECT user_id, event_id, ts, value, new_sess
                      FROM flagged ORDER BY user_id, ts, event_id)
            ), per_sess AS (
                SELECT user_id, sess_id, count(*) AS n_events
                FROM sessions GROUP BY user_id, sess_id
            )
            SELECT user_id, count(*) AS n_sessions,
                   max(n_events) AS max_session_events
            FROM per_sess GROUP BY user_id ORDER BY user_id
        """,
        "exact_dedup": """
            WITH canon AS (
                SELECT lower(trim(regexp_replace(regexp_replace(text, '[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS norm,
                       count(*) AS group_size
                FROM documents GROUP BY norm
            )
            SELECT group_size, count(*) AS n_groups
            FROM canon GROUP BY group_size ORDER BY group_size
        """,
        "token_stats": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
                   avg(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS avg_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "embedding_topk": """
            SELECT query_id, vec_id, rank FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                    c.vec_id ASC
                       ) AS rank
                FROM embeddings q, embeddings c
                WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
            ) WHERE rank <= 5
            ORDER BY query_id, rank
        """,
        "subword_stats": r"""
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(coalesce(list_sum(list_transform(
                       regexp_extract_all(text, '[a-zA-Z]+|\d+|[^\sa-zA-Z\d]'),
                       p -> CAST(ceil(len(p) / 4.0) AS INT))), 0)) AS BIGINT)
                       AS total_subwords
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "lang_id_confusion": r"""
            WITH toks AS (
                SELECT lang,
                       list_filter(string_split_regex(lower(text), '[^\p{L}]+'),
                                   x -> x <> '') AS t
                FROM documents
            ), scored AS (
                -- lexicographic max of (score, lang) structs == Spark's
                -- array_max over the same structs (DuckDB greatest() lacks a
                -- struct overload; sorted-list last element is equivalent)
                SELECT lang, list_sort([
                    struct_pack(score := len(list_filter(t, x -> list_contains(['the','and','of','to','in','is','that','for','with'], x))), lang := 'en'),
                    struct_pack(score := len(list_filter(t, x -> list_contains(['el','la','de','que','en','los','por','una'], x))), lang := 'es'),
                    struct_pack(score := len(list_filter(t, x -> list_contains(['le','la','les','des','est','dans','une','pour'], x))), lang := 'fr'),
                    struct_pack(score := len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], x))), lang := 'de')
                ])[4] AS best
                FROM toks
            )
            SELECT lang,
                   CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred,
                   count(*) AS n_docs
            FROM scored GROUP BY lang, lang_pred ORDER BY lang, lang_pred
        """,
        "embedding_near_dup": """
            SELECT a.vec_id AS left, b.vec_id AS right,
                   list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.45
            ORDER BY a.vec_id, b.vec_id
        """,
        "embedding_label_centroid_sim": """
            WITH ex AS (
                -- parallel unnests zip row-wise in DuckDB
                SELECT label, vec_id,
                       unnest(embedding) AS v,
                       unnest(generate_series(1, len(embedding))) AS pos
                FROM embeddings
            ), cent AS (
                SELECT label, pos, avg(v) AS c FROM ex GROUP BY label, pos
            ), sims AS (
                SELECT ex.label, ex.vec_id,
                       sum(ex.v * cent.c) / (sqrt(sum(ex.v * ex.v)) * sqrt(sum(cent.c * cent.c))) AS sim
                FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
                GROUP BY ex.label, ex.vec_id
            )
            SELECT label, avg(sim) AS avg_centroid_sim, count(*) AS n_vecs
            FROM sims GROUP BY label ORDER BY label
        """,
        "quality_buckets": """
            WITH s AS (
                SELECT len(text) AS n_chars,
                       len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_toks,
                       len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
                       len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
                       len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                           t -> list_contains(['the','and','of','to','in','is','that','for','with','a','an','it','on','as','at','by'], lower(t)))) AS stop_hits
                FROM documents
            ), f AS (
                SELECT
                    CASE WHEN n_chars >= 50 AND n_chars <= 50000 THEN 1.0 ELSE 0.3 END AS len_score,
                    CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_score,
                    CASE WHEN n_chars > 0 THEN 1.0 - least(punct / n_chars * 4, 1.0) ELSE 0.0 END AS punct_score,
                    CASE WHEN n_toks > 0 THEN least(stop_hits / n_toks * 3, 1.0) ELSE 0.0 END AS stop_score,
                    CASE WHEN n_toks > 0 AND n_chars / n_toks >= 3 AND n_chars / n_toks <= 12
                         THEN 1.0 ELSE 0.4 END AS wl_score
                FROM s
            )
            SELECT CAST(floor((0.2 * len_score + 0.25 * alpha_score + 0.2 * punct_score
                               + 0.2 * stop_score + 0.15 * wl_score) * 10) AS BIGINT) AS q_bucket,
                   count(*) AS n_docs
            FROM f GROUP BY q_bucket ORDER BY q_bucket
        """,
        "er_records": r"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
                FROM documents
            ), sized AS (
                SELECT doc_id, t,
                       greatest(CAST(ceil(len(t) / 12.0) AS INT), 1) AS n_turns,
                       array_to_string(list_slice(t, 1, 12), ' ') AS ft
                FROM base
            ), convs AS (
                SELECT 'd' || CAST(doc_id AS VARCHAR) AS conv_id, n_turns,
                       ft AS first_turn
                FROM sized
                UNION ALL
                -- near-duplicate variant: every token i (0-based) with
                -- (i + doc_id) % 7 == 0 dropped (DuckDB lambda index is
                -- 1-based, hence i - 1)
                SELECT 'v' || CAST(doc_id AS VARCHAR), n_turns,
                       array_to_string(
                           list_filter(
                               list_filter(string_split_regex(ft, '\s+'), x -> x <> ''),
                               (x, i) -> ((i - 1 + doc_id) % 7) <> 0),
                           ' ')
                FROM sized WHERE doc_id % 3 = 0
            ), named AS (
                SELECT conv_id, n_turns, first_turn,
                       regexp_extract(first_turn,
                           '^((?:\p{Lu}[\p{L}\p{M}'']*\.?|\d{3,4}|b\.|d\.|ca\.|fl\.|born|died|circa|approximately|[,()\-–—]|\s)+)',
                           1) AS name_raw
                FROM convs
            )
            SELECT conv_id, n_turns, first_turn, name_raw,
                   CAST(nullif(coalesce(
                       nullif(regexp_extract(name_raw, '(?:\b(?:ca\.?\s*|circa\s*|approximately\s*))?(\d{3,4})\??\s*[-–—]\s*(?:(?:ca\.?\s*|circa\s*|approximately\s*))?(\d{3,4})\??', 1), ''),
                       nullif(regexp_extract(name_raw, '(?:\bb\.?\s*|\bborn\s+)(?:(?:ca\.?\s*|circa\s*|approximately\s*))?(\d{3,4})\??', 1), ''),
                       nullif(regexp_extract(name_raw, '(\d{3,4})\??\s*[-–—]\s*$', 1), ''),
                       CASE WHEN regexp_extract(name_raw, '(?:\bd\.?\s*|\bdied\s+)(?:(?:ca\.?\s*|circa\s*|approximately\s*))?(\d{3,4})\??', 1) = ''
                            THEN nullif(regexp_extract(name_raw, '\b(?:ca\.?\s*|circa\s*|approximately\s*)(\d{3,4})\??', 1), '')
                       END
                   ), '') AS INT) AS birth_year,
                   CAST(nullif(coalesce(
                       nullif(regexp_extract(name_raw, '(?:\b(?:ca\.?\s*|circa\s*|approximately\s*))?(\d{3,4})\??\s*[-–—]\s*(?:(?:ca\.?\s*|circa\s*|approximately\s*))?(\d{3,4})\??', 2), ''),
                       nullif(regexp_extract(name_raw, '(?:\bd\.?\s*|\bdied\s+)(?:(?:ca\.?\s*|circa\s*|approximately\s*))?(\d{3,4})\??', 1), ''),
                       nullif(regexp_extract(name_raw, '^\s*[-–—]\s*(?:(?:ca\.?\s*|circa\s*|approximately\s*))?(\d{3,4})\??', 1), '')
                   ), '') AS INT) AS death_year
            FROM named ORDER BY conv_id
        """,
        "jaccard_near_dup": r"""
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(string_split_regex(trim(regexp_replace(
                           regexp_replace(lower(text), '[^\w\s]', ' ', 'g'),
                           '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
                FROM documents
            ), sh AS (
                SELECT doc_id, lang,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct([array_to_string(
                                     list_slice(toks, i, i + 2), ' ')
                                 for i in range(1, len(toks) - 1)])
                            ELSE [array_to_string(toks, ' ')] END AS g
                FROM t
            ), pairs AS (
                SELECT a.doc_id AS "left", b.doc_id AS "right",
                       len(list_intersect(a.g, b.g)) * 1.0
                         / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
                         AS jaccard
                FROM sh a JOIN sh b
                  ON a.lang = b.lang AND a.doc_id < b.doc_id
            )
            SELECT * FROM pairs WHERE jaccard >= 0.6 ORDER BY "left", "right"
        """,
        # graph_sessions: the oracle is gap-based sessionization — an
        # INDEPENDENT algorithm that must produce the same partition as the
        # connected-components run over temporal-adjacency edges.
        "graph_sessions": """
            WITH flagged AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessions AS (
                SELECT user_id,
                       sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS sess_id
                FROM (SELECT user_id, event_id, ts, new_sess
                      FROM flagged ORDER BY user_id, ts, event_id)
            ), per_sess AS (
                SELECT user_id, sess_id, count(*) AS n_events
                FROM sessions GROUP BY user_id, sess_id
            )
            SELECT user_id, count(*) AS n_sessions,
                   max(n_events) AS max_session_events
            FROM per_sess GROUP BY user_id ORDER BY user_id
        """,
        "simhash_near_dup": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(regexp_replace(
                           regexp_replace(text, '[^\w\s]', ' ', 'g'),
                           '\s+', ' ', 'g'))), '\s+'), x -> x <> '') AS toks
                FROM documents
            ), h AS (
                SELECT doc_id,
                       list_transform(toks,
                           s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
                       ) AS hs
                FROM t
            ), fp AS (
                -- 60-bit SimHash: per bit, sum +1/-1 votes of each token
                -- hash's bit, set the bit when the vote is positive
                SELECT doc_id,
                       coalesce(list_sum(list_transform(range(0, 60), b ->
                           CASE WHEN coalesce(list_sum(list_transform(hs, v ->
                                    CASE WHEN (v >> b) & 1 = 1
                                         THEN 1 ELSE -1 END)), 0) > 0
                                THEN (CAST(1 AS BIGINT) << b)
                                ELSE 0 END)), 0) AS fp
                FROM h
            )
            SELECT a.doc_id AS "left", b.doc_id AS "right",
                   CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.fp, b.fp)) <= 6
            ORDER BY "left", "right"
        """,
        "er_blocking_recall": """
            SELECT 'd' || CAST(doc_id AS VARCHAR) AS "left",
                   'v' || CAST(doc_id AS VARCHAR) AS "right"
            FROM documents WHERE doc_id % 3 = 0 ORDER BY "left"
        """,
        "er_enhance": """
            SELECT * FROM (
                SELECT 'd' || CAST(doc_id AS VARCHAR) AS "left",
                       'w' || CAST(doc_id AS VARCHAR) AS "right",
                       CAST(0.60 AS DOUBLE) AS proba
                FROM documents WHERE doc_id % 6 = 0
                UNION ALL
                SELECT 'v' || CAST(doc_id AS VARCHAR),
                       'z' || CAST(doc_id AS VARCHAR),
                       CAST(0.60 AS DOUBLE)
                FROM documents WHERE doc_id % 6 = 0
                UNION ALL
                SELECT 'a' || CAST(doc_id AS VARCHAR),
                       'r' || CAST(doc_id AS VARCHAR),
                       CAST(0.60 AS DOUBLE)
                FROM documents WHERE doc_id % 6 = 1
            ) ORDER BY "left", "right"
        """,
        "cluster_size_dist": r"""
            WITH RECURSIVE t AS (
                SELECT doc_id, lang,
                       list_filter(string_split_regex(trim(regexp_replace(
                           regexp_replace(lower(text), '[^\w\s]', ' ', 'g'),
                           '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
                FROM documents
            ), sh AS (
                SELECT doc_id, lang,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct([array_to_string(
                                     list_slice(toks, i, i + 2), ' ')
                                 for i in range(1, len(toks) - 1)])
                            ELSE [array_to_string(toks, ' ')] END AS g
                FROM t
            ), pairs AS (
                SELECT a.doc_id AS u, b.doc_id AS v
                FROM sh a JOIN sh b
                  ON a.lang = b.lang AND a.doc_id < b.doc_id
                WHERE len(list_intersect(a.g, b.g)) * 1.0
                        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
                      >= 0.6
            ), edges AS (
                SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
            ), reach(node, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
            ), comp AS (
                SELECT node, min(r) AS c FROM reach GROUP BY node
            ), sizes AS (
                SELECT c, count(*) AS size FROM comp GROUP BY c
            )
            SELECT size, count(*) AS n_clusters
            FROM sizes GROUP BY size ORDER BY size
        """,
        "ngram_dedup_verify": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(regexp_replace(
                           regexp_replace(lower(text), '[^\w\s]', ' ', 'g'),
                           '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct([array_to_string(
                                     list_slice(toks, i, i + 2), ' ')
                                 for i in range(1, len(toks) - 1)])
                            ELSE [array_to_string(toks, ' ')] END AS g
                FROM t
            ), pairs AS (
                SELECT a.doc_id AS "left", b.doc_id AS "right",
                       len(list_intersect(a.g, b.g)) * 1.0
                         / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
                         AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            SELECT * FROM pairs WHERE jaccard >= 0.8 ORDER BY "left", "right"
        """,
        "er_clusters": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(regexp_replace(
                           regexp_replace(lower(text), '[^\w\s]', ' ', 'g'),
                           '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct([array_to_string(
                                     list_slice(toks, i, i + 2), ' ')
                                 for i in range(1, len(toks) - 1)])
                            ELSE [array_to_string(toks, ' ')] END AS g
                FROM t
            ), nd AS (
                -- coincidental near-identical doc pairs (exact trigram
                -- Jaccard >= 0.8): no content-based resolver can separate
                -- them, so both query and oracle exclude their docs
                SELECT a.doc_id AS l, b.doc_id AS r
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.g, b.g)) * 1.0
                      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
                      >= 0.8
            ), excl AS (
                SELECT l AS doc_id FROM nd UNION SELECT r FROM nd
            ), keep AS (
                SELECT doc_id FROM documents
                WHERE doc_id NOT IN (SELECT doc_id FROM excl)
            ), dups AS (
                SELECT doc_id FROM keep WHERE doc_id % 3 = 0
            ), c AS (
                SELECT (SELECT count(*) FROM keep)
                         + (SELECT count(*) FROM dups) AS n_convs,
                       (SELECT count(*) FROM dups) AS n_dups
            )
            SELECT * FROM (
                SELECT 'pair' AS kind,
                       'd' || CAST(doc_id AS VARCHAR) AS a,
                       'v' || CAST(doc_id AS VARCHAR) AS b
                FROM dups
                UNION ALL
                SELECT 'size', '1', CAST(n_convs - 2 * n_dups AS VARCHAR)
                FROM c
                UNION ALL
                SELECT 'size', '2', CAST(n_dups AS VARCHAR) FROM c
            ) ORDER BY kind, a, b
        """,
        "er_impute": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(regexp_replace(
                           regexp_replace(lower(text), '[^\w\s]', ' ', 'g'),
                           '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct([array_to_string(
                                     list_slice(toks, i, i + 2), ' ')
                                 for i in range(1, len(toks) - 1)])
                            ELSE [array_to_string(toks, ' ')] END AS g
                FROM t
            ), nd AS (
                SELECT a.doc_id AS l, b.doc_id AS r
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.g, b.g)) * 1.0
                      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
                      >= 0.8
            ), excl AS (
                SELECT l AS doc_id FROM nd UNION SELECT r FROM nd
            )
            SELECT 'v' || CAST(doc_id AS VARCHAR) AS conv_id,
                   CASE WHEN doc_id % 10 = 0 THEN 'search_catalog'
                        ELSE 'web_search' END AS attr
            FROM documents
            WHERE doc_id % 15 = 0
              AND doc_id NOT IN (SELECT doc_id FROM excl)
            ORDER BY conv_id
        """,
    }
