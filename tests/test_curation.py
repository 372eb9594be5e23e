"""Unit tests for the second curation batch (§2.10): PII scan, bigram LM,
DSIR weights, mixture weights, containment pairs, kNN graph.

Contracts on handcrafted data; oracle parity at fixture scale lives in the
driver registry (``queries_curation.py``).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from ralf_spark.operators.dedup import containment_pairs
from ralf_spark.operators.retrieval import (
    bigram_nll,
    dsir_log_weights,
    mixture_weights,
)
from ralf_spark.operators.similarity import knn_graph
from ralf_spark.operators.text_analysis import pii_counts, redact_pii
from ralf_spark.table import FeatureTable


def _docs(spark, rows, schema="doc_id long, text string"):
    return FeatureTable(spark.createDataFrame(rows, schema), key="doc_id")


# -------------------------------------------------------------- PII scan
def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e.org ip 10.1.2.3 call +14155550123"),
            (2, "no pii in this clean sentence"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in df.select("doc_id", *pii_counts(F.col("text"))).collect()
    }
    assert rows[1].emails == 2 and rows[1].ipv4 == 1 and rows[1].phones == 1
    assert (
        rows[2].emails == rows[2].ipv4 == rows[2].phones
        == rows[2].id_numbers == 0
    )
    red = df.where("doc_id = 1").select(
        redact_pii(F.col("text")).alias("r")
    ).collect()[0].r
    assert "<EMAILS>" in red and "<IPV4>" in red and "<PHONES>" in red
    assert "a@b.co" not in red and "10.1.2.3" not in red


# ------------------------------------------------------------- bigram LM
def test_bigram_nll_matches_hand_computation(spark):
    # corpus: "a b" (x2) and "a c" -> c2: {a b:2, a c:1}; c1: {a:3}; V=3
    t = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a c")])
    rows = {r.doc_id: r for r in bigram_nll(t).collect()}
    p_ab = (2 + 1) / (3 + 3)
    p_ac = (1 + 1) / (3 + 3)
    assert rows[1].n_bigrams == 1
    assert rows[1].avg_nll == pytest.approx(-math.log(p_ab))
    assert rows[3].avg_nll == pytest.approx(-math.log(p_ac))


def test_bigram_nll_skips_single_token_docs(spark):
    t = _docs(spark, [(1, "solo"), (2, "two tokens")])
    assert [r.doc_id for r in bigram_nll(t).collect()] == [2]


def test_bigram_nll_flags_unusual_order(spark):
    # same unigrams, rare order: "b a" scores higher than the common "a b"
    t = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a b"), (4, "b a")])
    rows = {r.doc_id: r.avg_nll for r in bigram_nll(t).collect()}
    assert rows[4] > rows[1]


# ----------------------------------------------------------- DSIR weights
def test_dsir_weights_favor_target_vocabulary(spark):
    rows = [
        (1, "alpha alpha beta", "target"),
        (2, "alpha beta beta", "target"),
        (3, "gamma gamma delta", "raw"),
        (4, "alpha alpha alpha", "raw"),  # target-like raw doc
        (5, "gamma delta delta", "raw"),
    ]
    t = FeatureTable(
        spark.createDataFrame(rows, "doc_id long, text string, source string"),
        key="doc_id",
    )
    w = {
        r.doc_id: r.log_weight
        for r in dsir_log_weights(t, F.col("source") == "target").collect()
    }
    # the target-vocabulary raw doc outranks the off-target raw docs
    assert w[4] > w[3] and w[4] > w[5]
    assert w[4] > 0 and w[3] < 0


# -------------------------------------------------------- mixture weights
def test_mixture_weights_sum_to_one_and_flatten(spark):
    t = FeatureTable(
        spark.createDataFrame(
            [(1, "a b c d", "big"), (2, "a b c d", "big"), (3, "a", "small")],
            "doc_id long, text string, source string",
        ),
        key="doc_id",
    )
    rows = {r.source: r for r in mixture_weights(t, alpha=0.5).collect()}
    assert rows["big"].n_tokens == 8 and rows["small"].n_tokens == 1
    assert sum(r.p_raw for r in rows.values()) == pytest.approx(1.0)
    assert sum(r.p_sample for r in rows.values()) == pytest.approx(1.0)
    # alpha < 1 flattens: small source gains share vs proportional
    assert rows["small"].p_sample > rows["small"].p_raw
    assert rows["big"].p_sample < rows["big"].p_raw


# ------------------------------------------------------ containment pairs
def test_containment_detects_excerpt_jaccard_misses(spark):
    quote = "alpha beta gamma delta epsilon"
    long_doc = (
        f"{quote} zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
    )
    t = _docs(spark, [(1, quote), (2, long_doc), (3, "totally different words here")])
    rows = {
        (r.src_id, r.dst_id): r.containment
        for r in containment_pairs(t, threshold=0.5, max_df=5).collect()
    }
    # doc1 fully contained in doc2; reverse direction dilutes below 0.5
    assert rows[(1, 2)] == pytest.approx(1.0)
    assert (2, 1) not in rows
    assert not any(3 in p for p in rows)


def test_containment_symmetric_dup_yields_both_directions(spark):
    text = "one two three four five six"
    t = _docs(spark, [(1, text), (2, text)])
    rows = {
        (r.src_id, r.dst_id): r.containment
        for r in containment_pairs(t, threshold=0.9, max_df=5).collect()
    }
    assert rows[(1, 2)] == pytest.approx(1.0)
    assert rows[(2, 1)] == pytest.approx(1.0)


# -------------------------------------------------------------- kNN graph
def _unit(theta):
    return [math.cos(theta), math.sin(theta)] + [0.0] * 62


def test_knn_graph_ranks_by_cosine_within_bucket(spark):
    # 4 near-identical vectors land in one bucket; each gets the other 3
    vecs = [(i, _unit(0.001 * i)) for i in range(4)]
    t = FeatureTable(
        spark.createDataFrame(vecs, "vec_id long, embedding array<double>"),
        key="vec_id",
    )
    out = knn_graph(t, k=2, nbits=6, dim=64).collect()
    per = {}
    for r in out:
        per.setdefault(r.vec_id, []).append(r)
    assert set(per) == {0, 1, 2, 3}
    for vid, rows in per.items():
        assert len(rows) == 2
        assert rows[0].rank == 1 and rows[1].rank == 2
        assert rows[0].cos_sim >= rows[1].cos_sim
        assert all(r.neighbor_id != vid for r in rows)
    # nearest neighbor of 0 is 1 (smallest angle gap)
    assert per[0][0].neighbor_id == 1


# ------------------------------------------------------------------ EWMA
def test_ewma_matches_hand_fold(spark):
    from ralf_spark.operators.moments import ewma_per_key

    rows = [(1, i, float(x)) for i, x in enumerate([10.0, 20.0, 40.0])]
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")
    out = ewma_per_key(df, "user_id", "ts", "value", alpha=0.5).collect()[0]
    # s = 10 -> 0.5*20+0.5*10 = 15 -> 0.5*40+0.5*15 = 27.5
    assert out.n_events == 3 and out.ewma == pytest.approx(27.5)


def test_ewma_single_event_is_identity(spark):
    from ralf_spark.operators.moments import ewma_per_key

    df = spark.createDataFrame(
        [(1, 0, 7.0)], "user_id long, ts long, value double"
    )
    out = ewma_per_key(df, "user_id", "ts", "value", alpha=0.2).collect()[0]
    assert out.ewma == pytest.approx(7.0)


def test_ewma_order_sensitivity(spark):
    from ralf_spark.operators.moments import ewma_per_key

    a = [(1, i, v) for i, v in enumerate([1.0, 1.0, 100.0])]
    b = [(1, i, v) for i, v in enumerate([100.0, 1.0, 1.0])]
    mk = lambda rows: ewma_per_key(
        spark.createDataFrame(rows, "user_id long, ts long, value double"),
        "user_id", "ts", "value", alpha=0.5,
    ).collect()[0].ewma
    assert mk(a) > mk(b)  # recent spike dominates under decay


# ----------------------------------------------------------- MAD outliers
def test_mad_outliers_flags_contaminated_point(spark):
    from ralf_spark.operators.policies import mad_outliers

    vals = [1.0, 1.1, 0.9, 1.05, 0.95, 1.0, 1.02, 50.0]
    df = spark.createDataFrame(
        [(i, "t", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    out = {r.event_id: r for r in
           mad_outliers(df, "event_type", "value").collect()}
    assert out[7].is_outlier
    assert not any(out[i].is_outlier for i in range(7))
    # classical z-score would NOT flag 50.0 at 3 sigma this strongly;
    # robust_z must be far beyond the threshold
    assert abs(out[7].robust_z) > 100


def test_mad_zero_gives_null_z_and_no_flags(spark):
    from ralf_spark.operators.policies import mad_outliers

    df = spark.createDataFrame(
        [(i, "t", 5.0) for i in range(4)],
        "event_id long, event_type string, value double",
    )
    rows = mad_outliers(df, "event_type", "value").collect()
    assert all(r.robust_z is None and not r.is_outlier for r in rows)


# --------------------------------------------------------- pack sequences
def test_pack_sequences_offsets_and_bins(spark):
    from ralf_spark.operators.retrieval import pack_sequences

    rows = [
        (1, "a b c", "s"),        # 3 toks, start 0, bin 0
        (2, "d e f g", "s"),      # 4 toks, start 3, bin 0
        (3, "h i", "s"),          # start 7 -> bin 1 (seq_len 5), offset 2
        (4, "x", "other"),        # independent stream
    ]
    t = FeatureTable(
        spark.createDataFrame(rows, "doc_id long, text string, source string"),
        key="doc_id",
    )
    out = {r.doc_id: r for r in pack_sequences(t, seq_len=5).collect()}
    assert (out[1].start_offset, out[1].bin_id, out[1].bin_offset) == (0, 0, 0)
    assert (out[2].start_offset, out[2].bin_id, out[2].bin_offset) == (3, 0, 3)
    assert (out[3].start_offset, out[3].bin_id, out[3].bin_offset) == (7, 1, 2)
    assert (out[4].start_offset, out[4].bin_id) == (0, 0)


# --------------------------------------------------------- dedup keep-best
def test_dedup_keep_best_keeps_highest_quality_per_cluster(spark):
    from ralf_spark.operators.dedup import dedup_keep_best

    docs = FeatureTable(
        spark.createDataFrame(
            [(1, 10), (2, 30), (3, 20), (4, 99)],
            "doc_id long, quality int",
        ),
        key="doc_id",
    )
    # chain 1-2, 2-3 -> one cluster {1,2,3}; 4 is a singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id1 long, id2 long")
    rows = {r.id: r for r in dedup_keep_best(docs, pairs, "quality").collect()}
    assert rows[2].kept and not rows[1].kept and not rows[3].kept
    assert rows[4].kept and rows[4].cluster_rep == 4
    assert rows[1].cluster_rep == rows[2].cluster_rep == rows[3].cluster_rep == 1


def test_dedup_keep_best_tie_breaks_to_lowest_id(spark):
    from ralf_spark.operators.dedup import dedup_keep_best

    docs = FeatureTable(
        spark.createDataFrame([(5, 7), (6, 7)], "doc_id long, quality int"),
        key="doc_id",
    )
    pairs = spark.createDataFrame([(5, 6)], "id1 long, id2 long")
    rows = {r.id: r.kept for r in dedup_keep_best(docs, pairs, "quality").collect()}
    assert rows == {5: True, 6: False}


# ------------------------------------------------------------------ SCD2
def test_scd2_intervals_chain_and_current_flag(spark):
    from ralf_spark.operators.joins import scd2_history
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 7, base, 1.0),
        (2, 7, base + dt.timedelta(hours=1), 2.0),
        (3, 7, base + dt.timedelta(hours=2), 3.0),
        (4, 8, base, 9.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {r.event_id: r for r in
           scd2_history(df, "user_id", "ts", "event_id").collect()}
    # intervals chain: each version's valid_to = next version's valid_from
    assert out[1].valid_to_us == out[2].valid_from_us
    assert out[2].valid_to_us == out[3].valid_from_us
    assert out[3].valid_to_us is None and out[3].is_current
    assert not out[1].is_current and not out[2].is_current
    assert out[4].is_current  # sole version for user 8


def test_ewma_folds_incrementally_across_batches(spark):
    """The streaming contract: folding batch 2 seeded with batch 1's
    state equals one fold over the full history."""
    from ralf_spark.operators.moments import ewma_per_key

    alpha = 0.3
    all_rows = [(1, i, float(v)) for i, v in enumerate([5, 9, 2, 7, 7, 1])]
    full = ewma_per_key(
        spark.createDataFrame(all_rows, "user_id long, ts long, value double"),
        "user_id", "ts", "value", alpha=alpha,
    ).collect()[0].ewma

    b1 = ewma_per_key(
        spark.createDataFrame(all_rows[:3], "user_id long, ts long, value double"),
        "user_id", "ts", "value", alpha=alpha,
    ).collect()[0].ewma
    # replay batch 2 as a python fold seeded with b1 — the exact algebra a
    # foreachBatch upsert would run with the state row as seed
    s = b1
    for _, _, x in all_rows[3:]:
        s = alpha * x + (1 - alpha) * s
    assert s == pytest.approx(full)


# ------------------------------------------------------- plan assertions
def test_bm25_stats_join_is_broadcast_not_shuffled(spark):
    """The corpus side of BM25 must not shuffle: the only join is the
    1-row stats relation broadcast back over the scan."""
    from ralf_spark.operators.retrieval import bm25_scores
    from ralf_spark.plans.explain import explain_str

    t = _docs(spark, [(1, "spark join"), (2, "window fast")])
    plan = explain_str(bm25_scores(t, ["spark", "window"]))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_knn_graph_has_no_cartesian_product(spark):
    from ralf_spark.plans.explain import explain_str

    t = FeatureTable(
        spark.createDataFrame(
            [(i, _unit(0.1 * i)) for i in range(6)],
            "vec_id long, embedding array<double>",
        ),
        key="vec_id",
    )
    plan = explain_str(knn_graph(t, k=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # bucket equi-join only


def test_containment_pairs_no_cartesian_product(spark):
    from ralf_spark.plans.explain import explain_str

    t = _docs(spark, [(1, "a b c d e"), (2, "a b c d e f g")])
    plan = explain_str(containment_pairs(t))
    assert "CartesianProduct" not in plan


def test_dsir_bucket_join_is_broadcast(spark):
    """The token→bucket-count join must broadcast the fixed-size (1024
    bucket) distribution, never shuffle the token stream for it."""
    from ralf_spark.plans.explain import explain_str

    t = FeatureTable(
        spark.createDataFrame(
            [(1, "a b", "x"), (2, "c d", "y")],
            "doc_id long, text string, source string",
        ),
        key="doc_id",
    )
    plan = explain_str(dsir_log_weights(t, F.col("source") == "x"))
    assert "BroadcastHashJoin" in plan


@pytest.mark.slow
def test_pipeline_oracles_honor_non_default_parameters(spark):
    """The ADVICE-r4 ignored-parameter bug class, applied to the two
    composition gates: rebuild BOTH pipelines at alternate knob settings
    and replay the parameter-generated oracles in DuckDB - a knob that is
    hardcoded on either side mismatches here."""
    import duckdb

    from ralf_spark.queries_curation import (
        _curation_pipeline_oracle_sql,
        curation_pipeline,
    )
    from ralf_spark.queries_state import (
        _feature_pipeline_oracle_sql,
        feature_pipeline,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ["documents", "events"]:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf}/{t}.parquet'")

    cur = sorted(
        map(tuple, curation_pipeline(
            spark, sf, q_min=0.3, jaccard_threshold=0.6, decon_n=6,
            eval_pct=10, cap=5, budget=20_000, num_perm=8, bands=4,
        ).collect())
    )
    cur_o = sorted(map(tuple, con.sql(_curation_pipeline_oracle_sql(
        q_min=0.3, jaccard_threshold=0.6, decon_n=6, eval_pct=10,
        cap=5, budget=20_000, num_perm=8, bands=4,
    )).fetchall()))
    assert cur == cur_o and len(cur) > 0

    feat = sorted(
        map(tuple, feature_pipeline(
            spark, sf, shed_rate=0.5, change_threshold=2.0
        ).collect())
    )
    feat_o = sorted(map(tuple, con.sql(_feature_pipeline_oracle_sql(
        shed_rate_bp=5000, change_threshold=2.0
    )).fetchall()))
    assert feat == feat_o and len(feat) == 3


def test_curation_release_frees_all_blocks_including_checkpoint(spark):
    """r9 (ADVICE r8): curation_pipeline's dup-id localCheckpoint is lazy
    (no job at plan construction... beyond the dedup stats agg) and its
    blocks — plus every persisted stage AND the LSH caches that now ride
    along until the checkpoint materializes — release through the
    caller's one ``unpersist_cached``. A long-lived session must end at
    zero cached RDDs."""
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.queries_curation import curation_pipeline

    sc = spark.sparkContext
    # tolerate stray blocks from earlier tests in the shared session
    before = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    out = curation_pipeline(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    mid = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    assert len(mid - before) > 0  # stages + checkpoint blocks are resident
    unpersist_cached(out, blocking=True)
    after = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    assert after - before == set()


def test_checkpoint_handle_releases_blocks(spark):
    """A registered local checkpoint's release reaches the LogicalRDD
    under the checkpointed plan and unpersists it — DataFrame.unpersist
    alone cannot."""
    from ralf_spark.operators.util import (
        cache_scope,
        local_checkpoint,
        unpersist_cached,
    )

    sc = spark.sparkContext
    before = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    with cache_scope():
        df = local_checkpoint(
            spark.range(500).selectExpr("id", "id * 2 AS v"), eager=False
        )
        assert df.count() == 500
        mid = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
        assert len(mid - before) == 1
        unpersist_cached(df, blocking=True)
    after = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    assert after - before == set()
