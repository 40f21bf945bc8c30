"""Replay safety of every batch-addressed cell store, in one place.

Each store appends two batches, then re-appends the first under its
original ``batch_id`` (a checkpoint-recovery replay).  The replayed
store must read back bit for bit what the store read before the
replay, and each store's on-disk column list is pinned: the layout is
the contract that lets stores written by older code read back
unchanged.
"""

import pytest
from pyspark.sql import functions as F

from lightfusion_spark.operators import evalmetrics as em
from lightfusion_spark.operators import ranking as rk

_PAIRS = [
    (i, f"the cat sat on mat {i} x{i % 3}", f"the cat sat on the mat {i}")
    for i in range(12)
]


def _pairs(spark, b):
    return spark.createDataFrame(
        _PAIRS[b::2], "id long, cand string, ref string"
    )


def _qa(spark, b):
    rows = [(i, f"a b w{i}", f"a b c w{i}") for i in range(b, 12, 2)]
    return spark.createDataFrame(rows, "qid long, pred string, gold string")


def _games(spark, b):
    rows = [
        (f"s{i % 3}", f"s{(i // 3) % 3}", f"s{i % 3}" if i % 4 else "s9")
        for i in range(b, 24, 2)
    ]
    return spark.createDataFrame(
        rows + [(None, "s1", "s1")], "a string, b string, w string"
    )


def _scores(spark, b):
    rows = [
        (i, None if i % 11 == 0 else (i % 5) / 4.0, i % 2)
        for i in range(b, 40, 2)
    ]
    return spark.createDataFrame(rows, "id long, score double, label int")


def _samples(spark, b):
    rows = [(f"t{i % 4}", i % 3 == 0) for i in range(b, 30, 2)]
    return spark.createDataFrame(
        rows + [(None, True)], "task string, ok boolean"
    )


def _ranking(spark, b):
    res = spark.createDataFrame(
        [(q, f"i{q}_{r}", r) for q in range(1, 7) for r in range(1, 5)],
        "q long, item string, rank int",
    )
    gold = spark.createDataFrame(
        [(q, f"i{q}_{r}") for q in range(1, 7) for r in (1, 3, 6)],
        "q long, item string",
    )
    keep = F.col("q") % 2 == b
    return res.where(keep), gold.where(keep)


# name -> (append(spark, dir, batch_id), read(spark, dir), disk columns)
STORES = {
    "bleu": (
        lambda s, d, b: em.bleu_append_batch(
            _pairs(s, b), d, b, "id", "cand", "ref"
        ),
        lambda s, d: [em.bleu_from_store(s, d)],
        ["n", "matched", "cand_total", "ref_total", "batch_id"],
    ),
    "chrf": (
        lambda s, d, b: em.chrf_append_batch(
            _pairs(s, b), d, b, "id", "cand", "ref"
        ),
        lambda s, d: [em.chrf_from_store(s, d)],
        ["n", "matched", "cand_total", "ref_total", "batch_id"],
    ),
    "wer": (
        lambda s, d, b: em.wer_append_batch(
            _pairs(s, b), d, b, "id", "cand", "ref"
        ),
        lambda s, d: [em.wer_from_store(s, d)],
        [
            "n_pairs",
            "n_pairs_dropped",
            "total_edits",
            "total_ref_words",
            "batch_id",
        ],
    ),
    "rouge": (
        lambda s, d, b: em.rouge_append_batch(
            _pairs(s, b), d, b, "id", "cand", "ref"
        ),
        lambda s, d: [em.rouge_from_store(s, d)],
        ["metric", "matched", "cand_total", "ref_total", "batch_id"],
    ),
    "qa": (
        lambda s, d, b: em.qa_append_batch(
            _qa(s, b), d, b, "qid", "pred", "gold"
        ),
        lambda s, d: [em.qa_from_store(s, d)],
        ["n_questions", "n_em", "f1_sum", "batch_id"],
    ),
    "winrate": (
        lambda s, d, b: em.winrate_append_batch(
            _games(s, b), d, b, "a", "b", "w"
        ),
        lambda s, d: [em.winrate_from_store(s, d)],
        [
            "side_lo",
            "side_hi",
            "n_games",
            "n_wins_lo",
            "n_dropped",
            "batch_id",
        ],
    ),
    "binary_scores": (
        lambda s, d, b: em.binary_scores_append_batch(
            _scores(s, b), d, b, "id", "score", "label"
        ),
        lambda s, d: [
            em.auc_from_store(s, d),
            em.pr_from_store(s, d),
            em.brier_from_store(s, d),
        ],
        ["_ok", "_s", "_np", "_nn", "_cnt", "batch_id"],
    ),
    "pass_at_k": (
        lambda s, d, b: em.pass_at_k_append_batch(
            _samples(s, b), d, b, "task", "ok"
        ),
        lambda s, d: [em.pass_at_k_from_store(s, d, ks=(1, 3))],
        ["_task", "_n", "_c", "_dropped", "batch_id"],
    ),
    "ranking": (
        lambda s, d, b: rk.ranking_append_batch(
            *_ranking(s, b), d, b, "q", "item", "rank", k=3
        ),
        lambda s, d: [rk.ranking_from_store(s, d)],
        [
            "n_queries",
            "n_ndcg_ungraded",
            "n_hits_total",
            "n_gold_total",
            "rr_sum",
            "p_sum",
            "r_sum",
            "ndcg_sum",
            "n_graded",
            "k",
            "batch_id",
        ],
    ),
}


def _snapshot(frames):
    """Schema + rows, compared through ``repr`` so floats (NaN included)
    must match bit for bit."""
    return [
        (
            df.schema.simpleString(),
            sorted(repr(tuple(r)) for r in df.collect()),
        )
        for df in frames
    ]


@pytest.mark.parametrize("name", list(STORES))
def test_store_replay_reads_back_bit_identical(spark, tmp_path, name):
    append, read, disk_cols = STORES[name]
    path = str(tmp_path / name)
    append(spark, path, 0)
    append(spark, path, 1)
    before = _snapshot(read(spark, path))
    append(spark, path, 0)  # replay under the original batch id
    assert _snapshot(read(spark, path)) == before
    assert spark.read.parquet(path).columns == disk_cols
