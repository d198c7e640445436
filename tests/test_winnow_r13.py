"""Round-13 winnow df-cap default (VERDICT r12 task 4).

dedup_winnow_corpus now builds its pair graph at max_df=32 instead of
50.  The quality claim the docstring makes — tightening the cap drops
only INCIDENTAL boilerplate merges, never a planted-duplicate
decision — is pinned here at sf0.001: planted recall is identical
(100%) at both caps, every planted copy is removed by both keeper
sets, and the keeper-set difference (if any) is confined to original
documents merged through common fingerprints, not to planted pairs.
"""

from __future__ import annotations

import pytest

from hive_scd_spark.operators.cluster import dedup_corpus
from hive_scd_spark.operators.dedup import winnow_pairs_from_selected
from hive_scd_spark.queries import DUP_ID_OFFSET, _dup_corpus, shared_winnow_selected

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sel(spark):
    return shared_winnow_selected(spark, SF)


def _planted_hits(sel, cap):
    pairs = winnow_pairs_from_selected(sel, "doc_id", max_df=cap, min_shared=5)
    return {
        r["id_a"]
        for r in pairs.filter(f"id_b = id_a + {DUP_ID_OFFSET}").select("id_a").collect()
    }


def _keepers(spark, sel, cap):
    pairs = winnow_pairs_from_selected(sel, "doc_id", max_df=cap, min_shared=5)
    keep = dedup_corpus(_dup_corpus(spark, SF), pairs, "doc_id")
    return {r["doc_id"] for r in keep.select("doc_id").collect()}


def test_dup_corpus_ids_distinct_past_100000(spark, tmp_path):
    """A replicated documents table holds ids of 100,000 and more; no
    planted copy may take the id of a real document."""
    ids = [0, 5, 7, 100000, 100005, 499995]
    spark.createDataFrame(
        [(i, f"text {i}") for i in ids], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = [r.doc_id for r in _dup_corpus(spark, str(tmp_path)).collect()]
    assert len(got) == len(set(got)) == len(ids) + 5  # five ids are % 5 == 0


def test_planted_recall_cap_invariant(spark, sel):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    planted = {r["doc_id"] for r in docs.filter("doc_id % 5 = 0").collect()}
    h32 = _planted_hits(sel, 32)
    h50 = _planted_hits(sel, 50)
    assert h32 == planted  # 100% recall at the production cap
    assert h32 == h50      # tightening 50 -> 32 loses no planted pair


def test_keeper_diff_is_incidental_only(spark, sel):
    k32 = _keepers(spark, sel, 32)
    k50 = _keepers(spark, sel, 50)
    # every planted copy is removed by BOTH keeper sets (the dedup
    # decision the gate exists for is cap-invariant)
    assert not any(d >= DUP_ID_OFFSET for d in k32)
    assert not any(d >= DUP_ID_OFFSET for d in k50)
    # whatever churn the cap causes is confined to incidental merges
    # among ORIGINAL documents (boilerplate-band false merges at 50)
    diff = k32 ^ k50
    assert all(d < DUP_ID_OFFSET for d in diff)
    # tightening the cap can only DROP pairs, so clusters shrink and
    # the keeper set can only grow
    assert k32 >= k50


def test_pair_budget_guard_raises_on_dense_corpus(spark):
    """r14 (VERDICT r13 task 2): the opt-in Σ df·(df−1)/2 census fails
    loudly when the kept fingerprints would generate more candidate
    pairs than the budget — a boilerplate-dense corpus becomes a data
    error, not a silent superlinear run."""
    import pytest

    from hive_scd_spark.operators.dedup import (
        ShingleSkewError,
        winnow_dup_pairs,
    )

    # 30 docs sharing one long boilerplate body -> every fingerprint is
    # in all 30 docs (df=30, each contributing 435 pairs)
    body = "shared boilerplate text that every document repeats " * 6
    docs = spark.createDataFrame(
        [(i, body) for i in range(30)], "doc_id long, text string"
    )
    with pytest.raises(ShingleSkewError, match="pair_budget"):
        winnow_dup_pairs(docs, "doc_id", "text", pair_budget=100).collect()
    # under budget: same corpus, generous budget -> runs fine
    out = winnow_dup_pairs(docs, "doc_id", "text", pair_budget=10_000_000)
    assert out.count() > 0


def test_pair_budget_none_is_action_free(spark):
    """Default pair_budget=None must not add the census action: the
    gates stay plan-pure (no .first() at build)."""
    import inspect

    from hive_scd_spark.operators.dedup import winnow_pairs_from_selected

    sig = inspect.signature(winnow_pairs_from_selected)
    assert sig.parameters["pair_budget"].default is None
