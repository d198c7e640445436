"""Targeted data selection: DSIR importance resampling.

DSIR (Data Selection with Importance Resampling, Xie et al. 2023,
arXiv:2302.03169 — public technique) picks pretraining documents that
LOOK LIKE a small target corpus: fit cheap bag-of-hashed-n-grams
unigram models over the target (p) and the raw pool (q), weight every
raw document by its log likelihood ratio ``Σ_b cnt_b·(ln p_b − ln q_b)``,
then Gumbel-top-k resample — sampling WITHOUT replacement proportional
to softmax of the log-weights, so selection is distribution-matching
rather than a brittle argmax on near-duplicate high scorers.

Everything here is engine-exact by construction (the package's oracle
contract): hashing is the shared md5 ``hash32`` convention, the models
are integer counts with add-one smoothing, Gumbel noise derives from
md5 uniforms, and the only floats (ln ratios) follow the
``unigram_logprob`` precedent — round(…, 6) after the per-document
aggregate, wide slack against cross-engine summation-order drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_scd_spark.functions import hash32, ws_tokens
from hive_scd_spark.operators._materialize import pin_model_table


def hashed_ngram_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 10_000,
    salt: str = "dsir",
) -> DataFrame:
    """Exploded hashed-n-gram features: one row per (document,
    occurrence), ``bucket = hash32(salt ':' gram) % n_buckets`` over
    the document's unigrams AND bigrams (DSIR's published feature
    space).  Tokenization is the shared ``ws_tokens`` contract;
    empty/NULL documents produce no rows (callers re-attach them —
    see :func:`dsir_importance_weights`).

    Output: (*id_col*, ``bucket`` int).  Plan shape: row-local gram
    arrays → one explode → a vocabulary-bounded distinct-gram hash
    (the ``hash_embed`` trick: md5 runs once per DISTINCT gram after
    the shuffle, not once per occurrence on the scan) joined back.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    # stage the token array as a real column (top_ngrams measured the
    # unaliased-split re-evaluation at ~10x)
    work = df.select(F.col(id_col), ws_tokens(text_col).alias("__toks"))
    tc = F.filter(F.col("__toks"), lambda t: t != "")
    work = work.select(id_col, tc.alias("__toks"))
    tc = F.col("__toks")
    # sequence(1, 0) DESCENDS — the size>=2 guard is load-bearing
    bigrams = F.when(
        F.size(tc) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tc) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(tc, i), F.element_at(tc, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = work.select(
        F.col(id_col), F.explode(F.concat(tc, bigrams)).alias("__gram")
    )
    grams = (
        ex.select("__gram")
        .distinct()
        .select(
            "__gram",
            (hash32(F.concat(F.lit(salt), F.lit(":"), F.col("__gram"))) % n_buckets)
            .cast("int")
            .alias("bucket"),
        )
    )
    return ex.join(grams, "__gram").select(id_col, "bucket")


def _bucket_logprobs(
    feats: DataFrame, n_buckets: int, prefix: str
) -> DataFrame:
    """Add-one-smoothed unigram log-model over hashed buckets:
    ``ln((cnt_b + 1) / (total + n_buckets))`` — defined for every
    bucket including unseen ones, which is why the per-document join
    below can coalesce a missing bucket to the floor analytically.

    Output: (bucket, {prefix}_lnp) for OBSERVED buckets only, plus the
    caller reads the floor from the returned frame's companion scalar
    (total) — kept as a cross-joined 1-row broadcast by the caller.
    """
    return feats.groupBy("bucket").agg(
        F.count("*").alias(f"{prefix}_cnt")
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 10_000,
    salt: str = "dsir",
) -> DataFrame:
    """Per-document DSIR importance log-weight of every *raw* document
    against the *target* distribution:

    ``dsir_logw = Σ_buckets cnt_doc[b] · (ln p̂(b) − ln q̂(b))``

    with ``p̂`` the target bucket model and ``q̂`` the raw-pool bucket
    model, both add-one smoothed over *n_buckets* so unseen buckets
    carry the analytic floor ``ln(1/(total+B))`` instead of −inf.
    Higher = more target-like.  Documents with no features (empty/NULL
    text) score 0.0 with ``n_feats = 0`` — every input row survives
    (the package convention).

    Output: *raw* + (``n_feats`` long, ``dsir_logw`` double rounded to
    6 — see module docstring for the float contract).

    Scale: both model fits are combiner-collapsed count shuffles
    bounded by *n_buckets* (NOT corpus-sized); the two model joins are
    bucket-table-sized (≤ n_buckets rows — AQE broadcasts them); the
    only corpus-sized shuffles are the feature explode's per-(doc,
    bucket) count and the final per-doc aggregate.  No Python, no
    window, no skew risk beyond a hot bucket degrading its own reduce
    task.  The 1-row totals frame rides a broadcast nested-loop join —
    the linter-exempt 1-row-aggregate build shape.
    """
    feats_raw = hashed_ngram_features(raw, id_col, text_col, n_buckets, salt)
    feats_tgt = hashed_ngram_features(target, id_col, text_col, n_buckets, salt)
    # Optimization r15: q and p are referenced by BOTH the totals
    # aggregate and the model join, and broadcast-side subplans get no
    # exchange reuse — unpinned, the raw-pool feature explode ran a
    # third time just to rebuild q for the totals.  Both tables are
    # ≤ n_buckets rows (type-bounded), so the pins are model-table-
    # sized.  A stronger restructure (pin the grouped (doc, bucket)
    # table and derive q from it) was measured and REJECTED: the pin
    # is corpus-sized and its materialization cost t100 23.6 → 55.6 s
    # at 100× — the combiner-collapsed q shuffle it avoided was far
    # cheaper than storing the grouped stream.  The pins run actions
    # at build.
    # r16 mechanism: driver-collect instead of lazy localCheckpoint,
    # but only when n_buckets ≤ MATERIALIZE_ROW_BOUND (4096: the
    # registry gates' 512 and the scale row's 4096) — the default
    # n_buckets=10_000 keeps the checkpoint path.  Both tables are
    # ≤ n_buckets rows and F.broadcast downstream (a broadcast
    # collects to the driver anyway), and the checkpoint's fixed
    # df→RDD build cost was the driver-measured 2.14× sf0.1
    # regression on select_dsir_weights (VERDICT r15).
    # EAGER at call time (ADVICE r15): both model fits run NOW.
    q = pin_model_table(_bucket_logprobs(feats_raw, n_buckets, "q"), n_buckets)
    p = pin_model_table(_bucket_logprobs(feats_tgt, n_buckets, "p"), n_buckets)
    # ONE 1-row frame carrying both ln-model denominators, built as a
    # single aggregate over the tagged union of the two (bucket, cnt)
    # tables (each ≤ n_buckets rows) — the linter-exempt
    # 1-row-aggregate broadcast-build shape; a crossJoin of two
    # separate aggregates would read as an unexempted nested-loop
    totals = (
        q.select(F.col("q_cnt").alias("__c"), F.lit(1).alias("__isq"))
        .unionByName(
            p.select(F.col("p_cnt").alias("__c"), F.lit(0).alias("__isq"))
        )
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__isq") == 1, F.col("__c"))), F.lit(0)
            ).alias("__qt"),
            F.coalesce(
                F.sum(F.when(F.col("__isq") == 0, F.col("__c"))), F.lit(0)
            ).alias("__pt"),
        )
    )
    doc_b = feats_raw.groupBy(id_col, "bucket").agg(
        F.count("*").alias("__dc")
    )
    model = (
        doc_b.join(F.broadcast(p), "bucket", "left")
        .join(F.broadcast(q), "bucket", "left")
        .join(F.broadcast(totals))
    )
    lnp = F.log(
        (F.coalesce(F.col("p_cnt"), F.lit(0)) + 1).cast("double")
        / (F.col("__pt") + n_buckets).cast("double")
    )
    lnq = F.log(
        (F.coalesce(F.col("q_cnt"), F.lit(0)) + 1).cast("double")
        / (F.col("__qt") + n_buckets).cast("double")
    )
    scored = model.groupBy(id_col).agg(
        F.sum("__dc").cast("long").alias("n_feats"),
        F.round(F.sum(F.col("__dc") * (lnp - lnq)), 6).alias("dsir_logw"),
    )
    return (
        raw.join(scored, id_col, "left")
        .withColumn("n_feats", F.coalesce(F.col("n_feats"), F.lit(0)))
        .withColumn(
            "dsir_logw", F.coalesce(F.col("dsir_logw"), F.lit(0.0))
        )
    )


def dsir_gumbel_topk(
    weights: DataFrame,
    id_col: str,
    k: int,
    logw_col: str = "dsir_logw",
    salt: str = "dsir-g",
) -> DataFrame:
    """Gumbel-top-k resampling over DSIR log-weights: adding i.i.d.
    Gumbel noise ``g = −ln(−ln(u))`` to each log-weight and taking the
    top *k* keys samples k documents WITHOUT replacement with
    probability proportional to ``exp(logw)`` (the Gumbel-max trick —
    public result, Kool et al. 2019).  ``u`` derives from the document
    id via the md5 convention (``(hash32(salt ':' id) + 0.5) / 2^32`` —
    never exactly 0 or 1, so the double-log is always finite), making
    the "sample" a pure function of (salt, id): layout-independent,
    engine-replayable, reproducible across reruns.

    Output: the selected rows + ``gumbel_key`` (rounded to 6; the
    ranking key) — ordered deterministically by (key desc, id).

    Scale: a global top-k is TakeOrdered — per-partition heaps of size
    k merged on the driver, bounded by k, never a global sort.
    """
    if k < 1:
        raise ValueError(f"k must be positive, got {k}")
    u = (
        hash32(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
        .cast("double")
        + 0.5
    ) / F.lit(float(1 << 32))
    key = F.round(F.col(logw_col) - F.log(-F.log(u)), 6)
    return (
        weights.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
    )
