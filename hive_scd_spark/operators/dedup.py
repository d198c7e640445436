"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard.  The scale story for each:

- **exact**: one shuffle on the content digest (md5 of normalized
  text), uniformly distributed by construction — no skew at any scale.
- **MinHash LSH**: signatures are per-row array math (no shuffle);
  candidate generation shuffles on (band, band_key) buckets, so cost is
  O(near-duplicates), never O(n²).  This is the 100 TB path.
- **n-gram Jaccard**: exact pairwise via a shingle inverted index —
  quadratic in bucket size; correct baseline and verifier for LSH, not
  the at-scale default (the module docstring of each function says
  which to reach for).
- **SimHash**: a per-row 60-bit fingerprint; hamming-adjacent docs can
  then be banded like MinHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from hive_scd_spark.functions import (
    HASH_P,
    char_shingles,
    minhash_perms,
    norm_text,
)


class ShingleSkewError(ValueError):
    """A shingle's document frequency exceeds the opt-in census bound —
    the exact self-join would degenerate toward all-pairs on it."""


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    key_cols: list[str] | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Keep one row (smallest *id_col*) per distinct content.

    Content key = md5 of normalized *text_col*, or the tuple of
    *key_cols*.  Single hash-partition shuffle on the digest; the
    min-id winner is picked with a window (sort within each hash
    partition only)."""
    if (text_col is None) == (key_cols is None):
        raise ValueError("pass exactly one of text_col / key_cols")
    if text_col is not None:
        key = F.md5(norm_text(text_col) if normalize else F.col(text_col))
        keys = [key.alias("__content_key")]
        partition = ["__content_key"]
    else:
        keys = []
        partition = list(key_cols or [])
    work = df.select("*", *keys)
    w = W.partitionBy(*partition).orderBy(F.col(id_col).asc())
    out = work.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return out.drop("__rn", *(["__content_key"] if text_col is not None else []))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.3,
    strategy: str = "count",
    max_df: int | None = None,
) -> DataFrame:
    """**Exact** near-duplicate pairs by character-k-gram Jaccard.

    Two strategies, both exact:

    - ``strategy="count"`` (default): ONE shuffle groups the inverted
      index into per-shingle sorted id arrays (each bounded by that
      shingle's df); ordered pairs explode from the arrays and a
      map-side-combined groupBy counts shared shingles; |∩|/|∪| from
      counts.  Cost is Σ_s df(s)² generated pair rows — right for
      moderate corpora and low thresholds, and it's the oracle
      baseline for LSH.  df=1 shingles produce no pair and are
      filtered before the explode (output-identical).  ``max_df`` opts
      into the hot-shingle census (the fuzzy.py idiom): any shingle
      with df > max_df — df² candidate pairs by itself — raises
      :class:`ShingleSkewError` naming the worst offenders instead of
      degenerating quadratically.  Opt-in because the census collects
      (bounded, ≤5 rows) on the driver; the engine gates stay
      action-free by default.
    - ``strategy="prefix"``: PPJoin-style prefix filter — a pair with
      ``jaccard >= t`` must share a shingle within each doc's
      ``floor((1-t)·n)+1`` *rarest* shingles, so candidates come only
      from rare-shingle buckets; verify joins the shingle arrays back
      by id.  Wins for high thresholds (t ≥ ~0.7) where the prefix is
      short; at t=0.3 the prefix is 70% of the doc and prunes little.

    At 100 TB neither exact strategy is the first move — generate
    candidates with :func:`minhash_near_dup_pairs` (O(candidates)) and
    use this only to verify, which is exactly what that function does.
    """
    from hive_scd_spark.operators.layout import fan_out

    df = fan_out(df)  # single-split inputs serialize the shingle explode
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.explode(char_shingles(text_col, k)).alias("__s"),
    )
    if strategy == "count":
        sizes = sh.groupBy("__id").agg(F.count("*").alias("__n"))
        # ONE shuffle on the shingle builds the whole inverted index as
        # per-shingle sorted id arrays; pairs come from chained
        # posexplode+slice (two explodes — the janino-safe shape) with
        # map-side combine on (id_a, id_b).  The r9 form self-joined sh
        # against itself on __s — same Σ df² pair rows, but TWO join-leg
        # shuffles plus the sort-merge; the grouped form is ~25% faster
        # on the low-entropy benchmark corpus and halves shuffle bytes.
        # df=1 shingles contribute no pair: filtered before the explode
        # (sizes above counted FULL shingle sets, so |union| stays exact).
        grouped = (
            sh.groupBy("__s")
            .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
            .filter(F.size("__ids") >= 2)
        )
        if max_df is not None:
            hot = (
                grouped.select("__s", F.size("__ids").alias("__df"))
                .filter(F.col("__df") > max_df)
                .orderBy(F.desc("__df"), F.asc("__s"))
                .limit(5)
                .collect()
            )
            if hot:
                worst = ", ".join(
                    f"({r['__s']!r}: df={r['__df']})" for r in hot
                )
                raise ShingleSkewError(
                    f"ngram_jaccard_pairs: "
                    f"{'at least 5' if len(hot) == 5 else len(hot)} "
                    f"shingle(s) exceed max_df={max_df} — worst: {worst}.  "
                    f"A hot shingle contributes df² candidate pairs, so "
                    f"the exact pair generation degenerates toward "
                    f"all-pairs.  Fix the DATA (strip boilerplate / "
                    f"constant prefixes), raise k so the shingle splits, "
                    f"or generate candidates with minhash_near_dup_pairs "
                    f"and use this operator only to verify."
                )
        pairs_raw = grouped.select(
            F.posexplode("__ids").alias("__i", "id_a"), F.col("__ids")
        ).select(
            "id_a",
            F.explode(
                F.slice("__ids", F.col("__i") + 2, F.size("__ids"))
            ).alias("id_b"),
        )
        shared = pairs_raw.groupBy("id_a", "id_b").agg(
            F.count("*").alias("__shared")
        )
        sa = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
        sb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
        jac = F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared"))
        return (
            shared.join(sa, "id_a")
            .join(sb, "id_b")
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    if strategy != "prefix":
        raise ValueError(f"unknown strategy {strategy!r}: use 'count' or 'prefix'")
    freq = sh.groupBy("__s").agg(F.count("*").alias("__df"))
    w = W.partitionBy("__id").orderBy(F.asc("__df"), F.asc("__s"))
    ranked = (
        sh.join(freq, "__s")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(W.partitionBy("__id")))
    )
    prefix = ranked.filter(
        F.col("__rn") <= F.floor((1.0 - threshold) * F.col("__n")) + 1
    ).select("__id", "__s")
    a = prefix.alias("a")
    b = prefix.alias("b")
    candidates = (
        a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    shing = df.select(
        F.col(id_col).alias("__sid"), char_shingles(text_col, k).alias("__sh")
    )
    joined = candidates.join(
        shing.select(F.col("__sid").alias("id_a"), F.col("__sh").alias("__sha")), "id_a"
    ).join(
        shing.select(F.col("__sid").alias("id_b"), F.col("__sh").alias("__shb")), "id_b"
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    jac = inter.cast("double") / union
    return joined.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    num_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The LSH banding state: ``(__id, __band, __key)`` per document —
    one row per band, the key being that band's signature slice.

    This is both the internal first half of
    :func:`minhash_near_dup_pairs` and the PERSISTED state of
    incremental ingestion: write this table once for the standing
    corpus, then each new batch joins its own (tiny) band table against
    it (:func:`minhash_incremental_pairs`) without ever re-shingling
    the corpus."""
    rows = num_perm // bands
    perms = minhash_perms(num_perm, seed)
    # (1) signatures via explode → groupBy(min × num_perm).  The array
    # formulation (array_min(transform(...)) × 32) inlines the md5
    # hashing of every shingle into each of the 32 signature slots after
    # project-collapse — a 32× recompute and a codegen tree that chokes.
    # Exploded rows + flat min-aggregates get map-side combine instead;
    # shuffle volume is one row per (doc, shingle), keys never skew.
    # r12: the shingle hashes come from the explode-FIRST codegen path
    # (explode the position range, substring + md5 as plain
    # projections) instead of exploding the char_shingles HOF array —
    # transform lambdas evaluate interpreted.  Two deliberate choices:
    # no per-doc distinct (a min-aggregate is duplicate-blind, so the
    # array_distinct work was pure waste), and the doc rows stay
    # ROUND-ROBIN fanned out rather than hash-partitioned by id — the
    # signature groupBy's exchange (1 partial-min row per doc) is the
    # reuse point both legs of the downstream band self-join share; a
    # partition-local groupBy has no exchange to reuse and the whole
    # signature pipeline runs twice (measured: 71 s vs 62 s at 100×).
    from hive_scd_spark.operators.layout import fan_out

    df = fan_out(df)  # single-split inputs serialize the md5 explode
    txt = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("__id"),
        txt.alias("__t"),
        F.greatest(F.length(txt) - (k - 1), F.lit(1)).alias("__ng"),
    )
    hashed = base.select(
        "__id",
        F.explode(F.sequence(F.lit(1), F.col("__ng"))).alias("__i"),
        "__t",
    ).select(
        "__id",
        (
            F.conv(
                F.substring(
                    F.md5(F.substring(F.col("__t"), F.col("__i"), k)), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % F.lit(HASH_P)
        ).alias("__h"),
    )
    # The 32 min-aggregates and 8 band structs are built as single
    # F.expr strings, not nested Column objects: the Column form costs
    # ~10 py4j round-trips per node (~4000 per builder call, measured
    # 0.9 s of pure driver latency) while one expr string is ONE
    # round-trip.  Identical Catalyst expressions either way.
    sig = hashed.groupBy("__id").agg(
        *[
            F.expr(f"min(({a}L * __h + {b}L) % {HASH_P}L) AS __m{j}")
            for j, (a, b) in enumerate(perms)
        ]
    )
    # band rows carry ONLY (id, band, key) — shingle arrays never ride
    # through the bands explode
    band_structs = ", ".join(
        "struct({b} as band, concat_ws(',', {cols}) as key)".format(
            b=b,
            cols=", ".join(
                f"cast(__m{b * rows + i} as string)" for i in range(rows)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "__id", F.expr(f"explode(array({band_structs}))").alias("__b")
    ).select("__id", F.col("__b.band").alias("__band"), F.col("__b.key").alias("__key"))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.3,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified by exact Jaccard.

    shingle → 32-perm minhash signature (per-row array math, codegen)
    → 8 bands × 4 rows → shuffle on (band, band_key) → candidate pairs
    within buckets → exact-Jaccard verification of candidates only.
    With s = Jaccard, the banding hit probability is
    1-(1-s^4)^8 (≈0.97 at s=0.5), and verification removes false
    positives, so output = exact pairs above *threshold* that LSH
    recalled.  Scales as O(candidates), not O(n²)."""
    banded = minhash_band_table(df, id_col, text_col, k, num_perm, bands, seed)
    # (2) bucket-local candidate pairs (shuffle on (band, key) only)
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # lazy checkpoint: the verify step references candidates from BOTH
        # join sides, and ReuseExchange does not dedupe the two subplans
        # under AQE (verified: 0 ReusedExchange nodes, signature pipeline
        # ran twice, 15.4 s vs 9 s at 10×).  eager=False keeps the
        # materialization inside the first ACTION, so benchmark timings
        # still include it; block-level locking serves the second
        # consumer from cache.  Lineage truncation is a bonus (same
        # rationale as operators/cluster.py).
        .localCheckpoint(eager=False)
    )
    # (3) verify candidates only — LITERALLY only.  The obvious
    # formulation (join candidates to a corpus-wide shingle projection,
    # once per side) puts the shingle compute BELOW the join, so every
    # document in the corpus is shingled twice per verify even though
    # only candidate rows survive; at 100 TB that is two full corpus
    # CPU passes for a candidate set LSH already made tiny.  Instead:
    # explode each candidate pair into (pair, side-id) memberships,
    # join the corpus against that broadcast-small membership list, and
    # compute shingles ABOVE the join — CPU cost is O(memberships) =
    # 2×|candidates|, not O(corpus).  One corpus scan, one tiny
    # (pair-keyed, never skewed beyond pair multiplicity) shuffle to
    # reassemble the two shingle sets per pair.  No broadcast HINT on
    # the membership side: normally-duplicated corpora have a small
    # list (AQE converts to broadcast at runtime), but a pathological
    # one can have billions of candidates and a forced broadcast would
    # OOM the driver — same trade documented on dedup_corpus.
    # Reassembly is a pair-keyed JOIN of the two sides, not a
    # first()-over-arrays aggregate: aggregation over array payloads
    # drops out of hash-agg codegen into sort-based agg and re-serializes
    # every array through the sorter (measured 11 s vs 5.7 s for the
    # join at 10×).  The two membership joins are cheap (corpus ⋈ tiny
    # pair list); the one pair-keyed shuffle carries |candidates| rows
    # per side and is skew-bounded by pair multiplicity.
    return _verify_jaccard(df, candidates, id_col, text_col, k, threshold)


def _verify_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard scoring of a candidate (id_a, id_b) list against
    the text source *df* — shingle work is O(candidate DOCS), never
    O(corpus) and (r12) never O(pairs): the previous form computed
    char_shingles per (pair, side) row after the membership joins, so
    a document in p pairs was re-shingled p times through an
    interpreted HOF; now the distinct-shingle SET is built once per
    candidate document on the explode-first codegen path and the two
    sides join the per-doc arrays back by id (verify 41.6 s → 36.5 s
    on the 100× pool, byte-identical — the residual cost is the
    per-pair array_intersect, inherent to exact verification).  No
    broadcast hint on the candidate-ids side: normally-duplicated
    corpora have a small list (AQE converts at runtime), but a
    pathological one can have billions of candidates and a forced
    broadcast would OOM the driver — the dedup_corpus trade."""
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias("__cid")
    ).distinct()
    sc_ = df.sparkSession.sparkContext
    touched = df.join(cand_ids, df[id_col] == F.col("__cid")).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    )
    base = touched.repartition(sc_.defaultParallelism, F.col("__id")).select(
        "__id",
        "__t",
        F.greatest(F.length("__t") - (k - 1), F.lit(1)).alias("__ng"),
    )
    sh = base.select(
        "__id",
        F.explode(F.sequence(F.lit(1), F.col("__ng"))).alias("__i"),
        "__t",
    ).select("__id", F.substring(F.col("__t"), F.col("__i"), k).alias("__s"))
    arrs = sh.groupBy("__id").agg(F.collect_set("__s").alias("__arr"))
    pa = candidates.join(
        arrs.select(F.col("__id").alias("id_a"), F.col("__arr").alias("__sha")),
        "id_a",
    )
    pairs = pa.join(
        arrs.select(F.col("__id").alias("id_b"), F.col("__arr").alias("__shb")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    jac = inter.cast("double") / union
    return pairs.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_incremental_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    corpus_bands: DataFrame | None = None,
    new_bands: DataFrame | None = None,
    k: int = 8,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.3,
    seed: int = 42,
    broadcast_new: bool = True,
) -> DataFrame:
    """Incremental (daily-ingest) near-dup detection: every verified
    pair touching the NEW batch — new×corpus and new×new — without
    re-banding, re-shingling, or shuffling the standing corpus.

    The production loop this serves: maintain
    :func:`minhash_band_table` of the corpus as a persisted table;
    per ingest, pass it as *corpus_bands* (pass None to compute it
    from *corpus_df* for a one-off run), get the pairs, decide
    keep/drop, append the new batch's own band rows to the state.

    Scale contract mirrors decontamination: the new batch is bounded
    by ingest size, so its band table BROADCASTS
    (``broadcast_new=True`` default) and the corpus band table — the
    100 TB side — is probed in place, never shuffled.  Batches too big
    to broadcast pass ``broadcast_new=False`` for a plain shuffle join
    (AQE still demotes to broadcast when the batch turns out small).
    Verification fetches text only for candidate members via the same
    O(candidates) join-above-shingle shape as the full-corpus path;
    new×new pairs come from a self-join of the (tiny) new band table.
    Output: ``(id_a, id_b, jaccard)``, ids ordered id_a < id_b; ids
    must be unique ACROSS both inputs (they share one id space).

    *new_bands* / *corpus_bands*: pre-computed
    :func:`minhash_band_table` outputs for the respective side — pass
    them when the caller already has (or persists) the band table so
    the signature pipeline is not re-run (the streaming ingest sink
    computes the batch's bands ONCE for both pair detection and the
    state append)."""
    nb = (
        new_bands.select("__id", "__band", "__key")
        if new_bands is not None
        else minhash_band_table(new_df, id_col, text_col, k, num_perm, bands, seed)
    )
    if corpus_bands is None:
        cb = minhash_band_table(
            corpus_df, id_col, text_col, k, num_perm, bands, seed
        )
    else:
        # select BY NAME: a positional rebind would silently misbind a
        # column-reordered read (partitioned writes and pruned scans
        # reorder); a wrong/missing column must fail analysis instead
        cb = corpus_bands.select("__id", "__band", "__key")
    nbj = F.broadcast(nb) if broadcast_new else nb
    cross = (
        cb.alias("c")
        .join(
            nbj.alias("n"),
            (F.col("c.__band") == F.col("n.__band"))
            & (F.col("c.__key") == F.col("n.__key"))
            & (F.col("c.__id") != F.col("n.__id")),
        )
        .select(
            F.least(F.col("c.__id"), F.col("n.__id")).alias("id_a"),
            F.greatest(F.col("c.__id"), F.col("n.__id")).alias("id_b"),
        )
    )
    within = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )
    # a new id present in BOTH inputs would make a cross pair equal a
    # within pair — the union-level dropDuplicates also collapses that
    candidates = (
        cross.union(within)
        .dropDuplicates(["id_a", "id_b"])
        # same lazy-checkpoint rationale as the full-corpus path: the
        # verifier references candidates from both membership joins
        .localCheckpoint(eager=False)
    )
    texts = new_df.select(
        F.col(id_col), F.col(text_col)
    ).unionByName(corpus_df.select(F.col(id_col), F.col(text_col)))
    return _verify_jaccard(texts, candidates, id_col, text_col, k, threshold)


def auto_n_planes(n: int, target_bucket: int = 32) -> int:
    """Plane count that keeps the EXPECTED band-bucket population near
    *target_bucket* for an *n*-vector corpus: ``ceil(log2(n/target))``,
    clamped to ≥2.  A fixed plane count means bucket population ∝ n and
    candidate pairs ∝ n² (SCALE_NOTES r5) — the resolution must grow
    ~log₂(n)."""
    import math

    return max(2, math.ceil(math.log2(max(n, 2) / max(target_bucket, 1))))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    use_lsh: bool = False,
    n_planes: int | str = 6,
    n_bands: int = 1,
    dim: int | None = None,
    target_bucket: int = 32,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    ``use_lsh=False``: exact all-pairs (self-join on id ordering) —
    O(n²) dot products, the correctness baseline.  ``use_lsh=True``:
    random-hyperplane bucketing first, so only bucket-local pairs are
    scored — the 100 TB path.  A pair collides in one band with
    probability p^n_planes (p = 1-θ/π) and becomes a candidate if it
    collides in ANY of *n_bands* disjoint-plane bands:
    P = 1-(1-p^n_planes)^n_bands — bands buy recall, planes buy
    precision, exactly like the MinHash-LSH banding above.

    ``n_planes`` is a function of corpus size, not a universal
    constant: with P planes a band has 2^P buckets, so a FIXED P means
    bucket population ∝ N and candidate pairs ∝ N²/2^P — quadratic
    again (measured at 10×, SCALE_NOTES r5).  ``n_planes="auto"``
    computes ``ceil(log2(N / target_bucket))`` from a corpus count (one
    count action at plan-build time) so the EXPECTED bucket population
    stays ~*target_bucket* at any scale; raise *n_bands* alongside to
    hold recall (the standard (r, b) trade).

    The auto count is CHEAP ONLY FOR RAW SCANS: a count over an
    unmodified parquet scan folds to row-group metadata, but a
    filtered/joined *df* pays a full pass — executed once for the count
    and again inside the LSH job.  For non-scan inputs pass ``n_rows``
    (an exact count isn't needed — the plane count only shifts at
    powers of two of N/target, so any same-magnitude estimate yields
    the identical integer)."""
    from hive_scd_spark.functions import vector_norm
    from hive_scd_spark.operators.layout import fan_out

    if not (n_planes == "auto" or isinstance(n_planes, int)):
        raise ValueError(f"n_planes must be an int or 'auto', got {n_planes!r}")
    if use_lsh and n_planes == "auto":
        # resolved only on the LSH path (the brute-force branch never
        # reads n_planes), and on the RAW input BEFORE fan_out — a
        # count over the unmodified scan folds to parquet row-group
        # metadata, where counting the repartitioned frame would
        # execute the fan_out shuffle just to size the planes.  Callers
        # with a filtered/joined input pass n_rows to skip the pass.
        n_planes = auto_n_planes(n_rows if n_rows is not None else df.count(), target_bucket)
    df = fan_out(df)  # single-split inputs serialize the vector folds

    # norms hoisted to the per-row projection: pairwise work is ONE dot
    # fold instead of three (higher-order fns are interpreted, not
    # codegen'd — at n² pairs every fold counts).  FP-identical to
    # dot/(sqrt(sa)*sqrt(sb)) computed per pair.  With *dim* known the
    # norm/dot use the fixed-width codegen form (functions.dot_w, r16
    # — bit-identical, falls back to the HOF fold above the width cap).
    from hive_scd_spark.functions import vector_norm_w

    norm = (
        vector_norm_w(F.col(vec_col), dim)
        if dim is not None
        else vector_norm(F.col(vec_col))
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm.alias("__n"),
    )
    if use_lsh:
        from hive_scd_spark.operators.similarity import lsh_band_buckets

        # candidate generation carries only (id, band, bucket) — the
        # vectors join back by id at the scoring step
        bb = lsh_band_buckets(df, id_col, vec_col, n_planes, n_bands, dim)
        # lazy checkpoint (optimization r15): the self-join below
        # references the bucket table from BOTH sides, and the bucket
        # projection has no exchange of its own for ReuseExchange to
        # share — so the n_planes×n_bands interpreted hyperplane folds
        # (the expensive part: one fold over the full vector per plane
        # per row) ran twice.  eager=False keeps the materialization
        # inside the first action (the minhash-candidates rule); the
        # one HEADLINE caller (pipeline_semantic_dedup) is
        # builder-timed.
        bb = bb.localCheckpoint(eager=False)
        x = bb.alias("x")
        y = bb.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
            )
            .select(
                F.col(f"x.{id_col}").alias("__ida"),
                F.col(f"y.{id_col}").alias("__idb"),
            )
            .distinct()  # a pair colliding in several bands scores once
        )
        pairs = (
            cand.join(base.alias("a"), F.col("__ida") == F.col("a.__id"))
            .join(base.alias("b"), F.col("__idb") == F.col("b.__id"))
        )
    else:
        a = base.alias("a")
        b = base.alias("b")
        pairs = a.join(b, F.col("a.__id") < F.col("b.__id"))
    if dim is not None:
        from hive_scd_spark.functions import dot_w

        dot = dot_w(F.col("a.__v"), F.col("b.__v"), dim)
    else:
        dot = F.aggregate(
            F.zip_with(
                F.col("a.__v"), F.col("b.__v"), lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    # try_divide: zero-norm vectors have undefined cosine → NULL →
    # dropped by the threshold filter (ANSI mode would raise instead)
    cos = F.round(
        F.try_divide(dot, F.col("a.__n") * F.col("b.__n")), 6
    ).alias("cos")
    return (
        pairs.select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"), cos
        )
        .filter(F.col("cos") >= threshold)
    )


def _computed_new_buckets(
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_bands: int,
    dim: int | None,
) -> DataFrame:
    """The internally-computed new-batch bucket frame, lazily
    checkpointed: :func:`embedding_incremental_pairs` references it
    three times (the cross probe plus both sides of the within
    self-join), and without a cut the whole hyperplane pipeline would
    re-evaluate per reference (ADVICE r8 #3).  Caller-supplied
    ``new_buckets`` is their persisted state table — already
    materialized, not re-cut."""
    from hive_scd_spark.operators.similarity import lsh_band_buckets

    return (
        lsh_band_buckets(new_df, id_col, vec_col, n_planes, n_bands, dim)
        .withColumnRenamed(id_col, "__id")
        .localCheckpoint(eager=False)
    )


def embedding_incremental_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_buckets: DataFrame | None = None,
    new_buckets: DataFrame | None = None,
    threshold: float = 0.35,
    n_planes: int = 6,
    n_bands: int = 4,
    dim: int | None = None,
    broadcast_new: bool = True,
) -> DataFrame:
    """Incremental (daily-ingest) embedding near-dup detection: every
    verified pair touching the NEW batch — new×corpus and new×new —
    without re-bucketing or shuffling the standing corpus.  The
    embedding-family mirror of :func:`minhash_incremental_pairs`.

    The production loop: maintain
    :func:`~hive_scd_spark.operators.similarity.lsh_band_buckets` of
    the corpus as a persisted table; per ingest, pass it as
    *corpus_buckets* (None computes it from *corpus_df* for a one-off
    run), get the pairs, decide keep/drop, append the new batch's own
    bucket rows to the state.  No plane matrix needs persisting: the
    hyperplanes are md5-seeded pure expressions, so any session
    recomputes bit-identical buckets for the same (n_planes, n_bands,
    dim) — the state table is reusable across sessions by contract.

    Scale contract (the decontam/minhash shape): the new batch is
    bounded by ingest size, so its bucket table BROADCASTS
    (``broadcast_new=True`` default) and the corpus bucket table — the
    100 TB side — is probed in place, never shuffled.  Verification
    joins vectors by id for CANDIDATE members only (two id-equi
    probes, O(candidates) rows out); new×new pairs come from a
    self-join of the tiny new bucket table.  Output ``(id_a, id_b,
    cos)`` with id_a < id_b; ids must be unique across both inputs.
    """
    from hive_scd_spark.functions import vector_norm
    from hive_scd_spark.operators.similarity import lsh_band_buckets

    nb = (
        new_buckets.select(F.col(id_col).alias("__id"), "band", "bucket")
        if new_buckets is not None
        else _computed_new_buckets(
            new_df, id_col, vec_col, n_planes, n_bands, dim
        )
    )
    cb = (
        # select BY NAME (same rationale as minhash_incremental_pairs):
        # positional rebinds silently misbind column-reordered reads
        corpus_buckets.select(F.col(id_col).alias("__id"), "band", "bucket")
        if corpus_buckets is not None
        else lsh_band_buckets(corpus_df, id_col, vec_col, n_planes, n_bands, dim)
        .withColumnRenamed(id_col, "__id")
    )
    nbj = F.broadcast(nb) if broadcast_new else nb
    cross = (
        cb.alias("c")
        .join(
            nbj.alias("n"),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.bucket") == F.col("n.bucket"))
            & (F.col("c.__id") != F.col("n.__id")),
        )
        .select(
            F.least(F.col("c.__id"), F.col("n.__id")).alias("__ida"),
            F.greatest(F.col("c.__id"), F.col("n.__id")).alias("__idb"),
        )
    )
    within = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("__ida"), F.col("b.__id").alias("__idb"))
    )
    candidates = (
        cross.union(within)
        .dropDuplicates(["__ida", "__idb"])
        # same lazy-checkpoint rationale as the other pair generators:
        # the verify step references candidates once, but the bucket
        # pipeline would otherwise run once per union branch side
        .localCheckpoint(eager=False)
    )
    # vectors fetched by id for candidate members only — the union is
    # scanned per side, but each probe is an id-equi join that AQE
    # demotes to broadcast at candidate-list size
    source = new_df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        vector_norm(F.col(vec_col)).alias("__n"),
    ).unionByName(
        corpus_df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            vector_norm(F.col(vec_col)).alias("__n"),
        )
    )
    pairs = (
        candidates.join(
            source.alias("a"), F.col("__ida") == F.col("a.__id")
        ).join(source.alias("b"), F.col("__idb") == F.col("b.__id"))
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("a.__v"), F.col("b.__v"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = F.round(F.try_divide(dot, F.col("a.__n") * F.col("b.__n")), 6).alias("cos")
    return (
        pairs.select(F.col("__ida").alias("id_a"), F.col("__idb").alias("id_b"), cos)
        .filter(F.col("cos") >= threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """Per-document SimHash fingerprint over whitespace tokens.

    Token hash = top 15 hex chars of md5 (60 bits — stays in signed
    64-bit on every engine).  Bit b of the fingerprint is set when the
    majority of token hashes have bit b set.  Pure array math per row;
    near-dup detection then bands the fingerprint like MinHash."""
    from hive_scd_spark.operators.layout import fan_out

    df = fan_out(df)  # single-split inputs serialize the token explode
    # explode tokens → one groupBy with the bit votes PACKED two per
    # 64-bit aggregate (optimization r16, VERDICT r15 task 3, guide
    # §5): bit b rides the low 32-bit lane, bit b+1 the high lane —
    # ``sum((h>>b & 1) + ((h>>b+1 & 1) << 32))`` — halving the
    # per-row hash-aggregate update count from 60 to 30 columns of
    # state (the r15-profiled dominant cost of dedup_simhash_near).
    # Lane isolation / overflow bound: each token adds ≤ 1 to the low
    # lane, so with n_t tokens the low lane holds count_b ≤ n_t — no
    # carry into bit 32 while n_t < 2³¹ — and the packed sum stays
    # < 2⁶³ while n_t < 2³¹ − 1.  A 2³¹-token document is ≈ 10 GB
    # of text in ONE row — beyond Spark's own 2 GB string limit — so
    # the bound is structural, not a tuning.  The unpack
    # (low = p & 0xFFFFFFFF, high = p >> 32; arithmetic shift is safe
    # because the sign bit is clear under the same bound) is exact
    # integer arithmetic — fingerprints are bit-identical to the flat
    # formulation (pinned by the pack/unpack property test,
    # tests/test_optimization_r16.py).
    # (An array-expression formulation inlines the token hashing into
    # every bit position after project-collapse — 60× recompute.)
    th = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__t"),
    ).select(
        "__id",
        F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10).cast("long").alias("__h"),
    )
    packed = []
    for j in range(0, bits, 2):
        lane = F.shiftright("__h", j).bitwiseAND(F.lit(1))
        if j + 1 < bits:
            lane = lane + F.shiftleft(
                F.shiftright("__h", j + 1).bitwiseAND(F.lit(1)), 32
            )
        packed.append(F.sum(lane).alias(f"__p{j}"))
    votes = th.groupBy("__id").agg(F.count("*").alias("__nt"), *packed)

    def vote(b):
        p = F.col(f"__p{(b // 2) * 2}")
        if b % 2 == 0:
            return p.bitwiseAND(F.lit(4294967295))
        return F.shiftright(p, 32)

    fingerprint = None
    for b in range(bits):
        bit = F.when(
            vote(b) * 2 > F.col("__nt"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select(F.col("__id").alias(id_col), fingerprint.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded Hamming-ball search —
    the scale path that makes :func:`simhash` a dedup operator rather
    than just a fingerprint.

    Pigeonhole guarantee: split the *bits*-bit fingerprint into
    *bands* contiguous slices; any pair within Hamming distance
    ``max_hamming < bands`` has at least one band with ZERO differing
    bits, i.e. an identical band value — so an equi-join on
    ``(band_idx, band_val)`` finds every qualifying pair (100 %
    recall), and only bucket-local pairs are ever scored.  The same
    banding trick as MinHash LSH, but the guarantee is exact, not
    probabilistic.

    Plan shape: fingerprints (one explode + one groupBy shuffle, see
    :func:`simhash`) → posexplode into ``bands`` rows/doc → ONE
    shuffle on the band key for both the hot-bucket census (window
    count) and the self-join (same partitioning, exchange reused) →
    per-pair verify as pure bit math ``bit_count(a XOR b)`` — no
    second lookup join, both fingerprints ride through the band join.
    Candidate volume is O(sum over buckets of bucket²) bounded by
    *max_bucket*, never O(n²) in the corpus.

    ``max_bucket`` drops band buckets with more members than that —
    the same semantic stance as ``substring_dup_pairs.max_df``: a
    band value shared by hundreds of documents is a degenerate slice
    (near-empty docs all fingerprint to ~0), and it is also what
    bounds the join fan-out structurally.  Dropping a bucket can only
    lose pairs whose EVERY identical band is hot, which at that
    density are boilerplate-class, not duplicates.

    Output ``(id_a, id_b, hamming)`` with ``id_a < id_b`` and
    ``hamming <= max_hamming``; a pair colliding in several bands
    appears once.  Reference scope: dedup extensions are beyond the
    reference core (SURVEY §7.6); banding per Charikar 2002 / the
    LSH chapter of Mining of Massive Datasets.
    """
    fp = simhash(df, id_col, text_col, bits=bits)
    return banded_hamming_pairs(
        fp, id_col, "simhash",
        bits=bits, bands=bands, max_hamming=max_hamming, max_bucket=max_bucket,
    )


def banded_hamming_pairs(
    fp: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Banded Hamming-ball candidate join over ANY long-typed
    fingerprint column — the machinery behind
    :func:`simhash_near_dups`, factored out (r14) so other fingerprint
    families (perceptual image hashes,
    ``multimodal.multimodal_dedup_near``) reuse it unchanged.

    Pigeonhole guarantee, hot-bucket census, plan shape, and the
    ``max_bucket`` stance are documented at :func:`simhash_near_dups`;
    everything there applies verbatim here.  Output
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``."""
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(pigeonhole recall guarantee); got bands={bands}"
        )
    width = bits // bands
    mask = (1 << width) - 1
    banded = fp.select(
        F.col(id_col).alias("__id"),
        F.col(fp_col).alias("__fp"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(fp_col, i * width)
                    .bitwiseAND(F.lit(mask))
                    .cast("long")
                    for i in range(bands)
                ]
            )
        ).alias("__band", "__val"),
    )
    bucket_n = F.count("*").over(W.partitionBy("__band", "__val"))
    # lazy checkpoint: the self-join references the band table from
    # BOTH sides and ReuseExchange does not dedupe the two subplans
    # under AQE (same pathology as minhash_near_dup_pairs; verified
    # here too — the static plan shows the explode + 30-packed-aggregate
    # fingerprint pipeline twice).  eager=False keeps materialization
    # inside the first action (bench.py times builder plus action);
    # the second join side reads cached blocks.
    banded = (
        banded.withColumn("__n", bucket_n)
        .filter(F.col("__n") <= max_bucket)
        .drop("__n")
        .localCheckpoint(eager=False)
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(
        F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__val") == F.col("b.__val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def substring_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    max_df: int = 50,
) -> DataFrame:
    """Exact-substring duplicate pairs: documents sharing at least one
    verbatim *n*-word window (the distributed approximation of
    suffix-array substring dedup — Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", which flags 50-token
    exact matches; a true distributed suffix array is not expressible
    without superlinear shuffles, but a hashed fixed-length window
    catches every match of length >= n by construction: any such match
    contains an aligned n-window).

    Output ``(id_a, id_b, n_shared)``: for every n-gram bucket the
    MINIMUM doc id is the representative and each other member pairs
    with it — star edges, linear in bucket size, cluster-equivalent to
    the full pairwise set (feed them to ``cluster.dup_clusters`` for
    components).  ``n_shared`` counts the distinct shared windows
    behind each edge.

    ``max_df`` drops n-grams present in MORE than that many documents
    before pair generation.  This is a semantic choice, not a silent
    cap: a window shared by hundreds of documents is boilerplate (a
    license header, a nav bar), and boilerplate-linked documents are
    not duplicates of each other — ``text.remove_boilerplate_lines``
    is the operator for that content.  It is also what bounds the
    plan: edges per gram <= max_df - 1, so the output is linear in the
    gram count, never quadratic in a hot bucket.

    Plan shape: ONE corpus-sized shuffle.  Doc frequency and the
    bucket representative are unbounded-frame window aggregates over
    ``partitionBy(gram)`` — NOT an aggregate-then-rejoin: the rejoin
    form plans the per-gram stats table as a broadcast at small scale,
    and that table has one row per DISTINCT GRAM, i.e. it is
    corpus-sized — a driver OOM wearing a small-input disguise (caught
    in this operator's own plan review; asserted join-free in
    tests/test_plans.py).  The window needs no ordering, so there is
    no sort — each bucket computes count+min in one pass.  A
    boilerplate gram concentrates its rows in one task, but the work
    per row is O(1) and the rows are (hash, id) pairs, so even a
    gram in a million documents is a ~16 MB task, then dropped by the
    max_df filter.  Hashes are the same public 60-bit md5 construction
    as decontamination, replayed exactly by the DuckDB oracle."""
    from hive_scd_spark.operators.decontam import _doc_ngram_hashes

    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if max_df < 2:
        raise ValueError(f"max_df must be >= 2, got {max_df}")
    grams = _doc_ngram_hashes(df, id_col, text_col, n, "__id")
    bucket = W.partitionBy("__h")
    return (
        grams.select(
            "__id",
            F.count("*").over(bucket).alias("__c"),
            F.min("__id").over(bucket).alias("__rep"),
        )
        .filter(
            (F.col("__c") >= 2)
            & (F.col("__c") <= max_df)
            & (F.col("__id") != F.col("__rep"))
        )
        .groupBy(F.col("__rep").alias("id_a"), F.col("__id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """CROSS-document exact paragraph dedup — the CCNet first pass
    (arXiv:1911.00359 §3.1 dedups the crawl at paragraph granularity
    before anything else; Lee et al. arXiv:2107.06499 measure why):
    a paragraph appearing in many documents (syndicated promo blocks,
    license boilerplate, quoted headers) keeps its GLOBALLY FIRST
    occurrence — smallest ``(id, paragraph_index)`` lexicographically —
    and every other occurrence corpus-wide is removed from its
    document.

    Duplicate detection is on the normalized paragraph (lower+trim,
    the remove_boilerplate_lines convention) via an md5 digest key;
    kept paragraphs are verbatim and keep their original order.
    Whitespace-only paragraphs are never deduped (blank separators
    survive) and are counted in NEITHER counter (ADVICE r10: blanks
    are separators, not content — counting them broke the invariant
    below for all-blank documents); every input document survives —
    a fully-deduped document comes back with ``n_paras_kept = 0``
    (its text retains only blank separators, if any).
    Output: (id, text, n_paras_kept, n_paras_removed [, *keep_cols]) —
    kept + removed = the document's NON-BLANK paragraph count;
    *keep_cols* (r11, re-routed r16) ride the paragraph explode and the
    reassembly groupBy, so document metadata survives the dedup stage
    without a separate upstream pass.

    Scale: paragraph explode is shuffle-free; the winner table is ONE
    md5-digest shuffle with a map-side-combined ``min(struct(id,
    idx))`` (a paragraph shared by a million documents still reduces
    to one row — no skew, same argument as exact_dedup); the graft
    back is an equi-join on the digest (hot keys fan out only to their
    own occurrence count, row-local test); reassembly is one shuffle
    by document id.  Nothing quadratic, nothing driver-side.
    """
    import re as _re

    reserved = {id_col, text_col, "n_paras_kept", "n_paras_removed"}
    bad = [c for c in keep_cols if c in reserved]
    if bad:
        raise ValueError(
            f"dedup_paragraphs: keep_cols {bad} collide with output columns"
        )
    paras = F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
    # ONE upstream reference for counting + reassembly (optimization
    # r16, VERDICT r15 task 4): the pre-r16 shape derived a separate
    # `base` frame (per-doc non-blank paragraph count + keep_cols)
    # straight from *df* and joined it back at the end — a THIRD full
    # execution of the upstream pipeline (for pipeline_crawl_to_corpus_v2
    # that upstream is the whole WARC scan → C4 chain), and the extra
    # sequential join barrier was the prime suspect in that gate's
    # NEGATIVE core scaling (8c/32c ratio 0.63).  The count and the
    # metadata now ride the explode (keep_cols replicate per paragraph
    # — a few short columns — far cheaper than re-deriving the corpus)
    # and the keep-filter moved INSIDE the reassembly aggregate as a
    # `when`, so the per-doc total counts ALL non-blank rows while
    # text/kept aggregate only the winners.  Every document still
    # survives: split("") yields [""], so each doc has ≥ 1 (blank) row.
    work = df.select(
        F.col(id_col).alias("__pid"),
        *[F.col(c) for c in keep_cols],
        F.posexplode(paras).alias("__idx", "__para"),
    ).withColumn("__blank", F.trim(F.col("__para")) == "")
    keyed = work.withColumn("__key", F.md5(F.lower(F.trim(F.col("__para")))))
    winners = (
        keyed.filter(~F.col("__blank"))
        .groupBy("__key")
        .agg(F.min(F.struct(F.col("__pid"), F.col("__idx"))).alias("__w"))
    )
    keep = F.col("__blank") | (
        (F.col("__pid") == F.col("__w.__pid"))
        & (F.col("__idx") == F.col("__w.__idx"))
    )
    kept = (
        keyed.join(winners, "__key", "left")
        .groupBy("__pid", *[F.col(c) for c in keep_cols])
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("__idx"), F.col("__para")))
                        )
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias("__text"),
            F.count(F.when(keep & ~F.col("__blank"), F.lit(1))).alias("__n_kept"),
            F.count(F.when(~F.col("__blank"), F.lit(1))).alias("__n_paras"),
        )
    )
    return kept.select(
        F.col("__pid").alias(id_col),
        F.col("__text").alias(text_col),
        F.col("__n_kept").cast("long").alias("n_paras_kept"),
        (F.col("__n_paras") - F.col("__n_kept")).cast("long").alias("n_paras_removed"),
        *[F.col(c) for c in keep_cols],
    )


def _winnow_selected(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
) -> DataFrame:
    """Distinct selected winnowing fingerprints, one row per
    (id, fingerprint).  Positional k-gram hashes explode to rows and
    each window minimum comes from an analytic ``min`` over a
    w-row-forward frame partitioned by document — windows starting
    past ``len - w`` are dropped (except the single whole-array window
    of short documents), exactly the clamped-slice semantics.

    This ROW formulation is deliberate: computing the selection as a
    nested array expression (transform → array_min(slice)) and then
    exploding it re-evaluates the interpreted higher-order expression
    on the Generate path — measured 182 s vs 2.4 s at sf0.001 for the
    same output.

    Two r12 refinements, both measured on the 100× replicated sf0.1
    pool (identical output pinned at sf0.001):

    - **Hash in codegen, not in a lambda.**  The previous form built
      the hash array with ``F.transform`` — Spark evaluates HOF
      lambdas INTERPRETED, so every gram paid a boxed md5 call (24 s
      of the 30 s selection).  Exploding the POSITION range first and
      computing the md5 as a plain projection keeps the per-gram hash
      inside whole-stage codegen: selection 30 s → 21 s.
    - **Pre-explode repartition(id).**  Generate preserves its child's
      partitioning, so hash-partitioning the DOC rows up front
      satisfies the window's clustered-distribution requirement and
      Spark plans only a partition-local sort — no exchange of the
      exploded gram rows (~one per character of the corpus).

    The gram count rides the explode as ``__ng`` (it is known BEFORE
    exploding), so the clamped-window filter needs no second
    count-over-document window pass.
    """
    sc = df.sparkSession.sparkContext
    df = df.repartition(sc.defaultParallelism, F.col(id_col))
    txt = F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
    n_grams = F.greatest(F.length(txt) - (k - 1), F.lit(1))
    base = df.select(F.col(id_col), txt.alias("__t"), n_grams.alias("__ng"))
    e = base.select(
        F.col(id_col),
        "__ng",
        F.explode(F.sequence(F.lit(1), F.col("__ng"))).alias("__i"),
        F.col("__t"),
    ).select(
        F.col(id_col),
        "__ng",
        (F.col("__i") - 1).alias("__pos"),
        (
            F.conv(
                F.substring(F.md5(F.substring(F.col("__t"), F.col("__i"), k)), 1, 8),
                16,
                10,
            ).cast("long")
            % F.lit(HASH_P)
        ).alias("__h"),
    )
    win = W.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    m = e.select(
        F.col(id_col),
        "__pos",
        "__ng",
        F.min("__h").over(win).alias("__wmin"),
    ).filter(F.col("__pos") <= F.greatest(F.col("__ng") - w, F.lit(0)))
    return m.select(id_col, F.col("__wmin").alias("fingerprint")).distinct()


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every positional k-gram of
    the normalized text, slide a window of *w* consecutive hashes, and
    select each window's MINIMUM.  The guarantee: any shared substring
    of length ≥ k + w - 1 between two documents yields at least one
    shared fingerprint, while the selected set is ~2/(w+1) of the
    grams — a tunable recall/density dial that MinHash (whole-document
    similarity) does not offer for SUBSTRING-level overlap.

    The fingerprint set keeps distinct selected hash VALUES (sorted):
    tie-breaking between equal minima affects selected POSITIONS only,
    never values, so the set is deterministic and the DuckDB oracle
    replays it with plain list ops — no positional tie rule to port.
    Hashes are the package's engine-exact md5 scheme (minhash_signature
    convention).  Output: (id, fingerprints array<long>,
    n_fingerprints).

    Scale: one (id)-partitioned window pass over the exploded gram
    hashes plus one group-by to reassemble — see _winnow_selected for
    why the selection is row-formulated rather than a nested array
    expression.
    """
    sel = _winnow_selected(df, id_col, text_col, k, w)
    return (
        sel.groupBy(id_col)
        .agg(F.array_sort(F.collect_set("fingerprint")).alias("fingerprints"))
        .select(
            id_col,
            "fingerprints",
            F.size("fingerprints").cast("long").alias("n_fingerprints"),
        )
    )


def winnow_selected(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    w: int = 8,
) -> DataFrame:
    """Public selected-fingerprint ROWS — (id, fingerprint), distinct —
    the shared upstream of both :func:`winnow_fingerprints` (per-doc
    sets) and :func:`winnow_pairs_from_selected` (candidate pairs).
    Exposed so a session can materialize the selection ONCE and fan it
    out to several consumers (the shared_minhash_pairs idiom): the
    window pass over exploded gram hashes is the expensive part, and
    pair generation at different df caps / thresholds reuses it
    unchanged.  (No fan_out needed: _winnow_selected hash-partitions
    the doc rows itself — the load-bearing pre-explode exchange.)"""
    return _winnow_selected(df, id_col, text_col, k, w)


def winnow_pairs_from_selected(
    sel: DataFrame,
    id_col: str,
    max_df: int = 50,
    min_shared: int = 1,
    fingerprint_col: str = "fingerprint",
    pair_budget: int | None = None,
) -> DataFrame:
    """Candidate pairs from a pre-computed selected-fingerprint row set
    (see :func:`winnow_selected`) — the grouped inverted-index idiom:
    ONE shuffle on the fingerprint, per-value sorted id arrays bounded
    by *max_df* (the MOSS noise threshold: a fingerprint in > max_df
    documents is boilerplate, contributes df² candidate rows, and
    carries no dedup signal), chained posexplode+slice, map-side
    pair count.  Output: (id_a, id_b, n_shared).

    *pair_budget* opts into the Σ df·(df−1)/2 census (VERDICT r13
    task 2 — the :class:`ShingleSkewError` idiom): if the TOTAL
    candidate-pair volume the kept fingerprints would generate exceeds
    the budget, raise loudly naming the densest fingerprints instead
    of running superlinearly.  max_df bounds each fingerprint's
    contribution at max_df²/2, but a boilerplate-dense corpus can
    still push the SUM superlinear (the uncapped 100× contrast row
    measured a 33.8× segment); the budget makes that a data error,
    not a silent slowdown.  Opt-in because the census is one extra
    metadata-sized aggregate (the engine gates stay action-free by
    default).  With the budget set, the grouped inverted index is
    lazily ``localCheckpoint``-ed BEFORE the census action (the
    report_source_overlap pattern, ADVICE r14): the census materializes
    it once and the returned pair plan reads the checkpoint blocks, so
    the upstream gram/fingerprint pipeline runs ONCE, not twice."""
    e = sel.select(
        F.col(id_col).alias("__id"), F.col(fingerprint_col).alias("__f")
    )
    grouped = (
        e.groupBy("__f")
        .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_df))
    )
    if pair_budget is not None:
        grouped = grouped.localCheckpoint(eager=False)
        sz = F.size("__ids").cast("long")
        census = grouped.select(
            (sz * (sz - 1) / 2).cast("long").alias("__pairs"), "__f", sz.alias("__df")
        )
        tot_row = census.agg(F.sum("__pairs").alias("t")).first()
        total = tot_row["t"] or 0
        if total > pair_budget:
            worst = (
                census.orderBy(F.desc("__df"), F.asc("__f")).limit(5).collect()
            )
            names = ", ".join(f"(fp={r['__f']}: df={r['__df']})" for r in worst)
            raise ShingleSkewError(
                f"winnow_pairs_from_selected: the kept fingerprints would "
                f"generate {total} candidate pairs, over the pair_budget "
                f"of {pair_budget} — densest: {names}.  The corpus is "
                f"boilerplate-dense at this (k, w, max_df); lower max_df "
                f"(the df-capped production default), strip the shared "
                f"boilerplate, or raise the budget deliberately."
            )
    pairs_raw = grouped.select(
        F.posexplode("__ids").alias("__i", "id_a"), F.col("__ids")
    ).select(
        "id_a",
        F.explode(F.slice("__ids", F.col("__i") + 2, F.size("__ids"))).alias(
            "id_b"
        ),
    )
    return (
        pairs_raw.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    w: int = 8,
    max_df: int = 50,
    min_shared: int = 1,
    pair_budget: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs by shared winnowing fingerprints:
    documents sharing ≥ *min_shared* selected fingerprints, counted.
    Fingerprints with document frequency > *max_df* are excluded — the
    substring_dup_pairs convention: a fingerprint in hundreds of
    documents is boilerplate, contributes df² candidate rows, and
    carries no dedup signal.  Output: (id_a, id_b, n_shared).

    Scale: fingerprint selection is one (id)-partitioned window pass
    (see _winnow_selected); pair generation is the grouped
    inverted-index idiom — ONE shuffle on the fingerprint, per-value
    sorted id arrays bounded by max_df, chained posexplode+slice, and
    a map-side-combined pair count.  Σ df² is capped at max_df² per
    fingerprint by construction.
    """
    return winnow_pairs_from_selected(
        winnow_selected(df, id_col, text_col, k, w),
        id_col,
        max_df=max_df,
        min_shared=min_shared,
        pair_budget=pair_budget,
    )
