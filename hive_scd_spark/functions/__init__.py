"""Shared column-expression helpers — all JVM-side built-ins (no Python
UDFs), so every operator built on them stays inside whole-stage codegen.

Hash conventions are chosen to be *cross-engine deterministic* (same
values in Spark and any ANSI engine with md5): ``hash32`` is the first
8 hex chars of md5 as an integer.  This is what makes the dedup /
fingerprint operators oracle-checkable in DuckDB.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: keeps (a*h+b) % P inside signed 64-bit range
HASH_P = 2_147_483_647


def norm_text(col) -> Column:
    """Normalization for exact dedup: lowercase, collapse whitespace."""
    col = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def ws_tokens(col) -> Column:
    """Lowercased whitespace tokens — THE shared tokenizer
    (text analysis, quality filters, BM25, unigram LM all key on it).
    Splits on \\s, which Java extends to \\x0B and RE2 does not, so the
    oracle contract assumes \\x0B-free text (``clean_text``'s explicit
    whitespace class is the sanctioned pre-step where that matters).
    Empty input yields [''] (split semantics) and NULL yields NULL —
    callers that must keep empty/NULL docs guard at the row level
    (see quality.repetition_stats / similarity.hash_embed)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(col)), r"\s+")


def hash32(col) -> Column:
    """First 8 hex chars of md5 → bigint in [0, 2^32).  Deterministic
    across engines (DuckDB: ``('0x' || substr(md5(x),1,8))::BIGINT``)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def char_shingles(col, k: int = 8) -> Column:
    """Distinct character k-shingles as an array column.  Positions are
    1-based; docs shorter than k yield their whole text as one shingle
    (formula mirrored exactly in the DuckDB oracles)."""
    col = F.col(col) if isinstance(col, str) else col
    positions = F.sequence(F.lit(1), F.greatest(F.length(col) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(positions, lambda i: F.substring(col, i, k))
    )


def minhash_perms(num_perm: int = 32, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation constants via a fixed LCG —
    shared verbatim with the DuckDB oracle SQL."""
    out = []
    state = seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (HASH_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % HASH_P
        out.append((a, b))
    return out


def minhash_signature(shingles: Column, perms: list[tuple[int, int]]) -> Column:
    """Array of minhash values, one per permutation: min over shingles of
    ``(a * (hash32(s) % P) + b) % P``.  Pure array transforms — no
    explode, no shuffle; the signature is computed in a single pass per
    row inside codegen."""
    hashed = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        % F.lit(HASH_P),
    )
    return F.array(
        *[
            F.array_min(
                F.transform(hashed, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_P))
            )
            for a, b in perms
        ]
    )


def vector_norm(a: Column) -> Column:
    """L2 norm of a float-array column, double precision, sequential
    fold order (matches ``SQRT(list_sum(list_transform(...)))``)."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# Expansion-width cap for dot_w / vector_norm_w.  A w-term expansion
# generates ~w GetArrayItem+cast+fma blocks of Java per expression;
# past a few dozen terms the generated method outgrows the JIT's
# HugeMethodLimit and executes as interpreted BYTECODE — slower than
# Spark's interpreted HOF fold it replaces (measured r16 at sf0.1:
# threading w=64 into the IVF assignment/rerank dots took
# ann_ivf_pq_topk from 5.8 s to 9.4 s; w=16 expansions are the win).
# Above the cap both helpers fall back to the HOF fold — the same
# expression the un-widened callers always used, so results are
# identical on every path.
MAX_CODEGEN_DOT_WIDTH = 16


def dot_w(a: Column, b: Column, w: int) -> Column:
    """Sequential-order dot product of two FIXED-width (*w*) array
    columns in double precision (optimization r16, guide §4.1: prefer
    codegen built-ins over interpreted paths).

    Bit-identical to ``aggregate(zip_with(a, b, x·y), 0.0, acc+v)`` —
    the expansion ``((0.0 + a₁·b₁) + a₂·b₂) + …`` is the SAME IEEE
    double operation sequence the fold executes, and a NULL array
    propagates the same way (``get`` → NULL element → NULL product →
    NULL sum).  The difference is purely mechanical: higher-order
    functions are CodegenFallback in Spark (interpreted per row, one
    boxed lambda variable per element), while ``get``/multiply/add
    compile into whole-stage codegen.  Measured on the PQ encode pair
    loop (corpus × n_sub × n_codes rows of width-16 dots) this is the
    dominant-cost swap of the r16 ANN work.  Widths above
    :data:`MAX_CODEGEN_DOT_WIDTH` use the HOF fold (see the cap note).

    Both arrays must be width *w* (fixed embedding dim, fixed subvector
    slice — *w* is a pure function of operator parameters, never of
    data); a non-NULL array of any other width fails the query, on both
    paths, instead of truncating or returning NULL."""
    start = _width_guard(w, "dot_w", a, b)
    if w > MAX_CODEGEN_DOT_WIDTH:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            start,
            lambda acc, v: acc + v,
        )
    acc = start
    for i in range(w):
        acc = acc + F.get(a, i).cast("double") * F.get(b, i).cast("double")
    return acc


def vector_norm_w(a: Column, w: int) -> Column:
    """Fixed-width (*w*) twin of :func:`vector_norm` — identical IEEE
    sequence (``sqrt(((0.0 + a₁²) + a₂²) + …)``), whole-stage-codegen
    instead of the interpreted transform+aggregate fold.  See
    :func:`dot_w` for the width contract and the expansion-width cap."""
    start = _width_guard(w, "vector_norm_w", a)
    if w > MAX_CODEGEN_DOT_WIDTH:
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                start,
                lambda acc, v: acc + v,
            )
        )
    acc = start
    for i in range(w):
        x = F.get(a, i).cast("double")
        acc = acc + x * x
    return F.sqrt(acc)


def _width_guard(w: int, fn: str, *arrays: Column) -> Column:
    """The 0.0 both sums start from — or a query error when a non-NULL
    array is not width *w*.  As the start value (not a CASE around the
    whole sum) the guard keeps the sum's IEEE sequence and a small
    generated method: wrapping the width-16 expansion in a CASE
    measured 1.9x slower on ann_pq_adc_topk at sf0.1."""
    bad = [x.isNotNull() & (F.size(x) != F.lit(w)) for x in arrays]
    return F.when(
        functools.reduce(operator.or_, bad),
        F.raise_error(F.lit(f"{fn}: an array's width is not dim={w}")),
    ).otherwise(F.lit(0.0))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two float-array columns, computed in double with
    sequential left-fold order (stable across engines for hashing)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return F.try_divide(dot, na * nb)  # zero-norm → NULL, not ANSI error
