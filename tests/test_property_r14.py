"""Property tests for the round-14 operators: envelope-hash
invariances over arbitrary payloads, and scd2_history ≡
apply_statements at every boundary for randomized scripts, whether
each boundary continues the previous state or restores and replays."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hive_scd_spark.operators.multimodal import stub_audio_hash, stub_dhash

payloads = st.binary(min_size=1, max_size=400)


@given(payloads, st.integers(min_value=2, max_value=6))
@settings(max_examples=150, deadline=None)
def test_dhash_invariant_under_any_uniform_upsample(payload, k):
    dup = bytes(c for c in payload for _ in range(k))
    assert stub_dhash(dup) == stub_dhash(payload)


@given(payloads, st.integers(min_value=2, max_value=5))
@settings(max_examples=150, deadline=None)
def test_audio_hash_invariant_under_sample_duplication(payload, k):
    import numpy as np

    even = payload[: 2 * (len(payload) // 2)]
    s = np.frombuffer(even, dtype="<i2")
    dup = np.repeat(s, k).astype("<i2").tobytes()
    assert stub_audio_hash(dup) == stub_audio_hash(payload)


@given(st.binary(min_size=2, max_size=400), st.integers(min_value=1, max_value=4))
@settings(max_examples=150, deadline=None)
def test_audio_hash_invariant_under_volume(payload, k):
    import numpy as np

    even = payload[: 2 * (len(payload) // 2)]
    s = np.frombuffer(even, dtype="<i2").astype(np.int64)
    # scale without clipping: work from a clamped base on both sides
    base = np.clip(s, -4000, 4000)
    h1 = stub_audio_hash(base.astype("<i2").tobytes())
    h2 = stub_audio_hash((base * k).astype("<i2").tobytes())
    assert h1 == h2


# --- scd2_history property -----------------------------------------

_COLS = ["a", "b"]


@st.composite
def scripts(draw):
    """Small random scripts mixing chained/unchained updates + deletes
    with arbitrary (possibly out-of-order, possibly duplicate)
    effective times — boundaries that continue the chain and boundaries
    that restore the source columns and replay."""
    n = draw(st.integers(min_value=1, max_value=4))
    stmts = []
    for _ in range(n):
        t_ms = draw(st.integers(min_value=1, max_value=4)) * 1000
        kind = draw(st.sampled_from(["upd_const", "upd_chain", "delete"]))
        col = draw(st.sampled_from(_COLS))
        src = draw(st.sampled_from(_COLS))
        k = draw(st.integers(min_value=1, max_value=3))
        where_id = draw(st.integers(min_value=1, max_value=3))
        if kind == "upd_const":
            body = f"UPDATE t SET {col} = {k * 10} WHERE id = {where_id};"
        elif kind == "upd_chain":
            body = f"UPDATE t SET {col} = {src} + {k} WHERE id = {where_id};"
        else:
            body = f"DELETE FROM t WHERE {col} > {k * 20};"
        stmts.append(f"-- time={t_ms}\n{body}")
    return "\n".join(stmts)


@given(scripts())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_history_matches_apply_statements_everywhere(spark, script):
    from pyspark.sql import functions as F

    from hive_scd_spark.scd import apply_statements, scd2_history

    dim = spark.createDataFrame(
        [(1, 5.0, 100.0), (2, 30.0, -10.0), (3, 70.0, 50.0)],
        "id int, a double, b double",
    )
    hist = scd2_history(dim, script).collect()
    for t_ms in [0, 999, 1000, 2000, 3000, 4000, 99999]:
        from_hist = sorted(
            (r.id, r.a, r.b)
            for r in hist
            if r.valid_from_ms <= t_ms
            and (r.valid_to_ms is None or r.valid_to_ms > t_ms)
        )
        from_apply = sorted(
            (r.id, r.a, r.b)
            for r in apply_statements(dim, script, as_of=t_ms).collect()
        )
        assert from_hist == from_apply, f"divergence at t={t_ms}: {script!r}"
