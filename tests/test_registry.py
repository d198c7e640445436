"""Registry invariants — the driver-contract properties that every
rotation edit must preserve (each r6 rotation was hand-checked with an
inline script; this pins them in the suite)."""

from __future__ import annotations

import os

import __spark_entry__ as entry
from hive_scd_spark.queries import ORACLES, QUERIES


def test_every_query_has_an_oracle():
    """Every gate carries a DuckDB oracle except the explicitly
    justified rows-only set (file-layout evidence — no SQL replay)."""
    from hive_scd_spark.queries import ROWS_ONLY_GATES

    missing = [q for q in QUERIES if q not in ORACLES]
    assert sorted(missing) == sorted(ROWS_ONLY_GATES), (
        f"gates without DuckDB oracles beyond the justified rows-only "
        f"set: {sorted(set(missing) ^ set(ROWS_ONLY_GATES))}"
    )


def test_registry_names_unique_and_window_full():
    names = list(QUERIES)
    assert len(set(names)) == len(names)
    # the driver checks the FIRST 50 — the window must stay full
    assert len(names) >= 50


def test_entry_module_mirrors_registry():
    assert list(entry.queries()) == list(QUERIES)
    from hive_scd_spark.queries import ROWS_ONLY_GATES

    assert set(entry.oracle_sql()) >= set(QUERIES) - ROWS_ONLY_GATES


def test_window_keeps_reference_core_first():
    """The ten SCD gates (the reference's own surface) must stay inside
    the driver window — extensions rotate, the core does not."""
    window = list(QUERIES)[:50]
    scd = [n for n in window if n.startswith("scd")]
    assert len(scd) >= 10


def test_oracle_sql_is_nonempty_text():
    for name, sql in ORACLES.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_bench_headline_is_registered():
    import bench

    unknown = [n for n in bench.HEADLINE if n not in QUERIES]
    assert unknown == [], f"bench names not in the registry: {unknown}"


def test_bench_extra_reps_rule_reproduces_committed_set():
    """The 4-rep rule computed from BENCH_r15/PERF_r15 (noise bound
    1.323) is exactly the set the r16 bench ran by hand; the current
    set and the rep-count delta come from the same rule."""
    import bench

    assert bench.extra_reps(15) == {
        "ann_ivf_pq_incremental", "ann_ivf_pq_topk", "ann_pq_incremental",
        "ann_pq_adc_topk", "pipeline_semantic_dedup",
        "pipeline_crawl_to_corpus_v2", "select_dsir_weights",
        "text_kn_trigram_logprob", "pipeline_scrub_classify_report",
        "dedup_minhash_lsh", "text_bigram_logprob", "text_unigram_logprob",
        "scd2_chain_outoforder", "report_source_divergence",
        "report_source_overlap", "multimodal_dedup_near",
        "multimodal_dedup_near_audio", "pipeline_mix_shuffle_pack",
        "text_remove_boilerplate", "text_span_scrub",
    }
    assert bench.extra_reps(14) is None  # PERF_r14.json was never written
    plan = bench.rep_plan()
    assert plan["timing"] == "builder+action"
    latest = max(
        int(f[7:-5]) for f in os.listdir(bench.ROOT)
        if f.startswith("BENCH_r") and f[7:-5].isdigit() and f.endswith(".json")
    )
    now, prev = bench.extra_reps(latest), bench.extra_reps(latest - 1)
    assert plan["reps_extra"]["queries"] == sorted(now)
    assert plan["reps_changed_vs_prev"] == sorted(now ^ prev)
    assert now <= set(bench.HEADLINE)


def test_bench_stdout_line_fits_tail_capture():
    """The driver records only the last ~2 kB of bench stdout (the r12
    artifact lost its head when the line outgrew the window).  Pin the
    COMPACT line's worst-case size: every headline query at a 6-char
    2dp timing, plus the fixed fields, must leave headroom under 2000
    bytes — and the total/unit must be the LAST keys so truncation can
    only ever eat query rows."""
    import json

    from bench import HEADLINE, tail_safe_line

    out = {
        "queries": {name: 999.99 - i for i, name in enumerate(HEADLINE)},
        "sf": 0.1,
        "reps": 2,
        "metric": "headline_queries_total_runtime",
        "value": 99999.999,
        "unit": "sec",
    }
    line = tail_safe_line(dict(out))
    assert len(line) <= 1990, len(line)
    parsed = json.loads(line)  # valid JSON by construction
    assert parsed["value"] == out["value"] and parsed["unit"] == "sec"
    kept = parsed["queries"]
    # most-expensive-first retention; omitted rows counted
    assert len(kept) + parsed.get("queries_omitted", 0) == len(HEADLINE)
    if parsed.get("queries_omitted"):
        assert min(kept.values()) >= max(
            v for k, v in out["queries"].items() if k not in kept
        )
    # a line that already fits passes through whole
    small = dict(out, queries={"q1": 1.0})
    assert json.loads(tail_safe_line(small))["queries"] == {"q1": 1.0}
