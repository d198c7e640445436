#!/usr/bin/env python
"""Scale harness: every row timed at 1x and at Nx of one sf directory.

The fact tables of *sf_dir* (documents, events, embeddings, orders,
lineitem) are replicated N times into ``/tmp/scale_<sf>_<n>x/``; the
other tables are symlinked, so the directory has the sf layout and a
registry gate runs over it unchanged: ``QUERIES[name](spark, big_dir)``.
By default a row IS a registry gate.  ``SCALE_ONLY`` holds the few rows
whose Nx contract the registry builder cannot express, each with its
reason.  ``ROWS_100X`` is the focused subset run when n >= 100.

Replicas keep the in-replica structure and break cross-replica
coincidences: keys are shifted by replica x (max + 1), document text
goes through a per-replica character bijection, and embeddings through
a per-replica sign-flip diagonal (an isometry).  Without that, N copies
of every document turn a near-dup pass into an N^2 pair explosion.

Every timed run goes through ``session.time_noop`` (builder plus action
into the noop sink, the bench.py rule) and starts from ``isolate``:
the session's shared caches are released, so a row pays its whole
pipeline, and dead pinned blocks are freed.  One warm run at 1x, then
the min of two timed runs at 1x and at Nx.

Usage: python scripts/scale.py sf_dir [n] [name_filter]
  sf_dir       an sf directory of <table>.parquet entries (e.g. sf0.1)
  n            replication factor, default 10 (at most 130)
  name_filter  "a,b" runs exactly those rows, "!a,b" all but those,
               any other token the rows whose name contains it

Prints one line per timed run, then one JSON line
``{"metric": "scale<n>x_ratios", "queries": {row: {"t1", "t<n>",
"ratio"[, "contrast"]}}, ...}``; rows that fail land in "errors" with
"partial": true.  rc 0 all rows ran, 2 some failed, 1 all failed.  The
same record is rewritten after every row to
``/tmp/scale<n>x_checkpoint.json``, so a JVM death keeps what was
measured.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hive_scd_spark.queries import (  # noqa: E402
    QUERIES,
    _crawl_to_corpus_over,
    _crawl_to_corpus_v2_over,
    _data_fingerprint,
    _dup_corpus,
    _video_media,
    _warc_scan_over,
    release_shared_caches,
    t,
    write_warc_fixture,
    write_warc_monolith,
)
from hive_scd_spark.session import gc_isolate, get_spark, time_noop  # noqa: E402

REPS = 2
MAX_N = 130  # lcm(26, 10): distinct character bijections

# ---------------------------------------------------------------------------
# Replication
# ---------------------------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_DIGITS = "0123456789"


def _rot_map(i: int) -> tuple[str, str]:
    """Replica *i*'s character bijection: letters rotated by i mod 26
    (both cases), digits by i mod 10 -- 130 distinct maps, replica 0
    the identity.  A bijection keeps every intra-replica shingle
    Jaccard exact while shingles of different replicas collide only by
    coincidence."""
    lr, dr = i % 26, i % 10
    src = _LETTERS + _LETTERS.upper() + _DIGITS
    rot = _LETTERS[lr:] + _LETTERS[:lr]
    return src, rot + rot.upper() + _DIGITS[dr:] + _DIGITS[:dr]


def _key_shift(rows, base, cols):
    shift = base.agg(*[(F.max(c) + 1).alias(c) for c in cols]).first()
    return rows.withColumns({c: F.col(c) + F.col("__rep") * shift[c] for c in cols})


def _documents(rows, base, n):
    text = F.when(F.col("__rep") == 0, F.col("text"))
    for i in range(1, n):
        text = text.when(F.col("__rep") == i, F.translate("text", *_rot_map(i)))
    return _key_shift(rows, base, ["doc_id"]).withColumn("text", text)


def _embeddings(rows, base, n):
    """Replica-specific +-1 diagonal per (replica, dim), md5-derived:
    an isometry, so every intra-replica cosine is unchanged, while
    vectors of different replicas land in different LSH buckets.
    Negation is exact in the table's own element type."""
    dim = len(base.select("embedding").first()[0])
    elem = "float" if dict(base.dtypes)["embedding"] == "array<float>" else "double"
    signs = F.array(*[
        F.array(*[
            F.lit(1.0 if i == 0 or hashlib.md5(f"{i}:{j}".encode()).digest()[0] % 2 == 0
                  else -1.0)
            for j in range(dim)
        ])
        for i in range(n)
    ])
    flipped = F.zip_with(
        "embedding",
        F.element_at(signs, F.col("__rep").cast("int") + 1).cast(f"array<{elem}>"),
        lambda x, s: (x * s).cast(elem),
    )
    return _key_shift(rows, base, ["vec_id"]).withColumn("embedding", flipped)


REPLICATORS = {
    "documents": _documents,
    "events": lambda rows, base, n: _key_shift(rows, base, ["event_id", "user_id"]),
    "embeddings": _embeddings,
    "orders": lambda rows, base, n: _key_shift(rows, base, ["o_orderkey"]),
    # sketch_heavy_hitters streams lineitem
    "lineitem": lambda rows, base, n: _key_shift(rows, base, ["l_orderkey"]),
}
_MARKER = "_scale.json"


def replicate_dir(spark, sf_dir: str, n: int) -> str:
    """The Nx copy of *sf_dir* (see module docstring); rebuilt when the
    marker no longer matches the source tables' fingerprints."""
    if not 1 <= n <= MAX_N:
        raise ValueError(f"n must be in 1..{MAX_N}, got {n}")
    sf_dir = os.path.abspath(sf_dir.rstrip("/"))
    out = os.path.join(tempfile.gettempdir(), f"scale_{os.path.basename(sf_dir)}_{n}x")
    want = {
        "source": sf_dir,
        "n": n,
        "tables": {tb: _data_fingerprint(sf_dir, tb) for tb in sorted(REPLICATORS)},
    }
    marker = os.path.join(out, _MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # one partition per replica, the source table broadcast into each:
    # replica i is written as file i, with no shuffle
    reps = spark.range(0, n, 1, n).withColumnRenamed("id", "__rep")
    for entry in sorted(os.listdir(sf_dir)):
        table = entry.removesuffix(".parquet")
        if table not in REPLICATORS:
            os.symlink(os.path.join(sf_dir, entry), os.path.join(out, entry))
            continue
        base = spark.read.parquet(os.path.join(sf_dir, entry))
        rows = REPLICATORS[table](reps.crossJoin(F.broadcast(base)), base, n)
        rows.select(*base.columns).write.parquet(os.path.join(out, entry))
    with open(marker, "w") as f:
        json.dump(want, f)
    return out


def _scale_of(d: str) -> tuple[str, int]:
    """(source sf dir, replication) of a data dir: itself and 1 unless
    it is a replicate_dir output."""
    marker = os.path.join(d, _MARKER)
    if not os.path.exists(marker):
        return d, 1
    with open(marker) as f:
        m = json.load(f)
    return m["source"], m["n"]


_BASE_MAX: dict[tuple, int] = {}


def _replica0(spark, d: str, table: str, col: str):
    """Predicate selecting replica 0 (ids of the source table)."""
    key = (_scale_of(d)[0], table, col)
    if key not in _BASE_MAX:
        _BASE_MAX[key] = t(spark, key[0], table).agg(F.max(col)).first()[0]
    return F.col(col) <= _BASE_MAX[key]


# ---------------------------------------------------------------------------
# Scale-only rows: (reason, builder(spark, data_dir))
# ---------------------------------------------------------------------------

# Standing state of the incremental serving rows, built by a row's first
# run at each scale (its amortized cost) and dropped when the row ends.
_STATE: dict[tuple, tuple] = {}


def _minhash_incremental(spark, d):
    from hive_scd_spark.operators.dedup import minhash_incremental_pairs

    docs = t(spark, d, "documents")
    is_new = (F.col("doc_id") % 5 == 3) & _replica0(spark, d, "documents", "doc_id")
    return minhash_incremental_pairs(
        docs.filter(is_new), docs.filter(~is_new), "doc_id", "text", k=8, threshold=0.3
    )


def _embedding_incremental(spark, d):
    from hive_scd_spark.operators.dedup import embedding_incremental_pairs

    emb = t(spark, d, "embeddings")
    is_new = (F.col("vec_id") % 5 == 3) & _replica0(spark, d, "embeddings", "vec_id")
    return embedding_incremental_pairs(
        emb.filter(is_new), emb.filter(~is_new), "vec_id", "embedding",
        threshold=0.35, n_planes=4, n_bands=4, dim=64,
    )


def _arrivals(spark, d):
    emb = t(spark, d, "embeddings")
    is_new = (F.col("vec_id") % 25 == 0) & _replica0(spark, d, "embeddings", "vec_id")
    return emb.filter(~is_new), emb.filter(is_new)


def _fixed_stride(df) -> int:
    """IVF stride holding the centroid COUNT at ~172: with a fixed
    stride both assignment terms (vectors x centroids) grow with the
    corpus and the row scales quadratically."""
    return max(1, round(df.count() / 172))


def _pq_incremental(spark, d):
    from hive_scd_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_incremental_topk,
    )

    standing, new = _arrivals(spark, d)
    if ("pq", d) not in _STATE:
        cb = pq_codebooks(standing, dim=64, n_sub=4, n_codes=16, n_iter=2).persist()
        codes = pq_encode(standing, cb, dim=64, n_sub=4).persist()
        cb.count(), codes.count()
        _STATE[("pq", d)] = (cb, codes)
    cb, codes = _STATE[("pq", d)]
    return pq_incremental_topk(
        new, standing, cb, corpus_codes=codes, dim=64, n_sub=4, n_candidates=32, k=5
    )


def _ivf_pq_incremental(spark, d):
    from hive_scd_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_pq_incremental_topk,
        pq_codebooks,
        pq_encode,
    )

    standing, new = _arrivals(spark, d)
    if ("ivf_pq", d) not in _STATE:
        cent = ivf_centroids(standing, stride=_fixed_stride(standing)).persist()
        cb = pq_codebooks(standing, dim=64, n_sub=4, n_codes=16, n_iter=2).persist()
        codes = pq_encode(standing, cb, dim=64, n_sub=4).persist()
        assign = ivf_assign(standing, centroids=cent).persist()
        cent.count(), cb.count(), codes.count(), assign.count()
        _STATE[("ivf_pq", d)] = (cent, cb, codes, assign)
    cent, cb, codes, assign = _STATE[("ivf_pq", d)]
    return ivf_pq_incremental_topk(
        new, standing, cb, cent, corpus_codes=codes, corpus_assign=assign,
        dim=64, n_sub=4, k=5, n_probe=4, n_candidates=32,
    )


def _decontam(spark, d):
    from hive_scd_spark.operators.decontam import ngram_contamination

    docs = t(spark, d, "documents")
    is_eval = (
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 97 * 200)
        & _replica0(spark, d, "documents", "doc_id")
    )
    return ngram_contamination(
        docs.filter(~is_eval), docs.filter(is_eval), "doc_id", "text", n=13
    )


def _dsir(spark, d):
    from hive_scd_spark.operators.selection import dsir_importance_weights

    docs = t(spark, d, "documents")
    is_tgt = (F.col("doc_id") % 50 == 0) & _replica0(spark, d, "documents", "doc_id")
    return dsir_importance_weights(
        docs.filter(~is_tgt), docs.filter(is_tgt), "doc_id", "text", n_buckets=4096
    )


def _fixture_dir(d: str, kind: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"scale_{kind}_{_data_fingerprint(d, 'documents')}"
    )


def _warc(spark, d) -> str:
    base = _fixture_dir(d, "warc")
    write_warc_fixture(t(spark, d, "documents").select("doc_id", "text"), base)
    return base


def _reshard(spark, d, n_archives: int):
    from hive_scd_spark.sources.warc import reshard_warc_gz

    base = _fixture_dir(d, f"mono{n_archives}")
    write_warc_monolith(
        t(spark, d, "documents").select("doc_id", "text"), base, n_archives=n_archives
    )
    names = (
        ["archive.warc.gz"] if n_archives == 1
        else [f"archive-{i:03d}.warc.gz" for i in range(n_archives)]
    )
    return reshard_warc_gz(
        spark, [os.path.join(base, a) for a in names], base + "_resharded"
    )


def _winnow_uncapped(spark, d):
    from hive_scd_spark.operators.dedup import winnow_dup_pairs

    return winnow_dup_pairs(t(spark, d, "documents"), "doc_id", "text", min_shared=5)


def _embedding_lsh_fixed4(spark, d):
    from hive_scd_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        t(spark, d, "embeddings"), "vec_id", "embedding",
        threshold=0.35, use_lsh=True, n_planes=4, n_bands=4, dim=64,
    )


def _video_decode_only(spark, d):
    from hive_scd_spark.operators.multimodal import frame_dhash

    return frame_dhash(_video_media(spark, d)).select("media_id", "fhash").distinct()


def _semantic_embed(spark, d):
    from hive_scd_spark.operators.similarity import hash_embed

    return hash_embed(_dup_corpus(spark, d), "doc_id", "text", dim=32).select(
        "doc_id", F.col("vec").cast("array<double>").alias("vec")
    )


def _ivf_fixed(spark, d):
    from hive_scd_spark.operators.similarity import ivf_cosine_topk

    emb = t(spark, d, "embeddings")
    return ivf_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_probe=4, stride=_fixed_stride(emb)
    )


def _ivf_pq_fixed(spark, d):
    from hive_scd_spark.operators.similarity import ivf_pq_topk, pq_codebooks

    emb = t(spark, d, "embeddings")
    cb = pq_codebooks(emb, dim=64, n_sub=4, n_codes=16, n_iter=2)
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), cb, dim=64, n_sub=4, k=5,
        n_probe=4, n_candidates=32, stride=_fixed_stride(emb),
    )


def _pack_whitespace(spark, d):
    from hive_scd_spark.operators.pack import pack_sequences

    toks = t(spark, d, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    return pack_sequences(toks, "doc_id", "n_tokens", 512)


_BATCH = "bounded batch from replica 0 while the standing corpus grows"
SCALE_ONLY = {
    "dedup_minhash_incremental": (_BATCH, _minhash_incremental),
    "dedup_embedding_lsh_incremental": (_BATCH, _embedding_incremental),
    "ann_pq_incremental": (_BATCH + "; frozen state built once per scale", _pq_incremental),
    "ann_ivf_pq_incremental": (
        _BATCH + "; frozen state built once per scale, centroid count fixed",
        _ivf_pq_incremental,
    ),
    "decontam_ngram_overlap": ("eval set bounded to replica 0 (<= 200 docs)", _decontam),
    "select_dsir_weights": ("DSIR target bounded to replica 0; the raw pool grows", _dsir),
    "source_warc_scan": (
        "WARC fixture per scale at a 1 MiB production split, direct reader",
        lambda spark, d: _warc_scan_over(spark, _warc(spark, d), split_bytes=1 << 20),
    ),
    "pipeline_crawl_to_corpus": (
        "WARC fixture per scale at a 1 MiB production split, direct reader",
        lambda spark, d: _crawl_to_corpus_over(spark, _warc(spark, d), split_bytes=1 << 20),
    ),
    "pipeline_crawl_to_corpus_v2": (
        "WARC fixture per scale at a 1 MiB production split, direct reader",
        lambda spark, d: _crawl_to_corpus_v2_over(
            spark, _warc(spark, d), split_bytes=1 << 20
        ),
    ),
    "source_warc_reshard": (
        "times the reshard pre-pass itself over one whole-file-gzip archive",
        lambda spark, d: _reshard(spark, d, 1),
    ),
    "source_warc_reshard_multi": (
        "reshard over 4 archives per replica: per-archive size constant as data grows",
        lambda spark, d: _reshard(spark, d, 4 * _scale_of(d)[1]),
    ),
    "dedup_winnow_pairs": ("contrast: uncapped winnow pairs over the raw corpus", _winnow_uncapped),
    "dedup_embedding_lsh_fixed4": ("contrast: fixed 4-plane LSH", _embedding_lsh_fixed4),
    "multimodal_video_decode_only": (
        "profile split: multimodal_dedup_near_video's decode lane alone", _video_decode_only
    ),
    "pipeline_semantic_dedup_embed": (
        "profile split: pipeline_semantic_dedup's hash_embed alone", _semantic_embed
    ),
    "ivf_cosine_topk": ("IVF with its centroid count held fixed", _ivf_fixed),
    "ann_ivf_pq_topk": ("IVF with its centroid count held fixed", _ivf_pq_fixed),
    "pack_sequences": (
        "profile split: the packer alone over whitespace counts (pack_sequences_ctx "
        "also pays the regex tokenizer)",
        _pack_whitespace,
    ),
}

# Designed contrast rows: measured on purpose to show what the
# production default avoids; their superlinear ratios are the baseline,
# not a regression.  The label rides in the artifact.
CONTRAST_ROWS = {
    "dedup_winnow_pairs": (
        "designed contrast row: UNCAPPED winnow pair generation - the "
        "production default is the df-capped dedup_winnow_capped; "
        "superlinear on boilerplate-dense corpora by construction "
        "(guardable via winnow_pairs_from_selected pair_budget)"
    ),
    "dedup_embedding_lsh_fixed4": (
        "designed contrast row: fixed-plane LSH pathology canary - "
        "auto-sized planes are the production path"
    ),
}

# ---------------------------------------------------------------------------
# Row sets
# ---------------------------------------------------------------------------

ROWS = (
    "dedup_cluster_assign shard_assignment range_join_event_windows "
    "text_bm25_topk ivf_cosine_topk ann_lsh_topk dedup_embedding_lsh_fixed4 "
    "dedup_embedding_lsh_auto pack_sequences decontam_ngram_overlap "
    "text_unigram_logprob text_remove_boilerplate dedup_exact_substring "
    "dedup_minhash_incremental table_profile_documents text_inverted_index "
    "graph_pagerank_dups dedup_simhash_near dedup_embedding_lsh_incremental "
    "fuzzy_typo_pairs select_dsir_weights source_warc_scan "
    "pipeline_crawl_to_corpus text_bigram_logprob dedup_corpus_paragraphs "
    "text_clean_c4 dedup_winnow_pairs pipeline_crawl_to_corpus_v2 "
    "dedup_winnow_corpus source_warc_reshard sample_temperature_mix "
    "source_warc_reshard_multi dedup_winnow_capped pipeline_mix_shuffle_pack "
    "sketch_heavy_hitters text_kn_trigram_logprob ann_pq_adc_topk "
    "ann_pq_incremental text_span_scrub select_nb_quality text_code_quality "
    "report_source_divergence range_join_interval_overlap events_gap_fill_locf "
    "events_anomaly_zscore report_source_overlap sample_softdedup_weights "
    "multimodal_dedup_near multimodal_dedup_near_audio "
    "multimodal_dedup_near_video multimodal_video_decode_only "
    "dedup_minhash_lsh dedup_exact pack_sequences_ctx pipeline_semantic_dedup "
    "decontam_bloom_screen text_bpe_batched sketch_quantile_totalprice "
    "pipeline_semantic_dedup_embed ann_ivf_pq_topk ann_ivf_pq_incremental"
).split()

# The operators whose asymptotics matter most: the rows run at n >= 100.
ROWS_100X = (
    "dedup_minhash_lsh dedup_exact_substring dedup_minhash_incremental "
    "dedup_exact dedup_simhash_near text_bm25_topk graph_pagerank_dups "
    "dedup_cluster_assign decontam_ngram_overlap pack_sequences_ctx "
    "pipeline_semantic_dedup pipeline_semantic_dedup_embed fuzzy_typo_pairs "
    "decontam_bloom_screen text_bpe_batched select_dsir_weights "
    "source_warc_scan pipeline_crawl_to_corpus pipeline_crawl_to_corpus_v2 "
    "text_bigram_logprob dedup_corpus_paragraphs text_clean_c4 "
    "dedup_winnow_pairs dedup_winnow_capped source_warc_reshard_multi "
    "pipeline_mix_shuffle_pack text_kn_trigram_logprob select_nb_quality "
    "text_code_quality report_source_overlap multimodal_dedup_near "
    "multimodal_dedup_near_audio multimodal_dedup_near_video "
    "dedup_embedding_lsh_auto ann_lsh_topk ann_pq_adc_topk ann_pq_incremental "
    "ann_ivf_pq_topk ann_ivf_pq_incremental sketch_quantile_totalprice "
    "sketch_heavy_hitters events_anomaly_zscore"
).split()


def select_rows(rows: list[str], name_filter: str) -> list[str]:
    """"a,b" = exactly those rows, "!a,b" = all but those, any other
    token = rows whose name contains it; "" = all."""
    if name_filter.startswith("!"):
        excl = set(name_filter[1:].split(","))
        return [r for r in rows if r not in excl]
    if "," in name_filter:
        incl = set(name_filter.split(","))
        return [r for r in rows if r in incl]
    return [r for r in rows if name_filter in r]


# ---------------------------------------------------------------------------
# Measurement
# ---------------------------------------------------------------------------


def isolate(spark) -> None:
    """The one isolation rule, before every timed run at every n:
    release the session's shared caches (so a row pays its whole
    pipeline, not a marginal read of a cache an earlier run built)
    and free dead pinned blocks (session.gc_isolate)."""
    release_shared_caches(spark)
    gc_isolate(spark)


def _timed(spark, label: str, build) -> float:
    isolate(spark)
    dt = time_noop(build)
    print(f"{label:55s}{dt:8.3f}s", flush=True)
    return dt


def measure(spark, name: str, small: str, big: str, n: int) -> dict:
    fn = SCALE_ONLY[name][1] if name in SCALE_ONLY else QUERIES[name]
    time_noop(lambda: fn(spark, small))  # warm: compile the shape
    t1 = min(_timed(spark, f"{name} @1x", lambda: fn(spark, small)) for _ in range(REPS))
    tn = min(_timed(spark, f"{name} @{n}x", lambda: fn(spark, big)) for _ in range(REPS))
    row = {"t1": round(t1, 3), f"t{n}": round(tn, 3), "ratio": round(tn / t1, 2)}
    if name in CONTRAST_ROWS:
        row["contrast"] = CONTRAST_ROWS[name]
    return row


def main(argv: list[str] | None = None, spark=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        print(__doc__, file=sys.stderr)
        return 1
    sf_dir = argv[0]
    n = int(argv[1]) if len(argv) > 1 else 10
    rows = select_rows(ROWS_100X if n >= 100 else ROWS, argv[2] if len(argv) > 2 else "")
    spark = spark or get_spark(f"scale{n}x")
    big = replicate_dir(spark, sf_dir, n)
    ckpt = os.path.join(tempfile.gettempdir(), f"scale{n}x_checkpoint.json")
    results: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in rows:
        _STATE.clear()
        spark.catalog.clearCache()
        try:
            results[name] = measure(spark, name, sf_dir, big, n)
        except Exception as exc:  # noqa: BLE001 - one broken row never erases the rest
            msg = str(exc).strip().splitlines()[0] if str(exc).strip() else repr(exc)
            errors[name] = f"{type(exc).__name__}: {msg[:300]}"
        with open(ckpt, "w") as f:
            json.dump({"results": results, "errors": errors}, f)
    out = {
        "metric": f"scale{n}x_ratios",
        "unit": "sec",
        "sf_base": os.path.basename(sf_dir.rstrip("/")),
        "replication": n,
        "reps": REPS,
        "queries": results,
    }
    if errors:
        out["errors"] = errors
        out["partial"] = True
    print(json.dumps(out), flush=True)
    if errors:
        return 1 if not results else 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
