"""Corpus-quality filters for pre-training pipelines: Gopher-style
repetition statistics and a CCNet-style unigram language-model score.

Both operators follow the house rules: the per-document path is pure
built-in column expressions (one codegen projection, no Python on the
hot path), and anything corpus-global is a bounded aggregate that
broadcasts back (the BM25 stats pattern, text_rank.py:33).

Design sources are public: the repetition filters mirror the
Gopher/MassiveText quality rules (Rae et al. 2021, §A1.1 — duplicate
line fraction, top n-gram fraction) and the LM scoring mirrors CCNet's
"score documents with a language model trained on trusted text"
(Wenzek et al. 2020), reduced to a unigram model so the whole thing is
expressible as two corpus passes and a broadcast join instead of an
external model file.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_scd_spark.operators._materialize import pin_model_table


def _ws_tokens(text_col):
    """The shared tokenizer (see functions.ws_tokens for the contract)."""
    from hive_scd_spark.functions import ws_tokens

    return ws_tokens(text_col)


def _mode_count(arr):
    """Count of the most frequent element of *arr* (0 for empty), as
    ONE native array_sort + ONE O(n) fold counting the longest equal
    run.  The naive form — for each distinct element, filter-and-count
    the whole array — is O(distinct × n) *interpreted* lambda steps
    (higher-order functions run outside whole-stage codegen), which
    measured 4+ s over sf0.1; this form is ~n steps per row.  Value is
    identical, so oracles replaying the naive definition still match."""
    s = F.array_sort(arr)
    acc = F.aggregate(
        s,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    return acc


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, line_sep: str = "\n"
) -> DataFrame:
    """Gopher-style repetition features, one row per document:

    - ``n_lines`` — non-empty lines (split on *line_sep*)
    - ``dup_line_frac`` — fraction of lines that are repeats of an
      earlier line (1 - distinct/total)
    - ``dup_line_char_frac`` — fraction of line characters inside those
      repeats (the actual MassiveText rule: a doc is dropped when >30 %
      of its *characters* sit in duplicated lines)
    - ``top_token_frac`` — fraction of tokens equal to the most
      frequent token
    - ``top_bigram_frac`` — fraction of word bigrams equal to the most
      frequent bigram (deviation from Gopher noted: token-count
      fraction, not character fraction)
    - ``repetitive`` — 1 when dup_line_char_frac > 0.30 or
      top_bigram_frac > 0.18 (the published thresholds)

    *line_sep* is a LITERAL separator (regex-escaped before the split,
    so '.' or '|' split on the character, matching the literal
    ``string_split`` the oracles use).  NULL/empty/whitespace-only text
    yields zeros, not NULLs and not a phantom '' token.

    Everything is row-local — no shuffle, no UDF.  Both mode counts and
    the duplicate-character sum run as native ``array_sort`` + ONE
    O(n) fold (higher-order lambdas are interpreted, so the naive
    O(distinct × n) filter-and-count forms measured seconds at sf0.1 —
    see ``_mode_count``); for pathological million-token rows truncate
    first (``substring``) as any real quality pass does.
    """
    base = F.coalesce(F.col(text_col), F.lit(""))
    lines_raw = F.split(base, re.escape(line_sep))
    lines = F.filter(lines_raw, lambda x: F.length(F.trim(x)) > 0)
    # row-level guard (cheap scalar when, not a per-token lambda):
    # split of empty text is [''] — a phantom token that would make an
    # empty doc look maximally repetitive (top_token_frac = 1.0)
    toks_all = _ws_tokens(text_col)
    toks = F.when(F.length(F.trim(base)) > 0, toks_all).otherwise(
        F.array().cast("array<string>")
    )

    work = df.select(
        F.col(id_col), lines.alias("__lines"), toks.alias("__toks")
    )
    lines_c, toks_c = F.col("__lines"), F.col("__toks")
    n_lines = F.size(lines_c)
    dlines = F.array_distinct(lines_c)
    n_dup = n_lines - F.size(dlines)
    line_chars = F.aggregate(lines_c, F.lit(0), lambda a, x: a + F.length(x))
    # chars inside repeated lines: every occurrence of a line beyond its
    # first adds len(line).  Sorted-run fold (the _mode_count trick):
    # after array_sort, a repeat is exactly "equal to the previous
    # element" — O(n) instead of the O(distinct × n) filter-and-count
    dup_chars = F.aggregate(
        F.array_sort(lines_c),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("extra"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            (
                a["extra"]
                + F.when(x == a["prev"], F.length(x)).otherwise(F.lit(0).cast("long"))
            ).alias("extra"),
        ),
        lambda a: a["extra"],
    )
    n_toks = F.size(toks_c)
    top_tok = _mode_count(toks_c)
    bigrams = F.when(
        n_toks >= 2,
        F.transform(
            F.sequence(F.lit(1), n_toks - 1),
            lambda i: F.concat(
                F.element_at(toks_c, i), F.lit(" "), F.element_at(toks_c, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    work = work.withColumn("__bi", bigrams)
    bi_c = F.col("__bi")
    n_bi = F.size(bi_c)
    top_bi = _mode_count(bi_c)

    def frac(num, den):
        return F.round(
            F.when(den > 0, num.cast("double") / den).otherwise(0.0), 6
        )

    dup_line_frac = frac(n_dup, n_lines)
    dup_line_char_frac = frac(dup_chars, line_chars)
    top_token_frac = frac(F.coalesce(top_tok, F.lit(0)), n_toks)
    top_bigram_frac = frac(F.coalesce(top_bi, F.lit(0)), n_bi)
    return work.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char_frac.alias("dup_line_char_frac"),
        top_token_frac.alias("top_token_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        ((dup_line_char_frac > 0.30) | (top_bigram_frac > 0.18))
        .cast("int")
        .alias("repetitive"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int = 1000
) -> DataFrame:
    """CCNet-style LM quality proxy with a corpus-derived unigram model:

    1. one corpus pass counts tokens (map-side partial agg, shuffle is
       vocabulary-bounded, not corpus-bounded);
    2. the top-*vocab_size* tokens by (count desc, token asc — a
       deterministic tie-break) become the model, broadcast to
       executors (bounded: vocab_size rows, metadata-sized);
    3. a second pass scores every document:
       ``avg over tokens of ln(count(tok)/total)``, where OOV tokens
       get the floor count 1 (add-nothing smoothing — deterministic and
       oracle-replayable, unlike fitted discounts).

    Output: (id, n_tokens, n_oov, oov_frac, avg_logprob) — higher
    avg_logprob = more "ordinary" text under the corpus distribution;
    pipelines threshold it exactly like CCNet's perplexity buckets.

    Scale: the only corpus-sized shuffles are the token count (combiner
    reduces it to |vocab| rows) and the per-doc groupBy; the vocab and
    the 1-row total are broadcast.  No Python anywhere.
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    # NO pre-aggregation token filter: split of empty/NULL text yields
    # one '' token, and dropping those rows before the groupBy would
    # drop the DOCUMENT from the output (a pipeline joining scores back
    # would then keep/drop it by join type — the package convention,
    # cf. remove_boilerplate_lines/hash_embed, is that every input row
    # survives).  '' is excluded from the vocab and from every
    # aggregate instead; an empty doc scores (0, 0, 0.0, NULL).
    # coalesce: split of NULL text is a NULL array, which explode would
    # drop — NULL docs ride through as one '' token like empty docs
    toks_df = df.select(
        F.col(id_col),
        F.explode(
            F.coalesce(_ws_tokens(text_col), F.array(F.lit("")))
        ).alias("__tok"),
    )
    real = F.col("__tok") != ""
    # Model build (r16, replacing the r15 counts checkpoint): the full
    # counts table is DISTINCT-TOKEN-sized — parameter-UNbounded
    # (Heaps' law: token types grow with corpus size; ADVICE r15), so
    # it must not be pinned.  Only its two derived tables are
    # model-sized: the 1-row total and the ≤ vocab_size topK.  Collect
    # BOTH in one driver job — the two union branches share the token-
    # count Exchange (ReusedExchange in the probe plan), so the corpus
    # count pass still runs exactly once — then rebuild them as local
    # DataFrames (operators/_materialize.py: the r15 lazy checkpoint
    # cost ~0.4 s of fixed df→RDD materialization per bench rep; a
    # (V+1)-row collect costs ~0).  EAGER at call time (ADVICE r15).
    counts = toks_df.filter(real).groupBy("__tok").agg(
        F.count("*").alias("__cnt")
    )
    # NULL never occurs as a token (split yields strings; '' is the
    # empty/NULL-doc sentinel), so a NULL __tok row can tag the total
    probe = pin_model_table(
        counts.orderBy(F.col("__cnt").desc(), F.col("__tok"))
        .limit(vocab_size)
        .unionAll(
            counts.agg(F.sum("__cnt").alias("__cnt")).select(
                F.lit(None).cast("string").alias("__tok"), "__cnt"
            )
        ),
        row_bound=vocab_size + 1,
    )
    vocab = probe.filter(F.col("__tok").isNotNull())
    # the cast to double runs in Spark, exactly as the old
    # counts.agg(sum(...).cast("double")) plan did
    total_df = probe.filter(F.col("__tok").isNull()).select(
        F.col("__cnt").cast("double").alias("__total")
    )
    scored = (
        toks_df.join(F.broadcast(vocab), on="__tok", how="left")
        .join(F.broadcast(total_df))
        .withColumn("__c", F.coalesce(F.col("__cnt"), F.lit(1)).cast("double"))
    )
    is_oov = real & F.col("__cnt").isNull()
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum(F.when(real, 1).otherwise(0)).alias("n_tokens"),
            F.sum(F.when(is_oov, 1).otherwise(0)).alias("n_oov"),
            F.round(
                F.avg(F.when(real, F.log(F.col("__c") / F.col("__total")))), 6
            ).alias("avg_logprob"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.coalesce(
                F.round(F.try_divide(F.col("n_oov"), F.col("n_tokens")), 6),
                F.lit(0.0),
            ).alias("oov_frac"),
            "avg_logprob",
        )
    )


def top_ngrams(
    df: DataFrame, text_col: str, n: int = 2, k: int = 25
) -> DataFrame:
    """Corpus-wide top-*k* word *n*-grams with counts — the standard
    corpus-inspection report (and the input to stopword/boilerplate
    discovery).  Plan shape: row-local gram construction → explode →
    partial-agg count (combiner collapses the shuffle to |distinct
    grams|) → TakeOrdered top-k (count desc, gram asc: deterministic).
    """
    if n < 1 or k < 1:
        raise ValueError(f"n and k must be positive, got n={n} k={k}")
    # stage the token array as a REAL column first: an unaliased split
    # expression inside the gram lambda is re-evaluated by every
    # element_at call (the regex tokenizer ran ~2n times per document —
    # measured 6.4 s vs 0.6 s at sf0.1)
    work = df.select(_ws_tokens(text_col).alias("__toks"))
    tc = F.col("__toks")
    grams = F.when(
        F.size(tc) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tc) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tc, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        work.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram"))
        .limit(k)
        .select("ngram", F.col("cnt").cast("long").alias("cnt"))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 3,
    line_sep: str = "\n",
) -> DataFrame:
    """C4-style boilerplate removal (Raffel et al. 2020 §2.2 — they
    drop repeated three-sentence spans; the line-granular variant is
    the common production form): a normalized line (lower+trim) that
    occurs in >= *min_docs* DISTINCT documents is boilerplate, and is
    stripped from every document.  Whitespace-only lines are neither
    counted nor stripped.

    Output: (id, text, n_lines_kept, n_lines_removed) — text
    reassembled from the surviving lines in original order (empty
    string when everything was boilerplate).

    Plan shape, and why it scales: explode to (doc, pos, line) is
    linear; the boilerplate census is a combiner-collapsed
    count-distinct shuffle keyed by line (output = |distinct lines|,
    not corpus size); membership is a hash join on the line key — NOT
    broadcast, because the boilerplate set is corpus-derived and can be
    large (AQE will still demote to broadcast when it is small); the
    rebuild is one groupBy(doc) with an order-restoring array sort.
    Skewed line keys (the boilerplate lines themselves ARE hot keys)
    stay harmless: the join fans out only on matches, and matches are
    dropped rows.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # coalesce: NULL text becomes one empty (kept, uncounted) line, so
    # the document survives the explode instead of vanishing
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            # re.escape: line_sep is a LITERAL separator everywhere
            # (the rebuild's array_join and the oracle's string_split
            # are literal; an unescaped regex split would fork them)
            F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(line_sep))
        ).alias("__pos", "__line"),
    )
    norm = F.lower(F.trim(F.col("__line")))
    lines = lines.withColumn("__key", norm)
    census = (
        lines.filter(F.col("__key") != "")
        .groupBy("__key")
        .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        .filter(F.col("__ndocs") >= min_docs)
        .select("__key", F.lit(1).alias("__bp"))
    )
    tagged = lines.join(census, on="__key", how="left")
    keep = F.col("__bp").isNull() | (F.col("__key") == "")
    rebuilt = (
        tagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("__pos"), F.col("__line")))
                        )
                    ),
                    lambda s: s["__line"],
                ),
                line_sep,
            ).alias("text"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_lines_kept"),
            F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias("n_lines_removed"),
        )
    )
    return rebuilt.select(F.col(id_col), "text", "n_lines_kept", "n_lines_removed")


def dedupe_lines_in_doc(
    df: DataFrame, id_col: str, text_col: str, line_sep: str = "\n"
) -> DataFrame:
    """INTRA-document repeated-line removal — the complement of
    :func:`remove_boilerplate_lines` (which strips lines repeated
    ACROSS documents): within one document, every line keeps only its
    FIRST occurrence.  The production motivation is scraped chat logs,
    navigation menus repeated per section, and templated listings,
    where one page repeats its own furniture dozens of times and
    repetition_stats flags the whole document instead of salvaging it.

    Duplicate detection is on the normalized line (lower+trim — the
    remove_boilerplate_lines convention) but the KEPT line is verbatim;
    whitespace-only lines are never treated as duplicates of each
    other (blank separators survive).  Output: (id, text,
    n_lines_kept, n_lines_removed) with text reassembled in original
    order — the same contract as remove_boilerplate_lines, so the two
    compose in either order.

    Scale: a pure row-local projection — no shuffle, no UDF; the
    first-occurrence test is ``array_position(norms, norms[i]) == i``
    (1-based in both Spark and DuckDB, so the oracle replays it
    verbatim).  Per-row cost is O(L²) in the document's LINE count —
    lines are dozens-to-hundreds, not tokens, and the quadratic term is
    a memcmp scan, far below the regex work already row-local in this
    module; a pathological million-line document belongs to
    remove_boilerplate_lines' corpus census instead.
    """
    # literal separator (regex-escaped), the module convention pinned
    # by test_boilerplate_line_sep_is_literal
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(line_sep))
    work = df.select(*df.columns, lines.alias("__lines"))
    norms = F.transform(F.col("__lines"), lambda x: F.lower(F.trim(x)))
    work = work.select(*df.columns, "__lines", norms.alias("__norms"))
    idx = F.sequence(F.lit(1), F.size(F.col("__lines")))
    keep_i = F.filter(
        idx,
        lambda i: (F.trim(F.element_at(F.col("__lines"), i)) == "")
        | (F.array_position(F.col("__norms"), F.element_at(F.col("__norms"), i)) == i),
    )
    kept = F.transform(keep_i, lambda i: F.element_at(F.col("__lines"), i))
    return work.select(
        F.col(id_col),
        F.array_join(kept, line_sep).alias(text_col),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (F.size(F.col("__lines")) - F.size(kept))
        .cast("long")
        .alias("n_lines_removed"),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 1000,
    train: DataFrame | None = None,
) -> DataFrame:
    """Bigram upgrade of :func:`unigram_logprob` — the stronger CCNet
    quality signal: word-salad text has ordinary unigrams but
    improbable TRANSITIONS, and only a conditional model sees that.
    *train* is the trusted corpus the model is fit on (CCNet trains on
    Wikipedia-grade text and scores the crawl); default = score the
    corpus under its own model.  Model, engine-exact by construction:

    1. top-*vocab_size* train tokens (count desc, token asc) become the
       vocabulary; everything else maps to one ``<unk>`` class (so the
       model state is vocabulary-bounded regardless of corpus size);
    2. one train pass counts clipped bigrams c(w1, w2) and clipped
       contexts c(w1) — combiner-collapsed shuffles bounded by distinct
       clipped keys (<= (V+1)^2 and V+1);
    3. per scored document: ``avg over i>=2 of ln((c(w_{i-1}, w_i) + 1)
       / (c(w_{i-1}) + V + 1))`` — add-one over the clipped event
       space, so transitions (or contexts) unseen in training carry the
       analytic floor and DuckDB can replay every term.

    Output: (id, n_bigrams, n_unseen, avg_bigram_logprob) — higher =
    more ordinary transitions; ``n_unseen`` counts transitions absent
    from the train model (always 0 when self-scoring); documents with
    < 2 tokens score (0, 0, NULL) and every input row survives.

    Scale: the model is CLIPPED-vocabulary-bounded (the point of the
    unk class); the per-doc pass is posexplode → vocab broadcast-join →
    consecutive-position self-join (equi-join on (id, pos) — never a
    whole-document window) → model join (AQE broadcasts a small model,
    degrades to shuffle when a corpus genuinely fills (V+1)^2) → one
    per-doc aggregate.  No Python anywhere.
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")

    def toks_of(frame):
        return frame.select(
            F.col(id_col),
            F.filter(
                F.coalesce(_ws_tokens(text_col), F.array().cast("array<string>")),
                lambda t: t != "",
            ).alias("__toks"),
        )

    train_toks = toks_of(df if train is None else train)
    # vocab pin (r15, mechanism r16): the clipped-vocabulary broadcast
    # is referenced by BOTH tokenization passes (train counts + scored
    # stream) and broadcast-side subplans get no exchange reuse —
    # without the pin the train-corpus topK re-derived per reference.
    # ≤ V rows → pin_model_table: driver-collected when V fits the
    # materialize bound (the r15 lazy checkpoint cost ~0.4–0.9 s fixed
    # per bench rep; a tiny collect costs ~0 and the table broadcasts
    # anyway).  EAGER at call time when collected.
    vocab = pin_model_table(
        train_toks.select(F.explode("__toks").alias("__tok"))
        .groupBy("__tok")
        .agg(F.count("*").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__tok"))
        .limit(vocab_size)
        .select("__tok", F.lit(1).alias("__inv")),
        row_bound=vocab_size,
    )

    def pairs_of(toks_frame):
        pos = toks_frame.select(
            id_col, F.posexplode("__toks").alias("__i", "__tok")
        )
        clipped = pos.join(F.broadcast(vocab), "__tok", "left").select(
            id_col,
            "__i",
            F.when(F.col("__inv").isNotNull(), F.col("__tok"))
            .otherwise(F.lit("<unk>"))
            .alias("__w"),
        )
        lhs = clipped.select(
            F.col(id_col), F.col("__i").alias("__il"), F.col("__w").alias("__w1")
        )
        rhs = clipped.select(
            F.col(id_col),
            (F.col("__i") - 1).alias("__il"),
            F.col("__w").alias("__w2"),
        )
        return lhs.join(rhs, [id_col, "__il"])

    train_pairs = pairs_of(train_toks)
    # bi feeds both the context rollup and the scored join; it is
    # (V+1)²-bounded, so the pin is model-table-sized (r15).  ctx is
    # derived FROM bi (Σ_w2 c(w1,w2) ≡ count of train pairs per w1 —
    # integer-identical) so the train instance stream is scanned once.
    # r16: pin_model_table routes by the (V+1)² bound — a driver
    # collect while it fits MATERIALIZE_ROW_BOUND (V ≤ 63, so the
    # gates' V=30 bigram table of ≤ 961 rows is collected), an
    # executor-side lazy checkpoint above (measured r16: a 16k+-row
    # LocalRelation is re-shipped per consumer stage and loses to
    # checkpoint blocks; see operators/_materialize.py).
    bi = pin_model_table(
        train_pairs.groupBy("__w1", "__w2").agg(F.count("*").alias("__bc")),
        row_bound=(vocab_size + 1) ** 2,
    )
    ctx = bi.groupBy("__w1").agg(F.sum("__bc").alias("__cc"))
    # Optimization r15, VERDICT r14 task 7 RESOLVED AGAINST the
    # distinct-type replan: unlike the KN trigram (whose r14 replan
    # removed five per-instance model joins, 12.5× → 2.8× at 100×),
    # the bigram scorer has only TWO model joins and both sides are
    # type-bounded broadcasts, while its per-doc aggregate already
    # map-side-combines to one row per document before the exchange.
    # The replan was implemented and MEASURED: the (doc, w1, w2)
    # pre-aggregate gets no combiner collapse (per-doc types ≈
    # instances), so the instance stream gained a full shuffle —
    # t1 1.4 → 3.7 s, t100 17.3 → 27.8 s (first rep 80.5 s from the
    # corpus-sized checkpoint materialization).  The prettier 100×
    # ratio (12.5 → 7.5) was pure t1 inflation.  Kept instead: the
    # type-bounded pins above (vocab, bi) and ctx derived from bi —
    # those remove duplicated train passes without materializing
    # anything corpus-sized.
    scored = (
        (train_pairs if train is None else pairs_of(toks_of(df)))
        .join(bi, ["__w1", "__w2"], "left")
        .join(F.broadcast(ctx), "__w1", "left")
    )
    denom = (F.coalesce(F.col("__cc"), F.lit(0)) + vocab_size + 1).cast("double")
    lnp = F.log((F.coalesce(F.col("__bc"), F.lit(0)) + 1).cast("double") / denom)
    agg = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("__bc").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen"),
        F.round(F.avg(lnp), 6).alias("avg_bigram_logprob"),
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("n_unseen"), F.lit(0)).alias("n_unseen"),
            "avg_bigram_logprob",
        )
    )


def compression_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    level: int = 6,
    min_ratio: float = 0.30,
    max_ratio: float = 0.95,
) -> DataFrame:
    """zlib compressibility as a quality signal — the Dolma/Gopher-era
    structural filter the statistical rules miss: heavily REPETITIVE
    text (templated listings, keyword stuffing) compresses far below
    natural prose, and RANDOM bytes (binary-in-text, encrypted blobs,
    base64 walls) barely compress at all.  Per document:
    ``ratio = len(zlib(text, level)) / len(utf8(text))`` plus a
    ``kept`` flag for ``min_ratio <= ratio <= max_ratio`` (empty text
    is never kept).

    Runs as Arrow-batched ``mapInPandas`` (the multimodal-column
    convention — zlib is not expressible in either SQL engine, which
    is also why this is a ROWS-ONLY gate: exact compressed sizes are
    pinned against CPython's zlib in pytest instead of DuckDB).
    Output: (id_col, n_bytes, n_compressed, ratio, kept) — the id
    passes through with its ORIGINAL Spark type (long, string, UUID
    alike; ADVICE r10: the previous int64 hardcast died deep in pandas
    on string ids, and the 'id'-then-rename dance assumed no
    collision).

    Scale: embarrassingly parallel — one pass, no shuffle; Arrow moves
    each partition's strings to one Python worker batch.  Compressed
    sizes are deterministic for a fixed zlib build (the container
    pins one); across zlib versions the RATIO moves by well under the
    filter band's width, which is the property the filter needs.
    """
    from pyspark.sql import types as T

    reserved = {"n_bytes", "n_compressed", "ratio", "kept"}
    if id_col in reserved:
        raise ValueError(
            f"compression_ratio: id_col {id_col!r} collides with an "
            f"output column ({sorted(reserved)}); rename it first"
        )
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_compressed", T.LongType()),
            T.StructField("ratio", T.DoubleType()),
            T.StructField("kept", T.IntegerType()),
        ]
    )

    def per_batch(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [
                (t if isinstance(t, str) else "").encode("utf-8")
                for t in pdf[text_col]
            ]
            n_bytes = [len(b) for b in raw]
            n_comp = [len(zlib.compress(b, level)) for b in raw]
            ratio = [
                round(c / n, 6) if n else 0.0 for c, n in zip(n_comp, n_bytes)
            ]
            kept = [
                1 if n and min_ratio <= r <= max_ratio else 0
                for r, n in zip(ratio, n_bytes)
            ]
            yield pd.DataFrame(
                {
                    # pass the id through untouched — Arrow carries it
                    # back under its declared (original) Spark type
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "ratio": ratio,
                    "kept": kept,
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        per_batch, schema=out_schema
    )


def kn_trigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 1000,
    train: DataFrame | None = None,
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney trigram scoring — the published CCNet
    recipe's model class (KenLM is a KN n-gram LM; this is its n=3
    form, trained distributedly).  :func:`bigram_logprob`'s add-one
    model over-penalizes rare-but-real continuations; KN's absolute
    discount + CONTINUATION counts ("how many contexts has this word
    completed") is the standard fix, and its backoff chain is what
    separates fluent-but-novel text from word salad.

    Model (train corpus, clipped to top-*vocab_size* tokens + <unk>,
    exactly the bigram gate's vocabulary rule), with fixed *discount*
    D — every quantity below is a count over DISTINCT trigram types
    except c3/c2ctx, so the whole state is type-bounded:

    - c3(w1,w2,w3) trigram counts; c2ctx(w1,w2) = Σ_w3 c3 and
      n3(w1,w2) = |{w3 : c3 > 0}|;
    - continuation bigrams cc2(w2,w3) = |{w1 : c3 > 0}|, their context
      sums ctx2(w2) = Σ_w3 cc2 and fan-outs n2(w2) = |{w3 : cc2 > 0}|;
    - continuation unigrams cc1(w3) = |{w2 : cc2 > 0}|, T = Σ cc1,
      U = |{w3 : cc1 > 0}|.

    P1(w3)       = max(cc1-D,0)/T + D·U/T/(V+1)          (uniform floor)
    P2(w3|w2)    = max(cc2-D,0)/ctx2 + (D·n2/ctx2)·P1     (else P1)
    P3(w3|w1w2)  = max(c3-D,0)/c2ctx + (D·n3/c2ctx)·P2    (else P2)

    Per scored document: avg over positions i≥3 of ln P3, plus
    ``n_unseen`` (trigrams with c3 = 0 — the backoff events).  Docs
    with < 3 tokens emit (0, 0, NULL); every input row survives.  The
    expression trees are written ONCE and mirrored token-for-token in
    the DuckDB oracle, so each ln term is engine-identical and the
    ROUND(avg, 6) absorbs only summation order.

    Scale: model tables are trigram-TYPE-bounded (vocabulary-clipped);
    tri/ctx3/cc2 join the scored trigram stream as ordinary shuffle
    joins (AQE broadcasts them when small), ctx2/cc1 are (V+1)-bounded
    broadcasts, and the two scalars ride the audited 1-row
    broadcast-crossJoin.  The per-doc pass is the bigram plan plus one
    more shifted self-join — never a whole-document window.  No Python.
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    D = float(discount)

    def toks_of(frame):
        return frame.select(
            F.col(id_col),
            F.filter(
                F.coalesce(_ws_tokens(text_col), F.array().cast("array<string>")),
                lambda t: t != "",
            ).alias("__toks"),
        )

    train_toks = toks_of(df if train is None else train)
    # vocab pin (r15, mechanism r16): the clipped-vocabulary broadcast
    # is referenced by BOTH tokenization passes (train counts + scored
    # stream) and broadcast-side subplans get no exchange reuse —
    # without the pin the train-corpus topK re-derived per reference.
    # ≤ V rows → pin_model_table: driver-collected when V fits the
    # materialize bound (the r15 lazy checkpoint cost ~0.4–0.9 s fixed
    # per bench rep; a tiny collect costs ~0 and the table broadcasts
    # anyway).  EAGER at call time when collected.
    vocab = pin_model_table(
        train_toks.select(F.explode("__toks").alias("__tok"))
        .groupBy("__tok")
        .agg(F.count("*").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__tok"))
        .limit(vocab_size)
        .select("__tok", F.lit(1).alias("__inv")),
        row_bound=vocab_size,
    )

    def trigrams_of(toks_frame):
        # r14 (VERDICT r13 task 3): ONE window pass replaces the three
        # shifted-alias self-joins — the instance stream is exchanged
        # once on the doc key instead of three times on (doc, pos),
        # and the sort-merge cascade disappears.  Same instance set:
        # every position i with both successors present.
        from pyspark.sql import Window as _W

        pos = toks_frame.select(
            id_col, F.posexplode("__toks").alias("__i", "__tok")
        )
        clipped = pos.join(F.broadcast(vocab), "__tok", "left").select(
            id_col,
            "__i",
            F.when(F.col("__inv").isNotNull(), F.col("__tok"))
            .otherwise(F.lit("<unk>"))
            .alias("__w"),
        )
        w = _W.partitionBy(id_col).orderBy("__i")
        return (
            clipped.select(
                F.col(id_col),
                F.col("__w").alias("__w1"),
                F.lead("__w", 1).over(w).alias("__w2"),
                F.lead("__w", 2).over(w).alias("__w3"),
            )
            .filter(F.col("__w3").isNotNull())
        )

    train_tris = trigrams_of(train_toks)
    # Materialization points (optimization r15): tri feeds THREE
    # consumers (ctx3, cc2, the scored join) and cc2 three more (ctx2,
    # cc1, the scored join) — broadcast-side subplans get no exchange
    # reuse, so without a pin the train trigram pipeline (explode →
    # vocab join → window → count) re-derived once per reference.
    # Both tables are trigram-TYPE-bounded (vocabulary-clipped ⇒
    # ≤ (V+1)³ rows), so these are the nb_logodds model-checkpoint
    # precedent, not corpus materializations.  The pin runs actions
    # at build; bench.py times builder plus action.
    # r16: pin_model_table — the (V+1)³ bound exceeds the collect
    # threshold even for clipped vocabularies (V=30 ⇒ 29,791), so
    # this stays an executor-side lazy checkpoint (measured r16:
    # all-collect kn 5.19 s vs tri-as-checkpoint 4.50 s at sf0.1,
    # parity at 100×; see operators/_materialize.py).
    tri = pin_model_table(
        train_tris.groupBy("__w1", "__w2", "__w3").agg(
            F.count("*").alias("__c3")
        ),
        row_bound=(vocab_size + 1) ** 3,
    )
    ctx3 = tri.groupBy("__w1", "__w2").agg(
        F.sum("__c3").alias("__c2ctx"), F.count("*").alias("__n3")
    )
    # cc2 is NOT pinned: its input is the already-pinned tri table, so
    # each of its three consumers re-runs only a (V+1)³-bounded groupBy
    # over cached blocks — cheaper at sf0.1 than a third checkpoint's
    # build-time materialization, and bounded at any scale.
    cc2 = tri.groupBy("__w2", "__w3").agg(F.count("*").alias("__cc2"))
    ctx2 = cc2.groupBy("__w2").agg(
        F.sum("__cc2").alias("__ctx2"), F.count("*").alias("__n2")
    )
    cc1 = cc2.groupBy("__w3").agg(F.count("*").alias("__cc1"))
    totals = cc1.agg(
        F.sum("__cc1").alias("__T"), F.count("*").alias("__U")
    )

    # r14 (VERDICT r13 task 3): score DISTINCT trigram types once and
    # join back weighted by per-doc counts — the hash_embed
    # vocabulary-placement move.  With the clipped vocabulary the
    # distinct scored set is bounded by (V+1)³ REGARDLESS of corpus
    # size (V=30 ⇒ ≤ 29,791 rows), so every model join runs over a
    # broadcast-sized frame while the corpus-sized stream pays only
    # one (doc, trigram) combiner-collapsed groupBy and one join-back
    # against the tiny scored table.  At 100× the old per-instance
    # plan carried the instance stream through five joins; this one
    # carries it through one.
    # per_doc is deliberately NOT pinned (r15): it is corpus-sized
    # ((doc, trigram) rows get no combiner collapse), and the measured
    # cost of materializing the analogous bigram table at 100× was an
    # 80 s first-rep spike — recomputing the scored stream for the
    # tiny distinct() projection is cheaper than storing it.
    per_doc = (
        (train_tris if train is None else trigrams_of(toks_of(df)))
        .groupBy(id_col, "__w1", "__w2", "__w3")
        .agg(F.count("*").cast("long").alias("__m"))
    )
    dist = per_doc.select("__w1", "__w2", "__w3").distinct()
    scored_dist = (
        dist
        .join(tri, ["__w1", "__w2", "__w3"], "left")
        .join(ctx3, ["__w1", "__w2"], "left")
        .join(cc2, ["__w2", "__w3"], "left")
        .join(F.broadcast(ctx2), "__w2", "left")
        .join(F.broadcast(cc1), "__w3", "left")
        .crossJoin(F.broadcast(totals))
    )
    V1 = float(vocab_size + 1)
    Td = F.col("__T").cast("double")
    p1 = (
        F.greatest(F.coalesce(F.col("__cc1"), F.lit(0)).cast("double") - D, F.lit(0.0))
        / Td
        + F.lit(D) * F.col("__U").cast("double") / Td / F.lit(V1)
    )
    ctx2d = F.col("__ctx2").cast("double")
    p2 = F.when(
        F.col("__ctx2").isNull(), p1
    ).otherwise(
        F.greatest(F.coalesce(F.col("__cc2"), F.lit(0)).cast("double") - D, F.lit(0.0))
        / ctx2d
        + F.lit(D) * F.col("__n2").cast("double") / ctx2d * p1
    )
    c2ctxd = F.col("__c2ctx").cast("double")
    p3 = F.when(
        F.col("__c2ctx").isNull(), p2
    ).otherwise(
        F.greatest(F.coalesce(F.col("__c3"), F.lit(0)).cast("double") - D, F.lit(0.0))
        / c2ctxd
        + F.lit(D) * F.col("__n3").cast("double") / c2ctxd * p2
    )
    term = scored_dist.select(
        "__w1", "__w2", "__w3",
        F.log(p3).alias("__lnp3"),
        F.col("__c3").isNull().alias("__unseen"),
    )
    # join-back: the scored table is type-bounded (≤ (V+1)³ — tiny at
    # clipped vocabularies, corpus-type-bounded otherwise), so AQE
    # picks broadcast when it fits instead of a forced hint; Σ m·ln /
    # Σ m is the same average as the per-instance mean, grouped first
    scored = per_doc.join(term, ["__w1", "__w2", "__w3"])
    agg = scored.groupBy(id_col).agg(
        F.sum("__m").cast("long").alias("n_trigrams"),
        F.sum(F.when(F.col("__unseen"), F.col("__m")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_unseen"),
        F.round(
            F.sum(F.col("__m") * F.col("__lnp3")) / F.sum("__m"), 6
        ).alias("avg_kn_logprob"),
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_trigrams"), F.lit(0)).alias("n_trigrams"),
            F.coalesce(F.col("n_unseen"), F.lit(0)).alias("n_unseen"),
            "avg_kn_logprob",
        )
    )


def nb_logodds(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pos: DataFrame,
    neg: DataFrame,
    vocab_size: int = 1000,
    threshold: float = 0.0,
) -> DataFrame:
    """Two-class quality classifier scoring — the GPT-3/PaLM data-
    selection shape (train a classifier on trusted-vs-crawl, keep
    documents the classifier likes), in its engine-exact Naive-Bayes
    form: token log-odds between an add-one unigram model of *pos*
    (trusted) and one of *neg* (rejected), averaged per document.

    Model: the clipped top-*vocab_size* vocabulary + <unk> is cut from
    pos ∪ neg (count desc, token asc — the bigram_logprob convention),
    then one counting pass per class.  Per token:
    ``llr(w) = ln((c_pos(w)+1)/(N_pos+V+1)) − ln((c_neg(w)+1)/(N_neg+V+1))``
    and the document score is the token-average of llr, ROUND(·, 6).
    ``kept`` = (rounded score ≥ *threshold*) — the comparison runs on
    the already-rounded value, so it is engine-identical by
    construction (no transcendental boundary risk; GPT-3's Pareto
    coin-flip variant is deliberately NOT fused into the hash-checked
    output — apply any sampling downstream on the score).

    Empty/NULL docs score (0, NULL, kept=false) and every input row
    survives.  Scale: model state is (V+1)-bounded (two count tables +
    one 1-row totals broadcast); scoring is one explode + two
    broadcast joins + one per-doc aggregate — the unigram_logprob plan
    with a second model column.  No Python.

    Train-once serving (the streaming lane): :func:`nb_model` builds
    the frozen (V+1)-row model table from the reference corpora, and
    :func:`nb_score` scores any frame against it — this function is
    exactly ``nb_score(df, …, nb_model(pos, neg, …))`` with the model
    pinned by parameter bound (pin_model_table, r16 — previously a lazy
    ``localCheckpoint``, r13): nb_score references the model table
    THREE times (vocabulary membership, count join, totals), and
    without a materialization point Catalyst re-derives the whole
    reference-corpus counting pipeline per reference (measured: the
    select_nb_quality gate's plan went 11 → 30 shuffles when this
    composition first shipped un-checkpointed).  The model is
    (V+1)-row metadata, so the pin is model-table-sized, not a corpus
    materialization — and the driver collect skips the checkpoint's
    fixed df→RDD build cost (operators/_materialize.py).  The pin runs
    actions at BUILD time.  EAGER at call time (ADVICE r15):
    training runs during this call, not at first downstream action."""
    model = pin_model_table(
        nb_model(pos, neg, id_col, text_col, vocab_size),
        row_bound=vocab_size + 1,
    )
    return nb_score(df, id_col, text_col, model, vocab_size, threshold)


def nb_model(
    pos: DataFrame,
    neg: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 1000,
) -> DataFrame:
    """The frozen NB model table for :func:`nb_score` — ONE
    (V+1)-bounded DataFrame: a row per clipped-vocabulary word (plus
    ``<unk>`` when the reference corpora contain out-of-vocab tokens)
    carrying both class counts and, replicated on every row, both
    class totals.  Small by construction — persist it once and score
    every arriving batch against it (the streaming
    ``scrub_classify_sink`` loop); retraining per batch would both
    waste the reference scan and break batch-equivalence."""
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")

    def toks_of(frame):
        return frame.select(
            F.col(id_col),
            F.filter(
                F.coalesce(_ws_tokens(text_col), F.array().cast("array<string>")),
                lambda t: t != "",
            ).alias("__toks"),
        )

    train = toks_of(pos).unionByName(toks_of(neg))
    # vocab pin (r15, mechanism r16): referenced by BOTH class
    # counting passes via clipped() — broadcast-side subplans get no
    # exchange reuse, so unpinned the pos∪neg topK re-derived per
    # class.  ≤ V rows → driver-collected (operators/_materialize.py).
    # EAGER at call time: building the model runs the vocab job NOW.
    vocab = pin_model_table(
        train.select(F.explode("__toks").alias("__tok"))
        .groupBy("__tok")
        .agg(F.count("*").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__tok"))
        .limit(vocab_size)
        .select("__tok", F.lit(1).alias("__inv")),
        row_bound=vocab_size,
    )

    def clipped(frame):
        return (
            frame.select(F.col(id_col), F.explode("__toks").alias("__tok"))
            .join(F.broadcast(vocab), "__tok", "left")
            .select(
                id_col,
                F.when(F.col("__inv").isNotNull(), F.col("__tok"))
                .otherwise(F.lit("<unk>"))
                .alias("__w"),
            )
        )

    cp = clipped(toks_of(pos)).groupBy("__w").agg(F.count("*").alias("__cp"))
    cn = clipped(toks_of(neg)).groupBy("__w").agg(F.count("*").alias("__cn"))
    # ONE 1-row aggregate for both class totals (the audited
    # broadcast-crossJoin idiom wants a single aggregate build, not a
    # crossJoin of two)
    totals = (
        cp.select(F.lit(1).alias("__side"), F.col("__cp").alias("__c"))
        .unionByName(cn.select(F.lit(0).alias("__side"), F.col("__cn").alias("__c")))
        .agg(
            F.sum(F.when(F.col("__side") == 1, F.col("__c"))).alias("__np"),
            F.sum(F.when(F.col("__side") == 0, F.col("__c"))).alias("__nn"),
        )
    )
    return (
        cp.join(cn, "__w", "full_outer")
        .crossJoin(F.broadcast(totals))
        .select("__w", "__cp", "__cn", "__np", "__nn")
    )


def nb_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    vocab_size: int = 1000,
    threshold: float = 0.0,
) -> DataFrame:
    """Score *df* against a frozen :func:`nb_model` table — the
    serving half of :func:`nb_logodds` (identical output by
    construction; the parity is pinned in tests).  *vocab_size* must
    be the model's training value: it enters the add-one denominators
    as V+1.  The model rides one broadcast; unknown tokens map to
    ``<unk>``; scoring is one explode + one broadcast join + one
    per-doc aggregate.  No Python."""
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    # vocabulary membership = model words (every vocab word appears in
    # at least one reference class by construction)
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.coalesce(_ws_tokens(text_col), F.array().cast("array<string>")),
                lambda t: t != "",
            )
        ).alias("__tok"),
    )
    words = model.filter(F.col("__w") != "<unk>").select(
        F.col("__w").alias("__tok"), F.lit(1).alias("__inv")
    )
    clipped = (
        toks.join(F.broadcast(words), "__tok", "left")
        .select(
            id_col,
            F.when(F.col("__inv").isNotNull(), F.col("__tok"))
            .otherwise(F.lit("<unk>"))
            .alias("__w"),
        )
    )
    V1 = float(vocab_size + 1)
    # totals ride their own 1-row aggregate (they are replicated on
    # every model row), so a token that misses the word join — an
    # <unk> the reference corpora never produced — still sees the
    # class totals, exactly as nb_logodds' independent totals crossJoin
    # did
    totals = model.agg(F.max("__np").alias("__np"), F.max("__nn").alias("__nn"))
    scored = clipped.join(
        F.broadcast(model.select("__w", "__cp", "__cn")), "__w", "left"
    ).crossJoin(F.broadcast(totals))
    llr = F.log(
        (F.coalesce(F.col("__cp"), F.lit(0)) + 1).cast("double")
        / (F.coalesce(F.col("__np"), F.lit(0)) + V1).cast("double")
    ) - F.log(
        (F.coalesce(F.col("__cn"), F.lit(0)) + 1).cast("double")
        / (F.coalesce(F.col("__nn"), F.lit(0)) + V1).cast("double")
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg(llr), 6).alias("nb_logodds"),
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            "nb_logodds",
            F.coalesce(
                F.col("nb_logodds") >= F.lit(float(threshold)), F.lit(False)
            ).alias("kept"),
        )
    )


def code_quality_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_avg_line_len: float = 100.0,
    max_max_line_len: int = 1000,
    min_alnum_frac: float = 0.25,
) -> DataFrame:
    """Code-corpus quality filters — the StarCoder/BigCode file-level
    rules, the code analog of the prose Gopher rules (prose signals
    misfire on source files; these are the published replacements):

    - ``avg_line_len`` / ``max_line_len`` — minified/generated
      bundles have few, enormous lines;
    - ``alnum_frac`` — alphanumeric characters over all characters;
      data blobs and ASCII art sink below any real language's floor;
    - ``autogen`` — a generated-file marker ("auto-generated",
      "do not edit", "generated by") in the lowered text;
    - ``xml_header`` — files opening with ``<?xml`` (the classic
      non-code leak into code corpora);
    - ``kept`` — the conjunction under the given thresholds, each
      comparison on an already-rounded value (engine-identical).

    One codegen projection per document — line lengths via a split +
    transform fold, character classes via regexp_replace lengths; no
    shuffle, no Python, replayed term-for-term by the oracle.  NULL
    text behaves as empty (one zero-length line, never kept)."""
    t0 = F.coalesce(F.col(text_col), F.lit(""))
    lens = F.transform(F.split(t0, "\n"), lambda p: F.length(p).cast("bigint"))
    n_lines = F.size(lens).cast("long")
    sum_len = F.aggregate(lens, F.lit(0).cast("bigint"), lambda a, x: a + x)
    avg_line = F.round(sum_len.cast("double") / n_lines.cast("double"), 6)
    max_line = F.array_max(lens).cast("long")
    n_chars = F.length(t0).cast("long")
    n_alnum = F.length(F.regexp_replace(t0, "[^a-zA-Z0-9]", "")).cast("long")
    alnum_frac = F.round(
        F.when(n_chars > 0, n_alnum.cast("double") / n_chars.cast("double"))
        .otherwise(F.lit(0.0)),
        6,
    )
    low = F.lower(t0)
    autogen = (
        low.contains("auto-generated")
        | low.contains("do not edit")
        | low.contains("generated by")
    )
    xml_header = t0.startswith("<?xml")
    out = df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        avg_line.alias("avg_line_len"),
        max_line.alias("max_line_len"),
        alnum_frac.alias("alnum_frac"),
        autogen.alias("autogen"),
        xml_header.alias("xml_header"),
    )
    return out.withColumn(
        "kept",
        (F.col("avg_line_len") <= float(max_avg_line_len))
        & (F.col("max_line_len") <= int(max_max_line_len))
        & (F.col("alnum_frac") >= float(min_alnum_frac))
        & ~F.col("autogen")
        & ~F.col("xml_header")
        & (F.col("n_lines") > 0),
    )
