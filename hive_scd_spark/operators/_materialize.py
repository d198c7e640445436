"""Model-table pin helpers shared by the ANN / LM / selection operators.

A multi-consumer model table (codebooks, centroids, vocabularies,
count tables) returned as a LAZY plan is re-derived once per
downstream reference: broadcast-side subplans get no ReuseExchange, so
every broadcast of the table re-executes its whole training subtree
(measured r15: 92 Exchange nodes in one ann_ivf_pq_incremental plan —
the Lloyd-training subtree appeared 3×; the unigram corpus count pass
ran once per consumer).  Two pin mechanisms, chosen by bound:

- :func:`materialize_small` — ONE driver collect + re-create as a
  local DataFrame.  Downstream reuse is a local-relation scan: no
  build-time df→RDD checkpoint jobs, no executor storage.  Values are
  bit-identical (collect() round-trips strings/longs/doubles/arrays
  exactly and the schema is pinned to df.schema).  Right whenever the
  table is parameter-bounded AND broadcast downstream anyway — a
  broadcast collects the rows to the driver regardless, so the collect
  stays within the existing memory envelope.  Measured r15→r16: the
  lazy-localCheckpoint variant of the same pin cost ~0.4–0.9 s of
  fixed df→RDD materialization per table at sf0.1 (the four pinned LM
  gates regressed 1.5–2.1× in the driver bench); the driver collect of
  the same ≤ model-bound rows costs ~0 (the ANN `_materialize_small`
  precedent).

- lazy ``localCheckpoint`` — keeps the rows on executors.  Right when
  the parameter bound can exceed driver capacity (e.g. a trigram
  table's (V+1)³ at large V).

:func:`pin_model_table` picks between them from the table's PARAMETER
bound (a pure function of operator arguments — the same decision at
sf0.001 and at 100 TB, never data- or scale-conditional).

Accounting note (bench contract): BOTH mechanisms run Spark actions at
plan-build time (the collect is an action; a lazy checkpoint
materializes its upstream stages during the df→RDD conversion under
AQE); bench.py and scripts/scale.py time builder plus action for
every row, so that work is inside the measured window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Tables whose parameter bound stays under this many rows are driver-
# collected; bigger bounds keep the executor-side lazy checkpoint.
#
# Why 4096 (measured r16, sf0.1 + 100×-replica corpus, local[32]):
# the two mechanisms differ only in where the pinned rows live —
# driver-local relation vs executor blocks — and the measured
# crossover is table size, not corpus size.  Tiny tables (vocab ≤ V+1,
# DSIR buckets ≤ n_buckets, NB model ≤ V+1) collect for free and skip
# the checkpoint's fixed df→RDD build job; larger model tables (the
# bigram (V+1)² / trigram (V+1)³ count tables, 16k+ rows at the bench
# parameters) are cheaper as checkpoints — a LocalRelation that size
# is re-shipped inside every consumer stage's task closure and
# re-broadcast per join, while checkpoint blocks stay put and scan in
# parallel (kn gate, sf0.1: all-collect 5.19 s vs tri-as-checkpoint
# 4.50 s; 100×: 15.0 vs 15.2 s — collect never wins above this size,
# and loses clearly at sf0.1).  The bound is compared against a
# PARAMETER bound, so the decision is scale-independent by
# construction.
MATERIALIZE_ROW_BOUND = 4096


def materialize_small(df: DataFrame) -> DataFrame:
    """Materialize a metadata-sized model table as a LOCAL DataFrame:
    one driver collect + re-create with the identical schema.

    The round-trip stays ENTIRELY in the JVM (collectAsList + the Java
    createDataFrame over the same Row objects): a Python-side
    ``df.collect()`` + ``spark.createDataFrame(rows, schema)`` pays
    py4j pickling twice per row, which measured ~1–2 s on a ~30 k-row
    trigram table at sf0.1 — more than the checkpoint it replaced.
    JVM-side the rows are never serialized, so values are bit-identical
    by construction and the cost is one driver collect.

    EAGER at call time (ADVICE r15): calling an operator that pins with
    this helper runs its training subtree NOW, not at first action —
    plan-only callers (explain / plan audits) pay the training cost.
    """
    spark = df.sparkSession
    jdf = df._jdf
    out_jdf = spark._jsparkSession.createDataFrame(
        jdf.collectAsList(), jdf.schema()
    )
    return DataFrame(out_jdf, spark)


def pin_model_table(df: DataFrame, row_bound: int) -> DataFrame:
    """Pin a multi-consumer model table whose row count is bounded by
    *row_bound* (a pure function of operator parameters).  Driver-
    collect when the bound fits :data:`MATERIALIZE_ROW_BOUND`, else
    fall back to the executor-side lazy checkpoint."""
    if row_bound <= MATERIALIZE_ROW_BOUND:
        return materialize_small(df)
    return df.localCheckpoint(eager=False)
