"""Compile parsed SCD DML into DataFrame transformations.

The reference replays every record through an in-memory H2 database
(``SQLUpdater.java:161-175``, ``AvroSCDInputFormat.java:182-222``).
Here the same semantics are *compiled once on the driver* into Catalyst
expressions:

- ``UPDATE t SET c1=e1, c2=e2 WHERE w``  →  one SELECT projecting
  ``CASE WHEN coalesce(w, false) THEN e_i ELSE c_i END`` per assigned
  column.  A single
  projection (not one per SET) guarantees H2/ANSI UPDATE semantics:
  every SET expression and the WHERE see the **pre-statement** row
  (SURVEY.md §3.4).
- ``DELETE FROM t WHERE w``  →  ``WHERE NOT coalesce(w, false)``.
  ``coalesce(..., false)`` preserves SQL three-valued logic: rows whose
  predicate evaluates to NULL are *kept*, not deleted.
- Across statements, later statements see earlier statements' effects —
  each statement's SELECT wraps the previous one, in file order, exactly
  like the sequential H2 replay (``SQLUpdater.java:167-169``).

The statements compile in one Python pass and reach Spark as one nested
``spark.sql`` query per bounded chunk, so the driver pays one parse and
one analysis per chunk rather than one per statement.  Everything below
is ordinary logical-plan construction: Catalyst pushes query predicates
through the CASE chain where valid, prunes columns the DML doesn't
touch, and runs the whole thing in whole-stage codegen.  There is no
extra shuffle and no Python in the row path; the plan carries one
Project or Filter per applied statement (see SCALE_NOTES.md for the
measured build and execution cost by log length).
"""

from __future__ import annotations

import time
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from hive_scd_spark.fs import fs_for
from hive_scd_spark.updates import Stmt, applicable, parse_script, parse_scd_time

UPDATES_FILE_NAME = ".updates"  # SQLUpdater.java:32 / README.md:124
SCD_TIME_CONF = "spark.scd.time"  # session as-of knob, like Hive's scd.time


def resolve_as_of(as_of=None) -> int:
    """Resolve an as-of spec → epoch millis.

    Mirrors the ``scd.time`` session parameter (``SQLUpdater.java:95-108``,
    ``README.md:172-217``): ``None``/empty string → now; int → millis
    as-is (negative → raw data, no statements apply); str → long or ISO
    date/date-time; datetime/date accepted natively.
    """
    if as_of is None:
        return int(time.time() * 1000)
    if isinstance(as_of, bool):
        raise TypeError("as_of must be int millis, ISO string, datetime or None")
    if isinstance(as_of, float):
        # floats are almost always a unit bug (epoch SECONDS from
        # time.time(), or fractional millis); accept only exact integers
        if not as_of.is_integer():
            raise TypeError(
                f"as_of float {as_of!r} is not an integer millisecond value; "
                "pass int epoch-millis, an ISO string, or a datetime"
            )
        return int(as_of)
    if isinstance(as_of, int):
        return as_of
    if isinstance(as_of, datetime):
        if as_of.tzinfo is None:
            as_of = as_of.replace(tzinfo=timezone.utc)
        return int(as_of.timestamp() * 1000)
    if isinstance(as_of, date):
        return int(
            datetime(as_of.year, as_of.month, as_of.day, tzinfo=timezone.utc).timestamp()
            * 1000
        )
    if isinstance(as_of, str):
        resolved = parse_scd_time(as_of, default=int(time.time() * 1000))
        assert resolved is not None
        return resolved
    raise TypeError(f"Unsupported as_of value: {as_of!r}")


def _chunk_depth(spark: SparkSession) -> int:
    """Statements compiled into one nested query (one parse, one
    analysis).  Catalyst's Resolution batch needs about one fixed-point
    iteration per level of nesting: at the default 100 iterations a
    90-deep nested SELECT fails ("Max iterations (100) reached for batch
    Resolution") while 60 passes.  Half the limit, less a margin,
    resolves with room to spare."""
    return max(1, int(spark.conf.get("spark.sql.analyzer.maxIterations")) // 2 - 5)


def _quote(name: str) -> str:
    """Backtick-quote an identifier, doubling embedded backticks."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: DataType) -> str:
    """SQL text of a Spark type, usable in ``CAST(… AS <type>)``."""
    if isinstance(dt, StructType):
        fields = ", ".join(f"{_quote(f.name)}: {_sql_type(f.dataType)}" for f in dt.fields)
        return f"STRUCT<{fields}>"
    if isinstance(dt, ArrayType):
        return f"ARRAY<{_sql_type(dt.elementType)}>"
    if isinstance(dt, MapType):
        return f"MAP<{_sql_type(dt.keyType)}, {_sql_type(dt.valueType)}>"
    return dt.simpleString()


def _check_fragments(spark: SparkSession, fragments: list[str]) -> None:
    """Parse every WHERE/SET fragment on its own, as ``F.expr`` does, in
    one JVM call and before anything is spliced.  A fragment that is not
    exactly one expression — ``a = 1) x UNION ALL SELECT …`` — raises
    ``ParseException`` here, so no statement text can change the shape
    of the compiled query.  ``F.expr`` itself parses lazily; converting
    the column to a Catalyst expression forces the parse (no analysis)."""
    if fragments:
        spark._jsparkSession.expression(F.struct(*map(F.expr, fragments))._jc)


def _splice(fragment: str) -> str:
    # own lines: a trailing `-- comment` in the fragment ends there
    return f"(\n{fragment}\n)"


def _statement_layer(stmt: Stmt, types: dict[str, str]) -> tuple[str, str]:
    """One statement → ``(head, tail)`` of the SELECT that wraps the
    relation holding every earlier statement's effects, in the forms the
    module docstring gives.  SET columns resolve case-insensitively, like
    H2's unquoted identifiers; the WHERE and each SET value are cast to
    boolean and to the column's type."""
    cond = "true" if stmt.where is None else (
        f"coalesce(CAST({_splice(stmt.where)} AS boolean), false)"
    )
    if stmt.kind == "delete":
        return "SELECT * FROM", f"WHERE NOT {cond}"
    if stmt.kind != "update":
        raise ValueError(f"Unknown statement kind: {stmt.kind}")
    columns = list(types)
    resolver = {c.lower(): c for c in columns}
    assigned: dict[str, str] = {}
    for col, expr in stmt.sets:
        actual = resolver.get(col.lower())
        if actual is None:
            raise ValueError(
                f"UPDATE assigns unknown column {col!r} (table has {columns}) "
                f"in statement: {stmt.sql!r}"
            )
        assigned[actual] = f"CAST({_splice(expr)} AS {types[actual]})"
    items = []
    for c in columns:
        q = _quote(c)
        if c not in assigned:
            items.append(q)
        elif stmt.where is None:
            items.append(f"{assigned[c]} AS {q}")
        else:
            items.append(f"CASE WHEN {cond} THEN {assigned[c]} ELSE {q} END AS {q}")
    return f"SELECT {', '.join(items)} FROM", ""


def _nest(layers: list[tuple[str, str]]) -> str:
    """Nest statement layers, first statement innermost, over the
    ``{base}`` placeholder of ``spark.sql``'s kwargs formatter.  Braces
    in statement text are doubled so the formatter keeps them literal."""
    query = "{base}"
    for n, (head, tail) in enumerate(layers):
        head, tail = (t.replace("{", "{{").replace("}", "}}") for t in (head, tail))
        src = f"(\n{query}\n)" if n else query
        query = f"{head} {src} {tail}"
    return query


def apply_statements(df: DataFrame, stmts, as_of=None, compat: str = "quoted") -> DataFrame:
    """Fold *stmts* (a list of :class:`Stmt` or a raw script string)
    over *df* in file order, honoring the as-of time.

    This is the rebuild of the reference's per-record apply loop
    (``SQLUpdater.java:161-175``) as lazy logical-plan construction.
    The applicable statements compile in one Python pass into one SQL
    layer each (:func:`_statement_layer`), nested into one query per
    chunk of :func:`_chunk_depth` statements; each chunk is one
    ``spark.sql`` call — one parse, one analysis — over the previous
    chunk's analyzed frame, so build time grows linearly with the log.
    ``compat="reference"`` (string scripts only) lexes with the
    reference's raw line algorithm INCLUDING its read-time as-of filter
    (``SQLUpdater.java:131``) — full behavioral parity.
    """
    as_of_ms = resolve_as_of(as_of)
    if isinstance(stmts, str):
        stmts = parse_script(stmts, compat, as_of_ms=as_of_ms if compat == "reference" else None)
    todo = applicable(list(stmts), as_of_ms)
    if not todo:
        return df
    types = {f.name: _sql_type(f.dataType) for f in df.schema.fields}
    layers = [_statement_layer(stmt, types) for stmt in todo]
    spark = df.sparkSession
    _check_fragments(
        spark, [f for s in todo for f in (s.where, *(e for _c, e in s.sets)) if f is not None]
    )
    depth = _chunk_depth(spark)
    for i in range(0, len(layers), depth):
        # spark.sql analyzes eagerly: unresolved columns/exprs fail here (A12)
        df = spark.sql(_nest(layers[i : i + depth]), base=df)
    return df


# -- directory-level read (A1/A11) ------------------------------------------


def _discover_update_dirs(fs, path: str) -> list[tuple[str, str | None]]:
    """Walk *path* via the filesystem facade (``hive_scd_spark.fs`` —
    ``os`` for plain local paths, Hadoop ``FileSystem`` for
    ``hdfs://``/``s3a://``/``file:``); return
    ``[(data_dir, updates_path|None)]`` for every directory that
    directly contains data files.  Mirrors the reference's per-split
    parent-directory resolution (``SQLUpdater.java:110-116``) — each
    partition directory carries its own ``.updates`` (A11)."""
    out: list[tuple[str, str | None]] = []
    for dirpath, _dirnames, filenames in fs.walk(path):
        data_files = [
            f for f in filenames if not f.startswith((".", "_"))
        ]  # Spark ignores dot/underscore files — why `.updates` can co-locate
        if not data_files:
            continue
        upd = fs.join(dirpath, UPDATES_FILE_NAME)
        out.append((dirpath, upd if UPDATES_FILE_NAME in filenames else None))
    return sorted(out)


def _read_base(
    spark: SparkSession, path: str, format: str, schema=None, options=None
) -> DataFrame:
    options = dict(options or {})
    if format == "avro":
        from hive_scd_spark.sources.avro import read_avro

        return read_avro(spark, path, reader_schema=schema, options=options)
    reader = spark.read.format(format).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_scd(
    spark: SparkSession,
    path: str,
    as_of=None,
    format: str = "avro",
    schema=None,
    options=None,
    compat: str = "quoted",
) -> DataFrame:
    """Read an SCD table directory as of a point in time.

    Equivalent of registering a Hive table with
    ``AvroSCDInputFormat`` and ``set scd.time=…`` (``README.md:45-46,
    172-217``), as a plain function returning a DataFrame.  *path* may
    be a plain local path or any URI scheme Spark can reach (``file:``,
    ``hdfs://``, ``s3a://``) — ``.updates`` discovery follows the same
    Hadoop ``FileSystem`` resolution the reference uses
    (``SQLUpdater.java:110-116``; see ``hive_scd_spark.fs``).  *schema* is
    the optional reader schema (Avro JSON string/dict or Spark
    StructType) — schema evolution fills field defaults exactly like the
    reference's reader-schema handling (``AvroSCDInputFormat.java:141-154``).
    ``compat="reference"`` lexes each ``.updates`` with the reference's
    raw line algorithm including its read-time as-of filter — full
    behavioral parity for scripts that depend on it.
    """
    if as_of is None:
        # session-level knob for SQL users, mirroring the reference's
        # `set scd.time=...` (README.md:172-217): unset/"" → now,
        # long millis or ISO string, negative → raw data
        conf_time = spark.conf.get(SCD_TIME_CONF, None)
        if conf_time is not None:
            as_of = conf_time
    fs = fs_for(spark, path)
    groups = _discover_update_dirs(fs, path)
    if not groups:
        # no data subdirectories — treat path itself as the data dir
        upd = fs.join(path, UPDATES_FILE_NAME)
        groups = [(path, upd if fs.exists(upd) else None)]

    # Partition dirs sharing the same script text compile once and read
    # together — at 1000-dir scale this keeps the scan a single job with
    # native partition pruning instead of 1000 per-dir scans.
    by_script: dict[str | None, list[str]] = {}
    for data_dir, upd in groups:
        if upd is None:
            by_script.setdefault(None, []).append(data_dir)
        else:
            by_script.setdefault(fs.read_text(upd), []).append(data_dir)

    parts: list[DataFrame] = []
    for script, dirs in by_script.items():
        base = _read_base(spark, dirs[0] if len(dirs) == 1 else dirs, format, schema, options)
        if script is not None:
            base = apply_statements(base, script, as_of=as_of, compat=compat)
        parts.append(base)
    result = parts[0]
    for extra in parts[1:]:
        result = result.unionByName(extra)
    return result


def scd_view(
    spark: SparkSession, name: str, path: str, as_of=None, format: str = "avro", **kw
) -> DataFrame:
    """``read_scd`` + temp-view registration: the full Spark SQL surface
    (SURVEY.md §2.B) over the as-of table, like Hive over the reference's
    InputFormat (``README.md:169-170``)."""
    df = read_scd(spark, path, as_of=as_of, format=format, **kw)
    df.createOrReplaceTempView(name)
    return df


def snapshot(df: DataFrame, path: str | None = None, mode: str = "overwrite") -> DataFrame:
    """Materialize the as-of view — the README's recommended "current
    snapshot in Parquet + raw SCD for history" compaction pattern
    (``README.md:239-244``)."""
    if path is not None:
        df.write.mode(mode).parquet(path)
    return df


def _chain_boundary_states(df, stmts, times, cols, field_types):
    """Boundary states via ONE sequential select chain — the
    ``apply_statements`` semantics (each statement sees the POST-image
    of every earlier statement), so read-after-write chains fold
    correctly.  Valid only when script order agrees with
    effective-time order (checked by the caller): then the statements
    applicable at boundary t_i are exactly a prefix, and each
    boundary's state is the previous boundary's state plus that
    boundary's statements in script order.  Returns the frame carrying
    one ``__b{i}`` struct column (tracked cols + ``__alive``) per
    boundary; Catalyst collapses the select chain into one projection
    (the A9 single-codegen-stage design), so cost stays k× the
    projection width with no joins and no per-time scans."""
    base_cols = list(df.columns)
    work = df.select(*base_cols, F.lit(True).alias("__alive"))
    carried: list[str] = []
    si = 0

    def key(s):
        return 0 if s.effective_ms is None else s.effective_ms

    for i, t in enumerate(times):
        while si < len(stmts) and key(stmts[si]) <= t:
            stmt = stmts[si]
            si += 1
            cond = (
                F.lit(True)
                if stmt.where is None
                else F.coalesce(F.expr(stmt.where).cast("boolean"), F.lit(False))
            )
            if stmt.kind == "delete":
                work = work.select(
                    *base_cols,
                    *carried,
                    (F.col("__alive") & ~cond).alias("__alive"),
                )
            else:
                new = {}
                for col, set_expr in stmt.sets:
                    actual = next(
                        (c for c in base_cols if c.lower() == col.lower()), col
                    )
                    new[actual] = F.when(
                        cond, F.expr(set_expr).cast(field_types[actual])
                    ).otherwise(F.col(actual))
                work = work.select(
                    *[new.get(c, F.col(c)).alias(c) for c in base_cols],
                    *carried,
                    "__alive",
                )
        snap = F.struct(
            *[F.col(c).alias(c) for c in cols], F.col("__alive").alias("__alive")
        )
        name = f"__b{i}"
        work = work.select(*base_cols, *carried, "__alive", snap.alias(name))
        carried.append(name)
    return work


def _independent_boundary_states(df, stmts, times, cols, field_types):
    """Boundary states for read-after-write chains whose effective
    times are OUT OF script order (VERDICT r13 task 6) — the case
    where boundary states are not prefix-extensible, so the
    :func:`_chain_boundary_states` single chain cannot fold them.

    k INDEPENDENT sequential folds: boundary t_i restores the source
    columns from saved copies, then folds ``applicable(stmts, t_i)``
    in script order — exactly ``apply_statements`` semantics per
    boundary (each statement sees the post-image of every earlier
    applicable statement).  Correct for any script at k× projection
    cost: Σ_i |applicable(t_i)| select steps, all collapsed by
    Catalyst into one codegen stage (no joins, no per-time scans, no
    extra shuffle — k is the number of script epochs, not rows)."""
    base_cols = list(df.columns)
    origs = [f"__o_{c}" for c in base_cols]
    work = df.select(
        *base_cols, *[F.col(c).alias(f"__o_{c}") for c in base_cols]
    )
    carried: list[str] = []
    for i, t in enumerate(times):
        # fresh fold: restore source values, reset liveness
        work = work.select(
            *[F.col(o).alias(c) for c, o in zip(base_cols, origs)],
            *origs,
            *carried,
            F.lit(True).alias("__alive"),
        )
        for stmt in applicable(stmts, t):
            cond = (
                F.lit(True)
                if stmt.where is None
                else F.coalesce(F.expr(stmt.where).cast("boolean"), F.lit(False))
            )
            if stmt.kind == "delete":
                work = work.select(
                    *base_cols,
                    *origs,
                    *carried,
                    (F.col("__alive") & ~cond).alias("__alive"),
                )
            else:
                new = {}
                for col, set_expr in stmt.sets:
                    actual = next(
                        (c for c in base_cols if c.lower() == col.lower()), col
                    )
                    new[actual] = F.when(
                        cond, F.expr(set_expr).cast(field_types[actual])
                    ).otherwise(F.col(actual))
                work = work.select(
                    *[new.get(c, F.col(c)).alias(c) for c in base_cols],
                    *origs,
                    *carried,
                    "__alive",
                )
        snap = F.struct(
            *[F.col(c).alias(c) for c in cols], F.col("__alive").alias("__alive")
        )
        name = f"__b{i}"
        work = work.select(*base_cols, *origs, *carried, "__alive", snap.alias(name))
        carried.append(name)
    return work


def scd2_history(df: DataFrame, stmts, tracked_cols: list[str] | None = None) -> DataFrame:
    """Materialize a **Type-2** history table from the Type-7 statement
    log: one row per (entity, state interval), with ``valid_from_ms`` /
    ``valid_to_ms`` (NULL = current) and ``is_current``.

    The reference keeps history *implicitly* (base + timestamped DML,
    ``README.md:24-26``); this derives the standard explicit form in a
    **single pass**: for each distinct effective time t_i the row's
    state is the fold of statements with effective ≤ t_i (the same
    when/otherwise composition as ``apply_statements``), assembled into
    an array of (t_i, state, alive) structs, de-duplicated against the
    previous interval, and exploded.  No self-joins, no per-time scans
    — cost is k× the projection width for k distinct times, which is
    tiny because k = number of timestamped script epochs, not rows.

    Read-after-write chains (a later statement reading a column an
    earlier statement assigned) fold through the SEQUENTIAL select
    chain (:func:`_chain_boundary_states`, r13) whenever script order
    agrees with effective-time order — the append-only ``.updates``
    shape every real log has.  Chains with OUT-OF-ORDER effective
    times (boundary states not prefix-extensible) fold through k
    independent per-boundary recomputes instead
    (:func:`_independent_boundary_states`, r14) — correct for any
    script at k× projection cost; no refusal path remains.  Chain
    detection matches assigned columns against later statements'
    expressions on identifier-token boundaries (not substrings), so a
    column named ``a`` can no longer spuriously route a script whose
    expressions merely contain the letter."""
    if isinstance(stmts, str):
        stmts = parse_script(stmts)
    stmts = list(stmts)
    # boundaries: raw state (before everything) + each distinct effective time
    times = sorted({0 if s.effective_ms is None else s.effective_ms for s in stmts})
    if not times or times[0] != 0:
        times = [0, *times]
    cols = df.columns if tracked_cols is None else tracked_cols
    field_types = {f.name: f.dataType for f in df.schema.fields}

    # Pre-image correctness: the per-boundary composed-expression path
    # below evaluates every WHERE/SET against the *source columns*,
    # exactly like one boundary of apply_statements — valid only when
    # no statement reads a column an earlier statement assigned.
    # Chains route to the sequential select chain instead.
    import re as _re

    chained = False
    assigned: set[str] = set()
    for stmt in stmts:
        text = (stmt.where or "") + " " + " ".join(e for _c, e in stmt.sets)
        # identifier-token match, not substring (VERDICT r13 §3): a
        # column named `a` must not match inside `max` or 'data'
        refs = set(_re.findall(r"[a-z_][a-z0-9_]*", text.lower()))
        if assigned & refs:
            chained = True
            break
        assigned.update(c.lower() for c, _e in stmt.sets)

    if chained:
        keys = [0 if s.effective_ms is None else s.effective_ms for s in stmts]
        in_order = all(a <= b for a, b in zip(keys, keys[1:]))
        fold = _chain_boundary_states if in_order else _independent_boundary_states
        src = fold(df, stmts, times, cols, field_types)
        entries = [
            F.struct(
                F.lit(t).alias("valid_from_ms"),
                F.struct(
                    *[F.col(f"__b{i}.{c}").alias(c) for c in cols]
                ).alias("state"),
                F.col(f"__b{i}.__alive").alias("alive"),
            )
            for i, t in enumerate(times)
        ]
    else:
        src = df

        def state_at(t_ms: int):
            """(state struct, alive) after folding statements eff ≤ t_ms."""
            exprs = {c: F.col(c) for c in df.columns}
            alive = F.lit(True)
            for stmt in applicable(stmts, t_ms):
                cond = (
                    F.lit(True)
                    if stmt.where is None
                    else F.coalesce(F.expr(stmt.where).cast("boolean"), F.lit(False))
                )
                if stmt.kind == "delete":
                    alive = alive & ~cond
                else:
                    for col, set_expr in stmt.sets:
                        actual = next(
                            (c for c in df.columns if c.lower() == col.lower()), col
                        )
                        exprs[actual] = F.when(
                            cond, F.expr(set_expr).cast(field_types[actual])
                        ).otherwise(exprs[actual])
            return F.struct(*[exprs[c].alias(c) for c in cols]), alive

        entries = []
        for t in times:
            state, alive = state_at(t)
            entries.append(
                F.struct(
                    F.lit(t).alias("valid_from_ms"),
                    state.alias("state"),
                    alive.alias("alive"),
                )
            )
    arr = F.array(*entries)

    def at(i):  # 1-based element_at over the boundary array
        return F.element_at(arr, i)

    # keep boundary i iff its (state, alive) differs from boundary i-1
    idx = F.sequence(F.lit(1), F.lit(len(times)))  # 1-based positions
    keep = F.filter(
        idx,
        lambda i: F.when(i == 1, F.lit(True)).otherwise(
            (at(i)["state"] != at(i - 1)["state"])
            | (at(i)["alive"] != at(i - 1)["alive"])
        ),
    )
    # each kept boundary becomes an interval ending at the next kept one
    versions = F.transform(
        keep,
        lambda i, pos: F.struct(
            at(i)["valid_from_ms"].alias("valid_from_ms"),
            F.when(
                F.try_element_at(keep, pos + 2).isNull(), F.lit(None).cast("long")
            )
            .otherwise(
                at(F.coalesce(F.try_element_at(keep, pos + 2), F.lit(1)))[
                    "valid_from_ms"
                ]
            )
            .alias("valid_to_ms"),
            at(i)["state"].alias("state"),
            at(i)["alive"].alias("alive"),
        ),
    )
    exploded = src.select(F.explode(versions).alias("__v"))
    out = exploded.select(
        *[F.col(f"__v.state.{c}").alias(c) for c in cols],
        F.col("__v.valid_from_ms").alias("valid_from_ms"),
        F.col("__v.valid_to_ms").alias("valid_to_ms"),
        F.col("__v.alive").alias("alive"),
    )
    # an interval where the row is deleted = the entity doesn't exist
    # then; dropping it still leaves the deletion visible as the end of
    # the preceding interval
    out = out.filter(F.col("alive")).drop("alive")
    return out.withColumn("is_current", F.col("valid_to_ms").isNull())


def compact(
    spark: SparkSession,
    path: str,
    snapshot_path: str,
    as_of=None,
    format: str = "parquet",
    **kw,
) -> DataFrame:
    """Compaction: fold the statement log into a Parquet snapshot and
    return the compacted DataFrame.

    The README's operational pattern (``README.md:239-244``): serve
    current-state queries from the snapshot (no DML replay at all),
    keep the raw dir + ``.updates`` as the full history.  Statements
    with effective time **after** *as_of* remain pending — re-running
    compact later with a newer as_of rolls the snapshot forward.

    Not incremental: every call replays the **whole** log over the raw
    base through :func:`read_scd`, so its cost grows with the log, not
    with the statements appended since the last snapshot (incremental
    compaction is ROADMAP item 2).  A plain write job: no shuffle
    beyond the source layout."""
    df = read_scd(spark, path, as_of=as_of, format=format, **kw)
    df.write.mode("overwrite").parquet(snapshot_path)
    return spark.read.parquet(snapshot_path)
