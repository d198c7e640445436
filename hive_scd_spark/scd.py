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
measured build and execution cost by log length).  ``scd2_history``
compiles through the same layers and chunks.
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
_ALIVE = "__alive"  # history: the row still exists at this point of the fold


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


def _statement_layer(stmt: Stmt, types: dict[str, str], carry=()) -> tuple[str, str]:
    """One statement → ``(head, tail)`` of the SELECT that wraps the
    relation holding every earlier statement's effects, in the forms the
    module docstring gives.  SET columns resolve case-insensitively, like
    H2's unquoted identifiers; the WHERE and each SET value are cast to
    boolean and to the column's type.  *carry* (history only) names
    columns passed through after the table's own, the ``__alive`` flag
    first; a DELETE then clears that flag instead of dropping the row."""
    cond = "true" if stmt.where is None else (
        f"coalesce(CAST({_splice(stmt.where)} AS boolean), false)"
    )
    passed = [_quote(c) for c in carry]
    if stmt.kind == "delete":
        if not carry:
            return "SELECT * FROM", f"WHERE NOT {cond}"
        passed[0] = f"{passed[0]} AND NOT {cond} AS {passed[0]}"
        return f"SELECT {', '.join([*map(_quote, types), *passed])} FROM", ""
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
    return f"SELECT {', '.join([*items, *passed])} FROM", ""


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


def _run_layers(df: DataFrame, layers: list[tuple[str, str]], stmts: list[Stmt]) -> DataFrame:
    """Check every fragment of *stmts*, then hand *layers* to Spark as
    one nested ``spark.sql`` per chunk of :func:`_chunk_depth` layers,
    each over the previous chunk's analyzed frame."""
    spark = df.sparkSession
    _check_fragments(
        spark, [f for s in stmts for f in (s.where, *(e for _c, e in s.sets)) if f is not None]
    )
    depth = _chunk_depth(spark)
    for i in range(0, len(layers), depth):
        # spark.sql analyzes eagerly: unresolved columns/exprs fail here (A12)
        df = spark.sql(_nest(layers[i : i + depth]), base=df)
    return df


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
    return _run_layers(df, [_statement_layer(stmt, types) for stmt in todo], todo)


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
    spark: SparkSession, path, format: str, schema=None, options=None, root=None
) -> DataFrame:
    """Read *path* (one data dir or a list).  With the table *root* as
    ``basePath``, Spark-native formats infer the Hive partition columns
    (``p=0/``) of leaf dirs the same way ``spark.read`` of the root
    does; the avro_lite fallback infers none."""
    options = dict(options or {})
    if format == "avro":
        from hive_scd_spark.sources.avro import read_avro

        return read_avro(spark, path, reader_schema=schema, options=options)
    if root is not None and path != root:
        options = {"basePath": root, **options}
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
        base = _read_base(
            spark, dirs[0] if len(dirs) == 1 else dirs, format, schema, options, root=path
        )
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


def _history_steps(stmts: list[Stmt], times: list[int]) -> list[tuple[bool, list[Stmt]]]:
    """Per boundary ``t_i``: whether its state continues the state at
    ``t_{i-1}``, and the statements it folds.  It continues when the
    statements applicable at ``t_{i-1}`` are, in script order, a prefix
    of those applicable at ``t_i`` -- every newly applicable statement
    comes after all the old ones, the shape of an append-only log -- and
    then folds only the new ones.  Otherwise (effective times out of
    script order) it restores the source columns and replays
    ``applicable(stmts, t_i)`` from scratch."""
    steps, prev = [], []
    for t in times:
        now = applicable(stmts, t)
        cont = now[: len(prev)] == prev
        steps.append((cont, now[len(prev) :] if cont else now))
        prev = now
    return steps


def scd2_history(df: DataFrame, stmts, tracked_cols: list[str] | None = None) -> DataFrame:
    """Materialize a **Type-2** history table from the Type-7 statement
    log: one row per (entity, state interval), with ``valid_from_ms`` /
    ``valid_to_ms`` (NULL = current) and ``is_current``.  *tracked_cols*
    (default: every column) are the columns the output carries and the
    only ones whose change opens a new interval.

    The reference keeps history *implicitly* (base + timestamped DML,
    ``README.md:24-26``); this derives the standard explicit form in a
    single pass over the rows, with no joins and no per-time scans.  The
    boundaries are the raw state (time 0) and each distinct effective
    time t_i; a row's state at t_i is ``apply_statements(…, as_of=t_i)``
    of that row.  It compiles through the same statement layers as
    :func:`apply_statements`, one nested ``spark.sql`` per chunk:

    - each statement is one layer; a DELETE clears a carried ``__alive``
      flag instead of dropping the row;
    - each boundary adds one struct column of the tracked columns and
      ``__alive``; it continues the previous boundary's state when the
      log is append-only up to t_i (:func:`_history_steps`) and
      otherwise restores the source columns and replays every statement
      applicable at t_i, so out-of-order effective times need no
      separate path;
    - the boundary structs form one array (``__h``) in its own
      projection and the indices of the boundaries whose state differs
      from the previous one (``__k``) in the next, so the lambdas that
      turn kept boundaries into intervals read columns and Catalyst
      builds the array once per row;
    - the intervals are exploded and those where the row is deleted are
      dropped; the deletion stays visible as the end of the preceding
      interval."""
    if isinstance(stmts, str):
        stmts = parse_script(stmts)
    stmts = list(stmts)
    # boundaries: time 0 + each later distinct effective time; a statement
    # timed before 0 applies at every as-of >= 0, so it opens none
    times = sorted({0, *(max(s.effective_ms or 0, 0) for s in stmts)})
    cols = df.columns if tracked_cols is None else list(tracked_cols)
    types = {f.name: _sql_type(f.dataType) for f in df.schema.fields}
    steps = _history_steps(stmts, times)
    origs = {c: f"__o{j}" for j, c in enumerate(types)}
    restore = not all(cont for cont, _todo in steps)
    carried = [_ALIVE, *(origs.values() if restore else ())]
    init = [f"{_quote(c)} AS {_quote(o)}" for c, o in origs.items()] if restore else []
    layers = [(f"SELECT *, {', '.join([*init, f'true AS {_quote(_ALIVE)}'])} FROM", "")]
    state = ", ".join(_quote(c) for c in [*cols, _ALIVE])
    for i, (cont, todo) in enumerate(steps):
        if not cont:
            back = [f"{_quote(o)} AS {_quote(c)}" for c, o in origs.items()]
            keep = [_quote(c) for c in carried[1:]]
            layers.append((f"SELECT {', '.join([*back, *keep, f'true AS {_quote(_ALIVE)}'])} FROM", ""))
        layers += [_statement_layer(stmt, types, carried) for stmt in todo]
        layers.append((f"SELECT *, struct({state}) AS `__b{i}` FROM", ""))
        carried.append(f"__b{i}")
    boundaries = ", ".join(f"`__b{i}`" for i in range(len(times)))
    layers.append((f"SELECT array({boundaries}) AS `__h` FROM", ""))
    starts = f"array({', '.join(f'{t}L' for t in times)})"
    out = [f"`__v`.`state`.{_quote(c)} AS {_quote(c)}" for c in cols] + [
        "`__v`.`valid_from_ms` AS `valid_from_ms`",
        "`__v`.`valid_to_ms` AS `valid_to_ms`",
        "`__v`.`valid_to_ms` IS NULL AS `is_current`",
    ]
    layers += [
        (f"SELECT `__h`, filter(sequence(0, {len(times) - 1}),"
         " i -> i = 0 OR `__h`[i] != `__h`[i - 1]) AS `__k` FROM", ""),
        ("SELECT explode(transform(`__k`, (i, p) -> named_struct("
         f"'state', `__h`[i], 'valid_from_ms', {starts}[i], 'valid_to_ms', "
         f"CASE WHEN p + 1 < size(`__k`) THEN {starts}[`__k`[p + 1]] END))) AS `__v` FROM", ""),
        (f"SELECT {', '.join(out)} FROM", f"WHERE `__v`.`state`.{_quote(_ALIVE)}"),
    ]
    return _run_layers(df, layers, stmts)


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
