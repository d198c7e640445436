"""Lexer + parser for ``.updates`` SCD scripts.

Reference semantics (all citations into ``/root/reference``):

- ``SQLUpdater.java:121-159`` — line algorithm: strip ``--`` comments,
  join lines until a terminating ``;``, error on incomplete trailing
  SQL ("Incomplete SQL in updates file").
- ``SQLUpdater.java:121-129`` — a comment line ``-- time=<value>``
  (case-insensitive prefix) sets the effective time for all following
  statements; the default effective time is 0 (epoch).
- ``SQLUpdater.java:95-105`` — ``<value>`` is either a long (epoch
  millis) or an ISO date / date-time (Joda ``dateOptionalTimeParser``);
  an *empty* value means "the session as-of time" (the ``rootScdTime``
  default at ``:129``), modeled here as ``effective_ms=None``.
- ``SQLUpdater.java:54-70`` — statement classification by token
  sniffing: ``UPDATE <t> …`` or ``DELETE FROM <t> …``; anything else
  (including INSERT) raises "Unsupported DML"; all statements must name
  the same table ("Multiple table names in DDL").

Documented deviation (SURVEY.md §7.7): the reference's lexer strips
``--`` and splits on ``;`` even *inside* quoted string literals
(``SQLUpdater.java:133-135``).  This parser tracks SQL quoting
(``'…''…'`` literals, ``"…"`` quoted identifiers) so literals may
contain ``--`` and ``;`` — the intended semantics, covered by tests.
For provable behavioral parity with scripts that depend on the
reference's raw lexing, ``parse_script(..., compat="reference")``
reproduces ``SQLUpdater.readLines``; pass ``as_of_ms`` as well to get
the reference's READ-time as-of filter (``SQLUpdater.java:131``) and
with it full parity even for future-dated incomplete statements and
mid-statement directives.  The default (``compat="quoted"``) is
unchanged.

Everything here is driver-side, pure Python; the parsed statements are
compiled to Catalyst expressions in :mod:`hive_scd_spark.scd` — no
per-row interpreter exists anywhere in this package.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timezone


class ScdScriptError(ValueError):
    """Raised for malformed ``.updates`` scripts (fail-fast at compile
    time — a deliberate deviation from the reference, which logs and
    silently drops rows on SQLException, ``SQLUpdater.java:171-174``)."""


@dataclass(frozen=True)
class Stmt:
    """One parsed DML statement.

    ``effective_ms=None`` means "effective at the session as-of time"
    (produced by a bare ``-- time=`` directive, ``SQLUpdater.java:129``),
    i.e. the statement applies whenever as-of is non-negative.
    """

    kind: str  # "update" | "delete"
    table: str
    sets: tuple[tuple[str, str], ...] = field(default=())  # (column, sql_expr)
    where: str | None = None
    effective_ms: int | None = 0
    sql: str = ""  # original statement text (diagnostics)


_TIME_DIRECTIVE = re.compile(r"^--\s*time=(.*)$", re.IGNORECASE)


def parse_scd_time(value: str, default: int | None) -> int | None:
    """Parse a ``scd.time`` / ``-- time=`` value → epoch millis.

    Mirrors ``SQLUpdater.asSCDTime`` (``SQLUpdater.java:95-105``):
    empty string → *default*; else long millis; else ISO date or
    date-time (``yyyy-MM-dd`` / ``yyyy-MM-ddTHH:mm:ss[±hh:mm]``).
    Offset-less values are interpreted as UTC (sessions pin
    ``spark.sql.session.timeZone=UTC``; the reference used the JVM
    default zone).
    """
    text = value.strip()
    if not text:
        return default
    try:
        return int(text)
    except ValueError:
        pass
    try:
        dt = datetime.fromisoformat(text)
    except ValueError as exc:
        raise ScdScriptError(f"Invalid SCD time value: {value!r}") from exc
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


_TIME_PREFIX = "-- time="  # SQLUpdater.java:121 (raw, case-folded prefix)


def _scan_statements_reference(
    text: str, as_of_ms: int | None = None
) -> list[tuple[str, int | None]]:
    """Reference-exact lexing (``SQLUpdater.java:123-159``):

    - time directive = raw ``"-- time="`` prefix on the UNtrimmed line,
      case-insensitive, no flexible whitespace (``:128``);
    - comment-strip at the first ``--`` anywhere in the trimmed line,
      even inside string literals (``:133-135``);
    - a statement completes only when a stripped line ENDS with ``;``
      (``:139``) — mid-line semicolons do NOT split; multi-line
      statements join with a single space (``:144``).

    With *as_of_ms* supplied, the reference's READ-time filter is also
    reproduced (``:131``, ``currentScdTime <= rootScdTime`` guards the
    whole lexing branch): lines under an inapplicable directive are
    never lexed, so a future-dated incomplete statement is silently
    skipped (not an error), and a mid-statement directive that filters
    the continuation leaves the pending fragment to either join with a
    later applicable line or raise "Incomplete SQL" at EOF — exactly
    the reference's behavior.  Without *as_of_ms* this scanner tags
    each statement with the directive in force at its completion and
    leaves filtering to :func:`applicable`; that is equivalent for
    scripts whose directives sit between statements (the documented
    format, ``README.md:139-144``), which is the limit of the parity
    claim in that mode.

    The terminating ``;`` is removed before statement parsing: the
    reference hands it verbatim to H2, which tolerates the terminator.
    """
    statements: list[tuple[str, int | None]] = []
    current_time: int | None = 0
    pending: str | None = None
    for raw_line in text.splitlines():
        if raw_line.lower().startswith(_TIME_PREFIX):
            # empty value → rootScdTime (the session as-of), SQLUpdater.java:129
            current_time = parse_scd_time(raw_line[len(_TIME_PREFIX):], None)
            continue
        if as_of_ms is not None:
            effective = as_of_ms if current_time is None else current_time
            if effective > as_of_ms:
                continue  # read-time filter, SQLUpdater.java:131
        line = raw_line.strip()
        idx = line.find("--")
        if idx >= 0:
            line = line[:idx]
        if not line:
            continue
        if not line.endswith(";"):
            pending = ("" if pending is None else pending) + line + " "
        else:
            stmt = ("" if pending is None else pending) + line
            pending = None
            statements.append((stmt[:-1].strip(), current_time))
    if pending is not None:
        # IllegalStateException at SQLUpdater.java:155-157
        raise ScdScriptError(
            f"Incomplete SQL statement in updates file: {pending.strip()!r}"
        )
    return statements


def _scan_statements(
    text: str, compat: str = "quoted", as_of_ms: int | None = None
) -> list[tuple[str, int | None]]:
    """The line algorithm of ``SQLUpdater.readLines``
    (``SQLUpdater.java:121-159``): returns ``[(sql, effective_ms)]`` in
    file order.  Quote-aware by default; ``compat="reference"`` lexes
    exactly as the reference does (see module docstring), including the
    read-time as-of filter when *as_of_ms* is given."""
    if compat == "reference":
        return _scan_statements_reference(text, as_of_ms)
    if as_of_ms is not None:
        raise ValueError("as_of_ms is only meaningful with compat='reference'")
    if compat != "quoted":
        raise ValueError(f"Unknown lexer compat mode: {compat!r}")
    statements: list[tuple[str, int | None]] = []
    current_time: int | None = 0  # default effective time = epoch, SQLUpdater.java:125

    def flush(stmt_text: str) -> None:
        stmt_text = stmt_text.strip()
        if stmt_text:
            statements.append((stmt_text, current_time))

    in_squote = in_dquote = False
    pending = ""  # accumulated SQL across lines
    for raw_line in text.splitlines():
        line = raw_line
        stripped = line.strip()
        if not in_squote and not in_dquote and stripped.startswith("--"):
            m = _TIME_DIRECTIVE.match(stripped)
            if m:
                current_time = parse_scd_time(m.group(1), None)
            continue
        # scan char-by-char: track quotes, strip -- comments, split on ;
        i = 0
        kept: list[str] = []
        n = len(line)
        while i < n:
            ch = line[i]
            if in_squote:
                kept.append(ch)
                if ch == "'":
                    if i + 1 < n and line[i + 1] == "'":  # escaped ''
                        kept.append("'")
                        i += 1
                    else:
                        in_squote = False
            elif in_dquote:
                kept.append(ch)
                if ch == '"':
                    in_dquote = False
            elif ch == "'":
                in_squote = True
                kept.append(ch)
            elif ch == '"':
                in_dquote = True
                kept.append(ch)
            elif ch == "-" and i + 1 < n and line[i + 1] == "-":
                break  # rest of line is a comment
            elif ch == ";":
                flush(pending + "".join(kept))
                pending = ""
                kept = []
            else:
                kept.append(ch)
            i += 1
        pending = pending + "".join(kept)
        if pending.strip():
            pending += " "  # newline → space when joining lines
    if pending.strip():
        # SQLUpdater.java:155-157
        raise ScdScriptError(
            f"Incomplete SQL statement in updates file: {pending.strip()!r}"
        )
    return statements


# -- statement-level parsing -------------------------------------------------

_IDENT = r'(?:[A-Za-z_][A-Za-z_0-9$]*|"[^"]+"|`[^`]+`)'
_UPDATE_RE = re.compile(rf"^\s*UPDATE\s+({_IDENT})\s+SET\s+(.*)$", re.IGNORECASE | re.DOTALL)
_DELETE_RE = re.compile(rf"^\s*DELETE\s+FROM\s+({_IDENT})\s*(.*)$", re.IGNORECASE | re.DOTALL)
_WHERE_RE = re.compile(r"^\s*WHERE\s+(.*)$", re.IGNORECASE | re.DOTALL)


def _split_top_level(text: str, is_sep) -> list[str]:
    """Split *text* at top-level separator positions (outside quotes and
    parens).  ``is_sep(text, i)`` returns the separator length at i, or 0."""
    parts: list[str] = []
    depth = 0
    in_squote = in_dquote = False
    start = 0
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if in_squote:
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    i += 1
                else:
                    in_squote = False
        elif in_dquote:
            if ch == '"':
                in_dquote = False
        elif ch == "'":
            in_squote = True
        elif ch == '"':
            in_dquote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            sep_len = is_sep(text, i)
            if sep_len:
                parts.append(text[start:i])
                i += sep_len
                start = i
                continue
        i += 1
    parts.append(text[start:])
    return parts


def _comma_sep(text: str, i: int) -> int:
    return 1 if text[i] == "," else 0


_WHERE_WORD = re.compile(r"WHERE\b", re.IGNORECASE)


def _where_sep(text: str, i: int) -> int:
    if text[i] in "Ww" and _WHERE_WORD.match(text, i):
        # must be a standalone word: preceded by non-identifier char
        if i == 0 or not (text[i - 1].isalnum() or text[i - 1] in "_$"):
            return 5
    return 0


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if len(ident) >= 2 and ident[0] == ident[-1] and ident[0] in ('"', "`"):
        return ident[1:-1].replace(ident[0] * 2, ident[0])  # `a``b` names a`b
    return ident


# -- H2 dialect compatibility (SURVEY §7.4) ----------------------------------
# The reference evaluates every DML fragment with the H2 engine
# (SQLUpdater.java:77), so H2's function library is nominally in scope
# for `.updates` scripts.  Most of it is already valid Spark SQL (NVL,
# NVL2, IFNULL, DECODE, ||, CURRENT_DATE, CURDATE, CHAR, LOCATE, ...);
# the shim below rewrites the common H2-isms that are NOT, and loudly
# rejects the unmappable ones instead of leaking a raw Spark analysis
# error.  Almost every rewrite targets a form that is an analysis ERROR
# in Spark today (CASEWHEN(...), DATEADD('DAY', ...), bare SYSDATE,
# 3-arg INSTR, 3-arg REGEXP_LIKE), so valid Spark fragments can never
# be altered.  Documented exceptions where the H2 meaning WINS over a
# form Spark would also accept (the fragment dialect is H2 — the
# reference hands these strings to the H2 engine, so H2 semantics are
# the compatibility contract):
#   - CONCAT(...): H2 treats NULL args as '' while Spark nulls the
#     whole result — rewritten to concat(coalesce(x, ''), ...);
#   - an unquoted column literally named `sysdate`, which must be
#     double-quoted to escape the keyword rewrite (as in H2 itself);
#   - TRUNC(ts, 'MM'): also valid Spark (trunc → DATE) but H2/Oracle
#     returns a datetime — rewritten to date_trunc (TIMESTAMP), so a
#     caller relying on Spark's trunc-to-DATE rendering must not route
#     through the shim;
#   - TO_CHAR: Spark 3.4+ has a NUMERIC to_char which the shim rejects
#     (ScdScriptError) because the H2 fragment dialect reads TO_CHAR
#     as the Oracle datetime form — quote nothing through the shim if
#     Spark's numeric to_char is what you mean.

_H2_TIME_UNITS = frozenset(
    {
        "year", "quarter", "month", "week", "day",
        "hour", "minute", "second", "millisecond", "microsecond",
    }
)

_WORD_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9$]*")


def _leading_unit(text: str, start: int) -> tuple[str, int] | None:
    """If the token at *start* is an H2 datetime unit — quoted
    (``'DAY'``) or bare (``DAY``) — return (unit_name, index_after)."""
    n = len(text)
    k = start
    while k < n and text[k].isspace():
        k += 1
    if k < n and text[k] == "'":
        m = re.match(r"'([A-Za-z_]+)'", text[k:])
        if m and m.group(1).lower() in _H2_TIME_UNITS:
            return m.group(1), k + m.end()
        return None
    m = _WORD_RE.match(text, k)
    if m and m.group(0).lower() in _H2_TIME_UNITS:
        return m.group(0), m.end()
    return None


def _call_args(text: str, open_idx: int) -> tuple[list[str], int]:
    """Split the argument list of the call whose ``(`` is at *open_idx*
    into top-level-comma-separated pieces, respecting string literals,
    quoted identifiers, and nested parens.  Returns (args, index after
    the closing paren)."""
    n = len(text)
    depth = 0
    args: list[str] = []
    cur = open_idx + 1
    i = open_idx
    while i < n:
        ch = text[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if ch in ('"', "`"):
            j = text.find(ch, i + 1)
            i = (n if j < 0 else j) + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                args.append(text[cur:i])
                return args, i + 1
        elif ch == "," and depth == 1:
            args.append(text[cur:i])
            cur = i + 1
        i += 1
    raise ScdScriptError(f"unbalanced parentheses in fragment: {text!r}")


# H2/Oracle TRUNC datetime units → Spark date_trunc units (Oracle
# format-model aliases included; numeric TRUNC is rejected — see
# translate_h2's TRUNCATE note)
_H2_TRUNC_UNITS = {
    "year": "YEAR", "yyyy": "YEAR", "yy": "YEAR",
    "quarter": "QUARTER", "q": "QUARTER",
    "month": "MONTH", "mm": "MONTH",
    "week": "WEEK",
    "day": "DAY", "dd": "DAY",
    "hour": "HOUR", "hh": "HOUR", "hh24": "HOUR",
    "minute": "MINUTE", "mi": "MINUTE",
    "second": "SECOND", "ss": "SECOND",
}

# Oracle/H2 datetime format elements → Java SimpleDateFormat-style
# (Spark date_format) elements.  Longest-match-first: HH24 before HH,
# YYYY before YY.  Only elements whose Spark rendering is exactly the
# H2 rendering are mapped (zero-padded numerics); word elements (MON,
# DAY), fill-mode FM, AM/PM, and fractional seconds are rejected — H2
# locale/casing behavior differs and a silent mismatch is worse than
# an error.
_H2_TO_CHAR_ELEMS = [
    ("YYYY", "yyyy"), ("YY", "yy"), ("HH24", "HH"), ("HH12", "hh"),
    ("HH", "hh"), ("MM", "MM"), ("MI", "mm"), ("DD", "dd"), ("SS", "ss"),
]
_H2_TO_CHAR_SEPS = " -/:.,"


def _h2_datefmt_to_java(fmt: str, fragment: str) -> str:
    """Translate an Oracle/H2 TO_CHAR datetime format model to the Java
    pattern Spark's ``date_format`` takes.  Unknown elements raise.

    ADJACENT elements must not fuse: H2 parses 'MMMM' as MM+MM
    ('0303') but the concatenated Java pattern MMMM means the full
    month name ('March'), and doubled runs like 'ssss' are not valid
    Java patterns at all (SparkUpgradeException at EXECUTION, not
    translate time) — so any element that would extend the previous
    element's trailing letter run is rejected here, loudly."""
    out: list[str] = []
    upper = fmt.upper()
    i = 0
    while i < len(fmt):
        for h2_elem, java_elem in _H2_TO_CHAR_ELEMS:
            if upper.startswith(h2_elem, i):
                if out and out[-1] and out[-1][-1] == java_elem[0]:
                    raise ScdScriptError(
                        f"adjacent H2 TO_CHAR elements {out[-1]!r} and "
                        f"{java_elem!r} would fuse into one Java letter "
                        f"run with a DIFFERENT meaning (H2 renders them "
                        f"as two fields) — separate them: {fragment!r}"
                    )
                out.append(java_elem)
                i += len(h2_elem)
                break
        else:
            if fmt[i] in _H2_TO_CHAR_SEPS:
                out.append(fmt[i])
                i += 1
            else:
                raise ScdScriptError(
                    f"unsupported H2 TO_CHAR format element at {fmt[i:]!r} "
                    f"(supported: YYYY YY MM DD HH24 HH12 HH MI SS and "
                    f"separators {_H2_TO_CHAR_SEPS!r}; word elements / FM / "
                    f"AM-PM / numeric formats are rejected — their H2 "
                    f"rendering is locale-dependent): {fragment!r}"
                )
    return "".join(out)


# H2 REGEXP_LIKE / REGEXP_REPLACE flag chars → Java embedded-flag
# chars (both engines compile java.util.regex underneath, so the
# embedded form is exact): 'i' case-insensitive → (?i); 'n'
# dot-matches-newline → (?s) [Java DOTALL]; 'm' multiline → (?m); 'c'
# case-sensitive is the default → no embedded flag.  Anything else is
# rejected loudly.
_H2_REGEX_FLAG_MAP = {"i": "i", "n": "s", "m": "m", "c": ""}


def _fold_regex_flags(flag_arg: str, func: str, fragment: str) -> str:
    """Validate a literal H2 regex-flags argument and return the Java
    embedded-flag prefix (possibly '') — shared by REGEXP_LIKE and
    REGEXP_REPLACE.  Non-literal or unknown flags raise."""
    flag_lit = re.fullmatch(r"'([A-Za-z]*)'", flag_arg.strip())
    if flag_lit is None:
        raise ScdScriptError(
            f"H2 {func} flags must be a string literal "
            f"(got {flag_arg.strip()!r}): {fragment!r}"
        )
    emb = []
    for c in flag_lit.group(1).lower():
        if c not in _H2_REGEX_FLAG_MAP:
            raise ScdScriptError(
                f"unsupported H2 {func} flag {c!r} "
                f"(supported: i, c, n, m): {fragment!r}"
            )
        if _H2_REGEX_FLAG_MAP[c]:
            emb.append(_H2_REGEX_FLAG_MAP[c])
    return f"(?{''.join(emb)})" if emb else ""


# FORMATDATETIME pattern letters whose SimpleDateFormat (H2) and
# DateTimeFormatter (Spark) renderings coincide, with the run lengths
# where that holds.  Word elements (MMM/EEE), zone/era letters, and
# quoted literals are rejected — their renderings are locale- or
# API-divergent and a silent mismatch is worse than an error.
_H2_FMTDT_RUNS = {
    "y": (1, 2, 4), "M": (1, 2), "d": (1, 2),
    "H": (1, 2), "h": (1, 2), "m": (1, 2), "s": (1, 2),
}


def _check_formatdatetime_fmt(fmt: str, fragment: str) -> str:
    """H2's FORMATDATETIME hands its format string to
    java.text.SimpleDateFormat, and Spark's date_format to
    DateTimeFormatter — same pattern language on the numeric subset,
    divergent elsewhere.  Validate that every token is in the agreeing
    subset and return the pattern unchanged."""
    i, n = 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch.isalpha():
            j = i
            while j < n and fmt[j] == ch:
                j += 1
            if ch not in _H2_FMTDT_RUNS or (j - i) not in _H2_FMTDT_RUNS[ch]:
                raise ScdScriptError(
                    f"unsupported FORMATDATETIME pattern element "
                    f"{fmt[i:j]!r} (supported: "
                    f"{'/'.join(sorted(_H2_FMTDT_RUNS))} runs where "
                    f"SimpleDateFormat and Spark's DateTimeFormatter "
                    f"agree, plus separators {_H2_TO_CHAR_SEPS!r}): "
                    f"{fragment!r}"
                )
            i = j
        elif ch in _H2_TO_CHAR_SEPS:
            i += 1
        else:
            raise ScdScriptError(
                f"unsupported FORMATDATETIME pattern character {ch!r} "
                f"(quoted literals and non-separator punctuation render "
                f"differently between the engines): {fragment!r}"
            )
    return fmt


def translate_h2(fragment: str) -> str:
    """Rewrite H2-dialect constructs in a SET/WHERE fragment to Spark
    SQL.  String literals and quoted identifiers pass through verbatim.

    - ``CASEWHEN(c, a, b)`` → ``if(c, a, b)``
    - ``DATEADD('DAY', n, ts)`` / ``DATEADD(DAY, n, ts)`` →
      ``timestampadd(DAY, n, ts)`` (only when the first argument is a
      recognized datetime unit — 2-arg Spark ``dateadd`` is untouched)
    - ``DATEDIFF('DAY', a, b)`` → ``timestampdiff(DAY, a, b)`` (same
      guard; Spark's own 2-arg ``datediff`` is untouched)
    - bare ``SYSDATE`` → ``current_timestamp()``
    - ``CONCAT(a, b, ...)`` → ``concat(coalesce(a, ''), ...)`` — H2
      skips NULL arguments where Spark nulls the whole result; the H2
      meaning wins because `.updates` fragments are H2 dialect
    - ``INSTR(s, sub, start)`` (3-arg) → ``locate(sub, s, start)``
      (Spark ``instr`` is 2-arg only; 2-arg INSTR is untouched —
      identical semantics, 1-based, 0 when absent)
    - ``REGEXP_LIKE(s, p, 'flags')`` (3-arg) → 2-arg ``regexp_like``
      with the flags folded into the pattern as Java embedded flags
      (``(?i)`` etc. — both engines run java.util.regex, so this is
      exact); non-literal or unknown flags → :class:`ScdScriptError`.
      2-arg REGEXP_LIKE is untouched (already valid Spark)
    - ``REGEXP_REPLACE(s, p, r, 'flags')`` (4-arg) → 3-arg
      ``regexp_replace`` with the flags folded into the pattern the
      same way — Spark's OWN 4-arg form reads an integer start
      position there, so passing the H2 call through would silently
      change meaning; non-literal or unknown flags →
      :class:`ScdScriptError`.  3-arg REGEXP_REPLACE is untouched
      (both engines run java.util.regex replaceAll, $-backreferences
      included)
    - ``FORMATDATETIME(x, '<fmt>')`` → ``date_format(x, '<fmt>')``
      after validating every pattern element is in the subset where
      H2's SimpleDateFormat and Spark's DateTimeFormatter agree
      (numeric y/M/d/H/h/m/s runs + separators); word elements,
      quoted literals, zone letters, and the locale / time-zone
      overloads → :class:`ScdScriptError`
    - ``BITAND/BITOR/BITXOR(a, b)`` → ``(a & b)`` / ``|`` / ``^``
      (H2 spells these as functions; Spark's ``bit_and`` etc. are
      AGGREGATES, so a name-for-name mapping would silently change
      semantics — the operator rewrite is the faithful one)
    - ``LSHIFT/RSHIFT(a, n)`` → ``shiftleft/shiftright(a, n)``
    - ``DAY_OF_WEEK/DAY_OF_MONTH/DAY_OF_YEAR`` (H2 underscore aliases)
      → ``dayofweek/dayofmonth/dayofyear``
    - ``ISO_DAY_OF_WEEK(d)`` → ``((dayofweek(d) + 5) % 7) + 1``
      (Mon=1..Sun=7; Spark's dayofweek is Sun=1..Sat=7)
    - ``CURDATE`` (bare or call) → ``current_date()``
    - ``RANDOM_UUID()`` → ``uuid()``
    - ``INSERT(s, start, len, repl)`` (the H2 STRING function — DML
      INSERT never reaches a fragment) → ``overlay(s, repl, start,
      len)`` wrapped in a CASE that returns the ORIGINAL string when
      ``start < 1``, ``start > length(s) + 1``, or ``len <= 0`` —
      H2/MySQL boundary semantics that Spark's overlay does not share
    - ``LOCATE`` / ``IFNULL`` / ``NVL`` / ``NVL2`` / ``DECODE`` /
      ``||`` need no rewrite — identical in both dialects (within the
      supported type universe) — and are covered by the fuzz corpus
    - ``TO_CHAR(x, '<datetime format>')`` → ``date_format(x,
      '<java format>')`` with the Oracle/H2 format model translated
      element-by-element (YYYY/YY/MM/DD/HH24/HH12/HH/MI/SS +
      separators); word elements (MON/DAY), FM, AM/PM, and NUMERIC
      format models → :class:`ScdScriptError` (locale/padding
      renderings differ between the engines — reject rather than
      silently diverge); 1-arg TO_CHAR is likewise rejected
    - ``TRUNC(x, '<unit>')`` (datetime, literal unit incl. Oracle
      aliases YYYY/MM/DD/Q/HH24/MI/...) → ``date_trunc('<unit>', x)``;
      1-arg or numeric TRUNC → :class:`ScdScriptError` (numeric
      truncate has the same double-round-trip divergence as TRUNCATE)
    - ``CURTIME`` / ``CURRENT_TIME`` → :class:`ScdScriptError` (Spark
      has no TIME type — fail with a dialect-specific message)
    - ``TRUNCATE(n, d)`` (numeric) → :class:`ScdScriptError` — Spark
      has no toward-zero numeric truncate; a pow(10)-based emulation
      would round-trip through doubles and diverge from H2 on exact
      decimals, the silent-wrongness this shim exists to prevent
    """
    out: list[str] = []
    i, n = 0, len(fragment)
    while i < n:
        ch = fragment[i]
        if ch == "'":  # string literal, '' escapes
            j = i + 1
            while j < n:
                if fragment[j] == "'":
                    if j + 1 < n and fragment[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(fragment[i : j + 1])
            i = j + 1
            continue
        if ch in ('"', "`"):  # quoted identifier
            j = fragment.find(ch, i + 1)
            j = n - 1 if j < 0 else j
            out.append(fragment[i : j + 1])
            i = j + 1
            continue
        m = _WORD_RE.match(fragment, i)
        if not m:
            out.append(ch)
            i += 1
            continue
        word = m.group(0)
        lw = word.lower()
        j = m.end()
        k = j
        while k < n and fragment[k].isspace():
            k += 1
        is_call = k < n and fragment[k] == "("
        if lw == "casewhen" and is_call:
            out.append("if")
            i = j
            continue
        if lw == "sysdate" and not is_call:
            out.append("current_timestamp()")
            i = j
            continue
        if lw in ("curtime", "current_time"):
            raise ScdScriptError(
                f"H2 {word.upper()} has no Spark equivalent (Spark has no TIME "
                f"type); use CURRENT_TIMESTAMP and extract fields instead: "
                f"{fragment!r}"
            )
        if lw == "truncate" and is_call:
            raise ScdScriptError(
                "H2 numeric TRUNCATE(n, d) has no exact Spark equivalent "
                "(a pow(10) emulation would run through doubles and diverge "
                f"on exact decimals); rewrite with floor/ceil explicitly: "
                f"{fragment!r}"
            )
        if lw == "curdate":
            if is_call:
                args, after = _call_args(fragment, k)
                if any(a.strip() for a in args):
                    raise ScdScriptError(
                        f"H2 CURDATE takes no arguments: {fragment!r}"
                    )
                i = after
            else:
                i = j
            out.append("current_date()")
            continue
        if lw == "random_uuid" and is_call:
            out.append("uuid")
            i = j
            continue
        if lw in ("bitand", "bitor", "bitxor") and is_call:
            args, after = _call_args(fragment, k)
            if len(args) != 2:
                raise ScdScriptError(
                    f"H2 {word.upper()} needs exactly 2 arguments: {fragment!r}"
                )
            op = {"bitand": "&", "bitor": "|", "bitxor": "^"}[lw]
            a, b = (translate_h2(x.strip()) for x in args)
            out.append(f"({a} {op} {b})")
            i = after
            continue
        if lw in ("lshift", "rshift") and is_call:
            # H2 and Java diverge outside [0, 63]: H2 shifts the OTHER
            # direction for negative distances and saturates to 0 /
            # sign-fill at |n| >= bit width, while Spark/Java wraps the
            # distance mod 64 (LSHIFT(x, 64) would silently become x).
            # Only literal in-range distances are provably safe —
            # anything else fails loudly, same contract as TRUNCATE.
            args, after = _call_args(fragment, k)
            if len(args) != 2:
                raise ScdScriptError(
                    f"H2 {word.upper()} needs exactly 2 arguments: {fragment!r}"
                )
            dist = args[1].strip()
            if not re.fullmatch(r"\d+", dist) or not 0 <= int(dist) <= 63:
                raise ScdScriptError(
                    f"H2 {word.upper()} distance must be a literal in [0, 63] "
                    f"(H2 negative/overflow shift semantics differ from "
                    f"Spark's mod-64 wrap): {fragment!r}"
                )
            fn = "shiftleft" if lw == "lshift" else "shiftright"
            out.append(f"{fn}({translate_h2(args[0].strip())}, {dist})")
            i = after
            continue
        if lw in ("day_of_week", "day_of_month", "day_of_year") and is_call:
            out.append(lw.replace("_", ""))
            i = j
            continue
        if lw == "iso_day_of_week" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) != 1:
                raise ScdScriptError(
                    f"H2 ISO_DAY_OF_WEEK needs exactly 1 argument: {fragment!r}"
                )
            a = translate_h2(args[0].strip())
            out.append(f"(((dayofweek({a}) + 5) % 7) + 1)")
            i = after
            continue
        if lw == "to_char" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) != 2:
                raise ScdScriptError(
                    f"H2 TO_CHAR is supported only in 2-argument datetime "
                    f"form TO_CHAR(x, '<format>') (1-arg TO_CHAR renders "
                    f"type-dependently in H2 — cast explicitly instead): "
                    f"{fragment!r}"
                )
            fmt_lit = re.fullmatch(r"'([^']*)'", args[1].strip())
            if fmt_lit is None:
                raise ScdScriptError(
                    f"H2 TO_CHAR format must be a string literal "
                    f"(got {args[1].strip()!r}): {fragment!r}"
                )
            java_fmt = _h2_datefmt_to_java(fmt_lit.group(1), fragment)
            out.append(
                f"date_format({translate_h2(args[0].strip())}, '{java_fmt}')"
            )
            i = after
            continue
        if lw == "trunc" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) == 2:
                unit_lit = re.fullmatch(r"'([A-Za-z0-9]+)'", args[1].strip())
                if unit_lit and unit_lit.group(1).lower() in _H2_TRUNC_UNITS:
                    unit = _H2_TRUNC_UNITS[unit_lit.group(1).lower()]
                    a = translate_h2(args[0].strip())
                    out.append(f"date_trunc('{unit}', {a})")
                    i = after
                    continue
            raise ScdScriptError(
                f"H2 TRUNC is supported only as datetime "
                f"TRUNC(x, '<unit>') with a literal unit in "
                f"{sorted(set(_H2_TRUNC_UNITS))}; numeric TRUNC has no "
                f"exact Spark equivalent (same divergence as TRUNCATE — "
                f"rewrite with floor/ceil explicitly): {fragment!r}"
            )
        if lw == "insert" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) != 4:
                raise ScdScriptError(
                    f"H2 string INSERT needs exactly 4 arguments "
                    f"(s, start, len, repl): {fragment!r}"
                )
            s, start, ln, repl = (translate_h2(x.strip()) for x in args)
            # The CASE wrapper evaluates arguments more than once —
            # fine for pure expressions (Catalyst CSE), WRONG for
            # non-deterministic ones (uuid()/rand() are NOT
            # subexpression-eliminated, so the branch decision and the
            # returned value would come from different draws — H2
            # evaluates each argument exactly once).  Reject loudly.
            # Function-HEAD match (word boundary before the name), not
            # raw substring: 'operand(x)' must not trip the rand() net.
            nondet = re.compile(
                r"(?<![0-9a-z_$])(?:uuid|randn?|random|shuffle)\s*\(",
                re.IGNORECASE,
            )
            for arg_sql in (s, start, ln, repl):
                if nondet.search(arg_sql):
                    raise ScdScriptError(
                        f"H2 INSERT with a non-deterministic argument "
                        f"cannot be rewritten (the CASE wrapper would "
                        f"re-evaluate it): {fragment!r}"
                    )
            # H2 StringFunction.insert contract, replicated in full:
            # NULL original → the replacement comes back; NULL
            # replacement → the original; the ORIGINAL also comes back
            # for start < 1, start > length(s) + 1, len <= 0, or an
            # EMPTY replacement (H2's len2 == 0 branch — a bare
            # overlay would splice '' and DELETE len chars).  The ELSE
            # branch (in-range) is exactly overlay.  Arguments are
            # pure expressions (guarded above), so the repeated
            # evaluation inside the CASE is collapsed by Catalyst.
            out.append(
                f"(CASE WHEN ({s}) IS NULL THEN {repl} "
                f"WHEN ({repl}) IS NULL THEN {s} "
                f"WHEN ({start}) < 1 OR ({start}) > length({s}) + 1 "
                f"OR ({ln}) <= 0 OR length({repl}) = 0 THEN {s} "
                f"ELSE overlay({s}, {repl}, {start}, {ln}) END)"
            )
            i = after
            continue
        if lw in ("dateadd", "datediff") and is_call:
            unit = _leading_unit(fragment, k + 1)
            if unit is not None:
                unit_name, after = unit
                out.append(
                    ("timestampadd(" if lw == "dateadd" else "timestampdiff(")
                    + unit_name
                )
                i = after
                continue
        if lw == "concat" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) < 2 or any(not a.strip() for a in args):
                raise ScdScriptError(
                    f"H2 CONCAT needs >= 2 non-empty arguments: {fragment!r}"
                )
            out.append(
                "concat("
                + ", ".join(f"coalesce({translate_h2(a.strip())}, '')" for a in args)
                + ")"
            )
            i = after
            continue
        if lw == "instr" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) == 3:
                s, sub, start = (translate_h2(a.strip()) for a in args)
                out.append(f"locate({sub}, {s}, {start})")
                i = after
                continue
            # 2-arg INSTR is Spark's own instr — fall through untouched
        if lw == "regexp_like" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) == 3:
                prefix = _fold_regex_flags(args[2], "REGEXP_LIKE", fragment)
                s = translate_h2(args[0].strip())
                p = translate_h2(args[1].strip())
                if prefix:
                    out.append(f"regexp_like({s}, concat('{prefix}', {p}))")
                else:
                    out.append(f"regexp_like({s}, {p})")
                i = after
                continue
            # 2-arg REGEXP_LIKE is already valid Spark — untouched
        if lw == "regexp_replace" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) == 4:
                # In the H2 dialect the 4th argument is a FLAGS string;
                # Spark's own 4-arg regexp_replace reads an integer
                # start POSITION there — passing the call through would
                # silently change meaning, so the flagged form is
                # folded into the pattern (both engines run
                # java.util.regex; Matcher.replaceAll semantics incl.
                # $-backreferences already agree on the 3-arg form).
                prefix = _fold_regex_flags(args[3], "REGEXP_REPLACE", fragment)
                s = translate_h2(args[0].strip())
                p = translate_h2(args[1].strip())
                r = translate_h2(args[2].strip())
                if prefix:
                    out.append(
                        f"regexp_replace({s}, concat('{prefix}', {p}), {r})"
                    )
                else:
                    out.append(f"regexp_replace({s}, {p}, {r})")
                i = after
                continue
            # 3-arg REGEXP_REPLACE: identical java.util.regex
            # replaceAll semantics in both engines — untouched
        if lw == "formatdatetime" and is_call:
            args, after = _call_args(fragment, k)
            if len(args) != 2:
                raise ScdScriptError(
                    f"H2 FORMATDATETIME is supported only in 2-argument "
                    f"form FORMATDATETIME(x, '<format>') (the locale / "
                    f"time-zone overloads have no Spark equivalent): "
                    f"{fragment!r}"
                )
            fmt_lit = re.fullmatch(r"'([^']*)'", args[1].strip())
            if fmt_lit is None:
                raise ScdScriptError(
                    f"H2 FORMATDATETIME format must be a string literal "
                    f"(got {args[1].strip()!r}): {fragment!r}"
                )
            fmt = _check_formatdatetime_fmt(fmt_lit.group(1), fragment)
            out.append(
                f"date_format({translate_h2(args[0].strip())}, '{fmt}')"
            )
            i = after
            continue
        out.append(word)
        i = j
    return "".join(out)


def _parse_statement(sql: str, effective_ms: int | None) -> Stmt:
    m = _UPDATE_RE.match(sql)
    if m:
        table = _unquote(m.group(1))
        rest = m.group(2)
        body, *where_parts = _split_top_level(rest, _where_sep)
        if len(where_parts) > 1:
            raise ScdScriptError(f"Multiple WHERE clauses in statement: {sql!r}")
        where = where_parts[0].strip() if where_parts else None
        sets: list[tuple[str, str]] = []
        for assign in _split_top_level(body, _comma_sep):
            if "=" not in assign:
                raise ScdScriptError(f"Malformed SET clause {assign!r} in: {sql!r}")
            col, _, expr = assign.partition("=")
            col, expr = _unquote(col), expr.strip()
            if not col or not expr:
                raise ScdScriptError(f"Malformed SET clause {assign!r} in: {sql!r}")
            sets.append((col, translate_h2(expr)))
        if not sets:
            raise ScdScriptError(f"UPDATE with no SET clauses: {sql!r}")
        where = translate_h2(where) if where else None
        return Stmt("update", table, tuple(sets), where or None, effective_ms, sql)
    m = _DELETE_RE.match(sql)
    if m:
        table = _unquote(m.group(1))
        rest = m.group(2).strip()
        where = None
        if rest:
            wm = _WHERE_RE.match(rest)
            if not wm:
                raise ScdScriptError(f"Malformed DELETE statement: {sql!r}")
            where = translate_h2(wm.group(1).strip())
        return Stmt("delete", table, (), where, effective_ms, sql)
    # SQLUpdater.java:62-63 — anything else, incl. INSERT, is rejected
    raise ScdScriptError(f"Unsupported DML statement: {sql!r}")


def parse_script(
    text: str, compat: str = "quoted", as_of_ms: int | None = None
) -> list[Stmt]:
    """Parse a full ``.updates`` script into ordered :class:`Stmt` list,
    enforcing the single-table rule (``SQLUpdater.java:64-69``).
    ``compat="reference"`` switches to reference-exact lexing; pass
    *as_of_ms* there to also reproduce the reference's read-time as-of
    filter (full behavioral parity even for scripts with mid-statement
    or future-dated directives — see ``_scan_statements_reference``)."""
    stmts = [
        _parse_statement(sql, t)
        for sql, t in _scan_statements(text, compat, as_of_ms)
    ]
    tables = {s.table.upper() for s in stmts}
    if len(tables) > 1:
        # SQLUpdater.java:68
        raise ScdScriptError(f"Multiple table names in DML: {sorted(tables)}")
    return stmts


def parse_updates(path_or_text: str) -> list[Stmt]:
    """Parse an updates script given either a filesystem path or raw text."""
    import os

    if os.path.exists(path_or_text):
        with open(path_or_text, encoding="utf-8") as fh:
            return parse_script(fh.read())
    return parse_script(path_or_text)


def applicable(stmts: list[Stmt], as_of_ms: int) -> list[Stmt]:
    """As-of statement selection (``SQLUpdater.java:128-130``,
    ``README.md:172-217``): keep statements whose effective time ≤
    *as_of_ms*; any negative as-of excludes everything (raw data)."""
    if as_of_ms < 0:
        return []
    return [
        s
        for s in stmts
        if (as_of_ms if s.effective_ms is None else s.effective_ms) <= as_of_ms
    ]
