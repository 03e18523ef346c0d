"""KQL pipe-language parser: run the reference's emitted query dialect
as a STRING, lowered onto the ``KqlFrame`` facade (and therefore onto
plain DataFrame ops that optimize through Catalyst).

The reference's entire query capability is emitted KQL text executed by
Kusto (SURVEY §0.3/§2); this module makes those strings runnable
directly:

    kql(spark, '''
        lineitem
        | where l_shipdate <= datetime(1998-09-02)
        | extend net = l_extendedprice * (1 - l_discount)
        | summarize revenue = sum(net), n = count() by l_returnflag
        | order by l_returnflag asc
    ''', tables={"lineitem": li_df})

Supported verbs (the reference's surface + Kusto basics):
``where  project  project-away  project-rename  extend  summarize
(incl. arg_max/arg_min)  make-series (regular time grid -> aligned
arrays)  order by / sort by (nulls first/last)  top  take / limit  count
distinct  mv-expand  union  join kind=...  serialize (+ prev/next/
row_cumsum/row_number/row_rank_dense/row_rank_min over the order-by
sort)  project-keep
project-reorder  getschema  as  lookup (broadcast dimension join)
top-nested (hierarchical top-k, incl. ``with others = "L"``
labeled remainder buckets)  fork (multi-output legs over one input —
``kql_multi`` returns the dict)  evaluate pivot /
activity_counts_metrics / sliding_window_counts / activity_engagement
/ activity_metrics / sequence_detect (user-analytics plugins — bin
explodes + id-keyed joins, no corpus windows)  partition by
(per-key subquery, 64-key legacy cap, raises past it)  facet by
(stacked value-frequency rendering)  scan (condition-only sequence
state machine: greedy-sequential with restart, funnel semantics;
predicates JVM-side, the serial automaton one Arrow pass)  render (client hint, accepted+dropped)``,
``let`` statements (materialize() caches the subquery; scalar
substitution + lazily-resolved tabular views; lambda functions
``let f = (T:(*), n:long = 5) { ... }`` applied with ``| invoke
f(...)`` — defaults fill omitted trailing args), the ``range`` /
``print`` / ``datatable`` sources, ``hint.*`` tokens accepted and
dropped (Catalyst/AQE own the physical strategy), plus the ``externaldata``
source (typed csv/json/multijson/parquet scan — the reference's
status-view function,
DatabaseGateway.cs:85-95, runs verbatim; tested against the engine's
own state checkpoint).

Expression translation is a bounded token rewrite into Spark SQL:
``has`` (word-boundary term match) / ``!has``, ``contains`` /
``!contains`` (case-insensitive substring), ``startswith`` /
``endswith``, their case-SENSITIVE ``_cs`` variants, ``=~`` / ``!~``
(case-insensitive string equality), ``matches regex``, ``strcat/strlen/tolower/toupper/
iif/iff``, ``tostring/tolong/toint/todouble/tobool/todatetime`` (casts),
``datetime(...)`` literals, ``ago(Nd|Nh|Nm|Ns)``, numeric ``bin(x, w)``
AND datetime ``bin(ts, 1h)`` (epoch-aligned, timespan width), timespan
literals ``1d/12h/30m/45s/500ms`` (-> intervals, also via ``time(...)``),
``x between (lo .. hi)``, ``now()``, ``datetime_diff``, ``startofday/
week/month/year``, ``getyear/getmonth/dayofmonth/hourofday/
format_datetime``, ``extract`` (regex group), ``extractjson`` /
``parse_json(x).field`` / ``todynamic(x).field`` (-> get_json_object),
``case(...)`` (-> CASE WHEN), ``array_length``; aggregate renames
``dcount -> count(distinct)``,
``make_list/make_set -> collect_list/collect_set``, ``countif ->
count_if``; plus the round-3 scalar batch: ``split`` (literal
delimiter, optional 0-based element index), ``trim/trim_start/
trim_end`` (regex), ``pack/bag_pack`` (-> to_json(named_struct)),
``pack_array``, ``set_union/set_intersect/set_difference``,
``array_slice/array_sort_asc/array_sort_desc/array_concat/
array_reverse/strcat_array/bag_keys``, ``repeat`` (array) vs
``strrep`` (string), ``max_of/min_of``, ``ceiling/pow``,
``translate`` (arg order swapped), ``tohex``, ``base64_encode_
tostring/base64_decode_tostring``, ``toreal/todecimal`` casts,
``datetime_add/datetime_part``, ``monthofyear``,
``unixtime_{seconds,milliseconds,microseconds}_todatetime``,
``string_size``; and the second round-3 batch: ``array_sum`` /
``array_avg``, ``hash_sha256`` / ``hash_md5``, ``strcmp``, ``exp10`` /
``exp2``, ``isinf`` / ``isfinite``, ``url_encode`` / ``url_decode``
(pass-through), ``parse_url`` (-> JSON property bag), ``series_stats_dynamic``,
``pack_all`` (whole row as a bag), ``array_iff`` (element-wise
select), ``bag_merge`` (first-bag-wins key merge); and the round-5
series family: elementwise ``series_{add,subtract,multiply,divide,
pow,greater,less,greater_equals,less_equals,equals,not_equals}``
(scalar second operands broadcast), maps ``series_{abs,sign,exp,log,
sin,cos,tan,asin,acos,atan,floor,ceiling}``, reductions
``series_{sum,product,dot_product,magnitude,cosine_similarity}``,
and the recursive ``series_iir`` filter — all pure JVM array
lambdas; fills ``series_fill_const`` (pure coalesce transform) and
``series_fill_backward`` (Arrow kernel, mirror of forward),
``series_seasonal`` (per-phase median profile) and
``series_periods_detect`` (normalized-autocorrelation top-k, exact
integer folds) as pure expressions; geo ``geo_point_to_geohash`` /
``geo_geohash_to_central_point`` (translate-time bit-interleave
unroll); plus round-5 scalars ``startofweek``/``endofweek`` (SUNDAY
week start), ``format_bytes``, ``format_timespan``, ``parse_path``.
Anything outside the dialect raises ``KqlParseError`` naming the
verb — no silent misreads.

Citations: project B1 (BlobStagingOrchestration.cs:331), extend B2
(BlobAnalysisOrchestration.cs:215), where B3-B6
(DeltaTableOrchestration.cs:234), summarize D2
(BlobStagingOrchestration.cs:218-223), arg_max D3
(Kusto/DatabaseGateway.cs:93), order by F1 (DatabaseGateway.cs:94),
count D1 (DeltaTableOrchestration.cs:233-235), union G1
(BlobAnalysisOrchestration.cs:214).
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .kql import KqlFrame


def _resolve_column_ifexists(text: str, columns) -> str:
    """``column_ifexists('name', default)`` resolves at PARSE time
    against the current pipe stage's column set (the defensive-
    dashboard idiom: reference a column that may not exist yet)."""
    pat = re.compile(r"\bcolumn_ifexists\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(text)
        if not m:
            return text
        args, end = _find_args(text, text.index("(", m.end() - 1))
        if len(args) != 2:
            raise KqlParseError(
                "column_ifexists needs (column_name, default_value)"
            )
        name = args[0].strip().strip("'\"")
        repl = name if name in columns else f"({args[1]})"
        text = text[: m.start()] + repl + text[end:]


def _strip_comments(text: str) -> str:
    """Strip KQL ``//`` line comments OUTSIDE string literals — a bare
    regex would eat the tail of every URL literal (``'https://...'``)."""
    out: list[str] = []
    i, n = 0, len(text)
    quote: str | None = None
    while i < n:
        c = text[i]
        if quote is not None:
            out.append(c)
            if c == "\\" and i + 1 < n:
                out.append(text[i + 1])
                i += 2
                continue
            if c == quote:
                quote = None
            i += 1
            continue
        if c in ("'", '"'):
            quote = c
            out.append(c)
            i += 1
            continue
        if c == "/" and i + 1 < n and text[i + 1] == "/":
            while i < n and text[i] != "\n":
                i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


class KqlParseError(ValueError):
    pass


def _sql_literal(val) -> str:
    """Python value -> Spark SQL literal (for toscalar bindings)."""
    import datetime as _dt2

    if val is None:
        return "NULL"
    if isinstance(val, bool):
        return "true" if val else "false"
    if isinstance(val, (int, float)):
        return repr(val)
    if isinstance(val, _dt2.datetime):
        return f"TIMESTAMP'{val.isoformat(sep=' ')}'"
    if isinstance(val, _dt2.date):
        return f"DATE'{val.isoformat()}'"
    if isinstance(val, str):
        return "'" + val.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise KqlParseError(f"toscalar: unsupported scalar type {type(val).__name__}")


# -- lexical helpers ---------------------------------------------------------


def _split_top(text: str, sep: str) -> list[str]:
    """Split on ``sep`` at paren/bracket depth 0, outside quotes."""
    parts, depth, buf, quote = [], 0, [], None
    i = 0
    while i < len(text):
        ch = text[i]
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _find_args(text: str, start: int) -> tuple[list[str], int]:
    """Args of the call whose '(' is at ``start``; returns (args, index
    just past the ')')."""
    assert text[start] == "("
    depth, quote, buf, args = 0, None, [], []
    i = start
    while i < len(text):
        ch = text[i]
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            if depth > 1:
                buf.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                args.append("".join(buf).strip())
                return [a for a in args if a != ""], i + 1
            buf.append(ch)
        elif ch == "," and depth == 1:
            args.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    raise KqlParseError(f"unbalanced parentheses in: {text!r}")


def _rewrite_calls(
    expr: str,
    name: str,
    fmt: Callable[[list[str]], str],
    self_referential: bool = False,
) -> str:
    """Replace every call ``name(...)`` (word boundary) with
    ``fmt(args)``.  Non-self-referential rewrites rescan from the start
    so nested calls inside arguments are rewritten too; a rewrite whose
    REPLACEMENT still contains ``name(`` must set ``self_referential``
    to scan past each replacement instead (else infinite loop)."""
    pat = re.compile(r"\b" + name + r"\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(expr, pos)
        if not m:
            return expr
        args, end = _find_args(expr, expr.index("(", m.start()))
        repl = fmt(args)
        expr = expr[: m.start()] + repl + expr[end:]
        pos = m.start() + len(repl) if self_referential else 0


_WORD_RE = r"[A-Za-z0-9_]"


def _term_pattern(term: str) -> str:
    return (
        "(?i)(^|[^" + _WORD_RE[1:-1] + "])"
        + re.escape(term)
        + "($|[^" + _WORD_RE[1:-1] + "])"
    )


_HAS_RE = re.compile(
    r"(\S+)\s+(!?)has\s+('(?:[^']*)'|\"(?:[^\"]*)\")", re.IGNORECASE
)
_CONTAINS_RE = re.compile(
    r"(\S+)\s+(!?)contains\s+('(?:[^']*)'|\"(?:[^\"]*)\")", re.IGNORECASE
)
_STARTS_RE = re.compile(
    r"(\S+)\s+(!?)(startswith|endswith)\s+('(?:[^']*)'|\"(?:[^\"]*)\")",
    re.IGNORECASE,
)
_MATCHES_RE = re.compile(
    r"(\S+)\s+matches\s+regex\s+('(?:[^']*)'|\"(?:[^\"]*)\")", re.IGNORECASE
)
# case-SENSITIVE variants (Kusto's _cs suffix; the unsuffixed forms are
# case-insensitive per the docs)
_HAS_CS_RE = re.compile(
    r"(\S+)\s+(!?)has_cs\s+('(?:[^']*)'|\"(?:[^\"]*)\")", re.IGNORECASE
)
_CONTAINS_CS_RE = re.compile(
    r"(\S+)\s+(!?)contains_cs\s+('(?:[^']*)'|\"(?:[^\"]*)\")", re.IGNORECASE
)
_STARTS_CS_RE = re.compile(
    r"(\S+)\s+(!?)(startswith_cs|endswith_cs)\s+('(?:[^']*)'|\"(?:[^\"]*)\")",
    re.IGNORECASE,
)
# case-insensitive string equality =~ / inequality !~
_CIEQ_IDENT = r"[A-Za-z_][A-Za-z0-9_.]*"


def _rewrite_cieq(e: str) -> str:
    """Rewrite ``a =~ b`` / ``a !~ b`` -> lower() comparison with a
    quote-aware scan: an operator inside a string literal survives, and
    operands are strictly identifiers or quoted literals (a bare \\S+
    would swallow surrounding punctuation — ``iif(name =~ 'x', ...)``
    must capture ``name``, not ``iif(name``)."""
    out: list[str] = []
    i, n = 0, len(e)
    while i < n:
        ch = e[i]
        if ch in "'\"":
            j = e.find(ch, i + 1)
            j = n - 1 if j < 0 else j
            out.append(e[i : j + 1])
            i = j + 1
            continue
        if e.startswith(("=~", "!~"), i):
            op = e[i : i + 2]
            left = "".join(out)
            lm = re.search(
                r"(" + _CIEQ_IDENT + r"|'(?:[^']*)')\s*$", left
            )
            j = i + 2
            while j < n and e[j].isspace():
                j += 1
            rhs = None
            if e[j : j + 1] == "'":
                k = e.find("'", j + 1)
                if k >= 0:
                    rhs, jend = e[j : k + 1], k + 1
            else:
                rm = re.match(_CIEQ_IDENT, e[j:])
                if rm:
                    rhs, jend = rm.group(0), j + rm.end()
            if lm and rhs is not None:
                cmp_op = "=" if op == "=~" else "!="
                out = [
                    left[: lm.start(1)],
                    f"(lower({lm.group(1)}) {cmp_op} lower({rhs}))",
                ]
                i = jend
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _term_pattern_cs(term: str) -> str:
    return (
        "(^|[^" + _WORD_RE[1:-1] + "])"
        + re.escape(term)
        + "($|[^" + _WORD_RE[1:-1] + "])"
    )


def _sql_regex(pattern: str) -> str:
    """Embed a regex in a Spark SQL single-quoted literal: the SQL
    parser consumes one level of backslash escaping (default
    ``escapedStringLiterals=false``), so every backslash must double —
    otherwise ``re.escape``'s protection evaporates and term
    metacharacters go live (``has 'a.b'`` matching 'aXb')."""
    return pattern.replace("\\", "\\\\")
_AGO_RE = re.compile(r"\bago\s*\(\s*(\d+)\s*([dhms])\s*\)", re.IGNORECASE)
_DT_RE = re.compile(r"\bdatetime\s*\(\s*([^()]*?)\s*\)", re.IGNORECASE)

_AGO_UNIT = {"d": "day", "h": "hour", "m": "minute", "s": "second"}

# KQL timespan literal: 1d / 12h / 30m / 45s / 500ms, optionally
# fractional (1.5h).  `m` is minutes (KQL), never months.
_TIMESPAN_BODY = r"(\d+(?:\.\d+)?)\s*(ms|[dhms])(?![A-Za-z0-9_(])"
_TIMESPAN_RE = re.compile(r"(?<![A-Za-z0-9_.])" + _TIMESPAN_BODY)
_TIMESPAN_UNIT = {
    "d": "day",
    "h": "hour",
    "m": "minute",
    "s": "second",
    "ms": "millisecond",
}
_TIMESPAN_US = {
    "d": 86_400_000_000,
    "h": 3_600_000_000,
    "m": 60_000_000,
    "s": 1_000_000,
    "ms": 1_000,
}


def _timespan_us(arg: str) -> int | None:
    """Microseconds in a timespan literal ``1h`` / ``time(1h)`` /
    ``time(0.5d)``, or None if ``arg`` isn't one."""
    arg = arg.strip()
    m = re.fullmatch(r"time\s*\((.*)\)", arg, re.IGNORECASE)
    if m:
        arg = m.group(1).strip()
    m = re.fullmatch(_TIMESPAN_BODY.replace("(?![A-Za-z0-9_(])", ""), arg)
    if not m:
        return None
    return int(float(m.group(1)) * _TIMESPAN_US[m.group(2)])


def _sub_outside_quotes(pat: re.Pattern, repl, text: str) -> str:
    """Apply ``pat.sub(repl, ...)`` only to regions outside single- or
    double-quoted strings (timespan literals may legitimately appear
    inside string literals — '30m' — and must survive)."""
    out, i, n = [], 0, len(text)
    while i < n:
        ch = text[i]
        if ch in "'\"":
            j = text.find(ch, i + 1)
            j = n - 1 if j < 0 else j
            out.append(text[i : j + 1])
            i = j + 1
        else:
            j = n
            for q in ("'", '"'):
                k = text.find(q, i)
                if k >= 0:
                    j = min(j, k)
            out.append(pat.sub(repl, text[i:j]))
            i = j
    return "".join(out)

# plain function-name renames (args untouched)
_FN_RENAME = {
    "strcat": "concat",
    "strlen": "length",
    "tolower": "lower",
    "toupper": "upper",
    "iif": "if",
    "iff": "if",
    "make_set": "collect_set",
    "countif": "count_if",
    "strcat_delim": "concat_ws",
    # datetime scalars (KQL name -> Spark SQL name, args align)
    "take_any": "any_value",
    "array_strcat": "array_join",
    "replace_string": "replace",
    "replace_regex": "regexp_replace",
    "getyear": "year",
    "getmonth": "month",
    "dayofmonth": "day",
    "hourofday": "hour",
    "format_datetime": "date_format",
    # round-3 scalar batch (KQL name -> Spark SQL name, args align)
    "ceiling": "ceil",
    "pow": "power",
    "monthofyear": "month",
    "string_size": "octet_length",
    "max_of": "greatest",
    "min_of": "least",
    "pack_array": "array",
    "array_concat": "concat",
    "array_reverse": "reverse",
    "datetime_part": "date_part",
    "bag_keys": "json_object_keys",
    "strcat_array": "array_join",
    "unixtime_seconds_todatetime": "timestamp_seconds",
    "unixtime_milliseconds_todatetime": "timestamp_millis",
    "unixtime_microseconds_todatetime": "timestamp_micros",
}
_CASTS = {
    "tostring": "STRING",
    "tolong": "BIGINT",
    "toint": "INT",
    "todouble": "DOUBLE",
    "toreal": "DOUBLE",
    "tobool": "BOOLEAN",
    "todatetime": "TIMESTAMP",
    "todecimal": "DECIMAL(38,18)",
}


_HAS_ANY_ALL_RE = re.compile(r"(\S+)\s+has_(any|all)\s*\(", re.IGNORECASE)
_IN_CI_RE = re.compile(r"(\S+)\s+(!?)in~\s*\(", re.IGNORECASE)


def _rewrite_has_any_all(e: str) -> str:
    """``x has_any ('a', 'b')`` -> OR of word-boundary term matches;
    ``has_all`` -> AND."""
    while True:
        m = _HAS_ANY_ALL_RE.search(e)
        if not m:
            return e
        args, end = _find_args(e, e.index("(", m.end() - 1))
        joiner = " OR " if m.group(2).lower() == "any" else " AND "
        parts = []
        for a in args:
            a = a.strip()
            if not (a.startswith(("'", '"')) and a.endswith(("'", '"'))):
                raise KqlParseError(f"has_{m.group(2)} needs string literals")
            parts.append(
                f"({m.group(1)} RLIKE '{_sql_regex(_term_pattern(a[1:-1]))}')"
            )
        repl = "(" + joiner.join(parts) + ")"
        e = e[: m.start()] + repl + e[end:]


def _rewrite_in_ci(e: str) -> str:
    """Case-insensitive ``x in~ ('A', 'b')`` / ``!in~``."""
    while True:
        m = _IN_CI_RE.search(e)
        if not m:
            return e
        args, end = _find_args(e, e.index("(", m.end() - 1))
        neg = "NOT " if m.group(2) else ""
        items = ", ".join(f"lower({a})" for a in args)
        repl = f"{neg}(lower({m.group(1)}) IN ({items}))"
        e = e[: m.start()] + repl + e[end:]


_NOT_IN_RE = re.compile(r"(\S+)\s+!in\s*\(", re.IGNORECASE)


def _rewrite_not_in(e: str) -> str:
    """Case-sensitive ``x !in (...)`` -> NOT (x IN (...)); plain ``in``
    passes straight through as SQL."""
    while True:
        m = _NOT_IN_RE.search(e)
        if not m:
            return e
        args, end = _find_args(e, e.index("(", m.end() - 1))
        repl = f"NOT ({m.group(1)} IN ({', '.join(args)}))"
        e = e[: m.start()] + repl + e[end:]


_BETWEEN_RE = re.compile(r"(\S+)\s+(!?)between\s*\(", re.IGNORECASE)


def _rewrite_between(e: str) -> str:
    """KQL ``x between (lo .. hi)`` (inclusive) / ``!between`` -> range
    predicate.  The bounds keep their KQL spellings (datetime(...),
    timespan arithmetic) and are translated by the later rewrites."""
    while True:
        m = _BETWEEN_RE.search(e)
        if not m:
            return e
        start = e.index("(", m.end() - 1)
        depth, i = 0, start
        while i < len(e):
            if e[i] == "(":
                depth += 1
            elif e[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        if depth != 0:
            raise KqlParseError(f"unbalanced parentheses in between: {e!r}")
        lo, sep, hi = e[start + 1 : i].partition("..")
        if not sep:
            raise KqlParseError("between needs (lo .. hi)")
        neg = "NOT " if m.group(2) else ""
        repl = (
            f"{neg}(({m.group(1)} >= {lo.strip()}) "
            f"AND ({m.group(1)} <= {hi.strip()}))"
        )
        e = e[: m.start()] + repl + e[i + 1 :]


def translate_expr(e: str) -> str:
    """KQL scalar expression -> Spark SQL expression (string level)."""
    e = e.strip()
    # string operators first (their RHS quotes must survive literally)
    def _has(m: re.Match) -> str:
        neg = "NOT " if m.group(2) else ""
        term = m.group(3)[1:-1]
        return f"{neg}({m.group(1)} RLIKE '{_sql_regex(_term_pattern(term))}')"

    def _contains(m: re.Match) -> str:
        neg = "NOT " if m.group(2) else ""
        term = m.group(3)[1:-1].lower()
        return f"{neg}contains(lower({m.group(1)}), '{term}')"

    def _startsends(m: re.Match) -> str:
        neg = "NOT " if m.group(2) else ""
        fn = "startswith" if m.group(3).lower() == "startswith" else "endswith"
        term = m.group(4)[1:-1].lower()
        return f"{neg}{fn}(lower({m.group(1)}), '{term}')"

    def _has_cs(m: re.Match) -> str:
        neg = "NOT " if m.group(2) else ""
        term = m.group(3)[1:-1]
        return f"{neg}({m.group(1)} RLIKE '{_sql_regex(_term_pattern_cs(term))}')"

    def _contains_cs(m: re.Match) -> str:
        neg = "NOT " if m.group(2) else ""
        return f"{neg}contains({m.group(1)}, {m.group(3)})"

    def _startsends_cs(m: re.Match) -> str:
        neg = "NOT " if m.group(2) else ""
        fn = (
            "startswith"
            if m.group(3).lower().startswith("startswith")
            else "endswith"
        )
        return f"{neg}{fn}({m.group(1)}, {m.group(4)})"

    # _cs and =~ forms first (their unsuffixed cousins' regexes require
    # whitespace after the keyword, so there is no overlap either way)
    e = _HAS_CS_RE.sub(_has_cs, e)
    e = _CONTAINS_CS_RE.sub(_contains_cs, e)
    e = _STARTS_CS_RE.sub(_startsends_cs, e)
    e = _rewrite_cieq(e)
    e = _HAS_RE.sub(_has, e)
    e = _CONTAINS_RE.sub(_contains, e)
    e = _STARTS_RE.sub(_startsends, e)
    e = _MATCHES_RE.sub(lambda m: f"({m.group(1)} RLIKE {m.group(2)})", e)
    e = _rewrite_has_any_all(e)
    e = _rewrite_in_ci(e)
    e = _rewrite_not_in(e)
    e = _rewrite_between(e)
    e = _DT_RE.sub(lambda m: f"TIMESTAMP'{m.group(1)}'", e)
    e = _AGO_RE.sub(
        lambda m: f"(current_timestamp() - INTERVAL {m.group(1)} "
        f"{_AGO_UNIT[m.group(2).lower()]})",
        e,
    )
    e = re.sub(r"\bcount\s*\(\s*\)", "count(*)", e, flags=re.IGNORECASE)
    # KQL repeat(v, n) builds an array — rewrite BEFORE the rename pass
    # turns strrep (string repetition) into Spark's repeat()
    e = _rewrite_calls(e, "repeat", lambda a: f"array_repeat({a[0]}, {a[1]})")
    e = re.sub(r"\bstrrep\s*\(", "repeat(", e, flags=re.IGNORECASE)
    for k, v in _FN_RENAME.items():
        e = re.sub(r"\b" + k + r"\s*\(", v + "(", e, flags=re.IGNORECASE)
    for k, t in _CASTS.items():
        e = _rewrite_calls(e, k, lambda a, t=t: f"CAST({a[0]} AS {t})")
    def _bin(a: list[str]) -> str:
        # datetime bin: width is a timespan literal -> epoch-aligned
        # floor in microseconds (matches Kusto's epoch alignment)
        us = _timespan_us(a[1])
        if us is not None:
            return (
                f"timestamp_micros(CAST(FLOOR(unix_micros({a[0]}) / {us}) "
                f"AS BIGINT) * {us})"
            )
        return f"(FLOOR(({a[0]}) / ({a[1]})) * ({a[1]}))"

    def _bin_at(a: list[str]) -> str:
        # bin_at(x, size, anchor): bins aligned to `anchor` not epoch
        us = _timespan_us(a[1])
        if us is not None:
            anchor = f"unix_micros({a[2]})"
            return (
                f"timestamp_micros(CAST(FLOOR((unix_micros({a[0]}) - {anchor})"
                f" / {us}) AS BIGINT) * {us} + {anchor})"
            )
        return (
            f"(FLOOR((({a[0]}) - ({a[2]})) / ({a[1]})) * ({a[1]}) + ({a[2]}))"
        )

    e = _rewrite_calls(e, "bin_at", _bin_at)
    e = _rewrite_calls(e, "bin", _bin)
    e = _rewrite_calls(
        e,
        "datetime_diff",
        lambda a: f"timestampdiff({a[0].strip(chr(39))}, {a[2]}, {a[1]})",
    )
    for part_ in ("day", "month", "year"):
        e = _rewrite_calls(
            e, f"startof{part_}", lambda a, p=part_: f"date_trunc('{p}', {a[0]})"
        )
    # NOT date_trunc('week'): Kusto weeks start SUNDAY, Spark's Monday
    e = _rewrite_calls(
        e,
        "startofweek",
        lambda a: (
            f"timestampadd(DAY, 1 - dayofweek({a[0]}), "
            f"date_trunc('DAY', {a[0]}))"
        ),
    )
    e = re.sub(r"\bnow\s*\(\s*\)", "current_timestamp()", e, flags=re.IGNORECASE)
    e = _rewrite_calls(e, "time", lambda a: a[0])  # time(1h) -> bare literal
    # standalone timespan literals become intervals (after bin/ago, so
    # their widths are already consumed; quoted strings untouched)
    def _interval(m: re.Match) -> str:
        n, unit = m.group(1), m.group(2).lower()
        if "." in n:  # Spark intervals only allow fractions on seconds
            secs = float(n) * _TIMESPAN_US[unit] / 1_000_000
            return f"INTERVAL '{secs:g}' second"
        return f"INTERVAL '{n}' {_TIMESPAN_UNIT[unit]}"

    e = _sub_outside_quotes(_TIMESPAN_RE, _interval, e)
    # extract(regex, group, source) -> regexp_extract(source, regex, group)
    e = _rewrite_calls(
        e, "extract", lambda a: f"regexp_extract({a[2]}, {a[0]}, {a[1]})"
    )
    # extractjson('$.path', doc) -> get_json_object(doc, '$.path');
    # todynamic/parse_json keep the string for downstream extractjson
    e = _rewrite_calls(
        e, "extractjson", lambda a: f"get_json_object({a[1]}, {a[0]})"
    )
    # dynamic field access: parse_json(x).a.b lowers onto Spark 4's
    # VARIANT type — try_parse_json(x) parses the bag ONCE (identical
    # deterministic subexpressions are eliminated in codegen, so N
    # accesses of one bag share a single parse; get_json_object would
    # re-parse per path), then variant_get is O(binary) path access.
    # The string cast matches get_json_object's contract: scalars
    # unquoted, objects/arrays as JSON text, missing paths NULL.
    e = re.sub(
        r"\b(?:parse_json|todynamic)\s*\(([^()]*)\)((?:\.[A-Za-z_][A-Za-z0-9_]*)+)",
        lambda m: (
            f"cast(try_variant_get(try_parse_json({m.group(1)}), "
            f"'${m.group(2)}') as string)"
        ),
        e,
        flags=re.IGNORECASE,
    )
    e = _rewrite_calls(e, "todynamic", lambda a: a[0])
    e = _rewrite_calls(e, "parse_json", lambda a: a[0])

    def _case(a: list[str]) -> str:
        if len(a) < 3 or len(a) % 2 == 0:
            raise KqlParseError(
                "case() needs pred1, val1, ..., else_val (odd arg count)"
            )
        whens = "".join(
            f" WHEN {a[i]} THEN {a[i + 1]}" for i in range(0, len(a) - 1, 2)
        )
        return f"(CASE{whens} ELSE {a[-1]} END)"

    e = _rewrite_calls(e, "case", _case)
    e = _rewrite_calls(e, "array_length", lambda a: f"size({a[0]})")
    def _dynamic_lit(a: list[str]) -> str:
        """``dynamic([...])`` array literals -> Spark array(...) (with
        nested brackets recursed); ``dynamic({...})`` property bags ->
        the JSON text as a string literal (the engine's dynamic-bag
        representation); scalars pass through."""
        # the generic arg-splitter breaks [1, 2] on commas — rejoin
        body = ", ".join(a).strip()
        if body.startswith("["):

            def arr(t: str) -> str:
                t = t.strip()
                if t.startswith("[") and t.endswith("]"):
                    inner = t[1:-1]
                    parts, depth, cur, q = [], 0, [], None
                    for ch in inner:
                        if q:
                            cur.append(ch)
                            if ch == q:
                                q = None
                            continue
                        if ch in ("'", '"'):
                            q = ch
                            cur.append(ch)
                        elif ch in "[({":
                            depth += 1
                            cur.append(ch)
                        elif ch in "])}":
                            depth -= 1
                            cur.append(ch)
                        elif ch == "," and depth == 0:
                            parts.append("".join(cur))
                            cur = []
                        else:
                            cur.append(ch)
                    if cur:
                        parts.append("".join(cur))
                    items = [arr(x) for x in parts if x.strip()]
                    return "array(" + ", ".join(items) + ")"
                return t

            return arr(body)
        if body.startswith("{"):
            return "'" + body.replace("'", "\\'") + "'"
        return f"({body})"

    e = _rewrite_calls(e, "dynamic", _dynamic_lit)
    e = _rewrite_calls(e, "isempty", lambda a: f"(coalesce({a[0]}, '') = '')")
    e = _rewrite_calls(
        e, "isnotempty", lambda a: f"(coalesce({a[0]}, '') != '')"
    )
    e = _rewrite_calls(e, "isnull", lambda a: f"(({a[0]}) IS NULL)")
    e = _rewrite_calls(e, "isnotnull", lambda a: f"(({a[0]}) IS NOT NULL)")
    # KQL substring/indexof/array_index_of are 0-based (Spark: 1-based)
    e = _rewrite_calls(
        e,
        "substring",
        lambda a: f"substr({a[0]}, ({a[1]}) + 1"
        + (f", {a[2]})" if len(a) > 2 else ")"),
    )
    e = _rewrite_calls(
        e, "indexof", lambda a: f"(instr({a[0]}, {a[1]}) - 1)"
    )
    e = _rewrite_calls(
        e,
        "array_index_of",
        lambda a: f"(array_position({a[0]}, {a[1]}) - 1)",
    )
    e = _rewrite_calls(
        e,
        "countof",
        lambda a: f"CAST((length({a[0]}) - length(replace({a[0]}, {a[1]}, "
        f"''))) / length({a[1]}) AS INT)",
    )
    # Kusto hash() is xxhash64-family; hash(x, m) is modded
    e = _rewrite_calls(
        e,
        "hash",
        lambda a: f"xxhash64({a[0]})"
        if len(a) == 1
        else f"pmod(xxhash64({a[0]}), {a[1]})",
    )
    # scalar batch: array math, crypto hashes, string compare, url bag
    e = _rewrite_calls(
        e,
        "array_sum",
        lambda a: f"aggregate({a[0]}, 0D, (acc, v) -> acc + v)",
    )
    e = _rewrite_calls(
        e,
        "array_avg",
        lambda a: f"(aggregate({a[0]}, 0D, (acc, v) -> acc + v)"
        f" / size({a[0]}))",
    )
    e = _rewrite_calls(
        e, "hash_sha256", lambda a: f"sha2(CAST({a[0]} AS STRING), 256)"
    )
    e = _rewrite_calls(
        e, "hash_md5", lambda a: f"md5(CAST({a[0]} AS STRING))"
    )
    e = _rewrite_calls(
        e, "hash_sha1", lambda a: f"sha1(CAST({a[0]} AS STRING))"
    )
    # parse_urlquery -> Kusto's {"Query Parameters": {...}} bag.
    # NOT str_to_map: that throws on duplicate keys (Spark's
    # mapKeyDedupPolicy=EXCEPTION default) and on the empty segments
    # repeated delimiters produce — both routine in real URLs (the
    # parse-kv implementation documents the same trap).  Entries are
    # built with array expressions, first occurrence of a key wins,
    # then map_from_entries sees no duplicates by construction.
    def _urlquery(a: list[str]) -> str:
        q = (
            f"(CASE WHEN instr({a[0]}, '?') > 0 "
            f"THEN parse_url({a[0]}, 'QUERY') ELSE {a[0]} END)"
        )
        ents = (
            f"transform(filter(split({q}, '&'), s -> s != ''), "
            "s -> struct(split_part(s, '=', 1) AS key, "
            "CASE WHEN instr(s, '=') > 0 "
            "THEN substring(s, instr(s, '=') + 1) ELSE '' END AS value))"
        )
        dedup = (
            f"filter({ents}, (e, i) -> array_position("
            f"transform({ents}, x -> x.key), e.key) = i + 1)"
        )
        return (
            "to_json(named_struct('Query Parameters', "
            f"map_from_entries({dedup})))"
        )

    e = _rewrite_calls(e, "parse_urlquery", _urlquery)
    # parse_ipv4_mask(ip, prefix) -> masked 32-bit value; emits a
    # parse_ipv4( call for the LATER parse_ipv4 rewrite to lower.
    # Out-of-range prefixes -> NULL (Kusto's contract): a bare
    # shiftleft would wrap the shift count mod 64 and return a wrong
    # VALUE instead of refusing
    e = _rewrite_calls(
        e,
        "parse_ipv4_mask",
        lambda a: (
            f"(CASE WHEN CAST({a[1]} AS INT) BETWEEN 0 AND 32 "
            f"THEN parse_ipv4({a[0]}) & (shiftleft(CAST(-1 AS BIGINT), "
            f"32 - CAST({a[1]} AS INT)) & 4294967295) "
            "ELSE CAST(NULL AS BIGINT) END)"
        ),
    )
    # integer arithmetic, not /: float division loses sub-microsecond
    # precision at 1e18-scale nanosecond longs (same lesson as
    # sources/tables.py's nanos handling).  Subtract pmod first so the
    # division FLOORS: bare DIV truncates toward zero, landing
    # pre-1970 non-multiple-of-1000 nanos 1 us late (round-9 ADVICE)
    e = _rewrite_calls(
        e,
        "unixtime_nanoseconds_todatetime",
        lambda a: f"timestamp_micros((CAST({a[0]} AS BIGINT) - "
        f"pmod(CAST({a[0]} AS BIGINT), 1000)) DIV 1000)",
    )
    e = _rewrite_calls(
        e,
        "strcmp",
        # null propagates (a bare ELSE would report null args as 1)
        lambda a: f"(CASE WHEN {a[0]} IS NULL OR {a[1]} IS NULL THEN "
        f"CAST(NULL AS INT) WHEN {a[0]} < {a[1]} THEN -1 "
        f"WHEN {a[0]} = {a[1]} THEN 0 ELSE 1 END)",
    )
    e = _rewrite_calls(e, "exp10", lambda a: f"power(10, {a[0]})")
    e = _rewrite_calls(e, "exp2", lambda a: f"power(2, {a[0]})")
    e = _rewrite_calls(
        e, "isinf", lambda a: f"(abs({a[0]}) = double('Infinity'))"
    )
    e = _rewrite_calls(
        e,
        "isfinite",
        lambda a: f"(NOT isnan({a[0]}) "
        f"AND abs({a[0]}) != double('Infinity'))",
    )
    # Kusto parse_url returns a property bag; rendered as the JSON the
    # rest of the dynamic toolkit consumes (extractjson/bag access)
    e = _rewrite_calls(
        e,
        "parse_url",
        # 1-arg = Kusto's bag form; 2-arg = already Spark's component
        # form, pass through.  The replacement contains parse_url( —
        # self_referential scans past it (plain mode would loop)
        lambda a: (
            "to_json(named_struct("
            f"'Scheme', parse_url({a[0]}, 'PROTOCOL'), "
            f"'Host', parse_url({a[0]}, 'HOST'), "
            # Spark parse_url has no PORT part — peel it off AUTHORITY
            # (host:port); portless authorities nullif away
            f"'Port', nullif(substring_index("
            f"parse_url({a[0]}, 'AUTHORITY'), ':', -1), "
            f"parse_url({a[0]}, 'HOST')), "
            f"'Path', parse_url({a[0]}, 'PATH'), "
            f"'Query', parse_url({a[0]}, 'QUERY'), "
            f"'Fragment', parse_url({a[0]}, 'REF')))"
        )
        if len(a) == 1
        else f"parse_url({', '.join(a)})",
        self_referential=True,
    )
    # series_stats_dynamic(x): the summary bag Kusto emits for a
    # dynamic array — all JVM array expressions (0-based indexes)
    def _series_stats(a: list[str]) -> str:
        x = a[0]
        avg = f"(aggregate({x}, 0D, (s, v) -> s + v) / size({x}))"
        var = (
            f"(aggregate({x}, 0D, (s, v) -> s + (v - {avg}) * (v - {avg}))"
            f" / size({x}))"
        )
        return (
            "to_json(named_struct("
            f"'min', array_min({x}), "
            f"'min_idx', CAST(array_position({x}, array_min({x})) - 1 AS BIGINT), "
            f"'max', array_max({x}), "
            f"'max_idx', CAST(array_position({x}, array_max({x})) - 1 AS BIGINT), "
            f"'avg', {avg}, "
            f"'stdev', sqrt({var}), "
            f"'variance', {var}))"
        )

    e = _rewrite_calls(e, "series_stats_dynamic", _series_stats)

    # ---- elementwise series arithmetic (Kusto's series_* family) ----
    # two-series forms zip elementwise; a bare NUMERIC LITERAL second
    # operand broadcasts over the series (Kusto allows scalar
    # operands).  All pure JVM array lambdas — no explode, no Python.
    def _series_bin(tmpl: str):
        def fn(a: list[str]) -> str:
            if len(a) != 2:
                raise KqlParseError(
                    "series arithmetic takes exactly 2 arguments"
                )
            x, y = a[0].strip(), a[1].strip()
            if re.fullmatch(r"-?\d+(\.\d+)?([eE][+-]?\d+)?", y):
                body = tmpl.format(l="CAST(__v AS DOUBLE)", r=f"({y})")
                return f"transform({x}, __v -> {body})"
            body = tmpl.format(l="CAST(__l AS DOUBLE)", r="__r")
            return f"zip_with({x}, {y}, (__l, __r) -> {body})"

        return fn

    for _nm, _tmpl in (
        ("series_add", "({l} + {r})"),
        ("series_subtract", "({l} - {r})"),
        ("series_multiply", "({l} * {r})"),
        ("series_divide", "({l} / {r})"),
        ("series_pow", "power({l}, {r})"),
        ("series_greater_equals", "({l} >= {r})"),
        ("series_less_equals", "({l} <= {r})"),
        ("series_not_equals", "({l} != {r})"),
        ("series_greater", "({l} > {r})"),
        ("series_less", "({l} < {r})"),
        ("series_equals", "({l} = {r})"),
    ):
        e = _rewrite_calls(e, _nm, _series_bin(_tmpl))

    def _series_map(fn_sql: str):
        return lambda a: (
            f"transform({a[0]}, __v -> "
            f"CAST({fn_sql}(CAST(__v AS DOUBLE)) AS DOUBLE))"
        )

    for _nm, _sql in (
        ("series_abs", "abs"),
        ("series_sign", "sign"),
        ("series_exp", "exp"),
        ("series_log", "ln"),
        ("series_sin", "sin"),
        ("series_cos", "cos"),
        ("series_tan", "tan"),
        ("series_asin", "asin"),
        ("series_acos", "acos"),
        ("series_atan", "atan"),
        ("series_floor", "floor"),
        ("series_ceiling", "ceil"),
    ):
        e = _rewrite_calls(e, _nm, _series_map(_sql))

    # series_fill_const(x, c): nulls take the constant — pure
    # transform + coalesce (the fill_forward/backward/linear scans
    # need the Arrow kernels; the const fill does not)
    def _fill_const(a: list[str]) -> str:
        if len(a) != 2:
            raise KqlParseError(
                "series_fill_const takes (series, constant)"
            )
        return (
            f"transform({a[0]}, __v -> "
            f"coalesce(CAST(__v AS DOUBLE), CAST(({a[1]}) AS DOUBLE)))"
        )

    e = _rewrite_calls(e, "series_fill_const", _fill_const)

    # series_seasonal(x, period): the seasonal profile repeated over
    # the series — per-phase (i mod period) MEDIAN of the non-null
    # values (median = avg of the two middles on even counts).  Pure
    # JVM array lambdas; intermediate bindings via the 1-element
    # transform trick so each subresult is computed once.
    def _series_seasonal(a: list[str]) -> str:
        if len(a) != 2:
            raise KqlParseError(
                "series_seasonal takes (series, period)"
            )
        x, p = a[0], a[1]
        med = (
            "transform(array(array_sort(filter(__s.__x, (__v, __j) -> "
            "__j % __s.__p = __ph AND __v IS NOT NULL))), __a -> "
            "CASE WHEN size(__a) = 0 THEN CAST(NULL AS DOUBLE) "
            "WHEN size(__a) % 2 = 1 THEN "
            "CAST(element_at(__a, CAST(size(__a) DIV 2 AS INT) + 1) "
            "AS DOUBLE) "
            "ELSE (CAST(element_at(__a, CAST(size(__a) DIV 2 AS INT)) "
            "AS DOUBLE) + CAST(element_at(__a, "
            "CAST(size(__a) DIV 2 AS INT) + 1) AS DOUBLE)) / 2.0D "
            "END)[0]"
        )
        return (
            "(transform(array(named_struct("
            f"'__x', {x}, '__p', CAST(({p}) AS INT))), __s -> "
            f"transform(array(transform(sequence(0, __s.__p - 1), "
            f"__ph -> {med})), __m -> "
            "transform(sequence(0, size(__s.__x) - 1), __i -> "
            "element_at(__m, CAST(__i % __s.__p AS INT) + 1)))[0]"
            ")[0])"
        )

    e = _rewrite_calls(e, "series_seasonal", _series_seasonal)

    # series_periods_detect(x, min_period, max_period, k): documented
    # deterministic profile — normalized autocorrelation r(L) =
    # sum((x[i]*n - S)(x[i+L]*n - S)) / sum((x[i]*n - S)^2) over the
    # null-as-0 series (the n-scaled form keeps every term an exact
    # integer when the series is integer-valued, so both engines fold
    # identical doubles), FLOOR-scaled to 6 places (no rounding-tie
    # divergence), top-k lags by (score desc, lag asc).  Returns
    # struct(periods array<double>, scores array<double>) — Kusto's
    # two dynamic outputs as one struct.
    def _series_periods(a: list[str]) -> str:
        if len(a) != 4:
            raise KqlParseError(
                "series_periods_detect takes (series, min_period, "
                "max_period, num_periods)"
            )
        x, lo, hi, k = a
        num = (
            "aggregate(sequence(1, CAST(__m.__n AS INT) - __lag), 0D, "
            "(__a, __i) -> __a + "
            "(element_at(__x, __i) * __m.__n - __m.__s) * "
            "(element_at(__x, __i + __lag) * __m.__n - __m.__s))"
        )
        score = (
            "CASE WHEN __den <= 0D OR __lag >= CAST(__m.__n AS INT) "
            f"THEN 0D ELSE floor({num} / __den * 1000000D) / 1000000D "
            "END"
        )
        scored = (
            f"transform(sequence(({lo}), ({hi})), __lag -> "
            f"named_struct('score', {score}, 'lag', __lag))"
        )
        top = (
            f"slice(array_sort({scored}, (__l, __r) -> "
            "CASE WHEN __l.score > __r.score THEN -1 "
            "WHEN __l.score < __r.score THEN 1 "
            "WHEN __l.lag < __r.lag THEN -1 "
            "WHEN __l.lag > __r.lag THEN 1 ELSE 0 END), "
            f"1, ({k}))"
        )
        return (
            "(transform(array(transform("
            f"{x}, __v -> coalesce(CAST(__v AS DOUBLE), 0D))), __x -> "
            "transform(array(named_struct("
            "'__n', CAST(size(__x) AS DOUBLE), "
            "'__s', aggregate(__x, 0D, (__a, __v) -> __a + __v))), "
            "__m -> "
            "transform(array(aggregate(__x, 0D, (__a, __v) -> __a + "
            "(__v * __m.__n - __m.__s) * (__v * __m.__n - __m.__s))), "
            "__den -> "
            f"transform(array({top}), __t -> named_struct("
            "'periods', transform(__t, __e -> CAST(__e.lag AS DOUBLE)), "
            "'scores', transform(__t, __e -> __e.score)))[0]"
            ")[0])[0])[0])"
        )

    e = _rewrite_calls(e, "series_periods_detect", _series_periods)

    # series_decompose family: Arrow-kernel SQL UDFs (registered in
    # _ensure_series_udfs) — the translate step only pads defaults.
    # The period is an integer literal; -1 auto-detects via the same
    # normalized-autocorrelation profile as series_periods_detect
    # (deterministic; no significant period -> pure-trend
    # decomposition).  Forecast signature is
    # (series, period, points[, trend]) — documented deviation from
    # Kusto, whose forecast takes (series, points, ...).
    def _pad_defaults(name: str, min_args: int, defaults: list[str]):
        def fn(a: list[str]) -> str:
            if not min_args <= len(a) <= min_args + len(defaults):
                raise KqlParseError(
                    f"{name} takes {min_args}..{min_args + len(defaults)}"
                    " arguments"
                )
            # the 2nd argument is the PERIOD in this profile, and it
            # must be an integer literal (-1 = autocorrelation
            # auto-detect) — Kusto's own 2nd argument varies by
            # function (anomalies takes threshold there), so a float
            # here means the caller is using Kusto's signature:
            # refuse loudly instead of silently truncating a
            # threshold into a period
            if not re.fullmatch(r"(-1|\+?\d+)", a[1].strip()):
                raise KqlParseError(
                    f"{name}: this profile's 2nd argument is the "
                    f"seasonality PERIOD and must be an integer "
                    f"literal (-1 auto-detects; got {a[1].strip()!r})"
                )
            full = list(a) + defaults[len(a) - min_args:]
            return f"{name}({', '.join(full)})"

        return fn

    e = _rewrite_calls(
        e,
        "series_decompose_anomalies",
        _pad_defaults(
            "series_decompose_anomalies", 2, ["1.5", "'linefit'"]
        ),
        self_referential=True,
    )
    e = _rewrite_calls(
        e,
        "series_decompose_forecast",
        _pad_defaults("series_decompose_forecast", 3, ["'linefit'"]),
        self_referential=True,
    )
    e = _rewrite_calls(
        e,
        "series_decompose",
        _pad_defaults("series_decompose", 2, ["'avg'"]),
        self_referential=True,
    )

    def _dot(x: str, y: str) -> str:
        return (
            f"aggregate(zip_with({x}, {y}, "
            "(__l, __r) -> CAST(__l AS DOUBLE) * __r), 0D, "
            "(__s, __v) -> __s + __v)"
        )

    e = _rewrite_calls(
        e,
        "series_sum",
        lambda a: f"aggregate({a[0]}, 0D, (__s, __v) -> __s + __v)",
    )
    e = _rewrite_calls(
        e,
        "series_product",
        lambda a: f"aggregate({a[0]}, 1D, (__s, __v) -> __s * __v)",
    )
    e = _rewrite_calls(
        e, "series_dot_product", lambda a: _dot(a[0], a[1])
    )
    e = _rewrite_calls(
        e, "series_magnitude", lambda a: f"sqrt({_dot(a[0], a[0])})"
    )
    e = _rewrite_calls(
        e,
        "series_cosine_similarity",
        lambda a: (
            f"({_dot(a[0], a[1])} / "
            f"(sqrt({_dot(a[0], a[0])}) * sqrt({_dot(a[1], a[1])})))"
        ),
    )

    # series_iir(x, b, a): recursive (infinite-impulse-response)
    # filter, y[n] = (Σ_k b[k]·x[n-k] − Σ_{k≥1} a[k]·y[n-k]) / a[0] —
    # Kusto's exact semantics.  Inherently sequential per SERIES, so
    # the fold builds the output array left-to-right; rows stay
    # independent (parallel across the frame).  O(N·(|b|+|a|)) JVM
    # work per row, no Python.
    def _series_iir(a: list[str]) -> str:
        if len(a) != 3:
            raise KqlParseError("series_iir takes (series, b, a)")
        x, b, aa = a[0], a[1], a[2]
        bsum = (
            f"aggregate(sequence(0, size({b}) - 1), 0D, (__s, __k) -> "
            f"__s + CASE WHEN __n - __k >= 0 THEN "
            f"CAST(element_at({b}, __k + 1) AS DOUBLE) * "
            f"element_at({x}, __n - __k + 1) ELSE 0D END)"
        )
        # guard: sequence(1, 0) would DESCEND ([1, 0]) when a is a
        # single coefficient — skip the feedback sum entirely then
        asum = (
            f"CASE WHEN size({aa}) > 1 THEN "
            f"aggregate(sequence(1, size({aa}) - 1), 0D, (__s, __k) -> "
            f"__s + CASE WHEN __n - __k >= 0 THEN "
            f"CAST(element_at({aa}, __k + 1) AS DOUBLE) * "
            f"element_at(__y, __n - __k + 1) ELSE 0D END) ELSE 0D END"
        )
        return (
            f"aggregate(sequence(0, size({x}) - 1), "
            "CAST(array() AS ARRAY<DOUBLE>), (__y, __n) -> __y || "
            f"array((({bsum}) - ({asum})) / "
            f"CAST(element_at({aa}, 1) AS DOUBLE)))"
        )

    e = _rewrite_calls(e, "series_iir", _series_iir)
    # pack_all(): the whole row as a property bag.  The optional
    # ignore_null_empty argument is not implemented — loud, not a
    # silent fall-through to an unresolved Spark function
    def _pack_all(a: list[str]) -> str:
        if a:
            raise KqlParseError(
                "pack_all(ignore_null_empty) is not supported — "
                "use bare pack_all()"
            )
        return "to_json(struct(*))"

    e = _rewrite_calls(e, "pack_all", _pack_all)

    # array_iff(cond, when_true, when_false): element-wise select.
    # The indexed transform lambda makes an empty condition array
    # yield [] and try_element_at null-pads short value arrays (both
    # Kusto semantics; a sequence(1, size) formulation crashes on
    # empty/short arrays under ANSI element_at).  A NULL condition
    # element yields NULL.  Literal scalar values apply element-wise.
    def _array_iff(a: list[str]) -> str:
        def val(arg: str) -> str:
            arg = arg.strip()
            if re.fullmatch(
                r"-?\d+(?:\.\d+)?|'(?:[^']*)'|true|false|null",
                arg,
                re.IGNORECASE,
            ):
                return arg  # scalar literal: applied to every element
            return f"try_element_at({arg}, __i + 1)"

        return (
            f"transform({a[0]}, (__x, __i) -> "
            f"CASE WHEN __x IS NULL THEN NULL "
            f"WHEN __x THEN {val(a[1])} ELSE {val(a[2])} END)"
        )

    e = _rewrite_calls(e, "array_iff", _array_iff)

    # bag_merge(b1, b2, ...): variadic left fold; earlier bags keep
    # their keys on collision (Kusto).  Values pass through the string
    # map type (scalar values re-render as strings — the documented
    # dynamic-as-JSON-string approximation this dialect uses
    # throughout).  The merged expression repeats per fold step, so
    # the arity is capped loudly instead of generating exploding SQL.
    def _bag_merge(a: list[str]) -> str:
        if len(a) < 2:
            raise KqlParseError("bag_merge needs at least two bags")
        if len(a) > 4:
            raise KqlParseError(
                "bag_merge supports at most 4 bags per call — nest "
                "calls for more"
            )

        def merge2(x: str, y: str) -> str:
            mx = f"from_json({x}, 'map<string,string>')"
            my = f"from_json({y}, 'map<string,string>')"
            return (
                f"to_json(map_concat({mx}, map_filter({my}, "
                f"(__k, __v) -> NOT array_contains(map_keys({mx}), "
                "__k))))"
            )

        out = a[0]
        for nxt in a[1:]:
            out = merge2(out, nxt)
        return out

    e = _rewrite_calls(e, "bag_merge", _bag_merge)
    e = _rewrite_calls(e, "dcount", lambda a: f"count(DISTINCT {a[0]})")
    e = _rewrite_calls(
        e, "count_distinct", lambda a: f"count(DISTINCT {a[0]})"
    )
    # population-variance family (Kusto stdevp/variancep); the sample
    # forms spell out Spark's canonical names so they never depend on
    # alias availability
    e = _rewrite_calls(e, "stdevp", lambda a: f"stddev_pop({a[0]})")
    e = _rewrite_calls(e, "variancep", lambda a: f"var_pop({a[0]})")
    e = _rewrite_calls(e, "stdev", lambda a: f"stddev_samp({a[0]})")
    e = _rewrite_calls(e, "variance", lambda a: f"var_samp({a[0]})")
    # conditional aggregates -> SQL FILTER clauses (JVM-side, one pass)
    for kql_fn, sql_fn in (
        ("sumif", "sum"),
        ("avgif", "avg"),
        ("minif", "min"),
        ("maxif", "max"),
    ):
        e = _rewrite_calls(
            e, kql_fn,
            lambda a, f=sql_fn: f"{f}({a[0]}) FILTER (WHERE {a[1]})",
        )
    e = _rewrite_calls(
        e, "dcountif",
        lambda a: f"count(DISTINCT {a[0]}) FILTER (WHERE {a[1]})",
    )
    e = _rewrite_calls(
        e, "make_list_if",
        lambda a: f"collect_list({a[0]}) FILTER (WHERE {a[1]})",
    )
    e = _rewrite_calls(
        e, "make_set_if",
        lambda a: f"collect_set({a[0]}) FILTER (WHERE {a[1]})",
    )
    e = _rewrite_calls(
        e, "take_anyif",
        lambda a: f"any_value({a[0]}) FILTER (WHERE {a[1]})",
    )
    e = _rewrite_calls(
        e, "count_distinctif",
        lambda a: f"count(DISTINCT {a[0]}) FILTER (WHERE {a[1]})",
    )
    # make_bag_if: non-matching rows yield NULL bags, which the
    # make_bag fold (collect_list under the hood) already skips —
    # rewritten BEFORE make_bag so the emitted call lowers next
    e = _rewrite_calls(
        e, "make_bag_if",
        lambda a: f"make_bag(CASE WHEN {a[1]} THEN {a[0]} END)",
        self_referential=True,
    )
    # bitwise fold aggregates
    e = _rewrite_calls(e, "binary_all_or", lambda a: f"bit_or({a[0]})")
    e = _rewrite_calls(e, "binary_all_and", lambda a: f"bit_and({a[0]})")
    e = _rewrite_calls(e, "binary_all_xor", lambda a: f"bit_xor({a[0]})")
    # HyperLogLog sketches (Spark 3.5+ Apache DataSketches surface):
    # hll() builds the binary sketch, hll_merge unions, dcount_hll
    # reads the estimate — the reusable-intermediate dcount idiom
    e = _rewrite_calls(e, "hll_merge", lambda a: f"hll_union_agg({a[0]})")
    e = _rewrite_calls(e, "hll", lambda a: f"hll_sketch_agg({a[0]})")
    e = _rewrite_calls(
        e, "dcount_hll", lambda a: f"hll_sketch_estimate({a[0]})"
    )
    # make_bag: fold row bags into one (later rows win duplicate keys,
    # matching bag_merge's documented first-bag-wins seen from the
    # reversed fold).  Values stay strings (the dynamic-as-JSON rep).
    e = _rewrite_calls(
        e,
        "make_bag",
        lambda a: (
            "to_json(map_from_entries(aggregate("
            f"collect_list(map_entries(from_json({a[0]}, "
            "'map<string,string>'))), "
            "CAST(array() AS ARRAY<STRUCT<key: STRING, value: STRING>>), "
            "(acc, x) -> concat(filter(acc, e -> NOT array_contains("
            "transform(x, y -> y.key), e.key)), x))))"
        ),
    )
    # Kusto percentile(x, P) takes a 0-100 percent; Spark's exact
    # percentile takes a 0-1 fraction
    e = _rewrite_calls(
        e,
        "percentile",
        lambda a: f"percentile({a[0]}, ({a[1]}) / 100.0)",
        self_referential=True,
    )
    e = _rewrite_calls(
        e,
        "percentiles",
        # multi-percentile -> ONE array-valued exact percentile pass
        lambda a: (
            f"percentile({a[0]}, array("
            + ", ".join(f"CAST({p} AS DOUBLE) / 100.0" for p in a[1:])
            + "))"
        ),
        self_referential=True,
    )

    # percentilew/percentilesw: WEIGHTED percentiles — Spark's exact
    # percentile takes a frequency third argument, so the weighted
    # form is the same single-pass aggregate (weights must be
    # integral, matching Kusto's intent).  MUST run after the
    # percentile/percentiles rewrites above: these emit final
    # `percentile(...)` SQL that the percent->fraction rewrite would
    # otherwise divide a second time.
    def _pctw(a: list[str]) -> str:
        if len(a) != 3:
            raise KqlParseError(
                "percentilew takes (expr, weight, percentile)"
            )
        return (
            f"percentile({a[0]}, ({a[2]}) / 100.0, "
            f"CAST({a[1]} AS BIGINT))"
        )

    e = _rewrite_calls(e, "percentilew", _pctw)

    def _pctsw(a: list[str]) -> str:
        if len(a) < 3:
            raise KqlParseError(
                "percentilesw takes (expr, weight, p1[, p2...])"
            )
        return (
            f"percentile({a[0]}, array("
            + ", ".join(f"CAST({p} AS DOUBLE) / 100.0" for p in a[2:])
            + f"), CAST({a[1]} AS BIGINT))"
        )

    e = _rewrite_calls(e, "percentilesw", _pctsw)
    e = _rewrite_calls(
        e,
        "make_list_with_nulls",
        # collect_list drops nulls; wrapping each value in a struct
        # smuggles them through, then the transform unwraps
        lambda a: (
            f"transform(collect_list(struct({a[0]} AS __v)), "
            "__s -> __s.__v)"
        ),
    )
    e = _rewrite_calls(
        e,
        "make_list",
        # optional max-size cap (Kusto's 2-arg form)
        lambda a: f"collect_list({a[0]})"
        if len(a) == 1
        else f"slice(collect_list({a[0]}), 1, {a[1]})",
    )
    e = _rewrite_calls(
        e, "covariance", lambda a: f"covar_samp({a[0]}, {a[1]})"
    )
    e = _rewrite_calls(
        e, "covariancep", lambda a: f"covar_pop({a[0]}, {a[1]})"
    )
    e = re.sub(r"\bstdevp\s*\(", "stddev_pop(", e, flags=re.IGNORECASE)
    e = re.sub(r"\bvariancep\s*\(", "var_pop(", e, flags=re.IGNORECASE)
    e = re.sub(r"\bstdev\s*\(", "stddev_samp(", e, flags=re.IGNORECASE)
    e = re.sub(r"\bvariance\s*\(", "var_samp(", e, flags=re.IGNORECASE)

    # -- round-3 scalar batch (call-shape rewrites) --------------------------
    def _lit_regex_literal(raw: str) -> str:
        """Escape regex metacharacters in a raw string and render it as
        a Spark SQL string literal (backslashes doubled: SQL literals
        consume one level).  Only true metachars are escaped so common
        delimiters (' ', ',') stay readable in the lowered SQL."""
        esc = re.sub(r"([.*+?^$(){}\[\]|\\])", r"\\\1", raw)
        return esc.replace("\\", "\\\\").replace("'", "\\'")

    def _split(a: list[str]) -> str:
        d = a[1].strip()
        if d.startswith(("'", '"')) and d.endswith(("'", '"')) and len(d) >= 2:
            d = f"'{_lit_regex_literal(d[1:-1])}'"  # KQL: literal; Spark: regex
        base = f"split({a[0]}, {d})"
        if len(a) > 2:  # requestedIndex (0-based); yields the element
            return f"element_at({base}, ({a[2]}) + 1)"
        return base

    e = _rewrite_calls(e, "split", _split, self_referential=True)

    def _trim(a: list[str], lead: bool, trail: bool) -> str:
        p = a[0].strip()
        if not (p.startswith(("'", '"')) and p.endswith(("'", '"'))):
            raise KqlParseError("trim/trim_start/trim_end need a regex literal")
        raw = p[1:-1]
        pats = []
        if lead:
            pats.append(f"^(?:{raw})+")
        if trail:
            pats.append(f"(?:{raw})+$")
        pat = "|".join(pats)
        return f"regexp_replace({a[1]}, '{pat}', '')"

    e = _rewrite_calls(e, "trim_start", lambda a: _trim(a, True, False))
    e = _rewrite_calls(e, "trim_end", lambda a: _trim(a, False, True))
    e = _rewrite_calls(e, "trim", lambda a: _trim(a, True, True))

    def _pack(a: list[str]) -> str:
        if len(a) < 2 or len(a) % 2:
            raise KqlParseError("pack/bag_pack need key1, val1, ... pairs")
        return f"to_json(named_struct({', '.join(a)}))"

    e = _rewrite_calls(e, "pack_dictionary", _pack)
    e = _rewrite_calls(e, "bag_pack", _pack)
    e = _rewrite_calls(e, "pack", _pack)

    def _chain(fn: str, a: list[str]) -> str:
        out = a[0]
        for nxt in a[1:]:
            out = f"{fn}({out}, {nxt})"
        return out

    # Spark's array_union/intersect/except already dedup — exactly the
    # KQL set_* semantics
    # round-4 scalar batch: rotation/shift/split, set/bag extras,
    # ip/version parsing, regex counting — each a pure Catalyst
    # expression (no UDFs)
    e = _rewrite_calls(
        e,
        "countof_regex",
        lambda a: f"CAST(size(regexp_extract_all({a[0]}, {a[1]}, 0)) AS BIGINT)",
    )

    def _rot(a: list[str], right: bool) -> str:
        arr, n = a[0], a[1]
        if right:
            n = f"(-({n}))"
        k = f"pmod({n}, size({arr}))"
        return (
            f"(CASE WHEN size({arr}) <= 1 THEN {arr} ELSE "
            f"concat(slice({arr}, {k} + 1, size({arr})), "
            f"slice({arr}, 1, {k})) END)"
        )

    e = _rewrite_calls(e, "array_rotate_left", lambda a: _rot(a, False))
    e = _rewrite_calls(e, "array_rotate_right", lambda a: _rot(a, True))

    def _shift(a: list[str], left: bool) -> str:
        arr, n = a[0], a[1]
        if not left:
            n = f"(-({n}))"
        fill = (
            f"transform(slice({arr}, 1, least(abs({n}), size({arr}))), "
            + (f"x -> {a[2]})" if len(a) > 2 else "x -> NULL)")
        )
        return (
            f"(CASE WHEN ({n}) >= 0 THEN "
            f"concat(slice({arr}, ({n}) + 1, "
            f"greatest(size({arr}) - ({n}), 0)), {fill}) "
            f"ELSE concat({fill}, "
            f"slice({arr}, 1, greatest(size({arr}) + ({n}), 0))) END)"
        )

    e = _rewrite_calls(e, "array_shift_left", lambda a: _shift(a, True))
    e = _rewrite_calls(e, "array_shift_right", lambda a: _shift(a, False))
    e = _rewrite_calls(
        e,
        "array_split",
        # 0-based split index (single-index form)
        lambda a: f"array(slice({a[0]}, 1, {a[1]}), "
        f"slice({a[0]}, ({a[1]}) + 1, size({a[0]})))",
    )
    e = _rewrite_calls(
        e, "set_has_element", lambda a: f"array_contains({a[0]}, {a[1]})"
    )
    e = _rewrite_calls(
        e,
        "jaccard_index",
        lambda a: (
            f"(CASE WHEN size(array_union({a[0]}, {a[1]})) = 0 THEN 1.0D "
            f"ELSE CAST(size(array_intersect({a[0]}, {a[1]})) AS DOUBLE) "
            f"/ size(array_union({a[0]}, {a[1]})) END)"
        ),
    )
    e = _rewrite_calls(e, "week_of_year", lambda a: f"weekofyear({a[0]})")
    e = _rewrite_calls(
        e,
        "endofday",
        lambda a: f"timestamp_micros(unix_micros(date_trunc('DAY', {a[0]})) "
        "+ 86399999999)",
    )
    e = _rewrite_calls(
        e,
        "endofmonth",
        lambda a: "timestamp_micros(unix_micros("
        f"date_trunc('MONTH', {a[0]}) + INTERVAL 1 MONTH) - 1)",
    )
    e = _rewrite_calls(
        e,
        "endofyear",
        lambda a: "timestamp_micros(unix_micros("
        f"date_trunc('YEAR', {a[0]}) + INTERVAL 1 YEAR) - 1)",
    )
    # Kusto weeks start SUNDAY (dayofweek: Sun=1); startofweek is
    # rewritten earlier (before the startof* family) for the same reason
    e = _rewrite_calls(
        e,
        "endofweek",
        lambda a: (
            "timestamp_micros(unix_micros("
            f"timestampadd(DAY, 8 - dayofweek({a[0]}), "
            f"date_trunc('DAY', {a[0]}))) - 1)"
        ),
    )

    # format_bytes(value [, precision [, units]]) — precision and
    # units must be LITERALS (they pick the output template at
    # translate time); auto unit = largest 1024-power with |v| >= 1,
    # via exact integer thresholds (no float log)
    _BYTE_UNITS = ["Bytes", "KB", "MB", "GB", "TB", "PB", "EB"]

    def _format_bytes(a: list[str]) -> str:
        if not 1 <= len(a) <= 3:
            raise KqlParseError(
                "format_bytes takes (value [, precision [, units]])"
            )
        v = a[0]
        prec = 0
        if len(a) > 1:
            if not re.fullmatch(r"\d+", a[1].strip()):
                raise KqlParseError(
                    "format_bytes: precision must be an integer literal"
                )
            prec = int(a[1])
        if len(a) > 2:
            u = a[2].strip().strip("'\"")
            if u not in _BYTE_UNITS:
                raise KqlParseError(
                    f"format_bytes: unknown units {u!r} "
                    f"(use one of {_BYTE_UNITS})"
                )
            k = _BYTE_UNITS.index(u)
            return (
                f"concat(format_string('%.{prec}f', "
                f"CAST({v} AS DOUBLE) / {float(2 ** (10 * k))!r}), "
                f"' {u}')"
            )
        k_expr = " ".join(
            f"WHEN abs(CAST({v} AS DOUBLE)) >= {float(2 ** (10 * k))!r} "
            f"THEN {k}"
            for k in range(6, 0, -1)
        )
        k_sql = f"(CASE {k_expr} ELSE 0 END)"
        units_arr = ", ".join(f"'{u}'" for u in _BYTE_UNITS)
        return (
            f"concat(format_string('%.{prec}f', CAST({v} AS DOUBLE) "
            f"/ power(2.0D, 10 * {k_sql})), ' ', "
            f"element_at(array({units_arr}), {k_sql} + 1))"
        )

    e = _rewrite_calls(e, "format_bytes", _format_bytes)

    # format_timespan(timespan, format) — format must be a string
    # LITERAL; supported tokens d/dd/h/hh/m/mm/s/ss/f{1..7} plus
    # [.:- ] separators.  The timespan (a day-time interval) folds to
    # total microseconds via the epoch round-trip; negative timespans
    # are outside this profile (documented, like Kusto's d-prefix)
    def _format_timespan(a: list[str]) -> str:
        if len(a) != 2:
            raise KqlParseError("format_timespan takes (timespan, format)")
        fmt = a[1].strip()
        if not (fmt.startswith(("'", '"')) and fmt.endswith(("'", '"'))):
            raise KqlParseError(
                "format_timespan: format must be a string literal"
            )
        us = f"unix_micros(timestamp_micros(0) + ({a[0]}))"
        parts = []
        for tok in re.findall(r"d+|h+|m+|s+|f+|[^dhmsf]+", fmt[1:-1]):
            if tok[0] == "d":
                d = f"CAST(({us}) DIV 86400000000 AS STRING)"
                parts.append(
                    f"lpad({d}, {len(tok)}, '0')" if len(tok) > 1 else d
                )
            elif tok[0] == "h":
                parts.append(
                    f"lpad(CAST((({us}) DIV 3600000000) % 24 AS STRING), "
                    f"{max(len(tok), 1)}, '0')"
                    if len(tok) > 1
                    else f"CAST((({us}) DIV 3600000000) % 24 AS STRING)"
                )
            elif tok[0] == "m":
                parts.append(
                    f"lpad(CAST((({us}) DIV 60000000) % 60 AS STRING), "
                    f"2, '0')"
                    if len(tok) > 1
                    else f"CAST((({us}) DIV 60000000) % 60 AS STRING)"
                )
            elif tok[0] == "s":
                parts.append(
                    f"lpad(CAST((({us}) DIV 1000000) % 60 AS STRING), "
                    f"2, '0')"
                    if len(tok) > 1
                    else f"CAST((({us}) DIV 1000000) % 60 AS STRING)"
                )
            elif tok[0] == "f":
                n = len(tok)
                if n > 7:
                    raise KqlParseError(
                        "format_timespan: at most 7 fraction digits"
                    )
                # µs resolution: 7th digit (100 ns) is always 0
                frac = f"lpad(CAST(({us}) % 1000000 AS STRING), 6, '0')"
                parts.append(
                    f"rpad(substring({frac}, 1, {min(n, 6)}), {n}, '0')"
                )
            else:
                parts.append("'" + tok.replace("'", "\\'") + "'")
        return "concat(" + ", ".join(parts) + ")"

    e = _rewrite_calls(e, "format_timespan", _format_timespan)

    # parse_path(path) -> Kusto's path property bag.  '\\' and '/'
    # both separate (normalized first); restricted profile:
    # AlternateDataStreamName only for a ':'-suffixed filename tail,
    # RootPath = drive ('C:') or UNC root ('//share')
    def _parse_path(a: list[str]) -> str:
        p = f"replace({a[0]}, '\\\\', '/')"
        dirp = f"substring({p}, 1, length({p}) - length(substring_index({p}, '/', -1)) - 1)"
        fname = f"substring_index({p}, '/', -1)"
        return (
            "to_json(named_struct("
            f"'Scheme', coalesce(regexp_extract({p}, "
            "'^([A-Za-z][A-Za-z0-9+.-]*)://', 1), ''), "
            f"'RootPath', coalesce(regexp_extract({p}, "
            "'^([A-Za-z]:|//[^/]+)', 1), ''), "
            f"'DirectoryPath', {dirp}, "
            f"'DirectoryName', substring_index({dirp}, '/', -1), "
            f"'Filename', substring_index({fname}, ':', 1), "
            f"'Extension', CASE WHEN instr(substring_index({fname}, ':', 1), '.') > 0 "
            f"THEN substring_index(substring_index({fname}, ':', 1), '.', -1) "
            "ELSE '' END, "
            f"'AlternateDataStreamName', CASE WHEN instr({fname}, ':') > 0 "
            f"THEN substring_index({fname}, ':', -1) ELSE '' END))"
        )

    e = _rewrite_calls(e, "parse_path", _parse_path)
    e = _rewrite_calls(
        e,
        "isascii",
        lambda a: f"(coalesce({a[0]} RLIKE '^[\\\\x00-\\\\x7F]*$', false))",
    )
    # Spark strings are UTF-8 by construction: non-null => valid
    e = _rewrite_calls(e, "isutf8", lambda a: f"(({a[0]}) IS NOT NULL)")

    def _pv(a: list[str]) -> str:
        parts = f"split({a[0]}, '[.]')"
        padded = ", ".join(
            f"lpad(coalesce(try_element_at({parts}, {i}), '0'), 8, '0')"
            for i in (1, 2, 3, 4)
        )
        return f"CAST(concat({padded}) AS DECIMAL(38, 0))"

    e = _rewrite_calls(e, "parse_version", _pv)

    def _ip4(x: str) -> str:
        # only the first FOUR dot-separated octets fold (slice keeps a
        # '/mask' suffix out deterministically)
        return (
            f"aggregate(transform(slice(split({x}, '[./]'), 1, 4), "
            "v -> CAST(v AS BIGINT)), 0L, "
            "(acc, v) -> acc * 256 + v)"
        )

    # parse_ipv4('a.b.c.d[/m]') -> 32-bit int as BIGINT
    e = _rewrite_calls(e, "parse_ipv4", lambda a: _ip4(a[0]))
    e = _rewrite_calls(
        e,
        "ipv4_is_private",
        lambda a: (
            f"(({_ip4(a[0])} BETWEEN 167772160 AND 184549375) OR "
            f"({_ip4(a[0])} BETWEEN 2886729728 AND 2887778303) OR "
            f"({_ip4(a[0])} BETWEEN 3232235520 AND 3232301055))"
        ),
    )

    def _ip_range(a: list[str]) -> str:
        ip = _ip4(a[0])
        cidr = a[1]
        pref = _ip4(f"substring_index({cidr}, '/', 1)")
        bits = (
            f"(CASE WHEN instr({cidr}, '/') > 0 THEN "
            f"CAST(substring_index({cidr}, '/', -1) AS INT) ELSE 32 END)"
        )
        return (
            f"(shiftright({ip}, 32 - {bits}) = "
            f"shiftright({pref}, 32 - {bits}))"
        )

    e = _rewrite_calls(e, "ipv4_is_in_range", _ip_range)

    # ---- IPv6 toolkit: canonicalization + prefix compare ----
    # All pure JVM string/array expressions.  parse_ipv6 canonicalizes
    # to the full lowercase 8-group form (zero-compression expanded,
    # embedded/bare IPv4 mapped to the last two groups, '/len' suffix
    # stripped); malformed inputs yield NULL (wrong group count, bad
    # hex, group wider than 16 bits).
    def _ip6_canon(src: str) -> str:
        # v4 tail 'a.b.c.d' -> two hex groups (hex() is uppercase;
        # the final lower() normalizes)
        oct_ = (
            "try_cast(regexp_extract(__s, "
            "'([0-9]+)\\\\.([0-9]+)\\\\.([0-9]+)\\\\.([0-9]+)$', {g}) "
            "AS INT)"
        )
        octs_ok = " AND ".join(
            f"{oct_.format(g=g)} BETWEEN 0 AND 255" for g in (1, 2, 3, 4)
        )
        v4fix = (
            # out-of-range / malformed octets make the whole address
            # NULL (Kusto's parse_ipv6 null-on-invalid contract)
            f"CASE WHEN __s RLIKE '\\\\.' THEN (CASE WHEN {octs_ok} "
            "THEN concat("
            "regexp_replace(__s, '[0-9]+\\\\.[0-9]+\\\\.[0-9]+\\\\.[0-9]+$', ''), "
            f"hex({oct_.format(g=1)} * 256 + {oct_.format(g=2)}), ':', "
            f"hex({oct_.format(g=3)} * 256 + {oct_.format(g=4)})) END) "
            "ELSE __s END"
        )
        # '::' expansion: left ++ zeros ++ right padded to 8 groups;
        # more than one '::' is malformed -> empty marker group, which
        # the canon validity check turns into NULL
        groups = (
            "CASE WHEN size(split(__u, '::')) > 2 THEN array('') "
            "WHEN instr(__u, '::') > 0 THEN concat("
            "filter(split(element_at(split(__u, '::'), 1), ':'), "
            "__g -> __g != ''), "
            "array_repeat('0', 8 "
            "- size(filter(split(element_at(split(__u, '::'), 1), ':'), "
            "__g -> __g != '')) "
            "- size(filter(split(element_at(split(__u, '::'), 2), ':'), "
            "__g -> __g != ''))), "
            "filter(split(element_at(split(__u, '::'), 2), ':'), "
            "__g -> __g != '')) "
            "ELSE split(__u, ':') END"
        )
        canon = (
            "CASE WHEN size(__v) = 8 AND NOT exists(__v, __g -> "
            "length(__g) > 4 OR length(__g) = 0 "
            "OR __g NOT RLIKE '^[0-9a-fA-F]+$') "
            "THEN lower(concat_ws(':', transform(__v, __g -> "
            "lpad(__g, 4, '0')))) END"
        )
        return (
            "transform(array("  # bind __s: bare-v4 -> mapped, strip /len
            f"CASE WHEN regexp_replace({src}, '/.*$', '') NOT LIKE '%:%' "
            f"THEN concat('::ffff:', regexp_replace({src}, '/.*$', '')) "
            f"ELSE regexp_replace({src}, '/.*$', '') END"
            "), __s -> "
            f"transform(array({v4fix}), __u -> "
            f"transform(array({groups}), __v -> {canon})[0]"
            ")[0])[0]"
        )

    e = _rewrite_calls(e, "parse_ipv6", lambda a: f"({_ip6_canon(a[0])})")

    # ipv6_compare / ipv6_is_match: compare the canonical forms masked
    # to the effective prefix = least(explicit arg (default 128),
    # '/len' suffixes carried by either address).  Equal-length
    # lowercase hex strings compare lexicographically = numerically.
    def _ip6_pfx(src: str) -> str:
        return (
            f"CASE WHEN instr({src}, '/') > 0 THEN "
            f"coalesce(try_cast(substring_index({src}, '/', -1) AS INT), "
            "128) ELSE 128 END"
        )

    def _ip6_masked(canon_var: str, pfx_var: str) -> str:
        shift = (
            f"shiftleft(1, 16 - greatest(least({pfx_var} - 16 * __i, 16), 0))"
        )
        return (
            f"concat_ws(':', transform(sequence(0, 7), __i -> "
            f"lpad(lower(hex((CAST(conv(element_at(split({canon_var}, ':'), "
            f"__i + 1), 16, 10) AS BIGINT) DIV {shift}) * {shift})), "
            "4, '0')))"
        )

    def _ip6_cmp(a: list[str]) -> str:
        if len(a) not in (2, 3):
            raise KqlParseError(
                "ipv6_compare takes (ip1, ip2[, prefix])"
            )
        explicit = a[2] if len(a) == 3 else "128"
        return (
            "(transform(array(named_struct("
            f"'a', {_ip6_canon(a[0])}, 'b', {_ip6_canon(a[1])}, "
            f"'p', least(CAST(({explicit}) AS INT), {_ip6_pfx(a[0])}, "
            f"{_ip6_pfx(a[1])}))), __c -> "
            "CASE WHEN __c.a IS NULL OR __c.b IS NULL THEN CAST(NULL AS INT) "
            f"WHEN {_ip6_masked('__c.a', '__c.p')} "
            f"< {_ip6_masked('__c.b', '__c.p')} THEN -1 "
            f"WHEN {_ip6_masked('__c.a', '__c.p')} "
            f"> {_ip6_masked('__c.b', '__c.p')} THEN 1 "
            "ELSE 0 END)[0])"
        )

    e = _rewrite_calls(e, "ipv6_compare", _ip6_cmp)
    e = _rewrite_calls(
        e, "ipv6_is_match", lambda a: f"({_ip6_cmp(a)} = 0)"
    )
    e = _rewrite_calls(
        e,
        "extract_all",
        # extract_all(regex, text): array of the first capture group
        lambda a: f"regexp_extract_all({a[-1]}, {a[0]}, 1)",
    )
    e = _rewrite_calls(
        e,
        "hash_xxhash64",
        lambda a: f"xxhash64({a[0]})"
        if len(a) == 1
        else f"pmod(xxhash64({a[0]}), {a[1]})",
    )
    e = _rewrite_calls(
        e, "zip", lambda a: f"zip_with({a[0]}, {a[1]}, (l, r) -> array(l, r))"
    )
    e = _rewrite_calls(e, "repeat_string", lambda a: f"repeat({a[0]}, {a[1]})")
    e = re.sub(r"\bnew_guid\s*\(\s*\)", "uuid()", e, flags=re.IGNORECASE)
    e = _rewrite_calls(
        e,
        "bag_remove_keys",
        # JSON-bag representation: drop entries whose key is in the
        # removal array, rebuild the bag (values stay JSON-typed)
        lambda a: (
            f"to_json(map_filter(from_json({a[0]}, 'map<string,string>'), "
            f"(k, v) -> NOT array_contains(CAST({a[1]} AS ARRAY<STRING>), k)))"
        ),
    )
    # geo toolkit: spherical approximations (haversine, IUGG mean
    # radius 6371.0088 km) as pure trig expressions — Kusto's geo_*
    # surface for the distance/containment cases dashboards use
    def _hav(lon1, lat1, lon2, lat2):
        return (
            "(2.0 * 6371008.8 * asin(least(1.0D, sqrt("
            f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
            f"cos(radians({lat1})) * cos(radians({lat2})) * "
            f"pow(sin((radians({lon2}) - radians({lon1})) / 2), 2)))))"
        )

    e = _rewrite_calls(
        e, "geo_distance_2points", lambda a: _hav(a[0], a[1], a[2], a[3])
    )
    e = _rewrite_calls(
        e,
        "geo_point_in_circle",
        # (p_lon, p_lat, c_lon, c_lat, radius_m)
        lambda a: f"({_hav(a[0], a[1], a[2], a[3])} <= ({a[4]}))",
    )

    _GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    # geo_point_to_geohash(lon, lat, precision): precision must be a
    # LITERAL 1..12 — the whole encode then UNROLLS at translate time
    # into plain integer arithmetic (scale lon/lat to fixed-point
    # ints, interleave bits lon-first, base32 the 5-bit groups): no
    # lambdas, no UDF, and the identical formula runs on any SQL
    # engine (the oracle twin).  Every double step is IEEE-exact-
    # deterministic, so engines agree bit-for-bit.
    def _geohash_enc(a: list[str]) -> str:
        if len(a) != 3:
            raise KqlParseError(
                "geo_point_to_geohash takes (longitude, latitude, "
                "precision)"
            )
        if not re.fullmatch(r"\d+", a[2].strip()):
            raise KqlParseError(
                "geo_point_to_geohash: precision must be an integer "
                "literal"
            )
        p = int(a[2])
        if not 1 <= p <= 12:
            raise KqlParseError(
                "geo_point_to_geohash: precision must be 1..12"
            )
        n = 5 * p
        lonbits, latbits = (n + 1) // 2, n // 2
        lon_i = (
            f"least(CAST(floor((({a[0]}) + 180.0D) / 360.0D * "
            f"{float(2 ** lonbits)!r}) AS BIGINT), {2 ** lonbits - 1})"
        )
        lat_i = (
            f"least(CAST(floor((({a[1]}) + 90.0D) / 180.0D * "
            f"{float(2 ** latbits)!r}) AS BIGINT), {2 ** latbits - 1})"
        )
        chars = []
        for i in range(p):
            terms = []
            for j in range(5):
                t = 5 * i + j  # global bit index, 0 = MSB, lon first
                if t % 2 == 0:
                    src_, sh = "__ghlon", lonbits - 1 - t // 2
                else:
                    src_, sh = "__ghlat", latbits - 1 - (t - 1) // 2
                terms.append(
                    f"(({src_} DIV {2 ** sh}) % 2) * {2 ** (4 - j)}"
                )
            chars.append(
                f"substring('{_GH32}', ({' + '.join(terms)}) + 1, 1)"
            )
        # bind the scaled ints once via a 2-element struct inlined as
        # a lambda-free let: a higher-order transform over a 1-element
        # array keeps each int computed once, not 5p times
        return (
            "(transform(array(named_struct("
            f"'__l', {lon_i}, '__t', {lat_i})), __g -> "
            + "concat("
            + ", ".join(
                c.replace("__ghlon", "__g.__l").replace(
                    "__ghlat", "__g.__t"
                )
                for c in chars
            )
            + "))[0])"
        )

    e = _rewrite_calls(e, "geo_point_to_geohash", _geohash_enc)

    # geo_geohash_to_central_point(gh): runtime-length decode — one
    # fold re-packs the base32 digits into a BIGINT (<= 60 bits), two
    # de-interleaving folds split even/odd bits back into the lon/lat
    # fixed-point ints, and the cell center is exact dyadic math.
    # Kusto returns a GeoJSON Point dynamic; dynamics here are JSON
    # strings.
    def _geohash_dec(a: list[str]) -> str:
        gh = a[0]
        iv = (
            f"aggregate(sequence(1, length({gh})), 0L, (__a, __i) -> "
            f"__a * 32 + instr('{_GH32}', substring({gh}, __i, 1)) - 1)"
        )
        n = f"(5 * length({gh}))"
        # even global bit positions -> lon, odd -> lat (lon first)
        lon_i = (
            f"aggregate(sequence(0, {n} - 1), 0L, (__a, __t) -> "
            f"CASE WHEN __t % 2 = 0 THEN __a * 2 + "
            f"(shiftright(__iv, {n} - 1 - __t) % 2) ELSE __a END)"
        )
        lat_i = (
            f"aggregate(sequence(0, {n} - 1), 0L, (__a, __t) -> "
            f"CASE WHEN __t % 2 = 1 THEN __a * 2 + "
            f"(shiftright(__iv, {n} - 1 - __t) % 2) ELSE __a END)"
        )
        lon = (
            f"(-180.0D + 360.0D * (CAST({lon_i} AS DOUBLE) + 0.5D) "
            f"/ power(2.0D, CAST(({n} + 1) DIV 2 AS DOUBLE)))"
        )
        lat = (
            f"(-90.0D + 180.0D * (CAST({lat_i} AS DOUBLE) + 0.5D) "
            f"/ power(2.0D, CAST({n} DIV 2 AS DOUBLE)))"
        )
        body = (
            "to_json(named_struct('type', 'Point', 'coordinates', "
            f"array({lon}, {lat})))"
        )
        # invalid characters (geohash base32 excludes a/i/l/o and
        # uppercase) or length outside 1..12 -> NULL, matching Kusto;
        # without the guard instr() = 0 would silently fold digit -1
        # into plausible-but-wrong coordinates
        return (
            f"(CASE WHEN ({a[0]}) RLIKE '^[0-9b-hjkmnp-z]{{1,12}}$' THEN "
            f"transform(array({iv}), __iv -> {body})[0] END)"
        )

    e = _rewrite_calls(e, "geo_geohash_to_central_point", _geohash_dec)
    # bit/conversion/datetime batch
    e = _rewrite_calls(e, "binary_and", lambda a: f"(({a[0]}) & ({a[1]}))")
    e = _rewrite_calls(e, "binary_or", lambda a: f"(({a[0]}) | ({a[1]}))")
    e = _rewrite_calls(e, "binary_xor", lambda a: f"(({a[0]}) ^ ({a[1]}))")
    e = _rewrite_calls(e, "binary_not", lambda a: f"(~({a[0]}))")
    e = _rewrite_calls(
        e, "binary_shift_left", lambda a: f"shiftleft({a[0]}, {a[1]})"
    )
    e = _rewrite_calls(
        e, "binary_shift_right", lambda a: f"shiftright({a[0]}, {a[1]})"
    )
    e = _rewrite_calls(e, "bitset_count_ones", lambda a: f"bit_count({a[0]})")
    e = _rewrite_calls(
        e,
        "around",
        lambda a: (
            f"(({a[0]}) >= ({a[1]}) - ({a[2]}) "
            f"AND ({a[0]}) <= ({a[1]}) + ({a[2]}))"
        ),
    )
    # Kusto floor(x, size) IS bin(x, size); 1-arg floor stays SQL floor
    e = _rewrite_calls(
        e,
        "floor",
        lambda a: f"FLOOR({a[0]})"
        if len(a) == 1
        else f"(FLOOR(({a[0]}) / ({a[1]})) * ({a[1]}))",
        self_referential=True,
    )
    e = _rewrite_calls(
        e,
        "make_datetime",
        lambda a: "make_timestamp("
        + ", ".join((a + ["0", "0", "0"])[:5] + [(a + ["0"] * 6)[5]])
        + ")",
    )
    e = _rewrite_calls(
        e,
        "make_timespan",
        # (h, m, s) or (d, h, m, s)
        lambda a: (
            "make_interval(0, 0, 0, "
            + (
                f"0, {a[0]}, {a[1]}, CAST({a[2]} AS DOUBLE))"
                if len(a) == 3
                else f"{a[0]}, {a[1]}, {a[2]}, CAST({a[3]} AS DOUBLE))"
            )
        ),
    )
    e = _rewrite_calls(
        e,
        "datetime_local_to_utc",
        lambda a: f"to_utc_timestamp({a[0]}, {a[1]})",
    )
    e = _rewrite_calls(
        e,
        "datetime_utc_to_local",
        lambda a: f"from_utc_timestamp({a[0]}, {a[1]})",
    )
    e = _rewrite_calls(
        e,
        "estimate_data_size",
        # rough serialized-bytes estimate: octet length of the string
        # rendering of each column (Kusto's is also an estimate)
        lambda a: "("
        + " + ".join(
            f"coalesce(octet_length(CAST({x} AS STRING)), 0)" for x in a
        )
        + ")",
    )
    e = _rewrite_calls(
        e,
        "toguid",
        lambda a: (
            f"(CASE WHEN ({a[0]}) RLIKE "
            "'^[0-9a-fA-F]{8}(-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}$' "
            f"THEN lower({a[0]}) END)"
        ),
    )
    e = _rewrite_calls(
        e,
        "totimespan",
        # 'hh:mm:ss[.fff]' literal form (the common emitted shape)
        lambda a: (
            f"make_interval(0, 0, 0, 0, "
            f"CAST(split({a[0]}, ':')[0] AS INT), "
            f"CAST(split({a[0]}, ':')[1] AS INT), "
            f"CAST(split({a[0]}, ':')[2] AS DOUBLE))"
        ),
    )
    e = _rewrite_calls(
        e,
        "has_any_index",
        # 0-based index of the first array term CONTAINED in the
        # string; -1 when none (substring semantics)
        lambda a: (
            f"(CAST(array_position(transform({a[1]}, "
            f"__t -> instr({a[0]}, __t) > 0), true) AS INT) - 1)"
        ),
    )
    e = _rewrite_calls(
        e,
        "unicode_codepoints_from_string",
        lambda a: (
            f"transform(sequence(1, length({a[0]})), "
            f"__i -> ascii(substr({a[0]}, __i, 1)))"
        ),
    )
    e = _rewrite_calls(
        e,
        "indexof_regex",
        lambda a: f"(regexp_instr({a[0]}, {a[1]}) - 1)",
    )
    e = _rewrite_calls(
        e,
        "regex_quote",
        lambda a: (
            f"regexp_replace({a[0]}, "
            "'([.*+?^$(){}\\\\[\\\\]|\\\\\\\\])', '\\\\\\\\$1')"
        ),
    )
    e = _rewrite_calls(
        e,
        "gettype",
        lambda a: (
            f"(CASE typeof({a[0]}) "
            "WHEN 'double' THEN 'real' WHEN 'float' THEN 'real' "
            "WHEN 'bigint' THEN 'long' WHEN 'int' THEN 'int' "
            "WHEN 'smallint' THEN 'int' WHEN 'boolean' THEN 'bool' "
            "WHEN 'timestamp' THEN 'datetime' "
            "WHEN 'timestamp_ntz' THEN 'datetime' "
            "WHEN 'string' THEN 'string' "
            f"ELSE typeof({a[0]}) END)"
        ),
    )
    e = _rewrite_calls(e, "set_union", lambda a: _chain("array_union", a))
    e = _rewrite_calls(e, "set_intersect", lambda a: _chain("array_intersect", a))
    e = _rewrite_calls(e, "set_difference", lambda a: _chain("array_except", a))
    # KQL array_slice is 0-based with INCLUSIVE end
    e = _rewrite_calls(
        e,
        "array_slice",
        lambda a: f"slice({a[0]}, ({a[1]}) + 1, ({a[2]}) - ({a[1]}) + 1)",
    )
    e = _rewrite_calls(e, "array_sort_asc", lambda a: f"sort_array({a[0]}, true)")
    e = _rewrite_calls(e, "array_sort_desc", lambda a: f"sort_array({a[0]}, false)")
    e = _rewrite_calls(
        e, "base64_encode_tostring", lambda a: f"base64(encode({a[0]}, 'utf-8'))"
    )
    e = _rewrite_calls(
        e, "base64_decode_tostring", lambda a: f"decode(unbase64({a[0]}), 'utf-8')"
    )
    e = _rewrite_calls(e, "tohex", lambda a: f"lower(hex({a[0]}))")
    # KQL translate(searchList, replacementList, source) vs Spark
    # translate(source, from, to): swap the argument order
    e = _rewrite_calls(
        e,
        "translate",
        lambda a: f"translate({a[2]}, {a[0]}, {a[1]})",
        self_referential=True,
    )
    # datetime_add('year', n, d) -> timestampadd(year, n, d) (the same
    # quoted-part lowering datetime_diff gets above)
    e = _rewrite_calls(
        e,
        "datetime_add",
        lambda a: f"timestampadd({a[0].strip()[1:-1]}, {a[1]}, {a[2]})",
    )
    return e


# -- verb parsing ------------------------------------------------------------

_NAME_EQ = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", re.DOTALL)


def _named_exprs(arglist: str) -> list[tuple[str | None, str]]:
    """``a = expr, expr2`` -> [("a", expr), (None, expr2)] with
    top-level comma splitting."""
    out = []
    for part in _split_top(arglist, ","):
        part = part.strip()
        if not part:
            continue
        m = _NAME_EQ.match(part)
        if m and "==" not in part[: part.index("=") + 2]:
            out.append((m.group(1), m.group(2).strip()))
        else:
            out.append((None, part))
    return out


def ensure_series_functions(spark) -> None:
    """Register the engine's series kernels as session SQL functions
    (idempotent): the fill/outlier one-arg kernels plus the
    series_decompose model family (decompose / anomalies / forecast).
    KQL pipelines call this lazily when an expression mentions one;
    direct ``F.expr(translate_expr(...))`` users call it explicitly."""
    if spark is None or getattr(spark, "_mlk_series_udfs", False):
        return
    from ..operators.timeseries import (
        SERIES_KERNELS,
        _kernel_decompose,
        _kernel_decompose_anomalies,
        _kernel_decompose_forecast,
    )

    def _wrap(kernel):
        @F.pandas_udf("array<double>")
        def _u(c: pd.Series) -> pd.Series:
            return kernel(c)

        return _u

    for fn, kernel in SERIES_KERNELS.items():
        spark.udf.register(fn, _wrap(kernel))

    @F.pandas_udf(
        "struct<baseline:array<double>,seasonal:array<double>,"
        "trend:array<double>,residual:array<double>>"
    )
    def _dec(a: pd.Series, p: pd.Series, t: pd.Series) -> pd.DataFrame:
        return _kernel_decompose(a, p, t)

    @F.pandas_udf("array<int>")
    def _ad(
        a: pd.Series, p: pd.Series, k: pd.Series, t: pd.Series
    ) -> pd.Series:
        return _kernel_decompose_anomalies(a, p, k, t)

    @F.pandas_udf("array<double>")
    def _fc(
        a: pd.Series, p: pd.Series, h: pd.Series, t: pd.Series
    ) -> pd.Series:
        return _kernel_decompose_forecast(a, p, h, t)

    spark.udf.register("series_decompose", _dec)
    spark.udf.register("series_decompose_anomalies", _ad)
    spark.udf.register("series_decompose_forecast", _fc)
    spark._mlk_series_udfs = True


class KqlQuery:
    """Parses and lowers one KQL pipe expression."""

    def __init__(
        self,
        resolve: Callable[[str], DataFrame],
        spark: SparkSession | None = None,
    ):
        self.resolve = resolve
        self._spark = spark
        self._lets: dict[str, str] = {}  # tabular let bodies (lazy)
        self._let_cache: dict[str, DataFrame] = {}
        #: lambda let-functions: name -> (params, body) where params is
        #: [(pname, ptype, default_or_None)] and body is the tabular
        #: expression inside the braces
        self._funcs: dict[str, tuple[list, str]] = {}
        self._order_sql: list[str] | None = None  # serialized-row order

    def _order_columns(self):
        """The serialized order as Column objects (F.expr cannot parse
        the 'EXPR DIR NULLS X' fragments _order_sql keeps for window
        clauses)."""
        out = []
        for frag in self._order_sql or []:
            m = re.match(
                r"^(.*)\s+(ASC|DESC)\s+NULLS\s+(FIRST|LAST)$",
                frag,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                out.append(F.expr(frag))
                continue
            col = F.expr(m.group(1))
            asc = m.group(2).upper() == "ASC"
            first = m.group(3).upper() == "FIRST"
            out.append(
                (col.asc_nulls_first() if first else col.asc_nulls_last())
                if asc
                else (
                    col.desc_nulls_first() if first else col.desc_nulls_last()
                )
            )
        return out

    _LET_RE = re.compile(
        r"^let\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", re.IGNORECASE | re.DOTALL
    )

    def run(self, text: str) -> DataFrame:
        text = _strip_comments(text)
        statements = [s for s in (t.strip() for t in _split_top(text, ";")) if s]
        if not statements:
            raise KqlParseError("empty query")
        for i in range(len(statements) - 1):
            stmt = statements[i]
            m = self._LET_RE.match(stmt)
            if not m:
                raise KqlParseError(
                    f"only the final statement may be a query: {stmt!r}"
                )
            name, body = m.group(1), m.group(2).strip()
            tom = re.fullmatch(
                r"toscalar\s*\((.*)\)", body, re.IGNORECASE | re.DOTALL
            )
            if tom:
                # Kusto toscalar: evaluate the subquery NOW, take the
                # first row's first column, bind it as a literal — the
                # eager-evaluation semantics the docs specify
                rows = self._run_pipe(tom.group(1).strip()).limit(1).collect()
                val = rows[0][0] if rows else None
                sub = re.compile(r"\b" + re.escape(name) + r"\b")
                repl = f"({_sql_literal(val)})"
                for j in range(i + 1, len(statements)):
                    statements[j] = sub.sub(repl, statements[j])
                continue
            mam = re.fullmatch(
                r"materialize\s*\((.*)\)", body, re.IGNORECASE | re.DOTALL
            )
            if mam:
                # Kusto materialize(): evaluate the tabular subquery
                # ONCE and cache it for every later reference — eager
                # localCheckpoint (the deterministic-eager posture
                # every multi-consumer frame here uses); its blocks
                # free with the frame's GC instead of living for the
                # session like a bare persist would (round-9 sweep of
                # the funnel-plugin leak class).  Known tradeoff: the
                # snapshot is lineage-truncated and non-replicated, so
                # losing an executor mid-query fails the query instead
                # of recomputing — rerun; acceptable against unbounded
                # storage growth on a long session
                df = self._run_pipe(mam.group(1).strip()).localCheckpoint(
                    eager=True
                )
                self._lets[name] = name  # sentinel; cache serves reads
                self._let_cache[name] = df
                continue
            if body.startswith("("):
                # lambda let-function: (T:(*), n:long [= default]) { body }
                lam = re.fullmatch(r"\((.*)\)\s*\{(.*)\}", body, re.DOTALL)
                if lam:
                    params = []
                    for p in _split_top(lam.group(1), ","):
                        p = p.strip()
                        if not p:
                            continue
                        pname, _, rest_p = p.partition(":")
                        ptype, _, default = rest_p.partition("=")
                        params.append((
                            pname.strip(),
                            ptype.strip(),
                            default.strip() or None,
                        ))
                    self._funcs[name] = (params, lam.group(2).strip())
                    continue
            if "|" in body or re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", body):
                self._lets[name] = body  # tabular: resolved lazily
            else:
                # scalar let: substitute (word-boundary) into every
                # LATER statement — they see this binding
                sub = re.compile(r"\b" + re.escape(name) + r"\b")
                repl = f"({body})"
                for j in range(i + 1, len(statements)):
                    statements[j] = sub.sub(repl, statements[j])
        if self._LET_RE.match(statements[-1]):
            raise KqlParseError("query cannot end with a let statement")
        return self._run_pipe(statements[-1])

    def _run_pipe(self, text: str) -> DataFrame:
        stages = [s.strip() for s in _split_top(text, "|")]
        if not stages or not stages[0]:
            raise KqlParseError("empty query")
        prev_name = getattr(self, "_src_name", "source0")
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", stages[0]):
            self._src_name = stages[0]  # for `union withsource=`
        frame = KqlFrame(self._source(stages[0]))
        try:
            for op in stages[1:]:
                if getattr(self, "_fork_results", None):
                    # Kusto rejects operators after fork; silently
                    # applying them to one leg would drop them from
                    # the others
                    raise KqlParseError(
                        f"operators after fork are not supported: "
                        f"{op.strip()!r}"
                    )
                frame = self._apply(frame, op.strip())
        finally:
            self._src_name = prev_name
        if getattr(frame, "_graph", None) is not None:
            # same contract as mid-pipe: a staged graph is not tabular,
            # so a query ENDING at make-graph must not silently return
            # the edge table either
            raise KqlParseError(
                "graphs are not tabular: a query may not end at "
                "make-graph — follow it with graph-match"
            )
        return frame.df

    def _source(self, src: str) -> DataFrame:
        src = src.strip()
        if src.startswith("(") and src.endswith(")"):
            return self._run_pipe(src[1:-1])
        if re.match(r"externaldata\s*\(", src, re.IGNORECASE):
            return self._externaldata(src)
        if re.match(r"range\s", src, re.IGNORECASE):
            return self._range(src)
        if re.match(r"print\b", src, re.IGNORECASE):
            return self._print(src)
        if re.match(r"datatable\s*\(", src, re.IGNORECASE):
            return self._datatable(src)
        if re.match(r"find\s", src, re.IGNORECASE):
            return self._find(src)
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", src):
            raise KqlParseError(f"source must be a table name: {src!r}")
        if src in self._lets:
            if src not in self._let_cache:
                body = self._lets.pop(src)  # pop: a cycle fails loudly
                self._let_cache[src] = self._run_pipe(body)
                self._lets[src] = body
            return self._let_cache[src]
        return self.resolve(src)

    def _find(self, src: str) -> DataFrame:
        """``find [withsource=Col] in (T1, T2, ...) where Pred
        [project c1, c2, ...]`` — search rows matching the predicate
        across several tables (Kusto's cross-table search operator).

        Lowering: union-by-name with missing columns null-filled
        (typed from the first table that has them), then one filter —
        a predicate referencing a column a table lacks sees null
        there, exactly Kusto's semantics.  With no ``project``,
        output is Kusto's project-smart: the source column, the
        columns COMMON to every searched table, and ``pack_`` (a JSON
        bag of each row's remaining own-table columns).

        Scale shape: N table scans + a filter each — the union is
        plan-level only (no shuffle); predicate and projection push
        into every branch."""
        m = re.match(
            r"find\s+(?:withsource\s*=\s*(\w+)\s+)?in\s*\(([^)]+)\)\s*"
            r"where\s+(.+?)(?:\s+project\s+(.+))?$",
            src,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise KqlParseError(
                "find needs 'find [withsource=Col] in (T1, ...) "
                f"where pred [project cols]': {src!r}"
            )
        src_col = m.group(1) or "source_"
        names = [t.strip() for t in m.group(2).split(",") if t.strip()]
        if not names:
            raise KqlParseError("find needs at least one table")
        pred = translate_expr(m.group(3))
        proj = (
            [c.strip() for c in m.group(4).split(",")]
            if m.group(4)
            else None
        )
        dfs = [(n, self._source(n)) for n in names]
        # first-appearance column order; types from the first owner
        all_cols: dict[str, str] = {}
        for _, df in dfs:
            for f in df.schema.fields:
                all_cols.setdefault(f.name, f.dataType.simpleString())
        common = [
            c
            for c in all_cols
            if all(c in df.columns for _, df in dfs)
        ]
        out = None
        for n, df in dfs:
            cols = [F.lit(n).alias(src_col)]
            for c, dt in all_cols.items():
                cols.append(
                    F.col(c)
                    if c in df.columns
                    else F.lit(None).cast(dt).alias(c)
                )
            if proj is None:
                own = [c for c in df.columns if c not in common]
                pack = (
                    F.to_json(F.struct(*own)) if own else F.lit("{}")
                )
                branch = df.select(
                    *cols, pack.alias("pack_")
                )
            else:
                branch = df.select(*cols, F.lit(None).alias("pack_"))
            out = branch if out is None else out.unionByName(branch)
        out = out.filter(F.expr(pred))
        if proj is not None:
            return out.select(src_col, *proj)
        return out.select(src_col, *common, "pack_")

    def _range(self, src: str) -> DataFrame:
        """``range x from lo to hi step s`` — numeric or datetime axis,
        INCLUSIVE bounds (Kusto semantics).  Lowered onto a sequence()
        expression: generation happens JVM-side, and Spark distributes
        the explode."""
        m = re.match(
            r"range\s+([A-Za-z_][A-Za-z0-9_]*)\s+from\s+(.+?)\s+to\s+(.+?)"
            r"\s+step\s+(.+)$",
            src,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise KqlParseError(f"range needs 'range x from a to b step s': {src!r}")
        name, lo, hi, step = m.groups()
        spark = self._spark
        if spark is None:
            raise KqlParseError("range requires a SparkSession")
        lo_t, hi_t = translate_expr(lo), translate_expr(hi)
        step_us = _timespan_us(step)
        if step_us is not None:  # datetime axis
            step_sql = f"INTERVAL {step_us} microsecond"
        else:
            step_sql = translate_expr(step)
        return spark.range(1).select(
            F.explode(F.expr(f"sequence({lo_t}, {hi_t}, {step_sql})")).alias(name)
        )

    def _print(self, src: str) -> DataFrame:
        """``print a = expr, ...`` — one computed row."""
        spark = self._spark
        if spark is None:
            raise KqlParseError("print requires a SparkSession")
        rest = src[len("print"):].strip()
        cols = []
        for i, (name, expr) in enumerate(_named_exprs(rest)):
            cols.append(
                F.expr(translate_expr(expr)).alias(name or f"print_{i}")
            )
        if not cols:
            raise KqlParseError("print needs at least one expression")
        return spark.range(1).select(*cols)

    def _datatable(self, src: str) -> DataFrame:
        """``datatable(c1:type, ...) [v1, v2, ...]`` — inline literal
        table, values listed row-major (Kusto's test-fixture idiom)."""
        spark = self._spark
        if spark is None:
            raise KqlParseError("datatable requires a SparkSession")
        args, end = _find_args(src, src.index("("))
        names, types = [], []
        for a in args:
            cname, _, ktype = a.partition(":")
            ktype = ktype.strip().lower()
            if ktype not in self._KUSTO_TYPES:
                raise KqlParseError(f"datatable: unknown type {ktype!r}")
            names.append(cname.strip())
            types.append(self._KUSTO_TYPES[ktype])
        body = src[end:].strip()
        m = re.fullmatch(r"\[(.*)\]", body, re.DOTALL)
        if not m:
            raise KqlParseError("datatable needs [v1, v2, ...] after the schema")
        vals = [v.strip() for v in _split_top(m.group(1), ",") if v.strip()]
        if not vals or len(vals) % len(names) != 0:
            raise KqlParseError(
                f"datatable: {len(vals)} values do not fill rows of "
                f"{len(names)} columns"
            )
        n = len(names)
        rows = [
            "(" + ", ".join(
                f"CAST({translate_expr(v)} AS {t})"
                for v, t in zip(vals[i : i + n], types)
            ) + ")"
            for i in range(0, len(vals), n)
        ]
        return spark.sql(
            f"SELECT * FROM (VALUES {', '.join(rows)}) AS t({', '.join(names)})"
        )

    _KUSTO_TYPES = {
        "string": "string",
        "long": "bigint",
        "int": "int",
        "real": "double",
        "double": "double",
        "bool": "boolean",
        "boolean": "boolean",
        "datetime": "timestamp",
        "decimal": "decimal(38,18)",
        "guid": "string",
        "timespan": "string",
        "dynamic": "string",
    }

    def _externaldata(self, src: str) -> DataFrame:
        """``externaldata(col:type, ...) ['uri', ...] with(format='csv',
        ignoreFirstRecord=true)`` — the reference's status-view source
        (DatabaseGateway.cs:85-95): a typed CSV scan of checkpoint
        blobs.  ``;impersonate`` auth suffixes are stripped; formats:
        csv (+ignoreFirstRecord), json (NDJSON), multijson, parquet."""
        args, end = _find_args(src, src.index("("))
        fields = []
        for a in args:
            name, _, ktype = a.partition(":")
            ktype = ktype.strip().lower()
            if ktype not in self._KUSTO_TYPES:
                raise KqlParseError(f"externaldata: unknown type {ktype!r}")
            fields.append(f"{name.strip()} {self._KUSTO_TYPES[ktype]}")
        rest = src[end:].strip()
        m = re.match(r"\[(.*?)\]\s*(?:with\s*\((.*)\))?\s*$", rest, re.DOTALL)
        if not m:
            raise KqlParseError(
                "externaldata needs ['uri', ...] with(...) after the schema"
            )
        uris = [
            u.strip().strip("'\"").split(";")[0]
            for u in _split_top(m.group(1), ",")
            if u.strip()
        ]
        opts = {}
        for kv in _split_top(m.group(2) or "", ","):
            if "=" in kv:
                k, _, v = kv.partition("=")
                opts[k.strip().lower()] = v.strip().strip("'\"").lower()
        fmt = opts.get("format", "csv")
        spark = self._spark
        if spark is None:
            raise KqlParseError("externaldata requires a SparkSession")
        schema = ", ".join(fields)
        if fmt == "csv":
            return spark.read.csv(
                uris,
                schema=schema,
                header=opts.get("ignorefirstrecord") == "true",
                escape='"',
            )
        if fmt in ("json", "multijson"):
            # Kusto json = newline-delimited records, multijson = one
            # JSON value spanning lines; Spark's multiLine maps exactly
            return spark.read.json(
                uris, schema=schema, multiLine=(fmt == "multijson")
            )
        if fmt == "parquet":
            return spark.read.schema(schema).parquet(*uris)
        raise KqlParseError(
            f"externaldata: unsupported format {fmt!r} "
            "(csv/json/multijson/parquet)"
        )

    def _apply(self, frame: KqlFrame, op: str) -> KqlFrame:
        # Kusto hint.* tokens at THIS operator's level are captured and
        # HONORED where they steer the plan (join hint.strategy=
        # broadcast -> F.broadcast; hint.shufflekey / strategy=shuffle
        # -> pre-op repartition) and dropped otherwise (remote,
        # concurrency: engine-topology advice AQE already owns).
        # Depth-aware: hints inside a subquery belong to the subquery.
        op, self._hints = _extract_hints(op)
        verb_m = re.match(
            r"(project-away|project-rename|project-keep|project-reorder"
            r"|order\s+by|sort\s+by|mv-apply|mv-expand|make-series|serialize"
            r"|make-graph|graph-match"
            r"|getschema|evaluate|top-nested|partition|facet|scan"
            r"|render|parse-kv|parse-where|parse|search|invoke|fork"
            r"|sample-distinct|sample|top-hitters|reduce"
            r"|where|project|extend|summarize"
            r"|take|limit|top|count|distinct|union|join|lookup|as)\b(.*)",
            op,
            re.IGNORECASE | re.DOTALL,
        )
        if not verb_m:
            raise KqlParseError(f"unsupported operator: {op.split()[0]!r}")
        verb = re.sub(r"\s+", " ", verb_m.group(1).lower())
        if getattr(frame, "_graph", None) is not None and verb != "graph-match":
            # Kusto's contract: a staged graph is not tabular — don't
            # silently degrade it to its edge table
            raise KqlParseError(
                f"graphs are not tabular: only graph-match may follow "
                f"make-graph (got {verb!r})"
            )
        rest = verb_m.group(2).strip()
        rest = _resolve_column_ifexists(rest, frame.df.columns)
        method = getattr(self, "_op_" + verb.replace(" ", "_").replace("-", "_"))
        return method(frame, rest)

    # each _op_* lowers one verb onto the facade

    def _op_render(self, frame, rest):
        """``render timechart/barchart/... [with (...)]`` — a CLIENT
        visualization hint in Kusto, carrying no relational semantics.
        Accepted and dropped (like hint.* tokens) so real dashboards'
        queries paste in unmodified."""
        return frame

    def _op_where(self, frame, rest):
        return frame.where(translate_expr(rest))

    # KQL parse pattern token: quoted literal | * | Column[:type]
    _PARSE_TOK = re.compile(
        r"('(?:[^']*)'|\"(?:[^\"]*)\"|\*|[A-Za-z_][A-Za-z0-9_]*(?::\s*\w+)?)"
    )

    def _op_parse(self, frame, rest, where=False):
        """``parse [kind=simple|regex] Expr with [*] 'lit' Col[:type]
        'lit' ...`` — one compiled regex, one ``regexp_extract`` per
        output column (JVM-side, zero shuffle).  ``simple`` escapes the
        literals; ``regex`` treats them as regex fragments.  Columns
        are non-greedy captures (the final one greedy); typed columns
        try_cast, so non-matching rows yield nulls (parse) or are
        dropped (parse-where)."""
        m = re.match(
            r"(?:kind\s*=\s*(\w+)\s+)?(.+?)\s+with\s+(.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise KqlParseError("parse needs: [kind=...] Expr with pattern")
        kind = (m.group(1) or "simple").lower()
        if kind not in ("simple", "regex"):
            raise KqlParseError(f"parse: unsupported kind {kind!r}")
        src = translate_expr(m.group(2))
        toks = [
            t for t in self._PARSE_TOK.findall(m.group(3).strip()) if t.strip()
        ]
        if not toks:
            raise KqlParseError("parse: empty pattern")
        pattern_parts, cols = [], []
        for i, t in enumerate(toks):
            if t == "*":
                pattern_parts.append(".*?" if i == 0 else ".*")
            elif t[0] in "'\"":
                lit = t[1:-1]
                pattern_parts.append(re.escape(lit) if kind == "simple" else lit)
            else:
                name, _, ktype = t.partition(":")
                ktype = ktype.strip().lower() or "string"
                if ktype not in self._KUSTO_TYPES:
                    raise KqlParseError(f"parse: unknown type {ktype!r}")
                greedy = i == len(toks) - 1
                pattern_parts.append("(.*)" if greedy else "(.*?)")
                cols.append((name.strip(), self._KUSTO_TYPES[ktype]))
        if not cols:
            raise KqlParseError("parse: pattern captures no columns")
        pattern = "".join(pattern_parts)
        if not pattern.startswith(".*?"):
            pattern = "^" + pattern
        sql_lit = pattern.replace("\\", "\\\\").replace("'", "\\'")
        out = frame.df
        if where:
            out = out.filter(F.expr(f"({src}) RLIKE '{sql_lit}'"))
        for g, (name, stype) in enumerate(cols, start=1):
            ex = f"regexp_extract({src}, '{sql_lit}', {g})"
            if stype != "string":
                ex = f"try_cast({ex} AS {stype})"
            out = out.withColumn(name, F.expr(ex))
        return KqlFrame(out)

    def _op_parse_where(self, frame, rest):
        return self._op_parse(frame, rest, where=True)

    def _op_search(self, frame, rest):
        """``search 'term'`` — case-insensitive substring match across
        ALL string columns (Kusto's unscoped search)."""
        t = rest.strip()
        if not (t.startswith(("'", '"')) and t.endswith(("'", '"'))):
            raise KqlParseError("search needs a quoted term")
        term = t[1:-1].lower().replace("'", "\\'")
        from pyspark.sql.types import StringType as _Str

        str_cols = [
            f.name for f in frame.df.schema.fields
            if isinstance(f.dataType, _Str)
        ]
        if not str_cols:
            raise KqlParseError("search: no string columns in scope")
        pred = " OR ".join(
            f"contains(lower({c}), '{term}')" for c in str_cols
        )
        return KqlFrame(frame.df.filter(F.expr(pred)))

    def _op_sample(self, frame, rest):
        """``sample N`` — N pseudo-random rows.  Deterministic here
        (ordered by xxhash64 of the whole row) so repeated runs and
        tests agree; one TakeOrdered(N), no full sort materialization."""
        n = int(rest.strip())
        cols = [F.col(c) for c in frame.df.columns]
        return KqlFrame(
            frame.df.orderBy(F.xxhash64(F.struct(*cols))).limit(n)
        )

    def _op_sample_distinct(self, frame, rest):
        """``sample-distinct N of Col`` — N distinct values of Col."""
        m = re.match(r"(\d+)\s+of\s+(\w+)$", rest.strip(), re.IGNORECASE)
        if not m:
            raise KqlParseError("sample-distinct needs: N of Column")
        n, col = int(m.group(1)), m.group(2)
        return KqlFrame(
            frame.df.select(col).distinct().orderBy(F.xxhash64(F.col(col))).limit(n)
        )

    def _op_top_hitters(self, frame, rest):
        """``top-hitters N of Col [by SumExpr]`` — heavy hitters by
        count (or by sum of an expression).  Exact here (groupBy +
        TakeOrdered); Kusto's is approximate."""
        m = re.match(
            r"(\d+)\s+of\s+(\w+)(?:\s+by\s+(.+))?$",
            rest.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise KqlParseError("top-hitters needs: N of Column [by expr]")
        n, col, by = int(m.group(1)), m.group(2), m.group(3)
        if by:
            out_name = f"approximate_sum_{re.sub(r'[^A-Za-z0-9_]', '_', by.strip())}"
            agg = F.sum(F.expr(translate_expr(by))).alias(out_name)
        else:
            out_name = f"approximate_count_{col}"
            agg = F.count("*").alias(out_name)
        return KqlFrame(
            frame.df.groupBy(col)
            .agg(agg)
            .orderBy(F.desc(out_name), F.asc(col))
            .limit(n)
        )

    def _op_project(self, frame, rest):
        cols, renamed = [], {}
        for name, expr in _named_exprs(rest):
            if name is None:
                cols.append(expr)
            else:
                renamed[name] = F.expr(translate_expr(expr))
        return frame.project(*cols, **renamed)

    def _op_project_away(self, frame, rest):
        return frame.project_away(*[c.strip() for c in rest.split(",")])

    def _op_project_rename(self, frame, rest):
        out = frame.df
        for name, expr in _named_exprs(rest):
            if name is None:
                raise KqlParseError("project-rename needs new = old pairs")
            out = out.withColumnRenamed(expr, name)
        return KqlFrame(out)

    def _op_project_keep(self, frame, rest):
        cols = [c.strip() for c in rest.split(",")]
        # keep the table's column order, not the listed order (Kusto)
        keep = [c for c in frame.df.columns if c in cols]
        return KqlFrame(frame.df.select(*keep))

    def _op_project_reorder(self, frame, rest):
        first = [c.strip() for c in rest.split(",")]
        rest_cols = [c for c in frame.df.columns if c not in first]
        return KqlFrame(frame.df.select(*first, *rest_cols))

    def _op_getschema(self, frame, rest):
        """Schema-as-a-table (driver-side metadata, no data read)."""
        if rest:
            raise KqlParseError("getschema takes no arguments")
        spark = self._spark or frame.df.sparkSession
        rows = [
            (f.name, i, f.dataType.simpleString())
            for i, f in enumerate(frame.df.schema.fields)
        ]
        return KqlFrame(
            spark.createDataFrame(
                rows, "ColumnName string, ColumnOrdinal int, ColumnType string"
            )
        )

    def _op_fork(self, frame, rest):
        """``| fork (subpipe) (name = (subpipe)) ...`` — runs each
        parenthesized operator chain against the SAME incoming frame
        and produces one result table per leg (Kusto's multi-output
        operator).  The single-result ``kql()`` API cannot carry
        multiple tables, so fork is only legal through ``kql_multi``;
        there the legs become the result dict.  Each leg is a plain
        declarative subplan over the shared input — Catalyst dedups
        the common scan when the legs run in one job."""
        if getattr(self, "_fork_results", None):
            raise KqlParseError("nested fork is not supported")
        results: dict[str, DataFrame] = {}
        i, n, idx = 0, len(rest), 0
        while i < n:
            while i < n and rest[i].isspace():
                i += 1
            if i >= n:
                break
            # Kusto's documented named-leg form: name = (subquery)
            name = None
            nm = re.match(
                r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*\(", rest[i:]
            )
            if nm:
                name = nm.group(1)
                i += nm.end() - 1  # position on the '('
            if rest[i] != "(":
                raise KqlParseError(
                    f"fork legs must be parenthesized: {rest[i:]!r}"
                )
            # matching paren, skipping quoted literals (a ')' inside a
            # string must not close the leg)
            depth, j = 0, i
            while j < n:
                c = rest[j]
                if c in "'\"":
                    k = rest.find(c, j + 1)
                    j = (n - 1) if k < 0 else k
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise KqlParseError("unbalanced parentheses in fork")
            leg = rest[i + 1 : j].strip()
            i = j + 1
            idx += 1
            if name is None:
                m = re.match(
                    r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", leg, re.DOTALL
                )
                name = f"fork_{idx}"
                if m and "==" not in leg[: leg.index("=") + 2]:
                    name, leg = m.group(1), m.group(2).strip()
            if leg.startswith("(") and leg.endswith(")"):
                leg = leg[1:-1].strip()
            sub = KqlFrame(frame.df)
            for op in _split_top(leg, "|"):
                op = op.strip()
                if op:
                    sub = self._apply(sub, op)
            results[name] = sub.df
        if not results:
            raise KqlParseError("fork needs at least one leg")
        self._fork_results = results
        return KqlFrame(next(iter(results.values())))

    def _op_invoke(self, frame, rest):
        """``| invoke f(args...)`` applies a lambda let-function whose
        FIRST parameter is tabular (Kusto requires it): the piped frame
        binds to that parameter, scalar arguments substitute into the
        body word-boundary (declared defaults fill omitted trailing
        arguments), and the body runs as a subquery.  The whole thing
        stays one declarative plan — Catalyst sees straight through the
        function boundary."""
        m = re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s*\(", rest)
        if not m:
            raise KqlParseError(f"invoke needs f(args...): {rest!r}")
        fname = m.group(1)
        if fname not in self._funcs:
            raise KqlParseError(f"invoke: unknown function {fname!r}")
        args, end = _find_args(rest, rest.index("(", m.end() - 1))
        if rest[end:].strip():
            raise KqlParseError(f"invoke: trailing text {rest[end:]!r}")
        args = [a for a in (a.strip() for a in args) if a]
        params, body = self._funcs[fname]
        if not params or not params[0][1].startswith("("):
            raise KqlParseError(
                f"invoke: {fname!r} must declare a tabular first parameter"
            )
        tab_name = params[0][0]
        scalars = params[1:]
        if len(args) > len(scalars):
            raise KqlParseError(
                f"invoke: {fname} takes {len(scalars)} scalar args, "
                f"got {len(args)}"
            )
        for i, (pname, _ptype, default) in enumerate(scalars):
            val = args[i] if i < len(args) else default
            if val is None:
                raise KqlParseError(
                    f"invoke: missing argument {pname!r} for {fname}"
                )
            # substitute OUTSIDE string literals only (a literal
            # containing the parameter name must survive verbatim);
            # a body column sharing the name is shadowed by the
            # parameter — declared names win in the function scope
            body = _sub_outside_quotes(
                re.compile(r"\b" + re.escape(pname) + r"\b"),
                lambda _m, v=val: f"({v})",
                body,
            )
        saved = (self._lets.get(tab_name), self._let_cache.get(tab_name))
        self._lets[tab_name] = tab_name
        self._let_cache[tab_name] = frame.df
        try:
            out = self._run_pipe(body)
        finally:
            for store, prev in ((self._lets, saved[0]), (self._let_cache, saved[1])):
                if prev is None:
                    store.pop(tab_name, None)
                else:
                    store[tab_name] = prev
        return KqlFrame(out)

    def _op_as(self, frame, rest):
        """``| as Name`` binds the current result for later statements
        (and later sources inside this query)."""
        name = rest.strip()
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise KqlParseError(f"as needs a bare name: {rest!r}")
        self._let_cache[name] = frame.df
        self._lets[name] = name  # mark resolvable
        return frame

    #: Kusto series functions backed by engine operators; registered as
    #: SQL UDFs on first use so they work inside KQL expression strings
    #: (e.g. ``make-series ... | extend f = series_fill_forward(total)``)
    _SERIES_FNS = (
        "series_fill_forward",
        "series_fill_backward",
        "series_fill_linear",
        "series_outliers",
    )
    #: Arrow-kernel model functions with their own multi-arg signatures
    _SERIES_MODEL_FNS = (
        "series_decompose",
        "series_decompose_anomalies",
        "series_decompose_forecast",
    )

    def _ensure_series_udfs(self, e: str, spark) -> None:
        """Register the engine's series kernels as SQL functions (once
        per session) when the expression mentions them, so Kusto series
        calls pass straight through to Arrow-vectorized UDFs."""
        if spark is None or not re.search(
            r"\b(?:%s)\s*\("
            % "|".join(self._SERIES_FNS + self._SERIES_MODEL_FNS),
            e,
            re.IGNORECASE,
        ):
            return
        ensure_series_functions(spark)

    def _op_extend(self, frame, rest):
        exprs = {}
        for name, expr in _named_exprs(rest):
            if name is None:
                raise KqlParseError(f"extend needs name = expr: {expr!r}")
            translated = self._serialized_fns(translate_expr(expr))
            self._ensure_series_udfs(translated, self._spark or frame.df.sparkSession)
            exprs[name] = F.expr(translated)
        return frame.extend(**exprs)

    def _op_serialize(self, frame, rest):
        """Kusto ``serialize`` marks the row set ordered.  Spark has no
        natural row order, so serialization here must come from an
        explicit ``order by`` — the verb just validates that."""
        if rest:
            raise KqlParseError("serialize takes no arguments")
        if not self._order_sql:
            raise KqlParseError(
                "serialize requires a preceding 'order by' (Spark has no "
                "natural row order to serialize)"
            )
        return frame

    def _serialized_fns(self, e: str) -> str:
        """prev/next/row_cumsum/row_number -> window functions over the
        serialized (order by) sort.  Single global window: this is what
        Kusto's serialized-row semantics mean — fine for ordered result
        tails, not a scale path (use summarize/window queries for
        that)."""
        if not re.search(
            r"\b(prev|next|row_cumsum|row_number|row_rank_dense|"
            r"row_rank_min)\s*\(",
            e,
            re.IGNORECASE,
        ):
            return e
        if not self._order_sql:
            raise KqlParseError(
                "prev/next/row_cumsum/row_number need a preceding "
                "'order by' (serialized row set)"
            )
        over = "OVER (ORDER BY " + ", ".join(self._order_sql) + ")"
        cum = (
            "OVER (ORDER BY " + ", ".join(self._order_sql)
            + " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        def _shift(fn_sql: str):
            # prev/next(x[, offset[, default]]) — Kusto's 3-arg form
            def fn(a: list[str]) -> str:
                if len(a) > 3:
                    raise KqlParseError(
                        f"{fn_sql}: prev/next take (x[, offset[, "
                        "default]])"
                    )
                off = a[1] if len(a) > 1 else "1"
                dflt = f", {a[2]}" if len(a) > 2 else ""
                return f"{fn_sql}({a[0]}, {off}{dflt}) {over}"

            return fn

        e = _rewrite_calls(e, "prev", _shift("lag"))
        e = _rewrite_calls(e, "next", _shift("lead"))

        def _cumsum(a: list[str]) -> str:
            if len(a) != 1:
                # Kusto's 2-arg restart form needs a nested window
                # (group id = running sum of restarts) — not
                # expressible in one extend; refuse loudly instead of
                # silently ignoring the restart argument
                raise KqlParseError(
                    "row_cumsum(x, restart) is not supported — compute "
                    "the restart group in a prior extend and use "
                    "summarize/window functions over it"
                )
            return f"sum({a[0]}) {cum}"

        e = _rewrite_calls(e, "row_cumsum", _cumsum)
        # rank by the TERM itself, FOLLOWING the serialized direction
        # when the term is one of the order-by keys (Kusto row_rank_*
        # assign rank 1 to the FIRST serialized row): equal terms share
        # a rank regardless of later tiebreakers
        def _term_dir(term: str) -> str:
            t = translate_expr(term).strip()
            for frag in self._order_sql or []:
                m2 = re.match(
                    r"^(.*)\s+(ASC|DESC)\s+NULLS\s+(FIRST|LAST)$",
                    frag,
                    re.IGNORECASE | re.DOTALL,
                )
                if m2 and m2.group(1).strip() == t:
                    return m2.group(2).upper()
            return "ASC"

        e = _rewrite_calls(
            e,
            "row_rank_dense",
            lambda a: f"dense_rank() OVER (ORDER BY {a[0]} {_term_dir(a[0])})",
        )
        e = _rewrite_calls(
            e,
            "row_rank_min",
            lambda a: f"rank() OVER (ORDER BY {a[0]} {_term_dir(a[0])})",
        )
        e = _rewrite_calls(
            e,
            "row_number",
            lambda a: f"row_number() {over}",
            self_referential=True,  # replacement still contains row_number(
        )
        return e

    _MV_APPLY_RE = re.compile(
        r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:=\s*([A-Za-z_][A-Za-z0-9_]*)\s*)?"
        r"(?:to\s+typeof\([^)]*\)\s*)?on\s*\((.*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _op_mv_apply(self, frame, rest):
        """``mv-apply x = arr on ( subquery )`` — expand the array and
        run the parenthesized pipeline PER SOURCE ROW, with the outer
        columns carried through every inner verb.

        Lowered without any per-row iteration: explode once, tag rows
        with a monotonic id, and rewrite the inner verbs group-aware —
        ``summarize`` groups by (row id + declared keys) and carries
        outer columns as ``first()`` (exact: all rows in a row-id group
        share the same outer values), ``top N by`` becomes a
        row-id-partitioned window; ``where``/``extend``/``project``
        apply element-wise.  One explode + at most one aggregation.

        The row id comes from ``monotonically_increasing_id``, which is
        nondeterministic across separate evaluations — so the plan must
        evaluate it exactly ONCE.  Carrying outer columns through the
        pipeline (instead of joining results back to the source on the
        id) keeps it in a single lineage; a tag-then-self-join shape
        would evaluate the id independently on both join sides and can
        mis-correlate rows when a stage is recomputed."""
        m = self._MV_APPLY_RE.match(rest)
        if not m:
            raise KqlParseError("mv-apply needs: x [= arr] on ( pipeline )")
        alias = m.group(1)
        src_col = m.group(2) or alias
        inner = m.group(3).strip()
        if src_col not in frame.df.columns:
            raise KqlParseError(f"mv-apply: no array column {src_col!r}")
        rid = "__mlk_mv_row"
        work = frame.df.withColumn(rid, F.monotonically_increasing_id())
        # columns that belong to the source row, carried through the
        # inner pipeline; an inner extend/summarize that re-declares a
        # name takes it over
        outer = [c for c in frame.df.columns if c != alias]
        work = work.withColumn(alias, F.explode(F.col(src_col)))
        for stage in _split_top(inner, "|"):
            stage = stage.strip()
            if not stage:
                continue
            vm = re.match(
                r"(where|extend|project|summarize|top|count)\b(.*)",
                stage,
                re.IGNORECASE | re.DOTALL,
            )
            if not vm:
                raise KqlParseError(
                    f"mv-apply: unsupported inner verb in {stage.split()[0]!r} "
                    "(where/extend/project/summarize/top/count)"
                )
            verb, vrest = vm.group(1).lower(), vm.group(2).strip()
            if verb == "where":
                work = work.filter(F.expr(translate_expr(vrest)))
            elif verb == "extend":
                for name, expr in _named_exprs(vrest):
                    if name is None:
                        raise KqlParseError("mv-apply extend needs name = expr")
                    work = work.withColumn(name, F.expr(translate_expr(expr)))
                    outer = [c for c in outer if c != name]
            elif verb == "project":
                cols = [rid] + list(outer)
                for name, expr in _named_exprs(vrest):
                    if name is None:
                        if expr not in cols:
                            cols.append(expr)
                    else:
                        work = work.withColumn(name, F.expr(translate_expr(expr)))
                        outer = [c for c in outer if c != name]
                        if name not in cols:
                            cols.append(name)
                work = work.select(*cols)
            elif verb == "summarize":
                by_split = re.split(r"\bby\b", vrest, maxsplit=1, flags=re.IGNORECASE)
                agg_part = by_split[0].strip()
                by_extra = by_split[1].strip() if len(by_split) > 1 else ""
                aggs = {}
                for name, expr in _named_exprs(agg_part):
                    if name is None:
                        name = re.sub(r"\W+", "_", expr).strip("_") or "agg"
                    aggs[name] = F.expr(translate_expr(expr))
                extra = (
                    [c.strip() for c in by_extra.split(",")] if by_extra else []
                )
                outer = [
                    c for c in outer if c not in aggs and c not in extra
                ]
                agg_exprs = [
                    F.first(c).alias(c) for c in outer
                ] + [e.alias(n) for n, e in aggs.items()]
                work = work.groupBy(rid, *extra).agg(*agg_exprs)
            elif verb == "top":
                tm = re.match(
                    r"(\d+)\s+by\s+(.+?)(\s+asc|\s+desc)?$",
                    vrest,
                    re.IGNORECASE | re.DOTALL,
                )
                if not tm:
                    raise KqlParseError("mv-apply top needs: N by expr [asc|desc]")
                n = int(tm.group(1))
                order = F.expr(translate_expr(tm.group(2)))
                order = order.asc() if (tm.group(3) or "").strip().lower() == "asc" else order.desc()
                w = Window.partitionBy(rid).orderBy(order)
                work = (
                    work.withColumn("__mlk_rn", F.row_number().over(w))
                    .filter(F.col("__mlk_rn") <= n)
                    .drop("__mlk_rn")
                )
            elif verb == "count":
                outer = [c for c in outer if c != "count_"]
                work = work.groupBy(rid).agg(
                    *[F.first(c).alias(c) for c in outer],
                    F.count("*").alias("count_"),
                )
        ordered = [c for c in outer if c in work.columns] + [
            c for c in work.columns if c not in outer and c != rid
        ]
        return KqlFrame(work.select(*ordered))

    def _op_summarize(self, frame, rest):
        hints = getattr(self, "_hints", None) or {}
        by_split = re.split(r"\bby\b", rest, maxsplit=1, flags=re.IGNORECASE)
        agg_part = by_split[0].strip()
        by_part = by_split[1].strip() if len(by_split) > 1 else ""
        by_cols, computed = [], {}
        for name, expr in _named_exprs(by_part):
            if name is None and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", expr):
                by_cols.append(expr)
            else:
                key = name or f"key_{len(computed)}"
                computed[key] = F.expr(translate_expr(expr))
                by_cols.append(key)
        if computed:
            frame = frame.extend(**computed)
        shufflekey = hints.get("shufflekey")
        if shufflekey or (hints.get("strategy") or "").lower() == "shuffle":
            # Kusto shuffle-summarize: pre-partition the input on the
            # named key(s) — or, like Kusto itself, on the BY keys
            # when hint.strategy=shuffle names none — so the aggregate
            # runs co-located (the repartition IS the shuffle; the
            # hash-agg after it is map-side local).  Applied after the
            # computed by-keys exist so they can serve as the keys.
            names = (
                [c.strip() for c in shufflekey.split(",") if c.strip()]
                if shufflekey
                else list(by_cols)
            )
            cols = [F.col(c) for c in names]
            nparts = (
                [int(hints["num_partitions"])]
                if "num_partitions" in hints
                else []
            )
            if cols or nparts:
                frame = KqlFrame(frame.df.repartition(*nparts, *cols))
        am = re.match(
            r"^\s*(?:([A-Za-z_][A-Za-z0-9_]*)\s*=\s*)?"
            r"arg_(max|min)\s*\(",
            agg_part,
            re.IGNORECASE,
        )
        if am:
            args, end = _find_args(agg_part, agg_part.index("("))
            if agg_part[end:].strip():
                raise KqlParseError(
                    "arg_max/arg_min cannot mix with other aggregates"
                )
            arg, keep = args[0], [a.strip() for a in args[1:]]
            kind = am.group(2).lower()
            target = frame
            if kind == "min":
                # lower arg_min via negated rank inside the same shape
                target = frame.extend(_neg=F.expr(f"-({translate_expr(arg)})"))
                result = target.arg_max("_neg", by_cols)
                out = result.df.drop("_neg")
            else:
                out = frame.arg_max(translate_expr(arg), by_cols).df
            if keep != ["*"]:
                out = out.select(*by_cols, arg, *keep)
            return KqlFrame(out)
        aggs = {}
        for name, expr in _named_exprs(agg_part):
            expr_t = translate_expr(expr)
            if name is None:
                name = re.sub(r"\W+", "_", expr).strip("_") or "agg"
            aggs[name] = F.expr(expr_t)
        return frame.summarize(by=by_cols, **aggs)

    def _sort_cols(self, rest):
        cols, frags = [], []
        for part in _split_top(rest, ","):
            part = part.strip()
            m = re.match(
                r"^(.*?)(?:\s+(asc|desc))?(?:\s+nulls\s+(first|last))?$",
                part,
                re.IGNORECASE | re.DOTALL,
            )
            sql = translate_expr(m.group(1))
            expr = F.expr(sql)
            # KQL default sort order is DESCENDING; default null
            # placement follows Kusto (desc -> nulls last, asc ->
            # nulls first) unless an explicit modifier overrides it
            direction = (m.group(2) or "desc").lower()
            nulls = (m.group(3) or ("last" if direction == "desc" else "first")).lower()
            if direction == "desc":
                col = expr.desc_nulls_first() if nulls == "first" else expr.desc_nulls_last()
            else:
                col = expr.asc_nulls_first() if nulls == "first" else expr.asc_nulls_last()
            cols.append(col)
            frags.append(f"{sql} {direction.upper()} NULLS {nulls.upper()}")
        return cols, frags

    def _op_order_by(self, frame, rest):
        cols, frags = self._sort_cols(rest)
        self._order_sql = frags  # the row set is now serialized
        return KqlFrame(frame.df.orderBy(*cols))

    _op_sort_by = _op_order_by

    def _op_take(self, frame, rest):
        return frame.take(int(rest))

    _op_limit = _op_take

    def _op_top(self, frame, rest):
        m = re.match(r"^(\d+)\s+by\s+(.+)$", rest, re.IGNORECASE | re.DOTALL)
        if not m:
            raise KqlParseError(f"top needs 'top N by col': {rest!r}")
        n = int(m.group(1))
        ordered = self._op_order_by(frame, m.group(2))
        return ordered.take(n)

    def _op_count(self, frame, rest):
        if rest:
            raise KqlParseError("count takes no arguments")
        return KqlFrame(frame.df.agg(F.count("*").alias("Count")))

    def _op_distinct(self, frame, rest):
        if rest.strip() == "*" or not rest.strip():
            return frame.distinct()
        return frame.distinct(*[c.strip() for c in rest.split(",")])

    def _op_parse_kv(self, frame, rest):
        """``parse-kv Expr as (k1: type, ...) with (pair_delimiter=...,
        kv_delimiter=...)`` — extract key=value pairs into typed
        columns.  Lowers to per-key JVM ``regexp_extract`` with a
        lookahead-bounded value (first occurrence wins), no UDF.
        Profile: delimiter mode only (Kusto's regex/quoting modes are
        out of scope); missing keys yield null, duplicate keys and
        empty segments are tolerated (``str_to_map`` would throw on
        both under Spark's default map-key dedup policy)."""
        m = re.match(
            r"^(.*?)\s+as\s*\((.*?)\)\s*(?:with\s*\((.*)\))?\s*$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise KqlParseError(
                "parse-kv needs: Expr as (name: type, ...) "
                "[with (pair_delimiter=..., kv_delimiter=...)]"
            )
        src = translate_expr(m.group(1))
        pair_d, kv_d = " ", "="
        opts = m.group(3) or ""
        opt_re = re.compile(
            r"(pair_delimiter|kv_delimiter)\s*=\s*'([^']*)'", re.IGNORECASE
        )
        for om in opt_re.finditer(opts):
            if om.group(1).lower() == "pair_delimiter":
                pair_d = om.group(2)
            else:
                kv_d = om.group(2)
        leftover = opt_re.sub("", opts).replace(",", "").strip()
        if leftover:
            raise KqlParseError(
                f"parse-kv: unsupported option(s) {leftover!r} (this "
                "profile takes pair_delimiter/kv_delimiter string "
                "literals)"
            )

        def _sql_rx(s: str) -> str:
            # regex-escape, then SQL-quote (doubling backslashes for
            # the SQL string literal layer)
            return (
                "'"
                + re.escape(s).replace("\\", "\\\\").replace("'", "''")
                + "'"
            )

        # per-key extraction with a lookahead-bounded value (first
        # occurrence wins).  NOT str_to_map: that throws on duplicate
        # keys (Spark's mapKeyDedupPolicy=EXCEPTION default) and on
        # the empty segments repeated delimiters produce — both
        # routine in real log lines.  K declared keys = K JVM regex
        # scans per row, no UDF, no data-dependent crash.
        p_rx, kv_rx = _sql_rx(pair_d), _sql_rx(kv_d)
        exprs = {}
        for decl in m.group(2).split(","):
            decl = decl.strip()
            if not decl:
                continue
            name, _, ktype = decl.partition(":")
            name, ktype = name.strip(), (ktype.strip().lower() or "string")
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
                raise KqlParseError(
                    f"parse-kv: column name must be a bare word: {name!r}"
                )
            if ktype not in self._KUSTO_TYPES:
                raise KqlParseError(
                    f"parse-kv: unsupported type {ktype!r} for {name!r}"
                )
            pat = (
                f"concat('(?:^|', {p_rx}, ')', '{name}', {kv_rx}, "
                f"'((?:(?!', {p_rx}, ').)*)')"
            )
            # missing key -> NULL (not ''): gate the extract on a match
            val = (
                f"CASE WHEN ({src}) RLIKE {pat} "
                f"THEN regexp_extract({src}, {pat}, 1) END"
            )
            sql_t = self._KUSTO_TYPES[ktype]
            exprs[name] = F.expr(
                val if sql_t == "string" else f"try_cast({val} AS {sql_t})"
            )
        if not exprs:
            raise KqlParseError("parse-kv: no columns declared")
        return frame.extend(**exprs)

    def _op_mv_expand(self, frame, rest):
        # optional Kusto modifier: mv-expand with_itemindex=ix col
        index_alias = None
        m = re.match(
            r"^\s*with_itemindex\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s+(.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            index_alias, rest = m.group(1), m.group(2)
        named = _named_exprs(rest)
        if len(named) != 1:
            raise KqlParseError("mv-expand takes one column")
        name, col = named[0]
        return frame.mv_expand(col, alias=name, index_alias=index_alias)

    _MAKE_SERIES_RE = re.compile(
        r"^(.*?)\s+on\s+([A-Za-z_][A-Za-z0-9_]*)\s+from\s+(.+?)\s+to\s+(.+?)"
        r"\s+step\s+(\S+)(?:\s+by\s+(.+))?$",
        re.IGNORECASE | re.DOTALL,
    )

    def _op_reduce(self, frame, rest):
        """``reduce by Expr [with threshold=T, characters='...']`` —
        group string values into patterns (Kusto's log-template
        clustering).  DETERMINISTIC restricted profile (Kusto's own
        algorithm is a heuristic): the pattern replaces every digit
        run with ``*`` and every hex-run of 8+ characters (ids,
        guids) with ``*``; output is Kusto's shape — ``Pattern``,
        ``Count``, ``Representative`` (the smallest matching value,
        a deterministic stand-in for Kusto's arbitrary pick).  The
        ``with`` options are validated but do not alter this
        profile's exact grouping.

        Scale shape: one hash aggregation on the derived pattern key —
        map-side partial aggregation, no quadratic term."""
        m = re.match(
            r"^by\s+(.+?)(?:\s+with\s*\((.*)\))?\s*$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise KqlParseError(f"reduce needs 'reduce by Expr': {rest!r}")
        if m.group(2):
            for part in _split_top(m.group(2), ","):
                k, _, v = part.partition("=")
                k = k.strip().lower()
                if k == "threshold":
                    try:
                        t = float(v)
                    except ValueError:
                        raise KqlParseError(
                            f"reduce: bad threshold {v!r}"
                        ) from None
                    if not 0 < t <= 1:
                        raise KqlParseError(
                            "reduce: threshold must be in (0, 1]"
                        )
                elif k != "characters":
                    raise KqlParseError(f"reduce: unknown option {k!r}")
        val = translate_expr(m.group(1))
        pattern = (
            "regexp_replace("
            f"regexp_replace(regexp_replace(CAST({val} AS STRING), "
            "'[0-9]+', '*'), '\\\\b[0-9a-fA-F*]{8,}\\\\b', '*'), "
            "'\\\\*{2,}', '*')"
        )
        return KqlFrame(
            frame.df.groupBy(F.expr(pattern).alias("Pattern")).agg(
                F.count(F.lit(1)).alias("Count"),
                F.min(F.expr(val)).alias("Representative"),
            )
        )

    def _op_make_graph(self, frame, rest):
        """``make-graph SrcCol --> DstCol [with NodesTable on IdCol]``
        — stage the current frame as a property graph's EDGE table
        (every frame column is an edge property; SrcCol/DstCol are the
        endpoints).  Nodes come from the optional ``with`` table, else
        are derived as the distinct endpoint set with a single ``id``
        property.  Graphs are not tabular, so the only operator that
        may follow is ``graph-match`` (Kusto's contract too — its
        graph operators pipe make-graph straight into a match).

        Restricted profile: directed ``-->`` only (Kusto's undirected
        ``--`` edges and partitioned-graph options are not supported).
        """
        m = re.match(
            r"^(\w+)\s*-->\s*(\w+)(?:\s+with\s+(\w+)\s+on\s+(\w+))?\s*$",
            rest,
            re.IGNORECASE,
        )
        if not m:
            raise KqlParseError(
                f"make-graph needs 'Src --> Dst [with Table on IdCol]', "
                f"got {rest!r}"
            )
        src, dst, ntab, idcol = m.groups()
        for c in (src, dst):
            if c not in frame.df.columns:
                raise KqlParseError(f"make-graph: unknown column {c!r}")
        if ntab is not None:
            nodes = self._source(ntab)
            if idcol not in nodes.columns:
                raise KqlParseError(
                    f"make-graph: {ntab!r} has no column {idcol!r}"
                )
        else:
            idcol = "id"
            nodes = (
                frame.df.select(F.col(src).alias("id"))
                .union(frame.df.select(F.col(dst).alias("id")))
                .distinct()
            )
        out = KqlFrame(frame.df)
        out._graph = (src, dst, nodes, idcol)
        return out

    _GM_HOP = re.compile(
        r"-\[\s*(\w*)\s*(?:\*\s*(\d+)\s*\.\.\s*(\d+))?\s*\]->"
        r"\s*\(\s*(\w*)\s*\)"
    )

    def _op_graph_match(self, frame, rest):
        """``graph-match (a)-[e1]->(b)-[e2*1..3]->(c) [where pred]
        project name = expr, ...`` — LINEAR path patterns over the
        staged graph, lowered to chains of hash equi-joins (one edge
        scan per hop, node tables attached only for pattern variables
        whose PROPERTIES the query references — unreferenced nodes
        cost nothing).  A node variable repeated in the pattern adds
        an endpoint-equality filter, so cycles ((a)-..->(a),
        triangles) express naturally.  A ``*lo..hi`` edge expands to
        the UNION of the fixed-length chains (every path length is a
        separate match, Kusto semantics); the total expansion count is
        capped, and a starred edge variable's properties are not
        accessible (it names a path, not one edge).  Non-linear
        patterns raise.

        Scale shape: every hop is an equi-join on edge endpoints —
        hash-distributed, no cartesian; pattern length and the
        expansion cap bound the join chains statically."""
        graph = getattr(frame, "_graph", None)
        if graph is None:
            raise KqlParseError(
                "graph-match must immediately follow make-graph"
            )
        src, dst, nodes, idcol = graph
        # split off where/project at top level
        mproj = re.search(r"\bproject\b", rest, re.IGNORECASE)
        if not mproj:
            raise KqlParseError("graph-match needs a project clause")
        head, proj = rest[: mproj.start()], rest[mproj.end():]
        mwhere = re.search(r"\bwhere\b", head, re.IGNORECASE)
        pattern = head[: mwhere.start()] if mwhere else head
        pred = head[mwhere.end():].strip() if mwhere else None
        pattern = re.sub(r"\s+", "", pattern)
        m0 = re.match(r"^\((\w*)\)", pattern)
        if not m0:
            raise KqlParseError(f"graph-match: bad pattern {pattern!r}")
        node_names = [m0.group(1) or "_n0"]
        segs: list[tuple[str, int, int, bool]] = []
        pos = m0.end()
        for i, hop in enumerate(self._GM_HOP.finditer(pattern)):
            if hop.start() != pos:
                raise KqlParseError(
                    f"graph-match: non-linear pattern near "
                    f"{pattern[pos:hop.start()]!r}"
                )
            ev = hop.group(1) or f"_e{i}"
            starred = hop.group(2) is not None
            lo = int(hop.group(2)) if starred else 1
            hi = int(hop.group(3)) if starred else 1
            if starred and not 1 <= lo <= hi:
                raise KqlParseError(
                    f"graph-match: bad length range *{lo}..{hi} "
                    f"(need 1 <= lo <= hi)"
                )
            segs.append((ev, lo, hi, starred))
            node_names.append(hop.group(4) or f"_n{i + 1}")
            pos = hop.end()
        if pos != len(pattern) or not segs:
            raise KqlParseError(
                f"graph-match: bad pattern tail {pattern[pos:]!r}"
            )
        evs = [s[0] for s in segs]
        if len(set(evs)) != len(evs):
            raise KqlParseError("graph-match: duplicate edge variable")
        import itertools as _it

        length_axes = [range(lo, hi + 1) for _, lo, hi, _ in segs]
        expansions = list(_it.product(*length_axes))
        if len(expansions) > 16:
            raise KqlParseError(
                f"graph-match: {len(expansions)} length combinations "
                "exceed the expansion cap (16) — narrow the *lo..hi "
                "ranges"
            )
        starred_vars = {ev for ev, _, _, st in segs if st}
        plain_edges = {ev for ev, _, _, st in segs if not st}
        named_nodes = set(node_names)
        # rewrite var.prop references once (expressions are identical
        # for every expansion: boundary node names and plain edge
        # names are shared; starred edges name a PATH and raise)
        used_nodes: set[str] = set()
        id_vars: set[str] = set()

        def rewrite(expr: str) -> str:
            def sub(m: re.Match) -> str:
                var, prop = m.group(1), m.group(2)
                if var in starred_vars:
                    raise KqlParseError(
                        f"graph-match: {var!r} is a variable-length "
                        "edge — its per-edge properties are not "
                        "accessible in this profile"
                    )
                if var in plain_edges:
                    return f"{var}__{prop}"
                if var in named_nodes:
                    if prop == idcol:
                        # the node id IS an edge endpoint — read it off
                        # the join chain, no node-table join needed
                        id_vars.add(var)
                        return f"__nid_{var}"
                    used_nodes.add(var)
                    return f"__n_{var}__{prop}"
                return m.group(0)

            return re.sub(r"\b(\w+)\.(\w+)", sub, expr)

        pred_sql = rewrite(pred) if pred else None
        proj_items = [
            (name or None, rewrite(e))
            for name, e in _named_exprs(proj.strip())
        ]
        edges = frame.df
        out = None
        for exp_i, hops_per_seg in enumerate(expansions):
            # concrete per-hop edge vars and node list for this length
            # combination (intermediates of a starred segment get
            # unique anonymous names)
            edge_vars: list[str] = []
            node_vars: list[str] = [node_names[0]]
            for si, ((ev, _lo, _hi, st), nh) in enumerate(
                zip(segs, hops_per_seg)
            ):
                for j in range(nh):
                    edge_vars.append(
                        ev if (nh == 1 and not st) else f"{ev}__h{j}"
                    )
                    node_vars.append(
                        node_names[si + 1]
                        if j == nh - 1
                        else f"__i{si}_{j}"
                    )
            pos_id = [f"{edge_vars[0]}__{src}"] + [
                f"{e}__{dst}" for e in edge_vars
            ]
            cur = None
            for i, e in enumerate(edge_vars):
                edf = edges.select(
                    *[F.col(c).alias(f"{e}__{c}") for c in edges.columns]
                )
                if cur is None:
                    cur = edf
                else:
                    cur = cur.join(
                        edf,
                        F.col(f"{edge_vars[i - 1]}__{dst}")
                        == F.col(f"{e}__{src}"),
                    )
            # a single-hop expansion of a starred edge still uses the
            # hashed name ev__h0; expose the plain name too so shared
            # expressions would resolve — not needed (starred refs
            # raise), kept implicit.
            first_pos: dict[str, int] = {}
            for i, nv in enumerate(node_vars):
                if nv in first_pos:
                    cur = cur.filter(
                        F.col(pos_id[first_pos[nv]]) == F.col(pos_id[i])
                    )
                else:
                    first_pos[nv] = i
            for nv in sorted(id_vars):
                cur = cur.withColumn(
                    f"__nid_{nv}", F.col(pos_id[first_pos[nv]])
                )
            for nv in sorted(used_nodes):
                ndf = nodes.select(
                    *[
                        F.col(c).alias(f"__n_{nv}__{c}")
                        for c in nodes.columns
                    ]
                )
                # LEFT join: Kusto treats edge endpoints absent from
                # the node table as nodes with null properties, so
                # property access must not restrict the match set —
                # this keeps id-only access (no join at all) and
                # property access semantically identical.  Node ids
                # are assumed unique (duplicate ids would fan out).
                cur = cur.join(
                    ndf,
                    F.col(pos_id[first_pos[nv]])
                    == F.col(f"__n_{nv}__{idcol}"),
                    "left",
                )
            if pred_sql:
                cur = cur.filter(F.expr(translate_expr(pred_sql)))
            cols = []
            for i, (name, e) in enumerate(proj_items):
                cols.append(
                    F.expr(translate_expr(e)).alias(
                        name or re.sub(r"\W+", "_", e) or f"c{i}"
                    )
                )
            projected = cur.select(*cols)
            out = projected if out is None else out.union(projected)
        return KqlFrame(out)

    def _op_make_series(self, frame, rest):
        """``make-series name = agg() [default = lit], ... on ts
        from datetime(...) to datetime(...) step 1h [by k, ...]`` —
        Kusto's regular-grid aggregation, lowered onto
        operators.timeseries.make_series.  Bounds must be datetime
        literals; step a timespan literal; empty slots fill with the
        clause's default (null when omitted, Kusto semantics)."""
        import datetime as _dt

        from ..operators.timeseries import make_series

        m = self._MAKE_SERIES_RE.match(rest)
        if not m:
            raise KqlParseError(
                "make-series needs 'aggs on ts from <dt> to <dt> step "
                f"<timespan> [by cols]': {rest!r}"
            )
        agg_part, ts_col, lo, hi, step_txt, by_part = m.groups()

        def _bound(txt: str) -> _dt.datetime:
            t = translate_expr(txt.strip())
            bm = re.fullmatch(r"TIMESTAMP'(.*)'", t)
            if not bm:
                raise KqlParseError(
                    f"make-series bound must be a datetime literal: {txt!r}"
                )
            return _dt.datetime.fromisoformat(bm.group(1))

        step_us = _timespan_us(step_txt)
        if step_us is None:
            raise KqlParseError(
                f"make-series step must be a timespan literal: {step_txt!r}"
            )
        aggs, defaults = {}, {}
        for name, expr in _named_exprs(agg_part):
            dm = re.match(
                r"^(.*?)\s+default\s*=\s*(\S+)\s*$", expr, re.IGNORECASE | re.DOTALL
            )
            if dm:
                expr, default_txt = dm.group(1), dm.group(2)
                try:
                    defaults[name or expr] = (
                        int(default_txt)
                        if re.fullmatch(r"-?\d+", default_txt)
                        else float(default_txt)
                    )
                except ValueError as exc:
                    raise KqlParseError(
                        f"make-series default must be numeric: {default_txt!r}"
                    ) from exc
            if name is None:
                name = re.sub(r"\W+", "_", expr).strip("_") or "agg"
                if expr in defaults:
                    defaults[name] = defaults.pop(expr)
            aggs[name] = F.expr(translate_expr(expr))
        by = (
            [c.strip() for c in _split_top(by_part, ",")] if by_part else []
        )
        return KqlFrame(
            make_series(
                frame.df,
                ts_col,
                aggs,
                _bound(lo),
                _bound(hi),
                _dt.timedelta(microseconds=step_us),
                by=by,
                defaults=defaults,
                axis_col=ts_col,
            )
        )

    def _op_lookup(self, frame, rest):
        """``lookup [kind=leftouter|inner] Dim on key, ...`` — the
        dimension-enrichment join.  Kusto's lookup is BY CONTRACT a
        small right side, so it broadcasts unconditionally: at any
        scale the fact stream never shuffles for an enrichment."""
        m = re.match(
            r"^(?:kind\s*=\s*(\w+)\s+)?(\(.*\)|\S+)\s+on\s+(.+)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise KqlParseError(f"lookup needs '[kind=] Dim on key': {rest!r}")
        kind, src, on = m.groups()
        kind = (kind or "leftouter").lower()
        if kind not in ("leftouter", "inner"):
            raise KqlParseError(f"lookup kind must be leftouter/inner: {kind!r}")
        keys = [k.strip() for k in _split_top(on, ",")]
        for k in keys:
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", k):
                raise KqlParseError(
                    f"lookup joins on shared column names only: {k!r}"
                )
        dim = F.broadcast(self._source(src))
        how = "left" if kind == "leftouter" else "inner"
        return KqlFrame(frame.df.join(dim, keys, how))

    _TOP_NESTED_RE = re.compile(
        r"^(\d+)\s+of\s+([A-Za-z_][A-Za-z0-9_]*)"
        r"(?:\s+with\s+others\s*=\s*(?:'([^']*)'|\"([^\"]*)\"))?"
        r"\s+by\s+"
        r"(?:([A-Za-z_][A-Za-z0-9_]*)\s*=\s*)?(.+)$",
        re.IGNORECASE | re.DOTALL,
    )

    def _op_top_nested(self, frame, rest):
        """``top-nested N1 of k1 by agg1, top-nested N2 of k2 by agg2``
        — hierarchical top-k: the top N1 groups by k1, and within each,
        the top N2 by k2.  Lowered to one aggregation over the full key
        tuple plus per-level window re-aggregation + rank — ranks run
        over per-level partial sums, so each level shuffles only the
        (k1..ki, value) aggregate, never the input."""
        clauses = []
        for i, part in enumerate(_split_top(rest, ",")):
            part = part.strip()
            if i > 0:
                part = re.sub(r"^top-nested\s+", "", part, flags=re.IGNORECASE)
            m = self._TOP_NESTED_RE.match(part)
            if not m:
                raise KqlParseError(
                    f"top-nested needs 'N of col [with others = \"L\"] "
                    f"by [name =] agg': {part!r}"
                )
            n, key, oth1, oth2, alias, agg = m.groups()
            others = oth1 if oth1 is not None else oth2
            clauses.append(
                (int(n), key, alias or f"aggregated_{key}",
                 translate_expr(agg), others)
            )
        keys = [c[1] for c in clauses]
        base = frame.df.groupBy(*keys).agg(
            *[F.expr(c[3]).alias(c[2]) for c in clauses]
        )
        # re-aggregation per level: sum/count roll up by sum, min/max
        # by themselves; anything non-decomposable fails loudly
        _REAGG = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
        fns = []
        for n, key, alias, agg_sql, others in clauses:
            fn_name = re.match(r"\s*(\w+)", agg_sql).group(1).lower()
            if re.search(r"\bDISTINCT\b", agg_sql, re.IGNORECASE):
                fn_name = "distinct"  # count(DISTINCT x) does not roll up
            if fn_name not in _REAGG:
                raise KqlParseError(
                    f"top-nested supports sum/count/min/max aggregates: "
                    f"{agg_sql!r}"
                )
            fns.append(_REAGG[fn_name])
        out = base
        # per-level "is the others bucket" markers: a GENUINE key value
        # that string-equals the label must stay a separate row (Kusto
        # keeps both), so grouping and windows key on (value, marker)
        markers: dict[int, str] = {}

        def _part(upto: int) -> list:
            cols: list = []
            for p in range(upto):
                cols.append(keys[p])
                if p in markers:
                    cols.append(markers[p])
            return cols

        for lvl, (n, key, alias, _agg_sql, others) in enumerate(clauses):
            w_val = Window.partitionBy(*_part(lvl + 1))
            out = out.withColumn(f"__v{lvl}", fns[lvl](alias).over(w_val))
            w_rank = Window.partitionBy(*_part(lvl)).orderBy(
                F.desc(f"__v{lvl}"), F.col(key)
            )
            out = out.withColumn(f"__r{lvl}", F.dense_rank().over(w_rank))
            if others is None:
                out = out.filter(F.col(f"__r{lvl}") <= n)
            else:
                # `with others = "L"`: beyond-top keys collapse into one
                # labeled bucket PER PARENT (the bucket then behaves as
                # a regular group for deeper levels, Kusto semantics).
                # The key column becomes string to carry the label.
                markers[lvl] = f"__o{lvl}"
                out = out.withColumn(
                    markers[lvl], F.col(f"__r{lvl}") > n
                ).withColumn(
                    key,
                    F.when(
                        F.col(f"__r{lvl}") <= n,
                        F.col(key).cast("string"),
                    ).otherwise(F.lit(others)),
                )
                # collapse the relabeled duplicates; leaf aggregates
                # roll up with each clause's own re-agg function
                out = out.groupBy(*_part(len(keys))).agg(
                    *[
                        fns[j](clauses[j][2]).alias(clauses[j][2])
                        for j in range(len(clauses))
                    ]
                )
                # earlier levels' __v/__r were consumed by their own
                # filters/relabels; recompute THIS level's value for
                # ranks already applied — deeper levels recompute their
                # own windows next iteration
                for past in range(lvl + 1):
                    out = out.withColumn(
                        f"__v{past}",
                        fns[past](clauses[past][2]).over(
                            Window.partitionBy(*_part(past + 1))
                        ),
                    )
        return KqlFrame(
            out.select(
                *[
                    c
                    for lvl, (n, key, alias, _a, _o) in enumerate(clauses)
                    for c in (key, F.col(f"__v{lvl}").alias(alias))
                ]
            )
        )

    def _op_evaluate(self, frame, rest):
        """``evaluate pivot(pivotCol [, agg(valueCol)])`` — the pivot
        plugin lowered onto Spark's native groupBy().pivot().agg()
        (distinct pivot values discovered and sorted by Spark; the
        remaining columns group).  Other plugins raise loudly."""
        m = re.match(r"^(\w+)\s*\(", rest.strip())
        if not m:
            raise KqlParseError(f"evaluate needs plugin(...): {rest!r}")
        plugin = m.group(1).lower()
        if plugin not in (
            "pivot",
            "bag_unpack",
            "narrow",
            "activity_counts_metrics",
            "sliding_window_counts",
            "active_users_count",
            "activity_engagement",
            "activity_metrics",
            "sequence_detect",
            "funnel_sequence_completion",
            "new_activity_metrics",
            "dcount_intersect",
            "funnel_sequence",
            "session_count",
            "rolling_percentile",
            "rows_near",
            "ipv4_lookup",
            "diffpatterns",
            "autocluster",
            "basket",
        ):
            raise KqlParseError(f"unsupported evaluate plugin: {plugin!r}")
        args, end = _find_args(rest, rest.index("("))
        if rest[end:].strip():
            raise KqlParseError(f"trailing text after evaluate: {rest!r}")
        if plugin == "bag_unpack":
            return self._bag_unpack(frame, args)
        if plugin == "narrow":
            return self._narrow(frame)
        if plugin == "activity_counts_metrics":
            return self._activity_counts_metrics(frame, args)
        if plugin == "sliding_window_counts":
            return self._sliding_window_counts(frame, args)
        if plugin == "active_users_count":
            return self._active_users_count(frame, args)
        if plugin == "activity_engagement":
            return self._activity_engagement(frame, args)
        if plugin == "activity_metrics":
            return self._activity_metrics(frame, args)
        if plugin == "sequence_detect":
            return self._sequence_detect(frame, args)
        if plugin == "new_activity_metrics":
            return self._new_activity_metrics(frame, args)
        if plugin == "dcount_intersect":
            return self._dcount_intersect(frame, args)
        if plugin == "funnel_sequence":
            return self._funnel_sequence(frame, args)
        if plugin == "funnel_sequence_completion":
            return self._funnel_sequence_completion(frame, args)
        if plugin == "session_count":
            return self._session_count(frame, args)
        if plugin == "rolling_percentile":
            return self._rolling_percentile(frame, args)
        if plugin == "rows_near":
            return self._rows_near(frame, args)
        if plugin == "ipv4_lookup":
            return self._ipv4_lookup(frame, args)
        if plugin == "diffpatterns":
            return self._diffpatterns(frame, args)
        if plugin == "basket":
            return self._basket(frame, args)
        if plugin == "autocluster":
            return self._autocluster(frame, args)
        pcol = args[0].strip()
        agg = args[1].strip() if len(args) > 1 else "count()"
        # any column the aggregate consumes cannot also group
        agg_refs = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", agg))
        drop = {pcol} | (agg_refs & set(frame.df.columns))
        group_cols = [c for c in frame.df.columns if c not in drop]
        return KqlFrame(
            frame.df.groupBy(*group_cols)
            .pivot(pcol)
            .agg(F.expr(translate_expr(agg)))
        )

    def _narrow(self, frame) -> KqlFrame:
        """``evaluate narrow()`` — unpivot every column into
        (Row, Column, Value) with values stringified (dynamic-style
        rendering).  Kusto's Row is the source row index, which Spark
        has no natural order for — a preceding ``order by`` is
        required (same contract as serialize/scan) and Row numbers
        follow it.  Lowered onto row_number + stack (one projection,
        no shuffle beyond the ordering)."""
        if not self._order_sql:
            raise KqlParseError(
                "evaluate narrow() requires a preceding 'order by' "
                "(Row numbers need a serialized order)"
            )
        from pyspark.sql import Window as _W

        cols = frame.df.columns
        w = _W.orderBy(*self._order_columns())
        stack_args = ", ".join(
            f"'{c}', CAST({c} AS STRING)" for c in cols
        )
        return KqlFrame(
            frame.df.withColumn("Row", F.row_number().over(w))
            .selectExpr(
                "Row",
                f"stack({len(cols)}, {stack_args}) AS (Column, Value)",
            )
        )

    _BAG_SAMPLE = 100

    def _bag_unpack(self, frame, args: list[str]) -> KqlFrame:
        """``evaluate bag_unpack(col [, prefix])``: a JSON-bag column
        becomes real columns.  The key set and types come from a
        BOUNDED driver-side sample (first {_BAG_SAMPLE} non-null bags —
        schema inference is metadata work, O(sample), never O(rows));
        the unpacking is a PARSE-ONCE ``from_json`` to a typed struct
        (Catalyst's subexpression elimination evaluates the shared
        JsonToStructs once per row — N ``get_json_object`` projections
        would re-parse the bag N times).  Keys absent from the sample
        are missed — that is the documented contract of sampling-based
        inference."""
        import json

        col = args[0].strip()
        prefix = args[1].strip().strip("'\"") if len(args) > 1 else ""
        sample = (
            frame.df.select(col)
            .filter(F.col(col).isNotNull())
            .limit(self._BAG_SAMPLE)
            .collect()
        )
        key_types: dict[str, str] = {}
        for row in sample:
            try:
                bag = json.loads(row[0])
            except (TypeError, ValueError):
                continue
            if not isinstance(bag, dict):
                continue
            for k, v in bag.items():
                t = (
                    "boolean" if isinstance(v, bool)
                    else "bigint" if isinstance(v, int)
                    else "double" if isinstance(v, float)
                    else "string"
                )
                prev = key_types.get(k)
                if prev is None:
                    key_types[k] = t
                elif prev != t:
                    # widen: int+double -> double, anything else -> string
                    key_types[k] = (
                        "double"
                        if {prev, t} <= {"bigint", "double"}
                        else "string"
                    )
        if not key_types:
            raise KqlParseError(
                f"bag_unpack: no JSON objects found in sample of {col!r}"
            )
        keep = [c for c in frame.df.columns if c != col]
        bag = F.from_json(
            F.col(col),
            ", ".join(
                f"`{k}` {t}" for k, t in sorted(key_types.items())
            ),
        )
        unpacked = [
            bag.getField(k).alias(prefix + k)
            for k in sorted(key_types)
        ]
        return KqlFrame(frame.df.select(*keep, *unpacked))

    @staticmethod
    def _win_us(arg: str, what: str) -> int:
        us = _timespan_us(arg.strip())
        if us is None or us <= 0:
            raise KqlParseError(
                f"{what} must be a positive timespan literal, got {arg!r}"
            )
        return us

    @staticmethod
    def _span_args(args, n_windows):
        """(IdColumn, TimelineColumn, Start, End, windows...) common to
        the activity-analytics plugins."""
        if len(args) < 4 + n_windows:
            raise KqlParseError(
                f"plugin needs (IdColumn, TimelineColumn, Start, End, "
                f"{n_windows} window arg(s)); got {len(args)}"
            )
        idc = args[0].strip()
        tc = args[1].strip()
        start_sql = translate_expr(args[2])
        end_sql = translate_expr(args[3])
        return idc, tc, start_sql, end_sql

    def _activity_counts_metrics(self, frame, args):
        """``evaluate activity_counts_metrics(Id, Timeline, Start, End,
        Step)`` — per Step bin (anchored at Start, bins with activity):
        ``count`` rows, ``dcount`` ids, ``new_dcount`` ids first seen
        in that bin, ``aggregated_dcount`` distinct ids Start..bin
        (= running sum of new_dcount).

        Scale shape: two hash aggregations over the events (per-bin and
        first-bin-per-id) and one window over the BIN axis — bins are
        O(period/step), driver-scale, so the global running-sum window
        is fine; the id-cardinality work stays distributed."""
        idc, tc, start_sql, end_sql = self._span_args(args, 1)
        step_us = self._win_us(args[4], "Step")
        df = frame.df.filter(
            F.expr(f"({tc}) >= {start_sql} AND ({tc}) < {end_sql}")
        )
        bin_expr = F.expr(
            f"timestamp_micros(((unix_micros({tc}) - "
            f"unix_micros({start_sql})) DIV {step_us}) * "
            f"{step_us} + unix_micros({start_sql}))"
        )
        df = df.withColumn("Timeline", bin_expr)
        per = df.groupBy("Timeline").agg(
            F.count("*").alias("count"),
            F.countDistinct(idc).alias("dcount"),
        )
        firsts = df.groupBy(idc).agg(F.min("Timeline").alias("Timeline"))
        new = firsts.groupBy("Timeline").agg(
            F.count("*").alias("new_dcount")
        )
        out = per.join(new, "Timeline", "left").fillna({"new_dcount": 0})
        from pyspark.sql import Window as _W

        w = _W.orderBy("Timeline").rowsBetween(_W.unboundedPreceding, 0)
        return KqlFrame(
            out.withColumn("aggregated_dcount", F.sum("new_dcount").over(w))
        )

    def _activity_metrics(self, frame, args):
        """``evaluate activity_metrics(Id, Timeline, Start, End,
        Window)`` — per Window bin: ``dcount_values`` active ids,
        ``dcount_newvalues`` ids first seen in that bin, and
        ``retention_rate`` / ``churn_rate`` vs the PREVIOUS bin
        (retained = ids active in both b-1 and b, over the previous
        bin's actives; churn = 1 - retention; 0 when there is no
        previous bin).

        Scale shape: distinct (id, bin) pairs once, then a self-join
        shifted by one bin keyed on id — both sides hash-partition on
        the id, the bin axis stays driver-scale.  The pairs frame is
        NOT persisted: r12 persisted it for its FOUR consumers
        (per-bin counts, first-seen, both retention sides), trading a
        local slowdown for 10x fewer input scans "at real event
        volume" — and the r13 10x-corpus A/B refuted the trade both
        times it ran (persisted 1.43–1.50 s vs unpersisted 1.27–1.46 s;
        tools/probe_activity_persist.py): the consumers are
        independent stages the scheduler overlaps, and the persist's
        materialization barrier serializes them for longer than the
        repeated distinct costs.  Both A/Bs read page-cached local
        files, where a re-scan is nearly free: the trade depends on the
        storage backend, and on remote or object-store input, where the
        scan dominates, re-running it for every consumer may lose."""
        idc, tc, start_sql, end_sql = self._span_args(args, 1)
        step_us = self._win_us(args[4], "Window")
        df = frame.df.filter(
            F.expr(f"({tc}) >= {start_sql} AND ({tc}) < {end_sql}")
        )
        s_us = f"unix_micros({start_sql})"
        kcol = F.expr(f"(unix_micros({tc}) - ({s_us})) DIV {step_us}")
        pairs = df.select(
            F.col(idc).alias("_id"), kcol.alias("_k")
        ).distinct()
        per = pairs.groupBy("_k").agg(F.count("*").alias("dcount_values"))
        firsts = pairs.groupBy("_id").agg(F.min("_k").alias("_k"))
        new = firsts.groupBy("_k").agg(
            F.count("*").alias("dcount_newvalues")
        )
        nxt = pairs.select("_id", (F.col("_k") + 1).alias("_k"))
        retained = (
            pairs.join(nxt, ["_id", "_k"], "inner")
            .groupBy("_k")
            .agg(F.count("*").alias("_retained"))
        )
        prev = per.select(
            (F.col("_k") + 1).alias("_k"),
            F.col("dcount_values").alias("_prev_dcount"),
        )
        out = (
            per.join(new, "_k", "left")
            .join(retained, "_k", "left")
            .join(prev, "_k", "left")
            .fillna({"dcount_newvalues": 0, "_retained": 0})
            .select(
                F.expr(
                    f"timestamp_micros(({s_us}) + _k * {step_us})"
                ).alias("Timeline"),
                "dcount_values",
                "dcount_newvalues",
                F.when(
                    F.col("_prev_dcount") > 0,
                    F.col("_retained") / F.col("_prev_dcount"),
                )
                .otherwise(F.lit(0.0))
                .alias("retention_rate"),
                F.when(
                    F.col("_prev_dcount") > 0,
                    1.0 - F.col("_retained") / F.col("_prev_dcount"),
                )
                .otherwise(F.lit(0.0))
                .alias("churn_rate"),
            )
        )
        return KqlFrame(out)

    def _sequence_detect(self, frame, args):
        """``evaluate sequence_detect(Timeline, MaxStepWindow, MaxSpan,
        Step1, Step2, ..., IdColumn)`` — ordered-event sequences per
        id: StepN are BOOLEAN COLUMN NAMES (extend them first); the
        output has one row per id whose earliest greedy completion
        satisfies every step within MaxStepWindow of the previous step
        and MaxSpan overall, with columns ``<step>_<timeline>`` per
        step (earliest-completion semantics, one row per id).

        Scale shape: one aggregation + one join per step, ALL keyed on
        the id column — k steps cost k hash-partitioned passes over
        the (filtered) events, never a window over the whole corpus."""
        if len(args) < 5:
            raise KqlParseError(
                "sequence_detect needs (Timeline, MaxStepWindow, "
                "MaxSpan, Step1, Step2, ..., IdColumn)"
            )
        tc = args[0].strip()
        step_us = self._win_us(args[1], "MaxSequenceStepWindow")
        span_us = self._win_us(args[2], "MaxSequenceSpan")
        steps = [a.strip() for a in args[3:-1]]
        idc = args[-1].strip()
        df = frame.df
        for c in steps:
            if c not in df.columns:
                raise KqlParseError(
                    f"sequence_detect step {c!r} must be an existing "
                    "boolean column (extend it first)"
                )
        t_us = f"unix_micros({tc})"
        ev = df.select(
            F.col(idc).alias("_id"), F.expr(t_us).alias("_t"), *steps
        )
        cur = (
            ev.filter(F.col(steps[0]))
            .groupBy("_id")
            .agg(F.min("_t").alias("_t0"))
        )
        prev_col = "_t0"
        for i, c in enumerate(steps[1:], start=1):
            nxt = (
                ev.filter(F.col(c))
                .join(cur, "_id")
                .filter(
                    (F.col("_t") > F.col(prev_col))
                    & (F.col("_t") <= F.col(prev_col) + step_us)
                    & (F.col("_t") <= F.col("_t0") + span_us)
                )
                .groupBy("_id", *[f"_t{j}" for j in range(i)])
                .agg(F.min("_t").alias(f"_t{i}"))
            )
            cur = nxt
            prev_col = f"_t{i}"
        out = cur.select(
            F.col("_id").alias(idc),
            *[
                F.expr(f"timestamp_micros(_t{j})").alias(
                    f"{steps[j]}_{tc}"
                )
                for j in range(len(steps))
            ],
        )
        return KqlFrame(out)

    def _covered_bins(self, df, tc, start_sql, end_sql, win_us, bin_us):
        """Attach ``_k``: the Start-anchored grid indices b = Start +
        k*Bin with event ts in the lookback window (b-win, b], clipped
        to [Start, End] — the per-event EXPLODE dual of a bins-to-
        events range join (bounded ×win/bin expansion, no join, stays
        co-partitioned for the following aggregation)."""
        t_us = f"unix_micros({tc})"
        s_us = f"unix_micros({start_sql})"
        e_us = f"unix_micros({end_sql})"
        # integer µs arithmetic only: a double FLOOR/CEIL could flip
        # at exact grid boundaries (ts landing on a bin edge)
        k0 = (
            f"GREATEST(((({t_us}) - ({s_us})) + {bin_us} - 1) DIV "
            f"{bin_us}, 0L)"
        )
        k1 = (
            f"LEAST((({t_us}) + {win_us} - ({s_us}) - 1) DIV {bin_us}, "
            f"(({e_us}) - ({s_us})) DIV {bin_us})"
        )
        return df.filter(
            F.expr(f"({tc}) >= {start_sql} AND ({tc}) <= {end_sql}")
        ).withColumn(
            "_k",
            F.explode(F.expr(f"sequence({k0}, {k1})")),
        )

    def _grid_frame(self, spark, s_us: str, e_us: str, step_us: int):
        """Start-anchored index grid 0..(End-Start)/step as ``_k`` —
        the zero-fill backbone every windowed activity plugin joins
        its per-bin aggregates onto (shared so the grid arithmetic
        can never drift between plugins)."""
        return spark.range(1).select(
            F.explode(
                F.expr(
                    f"sequence(0L, (({e_us}) - ({s_us})) DIV {step_us})"
                )
            ).alias("_k")
        )

    def _sliding_window_counts(self, frame, args):
        """``evaluate sliding_window_counts(Id, Timeline, Start, End,
        LookbackWindow, Bin)`` — per Bin grid point b in [Start, End]:
        ``Count`` events and ``Dcount`` ids with ts in (b-Lookback, b].
        Bins with no activity emit zeros (full grid)."""
        idc, tc, start_sql, end_sql = self._span_args(args, 2)
        win_us = self._win_us(args[4], "LookbackWindow")
        bin_us = self._win_us(args[5], "Bin")
        spark = self._spark or frame.df.sparkSession
        s_us = f"unix_micros({start_sql})"
        e_us = f"unix_micros({end_sql})"
        covered = self._covered_bins(
            frame.df, tc, start_sql, end_sql, win_us, bin_us
        )
        per = covered.groupBy("_k").agg(
            F.count("*").alias("Count"),
            F.countDistinct(idc).alias("Dcount"),
        )
        grid = self._grid_frame(spark, s_us, e_us, bin_us)
        out = (
            grid.join(per, "_k", "left")
            .fillna({"Count": 0, "Dcount": 0})
            .select(
                F.expr(
                    f"timestamp_micros(({s_us}) + _k * {bin_us})"
                ).alias("Timeline"),
                "Count",
                "Dcount",
            )
        )
        return KqlFrame(out)

    def _active_users_count(self, frame, args):
        """``evaluate active_users_count(Id, Timeline, Start, End,
        LookbackWindow, Period, ActivePeriodsCount)`` — per Period
        grid point b in [Start, End]: distinct ids that were active
        in at least ActivePeriodsCount DISTINCT periods within
        (b-Lookback, b] (Kusto's "stickiness" dcount; a plain sliding
        dcount is the ActivePeriodsCount=1 special case).  Scale
        shape: the per-event explode is bounded by Lookback/Period
        (same as sliding_window_counts), then two hash aggregations —
        no self-join, no window over the full event set."""
        if len(args) != 7:
            raise KqlParseError(
                "active_users_count needs exactly (IdColumn, "
                "TimelineColumn, Start, End, LookbackWindow, Period, "
                "ActivePeriodsCount) — Kusto's optional dimension "
                "columns are not supported in this profile (silently "
                "dropping them would return wrong global counts)"
            )
        idc, tc, start_sql, end_sql = self._span_args(args, 2)
        win_us = self._win_us(args[4], "LookbackWindow")
        per_us = self._win_us(args[5], "Period")
        try:
            k_min = int(str(args[6]).strip())
        except ValueError as exc:
            raise KqlParseError(
                "active_users_count needs an integer "
                f"ActivePeriodsCount, got {args[6]!r}"
            ) from exc
        if win_us % per_us:
            raise KqlParseError(
                "LookbackWindow must be a multiple of Period"
            )
        spark = self._spark or frame.df.sparkSession
        s_us = f"unix_micros({start_sql})"
        e_us = f"unix_micros({end_sql})"
        covered = self._covered_bins(
            frame.df, tc, start_sql, end_sql, win_us, per_us
        )
        t_us = f"unix_micros({tc})"
        per = (
            covered.withColumn(
                "_p", F.expr(f"(({t_us}) - ({s_us})) DIV {per_us}")
            )
            .groupBy("_k", idc)
            .agg(F.countDistinct("_p").alias("_np"))
            .filter(F.col("_np") >= k_min)
            .groupBy("_k")
            .agg(F.countDistinct(idc).alias("dcount"))
        )
        grid = self._grid_frame(spark, s_us, e_us, per_us)
        out = (
            grid.join(per, "_k", "left")
            .fillna({"dcount": 0})
            .select(
                F.expr(
                    f"timestamp_micros(({s_us}) + _k * {per_us})"
                ).alias("Timeline"),
                "dcount",
            )
        )
        return KqlFrame(out)

    def _activity_engagement(self, frame, args):
        """``evaluate activity_engagement(Id, Timeline, Start, End,
        InnerActivityWindow, OuterActivityWindow)`` — the DAU/MAU
        idiom: per InnerWindow grid point b, distinct ids active in
        (b-Inner, b] and in (b-Outer, b] plus their ratio."""
        idc, tc, start_sql, end_sql = self._span_args(args, 2)
        inner_us = self._win_us(args[4], "InnerActivityWindow")
        outer_us = self._win_us(args[5], "OuterActivityWindow")
        if outer_us % inner_us:
            raise KqlParseError(
                "OuterActivityWindow must be a multiple of "
                "InnerActivityWindow"
            )
        s_us = f"unix_micros({start_sql})"
        covered = self._covered_bins(
            frame.df, tc, start_sql, end_sql, outer_us, inner_us
        )
        t_us = f"unix_micros({tc})"
        b_us = f"(({s_us}) + _k * {inner_us})"
        inner_flag = F.expr(
            f"({b_us}) >= ({t_us}) AND ({b_us}) < ({t_us}) + {inner_us}"
        )
        out = (
            covered.withColumn("_inner", inner_flag)
            .groupBy("_k")
            .agg(
                F.countDistinct(
                    F.when(F.col("_inner"), F.col(idc))
                ).alias("dcount_activities_inner"),
                F.countDistinct(idc).alias("dcount_activities_outer"),
            )
            .select(
                F.expr(f"timestamp_micros({b_us})").alias("Timeline"),
                "dcount_activities_inner",
                "dcount_activities_outer",
                (
                    F.col("dcount_activities_inner")
                    / F.col("dcount_activities_outer")
                ).alias("activity_ratio"),
            )
        )
        return KqlFrame(out)

    def _new_activity_metrics(self, frame, args):
        """``evaluate new_activity_metrics(Id, Timeline, Start, End,
        Window)`` — cohort retention: ids are grouped by the window of
        their FIRST activity (the cohort ``from``); for every later
        window ``to`` >= from the cohort reports how many of its ids
        were active (``dcount_retained_values``), how many were not
        (``dcount_churn_values``), and the corresponding
        retention/churn rates.  dcount_new_values is the cohort size.
        Restricted profile: the optional Cohort/dim arguments of the
        Kusto plugin are not supported (raise by arity).

        Scale shape: distinct (id, bin) pairs once, one id-keyed join
        against the per-id first bin, then a per-(cohort, bin) count —
        the output grid is O(bins^2), driver-scale; all id-cardinality
        work stays hash-distributed.  The pairs and first-bin frames
        are NOT persisted: the r12 persists here lost the r13
        10x-corpus A/B (persisted 1.29–1.49 s vs unpersisted
        1.17–1.21 s; tools/probe_activity_persist.py) — see
        activity_metrics above for the mechanism."""
        if len(args) != 5:
            raise KqlParseError(
                "new_activity_metrics supports exactly (IdColumn, "
                "TimelineColumn, Start, End, Window) — the Cohort/dim "
                "variants are not implemented"
            )
        idc, tc, start_sql, end_sql = self._span_args(args, 1)
        win_us = self._win_us(args[4], "Window")
        df = frame.df.filter(
            F.expr(f"({tc}) >= {start_sql} AND ({tc}) < {end_sql}")
        )
        s_us = f"unix_micros({start_sql})"
        e_us = f"unix_micros({end_sql})"
        kcol = F.expr(f"(unix_micros({tc}) - ({s_us})) DIV {win_us}")
        pairs = df.select(
            F.col(idc).alias("_id"), kcol.alias("_k")
        ).distinct()
        firsts = pairs.groupBy("_id").agg(F.min("_k").alias("_from"))
        new = firsts.groupBy("_from").agg(
            F.count("*").alias("dcount_new_values")
        )
        act = (
            pairs.join(firsts, "_id")
            .groupBy("_from", F.col("_k").alias("_to"))
            .agg(F.count("*").alias("_retained"))
        )
        # full to-grid per cohort: from..last bin of the period
        grid = new.withColumn(
            "_to",
            F.explode(
                F.expr(
                    f"sequence(_from, ((({e_us}) - ({s_us})) - 1) "
                    f"DIV {win_us})"
                )
            ),
        )
        out = (
            grid.join(act, ["_from", "_to"], "left")
            .fillna({"_retained": 0})
            .select(
                F.expr(
                    f"timestamp_micros(({s_us}) + _from * {win_us})"
                ).alias(f"from_{tc}"),
                F.expr(
                    f"timestamp_micros(({s_us}) + _to * {win_us})"
                ).alias(f"to_{tc}"),
                "dcount_new_values",
                F.col("_retained").alias("dcount_retained_values"),
                (
                    F.col("dcount_new_values") - F.col("_retained")
                ).alias("dcount_churn_values"),
                (
                    F.col("_retained") / F.col("dcount_new_values")
                ).alias("retention_rate"),
                (
                    (F.col("dcount_new_values") - F.col("_retained"))
                    / F.col("dcount_new_values")
                ).alias("churn_rate"),
            )
        )
        return KqlFrame(out)

    def _dcount_intersect(self, frame, args):
        """``evaluate dcount_intersect(hll_1, ..., hll_N)`` — given N
        hll-sketch columns (from ``hll()`` / ``hll_merge()``), emit
        ``s0..s{N-1}`` where ``s_i`` estimates the distinct count of
        the INTERSECTION of sets 0..i, via inclusion-exclusion over
        HLL unions — exactly Kusto's documented method (HLL cannot
        intersect directly).  The sketch columns are replaced by the
        counts; other columns pass through.

        Scale shape: pure per-row expressions over pre-aggregated
        sketches (2^N union/estimate terms, N <= 6) — no shuffle, no
        Python.  For small true cardinalities the DataSketches HLL is
        in exact (coupon) mode, so the result is exact.

        NULL sketches are EMPTY SETS, exactly like Kusto: ``hll()``
        over a group with no non-null inputs aggregates to NULL, and a
        bare ``hll_union(x, NULL)`` would poison every inclusion-
        exclusion term to NULL — so each term unions only its non-null
        members (null-skipping CASE fold) and an all-null term
        estimates 0."""
        import itertools

        cols = [a.strip() for a in args]
        if not 2 <= len(cols) <= 6:
            raise KqlParseError(
                "dcount_intersect takes 2..6 hll columns, got "
                f"{len(cols)}"
            )
        for c in cols:
            if c not in frame.df.columns:
                raise KqlParseError(
                    f"dcount_intersect: unknown column {c!r}"
                )
        keep = [c for c in frame.df.columns if c not in cols]
        n = len(cols)
        # subset unions built BOTTOM-UP as intermediate columns: each
        # size-k subset unions the size-(k-1) prefix COLUMN with one
        # more member (null-skipping: NULL members drop out, all-NULL
        # folds to NULL → estimate 0).  Staged projections keep every
        # union a small O(1) expression over a named column —
        # inlining the fold into one string would triple the text per
        # member (3^(N-1) copies) and re-evaluate nested unions per
        # row.  CollapseProject won't re-inline: the reused aliases
        # are non-cheap expressions.
        by_size: dict[int, dict[frozenset, str]] = {
            1: {frozenset([i]): cols[i] for i in range(n)}
        }
        df = frame.df
        for k in range(2, n + 1):
            level: dict[frozenset, str] = {}
            adds = []
            for sub in itertools.combinations(range(n), k):
                prev = by_size[k - 1][frozenset(sub[:-1])]
                c = cols[sub[-1]]
                name = "__u_" + "_".join(map(str, sub))
                adds.append(
                    F.expr(
                        f"CASE WHEN ({prev}) IS NULL THEN {c} "
                        f"WHEN {c} IS NULL THEN ({prev}) "
                        f"ELSE hll_union({prev}, {c}) END"
                    ).alias(name)
                )
                level[frozenset(sub)] = name
            df = df.select("*", *adds)
            by_size[k] = level
        est: dict[frozenset, str] = {}
        adds = []
        for level in by_size.values():
            for fs, nm in level.items():
                ename = "__e_" + "_".join(map(str, sorted(fs)))
                adds.append(
                    F.expr(
                        f"coalesce(hll_sketch_estimate({nm}), 0)"
                    ).alias(ename)
                )
                est[fs] = ename
        df = df.select("*", *adds)
        outs = []
        for i in range(n):
            terms = []
            for r in range(1, i + 2):
                for sub in itertools.combinations(range(i + 1), r):
                    sign = "+" if r % 2 == 1 else "-"
                    terms.append(f" {sign} {est[frozenset(sub)]}")
            outs.append(
                F.expr("0" + "".join(terms)).cast("long").alias(f"s{i}")
            )
        return KqlFrame(df.select(*keep, *outs))

    @staticmethod
    def _dyn_array_literal(raw: str, plugin: str, what: str) -> list:
        """Parse a ``dynamic([...])`` literal argument (shared by the
        funnel plugins so the accepted spelling can never diverge)."""
        import json as _json

        raw = raw.strip()
        m = re.match(r"^dynamic\s*\((.*)\)$", raw, re.DOTALL)
        if m:
            raw = m.group(1).strip()
        try:
            val = _json.loads(raw.replace("'", '"'))
        except Exception:
            raise KqlParseError(
                f"{plugin}: {what} must be a dynamic array literal, "
                f"got {raw!r}"
            ) from None
        if not isinstance(val, list) or not val:
            raise KqlParseError(
                f"{plugin}: {what} must be a non-empty array"
            )
        return val

    def _funnel_sequence_completion(self, frame, args):
        """``evaluate funnel_sequence_completion(Id, Timeline, Start,
        End, BinSize, StateColumn, Sequence, MaxSequenceWindows)`` —
        per funnel-START bin and per sequence PREFIX: distinct ids
        that completed the prefix (states in order, not necessarily
        adjacent, earliest-completion matching) with the prefix's
        last step within MaxSequenceWindows[k-1] of the FIRST step.

        Scale shape: one filtered event set, then L-1 id-keyed
        aggregate-join rounds (L = len(Sequence), guarded small) —
        each round is min-per-id over candidate next events, hash-
        partitioned on the id; no window over the global event set,
        no explode, no Python."""
        if len(args) != 8:
            raise KqlParseError(
                "funnel_sequence_completion needs (IdColumn, "
                "TimelineColumn, Start, End, BinSize, StateColumn, "
                "Sequence, MaxSequenceWindows)"
            )
        idc, tc, start_sql, end_sql = self._span_args(args, 2)
        bin_us = self._win_us(args[4], "BinSize")
        state = args[5].strip()

        seq = self._dyn_array_literal(
            args[6], "funnel_sequence_completion", "Sequence"
        )
        wins_raw = self._dyn_array_literal(
            args[7], "funnel_sequence_completion", "MaxSequenceWindows"
        )
        if len(wins_raw) != len(seq):
            raise KqlParseError(
                "MaxSequenceWindows must have one window per "
                "sequence step"
            )
        if len(seq) > 8:
            raise KqlParseError(
                "funnel_sequence_completion: sequence longer than 8 "
                "steps (each step is an aggregate-join round)"
            )
        wins_us = [
            self._win_us(str(w), "MaxSequenceWindows") for w in wins_raw
        ]
        s_us = f"unix_micros({start_sql})"
        df = frame.df.filter(
            F.expr(f"({tc}) >= {start_sql} AND ({tc}) < {end_sql}")
        )
        def _render_state(v):
            # JSON spelling, not Python's: True -> 'true' (matching
            # CAST(boolean AS STRING)); numbers/strings pass through
            if isinstance(v, bool):
                return "true" if v else "false"
            if v is None:
                raise KqlParseError(
                    "funnel_sequence_completion: null is not a "
                    "matchable state"
                )
            return str(v)

        states = [_render_state(v) for v in seq]
        # each union branch re-derives its reached-chain from ev, so
        # the SEQUENCE-STATES-ONLY event set is persisted once
        # (bounded; L <= 8 branches reuse it)
        ev = (
            df.select(
                F.col(idc).alias("_id"),
                F.expr(f"unix_micros({tc})").alias("_t"),
                F.col(state).cast("string").alias("_s"),
            )
            .filter(F.col("_s").isin(states))
            .persist()
        )

        def lit_state(v):
            return F.lit(_render_state(v))

        cur = (
            ev.filter(F.col("_s") == lit_state(seq[0]))
            .groupBy("_id")
            .agg(F.min("_t").alias("_t1"))
        )
        reached = [cur]  # reached[k]: ids with _t1.._t{k+1}
        for k in range(1, len(seq)):
            prev_t = f"_t{k}"
            nxt = (
                ev.filter(F.col("_s") == lit_state(seq[k]))
                .join(reached[-1], "_id")
                .filter(F.col("_t") > F.col(prev_t))
                .groupBy("_id", *[f"_t{j}" for j in range(1, k + 1)])
                .agg(F.min("_t").alias(f"_t{k + 1}"))
            )
            reached.append(nxt)
        outs = []
        for k in range(len(seq)):
            # prefix k+1 complete iff _t{k+1} - _t1 <= wins_us[k];
            # for k=0 that is 0 <= window by construction, so the
            # filter is skipped rather than written as a constant
            r = (
                reached[k]
                if k == 0
                else reached[k].filter(
                    F.col(f"_t{k + 1}") - F.col("_t1")
                    <= F.lit(wins_us[k])
                )
            )
            outs.append(
                r.select(
                    F.expr(
                        f"timestamp_micros(({s_us}) + "
                        f"((_t1 - ({s_us})) DIV {bin_us}) * {bin_us})"
                    ).alias("Timeline"),
                    F.lit(
                        ", ".join(str(v) for v in seq[: k + 1])
                    ).alias("StateSequence"),
                    F.col("_id"),
                )
                .groupBy("Timeline", "StateSequence")
                .agg(F.countDistinct("_id").alias("dcount"))
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        # snapshot the small aggregated union (bins x <=8 sequences),
        # then drop the shared event cache: localCheckpoint blocks are
        # freed with the result's GC, so repeated plugin invocations
        # don't accumulate session-lifetime executor storage
        # (round-9 ADVICE).  Tradeoff: the snapshot is non-replicated;
        # an executor lost mid-query fails the query (rerun) instead
        # of recomputing — the frame is tiny, the window is seconds
        out = out.localCheckpoint(eager=True)
        ev.unpersist()
        return KqlFrame(out)

    def _funnel_sequence(self, frame, args):
        """``evaluate funnel_sequence(Id, Timeline, Start, End,
        MaxStepWindow, Step, StateColumn, Sequence)`` — the
        prev/next-distribution view of Kusto's funnel: for each id
        whose CONSECUTIVE event states contain ``Sequence`` (adjacent
        events, each within MaxStepWindow of the previous; first
        occurrence per id; events ordered by (Timeline, State) for
        determinism), report the state immediately before and after,
        grouped: (prev, next, dcount distinct ids).  Restricted
        single-table profile of the three-table Kusto plugin (the
        prev/next tables, combined); the Step argument is validated
        but only drives Kusto's first output table, which this
        profile omits.

        Scale shape: one per-id window pass (lag/lead chains, hash-
        partitioned on the id) + one small groupBy — no global
        window, no Python."""
        import json as _json

        from pyspark.sql import Window as _W

        if len(args) != 8:
            raise KqlParseError(
                "funnel_sequence needs (IdColumn, TimelineColumn, "
                "Start, End, MaxSequenceStepWindow, Step, StateColumn, "
                "Sequence)"
            )
        idc, tc, start_sql, end_sql = self._span_args(args, 2)
        max_us = self._win_us(args[4], "MaxSequenceStepWindow")
        self._win_us(args[5], "Step")  # validated; unused in this view
        state = args[6].strip()
        seq = self._dyn_array_literal(
            args[7], "funnel_sequence", "Sequence"
        )
        L = len(seq)
        df = frame.df.filter(
            F.expr(f"({tc}) >= {start_sql} AND ({tc}) < {end_sql}")
        )
        ev = df.select(
            F.col(idc).alias("_id"),
            F.expr(f"unix_micros({tc})").alias("_t"),
            F.col(state).cast("string").alias("_s"),
        )
        w = _W.partitionBy("_id").orderBy("_t", "_s")
        ev = ev.withColumn("_prev", F.lag("_s").over(w)).withColumn(
            "_next", F.lead("_s", L).over(w)
        )
        cond = F.col("_s") == seq[0]
        for j in range(1, L):
            cond = (
                cond
                & (F.lead("_s", j).over(w) == seq[j])
                & (
                    F.lead("_t", j).over(w) - F.lead("_t", j - 1).over(w)
                    <= max_us
                )
            )
        matches = ev.withColumn("_hit", cond).filter("_hit")
        first = matches.withColumn(
            "_rn", F.row_number().over(_W.partitionBy("_id").orderBy("_t", "_s"))
        ).filter("_rn = 1")
        out = (
            first.groupBy(
                F.col("_prev").alias("prev"), F.col("_next").alias("next")
            )
            .agg(F.countDistinct("_id").alias("dcount"))
        )
        return KqlFrame(out)

    def _session_count(self, frame, args):
        """``evaluate session_count(Id, Timeline, Start, End, Bin,
        LookBackWindow)`` — for every Bin-sized timeline point, the
        count of ids active at least once within LookBackWindow ending
        at that point (Kusto's session definition).  LookBackWindow
        must be a multiple of Bin.  Restricted profile: the optional
        dim columns are not supported.

        Scale shape: distinct (id, bin) once, then each activity
        fans out to its LookBack/Bin covered bins (a SMALL constant),
        one distinct + one count aggregation — all id-cardinality work
        hash-distributed; the output grid is O(bins), driver-scale."""
        if len(args) != 6:
            raise KqlParseError(
                "session_count supports exactly (IdColumn, "
                "TimelineColumn, Start, End, Bin, LookBackWindow) — "
                "dim columns are not implemented"
            )
        idc, tc, start_sql, end_sql = self._span_args(args, 2)
        bin_us = self._win_us(args[4], "Bin")
        look_us = self._win_us(args[5], "LookBackWindow")
        if look_us % bin_us:
            raise KqlParseError(
                "session_count: LookBackWindow must be a multiple of Bin"
            )
        lb = look_us // bin_us
        s_us = f"unix_micros({start_sql})"
        e_us = f"unix_micros({end_sql})"
        df = frame.df.filter(
            F.expr(f"({tc}) >= {start_sql} AND ({tc}) < {end_sql}")
        )
        kcol = F.expr(f"(unix_micros({tc}) - ({s_us})) DIV {bin_us}")
        pairs = df.select(
            F.col(idc).alias("_id"), kcol.alias("_k")
        ).distinct()
        kmax = F.expr(f"((({e_us}) - ({s_us})) - 1) DIV {bin_us}")
        active = (
            pairs.select(
                "_id",
                F.explode(
                    F.sequence(
                        F.col("_k"),
                        F.least(F.col("_k") + (lb - 1), kmax),
                    )
                ).alias("_b"),
            )
            .distinct()
            .groupBy("_b")
            .agg(F.count("*").alias("count"))
        )
        # full grid incl. zero bins, like Kusto's timeline output
        spark = frame.df.sparkSession
        grid = spark.range(1).select(
            F.explode(
                F.expr(
                    f"sequence(0, ((({e_us}) - ({s_us})) - 1) DIV {bin_us})"
                )
            ).alias("_b")
        )
        out = (
            grid.join(active, "_b", "left")
            .select(
                F.expr(
                    f"timestamp_micros(({s_us}) + _b * {bin_us})"
                ).alias(tc),
                F.coalesce("count", F.lit(0)).alias("count"),
            )
        )
        return KqlFrame(out)

    def _rolling_percentile(self, frame, args):
        """``evaluate rolling_percentile(ValueColumn, Percentile,
        TimelineColumn, Start, End, BinSize, BinsPerWindow)`` — for
        each BinSize point, the exact interpolated percentile of the
        values from the last BinsPerWindow bins (inclusive).
        Restricted profile: no dim columns.

        Scale shape: values fan out to their BinsPerWindow covered
        bins (small constant) and one hash aggregation computes the
        exact percentile per output bin — no global window."""
        if len(args) != 7:
            raise KqlParseError(
                "rolling_percentile supports exactly (ValueColumn, "
                "Percentile, TimelineColumn, Start, End, BinSize, "
                "BinsPerWindow) — dim columns are not implemented"
            )
        vcol = args[0].strip()
        try:
            pct = float(args[1])
        except ValueError:
            raise KqlParseError(
                f"rolling_percentile: bad percentile {args[1]!r}"
            ) from None
        if not 0 <= pct <= 100:
            raise KqlParseError("percentile must be in [0, 100]")
        tc = args[2].strip()
        start_sql = translate_expr(args[3])
        end_sql = translate_expr(args[4])
        bin_us = self._win_us(args[5], "BinSize")
        try:
            wbins = int(args[6])
        except ValueError:
            raise KqlParseError(
                f"rolling_percentile: BinsPerWindow must be an int, "
                f"got {args[6]!r}"
            ) from None
        if wbins <= 0:
            raise KqlParseError("BinsPerWindow must be positive")
        s_us = f"unix_micros({start_sql})"
        e_us = f"unix_micros({end_sql})"
        df = frame.df.filter(
            F.expr(f"({tc}) >= {start_sql} AND ({tc}) < {end_sql}")
        )
        kcol = F.expr(f"(unix_micros({tc}) - ({s_us})) DIV {bin_us}")
        kmax = f"((({e_us}) - ({s_us})) - 1) DIV {bin_us}"
        pcol = f"rolling_{int(pct)}_percentile_{vcol}"
        binned = (
            df.select(F.col(vcol).alias("_v"), kcol.alias("_k"))
            .select(
                "_v",
                F.explode(
                    F.sequence(
                        F.col("_k"),
                        F.least(F.col("_k") + (wbins - 1), F.expr(kmax)),
                    )
                ).alias("_b"),
            )
            .groupBy("_b")
            .agg(F.expr(f"percentile(_v, {pct / 100.0!r})").alias(pcol))
        )
        # Kusto emits the FULL [Start, End) timeline (like the sibling
        # session_count grid): bins whose window holds no values show
        # a null percentile rather than disappearing from the output
        grid = frame.df.sparkSession.range(1).select(
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.expr(kmax))
            ).alias("_b")
        )
        out = grid.join(F.broadcast(binned), "_b", "left").select(
            F.expr(f"timestamp_micros(({s_us}) + _b * {bin_us})").alias(
                tc
            ),
            pcol,
        )
        return KqlFrame(out)

    def _rows_near(self, frame, args):
        """``evaluate rows_near(Condition, NumRows [, RowsAfter])`` —
        rows within NumRows before (and RowsAfter after, default
        NumRows) of any row satisfying Condition, in the SERIALIZED
        row order (requires a preceding ``order by``, same contract as
        ``serialize``/``prev``).

        Scale note: inherently a global ordered pass (Kusto's
        semantics); compose under ``partition by`` for per-key
        distributed use."""
        from pyspark.sql import Window as _W

        if not 2 <= len(args) <= 3:
            raise KqlParseError(
                "rows_near needs (Condition, NumRows [, RowsAfter])"
            )
        if not self._order_sql:
            raise KqlParseError(
                "rows_near requires a preceding 'order by' (Spark has "
                "no natural row order)"
            )
        cond = translate_expr(args[0])
        try:
            before = int(args[1])
            after = int(args[2]) if len(args) == 3 else before
        except ValueError:
            raise KqlParseError(
                "rows_near: NumRows/RowsAfter must be integers"
            ) from None
        if before < 0 or after < 0:
            raise KqlParseError("rows_near: row counts must be >= 0")
        w = _W.orderBy(*self._order_columns()).rowsBetween(-after, before)
        out = (
            frame.df.withColumn(
                "__near",
                F.max(F.expr(cond).cast("int")).over(w),
            )
            .filter(F.col("__near") == 1)
            .drop("__near")
        )
        return KqlFrame(out)

    def _ipv4_lookup(self, frame, args):
        """``evaluate ipv4_lookup(LookupTable, SourceIPColumn,
        IPNetworkColumn [, return_unmatched])`` — join each row to
        every lookup row whose CIDR network contains the source IP.
        Restricted profile: no extra join keys; networks narrower than
        /8 raise (the bucket fan-out below would explode).

        Scale shape: CIDR containment is NOT an equi-join, and a naive
        lowering is a broadcast nested loop.  Instead each network
        fans out to its covered /16 buckets (one row for /16-or-
        narrower, up to 256 for /8) and the join is a hash EQUI-join
        on the bucket with the range check as a residual filter — so
        arbitrarily large source tables stream through a shuffle/
        broadcast hash join, never a nested loop."""
        if not 3 <= len(args) <= 4:
            raise KqlParseError(
                "ipv4_lookup needs (LookupTable, SourceIPColumn, "
                "IPNetworkColumn [, return_unmatched])"
            )
        lookup = self._source(args[0].strip())
        ipc = args[1].strip()
        netc = args[2].strip()
        unmatched = False
        if len(args) == 4:
            flag = args[3].strip().lower()
            if flag not in ("true", "false"):
                raise KqlParseError(
                    f"ipv4_lookup: return_unmatched must be a bool "
                    f"literal, got {args[3]!r}"
                )
            unmatched = flag == "true"
        if netc not in lookup.columns:
            raise KqlParseError(
                f"ipv4_lookup: {args[0].strip()!r} has no column {netc!r}"
            )
        overlap = set(frame.df.columns) & set(lookup.columns)
        if overlap:
            raise KqlParseError(
                f"ipv4_lookup: overlapping column names {sorted(overlap)}"
            )
        ip_num = translate_expr(f"parse_ipv4({ipc})")
        pref = translate_expr(f"parse_ipv4(substring_index({netc}, '/', 1))")
        bits = (
            f"(CASE WHEN instr({netc}, '/') > 0 THEN "
            f"TRY_CAST(substring_index({netc}, '/', -1) AS INT) "
            f"ELSE 32 END)"
        )
        look = (
            lookup.withColumn("__bits", F.expr(bits))
            .withColumn(
                "__lo",
                F.expr(
                    f"shiftleft(shiftright({pref}, 32 - __bits), "
                    "32 - __bits)"
                ),
            )
            .withColumn(
                "__hi",
                F.expr("__lo + shiftleft(1L, 32 - __bits) - 1"),
            )
        )
        # loud validation in one pass over the (small) lookup table:
        # a /7 network would fan out to 512 buckets (profile guard), a
        # mask > 32 would shift by a NEGATIVE count (Spark masks shift
        # counts mod 64 → garbage ranges), and an unparsable mask
        # CASTs to NULL → the network silently never matches
        bad = (
            look.filter("__bits IS NULL OR __bits < 8 OR __bits > 32")
            .select(netc)
            .limit(1)
            .collect()
        )
        if bad:
            raise KqlParseError(
                f"ipv4_lookup: network {bad[0][0]!r} has a mask that "
                "is unparsable, > 32, or wider than /8 (bucket "
                "fan-out profile guard)"
            )
        look = look.withColumn(
            "__bucket",
            F.explode(F.expr("sequence(__lo DIV 65536, __hi DIV 65536)")),
        )
        src_df = frame.df.withColumn("__ip", F.expr(ip_num)).withColumn(
            "__bucket", F.expr("__ip DIV 65536")
        )
        cond = (
            (src_df["__bucket"] == look["__bucket"])
            & (src_df["__ip"] >= look["__lo"])
            & (src_df["__ip"] <= look["__hi"])
        )
        joined = src_df.join(
            look, cond, "left" if unmatched else "inner"
        )
        out = joined.select(
            *[src_df[c] for c in frame.df.columns],
            *[look[c] for c in lookup.columns],
        )
        return KqlFrame(out)

    def _diffpatterns(self, frame, args):
        """``evaluate diffpatterns(SplitColumn, ValueA, ValueB)`` —
        attribute patterns whose frequency differs most between the A
        and B row sets.  DETERMINISTIC restricted profile (Kusto's own
        implementation is a heuristic search; this one is exact over a
        bounded pattern space): attributes are every STRING column
        except the split column; patterns are conjunctions of one or
        two attribute=value terms; output columns are SegmentId,
        CountA/CountB, PercentA/PercentB, PercentDiffAB and the
        attribute columns (null = wildcard), ranked by |PercentDiffAB|
        descending with a full deterministic tiebreak, top 32.

        Scale shape: ONE hash-aggregation pass — the single and pair
        pattern space is a GROUPING SETS aggregate (singles + pairs of
        the attribute columns, C(A,2)+A sets), per-side counts as
        conditional sums; the pattern table is tiny, so the ranking
        window runs on driver-scale data."""
        if len(args) != 3:
            raise KqlParseError(
                "diffpatterns supports exactly (SplitColumn, ValueA, "
                "ValueB) in this profile"
            )
        split = args[0].strip()
        va = translate_expr(args[1])
        vb = translate_expr(args[2])
        df = frame.df
        if split not in df.columns:
            raise KqlParseError(f"diffpatterns: unknown column {split!r}")
        attrs = [
            f.name
            for f in df.schema.fields
            if f.name != split and f.dataType.simpleString() == "string"
        ]
        if not attrs:
            raise KqlParseError(
                "diffpatterns: no string attribute columns besides the "
                "split column"
            )
        if len(attrs) > 8:
            raise KqlParseError(
                f"diffpatterns: {len(attrs)} attribute columns exceed "
                "the profile cap (8)"
            )
        import itertools as _it

        # one pass: the global () grouping set carries the A/B totals,
        # separated from pattern rows by grouping_id(); the HAVING
        # grouping() guard drops rows whose pattern TERM is a null
        # data value (indistinguishable from the wildcard-null spelling
        # otherwise — documented profile restriction), while wildcard
        # positions (grouping = 1) pass untouched
        sets = [f"(`{a}`)" for a in attrs] + [
            f"(`{a}`, `{b}`)" for a, b in _it.combinations(attrs, 2)
        ] + ["()"]
        quoted = ", ".join(f"`{a}`" for a in attrs)
        gid_all = (1 << len(attrs)) - 1
        null_guard = " AND ".join(
            f"(grouping(`{a}`) = 1 OR `{a}` IS NOT NULL)" for a in attrs
        )
        spark = df.sparkSession
        agg = spark.sql(
            f"""
            SELECT {quoted},
                   sum(CASE WHEN `{split}` = {va} THEN 1 ELSE 0 END)
                     AS CountA,
                   sum(CASE WHEN `{split}` = {vb} THEN 1 ELSE 0 END)
                     AS CountB,
                   grouping_id({quoted}) AS __gid
            FROM {{src}}
            GROUP BY GROUPING SETS ({", ".join(sets)})
            HAVING {null_guard}
            """,
            src=df,
        )
        totals = (
            agg.filter(F.col("__gid") == gid_all)
            .select(
                F.col("CountA").alias("_ta"), F.col("CountB").alias("_tb")
            )
        )
        from pyspark.sql import Window as _W

        scored = (
            agg.filter(F.col("__gid") != gid_all)
            .drop("__gid")
            .join(F.broadcast(totals))
            # the empty-side guard lives INSIDE the Percent expression
            # (a standalone dropped assert column would be pruned by
            # the optimizer); raise_error keeps the loud-failure
            # contract at execution time without an extra scan
            .withColumn(
                "PercentA",
                F.when(
                    (F.col("_ta") > 0) & (F.col("_tb") > 0),
                    F.round(F.col("CountA") * 100.0 / F.col("_ta"), 2),
                ).otherwise(
                    F.raise_error(
                        F.lit(
                            "diffpatterns: one split side matched no rows"
                        )
                    ).cast("double")
                ),
            )
            .withColumn(
                "PercentB",
                F.round(F.col("CountB") * 100.0 / F.col("_tb"), 2),
            )
            .withColumn(
                "PercentDiffAB",
                F.round(F.col("PercentA") - F.col("PercentB"), 2),
            )
            .drop("_ta", "_tb")
            .filter(F.col("CountA") + F.col("CountB") > 0)
        )
        order = [F.abs(F.col("PercentDiffAB")).desc(), F.col("CountA").desc()] + [
            F.col(a).asc_nulls_last() for a in attrs
        ]
        ranked = (
            scored.withColumn(
                "SegmentId",
                F.row_number().over(_W.orderBy(*order)) - 1,
            )
            .filter(F.col("SegmentId") < 32)
            .select(
                "SegmentId", "CountA", "CountB", "PercentA",
                "PercentB", "PercentDiffAB", *attrs,
            )
        )
        return KqlFrame(ranked)

    def _pattern_scaffold(self, df, plugin: str, sets_of):
        """Shared frequent-pattern machinery for basket/autocluster:
        string-attribute discovery (cap 8), ONE grouping-sets hash
        aggregation (``sets_of(attrs)`` picks the lattice slice), the
        global total, the data-null guard, and the deterministic
        ranking order.  Returns (attrs, agg, totals, order, gid_all)."""
        attrs = [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString() == "string"
        ]
        if not attrs:
            raise KqlParseError(f"{plugin}: no string attribute columns")
        if len(attrs) > 8:
            raise KqlParseError(
                f"{plugin}: {len(attrs)} attribute columns exceed the "
                "profile cap (8)"
            )
        sets = sets_of(attrs) + ["()"]
        quoted = ", ".join(f"`{a}`" for a in attrs)
        gid_all = (1 << len(attrs)) - 1
        null_guard = " AND ".join(
            f"(grouping(`{a}`) = 1 OR `{a}` IS NOT NULL)" for a in attrs
        )
        spark = df.sparkSession
        agg = spark.sql(
            f"""
            SELECT {quoted}, CAST(count(*) AS BIGINT) AS Count,
                   grouping_id({quoted}) AS __gid
            FROM {{src}}
            GROUP BY GROUPING SETS ({", ".join(sets)})
            HAVING {null_guard}
            """,
            src=df,
        )
        totals = (
            agg.filter(F.col("__gid") == gid_all)
            .select(F.col("Count").alias("_t"))
        )
        order = [F.col("Count").desc()] + [
            F.col(a).asc_nulls_last() for a in attrs
        ]
        return attrs, agg, totals, order, gid_all

    def _basket(self, frame, args):
        """``evaluate basket([Threshold])`` — FREQUENT attribute
        patterns (Apriori's output): every conjunction of
        attribute=value terms, any size, whose row count is at least
        Threshold (default 0.05) of the input.  DETERMINISTIC
        restricted profile of Kusto's heuristic miner: attributes are
        every string column (cap 8), patterns enumerate via one CUBE
        hash aggregation (2^attrs grouping sets — bounded by the
        cap), ranked by Count descending with a full deterministic
        tiebreak.  Output: SegmentId, Count, Percent, attribute
        columns (null = wildcard).

        Scale shape: ONE grouping-sets pass over the input; the
        threshold filter and ranking run on the tiny pattern table —
        the frequent-itemset lattice never materializes row-wise."""
        import itertools as _it

        from pyspark.sql import Window as _W

        from fractions import Fraction

        threshold = Fraction(1, 20)  # Kusto default 0.05
        if len(args) > 1:
            raise KqlParseError(
                "basket supports at most (Threshold) in this profile"
            )
        if args and args[0].strip():
            try:
                # exact rational from the literal's decimal digits —
                # a binary double would misjudge counts landing
                # exactly on the threshold (7500 * 0.05 != 375.0)
                threshold = Fraction(args[0].strip())
            except ValueError:
                raise KqlParseError(
                    f"basket: bad Threshold {args[0]!r}"
                ) from None
            if not 0 < threshold < 1:
                raise KqlParseError("basket: Threshold must be in (0, 1)")
        df = frame.df
        attrs, agg, totals, order, gid_all = self._pattern_scaffold(
            df,
            "basket",
            lambda attrs: [
                "(" + ", ".join(f"`{a}`" for a in combo) + ")"
                for r in range(1, len(attrs) + 1)
                for combo in _it.combinations(attrs, r)
            ],
        )
        out = (
            agg.filter(F.col("__gid") != gid_all)
            .drop("__gid")
            .join(F.broadcast(totals))
            # integer cross-multiply: Count/total >= num/den, exact
            .filter(
                F.col("Count") * F.lit(threshold.denominator)
                >= F.col("_t") * F.lit(threshold.numerator)
            )
            .withColumn(
                "Percent",
                F.round(F.col("Count") * 100.0 / F.col("_t"), 2),
            )
            .withColumn(
                "SegmentId", F.row_number().over(_W.orderBy(*order)) - 1
            )
            .select("SegmentId", "Count", "Percent", *attrs)
        )
        return KqlFrame(out)

    def _autocluster(self, frame, args):
        """``evaluate autocluster([SizeWeight])`` — the most COMMON
        attribute patterns in the row set.  DETERMINISTIC restricted
        profile (Kusto's is a heuristic): attributes are every string
        column; patterns are conjunctions of one or two
        attribute=value terms; ranked by Count descending (SizeWeight,
        Kusto's coverage/complexity dial, is accepted and validated
        but does not change this profile's exact ranking), full
        deterministic tiebreak, top 32.  Output: SegmentId, Count,
        Percent, attribute columns (null = wildcard).

        Scale shape: one GROUPING SETS hash aggregation; ranking runs
        on the tiny pattern table."""
        if len(args) > 1:
            raise KqlParseError(
                "autocluster supports at most (SizeWeight) in this "
                "profile"
            )
        if args and args[0].strip():
            try:
                w = float(args[0])
            except ValueError:
                raise KqlParseError(
                    f"autocluster: bad SizeWeight {args[0]!r}"
                ) from None
            if not 0 < w < 1:
                raise KqlParseError(
                    "autocluster: SizeWeight must be in (0, 1)"
                )
        import itertools as _it

        from pyspark.sql import Window as _W

        df = frame.df
        # one pass: the global () grouping set carries the total,
        # separated by grouping_id(); the HAVING grouping() guard
        # drops rows whose pattern term is a null DATA value (they
        # would be indistinguishable from the wildcard-null spelling)
        attrs, agg, totals, order, gid_all = self._pattern_scaffold(
            df,
            "autocluster",
            lambda attrs: [f"(`{a}`)" for a in attrs]
            + [
                f"(`{a}`, `{b}`)"
                for a, b in _it.combinations(attrs, 2)
            ],
        )
        out = (
            agg.filter(F.col("__gid") != gid_all)
            .drop("__gid")
            .join(F.broadcast(totals))
            .withColumn(
                "Percent",
                F.when(
                    F.col("_t") > 0,
                    F.round(F.col("Count") * 100.0 / F.col("_t"), 2),
                ).otherwise(
                    F.raise_error(
                        F.lit("autocluster: empty input")
                    ).cast("double")
                ),
            )
            .withColumn(
                "SegmentId", F.row_number().over(_W.orderBy(*order)) - 1
            )
            .filter(F.col("SegmentId") < 32)
            .select("SegmentId", "Count", "Percent", *attrs)
        )
        return KqlFrame(out)

    def _op_union(self, frame, rest):
        others, srcs, with_source = [], [], None
        for part in _split_top(rest, ","):
            part = part.strip()
            if not part or part.lower().startswith("kind="):
                continue
            ws = re.match(r"withsource\s*=\s*(\w+)\s+(.*)$", part,
                          re.IGNORECASE | re.DOTALL)
            if ws:
                with_source, part = ws.group(1), ws.group(2).strip()
            others.append(KqlFrame(self._source(part)))
            srcs.append(
                part if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", part)
                else f"source{len(srcs) + 1}"
            )
        if not others:
            raise KqlParseError("union needs at least one table")
        if with_source is not None:
            tag = lambda kf, name: KqlFrame(  # noqa: E731
                kf.df.withColumn(with_source, F.lit(name))
            )
            frame = tag(frame, getattr(self, "_src_name", "source0"))
            others = [tag(kf, n) for kf, n in zip(others, srcs)]
        return frame.union(*others)

    _SCAN_RE = re.compile(
        r"^(?:with_match_id\s*=\s*([A-Za-z_]\w*)\s+)?with\s*\((.*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _op_scan(self, frame, rest):
        """Kusto ``scan``: the sequence-matching state machine, in a
        restricted condition-only profile (anything else raises):

        - steps are ``step name: predicate;`` — ``declare(...)`` state
          variables and ``=>`` output assignments are unsupported;
        - rows stream in serialized order (requires a preceding
          ``order by``, like prev/next);
        - matching is greedy-sequential with restart: a row satisfying
          the NEXT step's condition advances the active sequence; a row
          satisfying step 1 while no sequence is active (or when it
          cannot advance the current one) (re)starts the sequence
          buffer; other rows pass through unmatched.  When the final
          step matches, the match COMPLETES — its buffered rows emit
          with ``_scan_step`` (+ the ``with_match_id`` column) and the
          machine resets.  Rows of never-completed sequences emit
          nothing (funnel semantics).

        Execution shape: step predicates are evaluated JVM-side as
        boolean columns (Catalyst expressions, pushdown-friendly); only
        the inherently sequential automaton runs in ONE Arrow-batched
        pass over the ordered rows.  Kusto's scan is the same serial
        semantics — for per-key distributed scans compose under
        ``partition by`` (entity keys) with the scan inside.
        """
        m = self._SCAN_RE.match(rest)
        if not m:
            raise KqlParseError(
                f"scan needs '[with_match_id=m] with (step name: "
                f"predicate; ...)': {rest!r}"
            )
        if re.search(r"\bdeclare\s*\(", rest, re.IGNORECASE):
            raise KqlParseError(
                "scan declare(...) state variables are unsupported "
                "(condition-only steps)"
            )
        match_col = m.group(1)
        steps: list[tuple[str, str]] = []
        for part in m.group(2).split(";"):
            part = part.strip()
            if not part:
                continue
            sm = re.match(
                r"step\s+([A-Za-z_]\w*)\s*:\s*(.+)$", part, re.DOTALL
            )
            if not sm:
                raise KqlParseError(f"scan step must be 'step name: predicate': {part!r}")
            if "=>" in sm.group(2):
                raise KqlParseError(
                    "scan output assignments (=>) are unsupported"
                )
            steps.append((sm.group(1), translate_expr(sm.group(2).strip())))
        if not steps:
            raise KqlParseError("scan needs at least one step")
        if not self._order_sql:
            raise KqlParseError(
                "scan requires a preceding 'order by' (serialized rows)"
            )

        df = frame.df
        cond_cols = [f"__scan_c{i}" for i in range(len(steps))]
        for c, (_, pred) in zip(cond_cols, steps):
            df = df.withColumn(c, F.expr(pred))
        # one partition sorted locally: the unambiguous serialized
        # row stream (global orderBy + coalesce would also work, but
        # repartition(1)+sortWithinPartitions can't be re-planned)
        df = df.repartition(1).sortWithinPartitions(
            *self._order_columns()
        )

        schema = df.drop(*cond_cols).schema.add("_scan_step", "string")
        if match_col:
            schema = schema.add(match_col, "long")
        names = [n for n, _ in steps]
        n_steps = len(steps)

        def machine(batches):
            # closure state survives across Arrow batches: one Python
            # worker owns the single ordered partition
            state = {"at": -1, "buf": [], "mid": 0}

            def finish(rows):
                out = pd.DataFrame(rows)
                return out

            for pdf in batches:
                rows = []
                conds = [pdf[c].fillna(False).to_numpy() for c in cond_cols]
                recs = pdf.drop(columns=cond_cols).to_dict("records")
                for i, rec in enumerate(recs):
                    nxt = state["at"] + 1
                    if nxt < n_steps and conds[nxt][i]:
                        rec["_scan_step"] = names[nxt]
                        state["buf"].append(rec)
                        state["at"] = nxt
                        if nxt == n_steps - 1:  # final step: complete
                            state["mid"] += 1
                            for r in state["buf"]:
                                if match_col:
                                    r[match_col] = state["mid"]
                                rows.append(r)
                            state["at"], state["buf"] = -1, []
                    elif conds[0][i]:  # restart on a fresh step-1 match
                        rec["_scan_step"] = names[0]
                        state["at"], state["buf"] = 0, [rec]
                if rows:
                    yield finish(rows)

        return KqlFrame(df.mapInPandas(machine, schema))

    # Kusto's legacy partition strategy caps the partition count at 64;
    # the engine keeps the cap but RAISES past it instead of silently
    # truncating (Kusto processes only the first 64 keys).
    _PARTITION_MAX = 64

    def _op_partition(self, frame, rest):
        """``partition by Col ( subquery )`` — evaluate the subquery
        independently per partition of the source and union the results
        (Kusto partition operator, legacy strategy).  Distinct key
        values are collected (bounded by the 64-key cap), each key's
        slice runs the inner pipeline, results union by name.

        Scale note: every slice filters the same source frame — with a
        columnar source the repeated scans prune on the partition
        predicate, but inner shapes that are pure per-group idioms
        (``top k by``, ``summarize``) should prefer the window/groupBy
        form at 100 TB; this operator exists for inner pipelines that
        genuinely cannot be expressed per-group (as in Kusto)."""
        m = re.match(
            r"by\s+([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)\s*$", rest, re.DOTALL
        )
        if not m:
            raise KqlParseError(
                f"partition needs 'by Col ( subquery )': {rest!r}"
            )
        col, inner = m.group(1), m.group(2).strip()
        hints = dict(self._hints or {})
        if (hints.get("strategy") or "").lower() == "shuffle" or (
            "shufflekey" in hints
        ):
            stages = [s.strip() for s in _split_top(inner, "|") if s.strip()]
            return self._partition_shuffle(frame, col, stages, hints)
        vals = [
            r[0]
            for r in frame.df.select(col)
            .distinct()
            .limit(self._PARTITION_MAX + 1)
            .collect()
        ]
        if len(vals) > self._PARTITION_MAX:
            raise KqlParseError(
                f"partition by {col}: more than {self._PARTITION_MAX} "
                "distinct values (Kusto's legacy cap; use "
                "hint.strategy=shuffle for high-cardinality keys)"
            )
        if not vals:
            return frame
        stages = [s.strip() for s in _split_top(inner, "|") if s.strip()]
        parts = []
        for v in vals:
            sub = KqlFrame(frame.df.where(F.col(col).eqNullSafe(F.lit(v))))
            for st in stages:
                sub = self._apply(sub, st)
            parts.append(sub.df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return KqlFrame(out)

    #: inner stages that are row-local (key-preserving) and lower
    #: unchanged under the shuffle strategy.  NOT ``search``: it
    #: matches ALL columns, and the internal key copy would make rows
    #: match on a value the user may have projected away
    _SHUFFLE_ROW_LOCAL = {
        "where", "extend", "parse", "parse-kv", "parse-where",
        "mv-expand", "mv-apply", "serialize",
        "project-away", "project-rename", "project-reorder",
    }

    def _partition_shuffle(self, frame, col, stages, hints):
        """``partition hint.strategy=shuffle by Col ( subquery )`` —
        Kusto's shuffle strategy: NO 64-key cap and no per-key loop.
        The subquery lowers onto hash-partitioned rewrites keyed on an
        internal copy of the partition column: ``summarize`` gains the
        key in its grouping, ``top N by`` becomes a row_number window
        partitioned by the key, ``count`` becomes a per-key groupBy,
        row-local stages (where/extend/project.../parse/mv-expand)
        apply unchanged, and ``sort`` orders globally (a partition
        operator's output order is unspecified in Kusto).  Stages
        whose per-key semantics would need a loop (``take`` without
        an order, ``sample``) raise, naming the alternatives.

        Scale shape: ONE hash-partitioned pass per aggregating stage —
        exactly the plan a 1000-executor cluster wants for a
        high-cardinality key; the legacy strategy's N filtered scans
        never happen."""
        key = "__kql_pkey"
        if key in frame.df.columns:
            raise KqlParseError(f"column name {key} is reserved")
        if col not in frame.df.columns:
            raise KqlParseError(f"partition by {col}: unknown column")
        df = frame.df.withColumn(key, F.col(col))
        if "num_partitions" in hints:
            df = df.repartition(int(hints["num_partitions"]), key)
        sub = KqlFrame(df)
        for st in stages:
            head = re.match(r"[A-Za-z][\w-]*", st.strip())
            verb = (head.group(0).lower() if head else "")
            rest = st.strip()[len(verb):].strip() if head else ""
            if verb in self._SHUFFLE_ROW_LOCAL or verb in ("sort", "order"):
                sub = self._apply(sub, st)
            elif verb in ("project", "project-keep"):
                # keep the internal key alive through the projection
                sub = self._apply(sub, f"{st}, {key}")
            elif verb == "summarize":
                sub = self._apply(
                    sub, self._inject_summarize_key(st, key)
                )
            elif verb == "top":
                m2 = re.match(
                    r"^(\d+)\s+by\s+(.+)$", rest, re.IGNORECASE | re.DOTALL
                )
                if not m2:
                    raise KqlParseError(f"top needs 'top N by col': {rest!r}")
                n = int(m2.group(1))
                order_cols, _frags = self._sort_cols(m2.group(2))
                w = Window.partitionBy(key).orderBy(*order_cols)
                sub = KqlFrame(
                    sub.df.withColumn(
                        "__kql_prn", F.row_number().over(w)
                    )
                    .filter(F.col("__kql_prn") <= n)
                    .drop("__kql_prn")
                )
            elif verb == "count":
                sub = KqlFrame(
                    sub.df.groupBy(key).agg(F.count("*").alias("Count"))
                )
            else:
                raise KqlParseError(
                    f"partition hint.strategy=shuffle cannot lower "
                    f"{verb!r} per key without a loop; use summarize/"
                    "top/where/extend/project forms, or the legacy "
                    "partition strategy (<= 64 keys)"
                )
        return KqlFrame(sub.df.drop(key))

    @staticmethod
    def _inject_summarize_key(stage: str, key: str) -> str:
        """``summarize aggs [by g...]`` -> grouping gains the internal
        key (top-level ``by`` only; one inside an agg's parens is the
        agg's own)."""
        for m in re.finditer(r"\bby\b", stage, re.IGNORECASE):
            prefix = stage[: m.start()]
            if prefix.count("(") == prefix.count(")"):
                return f"{stage}, {key}"
        return f"{stage} by {key}"

    def _op_facet(self, frame, rest):
        """``facet by c1, c2, ...`` — value-frequency table per column.
        Kusto returns one table per facet column; the engine's
        single-DataFrame contract renders them stacked as
        ``(column, value, count_)`` rows.  The ``with (subquery)``
        form (extra main table) is not supported — raises."""
        if re.search(r"\bwith\s*\(", rest, re.IGNORECASE):
            raise KqlParseError(
                "facet ... with (subquery) is unsupported; run the "
                "subquery as its own statement"
            )
        m = re.match(r"by\s+(.+)$", rest, re.DOTALL)
        if not m:
            raise KqlParseError(f"facet needs 'by c1, c2, ...': {rest!r}")
        cols = [c.strip() for c in _split_top(m.group(1), ",") if c.strip()]
        for c in cols:
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c):
                raise KqlParseError(f"facet by needs column names: {c!r}")
        parts = [
            frame.df.groupBy(F.col(c).cast("string").alias("value"))
            .agg(F.count("*").alias("count_"))
            .select(F.lit(c).alias("column"), "value", "count_")
            for c in cols
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return KqlFrame(out)

    def _apply_join_hints(self, left, right, keys, hints):
        """Lower Kusto join execution hints onto the Spark plan.
        ``hint.strategy=broadcast`` broadcasts the LEFT side (Kusto's
        contract: put the small table on the left); ``hint.shufflekey=
        Col`` / ``hint.strategy=shuffle`` pre-repartition both sides on
        the key(s) (honoring ``hint.num_partitions``), which is exactly
        Kusto's shuffle-join semantics and gives Catalyst co-located
        inputs.  Oracle results are unchanged — plan tests pin the
        strategy flip."""
        strategy = (hints.get("strategy") or "").lower()
        shufflekey = hints.get("shufflekey")
        nparts = (
            int(hints["num_partitions"])
            if "num_partitions" in hints
            else None
        )
        if strategy == "broadcast":
            left = KqlFrame(F.broadcast(left.df))
        elif shufflekey or strategy == "shuffle":
            cols = (
                [c.strip() for c in shufflekey.split(",")]
                if shufflekey
                else list(keys)
            )
            args = ([nparts] if nparts else []) + [F.col(c) for c in cols]
            left = KqlFrame(left.df.repartition(*args))
            right = KqlFrame(right.df.repartition(*args))
        return left, right

    def _op_join(self, frame, rest):
        hints = getattr(self, "_hints", None) or {}
        m = re.match(
            r"^(?:kind\s*=\s*(\w+)\s+)?\((.*)\)\s+on\s+(.+)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            # `join Table on key` (no parens, no kind)
            m2 = re.match(r"^(?:kind\s*=\s*(\w+)\s+)?(\S+)\s+on\s+(.+)$", rest, re.DOTALL)
            if not m2:
                raise KqlParseError(f"unsupported join form: {rest!r}")
            kind, src, on = m2.group(1), m2.group(2), m2.group(3)
            other = KqlFrame(self._source(src))
        else:
            kind, sub, on = m.group(1), m.group(2), m.group(3)
            other = KqlFrame(self.run(sub))
        keys = [k.strip() for k in _split_top(on, ",")]
        for k in keys:
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", k):
                raise KqlParseError(
                    f"only equi-join on shared column names is supported: {k!r}"
                )
        frame, other = self._apply_join_hints(frame, other, keys, hints)
        return frame.join(other, keys, (kind or "inner").lower())


def _extract_hints(op: str) -> "tuple[str, dict[str, str]]":
    """Capture and remove ``hint.name=value`` tokens at paren-depth 0
    of one operator's text.  Hints inside a parenthesized subquery are
    left intact — they belong to the inner operator and are handled
    when the subquery is parsed."""
    hints: dict[str, str] = {}
    out: list[str] = []
    last = 0
    for m in re.finditer(r"\bhint\.([\w.]+)\s*=\s*([^\s,()]+)\s*", op):
        prefix = op[: m.start()]
        # crude but sufficient depth check: hint values never contain
        # parens and KQL string literals containing 'hint.' are rare
        depth = prefix.count("(") - prefix.count(")")
        if depth > 0:
            continue
        hints[m.group(1).lower()] = m.group(2)
        out.append(op[last : m.start()])
        last = m.end()
    out.append(op[last:])
    return "".join(out), hints


def kql(
    spark: SparkSession,
    text: str,
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Run a KQL pipe query.  Table names resolve from ``tables`` first,
    then from the Spark catalog (temp views / catalog tables)."""

    def resolve(name: str) -> DataFrame:
        if tables and name in tables:
            return tables[name]
        return spark.table(name)

    q = KqlQuery(resolve, spark=spark)
    out = q.run(text)
    if getattr(q, "_fork_results", None) and len(q._fork_results) > 1:
        raise KqlParseError(
            "query produced multiple fork results — use kql_multi()"
        )
    return out


def kql_multi(
    spark: SparkSession,
    text: str,
    tables: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Run a KQL query that may end in ``fork``: returns one DataFrame
    per fork leg (named ``name =`` legs keep their names, unnamed legs
    are ``fork_<i>``).  A fork-less query returns ``{"result": df}``."""

    def resolve(name: str) -> DataFrame:
        if tables and name in tables:
            return tables[name]
        return spark.table(name)

    q = KqlQuery(resolve, spark=spark)
    out = q.run(text)
    forks = getattr(q, "_fork_results", None)
    return dict(forks) if forks else {"result": out}
