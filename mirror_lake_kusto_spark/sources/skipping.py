"""Data skipping: per-file column stats and stats-based file pruning.

The sink records Delta-style JSON stats on every ``add`` action
(``numRecords`` / ``minValues`` / ``maxValues`` / ``nullCount``),
harvested from the parquet footer it already reads — O(files) driver
metadata, no extra data pass.  The reader turns a SQL predicate's
top-level conjuncts into per-file interval tests over those stats, so a
100 TB table scan opens only the files whose [min, max] range can
contain matching rows.  This is the mechanism Delta/Iceberg/Hudi all
use for file-level pruning; the reference's analogue is Kusto's extent
min/max index which its query planner consults before touching extents.

Safety: pruning is strictly an optimization.  A conjunct the parser
does not understand, a column without stats, or a file without stats
never excludes the file — and ``read_snapshot`` re-applies the full
predicate as a row filter, so the result set is identical with pruning
on or off.

Reference: stats format mirrors the Delta protocol's per-file stats
(numRecords parse in the reference at TransactionLogEntry.cs:345-361);
everything else is public Delta/Iceberg design.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
from typing import Any

from pyspark.sql.types import (
    BooleanType,
    DateType,
    NumericType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# Delta's default dataSkippingNumIndexedCols
MAX_STATS_COLUMNS = 32
# strings longer than this are not indexed (truncation-safety)
MAX_STRING_STAT_LEN = 256


# ---------------------------------------------------------------------------
# write side: parquet footer -> Delta-style stats JSON
# ---------------------------------------------------------------------------

def file_stats_json(pq_meta) -> str:
    """Aggregate row-group statistics from a parquet ``FileMetaData``
    into a Delta-style stats JSON string.

    Only flat leaf columns of JSON-representable types are indexed
    (first MAX_STATS_COLUMNS, matching Delta's default); a column whose
    chunks lack min/max (e.g. doubles with NaNs, where parquet writers
    omit stats) is dropped from min/max but keeps its nullCount.
    """
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    bad_minmax: set[str] = set()
    bad_nulls: set[str] = set()
    indexed: list[str] = []

    for rg in range(pq_meta.num_row_groups):
        group = pq_meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaf — not a top-level column
                continue
            if name not in indexed:
                if len(indexed) >= MAX_STATS_COLUMNS:
                    continue
                indexed.append(name)
            st = col.statistics
            if st is None:
                bad_minmax.add(name)
                bad_nulls.add(name)
                continue
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                bad_nulls.add(name)
            if name in bad_minmax or not st.has_min_max:
                bad_minmax.add(name)
                continue
            try:
                lo, hi = _jsonable(st.min), _jsonable(st.max)
            except Exception:
                # pyarrow cannot decode min/max for some physical
                # types (e.g. Spark writes DECIMAL as
                # FIXED_LEN_BYTE_ARRAY): degrade to no min/max for
                # the column — stats are advisory, never required
                bad_minmax.add(name)
                continue
            if lo is None or hi is None:
                bad_minmax.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)

    for name in bad_minmax:
        mins.pop(name, None)
        maxs.pop(name, None)
    for name in bad_nulls:
        nulls.pop(name, None)
    stats: dict[str, Any] = {"numRecords": pq_meta.num_rows}
    if mins:
        stats["minValues"] = mins
        stats["maxValues"] = maxs
    if nulls:
        stats["nullCount"] = nulls
    return json.dumps(stats)


def _jsonable(v: Any) -> Any:
    """Parquet stat value -> JSON-encodable scalar (None = not indexable)."""
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= MAX_STRING_STAT_LEN else None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None  # bytes, Decimal, ... — skip


# ---------------------------------------------------------------------------
# layout side: z-order clustering (makes the stats above selective)
# ---------------------------------------------------------------------------

#: bits per dimension in the interleaved z-value; k dims use k*bits
#: total — 16 bits x up to 4 columns fits a signed 64-bit long.
ZORDER_BITS = 16


def numeric_proxy(col: str, dtype) -> "Column":  # noqa: F821
    """Order-preserving numeric projection of a column, used to scale
    values onto the z-curve.  Strings map through their first 6 bytes
    (hex -> long), which preserves lexicographic order at the
    granularity file-level clustering needs."""
    from pyspark.sql import functions as F

    c = F.col(col)
    if isinstance(dtype, BooleanType):
        return c.cast("int").cast("double")
    if isinstance(dtype, NumericType):
        return c.cast("double")
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return c.cast("double")  # epoch seconds (+fraction)
    if isinstance(dtype, DateType):
        return F.datediff(c, F.lit("1970-01-01")).cast("double")
    if isinstance(dtype, StringType):
        # first 12 hex chars = 6 bytes, big-endian -> ordered value that
        # is exact in a double (48 bits < 53-bit mantissa)
        return F.conv(
            F.rpad(F.substring(F.hex(F.encode(c, "utf-8")), 1, 12), 12, "0"),
            16,
            10,
        ).cast("double")
    raise ValueError(f"column {col!r}: type {dtype} is not z-orderable")


def zvalue_column(
    cols: list[str],
    bounds: dict[str, tuple[float, float]],
    schema: StructType,
    bits: int = ZORDER_BITS,
) -> "Column":  # noqa: F821
    """Interleaved-bit z-value over ``cols`` — pure JVM expressions, no
    UDF.  Each column's numeric proxy is scaled to a ``bits``-bit bucket
    id inside its [min, max] bounds, then the bucket ids' bits are
    interleaved (column j contributes bit i to output position i*k+j).
    Rows adjacent on the z-curve land in the same file, so per-file
    [min, max] stays tight on EVERY z-order dimension at once — the
    multi-column layout that makes stats-based skipping selective
    (public Delta OSS / Databricks OPTIMIZE ZORDER BY design).
    Nulls sort to bucket 0."""
    from pyspark.sql import functions as F

    if not 1 <= len(cols) * bits <= 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a long")
    type_of = {f.name: f.dataType for f in schema.fields}
    k = len(cols)
    z = F.lit(0).cast("long")
    for j, name in enumerate(cols):
        lo, hi = bounds[name]
        proxy = numeric_proxy(name, type_of[name])
        if hi > lo:
            scaled = (proxy - F.lit(lo)) / F.lit(hi - lo) * F.lit((1 << bits) - 1)
        else:
            scaled = F.lit(0)
        bucket = F.coalesce(
            F.least(
                F.greatest(scaled.cast("long"), F.lit(0)),
                F.lit((1 << bits) - 1),
            ),
            F.lit(0),
        )
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return z


def stats_proxy_value(value, dtype) -> float | None:
    """The :func:`numeric_proxy` of a Delta stats min/max VALUE,
    computed driver-side (no Spark) — must agree with the Spark
    expression on ordering.  None = this type/value can't be proxied
    from stats (caller falls back to a scan).  Truncated string stats
    stay VALID bounds: Delta truncates minValues downward (prefix) and
    maxValues upward, and the 6-byte big-endian prefix proxy is
    monotone under byte order."""
    import calendar as _cal

    if isinstance(dtype, BooleanType):
        return 1.0 if value else 0.0
    if isinstance(dtype, NumericType):
        try:
            return float(value)
        except (TypeError, ValueError):
            return None
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        try:
            ts = _dt.datetime.fromisoformat(str(value))
        except ValueError:
            return None
        if ts.tzinfo is not None:
            ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return _cal.timegm(ts.timetuple()) + ts.microsecond / 1e6
    if isinstance(dtype, DateType):
        try:
            return float(
                (_dt.date.fromisoformat(str(value)) - _dt.date(1970, 1, 1)).days
            )
        except ValueError:
            return None
    if isinstance(dtype, StringType):
        raw = str(value).encode("utf-8")[:6]
        return float(int.from_bytes(raw.ljust(6, b"\0"), "big"))
    return None


def bounds_from_file_stats(
    cols: list[str], type_of: dict, files: list[dict]
) -> "dict[str, tuple[float, float]] | None":
    """Global per-column proxy [min, max] folded from per-file add
    stats — pure driver metadata, O(files).  None when any NON-EMPTY
    file lacks usable min/max for a needed column (all-null files are
    fine: nulls cluster to bucket 0 regardless of bounds)."""
    out: dict[str, list[float]] = {}
    for f in files:
        raw = f.get("stats")
        stats = json.loads(raw) if raw else {}
        n = stats.get("numRecords")
        if n == 0:
            continue
        mins = stats.get("minValues") or {}
        maxs = stats.get("maxValues") or {}
        nulls = stats.get("nullCount") or {}
        for c in cols:
            if c not in mins or c not in maxs:
                if n is not None and nulls.get(c) == n:
                    continue  # all-null file: contributes no range
                return None
            lo = stats_proxy_value(mins[c], type_of[c])
            hi = stats_proxy_value(maxs[c], type_of[c])
            if lo is None or hi is None:
                return None
            cur = out.get(c)
            out[c] = (
                [lo, hi]
                if cur is None
                else [min(cur[0], lo), max(cur[1], hi)]
            )
    return {c: tuple(out.get(c, (0.0, 0.0))) for c in cols}


def hilbert_index(coords, bits: int):
    """Vectorized Hilbert-curve distance of ``coords`` (shape
    (n_dims, N), uint64 bucket ids in [0, 2^bits)) — John Skilling's
    public-domain transpose algorithm ("Programming the Hilbert
    curve", AIP Conf. Proc. 707, 2004), with the per-bit loop run as
    numpy boolean-mask ops over the whole batch (O(bits * n_dims)
    vectorized passes, no per-row Python).

    The Hilbert curve is the liquid-clustering layout curve: unlike
    the z-curve it has NO long diagonal jumps, so consecutive rows are
    always adjacent in key space and per-file [min, max] ranges come
    out strictly tighter on every clustering dimension."""
    import numpy as np

    X = np.ascontiguousarray(coords, dtype=np.uint64).copy()
    n, N = X.shape
    one = np.uint64(1)
    # inverse-undo excess work (top bit downward)
    Q = np.uint64(1) << np.uint64(bits - 1)
    while Q > one:
        P = Q - one
        for i in range(n):
            mask = (X[i] & Q) != 0
            X[0] = np.where(mask, X[0] ^ P, X[0])
            t = np.where(mask, np.uint64(0), (X[0] ^ X[i]) & P)
            X[0] ^= t
            X[i] ^= t
        Q >>= one
    # Gray encode
    for i in range(1, n):
        X[i] ^= X[i - 1]
    t = np.zeros(N, dtype=np.uint64)
    Q = np.uint64(1) << np.uint64(bits - 1)
    while Q > one:
        m = (X[n - 1] & Q) != 0
        t = np.where(m, t ^ (Q - one), t)
        Q >>= one
    for i in range(n):
        X[i] ^= t
    # transpose -> scalar index: MSB-first interleave across words
    idx = np.zeros(N, dtype=np.uint64)
    for q in range(bits - 1, -1, -1):
        for j in range(n):
            idx = (idx << one) | ((X[j] >> np.uint64(q)) & one)
    return idx.astype(np.int64)


def hilbert_column(
    cols: list[str],
    bounds: dict[str, tuple[float, float]],
    schema: StructType,
    bits: int | None = None,
) -> "Column":  # noqa: F821
    """Hilbert-curve cluster key over ``cols`` — the liquid-clustering
    twin of :func:`zvalue_column`.  Column scaling to bucket ids runs
    JVM-side via :func:`numeric_proxy`; the curve itself is an
    Arrow-batched pandas UDF over the already-narrow proxy columns
    (one int64 out per row), vectorized end-to-end in numpy.  This
    sits on the OPTIMIZE rewrite path where the full-data rewrite
    dwarfs the key computation.  Nulls sort to bucket 0."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf, struct

    n = len(cols)
    if bits is None:
        bits = min(ZORDER_BITS, 63 // n)
    if not 1 <= n * bits <= 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long")
    type_of = {f.name: f.dataType for f in schema.fields}
    lo_hi = [bounds[c] for c in cols]
    top = float((1 << bits) - 1)

    # one struct of the proxies arrives as one pandas DataFrame (column
    # j = proxy of cols[j]), whatever the number of clustering columns
    def _hkey(proxies):
        m = len(proxies)
        coords = np.zeros((n, m), dtype=np.uint64)
        for j in range(n):
            lo, hi = lo_hi[j]
            v = proxies.iloc[:, j].to_numpy(dtype=np.float64, na_value=lo)
            if hi > lo:
                v = (v - lo) / (hi - lo) * top
            else:
                v = np.zeros(m, dtype=np.float64)
            coords[j] = np.clip(np.nan_to_num(v, nan=0.0), 0.0, top).astype(
                np.uint64
            )
        return pd.Series(hilbert_index(coords, bits))

    # the DataFrame -> Series hints pick the scalar eval type; they are
    # set as objects because this module postpones annotations and
    # pandas is imported lazily, so written hints would not resolve
    _hkey.__annotations__ = {"proxies": pd.DataFrame, "return": pd.Series}
    return pandas_udf(_hkey, "long")(
        struct(
            *[
                numeric_proxy(c, type_of[c]).alias(f"p{j}")
                for j, c in enumerate(cols)
            ]
        )
    )


# ---------------------------------------------------------------------------
# read side: predicate conjuncts -> per-file interval tests
# ---------------------------------------------------------------------------

_CMP_RE = re.compile(
    r"^\s*(\w+)\s*(<=|>=|!=|<>|==|=|<|>)\s*(.+?)\s*$"
)
_NULL_RE = re.compile(r"^\s*(\w+)\s+IS\s+(NOT\s+)?NULL\s*$", re.IGNORECASE)
_IN_RE = re.compile(r"^\s*(\w+)\s+IN\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)
# reversed literal-first comparison: 5 < x  ->  x > 5
_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "==": "==",
         "!=": "!=", "<>": "<>"}
_CMP_REV_RE = re.compile(r"^\s*('[^']*'|[\w.\-:]+)\s*(<=|>=|!=|<>|==|=|<|>)\s*(\w+)\s*$")


def _is_word_char(ch: str) -> bool:
    return ch.isalnum() or ch == "_"


def split_conjuncts(predicate: str) -> list[str]:
    """Split on top-level AND (outside quotes and parens).

    If a top-level OR is present anywhere, NOTHING is a required
    conjunct — ``x AND a OR b`` parses as ``(x AND a) OR b``, so even
    the AND-side atoms cannot prune on their own.  Returns [] (no
    pruning; read_snapshot's row filter still applies the predicate).
    """
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    buf: list[str] = []
    i = 0
    up = predicate.upper()

    def _kw_at(kw: str, i: int) -> bool:
        return (
            up.startswith(kw, i)
            and (i == 0 or not _is_word_char(predicate[i - 1]))
            and (
                i + len(kw) >= len(predicate)
                or not _is_word_char(predicate[i + len(kw)])
            )
        )

    while i < len(predicate):
        ch = predicate[i]
        if quote:
            if ch == quote:
                quote = None
            buf.append(ch)
            i += 1
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and _kw_at("OR", i):
            return []  # disjunction at top level — no conjunct required
        if depth == 0 and _kw_at("AND", i):
            parts.append("".join(buf))
            buf = []
            i += 3
            continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _strip_parens(e: str) -> str:
    e = e.strip()
    while e.startswith("(") and e.endswith(")"):
        depth = 0
        ok = True
        for i, ch in enumerate(e):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(e) - 1:
                    ok = False
                    break
        if not ok:
            break
        e = e[1:-1].strip()
    return e


# a quoted literal must be EXACTLY one quoted token: interior quotes
# only as doubled escapes.  A sloppy startswith/endswith check would
# treat  'a' OR c = 'z'  as the single string  a' OR c = 'z  and prune
# files that contain c='z' — silent data loss.
_SQUOTED_RE = re.compile(r"^'(?:[^']|'')*'$")
_DQUOTED_RE = re.compile(r'^"(?:[^"]|"")*"$')
_BAREWORD_RE = re.compile(r"^-?[\w.\-:+]+$")


def _parse_literal(text: str, dtype, columns: frozenset | set = frozenset()) -> Any:
    """SQL literal (or raw partition value) -> comparable Python value
    in the stats domain (None = unparseable -> no pruning).

    ``columns`` is the schema's column-name set: a bareword RHS that
    names a column is a column reference, never a literal (``a = b``
    must not prune as if b were the string 'b').
    """
    text = text.strip()
    quoted = False
    if text.startswith("'"):
        if not _SQUOTED_RE.match(text):
            return None  # not a single well-formed string literal
        text, quoted = text[1:-1].replace("''", "'"), True
    elif text.startswith('"'):
        if not _DQUOTED_RE.match(text):
            return None
        text, quoted = text[1:-1].replace('""', '"'), True
    elif not _BAREWORD_RE.match(text):
        return None  # expression, not a literal
    elif text in columns:
        return None  # column-to-column comparison — not prunable
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return _parse_ts(text)
    if isinstance(dtype, DateType):
        try:
            return _dt.date.fromisoformat(text).isoformat()
        except ValueError:
            # date col compared against a timestamp literal
            ts = _parse_ts(text)
            return ts[:10] if ts else None
    if isinstance(dtype, BooleanType):
        return text.lower() == "true" if text.lower() in ("true", "false") else None
    if isinstance(dtype, NumericType):
        try:
            return int(text)
        except ValueError:
            try:
                return float(text)
            except ValueError:
                return None
    if isinstance(dtype, StringType):
        # an unquoted bareword is a SQL identifier, not a string
        # literal — even if it doesn't name a column we know about
        # (qualified refs like t.c pass the bareword regex)
        return text if quoted else None
    return None  # binary/array/map/struct — not prunable


def _parse_ts(text: str) -> str | None:
    try:
        v = _dt.datetime.fromisoformat(text.replace("T", " "))
    except ValueError:
        try:
            v = _dt.datetime.combine(
                _dt.date.fromisoformat(text), _dt.time.min
            )
        except ValueError:
            return None
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v.isoformat(sep=" ")


def _comparable(stat_val: Any, lit_val: Any) -> bool:
    num = (int, float)
    if isinstance(stat_val, bool) or isinstance(lit_val, bool):
        return isinstance(stat_val, bool) and isinstance(lit_val, bool)
    if isinstance(stat_val, num) and isinstance(lit_val, num):
        return True
    return isinstance(stat_val, str) and isinstance(lit_val, str)


class _Conjunct:
    """One parsed conjunct: decide keep/skip per file from its stats.

    ``ci=True`` marks a case-insensitive conjunct (SPARK.UTF8_LCASE
    column, ASCII literal): equality tests the CASE-VARIANT hulls
    instead of the literal itself.  For an ASCII string L, the case
    variants v (the only strings with lower(v) == lower(L)) grouped by
    their FIRST character's case form two binary-order intervals —
    within a fixed prefix, lowering a later byte only increases the
    string, so each group's all-upper-rest variant is its minimum and
    all-lower-rest its maximum:

        [upper(L),              upper(L[0]) + lower(L[1:])]
        [lower(L[0]) + upper(L[1:]), lower(L)]

    A file is skippable iff its binary [min, max] misses BOTH hulls.
    (One convex hull [upper(L), lower(L)] would be sound but loose —
    it spans the entire upper-vs-lower first-byte gap, keeping nearly
    every case-clustered file; the first-char split restores real
    pruning for the common all-lower/all-upper file layouts.)  Range
    operators (< <= > >=) never prune under ci: lower() is not
    monotone in binary order (``'Z' < 'a'`` but ``'z' > 'a'``), so no
    sound interval test exists over binary-ordered stats."""

    def __init__(
        self,
        kind: str,
        col: str,
        op: str | None,
        values: list[Any],
        ci: bool = False,
    ):
        self.kind = kind  # "cmp" | "in" | "isnull" | "notnull"
        self.col = col
        self.op = op
        self.values = values
        self.ci = ci

    def _eq_keep(self, lo, hi, v) -> bool:
        """Can a row equal to ``v`` (under the conjunct's collation)
        exist inside binary stats [lo, hi]?"""
        if not self.ci:
            return lo <= v <= hi
        if not v:
            return lo <= v <= hi  # '' has exactly one variant
        head_u, head_l = v[0].upper(), v[0].lower()
        rest_u, rest_l = v[1:].upper(), v[1:].lower()
        return any(
            lo <= h_hi and hi >= h_lo
            for h_lo, h_hi in {
                (head_u + rest_u, head_u + rest_l),
                (head_l + rest_u, head_l + rest_l),
            }
        )

    def keep(self, stats: dict, part_value: Any) -> bool:
        """True unless the stats PROVE no row in the file matches."""
        if part_value is not None:
            lo = hi = part_value
            nulls, nrec = 0, 1
        else:
            mn = (stats.get("minValues") or {})
            mx = (stats.get("maxValues") or {})
            lo, hi = mn.get(self.col), mx.get(self.col)
            nulls = (stats.get("nullCount") or {}).get(self.col)
            nrec = stats.get("numRecords")
        if self.kind == "isnull":
            return nulls is None or nulls > 0
        if self.kind == "notnull":
            return nulls is None or nrec is None or nulls < nrec
        if lo is None or hi is None:
            return True
        if self.kind == "in":
            return any(
                _comparable(lo, v) and self._eq_keep(lo, hi, v)
                for v in self.values
            ) or not all(_comparable(lo, v) for v in self.values)
        v = self.values[0]
        if not _comparable(lo, v):
            return True
        op = self.op
        if op in ("=", "=="):
            return self._eq_keep(lo, hi, v)
        if op in ("!=", "<>"):
            if self.ci:
                # every row is the single string lo; skip only when
                # that string IS a case variant of the literal
                return not (lo == hi and lo.lower() == v.lower())
            return not (lo == hi == v)
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        if op == ">=":
            return hi >= v
        return True


#: the one collation family whose comparison is pure ASCII-safe
#: lowercase folding — the only one with a sound stats test over
#: binary-ordered min/max (see _Conjunct).  RTRIM variants and ICU
#: collations stay non-prunable.
_LCASE_IDENT = "SPARK.UTF8_LCASE"


def _collation_mode(ident: str | None, values: list[Any]) -> str | None:
    """'binary' = prune normally, 'ci' = case-variant interval test,
    None = not prunable under this collation/literal combination."""
    if ident is None:
        return "binary"
    if (ident or "").upper() != _LCASE_IDENT:
        return None  # ICU / RTRIM: no sound binary-stats test
    # The hull argument needs every LCASE-match of the literal to be a
    # same-length ASCII case variant.  UTF8_LCASE compares full-mapping
    # lowercase (Java toLowerCase(Locale.ROOT)); an exhaustive probe of
    # U+0080..U+2FFFF against all ASCII found exactly ONE non-ASCII
    # codepoint equal to an ASCII char: U+212A KELVIN SIGN == 'k'
    # (U+0130 'İ' lowers to i+U+0307, so it does NOT equal 'i').  A
    # row containing U+212A sorts far above both ASCII hulls, so a
    # 'k'-bearing literal could wrongly skip the file that holds its
    # Kelvin spelling — those literals are not prunable (round-11
    # review).  Stats-side non-ASCII needs no guard beyond this: with
    # Kelvin excluded, every match IS an ASCII variant inside a hull.
    if all(
        isinstance(v, str) and v.isascii() and "k" not in v.lower()
        for v in values
    ):
        return "ci"
    return None


def parse_conjuncts(
    predicate: str,
    schema: StructType,
    collations: "dict[str, str] | None" = None,
) -> list[_Conjunct]:
    """Parse the prunable top-level conjuncts of ``predicate``.
    Anything not understood is silently dropped (no pruning — safe).

    ``collations`` maps column -> declared collation identifier for
    non-UTF8_BINARY columns: null-checks prune regardless (collation
    never affects nullness), SPARK.UTF8_LCASE equality/IN prunes via
    the case-variant interval, everything else on a collated column is
    dropped (round-11; the round-8 posture was no pruning at all)."""
    type_of = {f.name: f.dataType for f in schema.fields}
    colset = frozenset(type_of)
    collations = collations or {}
    out: list[_Conjunct] = []

    def _add_cmp(col: str, op: str, v: Any) -> None:
        mode = _collation_mode(collations.get(col), [v])
        if mode is None:
            return
        if mode == "ci" and op not in ("=", "==", "!=", "<>"):
            return  # no sound range test under case folding
        out.append(_Conjunct("cmp", col, op, [v], ci=mode == "ci"))

    for raw in split_conjuncts(predicate):
        c = _strip_parens(raw)
        m = _NULL_RE.match(c)
        if m and m.group(1) in type_of:
            out.append(
                _Conjunct("notnull" if m.group(2) else "isnull", m.group(1), None, [])
            )
            continue
        m = _IN_RE.match(c)
        if m and m.group(1) in type_of:
            vals = [
                _parse_literal(v, type_of[m.group(1)], colset)
                for v in m.group(2).split(",")
            ]
            if all(v is not None for v in vals) and vals:
                mode = _collation_mode(collations.get(m.group(1)), vals)
                if mode is not None:
                    out.append(
                        _Conjunct(
                            "in", m.group(1), None, vals, ci=mode == "ci"
                        )
                    )
            continue
        m = _CMP_RE.match(c)
        if not (m and m.group(1) in type_of):
            m2 = _CMP_REV_RE.match(c)
            if m2 and m2.group(3) in type_of:
                m = None
                col, op, lit = m2.group(3), _FLIP[m2.group(2)], m2.group(1)
                v = _parse_literal(lit, type_of[col], colset)
                if v is not None:
                    _add_cmp(col, op, v)
            continue
        col, op, lit = m.group(1), m.group(2), m.group(3)
        v = _parse_literal(lit, type_of[col], colset)
        if v is not None:
            _add_cmp(col, op, v)
    return out


def prune_files(
    files: list[dict],
    predicate: str,
    schema: StructType,
    partition_columns: list[str] | None = None,
    collations: "dict[str, str] | None" = None,
) -> list[dict]:
    """Keep only the files whose stats (or partition value) admit rows
    matching ``predicate``.  Partition-column conjuncts test the file's
    single partition value; data-column conjuncts test [min, max] /
    nullCount.  Files without stats are always kept.  ``collations``
    enables the case-variant interval test on SPARK.UTF8_LCASE columns
    (see parse_conjuncts) instead of disabling pruning wholesale."""
    conjuncts = parse_conjuncts(predicate, schema, collations)
    if not conjuncts:
        return files
    part_cols = set(partition_columns or [])
    type_of = {f.name: f.dataType for f in schema.fields}
    kept = []
    for f in files:
        raw = f.get("stats")
        try:
            stats = json.loads(raw) if raw else {}
        except (TypeError, ValueError):
            stats = {}
        ok = True
        for c in conjuncts:
            pv = None
            if c.col in part_cols:
                raw_pv = (f.get("partitionValues") or {}).get(c.col)
                if raw_pv is None:
                    continue  # null partition — only IS NULL could prune; skip
                quoted_pv = "'" + str(raw_pv).replace("'", "''") + "'"
                pv = _parse_literal(quoted_pv, type_of[c.col])
                if pv is None:
                    continue
            if not c.keep(stats, pv):
                ok = False
                break
        if ok:
            kept.append(f)
    return kept
