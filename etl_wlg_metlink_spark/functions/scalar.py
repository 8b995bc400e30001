"""Scalar column expressions replicating the reference's derived-column
semantics (SURVEY.md §2.3, D1-D13) as native Catalyst expressions.

Everything here is a pure Column -> Column function built from
pyspark.sql.functions — JVM-side, whole-stage-codegen'd, no Python UDFs
— so the expressions inline into any plan at any scale.

The JS quirks are replicated deliberately (see reference file:line in
each docstring).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Occupancy-status enum decode table (reference task.ts:266-274 and
#: the duplicate array-index decode at task.ts:304-306 — one shared
#: definition here).
OCCUPANCY_LABELS: tuple[str, ...] = (
    "Empty",
    "Many seats available",
    "Few seats available",
    "Standing room only",
    "Crushed standing room only",
    "Full",
    "Not accepting passengers",
)


def split_head(col: Column | str, sep: str = "__") -> Column:
    """D1 — first element of ``col.split(sep)``.

    JS ``'abc'.split('__')[0]`` returns the whole string when the
    separator is absent; Spark's ``split().getItem(0)`` has identical
    semantics (reference task.ts:213). The separator is escaped because
    JS String.split is literal while Spark's is a Java regex — '.' or
    '|' as separators would otherwise silently mis-split.
    """
    return F.split(
        F.col(col) if isinstance(col, str) else col, re.escape(sep)
    ).getItem(0)


def js_falsy_to_nan(col: Column | str) -> Column:
    """D9 — JS ``value || NaN``: null, undefined, 0 and NaN all map to
    NaN (reference task.ts:294-295 ``speed || Number.NaN``,
    ``bearing || UNKNOWN_COURSE``)."""
    c = F.col(col) if isinstance(col, str) else col
    nan = F.lit(float("nan"))
    return F.when(c.isNull() | (c == 0) | F.isnan(c), nan).otherwise(c)


def nullish_default_str(col: Column | str, default: str = "Unknown") -> Column:
    """D7 — JS ``(value ?? 'Unknown').toString()``: only null/undefined
    fall back; 0 stays "0" (reference task.ts:260)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit(default))


def occupancy_label(col: Column | str, default: str = "Unknown") -> Column:
    """D4 — occupancy_status 0-6 -> label, out-of-range/null -> default
    (reference task.ts:266-276; duplicate decode task.ts:304-306).

    Implemented as ``element_at`` over a literal array — constant-folded
    by Catalyst, no join, no UDF.  For arbitrary/large enum tables the
    same decode is a broadcast dim join — see
    operators/relational.py::r1_broadcast_dim_join for the pattern.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("int")
    arr = F.array(*[F.lit(x) for x in OCCUPANCY_LABELS])
    in_range = c.isNotNull() & (c >= 0) & (c < len(OCCUPANCY_LABELS))
    return F.when(in_range, F.element_at(arr, c + 1)).otherwise(F.lit(default))


def format_fixed(col: Column | str, digits: int = 1, suffix: str = "") -> Column:
    """D5 — JS ``number.toFixed(d)`` equivalent (reference task.ts:280).

    toFixed rounds the EXACT binary value of x, so 15.45 (binary
    15.4499…) prints "15.4". Java's ``%.1f`` rounds the shortest
    decimal string instead and prints "15.5". ``format_number``
    (java.text.DecimalFormat) rounds the exact binary value, but it
    rounds ties to even, adds thousands separators, prints -0.0 with
    its sign and infinity as "∞". So an exact tie (|x|·10ᵈ = n + ½,
    i.e. x·2ᵈ⁺¹ an odd integer) first moves to n + 1 away from zero,
    as toFixed rounds it; adding 0.0 turns -0.0 into 0.0; then
    ``format_number`` prints and the rest is mapped back. Past 17
    significant digits DecimalFormat pads with zeros where toFixed
    prints the exact binary digits.
    """
    c = F.col(col) if isinstance(col, str) else col
    scale = 10.0**digits
    tie = F.abs((c * 2.0 ** (digits + 1)) % 2.0) == 1.0
    away = (c * scale + F.signum(c) * 0.5) / scale
    out = F.format_number(F.when(tie, away).otherwise(c) + 0.0, digits)
    out = F.replace(F.translate(out, ",", ""), F.lit("∞"), F.lit("Infinity"))
    if suffix:
        out = F.concat(out, F.lit(suffix))
    return out


def cot_key(vehicle_type: Column | str, vehicle_id: Column | str) -> Column:
    """D3 — stable entity key ``WLG-Metlink{Type}-{id}`` (reference
    task.ts:251)."""
    vt = F.col(vehicle_type) if isinstance(vehicle_type, str) else vehicle_type
    vid = F.col(vehicle_id) if isinstance(vehicle_id, str) else vehicle_id
    return F.concat(F.lit("WLG-Metlink"), vt, F.lit("-"), vid)


def kv_remarks(*pairs: tuple[str, Column | None]) -> Column:
    """D6 — ordered ``key: value`` lines joined by newline; a pair whose
    value Column is null is omitted (reference task.ts:254-286: optional
    Occupancy/Speed lines only when the source field is present).

    ``concat`` is NULL when its value is, and ``concat_ws`` skips
    nulls, which is exactly the conditional-inclusion semantics of the
    reference's remarks builder.
    """
    return F.concat_ws(
        "\n",
        *(F.concat(F.lit(f"{key}: "), value) for key, value in pairs if value is not None),
    )
