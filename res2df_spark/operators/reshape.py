"""Reshape operators (SURVEY.md §2.7): range explodes and melts.

The reference reshapes with numpy/pandas loops; here each reshape is a
single generator expression (``explode(sequence(...))``) that runs inside
whole-stage codegen — no shuffle, output partitioning inherited from the
input, so a 100 TB input explodes partition-locally.
"""

from __future__ import annotations

import datetime
import re
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F


def unroll_range(
    df: DataFrame,
    lo: str,
    hi: str,
    out: str,
    keep_bounds: bool = False,
) -> DataFrame:
    """One row per integer in ``[lo, hi]`` (R1: the reference's
    ``unrolldf`` for COMPDAT K1–K2 / WELSEGS SEGMENT1–SEGMENT2 ranges,
    /root/reference/src/res2df/compdat.py:415-470).

    Rows with a NULL bound are passed through with ``out`` = ``lo``
    (the reference's start==end passthrough generalized — required
    items are never NULL in a valid deck).  INVERTED bounds
    (``hi < lo``) emit NO row, exactly like the reference's
    ``range(K1, K2+1)`` over an empty range (compdat.py:460-463) — an
    ``out = lo`` fallback here would fabricate a connection the
    reference never emits.  ``F.sequence`` alone would be worse still:
    it DESCENDS on ``hi < lo``, fanning a corrupt row out to phantom
    rows.
    """
    seq = F.sequence(F.col(lo).cast("int"), F.col(hi).cast("int"))
    null_bound = F.col(lo).isNull() | F.col(hi).isNull()
    # the range array is exploded as an INLINE expression, not a
    # projected ``__seq`` column: explode() over a projected alias makes
    # InferFiltersFromGenerate add ``size(__seq) > 0`` under the
    # Generate, and predicate pushdown re-expands the alias — the
    # sequence() array was being BUILT three times per row (size probe,
    # null probe, generate).  Inline, the rule's expensive-expression
    # guard skips it and the array is built once.
    df = df.withColumn(
        out,
        F.explode(
            F.when(null_bound, F.array(F.col(lo).cast("int")))
            .when(F.col(hi) >= F.col(lo), seq)
            # inverted: empty array — explode drops the row
            .otherwise(F.array().cast("array<int>"))
        ),
    )
    if not keep_bounds:
        df = df.drop(lo, hi)
    return df


def box_explode(
    df: DataFrame,
    ranges: Mapping[str, tuple[str, str]],
) -> DataFrame:
    """N-dimensional index-box explode (R2: FAULTS boxes →
    one row per (I, J, K), /root/reference/src/res2df/faults.py:40-60).

    ``ranges`` maps output column name → (lo_col, hi_col).  Implemented
    as nested ``explode(sequence(...))`` — partition-local, no shuffle.
    Inverted or NULL bounds raise: ``sequence`` would silently DESCEND
    on hi < lo (emitting phantom rows for a corrupt box) and explode
    would silently drop NULL-bound rows — the same validity contract as
    :func:`unroll_range`, except boxes have no single-point fallback.
    """
    for out, (lo, hi) in ranges.items():
        bad = F.col(lo).isNull() | F.col(hi).isNull() | (F.col(hi) < F.col(lo))
        seq = F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit(f"box_explode: invalid [{lo}, {hi}] bounds: "),
                    F.col(lo).cast("string"), F.lit(".."), F.col(hi).cast("string"),
                )
            ).cast("array<int>"),
        ).otherwise(F.sequence(F.col(lo).cast("int"), F.col(hi).cast("int")))
        df = df.withColumn(out, F.explode(seq))
    return df


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "VARIABLE",
    value_name: str = "VALUE",
    value_type: str = "double",
) -> DataFrame:
    """Wide → long (R6: ``stack_on_colnames``,
    /root/reference/src/res2df/common.py:787-844).  Uses the ``stack``
    generator — codegen'd, no shuffle."""
    n = len(value_cols)
    if n == 0:
        raise ValueError("melt needs at least one value column")
    bad = [c for c in value_cols if "'" in c or "`" in c]
    if bad:
        # the names are interpolated into generated SQL below; a quote
        # or backtick would break the stack() expression mid-parse
        raise ValueError(f"melt cannot handle quotes/backticks in column names: {bad}")
    # var_name/value_name land inside backticks and value_type lands
    # bare in the same generated SQL — validate them like value_cols so
    # a stray backtick/paren surfaces as a clear driver-side error
    bad_out = [c for c in (var_name, value_name) if "'" in c or "`" in c]
    if bad_out:
        raise ValueError(
            f"melt cannot handle quotes/backticks in output names: {bad_out}"
        )
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_()\s,]*", value_type):
        raise ValueError(f"melt value_type is not a type name: {value_type!r}")
    pairs = ", ".join(f"'{c}', cast(`{c}` as {value_type})" for c in value_cols)
    stacked = df.select(
        *id_cols, F.expr(f"stack({n}, {pairs}) as (`{var_name}`, `{value_name}`)")
    )
    return stacked


#: separator of the ``NAME@YYYY-MM-DD`` wide headers
_DATE_SEP = "@"


def _date_tag(d) -> str:
    """ISO calendar date of a date or datetime, ``str(d)`` otherwise."""
    if isinstance(d, datetime.datetime):
        d = d.date()
    return d.isoformat() if isinstance(d, datetime.date) else str(d)


def dated_header(name: str, date) -> str:
    """``NAME@YYYY-MM-DD`` — the reference's wide header for restart
    data (grid.py:258-262, pillars.py): the calendar date of a date or
    datetime (a pandas Timestamp included), or a string tag as is.
    Every dated wide header is built here, and
    :func:`stack_dated_columns` parses them back."""
    return f"{name}{_DATE_SEP}{_date_tag(date)}"


def stack_dated_columns(
    df: DataFrame,
    id_cols: Sequence[str],
    dated_cols: Sequence[str],
    var_name: str = "VARIABLE",
    date_name: str = "DATE",
    value_name: str = "VALUE",
) -> DataFrame:
    """Melt ``NAME@YYYY-MM-DD`` wide columns into (VARIABLE, DATE, VALUE)
    rows (R6 variant used by pillars stackdates,
    /root/reference/src/res2df/common.py:787-844)."""
    # validate driver-side: a column without the separator would hit
    # split().getItem(1) → INVALID_ARRAY_INDEX mid-job under ANSI mode
    # instead of a clear error naming the column
    missing = [c for c in dated_cols if _DATE_SEP not in c]
    if missing:
        raise ValueError(
            f"dated columns missing the {_DATE_SEP!r} separator: {missing}"
        )
    out = melt(df, id_cols, dated_cols, var_name="__nv", value_name=value_name)
    split = F.split(F.col("__nv"), _DATE_SEP, 2)
    return (
        out.withColumn(var_name, split.getItem(0))
        .withColumn(date_name, F.to_date(split.getItem(1)))
        .drop("__nv")
    )


def dates_to_headers(
    df: DataFrame,
    id_cols: Sequence[str],
    date_col: str = "DATE",
) -> DataFrame:
    """Inverse of :func:`stack_dated_columns` — pivot a stacked frame's
    DATE column into ``NAME@YYYY-MM-DD`` wide headers, the reference's
    default (non-``stackdates``) output shape for restart data
    (grid.py:258-262, pillars.py — dynamic columns carry the ISO date).

    One ``groupBy(id).pivot(date)`` — Spark's pivot needs the value
    list up front, so the distinct dates are COLLECTED first (one eager
    job; bounded by the number of restart report steps, never by table
    size).  Value columns keep exactly one row per (id, date) in the
    pillars/grid use (aggregated upstream); ``first()`` is the
    pass-through aggregate."""
    value_cols = [c for c in df.columns if c != date_col and c not in id_cols]
    if not value_cols:
        raise ValueError("dates_to_headers: no value columns to pivot")
    dates = sorted(
        r[0] for r in df.select(date_col).distinct().collect() if r[0] is not None
    )
    out = (
        df.groupBy(*[F.col(c) for c in id_cols])
        .pivot(date_col, dates)
        .agg(*[F.first(c).alias(c) for c in value_cols])
    )
    # spark names pivoted columns '<date>_<alias>' (or '<date>' when a
    # single agg) — rename to the reference's '<name>@<iso-date>'.
    # Two distinct TIMESTAMPS on the same calendar day would truncate
    # to the same '<name>@<date>' target and silently shadow each
    # other — such colliding dates keep their full-timestamp tag
    # instead (and warn), so every pivoted column stays addressable.
    # (stack_dated_columns still parses tags with to_date, so melting
    # colliders back yields duplicate DATE rows — the collision is
    # surfaced, not round-trippable; sub-day data belongs in the
    # stacked shape.)
    tags = [_date_tag(d) for d in dates]
    collided = {t for t in tags if tags.count(t) > 1}
    if collided:
        import warnings

        warnings.warn(
            f"dates_to_headers: multiple timestamps share the calendar "
            f"date(s) {sorted(collided)}; colliding columns keep full-"
            f"timestamp tags",
            RuntimeWarning,
            stacklevel=2,
        )
    renames: dict[str, str] = {}
    for d, tag in zip(dates, tags):
        pref = str(d)
        for c in value_cols:
            src = f"{pref}_{c}" if len(value_cols) > 1 else pref
            renames[src] = dated_header(c, pref if tag in collided else d)
    return out.withColumnsRenamed(renames)
