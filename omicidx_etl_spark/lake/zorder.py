"""Z-order (Morton) clustering for compaction rewrites.

Lexicographic ``compact(sort_by=[a, b])`` gives tight parquet row-group
bounds on ``a`` only — ``b``'s bounds stay full-range in every file, so a
predicate on ``b`` alone decodes the whole bucket. Interleaving the bits
of several columns' quantized values (Morton/Z-order — the same layout
Iceberg's ``rewrite_data_files(strategy => 'sort', sort_order =>
'zorder(a, b)')`` and Delta's ``OPTIMIZE ... ZORDER BY`` apply) makes the
row-group min/max stats of EVERY participating column tight
simultaneously: a scan predicate on any subset of them skips row groups.
At 100 TB this is the difference between "secondary-predicate queries scan
the table" and "they scan the files whose bounds intersect".

Everything here is pure column expressions (JVM-side, codegen): quantize
each column to ``bits`` bits against its global [lo, hi], then interleave
with shift/or — no UDFs, no extra shuffle (the sort stays task-local to
the bucket rewrite, exactly like the plain sort order).

Reference parity note: the reference engine has no clustering maintenance
at all (its DuckDB consolidation rewrites whole tables,
``omicidx_etl/sql/templates.py``); this module is part of the
beyond-reference lake-maintenance family (compact / purge / expire).
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from omicidx_etl_spark.lake import manifest as M

_NUMERIC = {"int", "bigint", "smallint", "tinyint", "float", "double"}


def _as_double(col: Column, dtype: str) -> Column:
    """Lift an orderable column onto the real line for quantization."""
    if dtype in _NUMERIC or dtype.startswith("decimal"):
        return col.cast("double")
    if dtype == "date":
        # days since epoch — dates cast to int days in Spark
        return F.datediff(col, F.lit("1970-01-01")).cast("double")
    if dtype.startswith("timestamp"):
        # timestamp -> double is fractional epoch seconds in Spark
        return col.cast("double")
    raise ValueError(
        f"zorder_by supports numeric/date/timestamp columns; got {dtype!r} "
        "(string/binary columns have no range locality to preserve — "
        "cluster them with a plain sort_by instead)"
    )


def _bound_to_double(v: Any, dtype: str) -> float:
    """Manifest-stat bound → the same real-line lift as ``_as_double``."""
    import datetime as _dt

    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.timestamp()
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days * 1.0
    if isinstance(v, str) and (dtype == "date" or dtype.startswith("timestamp")):
        # manifest stats round-trip through JSON as ISO strings
        if dtype == "date":
            return (_dt.date.fromisoformat(v) - _dt.date(1970, 1, 1)).days * 1.0
        return _dt.datetime.fromisoformat(v).timestamp()
    raise TypeError(f"cannot use manifest bound {v!r} for a {dtype} column")


def zorder_key(
    cols: "list[tuple[str, str, float, float]]", bits: int | None = None
) -> Column:
    """Morton key over ``(name, dtype, lo, hi)`` columns as ONE expression.

    Each column is quantized to ``bits`` bits against [lo, hi] (nulls and
    constant columns map to 0 — nulls then cluster first, matching Spark's
    NULLS FIRST sort); bit ``j`` of column ``i`` lands at position
    ``j * k + i`` of the key. ``bits`` defaults to the most that fits a
    signed 64-bit key (``63 // k``, capped at 16 — 16 bits per dimension
    already separates 65k quantiles, far below row-group granularity).
    """
    k = len(cols)
    if k == 0:
        raise ValueError("zorder_key needs at least one column")
    if bits is None:
        bits = min(16, 63 // k)
    if bits * k > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a 64-bit key")
    top = (1 << bits) - 1
    parts: list[Column] = []
    for i, (name, dtype, lo, hi) in enumerate(cols):
        v = _as_double(F.col(name), dtype)
        if hi > lo:
            q = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(top)))
            q = F.least(F.greatest(q, F.lit(0)), F.lit(top))
        else:  # constant column contributes nothing
            q = F.lit(0)
        q = F.coalesce(q, F.lit(0)).cast("long")
        parts.extend(
            F.shiftleft(F.shiftright(q, j).bitwiseAND(F.lit(1)), j * k + i)
            for j in range(bits)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), parts).alias("__zkey")


def zorder_sort_expr(
    schema, bounds: "dict[str, tuple[Any, Any]]", cols: "list[str]",
    bits: int | None = None,
) -> Column:
    """Resolve (dtype, lo, hi) per column from a table schema + bounds map
    and build the Morton sort key (`zorder_key`). Raises KeyError for a
    column absent from the schema and ValueError for unorderable types."""
    typed = []
    by_name = {f.name: f for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise KeyError(f"zorder_by column {c!r} not in table schema")
        dtype = by_name[c].dataType.simpleString()
        lo, hi = bounds[c]
        typed.append(
            (c, dtype, _bound_to_double(lo, dtype), _bound_to_double(hi, dtype))
        )
    return zorder_key(typed, bits)


def bounds_from_manifest(
    snap: dict, buckets: "list[int]", cols: "list[str]"
) -> "dict[str, tuple[Any, Any]] | None":
    """Global [lo, hi] per column from the snapshot manifest's per-file-group
    stats (written at commit time by ``_dir_stats``) — bounds for the
    z-order quantizer WITHOUT scanning any data. Returns None when any
    referenced file group lacks bounds for any requested column (caller
    falls back to a one-pass min/max aggregation)."""
    lo: dict[str, Any] = {}
    hi: dict[str, Any] = {}
    for _, g, _ in M.snapshot_file_groups(snap, buckets):
        stats = g.get("stats")
        for c in cols:
            if not stats or c not in stats:
                return None
            glo, ghi = stats[c]
            lo[c] = glo if c not in lo else min(lo[c], glo)
            hi[c] = ghi if c not in hi else max(hi[c], ghi)
    if any(c not in lo for c in cols):
        return None
    return {c: (lo[c], hi[c]) for c in cols}
