"""Reusable column-expression builders (the engine's scalar-function
surface; reference analog: the loader/indexer helper functions of
``bids2table/loaders/text.py`` and ``bids2table/indexers/bids.py:54-124``,
re-expressed as Catalyst expressions)."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


_SIZE_UNITS = {
    "b": 1,
    "kb": 10**3, "mb": 10**6, "gb": 10**9, "tb": 10**12,
    "kib": 1024, "mib": 1024**2, "gib": 1024**3, "tib": 1024**4,
}


def parse_size(size) -> int:
    """F3 size parse: human-readable size string -> integer bytes
    (reference analog: ``bids2table/utils.py:293-320``, consumed by the
    writer's ``partition_size="64 MiB"`` flush bound, ``writer.py:45``).
    Accepts decimal (KB/MB/GB/TB) and binary (KiB/MiB/GiB/TiB) units,
    case-insensitive, optional whitespace, float magnitudes, or a plain
    int/number (already bytes)."""
    import re

    if isinstance(size, (int, float)):
        return int(size)
    m = re.fullmatch(r"\s*([0-9]*\.?[0-9]+)\s*([a-zA-Z]*)\s*", str(size))
    if not m:
        raise ValueError(f"unparseable size {size!r}")
    num, unit = float(m.group(1)), m.group(2).lower()
    if unit and unit not in _SIZE_UNITS:
        raise ValueError(
            f"size {size!r}: unknown unit {m.group(2)!r} "
            f"(expected one of {', '.join(sorted(_SIZE_UNITS))})"
        )
    return int(num * _SIZE_UNITS.get(unit, 1))


def format_size(n: int | float, binary: bool = True) -> str:
    """F3 inverse: bytes -> best-unit human string (reference
    ``detect_size_units``, ``bids2table/utils.py:322-339``)."""
    step = 1024 if binary else 1000
    units = ["B", "KiB", "MiB", "GiB", "TiB"] if binary else ["B", "KB", "MB", "GB", "TB"]
    v = float(n)
    for u in units[:-1]:
        if abs(v) < step:
            return f"{v:.0f} {u}" if u == "B" else f"{v:.2f} {u}"
        v /= step
    return f"{v:.2f} {units[-1]}"


def pack_ndarray(col, ndim: int = 2) -> Column:
    """N-D array -> ``struct{data: flat values, shape: array<long>}`` — the
    reference's ndarray extension storage layout
    (``bids2table/extensions/ndarray.py:50-57``) as a Catalyst expression.

    The struct encodes through the normal flatten path (two list leaf
    columns + a validity leaf); rectangularity is the caller's contract,
    exactly as in the reference (ragged rows decode incorrectly, so assert
    upstream).  NULL input -> NULL struct."""
    c = col if isinstance(col, Column) else F.col(col)
    flat = c
    for _ in range(ndim - 1):
        flat = F.flatten(flat)
    # per-level size = first element's length at that level (rectangular);
    # an empty outer level makes the inner sizes 0, not null
    inner = c
    sizes = [F.size(c).cast("long")]
    for _ in range(ndim - 1):
        inner = F.try_element_at(inner, F.lit(1))  # ANSI element_at throws on []
        sizes.append(F.coalesce(F.size(inner).cast("long"), F.lit(0).cast("long")))
    return F.when(
        c.isNotNull(),
        F.struct(flat.alias("data"), F.array(*sizes).alias("shape")),
    )


def unpack_ndarray(col, ndim: int = 2) -> Column:
    """Inverse of :func:`pack_ndarray` for any rank: ``struct{data, shape}``
    -> N nested arrays by recursive strided slicing (the reference ndarray
    is arbitrary-rank, ``bids2table/extensions/ndarray.py:50-74``).

    Level ``k`` rebuilds ``shape[k]`` blocks of stride
    ``prod(shape[k+1:])`` from the flat data.  ``sequence(0, d-1)`` counts
    DOWN when ``d = 0``, so every level runs ``sequence`` over
    ``max(d, 1)`` and then ``slice(_, 1, d)`` — for an empty dim the one
    speculative body evaluation slices past the (empty) data, which
    returns ``[]`` of the right type, and the outer slice drops it."""
    if ndim < 1:
        raise ValueError("unpack_ndarray: ndim must be >= 1")
    c = col if isinstance(col, Column) else F.col(col)
    data = c.getField("data")
    shape = c.getField("shape")
    dims = [F.element_at(shape, i + 1).cast("int") for i in range(ndim)]

    def build(level: int, offset):
        if level == ndim - 1:
            return F.slice(data, offset + 1, dims[level])
        stride = dims[level + 1]
        for d in dims[level + 2 :]:
            stride = stride * d
        inner = F.transform(
            F.sequence(F.lit(0), F.greatest(dims[level], F.lit(1)) - 1),
            lambda i: build(level + 1, offset + i * stride),
        )
        return F.slice(inner, 1, dims[level])

    if ndim == 1:
        return F.when(c.isNotNull(), F.slice(data, 1, dims[0]))
    return F.when(c.isNotNull(), build(0, F.lit(0)))
