"""Native geohash encoding — the reference's one nontrivial custom
scalar (`glue_job_clean_311.py:51-86`, duplicated in `Glue job to merge
311 Airbnb.py:36-71` and `airbnb_clean_data.py:79-120`), where it is a
row-at-a-time Python UDF. At 100 TB that UDF is the single worst
serialization hotspot in the pipeline (a Python round trip per row), so
here it is a pure Column/SQL arithmetic expression: Catalyst evaluates
it JVM-side — no Python workers at all.

Method: the classic per-bit bisection of the public geohash algorithm
is equivalent to quantizing longitude to ``ceil(5p/2)`` bits and
latitude to ``floor(5p/2)`` bits, interleaving the bits lon-first, and
emitting 5-bit groups as base32 chars. The interleave is a Morton
(Z-order) spread — five shift-or-mask steps per coordinate — rather
than 5p per-bit extractions: the naive 35-subexpression form evaluated
~6× slower because Catalyst does not reliably reuse the repeated
quantization subtrees. Intermediates are let-bound through 1-element
``transform`` lambdas so each spread step is evaluated exactly once
per row (see ``functions.text._let`` for the same pattern).

The only semantic difference vs bisection is at exact cell boundaries
(bisection with strict ``>`` assigns a boundary value to the lower
cell; quantization assigns it to the upper cell) — a measure-zero set
for real-valued coordinates; tests verify bit-exact agreement with the
bisection oracle on the synthetic inputs.

The SQL generator is dialect-rendered (Spark ``shiftleft``/``transform``
vs DuckDB ``<<``/``list_transform``) so the star-schema views and the
DuckDB oracle compute the identical column. It is the one Spark form:
DataFrame code takes it through ``F.expr(geohash_sql(...))``.
"""

from __future__ import annotations

from .. import dialect as D

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

# Morton spread: bit k of the input lands at bit 2k of the output.
# Standard magic-mask sequence for 32-bit inputs widened to 64.
_SPREAD_STEPS: list[tuple[int, int]] = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def encode_geohash_py(lat: float | None, lon: float | None, precision: int = 7) -> str | None:
    """Pure-Python bisection oracle (public geohash algorithm with the
    reference's strict-`>` boundary rule) — used only in tests."""
    if lat is None or lon is None:
        return None
    lat_range = [-90.0, 90.0]
    lon_range = [-180.0, 180.0]
    out: list[str] = []
    bits = 0
    bit = 0
    ch = 0
    while len(out) < int(precision):
        if bit % 2 == 0:
            mid = (lon_range[0] + lon_range[1]) / 2
            if lon > mid:
                ch |= 1 << (4 - bits)
                lon_range[0] = mid
            else:
                lon_range[1] = mid
        else:
            mid = (lat_range[0] + lat_range[1]) / 2
            if lat > mid:
                ch |= 1 << (4 - bits)
                lat_range[0] = mid
            else:
                lat_range[1] = mid
        bits += 1
        if bits == 5:
            out.append(BASE32[ch])
            bits = 0
            ch = 0
        bit += 1
    return "".join(out)


def _bit_counts(precision: int) -> tuple[int, int]:
    total = 5 * precision
    lon_bits = (total + 1) // 2  # even interleave positions, lon first
    lat_bits = total // 2
    return lon_bits, lat_bits


# ---- dialect-rendered SQL form -------------------------------------


def _shl(d: str, e: str, n: int) -> str:
    return f"shiftleft({e}, {n})" if d == D.SPARK else f"(({e}) << {n})"


def _shr(d: str, e: str, n: int) -> str:
    return f"shiftright({e}, {n})" if d == D.SPARK else f"(({e}) >> {n})"


def _let_sql(d: str, bound: str, var: str, body: str) -> str:
    """SQL let-binding via a 1-element-array lambda (evaluate ``bound``
    once, reference it as ``var`` inside ``body``)."""
    if d == D.SPARK:
        return f"element_at(transform(array({bound}), {var} -> {body}), 1)"
    return f"list_extract(list_transform([{bound}], {var} -> {body}), 1)"


def _spread_sql(d: str, e: str, prefix: str) -> str:
    out = e
    for i, (sh, mask) in enumerate(_SPREAD_STEPS):
        v = f"{prefix}{i}"
        out = _let_sql(d, out, v, f"(({v} | {_shl(d, v, sh)}) & {mask})")
    return out


def geohash_sql(lat_expr: str, lon_expr: str, precision: int = 7, dialect: str = D.SPARK) -> str:
    """Dialect-rendered SQL expression computing the geohash.

    NULL lat/lon → NULL geohash (explicit guard: ``least`` ignores NULL
    operands in both dialects, so NULL would otherwise quantize to the
    max cell and emit a junk geohash instead of NULL). Coordinates
    outside the geohash domain (|lat|>90, |lon|>180) also yield NULL —
    below-domain values would quantize negative and corrupt the
    bit-spread (shiftright on negatives).
    """
    d = dialect
    lon_bits, lat_bits = _bit_counts(precision)
    qlon = (
        f"least(cast(floor((({lon_expr}) + 180.0) / 360.0 * {1 << lon_bits}.0) as bigint), "
        f"{(1 << lon_bits) - 1})"
    )
    qlat = (
        f"least(cast(floor((({lat_expr}) + 90.0) / 180.0 * {1 << lat_bits}.0) as bigint), "
        f"{(1 << lat_bits) - 1})"
    )
    slon = _spread_sql(d, qlon, "ln")
    slat = _spread_sql(d, qlat, "lt")
    # Lon bits at even Morton positions (MSB is a lon bit), lat at odd.
    interleaved = f"(({slon}) | {_shl(d, f'({slat})', 1)})"
    chars = " || ".join(
        f"substr('{BASE32}', cast(({_shr(d, 'v', 5 * (precision - 1 - k))} & 31) as int) + 1, 1)"
        for k in range(precision)
    )
    emit = _let_sql(d, interleaved, "v", chars)
    return (
        f"(CASE WHEN ({lat_expr}) IS NULL OR ({lon_expr}) IS NULL "
        f"OR ({lat_expr}) < -90.0 OR ({lat_expr}) > 90.0 "
        f"OR ({lon_expr}) < -180.0 OR ({lon_expr}) > 180.0 "
        f"THEN NULL ELSE {emit} END)"
    )
