"""Output checks: order-insensitive result fingerprints and the
per-run bookkeeping that turns a mismatch into a failed op.

Two fingerprints exist because two consume rules exist:

- ``rows_fingerprint`` hashes collected rows on the driver. Cells are
  normalized the way the engine's DuckDB differential harness does,
  except that floating-point values are compared at 10 significant
  digits: Spark's double sums depend on shuffle fetch order in their
  last bits, which is not a wrong answer.
- ``spark_fingerprint`` is the executor-side form for results with one
  row per entity: ``count`` plus the wrapping sum of ``xxhash64`` over
  every column (doubles rounded to 6 decimals), so one row crosses
  py4j while every column is still evaluated.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal


def _cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.10g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return _cell(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def rows_fingerprint(cols: list[str], rows) -> tuple[int, str]:
    """(row count, hex digest) of a result, independent of row order
    and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(sorted(cols)).encode())
    for line in normed:
        h.update(b"\x1d" + line.encode())
    return len(normed), h.hexdigest()[:16]


def spark_fingerprint(df) -> tuple[int, str]:
    """Executor-side (row count, hash) of a DataFrame; see module doc."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    def norm(field):
        c = F.col(f"`{field.name}`")
        t = field.dataType
        if isinstance(t, (DoubleType, FloatType)):
            return F.round(c.cast("double"), 6)
        if isinstance(t, ArrayType) and isinstance(t.elementType, (DoubleType, FloatType)):
            return F.transform(c, lambda x: F.round(x.cast("double"), 6))
        return c

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[norm(f) for f in df.schema.fields])).alias("h"),
    ).collect()[0]
    return int(row["n"]), f"x{(row['h'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"


class Checker:
    """Per-run output bookkeeping.

    ``observe`` records one op's fingerprint: the first op of a type
    sets the reference, and any later op that differs fails. ``expect``
    compares a type's reference with an independent source (the DuckDB
    oracle, a read-back count); a mismatch fails every op of that type,
    since each one reproduced the wrong answer."""

    def __init__(self) -> None:
        self.reference: dict[str, tuple] = {}
        self.ops: dict[str, list[int]] = {}
        self.failed: set[int] = set()
        self.notes: dict[str, str] = {}

    def observe(self, op_id: int, name: str, fp: tuple) -> bool:
        self.ops.setdefault(name, []).append(op_id)
        ref = self.reference.setdefault(name, fp)
        if fp != ref:
            self.failed.add(op_id)
            self.notes[name] = f"op {op_id} gave {fp}, first op gave {ref}"
            return False
        return True

    def fail(self, op_id: int, name: str, why: str) -> None:
        self.ops.setdefault(name, []).append(op_id)
        self.failed.add(op_id)
        self.notes[name] = why

    def expect(self, name: str, expected: tuple, source: str, got: tuple | None = None) -> bool:
        """``got`` defaults to the type's reference fingerprint; pass it
        when the comparable form differs (e.g. rows collected untimed
        for a type consumed executor-side)."""
        if got is None:
            got = self.reference.get(name)
        if got == expected:
            note = self.notes.get(name)
            if note is None or note.startswith("matches"):
                self.notes[name] = f"{note} and {source}" if note else f"matches {source}"
            return True
        self.failed.update(self.ops.get(name, []))
        self.notes[name] = f"{source} gave {expected}, ops gave {got}"
        return False
