"""Output checks, made outside the timed interval of each operation.

* ``/analyze``: a response is compared with ``pipeline.analyze`` called
  directly on the same request in the same run, and with the output
  ``record_golden.py`` recorded for that request (``golden_analyze.json``), after
  all pass through JSON. Floats are compared with a relative tolerance
  (two runs of one request differ in the last digits of some floats),
  everything else exactly.
* Batch queries: every operation's output carries an order-independent
  checksum, computed while it runs by ``DataFrame.observe`` next to the
  bench.py noop sink: the row count, a sum of per-row hashes of the
  non-floating columns (the row's key), and per floating column the sum,
  the sum of magnitudes and a sum weighted by the row's key hash, so a
  value attached to the wrong key changes the checksum.
  ``golden_batch.json`` holds the values ``record_golden.py`` recorded on the
  fixed batch tables.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import math
import os

REL_TOL = 1e-9
#: floating sums are compared to this share of the summed magnitudes
SUM_TOL = 1e-9
_HERE = os.path.dirname(os.path.abspath(__file__))
#: expected outputs on the fixed inputs, written by ``record_golden.py``
GOLDEN_ANALYZE = os.path.join(_HERE, "golden_analyze.json")
GOLDEN_BATCH = os.path.join(_HERE, "golden_batch.json")


def _json_default(value):
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    if isinstance(value, decimal.Decimal):
        return float(value)
    if hasattr(value, "item"):  # numpy scalar
        return value.item()
    raise TypeError(f"not JSON serializable: {type(value).__name__}")


def as_json(payload) -> object:
    """What a client would decode from ``payload`` sent as JSON."""
    return json.loads(json.dumps(payload, default=_json_default))


def _floats_match(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def mismatch(got, want, path: str = "$") -> str | None:
    """First place where ``got`` differs from ``want``, or None."""
    if isinstance(want, bool) or isinstance(got, bool):
        return None if got is want else f"{path}: {got!r} != {want!r}"
    if isinstance(want, (int, float)) and isinstance(got, (int, float)):
        if isinstance(want, int) and isinstance(got, int):
            return None if got == want else f"{path}: {got} != {want}"
        return None if _floats_match(float(got), float(want)) else f"{path}: {got!r} != {want!r}"
    if type(got) is not type(want):
        return f"{path}: {type(got).__name__} != {type(want).__name__}"
    if isinstance(want, dict):
        if got.keys() != want.keys():
            return f"{path}: keys {sorted(got)} != {sorted(want)}"
        for key in want:
            found = mismatch(got[key], want[key], f"{path}.{key}")
            if found:
                return found
        return None
    if isinstance(want, list):
        if len(got) != len(want):
            return f"{path}: length {len(got)} != {len(want)}"
        for i, (g, w) in enumerate(zip(got, want)):
            found = mismatch(g, w, f"{path}[{i}]")
            if found:
                return found
        return None
    return None if got == want else f"{path}: {got!r} != {want!r}"


# ---- batch checksums -----------------------------------------------------

_FLOATING = ("double", "float")
_HASH_MOD = 2**31 - 1


def checksum_columns(df):
    """Aggregate expressions of the checksum of ``df``'s output."""
    from pyspark.sql import functions as F

    exprs = [F.count(F.lit(1)).alias("rows")]
    hashed = [F.col(f"`{f.name}`") for f in df.schema.fields if f.dataType.typeName() not in _FLOATING]
    weight = None
    if hashed:
        # pmod keeps the sum far from overflowing a long
        key = F.pmod(F.xxhash64(*hashed), F.lit(_HASH_MOD))
        exprs.append(F.sum(key).alias("hash"))
        weight = key / F.lit(float(_HASH_MOD))  # in [0, 1), fixed per key
    for f in df.schema.fields:
        if f.dataType.typeName() in _FLOATING:
            col = F.col(f"`{f.name}`").cast("double")
            exprs.append(F.sum(col).alias(f"sum:{f.name}"))
            exprs.append(F.sum(F.abs(col)).alias(f"abs:{f.name}"))
            if weight is not None:
                exprs.append(F.sum(col * weight).alias(f"key:{f.name}"))
    return exprs


def _within(g, w, tol: float) -> bool:
    if g is None or w is None:
        return g is w
    if math.isnan(g) or math.isnan(w):
        return math.isnan(g) and math.isnan(w)
    return abs(g - w) <= tol


def checksum_mismatch(got: dict, want: dict) -> str | None:
    """Compare an observed checksum with its golden value."""
    if set(got) != set(want):
        return f"checksum fields {sorted(got)} != {sorted(want)}"
    for key, w in want.items():
        g = got[key]
        if key.startswith(("sum:", "abs:", "key:")):
            # every float sum is bounded by the sum of magnitudes
            scale = want["abs:" + key[4:]]
            if scale is None or math.isnan(scale):
                scale = 0.0
            ok = _within(g, w, SUM_TOL * scale + 1e-9)
        else:
            ok = g == w
        if not ok:
            return f"{key}: {g!r} != {w!r}"
    return None


def load_golden(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)
