"""Helpers shared by the workloads: result comparison and run context."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import random
from dataclasses import dataclass, field
from decimal import Decimal


@dataclass
class Context:
    spark: object
    seed: int
    sf_dir: str  # read_mix dataset
    batch_dir: str  # batch_analytics dataset
    run_dir: str  # scratch space inside the checkout, removed at exit
    cache_dir: str  # kept across runs: oracle answers for the fixed dataset
    smoke: bool
    rng: random.Random = field(init=False)

    def __post_init__(self):
        self.rng = random.Random(self.seed)


def norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def close(a, b) -> bool:
    if a == b:
        return True
    if isinstance(a, (float, int)) and isinstance(b, (float, int)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(close(x, y) for x, y in zip(a, b))
    return False


def rows_equal(got: list[dict], want: list[dict], ordered: bool = True) -> bool:
    """Same columns and, row by row, the same values (floats to 1e-9)."""
    if len(got) != len(want):
        return False
    if not got:
        return True
    cols = sorted(want[0])
    if any(sorted(r) != cols for r in got):
        return False
    g = [tuple(norm(r[c]) for c in cols) for r in got]
    w = [tuple(norm(r[c]) for c in cols) for r in want]
    if not ordered:
        g, w = sorted(g, key=repr), sorted(w, key=repr)
    return all(close(a, b) for a, b in zip(g, w))


def rows_hash(rows: list[dict]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(sorted((k, norm(v)) for k, v in r.items())).encode())
    return h.hexdigest()
