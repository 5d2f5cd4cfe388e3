"""Output checks, run outside the timed window. Each returns a list of
failure strings (empty when the output is right); an operation with any
failure counts once in `fail_ratio`.

The references are independent of the code under test: TPC-H answers
come from the registry's oracle SQL in DuckDB, near-duplicate pairs are
re-scored in Python, and `run_greatest` is recomputed from Spark's
documented semantics.
"""

from __future__ import annotations

import datetime
import decimal
import math
import re

import numpy as np

FLOAT_REL_TOL = 1e-12  # a few ulps: q1's decimal->double casts differ by 1 ulp


# ---- TPC-H ---------------------------------------------------------------------

def _norm_cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(("n", f"{c:.6g}") if isinstance(c, (int, float)) and not isinstance(c, bool)
                 else ("s", str(c)) for c in row)


def _cells_equal(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=1e-9)
    return a == b


def normalize_result(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order, cells made comparable across
    engines (Decimal -> float, dates -> ISO text), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=_sort_key)


def compare_result(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Both sides already normalized. Float cells may differ by a few ulps."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_cells_equal(a, b) for a, b in zip(g, w)):
            return [f"{name}: row {i} differs: {g!r} vs oracle {w!r}"]
    return []


# ---- near-duplicate pairs ------------------------------------------------------------

def shingles(text: str, k: int = 3) -> frozenset[str]:
    """k-word shingles of the lowercased text, as the dedup operators
    define them: texts shorter than k tokens give one shingle."""
    toks = re.split(r" +", (text or "").lower())
    return frozenset(" ".join(toks[i:i + k]) for i in range(max(len(toks) - k, 0) + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


_POPCOUNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def hamming_to_all(fp: int, others: np.ndarray) -> np.ndarray:
    """Hamming distance from one 64-bit fingerprint to an int64 array."""
    x = np.bitwise_xor(others, np.int64(fp)).view(np.uint8).reshape(-1, 8)
    return _POPCOUNT[x].sum(axis=1)


def close_pairs(fps: dict[int, int], left: list[int], right: list[int],
                max_hamming: int) -> set[tuple[int, int]]:
    """Every (l, r) with l in `left`, r in `right`, l != r and Hamming
    distance <= max_hamming, by brute force. When left and right are the
    same list, pairs come out once as (min, max)."""
    same = left is right
    r_ids = np.array(right, dtype=np.int64)
    r_fps = np.array([fps[r] for r in right], dtype=np.int64)
    out = set()
    for i, lid in enumerate(left):
        lo = i + 1 if same else 0
        d = hamming_to_all(fps[lid], r_fps[lo:])
        for j in np.nonzero(d <= max_hamming)[0]:
            rid = int(r_ids[lo + j])
            if rid != lid:
                out.add((min(lid, rid), max(lid, rid)) if same else (lid, rid))
    return out


def check_jaccard_pairs(name: str, pairs: list[tuple[int, int, float]],
                        sh: dict[int, frozenset], threshold: float) -> list[str]:
    """Every reported pair's Jaccard, recomputed, matches and passes."""
    for a, b, jac in pairs:
        j = jaccard(sh[a], sh[b])
        if abs(j - jac) > 1e-9 or j < threshold:
            return [f"{name}: pair ({a},{b}) reported jaccard {jac}, exact {j}"]
    return []


def check_hamming_pairs(name: str, pairs: list[tuple[int, int, int]],
                        fps: dict[int, int], max_hamming: int) -> list[str]:
    for a, b, h in pairs:
        exact = bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")
        if exact != h or exact > max_hamming:
            return [f"{name}: pair ({a},{b}) reported hamming {h}, exact {exact}"]
    return []


def check_pair_set(name: str, got: set, want: set, exact: bool) -> list[str]:
    """`got` must hold every pair of `want`, and nothing else when exact."""
    missed, extra = want - got, got - want
    if missed or (exact and extra):
        return [f"{name}: missed {len(missed)} of {len(want)} expected pairs"
                + (f", {len(extra)} unexpected" if exact and extra else "")]
    return []


# ---- run_greatest -------------------------------------------------------------------

def greatest_reference(columns: list[list]) -> list:
    """Spark's `greatest` per row: NULLs skipped, all-NULL gives None,
    NaN above every number, booleans widened to int when mixed with
    numbers, dates widened to midnight timestamps beside timestamps,
    ints widened to float beside floats."""
    flat = [v for c in columns for v in c if v is not None]
    has_float = any(isinstance(v, float) for v in flat)
    has_ts = any(isinstance(v, datetime.datetime) for v in flat)
    all_int = all(isinstance(v, int) for v in flat)  # bool is an int
    out = []
    for row in zip(*columns):
        vals = [v for v in row if v is not None]
        if not vals:
            out.append(None)
            continue
        if has_ts:
            vals = [v if isinstance(v, datetime.datetime)
                    else datetime.datetime(v.year, v.month, v.day) for v in vals]
        elif has_float:
            vals = [float(v) for v in vals]
            if any(math.isnan(v) for v in vals):
                out.append(float("nan"))
                continue
        elif all_int:
            vals = [int(v) for v in vals]
        out.append(max(vals))
    return out


def check_greatest(name: str, got: list, want: list) -> list[str]:
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, reference has {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        same = (g is None and w is None) or (
            g is not None and w is not None and type(g) is type(w)
            and (g == w or (isinstance(g, float) and math.isnan(g) and math.isnan(w))))
        if not same:
            return [f"{name}: row {i} got {g!r}, reference {w!r}"]
    return []
