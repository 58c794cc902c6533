"""Correctness checks that do not use Spark.

Each ``check_*`` function compares a workload's outputs with an
independent computation (numpy, pyarrow, ``collections.Counter`` or
DuckDB) and returns a list of error strings; an empty list passes.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
import pandas as pd

# --- apps: HW1 and HW2 on points ------------------------------------------


def read_points(path: str) -> np.ndarray:
    """The CSV as the apps see it: float32 parse, widened to float64."""
    xy = np.loadtxt(path, delimiter=",", dtype=np.float64, ndmin=2)
    return xy.astype(np.float32).astype(np.float64)


def exact_outlier_count(xy: np.ndarray, d: float, m: int) -> int:
    """Number of points with at most ``m`` points (self included) at
    distance < ``d``, by a grid of side ``d`` and a per-candidate
    brute-force count over the 3×3 neighbouring cells.

    Points whose cell of side ``0.7·d`` holds more than ``m`` points
    are inliers without counting (every pair in such a cell is closer
    than ``0.7·√2·d < d``)."""
    fine = np.floor(xy / (0.7 * d)).astype(np.int64)
    _, inv, cnt = np.unique(fine, axis=0, return_inverse=True,
                            return_counts=True)
    cand = np.flatnonzero(cnt[inv.ravel()] <= m)
    if cand.size == 0:
        return 0
    cell = np.floor(xy / d).astype(np.int64)
    keys, inv = np.unique(cell, axis=0, return_inverse=True)
    inv = inv.ravel()
    order = np.argsort(inv, kind="stable")
    starts = np.searchsorted(inv[order], np.arange(len(keys) + 1))
    index = {(int(a), int(b)): i for i, (a, b) in enumerate(keys)}
    n_out = 0
    for p in cand:
        ci, cj = cell[p]
        near = [order[starts[k]:starts[k + 1]]
                for k in (index.get((int(ci) + di, int(cj) + dj))
                          for di in (-1, 0, 1) for dj in (-1, 0, 1))
                if k is not None]
        q = xy[np.concatenate(near)]
        dx, dy = xy[p, 0] - q[:, 0], xy[p, 1] - q[:, 1]
        if int(np.count_nonzero(dx * dx + dy * dy < d * d)) <= m:
            n_out += 1
    return n_out


def _field(lines: list[str], label: str) -> int:
    for line in lines:
        hit = re.fullmatch(rf"{re.escape(label)}\s*[=:]\s*(\d+)", line)
        if hit:
            return int(hit.group(1))
    raise ValueError(f"report has no {label!r} line")


def check_hw1(lines: list[str], n: int, exact_oracle: int) -> list[str]:
    """HW1 report: point count, exact count == numpy oracle, and
    sure ≤ exact ≤ sure + uncertain."""
    try:
        got_n = _field(lines, "Number of points")
        exact = _field(lines, "Number of Outliers")
        sure = _field(lines, "Number of sure outliers")
        unc = _field(lines, "Number of uncertain points")
    except ValueError as e:
        return [f"hw1: {e}"]
    errs = []
    if got_n != n:
        errs.append(f"hw1: {got_n} points read, {n} written")
    if exact != exact_oracle:
        errs.append(f"hw1: {exact} exact outliers, oracle says {exact_oracle}")
    if not sure <= exact <= sure + unc:
        errs.append(f"hw1: sure {sure} ≤ exact {exact} ≤ sure + uncertain "
                    f"{sure + unc} does not hold")
    return errs


def check_hw2(lines: list[str], n: int, planted: int) -> list[str]:
    """HW2 report: MRApprox at the MRFFT radius finds exactly the
    planted outliers as sure outliers and leaves nothing uncertain."""
    try:
        got_n = _field(lines, "Number of points")
        sure = _field(lines, "Number of sure outliers")
        unc = _field(lines, "Number of uncertain points")
    except ValueError as e:
        return [f"hw2: {e}"]
    errs = []
    if got_n != n:
        errs.append(f"hw2: {got_n} points read, {n} written")
    if sure != planted:
        errs.append(f"hw2: {sure} sure outliers, {planted} planted")
    if unc != 0:
        errs.append(f"hw2: {unc} uncertain points, expected 0")
    return errs


# --- apps: corpus pipeline ------------------------------------------------


def n_chunks(n_tokens: int, size: int, stride: int) -> int:
    """Chunk count of ``operators.textstats.token_chunks`` for a
    document of ``n_tokens`` tokens."""
    if n_tokens == 0:
        return 0
    return 1 + math.ceil(max(n_tokens - size, 0) / stride)


def check_corpus(out_doc_ids: list[int], doc_ids: list[int], texts: list[str],
                 clusters: list[list[int]], size: int, stride: int) -> list[str]:
    """Every planted cluster keeps exactly one member, no unplanted
    document is dropped, and the number of output chunks equals the
    recount over the surviving documents."""
    survivors = set(out_doc_ids)
    errs = []
    bad = [c for c in clusters if len(survivors.intersection(c)) != 1]
    if bad:
        errs.append(f"corpus: {len(bad)} of {len(clusters)} planted clusters "
                    f"do not keep exactly one survivor, e.g. {bad[0]}")
    planted = {i for c in clusters for i in c}
    lost = [i for i in doc_ids if i not in planted and i not in survivors]
    if lost:
        errs.append(f"corpus: {len(lost)} unplanted documents dropped, "
                    f"e.g. {lost[:3]}")
    ntok = {i: len([w for w in t.split(" ") if w]) for i, t in zip(doc_ids, texts)}
    want = sum(n_chunks(ntok[i], size, stride) for i in survivors if i in ntok)
    if len(out_doc_ids) != want:
        errs.append(f"corpus: {len(out_doc_ids)} chunks written, recount "
                    f"from survivors gives {want}")
    return errs


# --- apps: HW3 item stream -------------------------------------------------


def check_stream(histogram: dict[int, int], items: list[int], planted: list[int],
                 phi: float, sticky_table: dict[int, int], sticky: list[int],
                 sticky_thr: float) -> list[str]:
    """Exact histogram == Counter(items); the true frequent set (count
    ≥ phi·n) == the planted items; sticky sampling admitted every
    planted item, counts no item above its true count, and reports
    exactly the table entries at or above its threshold.

    Sticky sampling admits an unseen item with probability r/n, so a
    planted item can be admitted late and reported below the threshold
    (probability ≤ δ·phi per item, a few per cent of seeds at the
    workload's settings). Not being admitted at all over its thousands
    of occurrences has probability ~1e-5, so that counts as a failure."""
    errs = []
    truth = Counter(items)
    if histogram != truth:
        diff = sum(1 for k in truth.keys() | histogram.keys()
                   if truth.get(k) != histogram.get(k))
        errs.append(f"stream: histogram differs from Counter(items) on {diff} items")
    thr = phi * len(items)
    frequent = sorted(k for k, v in histogram.items() if v >= thr)
    if frequent != sorted(planted):
        errs.append(f"stream: true-frequent set {frequent} != planted {sorted(planted)}")
    missing = sorted(set(planted) - set(sticky_table))
    if missing:
        errs.append(f"stream: sticky sampling never admitted planted items {missing}")
    over = sorted(k for k, v in sticky_table.items() if not 1 <= v <= truth.get(k, 0))
    if over:
        errs.append(f"stream: sticky counts outside [1, true count] for items {over[:5]}")
    if sorted(sticky) != sorted(k for k, v in sticky_table.items() if v >= sticky_thr):
        errs.append("stream: sticky report != table entries at or above its threshold")
    return errs


# --- query_mix ---------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(list(v)) if isinstance(v, np.ndarray)
                              else v)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def check_query(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive exact comparison on sorted column names."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    g, w = _normalize(got), _normalize(want)
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows, oracle has {len(w)}"]
    try:
        pd.testing.assert_frame_equal(g, w, check_exact=True, check_dtype=False)
    except AssertionError as e:
        return [f"{name}: values differ from oracle: {str(e).splitlines()[0]}"]
    return []
