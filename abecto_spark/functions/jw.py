"""Batch-vectorized Jaro-Winkler similarity.

Replaces the reference's trie-based matcher (external lib
``similarity.jarowinkler``, used by `JaroWinklerMappingProcessor.java:81-88`)
with a numpy implementation that scores a whole Arrow batch of candidate
string pairs at once — no per-row Python in the hot loop (the north rule).
The one caller is the JW linking scorer
(``operators/jw_mapping._score_buckets_duckdb``): DuckDB's C++ JW scores
what it provably agrees on (ASCII pairs at thresholds above 0.82), and
this kernel scores every other candidate pair.

Semantics: classic Jaro similarity (match window ``max(|a|,|b|)/2 - 1``,
first-free-match marking, transposition count) plus the Winkler prefix
boost ``jw = j + l·0.1·(1-j)`` with ``l`` = common prefix length capped at
4, applied unconditionally. Equal strings score 1.0; a zero-match pair
scores 0.0.

The batch algorithm runs O(L·W) vectorized numpy passes over the whole
batch (L = max string length, W = max window), which beats per-pair Python
by ~2 orders of magnitude for realistic label lengths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WINKLER_P = 0.1
WINKLER_MAX_PREFIX = 4


def jaro_winkler_ref(a: str, b: str) -> float:
    """Scalar reference implementation (used by tests/hypothesis only)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    w = max(la, lb) // 2 - 1
    used_b = [False] * lb
    matched_a = []
    for i, ca in enumerate(a):
        lo, hi = max(0, i - w), min(lb - 1, i + w)
        for j in range(lo, hi + 1):
            if not used_b[j] and b[j] == ca:
                used_b[j] = True
                matched_a.append(i)
                break
    m = len(matched_a)
    if m == 0:
        return 0.0
    b_matched = [b[j] for j in range(lb) if used_b[j]]
    t = sum(1 for i, j in zip(matched_a, range(m)) if a[i] != b_matched[j]) // 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    prefix = 0
    for ca, cb in zip(a, b):
        if ca != cb or prefix >= WINKLER_MAX_PREFIX:
            break
        prefix += 1
    return jaro + prefix * WINKLER_P * (1.0 - jaro)


def _encode(strings: "pd.Series", width: int) -> tuple[np.ndarray, np.ndarray]:
    """(N, width) uint32 codepoint matrix + lengths, fully vectorized."""
    arr = strings.fillna("").to_numpy(dtype=f"U{max(width, 1)}")
    lengths = np.char.str_len(arr).astype(np.int64)
    codes = arr.view(np.uint32).reshape(len(arr), -1)[:, :width] if width else (
        np.zeros((len(arr), 0), np.uint32)
    )
    return codes, lengths


def jaro_winkler_batch(s1: pd.Series, s2: pd.Series) -> np.ndarray:
    s1 = pd.Series(s1).fillna("")
    s2 = pd.Series(s2).fillna("")
    n = len(s1)
    if n == 0:
        return np.zeros(0)
    l1 = s1.str.len().to_numpy(dtype=np.int64)
    l2 = s2.str.len().to_numpy(dtype=np.int64)
    width = int(max(l1.max(initial=0), l2.max(initial=0)))
    if width == 0:
        return np.where((l1 == 0) & (l2 == 0), 1.0, 0.0)
    a, la = _encode(s1, width)
    b, lb = _encode(s2, width)
    # the kernel is memory-bandwidth-bound (dozens of vector passes over
    # the code matrices); Latin-1-only batches drop to uint8 — 4x less
    # bus traffic, which is what lets the scorer scale past ~8 cores
    if (a.max(initial=0) < 256) and (b.max(initial=0) < 256):
        a = a.astype(np.uint8)
        b = b.astype(np.uint8)

    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    wmax = int(w.max(initial=0))
    lmax = int(la.max(initial=0))

    matched_a = np.zeros((n, width), dtype=bool)
    used_b = np.zeros((n, width), dtype=bool)
    for i in range(lmax):
        active = i < la
        lo = np.maximum(i - w, 0)
        hi = np.minimum(i + w, lb - 1)
        found = np.zeros(n, dtype=bool)
        ai = a[:, i]
        for j in range(max(0, i - wmax), min(width, i + wmax + 1)):
            ok = (
                active
                & ~found
                & (j >= lo)
                & (j <= hi)
                & ~used_b[:, j]
                & (b[:, j] == ai)
            )
            if ok.any():
                used_b[ok, j] = True
                matched_a[ok, i] = True
                found |= ok
    m = matched_a.sum(axis=1)

    # transpositions: compare matched chars of a (in a-order) with used
    # chars of b (in b-order); stable argsort packs matched positions first
    order_a = np.argsort(~matched_a, axis=1, kind="stable")
    order_b = np.argsort(~used_b, axis=1, kind="stable")
    ga = np.take_along_axis(a, order_a, axis=1)
    gb = np.take_along_axis(b, order_b, axis=1)
    pos = np.arange(width)[None, :]
    t = ((ga != gb) & (pos < m[:, None])).sum(axis=1) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / la + m / lb + (m - t) / np.maximum(m, 1)) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)
    jaro = np.where((la == 0) | (lb == 0), 0.0, jaro)

    # Winkler prefix boost
    prefix = np.zeros(n, dtype=np.int64)
    running = np.ones(n, dtype=bool)
    for i in range(min(WINKLER_MAX_PREFIX, width)):
        eq = running & (i < la) & (i < lb) & (a[:, i] == b[:, i])
        prefix += eq
        running &= eq
    jw = jaro + prefix * WINKLER_P * (1.0 - jaro)
    # exact equality fast-path (empty==empty handled above)
    eq_all = (l1 == l2) & ((a == b) | (pos >= l1[:, None])).all(axis=1)
    jw = np.where(eq_all, 1.0, jw)
    return jw
