"""Arrow-vectorized Pandas UDFs.

NOTE: deliberately NO ``from __future__ import annotations`` here --
pandas_udf resolves the type hints at definition time, and stringified
hints (PEP 563) break its signature inspection.
"""

import re

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

# Java's \s is ASCII-only ([ \t\n\x0B\f\r]); Python's \s is Unicode-aware by
# default, so re.ASCII keeps the tokenization identical to Spark's
# split(text, '\\s+') (functions.textfns.tokens).
_WS_ASCII = re.compile(r"\s+", re.ASCII)


def make_word_ngrams(n: int):
    """Arrow-batched word-n-gram shingler -- byte-identical output to
    textfns.word_ngrams (split on ASCII \\s+, drop empties, space-joined
    n-grams, first-occurrence-order distinct, [] under n tokens).

    Exists because Spark's higher-order array expressions
    (sequence/transform/element_at) run INTERPRETED, ~1.8 ms/doc for
    3-gram shingling; this kernel does the same work in ~20 us/doc and
    ships results back as one Arrow batch.
    """

    @pandas_udf("array<string>")
    def _ngrams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = [w for w in _WS_ASCII.split(t)] if t is not None else []
            toks = [w for w in toks if w]
            if len(toks) >= n:
                # dict keys: distinct, first-occurrence order (= array_distinct)
                out.append(list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))))
            else:
                out.append([])
        return pd.Series(out)

    return _ngrams


# ---------------------------------------------------------------------------
# Exact-sequential vector kernels.
#
# The ANN/dedup model-scoring hot paths need BOTH throughput and bit-exact
# cross-engine replay.  Catalyst can't give both: higher-order array folds
# run interpreted (~10-100x slow), and statically-unrolled expression chains
# blow Janino's 64 KB method limit, so whole-stage codegen pays a failed
# compile and falls back interpreted anyway (measured: s2 6-8x slower).
#
# These kernels get both by vectorizing over ROWS while iterating
# sequentially over DIMS: ``acc = acc + A[:, i] * B[:, i]`` runs one
# correctly-rounded IEEE add/mul per element per step, so every row's
# scalar result is the exact left-to-right fold
# ``((0 + a1*b1) + a2*b2) + ...`` that the generic HOF form computes and
# the DuckDB oracles replay (machine-checked: s2-s5/d9/r1 hash-exact).
# Batches cross the Python boundary once as Arrow; the arithmetic is
# numpy-vectorized C.
# ---------------------------------------------------------------------------


def _as_matrix(v: pd.Series) -> np.ndarray:
    return np.vstack([np.asarray(x, dtype=np.float64) for x in v])


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-row exact sequential dot: left-to-right over dims."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        acc = acc + a[:, i] * b[:, i]
    return acc


def _seq_dot_lit(a: np.ndarray, vec) -> np.ndarray:
    """Per-row exact sequential dot against a literal vector."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i, comp in enumerate(vec):
        acc = acc + a[:, i] * np.float64(comp)
    return acc


def _seq_sq_l2_lit(a: np.ndarray, vec, offset: int = 0) -> np.ndarray:
    """Per-row exact sequential squared-L2 against a literal vector."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i, comp in enumerate(vec):
        d = a[:, offset + i] - np.float64(comp)
        acc = acc + d * d
    return acc


def make_cosine_seq():
    """cos(a, b) with all three folds exact-sequential (bit-identical to
    the zip_with/aggregate HOF form and the DuckDB list_transform chain)."""

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        av, bv = _as_matrix(a), _as_matrix(b)
        return pd.Series(_seq_dot(av, bv) / (np.sqrt(_seq_dot(av, av)) * np.sqrt(_seq_dot(bv, bv))))

    return _cos


def make_hyperplane_sig(planes):
    """LSH signature: bit p = (v . plane_p) >= 0 over literal hyperplanes
    (num_planes x dim, captured in the closure).  Dots are exact-sequential;
    the bit packing is integer arithmetic (order-free)."""
    planes = [list(map(float, p)) for p in planes]

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        m = _as_matrix(v)
        sig = np.zeros(m.shape[0], dtype=np.int64)
        for p, plane in enumerate(planes):
            sig |= (_seq_dot_lit(m, plane) >= 0).astype(np.int64) << p
        return pd.Series(sig)

    return _sig


def _cell_order(m: np.ndarray, cents) -> np.ndarray:
    """(n, num_cells) argsort by (dot DESC, cell ASC): stable argsort on the
    negated exact-sequential dots -- ties on bit-identical doubles keep
    ascending cell order, matching the engines' struct-sort tiebreak."""
    scores = np.column_stack([_seq_dot_lit(m, c) for c in cents])
    return np.argsort(-scores, axis=1, kind="stable")


def make_kmeans_assign(cents):
    """Nearest-centroid cell by squared-L2 (dist ASC, cell ASC tiebreak),
    exact-sequential -- bit-identical to the interpreted
    zip_with/aggregate fold in clustering._sq_l2 + array_min struct pick
    (equivalence-tested in tests/test_properties.py).  np.argmin's
    first-occurrence-of-min rule IS the ascending-cell tiebreak."""
    cents = [list(map(float, c)) for c in cents]

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        m = _as_matrix(v)
        d = np.column_stack([_seq_sq_l2_lit(m, c) for c in cents])
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return _assign


def make_cell_top1(cents):
    """Nearest-cell assignment (dot DESC, cell ASC tiebreak), exact."""
    cents = [list(map(float, c)) for c in cents]

    @pandas_udf("int")
    def _top1(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(_cell_order(_as_matrix(v), cents)[:, 0].astype("int32"))

    return _top1


def make_cell_probe(cents, nprobe: int):
    """Top-``nprobe`` probe cells per query (dot DESC, cell ASC), exact."""
    cents = [list(map(float, c)) for c in cents]

    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        order = _cell_order(_as_matrix(v), cents)[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return _probe


def make_pq_recon(book, sub: int):
    """PQ encode + reconstruct: per subspace m, the nearest codeword by
    exact-sequential squared-L2 (ties to the smallest codeword id --
    np.argmin's first-minimum IS that tiebreak), then the codeword
    literals concatenated back into the reconstructed vector."""
    book = [[list(map(float, code)) for code in codes] for codes in book]

    @pandas_udf("array<double>")
    def _recon(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        m = _as_matrix(v)
        parts = []
        for msub, codes in enumerate(book):
            dists = np.column_stack([_seq_sq_l2_lit(m, code, offset=msub * sub) for code in codes])
            pick = np.argmin(dists, axis=1)
            codearr = np.asarray(codes, dtype=np.float64)
            parts.append(codearr[pick])
        recon = np.hstack(parts)
        return pd.Series(list(recon))

    return _recon


def make_char_window_hashes(span_len: int):
    """Arrow-batched stride-1 char-window md5s over ALREADY-NORMALIZED text
    -- byte-identical to the Catalyst transform(sequence, unhex(md5(substr)))
    form in dedup.duplicated_span_removal (Python str slicing and Spark
    substr both index code points; md5 runs over UTF-8 either way).
    16-byte binary digests, not 32-char hex: the window table is the
    dominant shuffle of span removal and the digest never reaches results.

    Exists for the same reason as make_word_ngrams: the interpreted HOF
    costs ~ms/doc while hashlib's C md5 does the same windows in ~us/doc.
    Returns [] for texts shorter than span_len (mirrors the where-guard).
    """
    import hashlib

    @pandas_udf("array<binary>")
    def _win_hashes(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None or len(t) < span_len:
                out.append([])
                continue
            enc = t.encode("utf-8")
            if len(enc) == len(t):  # pure ASCII: slice bytes, no re-encode
                out.append([hashlib.md5(enc[i : i + span_len]).digest() for i in range(len(t) - span_len + 1)])
            else:
                out.append(
                    [hashlib.md5(t[i : i + span_len].encode("utf-8")).digest() for i in range(len(t) - span_len + 1)]
                )
        return pd.Series(out)

    return _win_hashes
