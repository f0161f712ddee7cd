"""Substring-duplicate pass (op 23, SURVEY.md §2.3): catch exact
near-containment that shingle-Jaccard misses (long shared substrings inside
otherwise-different documents — Lee et al., ACL 2022 semantics).

Not present in the reference library; mandated by BASELINE.json north_star
("a suffix-array-based substring-duplicate pass catches exact
near-containment the MinHash stage misses").

Distributed design (a monolithic corpus suffix array does not shard):

 1. **Candidate generation — winnowing** (Schleimer/Wilkerson/Aiken 2003):
    per document, hash all k-grams (rolling polynomial hash, numpy), then
    keep the minimum hash of every sliding window of w = min_len - k + 1
    consecutive k-grams (rightmost on ties).  THEOREM: two documents
    sharing a common substring of length >= min_len share at least one
    selected fingerprint — recall is guaranteed, with ~2/(w+1) of positions
    emitted instead of all of them.  Fingerprints shuffle by hash;
    candidate pairs come from the shared bucket self-join
    (``pairs._bucket_pairs``) with the same hot-bucket cap policy as the
    LSH stage.

 2. **Verification — suffix array**: for each candidate pair, the exact
    longest common substring is computed from the suffix array (prefix-
    doubling construction) + Kasai LCP of the two concatenated documents;
    pairs with LCS >= min_len are emitted with their exact match length.
    Runs batched inside mapInPandas; candidates are a tiny fraction of the
    corpus, so the per-pair O(n log n) cost is off the critical path.

Both stages are deterministic pure functions of the text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pairs import _bucket_census, _bucket_pairs, _verify_join

_BASE = np.uint64(1000003)
_K_DEFAULT = 16


def _norm_text_col(text):
    """Shared normalization: lowercase, collapse whitespace runs."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def _rolling_kgram_hashes(codes: np.ndarray, k: int) -> np.ndarray:
    """uint64 polynomial hashes of all k-grams of a codepoint array."""
    n = codes.size
    if n < k:
        return np.empty(0, dtype=np.uint64)
    # H[i] = sum_{j<k} c[i+j] * BASE^(k-1-j) mod 2^64 — k vectorized passes
    with np.errstate(over="ignore"):
        c = codes.astype(np.uint64)
        acc = np.zeros(n - k + 1, dtype=np.uint64)
        for j in range(k):
            acc += c[j : n - k + 1 + j] * _BASE ** np.uint64(k - 1 - j)
    return acc


def _winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    """Indices of winnowed fingerprints: rightmost minimum of each w-window
    (dedup'd).  Guarantees: every window contributes one index."""
    m = hashes.size
    if m == 0:
        return np.empty(0, dtype=np.int64)
    if m <= w:
        return np.array([int(np.flatnonzero(hashes == hashes.min())[-1])])
    # sliding window min via stride tricks (w windows is fine at doc scale)
    sw = np.lib.stride_tricks.sliding_window_view(hashes, w)
    # rightmost argmin: reverse, argmin, map back
    rev = sw[:, ::-1]
    right_argmin = w - 1 - rev.argmin(axis=1)
    picks = np.arange(sw.shape[0]) + right_argmin
    return np.unique(picks)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 64,
    k: int = _K_DEFAULT,
    windows: bool = False,
) -> DataFrame:
    """(id, pos, fp): winnowed k-gram fingerprints of the normalized text.
    Any >=min_len common substring between two docs yields a shared fp.

    windows=True additionally emits (lw, rw): the <= min_len normalized
    chars immediately BEFORE pos and the min_len chars FROM pos.  These
    windows make the anchor-extension test local: the maximal common
    substring through an aligned anchor is >= min_len iff
    common_suffix(lw_a, lw_b) + common_prefix(rw_a, rw_b) >= min_len
    (capping each extension side at min_len preserves the >= min_len
    verdict: if the true run reaches min_len, either one capped side
    saturates or both are below the cap and exact).  substring_pairs uses
    this to verify candidates on ~2*min_len chars per anchor instead of
    joining full document texts per candidate pair."""
    w = min_len - k + 1
    if w < 1:
        raise ValueError("min_len must be >= k")
    base = df.select(F.col(id_col), _norm_text_col(F.col(text_col)).alias("_t"))
    out_schema = f"{base.schema[id_col].dataType.simpleString()}"
    schema = f"{id_col} {out_schema}, pos long, fp long"
    if windows:
        schema += ", lw string, rw string"

    def _gen(batches):
        for pdf in batches:
            ids, poss, fps = [], [], []
            lws: list[str] = []
            rws: list[str] = []
            for iid, t in zip(pdf[id_col], pdf["_t"]):
                if t is None:
                    continue
                codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                hs = _rolling_kgram_hashes(codes, k)
                idx = _winnow(hs, w)
                if idx.size == 0:
                    continue
                ids.extend([iid] * idx.size)
                poss.extend(idx.tolist())
                fps.extend(hs[idx].view(np.int64).tolist())
                if windows:
                    for p in idx.tolist():
                        lws.append(t[max(0, p - min_len) : p])
                        rws.append(t[p : p + min_len])
            out = {id_col: ids, "pos": poss, "fp": fps}
            if windows:
                out["lw"] = lws
                out["rw"] = rws
            yield pd.DataFrame(out)

    return base.mapInPandas(_gen, schema)


def _pad_codes(col, length: int, align_right: bool, fill: int) -> np.ndarray:
    """(n, length) uint32 codepoint matrix of a string sequence (each
    string <= length chars), padded with `fill`; one encode call for the
    whole column (no per-row Python)."""
    n = len(col)
    out = np.full((n, length), fill, dtype=np.uint32)
    if n == 0:
        return out
    strs = list(col)
    lens = np.fromiter(map(len, strs), dtype=np.int64, count=n)
    codes = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
    if codes.size == 0:
        return out
    starts = np.cumsum(lens) - lens
    rows = np.repeat(np.arange(n), lens)
    offs = np.arange(codes.size) - np.repeat(starts, lens)
    cols = length - np.repeat(lens, lens) + offs if align_right else offs
    out[rows, cols] = codes
    return out


def _anchor_hits(
    lw_a, rw_a, lw_b, rw_b, min_len: int
) -> np.ndarray:
    """Vectorized anchor-extension test for a batch of aligned anchors:
    True where common_suffix(lw_a, lw_b) + common_prefix(rw_a, rw_b)
    >= min_len — exactly _extend_at(...) >= min_len (see
    winnow_fingerprints docstring for the capping argument).  Distinct
    fill sentinels per side keep padding from ever comparing equal."""
    L = min_len
    la = _pad_codes(lw_a, L, True, 0xFFFF0001)
    lb = _pad_codes(lw_b, L, True, 0xFFFF0002)
    neq = la != lb
    rev = neq[:, ::-1]
    has = rev.any(axis=1)
    csuf = np.where(has, rev.argmax(axis=1), L)
    ra = _pad_codes(rw_a, L, False, 0xFFFF0001)
    rb = _pad_codes(rw_b, L, False, 0xFFFF0002)
    neq_r = ra != rb
    has_r = neq_r.any(axis=1)
    cpre = np.where(has_r, neq_r.argmax(axis=1), L)
    return (csuf + cpre) >= L


def substring_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 64,
    k: int = _K_DEFAULT,
    bucket_cap: int = 10_000,
) -> DataFrame:
    """Per-tier census of the winnowed-fingerprint buckets feeding
    ``substring_pairs``: (tier, n_buckets, n_rows, max_bucket).

    The shared ``pairs._bucket_census`` (op 25's never-drop-silently
    policy): buckets larger than ``bucket_cap`` are EXCLUDED from
    candidate generation in ``substring_pairs``, so the ``dropped`` tier
    here is the exact audit of that exclusion — surface it in stage
    metrics whenever the pass runs at scale.
    """
    fps = winnow_fingerprints(df, id_col, text_col, min_len=min_len, k=k)
    return _bucket_census(fps, "fp", [("cold", bucket_cap)])


def _suffix_array(codes: np.ndarray) -> np.ndarray:
    """Suffix array by prefix doubling (numpy lexsort), O(n log^2 n)."""
    n = codes.size
    rank = np.unique(codes, return_inverse=True)[1].astype(np.int64)
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        new = np.zeros(n, dtype=np.int64)
        r_o, k_o = rank[order], key2[order]
        changed = np.empty(n, dtype=bool)
        changed[0] = False
        changed[1:] = (r_o[1:] != r_o[:-1]) | (k_o[1:] != k_o[:-1])
        new[order] = np.cumsum(changed)
        rank = new
        if rank[order[-1]] == n - 1:
            return order
        k *= 2


def _kasai_lcp(codes: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """LCP array: lcp[i] = common prefix length of sa[i-1], sa[i]."""
    n = codes.size
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and codes[i + h] == codes[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def lcs_length(a: str, b: str) -> int:
    """Exact longest-common-substring length via suffix array + Kasai LCP of
    the two concatenated strings (separator outside both alphabets)."""
    if not a or not b:
        return 0
    ca = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    cb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    sep = np.array([-1], dtype=np.int64)  # smaller than any codepoint
    s = np.concatenate([ca, sep, cb])
    sa = _suffix_array(s)
    lcp = _kasai_lcp(s, sa)
    # max LCP of sa-adjacent suffixes from different sides; matches cannot
    # cross the separator because it equals nothing else
    side = sa < ca.size
    cross = side[1:] != side[:-1]
    return int(lcp[1:][cross].max()) if cross.any() else 0


def _extend_at(ca: np.ndarray, cb: np.ndarray, pa: int, pb: int) -> int:
    """Length of the maximal common substring through anchor (pa, pb)
    (same alignment), via vectorized compare-and-scan."""
    m = min(ca.size - pa, cb.size - pb)
    neq = ca[pa : pa + m] != cb[pb : pb + m]
    right = int(np.argmax(neq)) if neq.any() else m
    m2 = min(pa, pb)
    if m2:
        neq_l = ca[pa - m2 : pa][::-1] != cb[pb - m2 : pb][::-1]
        left = int(np.argmax(neq_l)) if neq_l.any() else m2
    else:
        left = 0
    return left + right


def substring_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 64,
    k: int = _K_DEFAULT,
    bucket_cap: int = 10_000,
) -> DataFrame:
    """(src, dst, match_len): document pairs sharing an exact common
    substring of length >= min_len; match_len is the exact LCS length from
    the suffix-array verification.

    Two-step verify, both steps local and vectorized: (1) each aligned
    anchor is tested with the windowed extension check (_anchor_hits) on
    the <= 2*min_len chars the fingerprint rows carry — exactly equivalent
    to extending at the anchor in the full texts (the winnowing theorem
    guarantees a shared fingerprint aligned INSIDE any >=min_len common
    substring, so anchor extension has no recall loss); (2) only the
    DISTINCT pairs with a passing anchor — the true-duplicate-rate
    fraction of candidates — join the full texts for the exact
    suffix-array LCS.  Spurious candidates from boilerplate k-grams
    (measured: 353,918 candidate pairs -> 527 real at sf0.1) therefore
    never ship a document body through a join and never touch the
    O(n log n) verify: they cost one vectorized window compare.
    """
    # One winnowing pass, one pinned fingerprint frame: the bucket
    # self-join (``pairs._bucket_pairs``) pins the sized fingerprints, so
    # the winnowing Arrow pass over every document runs once, not once per
    # join side (measured 0.85 s/pass at sf0.1).  ~115 B/row (id, pos, fp,
    # two windows); at corpus scale this is the frame production spills to
    # a temp table, as the audio path's pinned signatures.
    from ..micro import micro_rebound

    # dust-sized corpora run the whole pass under a right-sized cloned
    # session (see micro.py); deployment-sized inputs are untouched
    df, _ = micro_rebound(df)

    fps = winnow_fingerprints(
        df, id_col, text_col, min_len=min_len, k=k, windows=True
    )

    @F.pandas_udf("boolean")
    def _hit(
        lw_a: pd.Series, rw_a: pd.Series, lw_b: pd.Series, rw_b: pd.Series
    ) -> pd.Series:
        return pd.Series(_anchor_hits(lw_a, rw_a, lw_b, rw_b, min_len))

    hits = (
        _bucket_pairs(fps, id_col, "fp", bucket_cap, carry=("lw", "rw"))
        .where(_hit("lw_a", "rw_a", "lw_b", "rw_b"))
        .select("src", "dst")
        .distinct()
    )
    texts = df.select(F.col(id_col), _norm_text_col(F.col(text_col)).alias("t"))
    joined = _verify_join(hits, texts, id_col)
    id_t = df.schema[id_col].dataType.simpleString()
    schema = f"src {id_t}, dst {id_t}, match_len long"

    def _verify(batches):
        for pdf in batches:
            lens = [
                lcs_length(ta, tb) for ta, tb in zip(pdf["t_a"], pdf["t_b"])
            ]
            yield pd.DataFrame(
                {"src": pdf["src"], "dst": pdf["dst"], "match_len": lens}
            )

    return joined.mapInPandas(_verify, schema)
