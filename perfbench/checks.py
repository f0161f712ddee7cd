"""Output checks: every op's result is compared with a reference computed
from the generated inputs, never with another run of the program."""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np


def _pairs(sizes) -> int:
    return sum(s * (s - 1) // 2 for s in sizes)


@dataclass
class PairCounts:
    """Pair confusion of a clustering against a reference partition:
    ``ref`` reference duplicate pairs, ``out`` co-clustered output pairs,
    ``both`` pairs in both."""

    ref: int = 0
    out: int = 0
    both: int = 0

    def __iadd__(self, other: "PairCounts") -> "PairCounts":
        self.ref += other.ref
        self.out += other.out
        self.both += other.both
        return self

    @property
    def recall(self) -> float:
        return self.both / self.ref if self.ref else 1.0

    @property
    def precision(self) -> float:
        return self.both / self.out if self.out else 1.0


def pair_counts(truth: list, pred: list) -> PairCounts:
    """Pairs among the listed items.  A truth or pred of None is a
    singleton (no pairs)."""
    t = Counter(x for x in truth if x is not None)
    p = Counter(x for x in pred if x is not None)
    tp = Counter((a, b) for a, b in zip(truth, pred) if a is not None and b is not None)
    return PairCounts(_pairs(t.values()), _pairs(p.values()), _pairs(tp.values()))


def pair_counts_against(
    new_truth: list, new_pred: list, seen_truth: list, seen_pred: list
) -> PairCounts:
    """Pairs with at least one member among the new items, the other among
    the new or the already-seen items (an attach must co-cluster a late
    arrival with its indexed family)."""
    new = pair_counts(new_truth, new_pred)

    def cross(a: list, b: list) -> int:
        cb = Counter(x for x in b if x is not None)
        return sum(cb[x] for x in a if x is not None)

    joint = [
        (t, p) for t, p in zip(new_truth, new_pred) if t is not None and p is not None
    ]
    seen_joint = Counter(
        (t, p) for t, p in zip(seen_truth, seen_pred) if t is not None and p is not None
    )
    return PairCounts(
        new.ref + cross(new_truth, seen_truth),
        new.out + cross(new_pred, seen_pred),
        new.both + sum(seen_joint[x] for x in joint),
    )


def labelled_once(ids: list, expected: set) -> str | None:
    """None when every expected id appears exactly once, else why not."""
    c = Counter(ids)
    dup = [i for i, k in c.items() if k > 1]
    if dup:
        return f"{len(dup)} ids labelled more than once"
    missing = expected - c.keys()
    if missing:
        return f"{len(missing)} ids missing"
    extra = c.keys() - expected
    if extra:
        return f"{len(extra)} unexpected ids"
    return None


def check_ann(
    rows: list[tuple[int, int, float]],
    vecs: np.ndarray,
    planted: list[tuple[int, int]],
    k: int,
) -> str | None:
    """ANN top-k check: at most k neighbours per id, none of them the id
    itself, each reported cosine equal to the exact cosine, and every
    planted near-duplicate pair found (each is the other's nearest
    neighbour by a wide margin)."""
    per = Counter(r[0] for r in rows)
    if per and max(per.values()) > k:
        return "more than k neighbours"
    src = np.array([r[0] for r in rows], dtype=np.int64)
    dst = np.array([r[1] for r in rows], dtype=np.int64)
    if (src == dst).any():
        return "self neighbour"
    exact = np.einsum("ij,ij->i", vecs[src].astype(np.float64), vecs[dst].astype(np.float64))
    got = np.array([r[2] for r in rows], dtype=np.float64)
    if len(rows) and np.abs(exact - got).max() > 1e-5:
        return "cosine differs from exact"
    found = set(zip(src.tolist(), dst.tolist()))
    lost = sum(1 for a, b in planted if (a, b) not in found or (b, a) not in found)
    if lost:
        return f"{lost} planted near-duplicate pairs not returned"
    return None
