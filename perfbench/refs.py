"""Independent reference computations for the correctness checks: plain
Python (and numpy for the top-k), written from the operators' documented
semantics, never from their code paths or from a recorded output."""

from __future__ import annotations

import re
from collections import defaultdict

# -- hashing: Spark's xxhash64 (seed 42), reimplemented -------------------------

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
MERSENNE31 = (1 << 31) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit integer."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def hash31(s: str) -> int:
    """``pmod(xxhash64(s), 2^31 - 1)`` on Spark's signed long."""
    h = xxh64(s.encode("utf-8"))
    if h >= 1 << 63:
        h -= 1 << 64
    return h % MERSENNE31


# -- shingles and set joins -------------------------------------------------------


def shingles(text: str, n: int) -> set[str]:
    """Distinct word ``n``-grams of the lowercased alphanumeric tokens; a
    document shorter than ``n`` words is one shingle of all its words."""
    words = re.findall(r"[a-z0-9]+", text.lower())
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def all_pairs_overlap(sets: dict[int, set]) -> dict[tuple[int, int], int]:
    """Intersection size of every pair ``a < b`` sharing at least one
    token, through an inverted index."""
    index: dict = defaultdict(list)
    for doc, toks in sets.items():
        for t in toks:
            index[t].append(doc)
    inter: dict[tuple[int, int], int] = defaultdict(int)
    for docs in index.values():
        docs.sort()
        for x in range(len(docs)):
            for y in range(x + 1, len(docs)):
                inter[(docs[x], docs[y])] += 1
    return inter


def exact_jaccard_pairs(sets: dict[int, set], num: int, den: int) -> dict:
    """``{(a, b): (inter, union)}`` for every pair with
    ``inter / union >= num / den`` (integer cross-multiplication)."""
    out = {}
    for (a, b), i in all_pairs_overlap(sets).items():
        u = len(sets[a]) + len(sets[b]) - i
        if i * den >= u * num:
            out[(a, b)] = (i, u)
    return out


def hashed_jaccard_pairs(sets: dict[int, set], threshold: float, max_df: int) -> dict:
    """``{(a, b): jaccard}`` over hashed token sets with tokens in more
    than ``max_df`` documents dropped, keeping the IEEE double test
    ``inter / union >= threshold``."""
    df: dict = defaultdict(int)
    for toks in sets.values():
        for t in toks:
            df[t] += 1
    kept = {d: {t for t in toks if df[t] <= max_df} for d, toks in sets.items()}
    out = {}
    for (a, b), i in all_pairs_overlap(kept).items():
        j = i / (len(kept[a]) + len(kept[b]) - i)
        if j >= threshold:
            out[(a, b)] = j
    return out


def components(pairs) -> dict[int, int]:
    """Union-find: node → smallest node of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


# -- code hierarchy -----------------------------------------------------------------


def reachability(edges) -> set[tuple[str, str]]:
    """Every (descendant, ancestor) pair reachable through (child,
    parent) edges, without self-pairs; a visited set makes it safe on
    cycles."""
    up: dict[str, list[str]] = defaultdict(list)
    for c, p in edges:
        up[c].append(p)
    out = set()
    for start in list(up):
        seen, todo = set(), list(up[start])
        while todo:
            x = todo.pop()
            if x in seen:
                continue
            seen.add(x)
            todo.extend(up.get(x, ()))
        out.update((start, a) for a in seen if a != start)
    return out


def descendants(closure: set[tuple[str, str]], code: str) -> set[str]:
    """A code and everything below it."""
    return {d for d, a in closure if a == code} | {code}


# -- exact top-k ----------------------------------------------------------------------


def cosine_topk(mat, query_ids, k: int) -> dict[int, list[int]]:
    """Exact cosine top-``k`` neighbours (the query itself excluded) of
    each query row; ties broken by the smaller id."""
    import numpy as np

    norms = np.sqrt((mat * mat).sum(axis=1))
    out = {}
    for q in query_ids:
        sims = (mat @ mat[q]) / (norms * norms[q])
        ids = np.arange(len(mat))
        keep = ids != q
        order = np.lexsort((ids[keep], -sims[keep]))[:k]
        out[int(q)] = [int(x) for x in ids[keep][order]]
    return out


def recall_at_k(found: dict[int, list[int]], exact: dict[int, list[int]]) -> float:
    hits = sum(len(set(found.get(q, [])) & set(v)) for q, v in exact.items())
    total = sum(len(v) for v in exact.values())
    return hits / total
