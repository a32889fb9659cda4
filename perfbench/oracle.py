"""The benchmark's own reference answers and output checks. Nothing here
imports the program under test."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd


def brute_knn(P: np.ndarray, Q: np.ndarray, k: int, chunk: int = 2048) -> np.ndarray:
    """(len(Q), k) ids of the exact k nearest points by squared L2."""
    P64 = P.astype(np.float64)
    pn = np.einsum("ij,ij->i", P64, P64)
    out = np.empty((len(Q), k), dtype=np.int64)
    for s in range(0, len(Q), chunk):
        q = Q[s : s + chunk].astype(np.float64)
        d = pn[None, :] - 2.0 * q @ P64.T
        part = np.argpartition(d, k, axis=1)[:, :k]
        order = np.argsort(np.take_along_axis(d, part, axis=1), axis=1)
        out[s : s + chunk] = np.take_along_axis(part, order, axis=1)
    return out


def recall_at_k(found: np.ndarray, truth: np.ndarray) -> float:
    """Mean over queries of |found ∩ truth| / k (rows aligned by query)."""
    k = truth.shape[1]
    hits = sum(len(set(f) & set(t)) for f, t in zip(found.tolist(), truth.tolist()))
    return hits / (k * len(truth))


def check_search(res: pd.DataFrame, P: np.ndarray, Q: np.ndarray, k: int) -> tuple:
    """Validate a search result for queries 0..len(Q)-1 over points whose
    vec_id is their row in ``P``. Returns (problems, (nq, k) id matrix).

    Every query has k rows with ranks 1..k, ascending distances, distinct
    ids in range, and each distance equals the squared L2 distance
    recomputed for the returned id."""
    problems = []
    nq = len(Q)
    if len(res) != nq * k:
        problems.append(f"{len(res)} rows for {nq} queries x k={k}")
        return problems, None
    res = res.sort_values(["query_id", "rank"], kind="stable")
    qid = res["query_id"].to_numpy().reshape(nq, k)
    if not (qid == np.arange(nq)[:, None]).all():
        problems.append("query ids do not cover 0..nq-1 with k rows each")
        return problems, None
    rank = res["rank"].to_numpy().reshape(nq, k)
    if not (rank == np.arange(1, k + 1)[None, :]).all():
        problems.append("ranks are not 1..k")
    ids = res["vec_id"].to_numpy().reshape(nq, k)
    if ids.min() < 0 or ids.max() >= len(P):
        problems.append("vec_id out of range")
        return problems, None
    if (np.sort(ids, axis=1)[:, 1:] == np.sort(ids, axis=1)[:, :-1]).any():
        problems.append("duplicate ids within a query")
    dist = res["dist"].to_numpy().reshape(nq, k)
    if (np.diff(dist, axis=1) < -1e-6 * np.abs(dist[:, 1:]).max(initial=1.0)).any():
        problems.append("distances not ascending")
    diff = P[ids].astype(np.float64) - Q.astype(np.float64)[:, None, :]
    true = np.einsum("qkd,qkd->qk", diff, diff)
    if not np.allclose(dist, true, rtol=1e-3, atol=1e-3):
        worst = float(np.abs(dist - true).max())
        problems.append(f"returned distances differ from recomputed L2 (max abs {worst:.3g})")
    return problems, ids


def shingles(text: str, n: int = 3) -> set:
    """Distinct lower-cased word n-grams; a doc shorter than n words is
    one shingle of all its words."""
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / max(len(a | b), 1)


def check_near_dups(pairs: pd.DataFrame, texts: dict, threshold: float) -> list:
    """Every reported pair is ordered, distinct, and its Jaccard —
    recomputed here — clears the threshold and matches the reported
    value (rounded to 4 places)."""
    problems = []
    if (pairs["a_id"] >= pairs["b_id"]).any():
        problems.append("pair not ordered a_id < b_id")
    if pairs.duplicated(["a_id", "b_id"]).any():
        problems.append("duplicate pairs")
    cache: dict = {}

    def sh(i):
        if i not in cache:
            cache[i] = shingles(texts[i])
        return cache[i]

    bad = 0
    for a, b, j in zip(pairs["a_id"].tolist(), pairs["b_id"].tolist(), pairs["jaccard"].tolist()):
        true = jaccard(sh(a), sh(b))
        if true < threshold or abs(true - j) > 1e-4:
            bad += 1
    if bad:
        problems.append(f"{bad} pairs fail the recomputed Jaccard check")
    return problems


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def normalize(text: str) -> str:
    """Content identity used by exact dedup: whitespace runs collapsed to
    one space, then lower-cased."""
    return _WS.sub(" ", text).lower()


def incremental_keep(batch_ids, batch_texts, seen_texts) -> set:
    """Ids ``incremental_dedup`` must keep: the smallest id of each
    normalized content in the batch, unless that content is in the
    corpus."""
    seen = {normalize(t) for t in seen_texts}
    best: dict = {}
    for i, t in zip(batch_ids, batch_texts):
        c = normalize(t)
        if c not in seen and (c not in best or i < best[c]):
            best[c] = i
    return {int(v) for v in best.values()}
