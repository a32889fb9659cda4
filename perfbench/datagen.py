"""Seeded input generators. The same seed gives the same inputs; the
program under test sees only the DataFrames staged from these arrays.

Vectors:
- ``overlapping_mixture``: a Gaussian mixture in a 24-d latent space,
  embedded in ``dim`` dims with small isotropic noise. Cluster spread is
  close to the centre spacing, so clusters overlap and a navigable graph
  exists (recall@10 near 1).
- ``island_clusters``: equal-sized, tight clusters whose centres sit far
  apart. Each cluster is larger than the build's candidate list, so no
  cluster needs an edge to another to fill its lists; the input shape
  where a graph loses navigability.

Text:
- ``corpus``: Zipf-vocabulary docs of 30-150 words; a share of them are
  planted near-copies (a few words replaced) of other docs.
- ``new_batch``: fresh docs plus exact copies, with case and whitespace
  varied, of corpus docs and of other batch docs; the generator knows
  which rows ``incremental_dedup`` must keep.
"""

from __future__ import annotations

import numpy as np


def overlapping_mixture(rng, n: int, dim: int, clusters: int = 32, latent: int = 24,
                        spread: float = 0.6, noise: float = 0.05) -> np.ndarray:
    """The mixture itself (centres, projection) is fixed; ``rng`` draws
    the points, so seeds vary the sample, not the geometry."""
    geo = np.random.default_rng(0)
    centres = geo.normal(size=(clusters, latent))
    proj = geo.normal(size=(latent, dim)) / np.sqrt(latent)
    z = centres[rng.integers(0, clusters, n)] + rng.normal(size=(n, latent)) * spread
    return (z @ proj + rng.normal(size=(n, dim)) * noise).astype(np.float32)


def island_clusters(rng, n: int, dim: int, clusters: int, spread: float = 0.05):
    """(points, labels): ``n`` points, exactly n/clusters per cluster."""
    centres = rng.normal(size=(clusters, dim))
    labels = np.arange(n) % clusters
    pts = centres[labels] + rng.normal(size=(n, dim)) * spread
    return pts.astype(np.float32), labels


def _zipf_probs(vocab: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1) ** s
    return p / p.sum()


class TextGen:
    """Zipf-vocabulary document generator (words ``w<rank>``)."""

    def __init__(self, rng, vocab: int = 30_000, min_words: int = 30, max_words: int = 150):
        self.rng = rng
        self.vocab = vocab
        self.p = _zipf_probs(vocab)
        self.min_words, self.max_words = min_words, max_words

    def words(self, count: int) -> list:
        lens = self.rng.integers(self.min_words, self.max_words + 1, count)
        flat = self.rng.choice(self.vocab, size=int(lens.sum()), p=self.p)
        cuts = np.cumsum(lens)[:-1]
        return np.split(flat, cuts)

    def near_copy(self, toks: np.ndarray, share: float = 0.05) -> np.ndarray:
        """``toks`` with ~``share`` of its words (at least one) replaced by
        different vocabulary words."""
        out = toks.copy()
        k = max(1, int(round(share * len(toks))))
        pos = self.rng.choice(len(toks), size=k, replace=False)
        repl = self.rng.choice(self.vocab, size=k, p=self.p)
        clash = repl == out[pos]
        repl[clash] = (repl[clash] + 1) % self.vocab
        out[pos] = repl
        return out

    def vary(self, text: str) -> str:
        """Same content after lower-casing and collapsing whitespace runs:
        random upper/title case per word, and some single spaces widened
        to runs of spaces, tabs and newlines."""
        rng = self.rng
        words = text.split(" ")
        case = rng.integers(0, 3, len(words))
        words = [w.upper() if c == 1 else (w.title() if c == 2 else w) for w, c in zip(words, case)]
        seps = rng.choice(np.array([" ", " ", " ", "  ", "\t", " \n "]), size=len(words) - 1)
        return "".join(w + s for w, s in zip(words, list(seps) + [""]))


def _text(toks) -> str:
    return " ".join(f"w{t}" for t in toks)


def corpus(rng, n_docs: int, near_share: float = 0.10):
    """(doc_ids, texts, planted_pairs). ``near_share`` of the docs are
    near-copies of distinct originals; ids are a random permutation, so
    copies and originals interleave. ``planted_pairs`` is a set of
    (smaller id, larger id)."""
    gen = TextGen(rng)
    n_copies = int(n_docs * near_share)
    n_orig = n_docs - n_copies
    toks = gen.words(n_orig)
    src = rng.choice(n_orig, size=n_copies, replace=False)
    toks += [gen.near_copy(toks[i]) for i in src]
    ids = rng.permutation(n_docs).astype(np.int64)
    planted = {
        (int(min(ids[s], ids[n_orig + j])), int(max(ids[s], ids[n_orig + j])))
        for j, s in enumerate(src)
    }
    return ids, [_text(t) for t in toks], planted


def new_batch(rng, seen_texts: list, n_docs: int, id_base: int,
              seen_copy_share: float = 0.30, self_copy_share: float = 0.05):
    """(doc_ids, texts, expected_kept_ids) for an incremental-dedup batch.

    ``seen_copy_share`` of the rows are varied copies of corpus docs (all
    must drop); ``self_copy_share`` are varied copies of fresh batch docs
    (only the smallest id of each content survives). Ids start at
    ``id_base`` and are shuffled."""
    gen = TextGen(rng)
    n_seen = int(n_docs * seen_copy_share)
    n_self = int(n_docs * self_copy_share)
    n_fresh = n_docs - n_seen - n_self
    seen_norm = {t for t in seen_texts}
    fresh, fresh_norm = [], set()
    while len(fresh) < n_fresh:  # resample the (unlikely) collisions
        for toks in gen.words(n_fresh - len(fresh)):
            t = _text(toks)
            if t not in seen_norm and t not in fresh_norm:
                fresh.append(t)
                fresh_norm.add(t)
    seen_src = rng.choice(len(seen_texts), size=n_seen, replace=False)
    self_src = rng.integers(0, n_fresh, n_self)
    texts = (
        fresh
        + [gen.vary(seen_texts[i]) for i in seen_src]
        + [gen.vary(fresh[i]) for i in self_src]
    )
    ids = (id_base + rng.permutation(n_docs)).astype(np.int64)
    # expected survivors: per fresh content, the smallest id among the
    # fresh doc and its in-batch copies
    best = {i: ids[i] for i in range(n_fresh)}
    for j, i in enumerate(self_src):
        best[i] = min(best[i], ids[n_fresh + n_seen + j])
    return ids, texts, {int(v) for v in best.values()}
