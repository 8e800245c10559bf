"""Seeded synthetic corpus with planted duplicates and its ground truth.

Documents are 2-5 paragraphs of words from a seeded pseudo-word vocabulary;
about 30% also carry one paragraph from a shared boilerplate pool, which the
cross-document paragraph dedup must strip. On top of the base documents:

- exact duplicates (``EXACT_SHARE`` of the corpus): copies of a base
  document, half of them upper-cased, so they differ only before
  normalization;
- near duplicates (``NEAR_SHARE``): a base document with one word replaced.
  Base documents hold at least ``MIN_WORDS`` words, so a planted pair's
  word-3-shingle Jaccard stays above 0.9, clear of the 0.8 verification
  threshold.

Ids are assigned after a seeded shuffle, so a copy may have a lower id than
its original.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

N_DOCS = 2000
EXACT_SHARE = 0.05
NEAR_SHARE = 0.10
MIN_WORDS = 80
SOURCES = ("web", "books", "code")
#: quality-weight buckets; ``curation_gram_signals`` is called with
#: ``dim_q=QUALITY_DIM``
QUALITY_DIM = 64


@dataclass(frozen=True)
class Corpus:
    rows: list[tuple[int, str, str, str]]  # (doc_id, text, source, lang)
    exact_groups: list[list[int]]  # each: an original's id and its copies' ids
    near_pairs: list[tuple[int, int]]  # (lower id, higher id)
    tokens_by_source: dict[str, int]
    weights: list[tuple[int, float]]  # (bucket, weight); bucket -1 is the bias

    @property
    def expected_survivors(self) -> set[int]:
        """Ids ``exact_dedup`` must keep: the lowest id of every group."""
        ids = {r[0] for r in self.rows}
        for group in self.exact_groups:
            ids -= set(group) - {min(group)}
        return ids


def _vocab(rng: random.Random, size: int) -> list[str]:
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = set()
    while len(words) < size:
        n = rng.randint(2, 4)
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(n)))
    return sorted(words)


def generate(seed: int) -> Corpus:
    rng = random.Random(seed)
    vocab = _vocab(rng, 4000)
    boiler = [" ".join(rng.choices(vocab, k=rng.randint(12, 20))) for _ in range(20)]

    n_exact = int(N_DOCS * EXACT_SHARE)
    n_near = int(N_DOCS * NEAR_SHARE)
    n_base = N_DOCS - n_exact - n_near

    def base_text() -> str:
        while True:
            paras = [
                " ".join(rng.choices(vocab, k=rng.randint(20, 60)))
                for _ in range(rng.randint(2, 5))
            ]
            if sum(len(p.split()) for p in paras) >= MIN_WORDS:
                break
        if rng.random() < 0.3:
            paras.insert(rng.randrange(len(paras) + 1), rng.choice(boiler))
        return "\n\n".join(paras)

    texts = [base_text() for _ in range(n_base)]
    origin: list[tuple[str, int]] = [("base", i) for i in range(n_base)]
    for _ in range(n_exact):
        src = rng.randrange(n_base)
        texts.append(texts[src].upper() if rng.random() < 0.5 else texts[src])
        origin.append(("exact", src))
    for _ in range(n_near):
        src = rng.randrange(n_base)
        paras = [p.split(" ") for p in texts[src].split("\n\n")]
        # edit a paragraph that is not boilerplate shared with other docs
        editable = [i for i, p in enumerate(paras) if " ".join(p) not in boiler]
        p = paras[rng.choice(editable)]
        pos = rng.randrange(len(p))
        p[pos] = rng.choice([w for w in rng.sample(vocab, 3) if w != p[pos]])
        texts.append("\n\n".join(" ".join(p) for p in paras))
        origin.append(("near", src))

    order = list(range(len(texts)))
    rng.shuffle(order)
    doc_id = {idx: i for i, idx in enumerate(order)}
    rows = []
    tokens: dict[str, int] = {s: 0 for s in SOURCES}
    for idx in order:
        did = doc_id[idx]
        source = SOURCES[did % len(SOURCES)]
        lang = "en" if rng.random() < 0.7 else "xx"
        rows.append((did, texts[idx], source, lang))
        tokens[source] += len(texts[idx].split())
    groups: dict[int, list[int]] = {}
    near = []
    for idx, (kind, src) in enumerate(origin):
        if kind == "exact":
            groups.setdefault(src, [doc_id[src]]).append(doc_id[idx])
        elif kind == "near":
            a, b = sorted((doc_id[src], doc_id[idx]))
            near.append((a, b))
    weights = [(-1, 0.1)] + [(b, rng.uniform(-1.0, 1.0)) for b in range(QUALITY_DIM)]
    return Corpus(rows, list(groups.values()), near, tokens, weights)
