"""Seeded benchmark inputs and the fingerprints that key every cache.

Two kinds of input:

* the **corpus** — a fixed flat ``documents`` table and an ``events``
  table, generated once from ``CORPUS`` (not from ``--seed``) so every run
  measures the same maintained data.  The spatial corpus is the engine's
  own amplified interleave of the flat table (``sources/derive.py``): a
  doc's ``(x, y, keywords)`` depend only on its ``doc_id``, so flat ids
  ``0..N-1`` give exactly the corpus the sf fixtures give.
* the **workload inputs** — boxes, keyword sets, kNN points, update
  batches, tiles, polygons and operator parameters, all drawn from
  ``numpy.random.default_rng(seed)``.  The engine receives only these.

Every cached file lives under ``.perfbench/`` in the checkout and is keyed
by a content fingerprint: the flat parquet by the generator parameters and
this file's source, materialized tables by the parquet bytes they were
built from.  A regenerated source can therefore never satisfy a stale key.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

# Fixed corpus: flat_docs x amp = 20,000 interleaved docs; the text
# vocabulary and near-duplicate share drive the dedup join, the events table
# the covisit join.  Sized so a run of either workload, set-up and checks
# included, takes under a minute on a 4-CPU machine; the reference's scale
# (sf0.1 at amplification 128, 640,000 docs) takes several times that.
CORPUS = dict(
    flat_docs=1250,
    amp=16,
    near_dup_share=0.1,
    events=10000,
    users=200,
    generator_seed=42,
)

VOCAB = (
    "the a big small fast slow data spark query scan join agg filter sort hash "
    "merge group order part line column table row vector stream batch value "
    "customer"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

EDGE = 4096
# zipf head (most frequent under derive.keyword_sql) and rare keywords
HEAD_KEYWORDS = [f"k{r}" for r in range(8, 24)]
RARE_KEYWORDS = [f"k{8000 // (1 + u)}" for u in range(0, 40)]


def sha256_bytes(*parts: bytes) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.hexdigest()


def file_fingerprint(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def digest(obj) -> str:
    """Stable digest of any JSON-able value (inputs, parameters)."""
    return sha256_bytes(json.dumps(obj, sort_keys=True, default=str).encode())


def _flat_documents(rng: np.random.Generator) -> pd.DataFrame:
    n = CORPUS["flat_docs"]
    lens = rng.integers(8, 96, n)
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in lens]
    # near-duplicate share: copy another doc's text with one word changed,
    # so the Jaccard join and its clustering have non-trivial output
    for i in rng.choice(n, int(n * CORPUS["near_dup_share"]), replace=False):
        toks = texts[int(rng.integers(0, n))].split()
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
        texts[int(i)] = " ".join(toks)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr", "es", "zh"], n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator) -> pd.DataFrame:
    n = CORPUS["events"]
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(us, unit="us"),
            "user_id": rng.integers(0, CORPUS["users"], n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def corpus_dir() -> tuple[str, str]:
    """Write (once) the flat corpus parquet; returns (dir, content fingerprint).

    The directory is keyed by the generator parameters and this module's
    source; the returned fingerprint hashes the parquet bytes actually
    read, and keys everything derived from them."""
    with open(__file__, "rb") as f:
        gen_key = sha256_bytes(json.dumps(CORPUS, sort_keys=True).encode(), f.read())[:16]
    d = os.path.join(STATE, "corpus", gen_key)
    docs, events = os.path.join(d, "documents.parquet"), os.path.join(d, "events.parquet")
    if not (os.path.exists(docs) and os.path.exists(events)):
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng(CORPUS["generator_seed"])
        _flat_documents(rng).to_parquet(docs + ".tmp", index=False)
        _events(rng).to_parquet(
            events + ".tmp", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        os.replace(docs + ".tmp", docs)
        os.replace(events + ".tmp", events)
    fp = sha256_bytes(file_fingerprint(docs).encode(), file_fingerprint(events).encode())
    return d, fp


# ---------------------------------------------------------------------------
# seeded workload inputs
# ---------------------------------------------------------------------------


STRATA = 3


class Draw:
    """Seeded draws anchored on corpus points, so boxes and query points
    land where the data is (the reference places its query squares over
    the gaussian hot spots).

    Search sizes (box sides, radii, k) are stratified by round: round ``i``
    draws them from the ``i mod STRATA``-th equal slice of their range, so
    any ``STRATA`` consecutive rounds cover the whole range and a per-kind
    median does not depend on which sizes one seed happened to draw."""

    def __init__(self, seed: int, anchors: np.ndarray):
        self.rng = np.random.default_rng(seed)
        self.anchors = anchors
        self.rounds = 0

    def next_round(self) -> None:
        self.rounds += 1

    def stratified(self, lo: float, hi: float) -> float:
        """Uniform in this round's slice of ``[lo, hi]``."""
        u = ((self.rounds - 1) % STRATA + self.rng.uniform()) / STRATA
        return lo + (hi - lo) * u

    def point(self) -> tuple[int, int]:
        x, y = self.anchors[int(self.rng.integers(0, len(self.anchors)))]
        return int(x), int(y)

    def box(self, lo_pct: float = 0.02, hi_pct: float = 0.12) -> tuple[int, int, int, int]:
        """Square of 2-12% of the edge around an anchor (reference protocol,
        `DSSESearchVariesByRange.java:64-100`)."""
        side = int(EDGE * self.stratified(lo_pct, hi_pct))
        cx, cy = self.point()
        x0 = min(max(0, cx - side // 2), EDGE - 1 - side)
        y0 = min(max(0, cy - side // 2), EDGE - 1 - side)
        return x0, x0 + side, y0, y0 + side

    def keywords(self, n_head: int, n_rare: int) -> list[str]:
        head = self.rng.choice(HEAD_KEYWORDS, n_head, replace=False).tolist()
        rare = self.rng.choice(RARE_KEYWORDS, n_rare, replace=False).tolist()
        return [str(k) for k in head + rare]

    def integer(self, lo: int, hi: int) -> int:
        return int(self.rng.integers(lo, hi + 1))

    def convex_polygon(self, radius: int, n_vertices: int) -> list[tuple[int, int]]:
        """Convex polygon: sorted random angles on a circle around an anchor,
        integer-rounded and deduplicated (a cyclic sequence of points on a
        circle is convex in order)."""
        cx, cy = self.point()
        cx = min(max(radius, cx), EDGE - 1 - radius)
        cy = min(max(radius, cy), EDGE - 1 - radius)
        angles = np.sort(self.rng.uniform(0, 2 * np.pi, n_vertices))
        verts = []
        for a in angles:
            v = (int(round(cx + radius * np.cos(a))), int(round(cy + radius * np.sin(a))))
            if v not in verts:
                verts.append(v)
        if len(verts) < 3:
            return [(cx - radius, cy), (cx + radius, cy), (cx, cy + radius)]
        return verts
