"""Seeded input generators and their expected answers.

Everything the system under test receives is built here from the
workload seed; the same seed gives byte-identical inputs. Each input
family draws from its own stream of the seed (``numpy.random.SeedSequence``
spawn keys), so adding a family never shifts another one.

- Vectors follow the reference fixture: ``randn(N, D)`` float32 where
  every 1,000-row batch is shifted by 10x its own first row, with
  columns ``vec_id bigint, embedding array<float>, label int (0..9)``.
- Queries come from the same law under another stream: fresh noise
  around the shifted centre of a random batch.
- ``exact_topk`` is the numpy ground truth (l2, ties by id, optional
  label filter).
- Documents carry planted exact duplicates, near duplicates, far
  variants and PII tokens; ``DocSet`` records what curation must do
  with each of them.
"""

from __future__ import annotations

import string
from dataclasses import dataclass, field

import numpy as np

BATCH_ROWS = 1000  # rows per shifted cluster, as in the reference fixture
SHIFT = 10.0

# stream ids under the workload seed
_VECTORS, _QUERIES, _DOCS, _SCHEDULE = 0, 1, 2, 3


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


# ------------------------------------------------------------ vectors


@dataclass(frozen=True)
class Vectors:
    ids: np.ndarray  # int64 (N,)
    x: np.ndarray  # float32 (N, D)
    labels: np.ndarray  # int32 (N,)

    def arrow(self):
        """The table a client uploads (embedding as a float list)."""
        import pyarrow as pa

        n, d = self.x.shape
        emb = pa.FixedSizeListArray.from_arrays(pa.array(self.x.reshape(-1)), d)
        return pa.table(
            {
                "vec_id": pa.array(self.ids),
                "embedding": emb,
                "label": pa.array(self.labels),
            }
        )


def id_checksum(ids) -> int:
    """Order-free checksum of a set of int64 ids (sum and xor of a
    mixed hash, folded to 63 bits)."""
    v = np.asarray(ids, dtype=np.uint64)
    h = (v * np.uint64(0x9E3779B97F4A7C15)) ^ (v >> np.uint64(29))
    return int((int(h.sum(dtype=np.uint64)) ^ int(np.bitwise_xor.reduce(h))) & (2**63 - 1)) if len(v) else 0


def make_vectors(seed: int, n: int, d: int) -> Vectors:
    rng = rng_for(seed, _VECTORS)
    x = rng.standard_normal((n, d), dtype=np.float32)
    for b in range(0, n, BATCH_ROWS):
        x[b : b + BATCH_ROWS] += np.float32(SHIFT) * x[b].copy()
    labels = rng.integers(0, 10, n, dtype=np.int32)
    return Vectors(np.arange(n, dtype=np.int64), x, labels)


def make_queries(seed: int, vectors: Vectors, count: int) -> np.ndarray:
    """``count`` query vectors: noise around the centre of a random
    1,000-row batch of ``vectors`` (the same generative law as the
    rows, drawn from another stream of the seed)."""
    rng = rng_for(seed, _QUERIES)
    n, d = vectors.x.shape
    batches = rng.integers(0, (n + BATCH_ROWS - 1) // BATCH_ROWS, count)
    centres = vectors.x[batches * BATCH_ROWS]
    return (rng.standard_normal((count, d), dtype=np.float32) + centres).astype(np.float32)


def query_labels(seed: int, count: int) -> np.ndarray:
    """Per-call label filter schedule: -1 = no filter; 1 call in 5
    filters on ``label = x``."""
    rng = rng_for(seed, _SCHEDULE)
    labels = rng.integers(0, 10, count, dtype=np.int32)
    return np.where(np.arange(count) % 5 == 4, labels, -1)


def exact_topk(vectors: Vectors, q: np.ndarray, k: int, label: int = -1) -> np.ndarray:
    """Exact l2 top-``k`` ids for one query, ties broken by id."""
    mask = slice(None) if label < 0 else vectors.labels == label
    x = vectors.x[mask].astype(np.float64)
    ids = vectors.ids[mask]
    d = ((x - q.astype(np.float64)) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return ids[order]


def recall(found, exact) -> float:
    return len(set(int(i) for i in found) & set(int(i) for i in exact)) / len(exact)


# ---------------------------------------------------------- documents


@dataclass
class DocSet:
    ids: list[int]
    texts: list[str]
    originals: set[int] = field(default_factory=set)  # must survive
    far: set[int] = field(default_factory=set)  # J << 0.95: must survive
    exact_dups: set[int] = field(default_factory=set)  # must go
    swap_dups: set[int] = field(default_factory=set)  # same token set: must go
    edit_dups: set[int] = field(default_factory=set)  # J ~ 0.97: should go
    pii: set[str] = field(default_factory=set)  # no token may remain

    @property
    def expected_kept(self) -> int:
        return len(self.originals) + len(self.far)

    def arrow(self):
        import pyarrow as pa

        return pa.table(
            {"doc_id": pa.array(self.ids, pa.int64()), "text": pa.array(self.texts)}
        )


# minimum share of the single-word-edit near duplicates that MinHash
# LSH (24 components, 3 bands) must catch: at J ~ 0.97 a pair is
# missed with probability ~1%, so the expectation is a floor, not an
# exact count; every other planted family is exact
EDIT_RECALL_FLOOR = 0.9


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(4, 10))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def make_docs(seed: int, n_docs: int, words_per_doc: int = 80) -> DocSet:
    """``n_docs`` documents: 70% originals (random vocabulary draws,
    12% of them carrying a planted email or phone number), then 8%
    exact duplicates (case/whitespace variants), 8% adjacent-word
    swaps (identical token set), 8% single-word substitutions
    (J ~ 0.97) and 6% far variants (half the words replaced, J ~ 0.3).
    Ids are assigned originals first, so every planted duplicate has a
    higher id than the original it copies and min-id survivor rules
    keep the original."""
    rng = rng_for(seed, _DOCS)
    vocab = _vocab(rng, 6000)
    n_orig = int(n_docs * 0.70)
    n_exact = n_swap = n_edit = int(n_docs * 0.08)
    n_far = n_docs - n_orig - n_exact - n_swap - n_edit
    ds = DocSet([], [])
    bodies: list[list[str]] = []

    def add(text: str, family: set[int]) -> None:
        family.add(len(ds.ids))
        ds.ids.append(len(ds.ids))
        ds.texts.append(text)

    for _ in range(n_orig):
        words = [vocab[j] for j in rng.choice(len(vocab), words_per_doc, replace=False)]
        if rng.random() < 0.12:
            if rng.random() < 0.5:
                tok = f"{vocab[int(rng.integers(len(vocab)))]}.{int(rng.integers(1000))}@example{int(rng.integers(100))}.com"
            else:
                a, b, c = rng.integers(200, 999), rng.integers(100, 999), rng.integers(1000, 9999)
                tok = f"{a}-{b}-{c}"
            words.insert(int(rng.integers(len(words))), tok)
            ds.pii.add(tok)
        bodies.append(words)
        add(" ".join(words), ds.originals)
    src = rng.choice(n_orig, n_exact + n_swap + n_edit + n_far, replace=True)
    k = 0
    for _ in range(n_exact):
        words = bodies[src[k]]
        k += 1
        # formatting-only variants: exact dedup normalizes case and runs
        # of whitespace
        add("  ".join(words).upper() if rng.random() < 0.5 else " ".join(words), ds.exact_dups)
    for _ in range(n_swap):
        words = list(bodies[src[k]])
        k += 1
        i = int(rng.integers(len(words) - 1))
        words[i], words[i + 1] = words[i + 1], words[i]
        add(" ".join(words), ds.swap_dups)
    for _ in range(n_edit):
        words = list(bodies[src[k]])
        k += 1
        present = set(words)
        new = vocab[int(rng.integers(len(vocab)))]
        while new in present:
            new = vocab[int(rng.integers(len(vocab)))]
        # never replace the PII token: it splits into several tokens, and
        # dropping it would push J below the threshold
        plain = [i for i, w in enumerate(words) if w not in ds.pii]
        words[plain[int(rng.integers(len(plain)))]] = new
        add(" ".join(words), ds.edit_dups)
    for _ in range(n_far):
        words = list(bodies[src[k]])
        k += 1
        for i in rng.choice(len(words), len(words) // 2, replace=False):
            words[i] = vocab[int(rng.integers(len(vocab)))]
        add(" ".join(words), ds.far)
    return ds
