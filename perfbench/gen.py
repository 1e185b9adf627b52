"""Seeded input generators for the benchmark, with the ground truth they keep.

Everything runs in the calling process with NumPy; no worker pool. The same
seed gives byte-identical files.

* ``gen_text`` writes one UTF-8 text file for the word-count workloads: Zipf
  distributed word ids over a vocabulary whose words mix ASCII and non-ASCII
  letters, separated by delimiters drawn from spaces, punctuation, digits,
  hyphens, tabs and newlines (everything the reference tokenizer splits on).
  Truth: the exact count of every word (a bincount of the sampled ids) and the
  exact bytes both reference listings must have.
* ``gen_docs`` writes ``documents.parquet`` for the dedup workload with planted
  near-duplicate groups. Truth: the planted groups as a ``doc_id -> cluster``
  map, the cluster id being the group's smallest doc id.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference's listing headers (operators/wordcount.py keeps the same
# strings). Copied, not imported, so the truth does not depend on the code
# under test.
ALPHA_HEADER = "=== Final Word Counts (A → Z) ==="
BY_COUNT_HEADER = "=== Final Word Counts (High → Low) ==="

# Word letters: ASCII letters and non-ASCII letters (all word characters for
# the reference tokenizer). The head of every word is a fixed-width base-K
# numeral of its (scrambled) rank, which makes words distinct by construction.
_HEAD_ALPHABET = list("abcdefghijklmnopqrstuvwxyzäöåéüšžAEKST")
_TAIL_ALPHABET = list("aeiouynlkstrmhpvjdg") + ["ä", "ö", "ä", "ö", "å"]
_MAX_TAIL = 6

# Token separators and their weights. Every one is a run of delimiter
# characters (ASCII, not a letter), so adjacent words never fuse.
_DELIMS = [" ", ", ", ". ", " - ", "\t", " 1917 ", "; ", ": ", " (", ") ", "\n", "-", " 42. "]
_DELIM_WEIGHTS = [64, 7, 5, 2, 2, 2, 2, 1, 1, 1, 9, 2, 2]

# Planted near-duplicates: a tenth of the docs, each a copy of an original
# with 3 % of its tokens replaced. MIN_JACCARD is the engine's clustering
# threshold (operators.dedup.lsh_verified_pairs, threshold=0.8).
DUP_FRAC = 0.10
EDIT_FRAC = 0.03
MIN_JACCARD = 0.8


@dataclass
class TextTruth:
    """Ground truth of one generated text file."""

    path: str
    n_bytes: int
    tokens: int
    words: list[str]  # distinct words present, in binary (code point) order
    counts: np.ndarray  # counts[i] is the count of words[i]
    alpha_sha256: str  # of the exact alpha listing bytes
    by_count_sha256: str  # of the exact frequency listing bytes


@dataclass
class DocsTruth:
    """Ground truth of one generated documents table."""

    dir: str
    path: str
    n_bytes: int
    n_docs: int
    clusters: dict[int, int]  # doc_id -> smallest doc_id of its planted group


def _mix(x: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of ``x ^ seed`` — a stable per-id pseudo-random word."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) ^ np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def word_strings(ids: np.ndarray, vocab: int, seed: int) -> np.ndarray:
    """The word for each id in ``ids`` (ids in ``[0, vocab)``), as a NumPy
    unicode array.

    A word is a fixed-width base-K numeral of an affine scramble of its id
    over a seeded permutation of the head alphabet, then a tail of 0..6
    letters picked by a hash of the id. The scramble is a bijection, so the
    heads, and with them the words, are distinct."""
    rng = np.random.default_rng(seed)
    head = np.array([ord(c) for c in _HEAD_ALPHABET], dtype=np.uint32)[
        rng.permutation(len(_HEAD_ALPHABET))
    ]
    tail = np.array([ord(c) for c in _TAIL_ALPHABET], dtype=np.uint32)
    k = len(head)
    width = 1
    while k**width < vocab:
        width += 1
    # 1_000_003 is prime and not a factor of k, so it is invertible mod k^width.
    x = (ids.astype(np.int64) * 1_000_003 + seed % k**width) % (k**width)
    chars = np.zeros((len(ids), width + _MAX_TAIL), dtype=np.uint32)
    for j in range(width):
        chars[:, j] = head[x % k]
        x //= k
    h = _mix(ids, seed)
    tail_len = (h % np.uint64(_MAX_TAIL + 1)).astype(np.int64)
    for j in range(_MAX_TAIL):
        h //= np.uint64(len(tail))
        letter = tail[(h % np.uint64(len(tail))).astype(np.int64)]
        chars[:, width + j] = np.where(tail_len > j, letter, 0)
    # Zero code points pad the rows; the unicode view drops trailing zeros.
    return np.ascontiguousarray(chars).view(f"<U{width + _MAX_TAIL}").ravel()


def zipf_ids(rng: np.random.Generator, n: int, vocab: int, s: float) -> np.ndarray:
    """``n`` ids in ``[0, vocab)`` with P(id = r) proportional to (r+1)^-s."""
    w = np.arange(1, vocab + 1, dtype=np.float64) ** -s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)


def listing_bytes(words: list[str], counts: np.ndarray) -> tuple[bytes, bytes]:
    """The exact bytes of both reference listings for (word, count) pairs:
    alpha in binary word order, frequency in (count desc, word asc) order.
    ``words`` must already be in code point order, which for UTF-8 is the
    binary byte order Spark sorts strings by."""
    lines = [f"{w} -> {c}\n" for w, c in zip(words, counts.tolist())]
    alpha = ALPHA_HEADER + "\n" + "".join(lines)
    # Stable sort by count desc keeps ties in word order.
    order = np.argsort(-counts, kind="stable")
    by_count = BY_COUNT_HEADER + "\n" + "".join(lines[i] for i in order.tolist())
    return alpha.encode(), by_count.encode()


def gen_text(
    path: str, seed: int, n_tokens: int, vocab: int, s: float
) -> TextTruth:
    """Write a Zipf(``s``) text of ``n_tokens`` words over ``vocab`` ranks."""
    rng = np.random.default_rng([seed, 1])
    ids = zipf_ids(rng, n_tokens, vocab, s)
    used, inverse = np.unique(ids, return_inverse=True)
    strings = word_strings(used, vocab, seed)
    delims = rng.choice(
        len(_DELIMS), size=n_tokens, p=np.array(_DELIM_WEIGHTS) / sum(_DELIM_WEIGHTS)
    )
    pieces = [None] * (2 * n_tokens)
    pieces[0::2] = strings[inverse].tolist()
    pieces[1::2] = [_DELIMS[d] for d in delims.tolist()]
    data = ("".join(pieces) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)

    counts = np.bincount(inverse, minlength=len(used))
    order = np.argsort(strings, kind="stable")
    words = strings[order].tolist()
    counts = counts[order]
    alpha, by_count = listing_bytes(words, counts)
    return TextTruth(
        path=path,
        n_bytes=len(data),
        tokens=int(counts.sum()),
        words=words,
        counts=counts,
        alpha_sha256=hashlib.sha256(alpha).hexdigest(),
        by_count_sha256=hashlib.sha256(by_count).hexdigest(),
    )


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb)


def gen_docs(
    out_dir: str,
    seed: int,
    n_docs: int,
    doc_tokens: int,
    vocab: int,
    s: float,
) -> DocsTruth:
    """Write ``{out_dir}/documents.parquet``: ``n_docs`` space-separated docs
    of ``doc_tokens`` Zipf(``s``) words, of which ``DUP_FRAC`` are copies of
    an original doc with ``EDIT_FRAC`` of their token positions replaced by
    random words; an original gets one or two copies. Every planted copy
    keeps token-set Jaccard >= ``MIN_JACCARD`` with its original (checked
    here), so each planted group is one cluster of the engine's dedup."""
    rng = np.random.default_rng([seed, 2])
    n_dup = int(round(n_docs * DUP_FRAC))
    n_orig = n_docs - n_dup
    # Group shapes repeat 1, 1, 2 copies per original, so every seed plants
    # the same mix of group sizes and the closure does the same work.
    copies = [1 + (g % 3 == 2) for g in range(n_dup)]
    n_groups = next(g for g in range(n_dup + 1) if sum(copies[:g]) >= n_dup)
    ids = zipf_ids(rng, n_orig * doc_tokens, vocab, s).reshape(n_orig, doc_tokens)
    used, inverse = np.unique(ids, return_inverse=True)
    strings = word_strings(used, vocab, seed)
    docs = strings[inverse.reshape(ids.shape)].tolist()
    originals = rng.choice(n_orig, size=n_groups, replace=False)
    base_of = np.repeat(originals, copies[:n_groups])[:n_dup]
    n_edit = max(1, int(round(EDIT_FRAC * doc_tokens)))
    edit_pool = word_strings(
        rng.integers(0, vocab, size=n_dup * n_edit), vocab, seed
    ).tolist()
    for j, b in enumerate(base_of.tolist()):
        copy = list(docs[b])
        pos = rng.choice(doc_tokens, size=n_edit, replace=False)
        for p, w in zip(pos.tolist(), edit_pool[j * n_edit : (j + 1) * n_edit]):
            copy[p] = w
        if jaccard(copy, docs[b]) < MIN_JACCARD:
            raise ValueError(f"planted copy {j} fell below Jaccard {MIN_JACCARD}")
        docs.append(copy)
    # Shuffle doc ids so planted copies do not sit next to their originals.
    doc_id = rng.permutation(n_docs).astype(np.int64)
    texts = [" ".join(d) for d in docs]

    groups: dict[int, list[int]] = {}
    for j, b in enumerate(base_of.tolist()):
        groups.setdefault(b, [int(doc_id[b])]).append(int(doc_id[n_orig + j]))
    clusters = {}
    for members in groups.values():
        root = min(members)
        for m in members:
            clusters[m] = root

    table = pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["fi"] * n_docs, pa.string()),
            "source": pa.array(["gen"] * n_docs, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    ).sort_by("doc_id")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, compression="snappy")
    return DocsTruth(
        dir=out_dir,
        path=path,
        n_bytes=os.path.getsize(path),
        n_docs=n_docs,
        clusters=clusters,
    )
