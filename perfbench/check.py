"""Output checks against the generator's ground truth.

Each check returns a list of error strings; an empty list means the output is
correct. A listing is first compared by SHA-256 with the exact bytes the
generator derived; only on a mismatch is it parsed, to say what is wrong.
"""

from __future__ import annotations

import glob
import hashlib
import os

from gen import ALPHA_HEADER, BY_COUNT_HEADER, DocsTruth, TextTruth


def read_listing(out_dir: str) -> bytes:
    """The bytes of a listing written as Spark text part files, concatenated
    in partition order (the part number leads each file name)."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not parts:
        raise FileNotFoundError(f"no part files in {out_dir}")
    chunks = []
    for p in parts:
        with open(p, "rb") as f:
            chunks.append(f.read())
    return b"".join(chunks)


def check_listing(data: bytes, truth: TextTruth, kind: str) -> list[str]:
    """Check one reference listing (``kind`` is ``alpha`` or ``by_count``)."""
    expected = truth.alpha_sha256 if kind == "alpha" else truth.by_count_sha256
    if hashlib.sha256(data).hexdigest() == expected:
        return []
    errors = _diagnose_listing(data, truth, kind)
    return errors or [f"{kind}: bytes differ from the expected listing"]


def _diagnose_listing(data: bytes, truth: TextTruth, kind: str) -> list[str]:
    header = ALPHA_HEADER if kind == "alpha" else BY_COUNT_HEADER
    lines = data.decode("utf-8", errors="replace").split("\n")
    errors = []
    if lines[0] != header:
        errors.append(f"{kind}: header {lines[0]!r} != {header!r}")
    if lines[-1] != "":
        errors.append(f"{kind}: listing does not end with a newline")
    pairs = []
    for ln in lines[1:-1]:
        word, sep, cnt = ln.rpartition(" -> ")
        if not sep or not cnt.isdigit():
            errors.append(f"{kind}: malformed line {ln!r}")
            return errors
        pairs.append((word, int(cnt)))
    total = sum(c for _, c in pairs)
    if total != truth.tokens:
        errors.append(f"{kind}: sum of counts {total} != {truth.tokens} tokens")
    got = dict(pairs)
    want = dict(zip(truth.words, truth.counts.tolist()))
    if len(got) != len(pairs):
        errors.append(f"{kind}: {len(pairs) - len(got)} duplicate words")
    wrong = [w for w in want.keys() | got.keys() if got.get(w) != want.get(w)]
    if wrong:
        w = min(wrong)
        errors.append(
            f"{kind}: {len(wrong)} words with wrong counts, "
            f"e.g. {w!r}: {got.get(w)} != {want.get(w)}"
        )
    if kind == "alpha":
        key = [w.encode() for w, _ in pairs]
    else:
        key = [(-c, w.encode()) for w, c in pairs]
    bad = next((i for i in range(1, len(key)) if not key[i - 1] < key[i]), None)
    if bad is not None:
        errors.append(f"{kind}: line {bad + 1} is out of order: {pairs[bad]!r}")
    return errors


def check_listings(out_dir: str, truth: TextTruth) -> list[str]:
    """Check both listings the reference pipeline writes under ``out_dir``."""
    return [
        e
        for kind in ("alpha", "by_count")
        for e in check_listing(read_listing(os.path.join(out_dir, kind)), truth, kind)
    ]


def check_clusters(rows, truth: DocsTruth) -> list[str]:
    """Check a cluster map of (doc_id, cluster_id, cluster_size) rows against
    the planted groups: the same docs, each with its group's smallest doc id
    and its group's size."""
    got = {}
    errors = []
    for doc_id, cluster_id, size in rows:
        if doc_id in got:
            errors.append(f"doc {doc_id} appears twice")
        got[doc_id] = (cluster_id, size)
    sizes: dict[int, int] = {}
    for root in truth.clusters.values():
        sizes[root] = sizes.get(root, 0) + 1
    want = {d: (r, sizes[r]) for d, r in truth.clusters.items()}
    missing = sorted(want.keys() - got.keys())
    extra = sorted(got.keys() - want.keys())
    wrong = sorted(d for d in want.keys() & got.keys() if got[d] != want[d])
    if missing:
        errors.append(f"{len(missing)} planted duplicates missing, e.g. doc {missing[0]}")
    if extra:
        errors.append(f"{len(extra)} docs clustered but not planted, e.g. doc {extra[0]}")
    if wrong:
        d = wrong[0]
        errors.append(
            f"{len(wrong)} docs in the wrong cluster, e.g. doc {d}: "
            f"(cluster, size) {got[d]} != {want[d]}"
        )
    return errors
