"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _text(tmp_path, name="t.txt", seed=7):
    return gen.gen_text(str(tmp_path / name), seed, 20_000, 5_000, 1.1)


def _docs(tmp_path, name="d", seed=7):
    return gen.gen_docs(str(tmp_path / name), seed, 200, 60, 5_000, 1.1)


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b = _text(tmp_path, "a.txt"), _text(tmp_path, "b.txt")
    assert _sha(a.path) == _sha(b.path)
    assert a.alpha_sha256 == b.alpha_sha256
    c = _text(tmp_path, "c.txt", seed=8)
    assert _sha(a.path) != _sha(c.path)

    d1, d2 = _docs(tmp_path, "d1"), _docs(tmp_path, "d2")
    assert _sha(d1.path) == _sha(d2.path)
    assert d1.clusters == d2.clusters
    assert _sha(_docs(tmp_path, "d3", seed=8).path) != _sha(d1.path)


def test_text_truth_matches_a_reference_tokenizer(tmp_path):
    """The kept counts equal a plain re-tokenization of the file with the
    reference's rule: a word is a run of ASCII letters or non-ASCII chars."""
    t = _text(tmp_path)
    with open(t.path, encoding="utf-8") as f:
        data = f.read()
    counts: dict[str, int] = {}
    word = []
    for ch in data + "\n":
        if ch.isascii() and not ch.isalpha():
            if word:
                w = "".join(word)
                counts[w] = counts.get(w, 0) + 1
                word = []
        else:
            word.append(ch)
    assert counts == dict(zip(t.words, t.counts.tolist()))
    assert any(not w.isascii() for w in t.words)
    assert {"\t", "-", "1"} <= set(data)


def _listings(t):
    return gen.listing_bytes(t.words, t.counts)


def test_check_accepts_the_exact_listings(tmp_path):
    t = _text(tmp_path)
    alpha, by_count = _listings(t)
    assert check.check_listing(alpha, t, "alpha") == []
    assert check.check_listing(by_count, t, "by_count") == []


@pytest.mark.parametrize("kind", ["alpha", "by_count"])
def test_check_rejects_a_count_off_by_one(tmp_path, kind):
    t = _text(tmp_path)
    data = _listings(t)[0 if kind == "alpha" else 1]
    lines = data.split(b"\n")
    word, cnt = lines[5].rsplit(b" -> ", 1)
    lines[5] = word + b" -> " + str(int(cnt) + 1).encode()
    errors = check.check_listing(b"\n".join(lines), t, kind)
    assert any("sum of counts" in e for e in errors)
    assert any("wrong counts" in e for e in errors)


@pytest.mark.parametrize("kind", ["alpha", "by_count"])
def test_check_rejects_a_swapped_pair(tmp_path, kind):
    t = _text(tmp_path)
    data = _listings(t)[0 if kind == "alpha" else 1]
    lines = data.split(b"\n")
    lines[1], lines[2] = lines[2], lines[1]
    errors = check.check_listing(b"\n".join(lines), t, kind)
    assert any("out of order" in e for e in errors)


def test_check_rejects_a_wrong_header(tmp_path):
    t = _text(tmp_path)
    alpha, _ = _listings(t)
    bad = alpha.replace(gen.ALPHA_HEADER.encode(), b"=== Final Word Counts (A -> Z) ===")
    assert any("header" in e for e in check.check_listing(bad, t, "alpha"))


def test_planted_groups_and_cluster_check(tmp_path):
    d = _docs(tmp_path)
    sizes = {}
    for root in d.clusters.values():
        sizes[root] = sizes.get(root, 0) + 1
    rows = [(doc, root, sizes[root]) for doc, root in d.clusters.items()]
    assert len(rows) >= 20 and all(s >= 2 for s in sizes.values())
    assert check.check_clusters(rows, d) == []

    # One planted duplicate missing from the cluster map.
    dup = next(doc for doc, root in d.clusters.items() if doc != root)
    missing = [r for r in rows if r[0] != dup]
    assert any("missing" in e for e in check.check_clusters(missing, d))

    # One doc assigned to another group.
    other = next(r for r in rows if r[1] != rows[0][1])
    moved = [(rows[0][0], other[1], other[2])] + rows[1:]
    assert any("wrong cluster" in e for e in check.check_clusters(moved, d))


def test_self_time_subtracts_repeated_children():
    tracer = Tracer.__new__(Tracer)
    tracer.spans = [
        Span("scan", 0.0, 1.0, parent=1, repeat=1),
        Span("aggregate", 1.0, 3.0, parent=2, repeat=2),
        Span("listing", 3.0, 10.0),
    ]
    assert tracer.self_time(0) == 1.0
    assert tracer.self_time(1) == 1.0
    assert tracer.self_time(2) == 7.0 - 2 * 2.0


def test_reported_metrics_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for section, units in (("end_to_end", run.E2E_UNITS), ("per_layer", run.LAYER_UNITS)):
        assert [(m["name"], m["unit"]) for m in bench[section]] == list(units.items())
