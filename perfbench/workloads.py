"""The benchmark's workloads: input generation, the timed job, its output
check and one traced iteration of prefix plans.

The program is called only through its public functions:
``sources.textfile.run_reference_pipeline`` for the word-count workloads and
``operators.graphdedup.dedup_clusters_lsh`` for the dedup workload.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

from parallel_map_reduce_word_counter_for_one_machine_spark.operators import (
    dedup as dedup_mod,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.operators.graphdedup import (
    dedup_clusters_lsh,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.operators.wordcount import (
    tokenize_ref,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
    load_table,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.sources.textfile import (
    read_text_lines,
    run_reference_pipeline,
)

import check
import gen

MB = 1e6


def _noop(df) -> None:
    """Run a plan to completion without writing anything."""
    df.write.format("noop").mode("overwrite").save()


class WordCount:
    """The reference program over a generated Zipf text file."""

    def __init__(self, name: str, n_tokens: int, vocab: int, s: float):
        self.name, self.n_tokens, self.vocab, self.s = name, n_tokens, vocab, s

    def generate(self, work_dir: str, seed: int) -> None:
        self.truth = gen.gen_text(
            os.path.join(work_dir, "input.txt"), seed, self.n_tokens, self.vocab, self.s
        )
        self.out_dir = os.path.join(work_dir, "out")
        self.input_mb = self.truth.n_bytes / MB

    def describe(self) -> str:
        return (
            f"{self.input_mb:.1f} MB text, {self.truth.tokens} tokens, "
            f"{len(self.truth.words)} distinct words (Zipf s={self.s})"
        )

    def run_job(self, spark):
        run_reference_pipeline(spark, self.truth.path, self.out_dir)

    def check(self, _result) -> list[str]:
        return check.check_listings(self.out_dir, self.truth)

    def trace(self, spark, tracer) -> tuple[int, object]:
        """One traced iteration; returns its root span's index and the
        job's result for the output check."""
        path = self.truth.path
        with tracer.span("sources.scan") as scan:
            _noop(read_text_lines(spark, path))
        with tracer.span("wordcount.tokenize", {scan: 1}) as tok:
            _noop(tokenize_ref(read_text_lines(spark, path), "value"))
        with tracer.span("wordcount.aggregate", {tok: 1}) as agg:
            _noop(
                tokenize_ref(read_text_lines(spark, path), "value")
                .groupBy("word")
                .agg(F.count("*").alias("cnt"))
            )
        # Each of the two listings re-runs scan, tokenize and aggregate.
        with tracer.span("wordcount.listing", {agg: 2}) as root:
            result = self.run_job(spark)
        return root, result

    def layer_metrics(self, spark, tracer, roots: list[int]) -> dict:
        by_name = tracer.self_times_by_name(roots)
        top = tracer.spans[roots[0]].counters
        return {
            "sources.scan_s": statistics.median(by_name["sources.scan"]),
            "sources.read_amplification": top["input_bytes"] / self.truth.n_bytes,
            "wordcount.tokenize_s": statistics.median(by_name["wordcount.tokenize"]),
            "wordcount.tokens": self.truth.tokens,
            "wordcount.aggregate_s": statistics.median(by_name["wordcount.aggregate"]),
            "wordcount.distinct_words": len(self.truth.words),
            "wordcount.listing_s": statistics.median(by_name["wordcount.listing"]),
        }


class CorpusDedup:
    """Fuzzy dedup clustering over a generated corpus with planted
    near-duplicate groups."""

    name = "corpus_dedup"

    def __init__(self, n_docs: int, doc_tokens: int, vocab: int, s: float):
        self.n_docs, self.doc_tokens, self.vocab, self.s = n_docs, doc_tokens, vocab, s

    def generate(self, work_dir: str, seed: int) -> None:
        self.truth = gen.gen_docs(
            os.path.join(work_dir, "corpus"), seed, self.n_docs, self.doc_tokens,
            self.vocab, self.s,
        )
        self.input_mb = self.truth.n_bytes / MB

    def describe(self) -> str:
        groups = len(set(self.truth.clusters.values()))
        return (
            f"{self.n_docs} docs x {self.doc_tokens} tokens "
            f"({self.input_mb:.2f} MB parquet), {groups} planted groups "
            f"of {len(self.truth.clusters)} docs"
        )

    def run_job(self, spark):
        return dedup_clusters_lsh(spark, self.truth.dir).collect()

    def check(self, rows) -> list[str]:
        return check.check_clusters(rows, self.truth)

    def trace(self, spark, tracer) -> tuple[int, object]:
        with tracer.span("sources.scan") as scan:
            _noop(load_table(spark, self.truth.dir, "documents").select("doc_id", "text"))
        with tracer.span("dedup.lsh_pairs", {scan: 1}) as pairs:
            _noop(dedup_mod.lsh_verified_pairs(spark, self.truth.dir))
        # The closure localCheckpoints the pair list, so it builds it once.
        with tracer.span("graphdedup.closure", {pairs: 1}) as root:
            result = self.run_job(spark)
        return root, result

    def _pair_counts(self, spark) -> tuple[int, int]:
        """(candidate pairs, verified pairs) of one ``lsh_verified_pairs``
        call, counted by wrapping the two steps it calls; untimed."""
        captured = {}

        def capture(name, fn):
            def wrapper(*args, **kwargs):
                captured[name] = fn(*args, **kwargs)
                return captured[name]

            return wrapper

        saved = dedup_mod.lsh_candidate_pairs, dedup_mod._jaccard_verify
        dedup_mod.lsh_candidate_pairs = capture("cands", saved[0])
        dedup_mod._jaccard_verify = capture("verified", saved[1])
        try:
            dedup_mod.lsh_verified_pairs(spark, self.truth.dir)
        finally:
            dedup_mod.lsh_candidate_pairs, dedup_mod._jaccard_verify = saved
        cands, verified = (
            captured[k].select("doc_a", "doc_b").distinct().count()
            for k in ("cands", "verified")
        )
        return cands, verified

    def layer_metrics(self, spark, tracer, roots: list[int]) -> dict:
        by_name = tracer.self_times_by_name(roots)
        closure = tracer.spans[roots[0]]
        pairs = tracer.spans[tracer.child(roots[0], "dedup.lsh_pairs")]
        cands, verified = self._pair_counts(spark)
        return {
            "dedup.candidate_pairs": cands,
            "dedup.verified_frac": verified / cands if cands else 0.0,
            "sources.scan_s": statistics.median(by_name["sources.scan"]),
            "sources.read_amplification": closure.counters["input_bytes"]
            / self.truth.n_bytes,
            "dedup.lsh_pairs_s": statistics.median(by_name["dedup.lsh_pairs"]),
            "graphdedup.closure_s": statistics.median(by_name["graphdedup.closure"]),
            "graphdedup.spark_jobs": closure.jobs - pairs.jobs,
        }


WORKLOADS = {
    w.name: w
    for w in (
        WordCount("wc_zipf", n_tokens=1_000_000, vocab=100_000, s=1.1),
        WordCount("wc_longtail", n_tokens=600_000, vocab=4_000_000, s=0.6),
        CorpusDedup(n_docs=400, doc_tokens=100, vocab=100_000, s=1.1),
    )
}
