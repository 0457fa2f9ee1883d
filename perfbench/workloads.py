"""Workload definitions: which registry keys run, over which fixture.

Each workload is a fixed key list run as a closed loop with one client
(one invocation at a time) over a seeded fixture. ``fixture`` holds the
arguments of :func:`fixtures.build` other than the directory and seed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    fixture: dict
    why: str
    # Warm-pass wall time on the reference machine (4 cores). A run makes
    # round(--seconds / nominal_pass_s) warm passes, so every run of a
    # workload does the same work: the JIT is still warming over the first
    # passes, and a time-bound pass count would move the median with it.
    nominal_pass_s: float


WORKLOADS: dict[str, Workload] = {
    "xml_olap": Workload(
        keys=(
            "q_tpch_q1", "q_tpch_q3", "q_join_asof", "q_xml_parse_struct",
            "E-XML-SRC", "E-SINK-PQ",
        ),
        fixture=dict(sf=0.01, n_events=10_000, n_docs=500, n_embeddings=500),
        nominal_pass_s=2.3,
        why=(
            "relational queries whose fixed per-query cost (construction, "
            "Catalyst, job scheduling) dominates, plus the paper's XML "
            "parse/source and parquet sink paths"
        ),
    ),
    "llm_curation": Workload(
        keys=(
            "q_dedup_exact", "q_dedup_ngram_jaccard", "q_text_dsir",
            "q_udf_pandas", "E-SHARD-WRITE",
        ),
        fixture=dict(sf=0.001, n_events=1_000, n_docs=1_000, n_embeddings=500),
        nominal_pass_s=3.1,
        why=(
            "LLM-corpus curation: shuffle, checkpoints and Python workers do "
            "the work; shingle dedup runs its posting-list route (below 20k "
            "docs); shards are written"
        ),
    ),
    # Not in BENCHMARK.json: one run takes about two minutes, beyond the
    # per-run budget. It is the only corpus above the 20k-doc cutover, so
    # it alone runs the k=2 prefix-pair dedup route; run it by name when a
    # change touches that route.
    "dedup_volume": Workload(
        keys=("q_dedup_containment", "q_dedup_ngram_jaccard"),
        fixture=dict(sf=0.001, n_events=1_000, n_docs=25_000, n_embeddings=500),
        nominal_pass_s=32.0,
        why="the only corpus above the 20k-doc cutover: k=2 prefix-pair route",
    ),
    # Harness self-test: one small key at sf0.001, traced.
    "selftest": Workload(
        keys=("q_agg_group",),
        fixture=dict(sf=0.001, n_events=1_000, n_docs=500, n_embeddings=500),
        nominal_pass_s=0.3,
        why="checks the harness's counters and layer sums on one small key",
    ),
}

# Keys whose candidate route is picked from the documents row count
# (llm_dedup._PAIR_BLOCK_MIN_DOCS, then _RECOUNT_SEMI_MIN_DOCS).
ROUTED_KEYS = frozenset({"q_dedup_containment", "q_dedup_ngram_jaccard"})
# Workloads that must run those keys on opposite sides of the cutover.
ROUTE_PAIR = ("llm_curation", "dedup_volume")
