"""Oracle gate for the near-duplicate chain's queries, the queries
built on the repetition signals and shingle codes, and the span-removal
and set-Jaccard queries routed through their operators: each must match
its DuckDB twin exactly, checked by ``scripts/check_parity.py`` (the
repo's type-strict comparator) in a fresh process started OUTSIDE
the checkout — which also proves the script and its Spark Python
workers import the package from the checkout, not from a fixed path."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECK_PARITY = os.path.join(ROOT, "scripts", "check_parity.py")

DEDUP_CHAIN_QUERIES = (
    "dedup_minhash_bands",
    "dedup_minhash_pairs",
    "dedup_shingle_minhash",
    "dedup_simhash",
    "dedup_simhash_hamming",
    "text_fingerprint",
    "dedup_clusters",
    "dedup_clusters_simhash",
    "corpus_prep_dedup",
    "dedup_incremental",
)

# queries built on the quality gate's repetition signals or on the
# Spark shingle codes (corpus_prep_dedup and dedup_shingle_minhash,
# above, are both too)
TOKEN_PAIR_QUERIES = (
    "corpus_prep_roundtrip",
    "text_repetition",
    "text_dup_ngrams",
    "sketch_kmv_distinct",
    "corpus_decontaminate",
)

# queries whose Spark side is operators.dedup.verify_sets or
# operators.textstats.remove_dup_spans (dedup_shingle_minhash and the
# near-dup chain above run verify_sets too)
OPERATOR_ROUTED_QUERIES = (
    "text_dedup_spans",
    "dedup_token_jaccard",
)


def _check_parity(cwd, *args, timeout):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, CHECK_PARITY, *args],
        capture_output=True, text=True, cwd=cwd, env=env, timeout=timeout,
    )


def test_dedup_chain_queries_exact_vs_duckdb(sf_dir, tmp_path):
    names = DEDUP_CHAIN_QUERIES + TOKEN_PAIR_QUERIES + OPERATOR_ROUTED_QUERIES
    r = _check_parity(str(tmp_path), sf_dir, *names, timeout=900)
    assert r.returncode == 0, (r.stdout[-3000:], r.stderr[-2000:])
    exact = {
        line.split()[1].rstrip(":")
        for line in r.stdout.splitlines()
        if line.startswith("ok ") and line.endswith("exact match")
    }
    assert exact == set(names), r.stdout[-3000:]


def test_check_parity_rejects_unknown_query_name(sf_dir, tmp_path):
    r = _check_parity(str(tmp_path), sf_dir, "dedup_minhash_pairs", "dedup_minhash_pairz", timeout=300)
    assert r.returncode == 2, (r.stdout[-2000:], r.stderr[-2000:])
    assert "dedup_minhash_pairz" in r.stdout and "ALL OK" not in r.stdout
