"""Invariant tests for the round-13 batch12 operator (PPJoin
shard-planning audit). Declared for the driver's DuckDB hash gate;
these pin the invariants a refactor could silently break between
oracle runs — and that the audit's numbers reconcile EXACTLY with the
posting relation and the Python selection rule it certifies.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_to_parquet_spark import registry

registry.load_all()


def test_shard_balance_reconciles_with_postings(run, spark, sf_dir):
    """The audit is an exact decomposition of the prefix-posting
    relation: per-shard posting counts sum to the relation's row
    count, shares sum to ~10000 bp (integer-floor remainder < S), the
    hottest token's count is bounded by its shard's mass, and every
    shard id is a pmod-8 residue."""
    from kafka_to_parquet_spark.llm.minhash import _prefix_postings
    from kafka_to_parquet_spark.operators.batch12 import AUDIT_S

    rows = {r.shard: r for r in run("q_shard_balance").collect()}
    assert set(rows) <= set(range(AUDIT_S))
    _, _, prefix = _prefix_postings(spark, sf_dir, "n - ((n + 1) DIV 2) + 1")
    n_prefix = prefix.count()
    assert sum(r.n_postings for r in rows.values()) == n_prefix
    total_bp = sum(r.share_bp for r in rows.values())
    assert 10000 - AUDIT_S < total_bp <= 10000
    for r in rows.values():
        assert 1 <= r.max_token_df <= r.n_postings
        assert r.n_tokens <= r.n_postings


def test_shard_balance_certifies_selection_rule(run, spark, sf_dir):
    """auto_shards must equal what minhash.ppjoin_shards actually
    selects for the same corpus, for any per-pass budget — the column
    exists to certify the Python arithmetic."""
    from kafka_to_parquet_spark.llm import minhash

    rows = run("q_shard_balance").collect()
    reported = {r.auto_shards for r in rows}
    assert reported == {minhash.ppjoin_shards(spark, sf_dir)}
    # tiny fixture, default budget: single-pass
    assert reported == {1}


def test_shard_balance_no_shard_dominated_by_one_token(run):
    """On the fixture corpus the rarest-first prefix keeps hot
    boilerplate OUT of the postings, so no shard's mass should be one
    token (the audit exists to surface exactly that pathology)."""
    for r in run("q_shard_balance").collect():
        if r.n_postings >= 10:
            assert r.max_token_df < r.n_postings, (
                f"shard {r.shard} is a single-token bucket"
            )
