"""Driver-contract smoke: entry() runs, every queries() entry produces rows,
oracle_sql() covers the queries it claims."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# Queries allowed to return zero rows at sf0.001 (near-dup pairs may not
# exist in tiny samples — driver treats >=0 rows as pass for those).
MAY_BE_EMPTY = {
    "minhash_pairs",
    "ngram_jaccard",
    "dedup_exact",
    "embedding_neardup",
    "simhash_pairs",
}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_and_yields_rows(spark, sf_dir, name):
    fn = entrymod.queries()[name]
    df = fn(spark, sf_dir)
    n = df.count()
    if name in MAY_BE_EMPTY:
        assert n >= 0
    else:
        assert n > 0, f"{name} returned no rows at {sf_dir}"


def test_oracle_keys_subset_of_queries():
    qs = set(entrymod.queries())
    orc = set(entrymod.oracle_sql())
    assert orc <= qs
    # every oracle string is non-trivial SQL
    assert all(len(s.strip()) > 20 for s in entrymod.oracle_sql().values())


def test_release_session_caches(spark, sf_dir):
    """One teardown call releases every session-scoped memoized artifact:
    semdedup assignment, IVFPQ model, minhash pairs, bm25 index dirs, and
    the curation flagship's persisted stage boundaries."""
    entrymod.queries()["semdedup"](spark, sf_dir).count()
    entrymod.queries()["rerank_topk"](spark, sf_dir).count()
    assert entrymod._SEMDEDUP_ASSIGN_CACHE
    assert entrymod._IVFPQ_MODEL_CACHE
    entrymod.release_session_caches()
    assert not entrymod._SEMDEDUP_ASSIGN_CACHE
    assert not entrymod._IVFPQ_MODEL_CACHE
    assert not entrymod._PAIRS_CACHE
    assert not entrymod._BM25_INDEX_CACHE
    assert not entrymod._CURATION_PERSISTS


def test_release_session_caches_drops_plan_memos(spark):
    """The generator and token_features plan memos pin the session's plan
    objects; teardown must drop them with the other session caches."""
    from transmog_spark import pipeline
    from transmog_spark.sources import synth

    pipeline.token_features(spark, 50)
    assert synth._SEQUENCES_PLANS and pipeline._TOKEN_FEATURES_PLANS
    entrymod.release_session_caches()
    assert not synth._SEQUENCES_PLANS
    assert not pipeline._TOKEN_FEATURES_PLANS
