"""simhash_candidate_count == simhash_candidates().count() — the
arithmetic first-matching-band count (VERDICT r13 item 6) must agree
with the join+distinct path exactly, at both fingerprint widths and on
a duplicate-heavy corpus (exact clones exercise every band matching at
once, the worst case for the inclusion-exclusion signs)."""

from __future__ import annotations

import pytest

from datafusion_functions_financial_spark.operators import dedup as dd
from datafusion_functions_financial_spark.operators.corpusgen import (
    zipf_corpus,
)


@pytest.mark.parametrize("bits,max_hamming", [(31, 3), (62, 3), (62, 2)])
def test_count_matches_join_path_zipf(spark, bits, max_hamming):
    corpus = zipf_corpus(spark, 600, partitions=8).localCheckpoint()
    s = dd.simhash(corpus, "text", "doc_id", bits).localCheckpoint()
    joined = dd.simhash_candidates(
        corpus, max_hamming=max_hamming, bits=bits, s=s).count()
    counted = dd.simhash_candidate_count(
        corpus, max_hamming=max_hamming, bits=bits,
        s=s).collect()[0]["n_candidates"]
    assert counted == joined
    assert counted > 0  # the zipf corpus guarantees near-dup pairs


def test_count_matches_on_exact_clones(spark):
    # 40 docs in 4 identical groups of 10: every in-group pair matches
    # ALL bands — maximal cross-band overlap, so any sign error in the
    # inclusion-exclusion shows up immediately (expected 4 * C(10,2)
    # plus whatever chance collisions add, but both paths must agree).
    # Second input: an empty corpus, where the count is 0, not NULL.
    rows = [(i, f"clone group {i % 4} body text repeated tokens")
            for i in range(40)]
    schema = "doc_id long, text string"
    for data, floor in ((rows, 4 * 45), ([], 0)):
        df = spark.createDataFrame(data, schema)
        joined = dd.simhash_candidates(df).count()
        counted = dd.simhash_candidate_count(
            df).collect()[0]["n_candidates"]
        assert counted == joined
        assert counted >= floor
