"""Scale-surface guards: verification-only all-pairs baselines must refuse
oversized inputs, and the LSH query must release its signature cache."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_verification_only_registry_annotation():
    from pdf2dom_spark import textops

    assert textops.VERIFICATION_ONLY == {"dedup_ngram_jaccard",
                                         "dedup_minhash"}
    for name in textops.VERIFICATION_ONLY:
        assert name in textops.REGISTRY


def test_allpairs_guard_trips(spark, monkeypatch, tmp_path):
    """An input above ALLPAIRS_MAX_DOCS raises before the join is built."""
    from pdf2dom_spark import textops

    monkeypatch.setattr(textops, "ALLPAIRS_MAX_DOCS", 100)
    big = spark.range(101).select(
        F.col("id").cast("string").alias("doc_id"),
        F.lit("one two three four five").alias("text"),
        F.lit("en").alias("lang"))
    big.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    with pytest.raises(ValueError, match="verification-only"):
        textops.dedup_ngram_jaccard(spark, str(tmp_path))
    with pytest.raises(ValueError, match="verification-only"):
        textops.dedup_minhash(spark, str(tmp_path))


def test_allpairs_guard_passes_small(spark):
    from pdf2dom_spark import textops

    # smoke corpus is far below the cap; returns a frame, no raise
    df = textops.dedup_minhash(spark, SF_SMOKE)
    assert df.columns == ["doc_a", "doc_b", "n_match"]


def test_lsh_releases_signature_cache(spark):
    """After the public query returns, the signature persist is gone: at
    most ONE new persistent RDD remains (the eager localCheckpoint of the
    tiny result), never two (result + leaked signature cache)."""
    from pdf2dom_spark import textops

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = textops.dedup_minhash_lsh(spark, SF_SMOKE)
    assert out.count() >= 0
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    new = after - before
    assert len(new) <= 1, f"signature cache leaked: {len(new)} new RDDs"
