"""One cache lifecycle: operators ``pin`` the intermediates they read more
than once, and ``release_plan_caches()`` frees every pinned frame, leaving
the CacheManager empty.  Outside the registry a frame is persisted only
by a local persist/unpersist pair with one owner
(``similarity.farthest_first_seeds``, ``pipelines.ingest_instantaneous``,
``streaming/documents.py``'s compaction sweep)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark.extensions import sampling, similarity
from nr_rfc_dischargeobs_spark.extensions import text as textops
from nr_rfc_dischargeobs_spark.session import pin, release_plan_caches


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean_cache(spark):
    # start from an empty CacheManager: a frame another test persisted
    # itself must not count against the registry
    spark.catalog.clearCache()
    return spark


def test_pin_then_release_empties_the_cache_manager(clean_cache):
    spark = clean_cache
    df = pin(spark.range(10))
    assert df.is_cached
    assert not _cache_is_empty(spark)
    assert df.count() == 10
    assert release_plan_caches() == 1
    assert _cache_is_empty(spark)
    assert release_plan_caches() == 0


_TEXTS = [
    "the river gauge reads high water at the north station",
    "the river gauge reads low water at the south station",
    "snow melt drives the river gauge at the north station",
    "the river gauge reads high water at the north station",
    "rain on snow raises the river gauge reading overnight",
]


def _docs(spark):
    return spark.createDataFrame(list(enumerate(_TEXTS)), ["doc_id", "text"])


def _semantic_dedup(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.4]), (1, [0.4, 1.0]), (2, [0.9, 0.01]),
         (3, [0.91, 0.01]), (4, [0.01, 0.8])],
        ["vec_id", "embedding"],
    )
    cents = similarity.prepare(emb.filter(F.col("vec_id") < 2))
    return similarity.semantic_dedup(similarity.prepare(emb), cents, 0.95)


# (operator, frames it pins)
_PINNING_OPS = {
    "collocations": (
        lambda s: textops.collocations(_docs(s), min_count=1, k=5), 2),
    "winnow_pairs": (
        lambda s: textops.winnow_pairs(_docs(s), min_shared=1), 1),
    "bm25_topk": (
        lambda s: textops.bm25_topk(_docs(s), ["river", "snow"], k=3), 1),
    "dsir_resample": (
        lambda s: sampling.dsir_resample(
            _docs(s), _docs(s).filter(F.col("doc_id") < 2), k=2), 2),
    "semantic_dedup": (_semantic_dedup, 1),
}


@pytest.mark.parametrize("name", sorted(_PINNING_OPS))
def test_operator_pins_are_all_released(clean_cache, name):
    spark = clean_cache
    build, n_pins = _PINNING_OPS[name]
    assert build(spark).collect()
    assert release_plan_caches() == n_pins
    assert _cache_is_empty(spark)
