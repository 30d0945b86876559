"""Cache lifecycle helpers.

Several operators ``persist()`` an intermediate and leave it cached after
the returned plan materializes, because the operator cannot know when the
caller is done consuming the result: the dedup shingle table feeds ~8 plan
branches (``operators.dedup.jaccard_pairs``), and
``operators.sketches.kmv_rollup`` keeps its distinct-key table and leaf
sketch. bench.py calls ``spark.catalog.clearCache()`` between queries;
library users in long-lived sessions get these scoped helpers instead, so
operator-internal caches never outlive the computation that needed them.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


def cache_is_empty(spark: SparkSession) -> bool:
    """True if Catalyst's cache manager holds no cached plans.

    Covers ``DataFrame.persist()`` entries (which ``catalog.isCached``
    cannot see — that API is table-name keyed).

    Classic (JVM-local) sessions only: reaches through the py4j gateway
    into ``sharedState().cacheManager()``, which does not exist under
    Spark Connect — there is no public cache-introspection API at all
    there. ``released``/``cache_scope`` themselves work on any session.
    """
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())  # noqa: SLF001


@contextmanager
def released(*dfs: DataFrame) -> Iterator[tuple[DataFrame, ...]]:
    """Unpersist ``dfs`` (blocking) when the block exits.

    Works on the *caller's* handle to a DataFrame an operator persisted
    internally: ``persist``/``unpersist`` are keyed by the analyzed plan,
    not the Python object, so unpersisting the input the operator was
    given evicts the operator's internal cache entry too::

        shingled = word_shingles(docs)
        with released(shingled):
            pairs = jaccard_pairs(shingled).collect()
        # shingle cache evicted here; `pairs` already materialized.
    """
    try:
        yield dfs
    finally:
        for df in dfs:
            df.unpersist(blocking=True)


@contextmanager
def cache_scope(spark: SparkSession) -> Iterator[None]:
    """Evict every plan cached inside the block on exit.

    Coarser than :func:`released` (drops ALL cache entries created in the
    block, and any pre-existing ones — the trade for not having to thread
    DataFrame handles). Intended for request-scoped sessions where the
    block is the whole unit of work, e.g. one bench query.
    """
    try:
        yield
    finally:
        spark.catalog.clearCache()
