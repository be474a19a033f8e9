"""Session artifacts: derived relations built once and reused by every query.

An artifact is a function ``fn(spark, sf_dir, *args)`` decorated with
``@artifact``: a persisted spine relation, a trained index, a lazily
built plan. Its first call builds the value and every later call in the
same session over the same fixture returns that same object. The store
decides only the key and the lifetime; how a value is persisted (lazy,
eager ``count()``, checkpoint) stays with its builder, because those
choices differ per artifact on purpose (NOTES trap 17).

Key: ``(fn, applicationId, abspath(sf_dir), io.fixture_token(sf_dir),
args)``. The applicationId scopes an entry to one Spark application, the
fixture token (size + mtime of the parquet inputs) to one generation of
the fixture.

Retention: no eviction when a session moves on to another fixture dir.
bench.py runs its sf0.001 codegen pass between the sf0.1 fills and the
timed passes, so evicting there would make the timed pass refill every
artifact. A long-lived session sweeping many fixture dirs therefore
accumulates one set of artifacts per corpus (small at fixture scale),
and a lost executor invalidates a non-reliable checkpoint for every
consumer at once, which surfaces as a recompute, not a wrong answer.

The one eviction is a regenerated fixture (NOTES traps 2 and 25): a miss
whose token differs from a stored entry's for the same session and path
unpersists that entry (blocking) and drops it. A new key alone would not
do: while a persisted DataFrame over the old file is alive, Spark's
CacheManager also serves its rows to a fresh read of the same path.
"""

from __future__ import annotations

import functools
import os
import time

from pyspark.sql import DataFrame, SparkSession

_STORE: dict[tuple, object] = {}


def _frames(value):
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            yield v


def frames():
    """Every DataFrame the store holds."""
    for value in list(_STORE.values()):
        yield from _frames(value)


def _evict_stale(app: str, path: str, token: str) -> None:
    for key, value in list(_STORE.items()):
        if key[1:3] == (app, path) and key[3] != token:
            for df in _frames(value):
                if df.is_cached:
                    df.unpersist(blocking=True)
            _STORE.pop(key, None)


def artifact(fn):
    """Memoize ``fn(spark, sf_dir, *args)`` per session and fixture."""

    @functools.wraps(fn)
    def get(spark: SparkSession, sf_dir: str, *args):
        # io stores its own tables here, so it is imported on use
        from .io import fixture_token

        app = spark.sparkContext.applicationId
        path = os.path.abspath(sf_dir)
        token = fixture_token(sf_dir)
        key = (fn, app, path, token, args)
        try:
            return _STORE[key]
        except KeyError:
            pass
        _evict_stale(app, path, token)
        # concurrent misses may both build; the first stored value wins,
        # so every caller shares one object
        return _STORE.setdefault(key, fn(spark, sf_dir, *args))

    return get


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# Queries whose one-time staging writes (``io.staged``) are layout
# maintenance or external-source scaffolding, not query cost: run each
# once so a timed pass measures the readback.
STAGED_QUERIES = (
    "layout_compaction_read",
    "src_schema_evolution_scan",
    "src_avro_roundtrip_scan",
    "layout_dynamic_overwrite",
    "layout_codec_stats",
    "layout_ivm_delta_join",
    # the SQLite database and WARC archives, so the timed entries
    # measure the partitioned scan / archive parse
    "src_sqlite_partitioned_scan",
    "src_warc_scan",
    "src_protobuf_wire_scan",
)


def warm(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Bring a session to the warm state every bench pass assumes.

    Fills the index-class artifacts many queries share, stages the
    layouts and pays the one-off cold starts, in a fixed order. Returns
    ``{label: seconds}`` per step, so one-time artifact costs stay
    separately auditable from per-query timings: a query "speedup" that
    is really work moving into setup shows up as a setup-line increase.
    """
    from . import io, registry
    from .llm_ops import dedup, graph, similarity, text
    from .operators import joins
    from .sources import rest

    queries = registry.queries()

    def tables() -> None:
        # JVM/codegen spin-up plus one narrow pass over every fixture
        # table so file indexes and footers are cached
        _noop(spark.range(1_000_000).selectExpr("sum(id)"))
        for t in io.TABLES:
            _noop(io.load_table(spark, sf_dir, t))

    def rest_pages() -> None:
        rest.register(spark)
        rest.materialize_pages(spark, sf_dir, rest._endpoint_for(sf_dir))

    steps = [
        ("jvm_and_table_warmup", tables),
        # REST endpoint pages and the bucketed layout are amortized
        # across every later query (idempotent when already there)
        ("rest_endpoint_pages", rest_pages),
        # The FIRST read through the Python DataSource at this sf_dir
        # pays a one-off runner/plan-conversion cold start (~1-6 s at
        # sf0.1) that made src_rest_paged_scan's number wobble across
        # rounds; production amortizes it across the session.
        ("rest_datasource_cold_start",
         lambda: _noop(queries["src_rest_paged_scan"](spark, sf_dir))),
        ("bucketed_table_layout",
         lambda: _noop(joins.bucketed_colocated_join(spark, sf_dir))),
        # ANN indexes are trained once and served to every query in
        # production; the shared spines below are built once per corpus
        # snapshot. Filled here, the first consumer in any query order
        # is not charged the build.
        ("ivf_index_training", lambda: similarity._ivf_index(spark, sf_dir)),
        ("pq_index_training", lambda: similarity._pq_index(spark, sf_dir)),
        ("shingle_cache_fill",
         lambda: dedup._hashed_shingles(spark, sf_dir).count()),
        ("portable_shingle_cache_fill",
         lambda: dedup._portable_shingles(spark, sf_dir)),
        ("token_cache_fill", lambda: text._token_relation(spark, sf_dir).count()),
        ("bigram_cache_fill", lambda: text._bigram_relation(spark, sf_dir)),
        ("graph_edge_relation_fill", lambda: graph._edges(spark, sf_dir).count()),
        ("kcore_edge_relation_fill",
         lambda: graph._kcore_edges(spark, sf_dir).count()),
    ] + [
        (f"staged:{q}", lambda q=q: _noop(queries[q](spark, sf_dir)))
        for q in STAGED_QUERIES
    ]
    secs: dict[str, float] = {}
    for label, step in steps:
        t0 = time.time()
        step()
        secs[label] = round(time.time() - t0, 3)
    return secs
