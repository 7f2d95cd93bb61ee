"""The driver runs all 44 contract queries in ONE session; r2 leaked three
independent persist()s of the triples frame (VERDICT r2 item 6). Pin the
fix: the four KG queries share one persisted frame, and release_caches()
leaves it unpersisted.

Assertions use DataFrame.storageLevel (the cache manager's own state for
that exact plan) rather than global getPersistentRDDs counts — the shared
pytest session's ContextCleaner asynchronously unpersists frames dropped
by earlier tests, so absolute counts are racy.
"""

SF = "/root/testdata/sf0.001"


def _is_cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_kg_queries_share_one_persisted_frame(spark):
    import __spark_entry__ as entry

    entry.release_caches()

    edges = entry.q_kg_edges(spark, SF)
    nodes = entry.q_kg_nodes(spark, SF)
    linked = entry.q_entity_link(spark, SF)
    scored = entry.q_entity_link_scored(spark, SF)
    assert edges.count() > 0
    assert nodes.count() > 0
    assert linked.count() > 0
    assert scored.count() > 0

    # exactly ONE shared cache entry across all four queries, and it is
    # genuinely persisted
    assert len(entry._TRIPLES_CACHE) == 1
    (frame,) = entry._TRIPLES_CACHE.values()
    assert _is_cached(frame)

    entry.release_caches()
    assert not entry._TRIPLES_CACHE
    assert not _is_cached(frame)


def test_cache_evicts_on_sf_dir_change(spark):
    import __spark_entry__ as entry

    entry.release_caches()
    first = entry._shared_triples(spark, SF)
    first.count()
    assert _is_cached(first)
    second = entry._shared_triples(spark, "/root/testdata/sf0.01")
    # old key evicted eagerly and unpersisted -> never more than one live
    assert len(entry._TRIPLES_CACHE) == 1
    assert not _is_cached(first)
    second.count()
    assert _is_cached(second)
    entry.release_caches()
    assert not _is_cached(second)
    assert not entry._TRIPLES_CACHE


def test_driver_contract_export_cap():
    """The round driver sweeps at most 50 queries() entries in dict order
    (CORRECTNESS_r05 checked exactly the first 50 of 52). Pin the export
    count AT the cap and the invariants around the rotation: no overlap
    with extra_queries(), and every entry in either dict has an oracle."""
    import __spark_entry__ as em

    qs, extra, oracles = em.queries(), em.extra_queries(), em.oracle_sql()
    assert len(qs) == 50, f"exports must stay exactly 50, got {len(qs)}"
    assert not set(qs) & set(extra)
    assert set(qs) | set(extra) == set(oracles)
