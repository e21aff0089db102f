"""Bounded LRU caches for long-lived readers (r3 verdict ask #6): the
term-stats cache was a crude clear-at-100k dict and the entry's engine
cache was unbounded — a long-lived reader service grows monotonically.
"""

import pytest

from iresearch_spark.util import LRUCache


def test_lru_evicts_least_recently_used():
    evicted = []
    c = LRUCache(3, on_evict=lambda k, v: evicted.append((k, v)))
    c["a"], c["b"], c["c"] = 1, 2, 3
    assert c.get("a") == 1  # refresh 'a' -> 'b' is now the oldest
    c["d"] = 4
    assert evicted == [("b", 2)]
    assert "b" not in c and "a" in c and len(c) == 3
    assert c.get("b") is None
    assert c.evictions == 1 and c.hits == 1 and c.misses == 1


def test_lru_setitem_refreshes_and_clear_fires_on_evict():
    evicted = []
    c = LRUCache(2, on_evict=lambda k, v: evicted.append(k))
    c["a"], c["b"] = 1, 2
    # overwrite refreshes recency AND releases the displaced value — two
    # threads double-building the same proxy match set must not leak the
    # first persisted DataFrame (r5 concurrent-reader hardening)
    c["a"] = 10
    assert evicted == ["a"]
    c["c"] = 3
    assert evicted == ["a", "b"]
    assert c["a"] == 10
    c.clear()
    assert sorted(evicted) == ["a", "a", "b", "c"]
    assert len(c) == 0


def test_lru_resetting_same_object_does_not_fire_on_evict():
    """Re-inserting the IDENTICAL value is a pure recency refresh — firing
    on_evict would unpersist the DataFrame the cache still holds."""
    evicted = []
    c = LRUCache(2, on_evict=lambda k, v: evicted.append(k))
    val = object()
    c["a"] = val
    c["a"] = val
    assert evicted == []
    assert c["a"] is val


def test_lru_rejects_nonpositive_maxsize():
    with pytest.raises(ValueError):
        LRUCache(0)


def test_lru_pop_fires_on_evict():
    """pop() must release resources like every other removal path — a pop
    that skipped on_evict would leak whatever the callback frees."""
    evicted = []
    c = LRUCache(3, on_evict=lambda k, v: evicted.append((k, v)))
    c["a"], c["b"] = 1, 2
    assert c.pop("a") == 1
    assert evicted == [("a", 1)]
    assert c.pop("missing", "dflt") == "dflt"
    assert evicted == [("a", 1)]  # no callback for an absent key
    assert len(c) == 1


def test_engine_stats_cache_is_bounded(spark, tmp_path_factory):
    """The term-stats cache must stay within its LRU bound under many
    distinct lookups, and bounded eviction must not affect results."""
    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index import build_index
    from iresearch_spark.search import SearchEngine, TermF

    d = str(tmp_path_factory.mktemp("idx_lru"))
    build_index(spark, generate_corpus(spark, 60, 2), d, num_segments=2)
    eng = SearchEngine(spark, d)
    eng._stats_cache = LRUCache(4)
    baseline = [
        (r["path"], r["score"])
        for r in eng.search(TermF(term="import"), k=5).collect()
    ]
    for t in ["import", "void", "def", "return", "sym_1", "sym_2", "sym_3"]:
        eng.prepare(TermF(term=t))
    assert len(eng._stats_cache) <= 4
    again = [
        (r["path"], r["score"])
        for r in eng.search(TermF(term="import"), k=5).collect()
    ]
    assert again == baseline


def test_proxy_cache_eviction_unpersists(spark, tmp_path_factory):
    """Evicting a proxy match set must release its persisted blocks."""
    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index import build_index
    from iresearch_spark.search import Proxy, SearchEngine, TermF

    d = str(tmp_path_factory.mktemp("idx_lru_proxy"))
    build_index(spark, generate_corpus(spark, 60, 2), d, num_segments=2)
    eng = SearchEngine(spark, d)
    eng._proxy_cache = LRUCache(1, on_evict=lambda _k, df: df.unpersist())
    eng.search(Proxy(child=TermF(term="import")), k=5).collect()
    first = next(iter(eng._proxy_cache.values()))
    assert first.is_cached
    eng.search(Proxy(child=TermF(term="void")), k=5).collect()
    assert len(eng._proxy_cache) == 1
    assert not first.is_cached  # evicted AND unpersisted
    # close() releases everything the reader pinned: every norms broadcast
    # is unpersisted (not destroyed — a plan built earlier may still read
    # it) and the engine drops its broadcasts and packed norms
    norms = eng.norms_blob_df()
    assert len(norms) == 2
    released = []
    for bc in norms.values():
        bc.unpersist = lambda bc=bc: released.append(bc)
    eng.close()
    assert sorted(map(id, released)) == sorted(map(id, norms.values()))
    assert all(bc._jbroadcast.isValid() for bc in released)
    assert eng._norms_bc is None and eng._norms_cache == {}
    assert len(eng._proxy_cache) == 0 and len(eng._stats_cache) == 0
