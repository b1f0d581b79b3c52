"""Query-scoped reuse lifecycle (demo_data_warehouse_spark/reuse.py).

- Back-to-back sharing queries in one session: after each query,
  CacheManager holds exactly that query's shared frames, and no
  share() re-caches a plan that is already cached (which is when Spark
  logs "Asked to cache already cached data").
- release() leaves CacheManager empty.
- A frame built by one query still matches its oracle when it is
  executed after the next query's entry released its scope, and that
  execution persists no orphan RDD.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod
from demo_data_warehouse_spark import reuse
from scripts.check_correctness import compare, duck_con

# queries whose operators share frames: minhash signatures, minhash
# edges + components, the embedding-LSH base, the semantic-dedup cell
# assignment, and curate_mix's keep/best plus its signatures
SHARING = [
    "dedup_minhash",
    "dedup_components",
    "dedup_embed_lsh",
    "dedup_semantic",
    "corpus_curate_mix",
]


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_each_query_keeps_only_its_own_shared_frames(spark, sf_dir, monkeypatch):
    cm = _cache_manager(spark)
    reuse.release()
    assert cm.isEmpty()

    recached = []
    frame_cls = type(spark.range(1))
    plain_cache = frame_cls.cache

    def spy(self):
        if cm.lookupCachedData(self._jdf).isDefined():
            recached.append(self._jdf.queryExecution().analyzed().toString()[:200])
        return plain_cache(self)

    monkeypatch.setattr(frame_cls, "cache", spy)
    qs = entry_mod.queries()
    for name in [n for n in SHARING for _ in range(2)]:
        _run(qs[name](spark, sf_dir))
        scope = list(reuse._scope)
        assert scope, f"{name}: shared no frame"
        assert all(cm.lookupCachedData(f._jdf).isDefined() for f in scope), name
        assert cm.numCachedEntries() == len(scope), (name, cm.numCachedEntries())
    assert recached == [], recached

    reuse.release()
    assert cm.isEmpty()
    assert reuse._scope == []


def test_released_frame_still_matches_oracle(spark, sf_dir):
    qs = entry_mod.queries()
    sc = spark.sparkContext
    built = qs["dedup_minhash"](spark, sf_dir)  # shares its signatures
    nxt = qs["dedup_embed_lsh"](spark, sf_dir)  # entry releases them
    _run(nxt)
    cm = _cache_manager(spark)
    entries = cm.numCachedEntries()
    assert entries == len(reuse._scope)
    persisted = sc._jsc.getPersistentRDDs().size()

    got = built.toPandas()
    want = duck_con(sf_dir).execute(entry_mod.oracle_sql()["dedup_minhash"]).fetchdf()
    assert not compare("dedup_minhash", got, want)
    # the released signatures were recomputed, not re-cached
    assert cm.numCachedEntries() == entries
    assert sc._jsc.getPersistentRDDs().size() == persisted
    reuse.release()
