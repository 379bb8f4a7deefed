"""Reference-API facade: integration-spec flows through Map/MapGroup."""

from __future__ import annotations

import pytest

from blurrily_spark.api import ClosedError, Map, MapGroup


def test_put_returns_trigram_count(spark):
    # spec/blurrily/map_spec.rb:32-41: 'foobar' -> 7; dup ref -> 0
    m = Map(spark)
    assert m.put("foobar", 1) == 7
    assert m.put("anything", 1) == 0
    assert m.put("", 2) == 1  # map_spec.rb:49-53
    assert m.put("@€%é", 3) == 2  # map_spec.rb:55-59


def test_find_golden_integration(spark):
    # spec/integration_spec.rb:31-42
    m = Map(spark)
    m.put("paris", 123)
    assert m.find("paris") == [(123, 6, 5)]
    assert m.find("pariis") == [(123, 5, 5)]
    m.put("paris", 456)
    assert [r[0] for r in m.find("paris")] == [123, 456]


def test_delete_and_readd(spark):
    # spec/integration_spec.rb:44-49 + map_spec.rb:109-114
    m = Map(spark)
    m.put("paris", 123)
    m.put("paris", 456)
    m.delete(456)
    assert [r[0] for r in m.find("paris")] == [123]
    m.delete(123)
    assert m.put("paris", 123) == 6  # re-add after delete works
    assert [r[0] for r in m.find("paris")] == [123]


def test_stats(spark):
    m = Map(spark)
    m.put("foobar", 1)
    m.put("paris", 2)
    assert m.stats() == {"references": 2, "trigrams": 13}


def test_save_load_roundtrip(spark, tmp_path):
    path = str(tmp_path / "db.trigrams")
    m = Map(spark)
    m.put("london", 123)
    m.save(path)
    m2 = Map.load(spark, path)
    assert m2.find("london") == [(123, 7, 6)]
    # dup-ref no-op survives save/load (map_spec.rb:61-67)
    assert m2.put("paris", 123) == 0
    assert m2.find("paris") == []


def test_save_memoized_clean_path(spark, tmp_path):
    import os

    path = str(tmp_path / "db.trigrams")
    m = Map(spark)
    m.put("london", 1)
    m.save(path)
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    m.save(path)  # clean -> no rewrite
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime
    m.put("paris", 2)  # dirty again
    m.save(path)
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) >= mtime


def test_closed_map_raises(spark):
    # spec/blurrily/map_spec.rb:332-353
    m = Map(spark)
    m.put("x", 1)
    m.close()
    for op in [lambda: m.put("y", 2), lambda: m.find("x"), lambda: m.delete(1),
               lambda: m.stats(), lambda: m.save("/tmp/nope")]:
        with pytest.raises(ClosedError):
            op()


def test_map_group_isolation_and_persistence(spark, tmp_path):
    # spec/integration_spec.rb:51-60 (multi-db isolation) + map_group load
    g = MapGroup(spark, str(tmp_path))
    g.map("cities").put("paris", 1)
    g.map("foods").put("pizza", 2)
    assert [r[0] for r in g.map("cities").find("paris")] == [1]
    # isolation: cities' ref 1 never leaks into foods (pizza itself shares
    # the '**p' trigram with paris, so it legitimately matches with score 1)
    assert all(r[0] != 1 for r in g.map("foods").find("paris"))
    assert g.map("foods").find("pizza") == [(2, 6, 5)]
    g.save_all()

    g2 = MapGroup(spark, str(tmp_path))
    assert [r[0] for r in g2.map("cities").find("paris")] == [1]
    # CLEAR db (command_processor.rb:48-51)
    g2.clear("cities")
    assert g2.map("cities").find("paris") == []


def test_load_delete_save_same_path(spark, tmp_path):
    """Round-2 ADVICE: load(path) -> delete(ref) -> save(path) used to hit
    Spark's 'cannot overwrite a path that is also being read from' because
    the filtered postings lineage still read the target. save() must
    materialize first (the reference's write-then-rename atomic save)."""
    path = str(tmp_path / "db.trigrams")
    m = Map(spark)
    m.put("paris", 123)
    m.put("london", 456)
    m.save(path)

    m2 = Map.load(spark, path)
    m2.delete(123)
    m2.save(path)  # same path: must not raise

    m3 = Map.load(spark, path)
    assert m3.find("paris") == []  # deleted ref is gone from the snapshot
    assert [r[0] for r in m3.find("london")] == [456]


def test_known_refs_materialization_cap(spark, tmp_path):
    """Round-3 verdict #6: the facade's driver-side ref set is bounded --
    a put() against a snapshot with more refs than the cap fails loudly
    (pointing at the batch anti-join path) instead of OOMing the driver."""
    import pytest

    path = str(tmp_path / "cap.trigrams")
    m = Map(spark)
    m.put("paris", 1)
    m.put("london", 2)
    m.put("berlin", 3)
    m.save(path)

    m2 = Map.load(spark, path)
    m2.REFS_MATERIALIZE_CAP = 2  # shrink the bound for the test
    with pytest.raises(RuntimeError, match="append_postings"):
        m2.put("oslo", 4)

    m3 = Map.load(spark, path)  # default cap: unaffected
    assert m3.put("oslo", 4) > 0


def test_flush_keeps_partition_count_bounded(spark):
    # every flush unions new postings onto the stored ones; the count of
    # partitions (tasks per later FIND) must not grow with the flushes
    bound = spark.sparkContext.defaultParallelism
    words = ["paris", "london", "berlin", "oslo", "rome", "lisbon", "vienna", "prague"]
    m = Map(spark)
    for i, word in enumerate(words):
        for j in range(3):
            m.put(f"{word} {'abc'[j]}", 10 * i + j + 1)
        m.delete(10 * i + 1)
        assert [r[0] for r in m.find(f"{word} b")][:1] == [10 * i + 2]
        assert m._postings.rdd.getNumPartitions() <= bound, i
    assert m.stats()["references"] == 2 * len(words)


def test_traced_layer_names_resolve():
    # perfbench --trace wraps these attributes by name, so each must stay
    # resolvable even where the package itself does not call it
    from blurrily_spark import api
    from blurrily_spark.operators import index

    for owner, name in [
        (api, "build_postings"), (api, "find_one"), (index, "with_normalized")
    ]:
        assert callable(getattr(owner, name)), name
