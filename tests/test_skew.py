"""pin_split: the one hub-split path (linkgraph/skew.py) — the
MAX_HUBS fallback, pin release, and the forced / auto decisions."""

from pyspark.sql import functions as F

from linkgraph.skew import MAX_HUBS, pin_split


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "node long, nbr long")


def test_too_many_hubs_falls_back_to_unsplit(spark):
    # MAX_HUBS + 76 keys, each of degree 2 > cap 1: every key qualifies
    n_keys = MAX_HUBS + 76
    pairs = _pairs(
        spark, [(i, k) for k in range(n_keys) for i in (n_keys, n_keys + 1)]
    )
    split = pin_split(pairs, "nbr", hub_cap=1)
    try:
        assert split.hot is None
        assert split.n_hubs == 0
        assert split.cold.count() == 2 * n_keys
    finally:
        split.release()


def test_release_frees_both_pins(spark):
    pairs = _pairs(spark, [(i, 0) for i in range(1, 30)] + [(1, 2), (3, 4)])
    before = _persistent_rdd_ids(spark)
    split = pin_split(pairs, "nbr", hub_cap=5)
    assert split.hot is not None
    assert _persistent_rdd_ids(spark) - before, "the pins hold storage"
    split.release()
    assert _persistent_rdd_ids(spark) - before == set()


def test_forced_cap_on_star_and_auto_on_ring(spark):
    star = _pairs(spark, [(i, 0) for i in range(1, 40)] + [(0, 1), (2, 3)])
    split = pin_split(star, "nbr", hub_cap=4)
    state = spark.createDataFrame(
        [(i, 100 + i) for i in range(40)], "nbr long, s long"
    )
    try:
        assert split.n_hubs == 1 and list(split.hub_ids) == [0]
        # the split partitions the rows exactly: the join equals the
        # plain join row for row
        got = sorted(tuple(r) for r in split.join(state).select("node", "nbr", "s").collect())
        want = sorted(
            tuple(r) for r in star.join(state, "nbr").select("node", "nbr", "s").collect()
        )
        assert got == want
    finally:
        split.release()

    ring = _pairs(spark, [(i, (i + 1) % 12) for i in range(12)])
    off = pin_split(ring, "nbr", hub_cap="auto")
    try:
        assert off.n_hubs == 0 and off.hot is None
        assert off.rows().filter(F.col("nbr") >= 0).count() == 12
    finally:
        off.release()
