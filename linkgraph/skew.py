"""Power-law hub split — the one home of the hub thresholds.

Every per-superstep probe of a symmetric pair table keyed on one
column — the WCC label join (components.py), the LPA / Louvain /
InfoMap vote probes (labelprop.py, community.py, infomap.py) and the
balanced-partition census (partition.py) — goes through ``pin_split``.
The pair table is hash-partitioned on the key so iterations reuse the
layout; on a power-law web graph a hub's entire neighborhood then
lives in ONE partition of that probe, and that straggler task caps
the high-parallelism level (the regime the reference's
LabelPropagation / Louvain lineage hits on link graphs;
pub:algo/.../impl/LabelPropagation.java partitions nodes, not
incident edges, and has the same skew exposure).

The fix (label_propagation(hub_cap="auto"), A/B-measured 1.30x at 8
cores in BENCH/BASELINE.md): split pair rows whose key degree exceeds
a cap into a ROUND-ROBIN-partitioned hot table, and join them per
round against a BROADCAST of just the hub rows of the state (a hub's
state is one row) — map-side, no shuffle, no straggler — while the
cold side keeps the pre-partitioned sort-merge join. The split
partitions the pair rows exactly, and every consumer aggregates over
the UNION, so results are bit-identical with the split on, off, or
forced (tests/test_components.py, tests/test_labelprop.py,
tests/test_community.py, tests/test_infomap.py,
tests/test_partition.py).

``hub_cap`` contract, shared by every caller: None (default) = off;
a number = split keys whose degree exceeds it; ``"auto"`` = probe the
degree distribution once and engage only when the top key exceeds
both ``AUTO_MEAN_FACTOR`` x the mean degree and ``1/AUTO_PART_FRACTION``
of an average shuffle partition. Either way the split falls back to
the plain layout when more than ``MAX_HUBS`` keys qualify (then the
table is uniformly dense, not hub-skewed, and the broadcast would
grow with the graph).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.checkpoint import pin_table, release_state

AUTO_MEAN_FACTOR = 32.0
AUTO_PART_FRACTION = 4.0
MAX_HUBS = 1024


@dataclass
class HubSplit:
    """A loop-invariant pair table pinned for per-round probes on
    ``key``: ``cold`` is repartitioned and sorted on ``key`` (the
    layout the sort-merge probe reuses); ``hot`` holds the hub-keyed
    rows ROUND-ROBIN partitioned, or is None when the split is off."""

    cold: DataFrame
    key: str
    hot: DataFrame | None = None
    hub_ids: tuple = ()

    @property
    def n_hubs(self) -> int:
        return len(self.hub_ids)

    def rows(self) -> DataFrame:
        """Every pair row (cold UNION hot) — for one-off scans such as
        the node universe; per-round probes go through ``join``."""
        if self.hot is None:
            return self.cold
        return self.cold.unionByName(self.hot)

    def join(self, state: DataFrame) -> DataFrame:
        """pairs ⋈ state on ``key``: cold side sort-merge over the
        pinned layout, UNIONed with hot ⋈ broadcast(state restricted
        to the hubs). Exact under any downstream aggregate — the two
        sides partition the pair rows."""
        joined = self.cold.join(state, self.key)
        if self.hot is not None:
            hub_state = state.filter(F.col(self.key).isin(list(self.hub_ids)))
            joined = joined.unionByName(self.hot.join(F.broadcast(hub_state), self.key))
        return joined

    def release(self) -> None:
        """Free both pins (the split is unreadable afterwards)."""
        release_state(self.cold)
        release_state(self.hot)


def pin_split(
    pairs: DataFrame, key: str, hub_cap: int | float | str | None
) -> HubSplit:
    """Pin ``pairs`` for per-round probes on ``key``, splitting the hub
    keys off when ``hub_cap`` engages (contract in the module
    docstring). ``pairs`` is scanned once: it is persisted around the
    degree probe and the two filtered pins, then unpersisted."""
    if hub_cap is not None:
        pairs.persist()
    try:
        hub_ids = [] if hub_cap is None else _probe_hubs(pairs, key, hub_cap)
        if not hub_ids:
            return HubSplit(
                pin_table(pairs.repartition(key).sortWithinPartitions(key)), key
            )
        n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        is_hub = F.col(key).isin(hub_ids)
        cold = pin_table(
            pairs.filter(~is_hub).repartition(key).sortWithinPartitions(key)
        )
        # no key grouping on the hot side — the whole point is
        # spreading one key's rows across every task slot
        hot = pin_table(pairs.filter(is_hub).repartition(n_part))
        return HubSplit(cold, key, hot, tuple(hub_ids))
    finally:
        if hub_cap is not None:
            pairs.unpersist()


def _probe_hubs(pairs: DataFrame, key: str, hub_cap: int | float | str) -> list:
    """Hub key values (1..MAX_HUBS of them), or [] when the split
    should stay off."""
    n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    deg = pairs.groupBy(key).agg(F.count("*").alias("c")).persist()
    try:
        if hub_cap == "auto":
            agg = deg.agg(
                F.sum("c").alias("m"), F.count("*").alias("n"), F.max("c").alias("mx")
            ).first()
            m_pairs, n_keys, mx = agg["m"] or 0, agg["n"] or 1, agg["mx"] or 0
            cap = max(
                AUTO_MEAN_FACTOR * m_pairs / n_keys,
                m_pairs / n_part / AUTO_PART_FRACTION,
            )
            if mx <= cap:
                return []
            hub_cap = cap
        # size-gated driver collect
        rows = deg.filter(F.col("c") > hub_cap).select(key).limit(MAX_HUBS + 1).collect()
        return [r[key] for r in rows] if len(rows) <= MAX_HUBS else []
    finally:
        deg.unpersist()
