"""Per-host politeness scheduler: a one-shuffle per-host top-K.

The reference throttles one token per client at ``1/max(0.1, rps)`` seconds
(markdown_lab/core/throttle.py:8-33); wave-synchronously that becomes a
per-host budget of ``floor(rps * wave_seconds)`` fetches per wave, ordered
by (depth ASC, priority DESC, canon_url ASC) — the deterministic analogue
of the reference's discovery-order processing.

``schedule_wave`` finds each host's CUT row — its ``budget``-th candidate
in that order — with one ``row_number()`` window filtered by ``== budget``,
joins the cut rows (at most one per host) back onto the candidates, and
splits scheduled from deferred with one comparison against the cut row.

Skew bound: a plain ``Window.partitionBy(host)`` would send EVERY
candidate of a hot host through one task. Spark plans the rank filter as
a partial ``WindowGroupLimit`` below the window's exchange, so each map
task forwards at most ``budget`` rows per host and a mega host's final
window task sorts at most (map partitions x budget) rows, whatever its
candidate count. That exchange is the only shuffle the selection needs
while the cut table (one row per over-budget host) is small: it is then
broadcast, statically when the planner can size the candidates (parquet
or checkpointed inputs), else by AQE once the cut table is built, and
the candidates reach the join unshuffled. When no host is over budget
the cut table is empty and AQE drops the join. A cut table too big to
broadcast makes the join a shuffle join on host, whose skewed partitions
AQE splits. The bound holds while ``budget`` is at most
``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000): above
it Spark plans no group limit, so one task sorts ALL of a host's
candidates. Such a budget lets a host fetch over 1000 pages per wave,
where it rarely binds.

Exactness: with ``canon_url`` unique among the candidates, the order is
total, so the rows at or before a host's cut row are exactly its
top-``budget``; a host with fewer than ``budget`` candidates has no cut
row and is scheduled whole. ``deferred`` is exactly the complement. The
drills in tests/test_politeness_skew.py pin set-equality against the
naive single-window selection under skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def order_cols():
    """Deterministic per-host queue order: depth ASC, priority DESC, url ASC."""
    return [F.col("depth").asc(), F.col("priority").desc(), F.col("canon_url").asc()]


def _after(x: Column, cut: Column, desc: bool) -> Column:
    """``x`` sorts strictly after ``cut`` in one key of order_cols(): Spark
    sorts nulls first ascending and last descending. Never null."""
    if desc:
        nulls = x.isNull() & cut.isNotNull()
        return F.when(x.isNull() | cut.isNull(), nulls).otherwise(x < cut)
    nulls = x.isNotNull() & cut.isNull()
    return F.when(x.isNull() | cut.isNull(), nulls).otherwise(x > cut)


def schedule_wave(
    frontier: DataFrame, budget: int, _unused=None
) -> tuple[DataFrame, DataFrame]:
    """Split a wave's candidates into (scheduled, deferred).

    scheduled: per-host head of at most ``budget`` rows in order_cols()
    order; deferred: the remainder (carries to the next wave unchanged).

    Requires ``canon_url`` unique within ``frontier`` (so order_cols() is
    a total order). Every caller guarantees it: the crawl frontier is
    grouped by canon_url, seeds are deduplicated, and lazy-mode new rows
    are anti-joined against the tail before they meet its heads.

    One window ``row_number() over (partition by host order by
    order_cols())`` filtered ``== budget`` yields each host's cut row; a
    left join on host tags every candidate with its host's cut (and a
    literal ``_cut`` flag, so a null in the cut's own columns is never
    read as "no cut"); rows strictly after the cut are deferred. See the
    module docstring for the skew bound and its threshold.

    A third positional argument is accepted and ignored, for callers
    that still pass a shard count (perfbench/layers.py passes
    ``cfg.salt_n``).
    """
    w = Window.partitionBy("host").orderBy(*order_cols())
    cut = (
        frontier.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == budget)
        .select(
            "host",
            F.col("depth").alias("_cd"),
            F.col("priority").alias("_cp"),
            F.col("canon_url").alias("_cu"),
            F.lit(True).alias("_cut"),
        )
    )
    # no broadcast hint: at 10^8 hosts the cut side is too big to ship;
    # AQE broadcasts it when it is small
    tagged = frontier.join(cut, on="host", how="left")
    depth, prio, url = F.col("depth"), F.col("priority"), F.col("canon_url")
    cd, cp, cu = F.col("_cd"), F.col("_cp"), F.col("_cu")
    after = _after(depth, cd, False) | (
        depth.eqNullSafe(cd)
        & (_after(prio, cp, True) | (prio.eqNullSafe(cp) & _after(url, cu, False)))
    )
    tagged = tagged.withColumn(
        "_def", F.coalesce(F.col("_cut"), F.lit(False)) & after
    ).drop("_cd", "_cp", "_cu", "_cut")
    scheduled = tagged.filter(~F.col("_def")).drop("_def")
    deferred = tagged.filter(F.col("_def")).drop("_def")
    return scheduled, deferred


def politeness_budget(rps: float, wave_seconds: int) -> int:
    """floor(rps * wave_seconds), min 1 (throttle.py clamps rps at 0.1)."""
    return max(1, int(max(0.1, rps) * wave_seconds))


def cap_schedule_by_delay(
    scheduled: DataFrame,
    host_delays: DataFrame,
    wave_seconds: int,
    budget: int,
) -> tuple[DataFrame, DataFrame]:
    """(kept, cut): enforce robots ``Crawl-delay`` as a per-host wave
    budget ``b_h = clamp(floor(wave_seconds / crawl_delay), 1, budget)``
    — at b_h fetches per wave of wave_seconds, inter-request spacing
    meets the declared delay.

    Exact by prefix composition: ``scheduled`` is the per-host
    top-``budget`` of the frontier in order_cols() order and
    b_h <= budget, so ranking the SCHEDULE (never the frontier) and
    keeping rank <= b_h equals the naive per-host top-b_h of the whole
    frontier. The window is legal at any scale: it partitions the
    schedule, whose per-host size is bounded by ``budget`` rows by
    construction. Hosts with no declared delay bypass the window
    entirely (the common case), mirroring schedule_wave's under-budget
    bypass; ``cut`` rows defer to the next wave unchanged.

    b_h has a floor of 1: a delay longer than the wave still makes
    progress (the alternative starves the host forever); the wave
    cadence itself is the spacing at b_h = 1.
    """
    delays = host_delays.filter(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0)
    ).select(
        "host",
        F.least(
            F.lit(budget),
            F.greatest(
                F.lit(1),
                F.floor(F.lit(float(wave_seconds)) / F.col("crawl_delay")),
            ),
        )
        .cast("int")
        .alias("_bh"),
    )
    # no broadcast hint for the same reason as schedule_wave's counts
    # side: AQE broadcasts when small, shuffles on host otherwise
    tagged = scheduled.join(delays, on="host", how="left")
    free = tagged.filter(F.col("_bh").isNull()).drop("_bh")
    capped = tagged.filter(F.col("_bh").isNotNull())
    w = Window.partitionBy("host").orderBy(*order_cols())
    ranked = capped.withColumn("_rn", F.row_number().over(w))
    kept = ranked.filter(F.col("_rn") <= F.col("_bh")).drop("_rn", "_bh")
    cut = ranked.filter(F.col("_rn") > F.col("_bh")).drop("_rn", "_bh")
    return free.unionByName(kept), cut
