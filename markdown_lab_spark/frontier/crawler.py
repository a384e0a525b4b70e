"""The wave-loop crawl engine: frontier -> fetch(join) -> convert -> expand.

Spark-first design (SURVEY.md §3.2/§4):

- The "fetch" is a broadcast hash join of the tiny per-wave schedule against
  the huge pages corpus (the corpus stands in for the network per the north
  rule) — the schedule is at most hosts*budget rows, so broadcasting it
  keeps the corpus scan shuffle-free.
- URL-seen = sharded from-scratch bloom PREFILTER (no false negatives ->
  bloom-miss rows skip the join entirely) + exact ``left_anti`` join for
  bloom hits, so a false positive costs a probe, never a dropped URL.
- Politeness = per-host priority queues cut at the budget in one shuffle
  (politeness.py).
- Robots allow/deny parsed from the corpus's robots.txt rows, broadcast.
- Canonicalization in the hot path is a pure JVM expression
  (normalize_url_col) — Python only runs inside the Arrow-batched convert
  UDF.
- Each wave checkpoints frontier/seen-delta/docs/chunks/metrics as parquet
  under ``ckpt/wave=N`` with a manifest; ``resume_state`` restarts from the
  last complete wave with per-partition lineage metrics preserved.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.udfs import (
    domain_col,
    make_chunk_markdown_udf,
    make_convert_udf,
    normalize_url_col,
)
from ..oracle.sitemap import RobotsRules
from .bloom import ShardedBloom
from .politeness import cap_schedule_by_delay, politeness_budget, schedule_wave


import time as _time


def _tick(label: str, t0: float) -> float:
    """Wave-step wall-time telemetry, enabled with MLS_TIMING=1."""
    if os.environ.get("MLS_TIMING"):
        print(f"[mls-timing] {label:28s} {_time.time() - t0:7.2f}s", flush=True)
    return _time.time()


FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("attempt", T.IntegerType()),
    ]
)


@dataclass
class CrawlConfig:
    rps: float = 1.0
    wave_seconds: int = 10
    max_waves: int = 100
    bloom_shards: int = 8
    bloom_capacity_per_shard: int = 1 << 17
    bloom_fpr: float = 0.01
    # shard count of the ranked tail's per-host queue ranks (tail.py)
    salt_n: int = 16
    chunk_size: int = 1000
    chunk_overlap: int = 200
    # P2 retry semantics (markdown_lab/core/client.py:160-217): a failed
    # fetch re-enters the next wave with attempt+1 instead of sleeping
    # 2**attempt — wave cadence IS the backoff. attempts = max_retries + 1
    # like the client (the errors.py helper's off-by-one is not replicated).
    max_retries: int = 0
    # P3 TTL/re-crawl (markdown_lab/core/cache.py:60-141: entries expire
    # after ttl seconds, mtime-based): a URL seen at wave w blocks
    # re-fetch while wave - w < ttl_waves, then becomes eligible again.
    # The seen prefilter switches from bloom (append-only) to the cuckoo
    # filter, whose deletion support exists precisely for this mode.
    ttl_waves: Optional[int] = None
    cuckoo_capacity: int = 1 << 18
    # independent per-key-hash cuckoo shards (the ShardedBloom pattern):
    # per-wave maintenance (delta insert, expiry delete) runs one thread
    # per shard — numpy's kernels release the GIL, the 10^6-key drill in
    # test_ttl_recrawl shows near-linear wall scaling — and each shard
    # stays cache-resident. At cluster scale shards map onto the same
    # host-hash partitioning the politeness scheduler uses.
    cuckoo_shards: int = 4
    # oversized documents (reference max_file_size, core/config.py:44) are
    # excluded AT THE SCAN — never shipped through Arrow to the convert
    # UDF — and surface as fetch misses in the trace
    max_file_size: int = 10_000_000
    # co-located state joins: persist frontier/seen as canon_url-bucketed
    # tables (same bucket count on both sides) so the per-wave exact
    # anti-join is an exchange-free sort-merge join — the physical layout
    # for 10^10-row state, where re-shuffling the seen set every wave
    # would dominate. Replaces the bloom prefilter (the join is already
    # co-located; a prefilter would only save local probes). Requires a
    # checkpoint_dir (the tables ARE the checkpoint format).
    bucketed_state: bool = False
    state_buckets: int = 16
    # seen-delta compaction cadence (default checkpoint mode): the flat
    # per-wave rebuild reads every seen_delta dir, which is O(W) dirs per
    # wave and O(W^2) over a long crawl. Every ``seen_compact_every``
    # waves the compacted seen is ALSO written (an additive snapshot —
    # deltas are kept, so time travel to any wave still works) and
    # rebuilds read latest-compact + later deltas: <= compact_every + 1
    # dirs per wave. None disables. (At warehouse scale this is the
    # Iceberg MERGE/compaction maintenance job; bucketed_state mode
    # already persists fully-compacted state per wave.)
    seen_compact_every: Optional[int] = 8
    # OPTIONAL global per-wave fetch cap (None = reference behavior:
    # every politeness-scheduled URL fetches). When set, the wave fetches
    # only the top-``wave_fetch_cap`` scheduled URLs globally by
    # (priority DESC, depth ASC, canon_url ASC) — the mechanism that
    # makes cross-host priorities (e.g. host PageRank) load-bearing:
    # under a cluster-wide fetch budget, high-rank hosts win slots and
    # the rest defer to the next wave. orderBy().limit() compiles to
    # TakeOrderedAndProject (distributed partial top-k, no global sort).
    wave_fetch_cap: Optional[int] = None
    # honor robots.txt Crawl-delay (de-facto standard; Bing/Yandex honor
    # it) as a per-host wave budget cap b_h = clamp(floor(wave_seconds /
    # delay), 1, budget) — exact prefix cut AFTER schedule_wave, so the
    # window only ever partitions the bounded schedule. Default off: the
    # reference fetches with a global throttle only (throttle.py), and
    # every pinned trace/gate hash predates this knob.
    honor_crawl_delay: bool = False
    # co-located fetch join: at cluster scale the default broadcast of
    # the per-wave schedule ships hosts*budget rows to EVERY executor
    # (100 MB x 1000 executors); with bucketed_fetch the corpus is
    # written ONCE as a canon_url-bucketed table (the Iceberg-ingest
    # analogue) and each wave's schedule is written bucketed too, so the
    # fetch join is an exchange-free bucket-to-bucket SMJ — no schedule
    # broadcast, no corpus shuffle. Requires a checkpoint_dir (the
    # bucketed corpus + per-wave schedules live there). The one-time
    # corpus write is the ingest cost a warehouse pays anyway.
    bucketed_fetch: bool = False
    # deep-frontier mode: keep the standing DEFERRED tail in its own
    # per-wave state snapshot instead of re-routing it through the wave
    # plan. At a 4:1 frontier:budget ratio the default path sends the
    # whole tail through the seen anti-join, robots filter, route
    # localCheckpoint, rediscovery groupBy, and the frontier_next write
    # EVERY wave even though only the scheduled head changes. With
    # lazy_deferred the wave routes only (new candidates + each host's
    # head rows): per-host ``top-B(tail ∪ new) == top-B(top-B(tail) ∪
    # new)`` — a row outside the tail's head has ≥ B tail rows above it,
    # so it can never be scheduled — and the tail update is MERGE-shaped
    # (delete the ≤ hosts*budget scheduled keys, insert the unscheduled
    # new candidates; at warehouse scale an Iceberg MERGE touching only
    # matched files). Output (trace/seen/chunks) is EXACTLY the default
    # path's — deferred rows never appear in any of them. With a
    # checkpoint_dir the tail snapshot is persisted per wave (resume
    # restores it); without one it lives in a localCheckpoint, still out
    # of the per-wave route/state plans.
    lazy_deferred: bool = False
    # rank-materialized tail (requires lazy_deferred): tail rows carry a
    # sharded per-host queue rank and sorted parquet layout, deletes are
    # wave-scoped tombstones, inserts are ranked delta appends, and a
    # compaction every tail_compact_every waves absorbs both — so the
    # per-wave tail cost is a row-group-pruned heads read plus two small
    # appends, O(hosts*budget + new candidates), independent of how deep
    # the standing tail is (frontier/tail.py has the exactness proof).
    tail_rank: bool = False
    # 0 disables in-band compaction (run it as a maintenance job — at
    # 10^10 tail rows the rewrite does not belong on the wave critical
    # path; see the 16x deep-tail drill in BENCH.md)
    tail_compact_every: int = 4

    @property
    def budget(self) -> int:
        return politeness_budget(self.rps, self.wave_seconds)


ROBOTS_RULES_SCHEMA = (
    "host string, prefix string, is_allow boolean, rule_len int, rx string"
)


def robots_rules_df(pages: DataFrame) -> DataFrame:
    """(host, prefix, is_allow, rule_len) parsed DISTRIBUTIVELY.

    Round-1 verdict: collecting every robots.txt body to the driver is an
    OOM at 10^8 hosts. Here each executor parses its own partition's
    robots pages (Arrow-batched mapInPandas over oracle.sitemap's
    reference-faithful parser) and only the exploded rule rows flow on.
    """
    robots_pages = pages.filter(F.col("url").endswith("/robots.txt")).select(
        "url", F.col("html").cast("string").alias("body")
    )

    def parse_batches(iterator):
        from ..oracle.sitemap import (  # noqa: PLC0415
            parse_robots as _parse,
            robots_pattern_regex as _rx,
        )

        for pdf in iterator:
            hosts: List[str] = []
            prefixes: List[str] = []
            allows: List[bool] = []
            lens_: List[int] = []
            rxs: List[Optional[str]] = []
            for url, body in zip(pdf["url"], pdf["body"]):
                host = (url or "").split("://", 1)[-1].split("/", 1)[0]
                for prefix, is_allow in _parse(body or "").rules:
                    hosts.append(host)
                    prefixes.append(prefix)
                    allows.append(is_allow)
                    lens_.append(len(prefix))
                    rxs.append(_rx(prefix))
            if hosts:
                yield pd.DataFrame(
                    {
                        "host": hosts,
                        "prefix": prefixes,
                        "is_allow": allows,
                        "rule_len": lens_,
                        "rx": rxs,
                    }
                )

    return robots_pages.mapInPandas(parse_batches, ROBOTS_RULES_SCHEMA)


def robots_crawl_delays(pages: DataFrame) -> DataFrame:
    """(host, crawl_delay) for every host whose robots.txt declares a
    ``Crawl-delay`` in the ``*`` group — parsed distributively like
    robots_rules_df (executor-side, Arrow-batched), only the tiny
    per-host scalar rows flow on."""
    robots_pages = pages.filter(F.col("url").endswith("/robots.txt")).select(
        "url", F.col("html").cast("string").alias("body")
    )

    def parse_batches(iterator):
        from ..oracle.sitemap import parse_robots as _parse  # noqa: PLC0415

        for pdf in iterator:
            hosts: List[str] = []
            delays: List[float] = []
            for url, body in zip(pdf["url"], pdf["body"]):
                rr = _parse(body or "")
                if rr.crawl_delay is not None:
                    hosts.append(
                        (url or "").split("://", 1)[-1].split("/", 1)[0]
                    )
                    delays.append(rr.crawl_delay)
            if hosts:
                yield pd.DataFrame({"host": hosts, "crawl_delay": delays})

    return robots_pages.mapInPandas(
        parse_batches, "host string, crawl_delay double"
    )


def robots_host_rules(rules: DataFrame) -> DataFrame:
    """One row per host with its rules as an array (bounded: a robots.txt
    has dozens of rules, not millions) — lets the frontier filter be a
    plain equi-join + JVM array expression with NO post-join aggregation."""
    # rx LAST in the struct: array_max compares fields in order, so the
    # best-match pick stays (rule_len, is_allow, prefix) — RFC 9309
    # longest-pattern-wins, Allow wins length ties
    return rules.groupBy("host").agg(
        F.collect_list(
            F.struct("rule_len", "is_allow", "prefix", "rx")
        ).alias("_rules")
    )


def host_rules_from_dict(
    spark: SparkSession, robots: Dict[str, RobotsRules]
) -> DataFrame:
    """Seed-scale path: a driver-side dict (e.g. from hand-parsed fixtures)
    lifted to the same (host, _rules) shape."""
    from ..oracle.sitemap import robots_pattern_regex  # noqa: PLC0415

    rule_rows = [
        (host, prefix, is_allow, len(prefix), robots_pattern_regex(prefix))
        for host, rr in robots.items()
        for prefix, is_allow in rr.rules
    ]
    rules = spark.createDataFrame(
        rule_rows or spark.sparkContext.emptyRDD(), ROBOTS_RULES_SCHEMA
    )
    return robots_host_rules(rules)


def robots_filter(
    df: DataFrame, host_rules: DataFrame
) -> Tuple[DataFrame, DataFrame]:
    """Split (allowed, denied): equi-join per-host rule arrays, then pick
    the longest matching prefix (Allow wins ties) as a pure JVM array
    expression — one join, zero shuffles beyond it (AQE broadcasts the
    rules side when it is small; at 10^8 hosts it stays a shuffle join
    keyed on host, which is the right plan). No rule => allowed
    (markdown_lab has no fetch-time robots check; north_rule adds it)."""
    path = F.regexp_extract(F.col("canon_url"), r"^[a-z]+://[^/]*(/.*)?$", 1)
    # plain prefixes keep the startswith fast path; wildcard/$ patterns
    # (RFC 9309) carry a precompiled anchored regex in rx
    best = F.array_max(
        F.filter(
            F.col("_rules"),
            lambda r: F.when(
                r["rx"].isNull(), F.col("_path").startswith(r["prefix"])
            ).otherwise(F.regexp_like(F.col("_path"), r["rx"])),
        )
    )
    flagged = (
        df.withColumn("_path", F.coalesce(path, F.lit("/")))
        .join(host_rules, on="host", how="left")
        .withColumn("_allowed", F.coalesce(best["is_allow"], F.lit(True)))
    )
    allowed = flagged.filter(F.col("_allowed")).drop("_path", "_rules", "_allowed")
    denied = flagged.filter(~F.col("_allowed")).drop("_path", "_rules", "_allowed")
    return allowed, denied


# Above this many whole-filter bytes the bloom prefilter switches to the
# per-shard probe (SURVEY §4: at 10^10 URLs the filter is ~12 GB — each
# executor must load only the shards its candidates hash to, never the
# whole thing). Local-scale filters stay on the single-broadcast path.
BLOOM_BROADCAST_MAX_BYTES = 256 << 20


def bloom_antijoin(
    candidates: DataFrame,
    seen: Optional[DataFrame],
    bloom: Optional[ShardedBloom],
    spark: SparkSession,
    per_shard: Optional[bool] = None,
) -> DataFrame:
    """candidates minus seen: bloom prefilter + exact left_anti for hits.

    ``per_shard`` (default: auto by total filter size vs
    ``BLOOM_BROADCAST_MAX_BYTES``) selects the probe layout:

    - whole-filter broadcast (small filters): one broadcast holds every
      shard's bitset; any task probes any row.
    - per-shard probe (round-5 verdict item 2, the 10^10 design):
      candidates are repartitioned by ``shard_of(host)`` and each shard's
      bitset ships as its OWN broadcast — Spark fetches broadcasts
      lazily on first ``.value`` access, so a task materializes exactly
      the shards its rows hash to (one, absent partition-hash
      collisions). The exactness guard is unchanged either way: the
      bloom only prunes, the exact left_anti decides.
    """
    if seen is None:
        return candidates
    if bloom is None:
        return candidates.join(seen, on="canon_url", how="left_anti")

    num_shards = bloom.num_shards
    shard_payloads = [(bf.m_bits, bf.k, bf.to_bytes()) for bf in bloom.shards]
    if per_shard is None:
        per_shard = (
            sum(len(p[2]) for p in shard_payloads) > BLOOM_BROADCAST_MAX_BYTES
        )

    from pyspark.sql.pandas.functions import pandas_udf  # noqa: PLC0415

    if not per_shard:
        bc = spark.sparkContext.broadcast(shard_payloads)

        @pandas_udf(T.BooleanType())
        def maybe_seen(url: pd.Series, host: pd.Series) -> pd.Series:
            import numpy as np  # noqa: PLC0415

            from .bloom import BloomFilter  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            shards = []
            for m_bits, k, raw in bc.value:
                bf = BloomFilter.__new__(BloomFilter)
                bf.m_bits, bf.k = m_bits, k
                bf.bits = np.frombuffer(raw, dtype=np.uint64)
                shards.append(bf)
            urls = url.fillna("").tolist()
            hosts = host.fillna("").tolist()
            keys = url_hash64_vec(urls)
            sid = ShardedBloom.shard_of(hosts, num_shards)
            out = np.zeros(len(urls), dtype=bool)
            for s in np.unique(sid):
                mask = sid == s
                out[mask] = shards[int(s)].contains_keys(keys[mask])
            return pd.Series(out)

        flagged = candidates.withColumn(
            "_maybe", maybe_seen("canon_url", "host")
        )
    else:
        # one broadcast PER shard: executors fetch lazily, so a task
        # holds only the bitsets of the shard ids present in its rows
        shard_bcs = [spark.sparkContext.broadcast(p) for p in shard_payloads]

        @pandas_udf(T.IntegerType())
        def sid_of(host: pd.Series) -> pd.Series:
            return pd.Series(
                ShardedBloom.shard_of(host.fillna("").tolist(), num_shards)
            )

        @pandas_udf(T.BooleanType())
        def maybe_seen_ps(
            url: pd.Series, sid_col: pd.Series
        ) -> pd.Series:
            import numpy as np  # noqa: PLC0415

            from .bloom import BloomFilter  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            keys = url_hash64_vec(url.fillna("").tolist())
            sid = sid_col.to_numpy()
            out = np.zeros(len(keys), dtype=bool)
            for s in np.unique(sid):
                m_bits, k, raw = shard_bcs[int(s)].value  # lazy fetch
                bf = BloomFilter.__new__(BloomFilter)
                bf.m_bits, bf.k = m_bits, k
                bf.bits = np.frombuffer(raw, dtype=np.uint64)
                mask = sid == s
                out[mask] = bf.contains_keys(keys[mask])
            return pd.Series(out)

        flagged = (
            candidates.withColumn("_sid", sid_of("host"))
            .repartition(F.col("_sid"))
            .withColumn("_maybe", maybe_seen_ps("canon_url", F.col("_sid")))
            .drop("_sid")
        )

    definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    needs_check = flagged.filter(F.col("_maybe")).drop("_maybe")
    verified_new = needs_check.join(seen, on="canon_url", how="left_anti")
    return definite_new.unionByName(verified_new)


def cuckoo_antijoin(
    candidates: DataFrame,
    fresh_seen: Optional[DataFrame],
    cuckoo,
    spark: SparkSession,
) -> DataFrame:
    """TTL-mode twin of bloom_antijoin: the prefilter is the deletable
    cuckoo filter (expired keys are removed, so they read as new without
    a rebuild). Same exactness guard: the cuckoo only prunes; the exact
    ``left_anti`` against the FRESH seen rows decides."""
    if fresh_seen is None:
        return candidates
    if cuckoo is None or cuckoo.count == 0:
        return candidates.join(fresh_seen, on="canon_url", how="left_anti")

    bc = spark.sparkContext.broadcast(cuckoo.to_broadcast())

    from pyspark.sql.pandas.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf(T.BooleanType())
    def maybe_seen(url: pd.Series) -> pd.Series:
        from .cuckoo import ShardedCuckoo  # noqa: PLC0415

        sc = ShardedCuckoo.from_broadcast(bc.value)
        return pd.Series(sc.contains(url.fillna("").tolist()))

    flagged = candidates.withColumn("_maybe", maybe_seen("canon_url"))
    definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    needs_check = flagged.filter(F.col("_maybe")).drop("_maybe")
    verified_new = needs_check.join(fresh_seen, on="canon_url", how="left_anti")
    return definite_new.unionByName(verified_new)


def _compact_seen(df: DataFrame) -> DataFrame:
    """One row per canon_url keeping the LATEST status_wave (re-crawl
    refreshes the TTL clock) — deterministic, unlike dropDuplicates."""
    return df.groupBy("canon_url").agg(
        F.max("host").alias("host"),
        F.min("depth").alias("depth"),
        F.max("status_wave").alias("status_wave"),
    )


def checkpoint_sizes(checkpoint_dir: str) -> Dict[int, int]:
    """A4 (disk-cache size, markdown_lab/core/cache.py:196-204) mapped to
    the engine's state layer: bytes per complete wave checkpoint."""
    sizes: Dict[int, int] = {}
    if not os.path.isdir(checkpoint_dir):
        return sizes
    for d in os.listdir(checkpoint_dir):
        if not d.startswith("wave="):
            continue
        try:
            wave = int(d.split("=", 1)[1])
        except ValueError:  # stray non-numeric dir (round-3 ADVICE)
            continue
        total = 0
        for root, _dirs, files in os.walk(os.path.join(checkpoint_dir, d)):
            for fn in files:
                total += os.path.getsize(os.path.join(root, fn))
        sizes[wave] = total
    return sizes


_EVICTABLE = ("docs", "chunks")  # bulk artifacts; state stays resumable


def evict_checkpoints(checkpoint_dir: str, max_bytes: int) -> List[int]:
    """A5 (oldest-first cache eviction, markdown_lab/core/cache.py:206-239)
    mapped to the state layer: evict the BULK artifacts (docs/chunks
    parquet) of the oldest waves until the checkpoint dir fits
    ``max_bytes``. frontier_next / seen_delta / metrics / MANIFEST are
    never touched, so exact resume (and snapshot time travel) keeps
    working from every wave; only archived page content is dropped,
    exactly like the reference evicting cached bodies while the URL
    stays re-fetchable. Returns the waves whose bulk was evicted."""
    import shutil  # noqa: PLC0415

    sizes = checkpoint_sizes(checkpoint_dir)
    total = sum(sizes.values())
    evicted: List[int] = []
    for wave in sorted(sizes):  # oldest first
        if total <= max_bytes:
            break
        removed_any = False
        for name in _EVICTABLE:
            p = os.path.join(checkpoint_dir, f"wave={wave}", name)
            if os.path.isdir(p):
                freed = 0
                for root, _dirs, files in os.walk(p):
                    for fn in files:
                        freed += os.path.getsize(os.path.join(root, fn))
                shutil.rmtree(p)
                total -= freed
                removed_any = True
        if removed_any:  # don't re-report already-evicted waves
            evicted.append(wave)
    return evicted


class CrawlEngine:
    _instances = 0  # unique catalog-table prefix per engine (bucketed mode)

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        config: Optional[CrawlConfig] = None,
        checkpoint_dir: Optional[str] = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.checkpoint_dir = checkpoint_dir
        if self.config.bucketed_state and checkpoint_dir is None:
            raise ValueError(
                "bucketed_state persists frontier/seen as bucketed tables "
                "and needs a checkpoint_dir to put them in"
            )
        if self.config.bucketed_state and self.config.ttl_waves is not None:
            # the TTL re-crawl path routes the anti-join through the
            # cuckoo filter, so the bucketed tables' exchange-free join
            # never happens — but their per-wave write cost would still
            # be paid. Refuse the combination instead of silently paying
            # for nothing (round-3 ADVICE).
            raise ValueError(
                "bucketed_state and ttl_waves are mutually exclusive: "
                "TTL re-crawl uses the cuckoo-filter seen path, which "
                "never reads the bucketed state tables"
            )
        if self.config.bucketed_fetch and checkpoint_dir is None:
            raise ValueError(
                "bucketed_fetch writes the bucketed corpus and per-wave "
                "schedules under a checkpoint_dir"
            )
        if self.config.tail_rank and not self.config.lazy_deferred:
            raise ValueError("tail_rank is a refinement of lazy_deferred")
        # formatted plan of each wave's state anti-join (bucketed mode):
        # lets tests pin the exchange-free property on the REAL wave join
        self.antijoin_plans: List[str] = []
        # formatted plan of each wave's fetch join (bucketed_fetch mode)
        self.fetch_plans: List[str] = []
        CrawlEngine._instances += 1
        self._tbl_prefix = f"mls_e{CrawlEngine._instances}"
        # per-engine pandas UDFs: a UDF object caches its JVM function,
        # which is bound to the accumulator server of the SparkContext it
        # first ran in, so a module-level UDF breaks in a later context.
        # Markdown-only convert: the crawl consumes markdown + links and
        # skips the json/xml serializations.
        self._convert_udf = make_convert_udf(("markdown",))
        self._chunk_udf = make_chunk_markdown_udf(
            self.config.chunk_size, self.config.chunk_overlap
        )
        # canonicalize the corpus once; keep html out of any shuffle by
        # projecting it only at the join
        self.pages = pages.withColumn("canon_url", normalize_url_col(F.col("url")))
        # static across waves; cached AND filled eagerly — the first wave's
        # routing job fans into three union branches whose concurrent tasks
        # would otherwise all miss the cold cache and each re-scan the
        # corpus for robots bodies
        self.host_rules = robots_host_rules(robots_rules_df(pages)).cache()
        self.host_rules.count()
        self.host_delays: Optional[DataFrame] = None
        if self.config.honor_crawl_delay:
            self.host_delays = robots_crawl_delays(pages).cache()
            self.host_delays.count()
        self._corpus_tbl: Optional[str] = None
        if self.config.bucketed_fetch:
            # one-time ingest: the corpus as a canon_url-bucketed table,
            # the layout every wave's co-located fetch SMJ reads
            from ..sinks import write_bucketed  # noqa: PLC0415

            self._corpus_tbl = f"{self._tbl_prefix}_corpus_bkt"
            write_bucketed(
                self.pages.select("canon_url", "url", "html"),
                self._corpus_tbl,
                os.path.join(self.checkpoint_dir, "corpus_bkt"),
                buckets=self.config.state_buckets,
            )

    # -- state ----------------------------------------------------------------
    def _state_tables(self):
        """The two Iceberg-standin snapshot tables of bucketed-state mode
        (frontier = per-wave overwrite snapshots, seen = per-wave MERGE
        of the delta), rooted under the checkpoint dir so they persist
        across engine instances and resumes."""
        if getattr(self, "_snap_tables", None) is None:
            from ..state.iceberg_standin import SnapshotTable  # noqa: PLC0415

            assert self.checkpoint_dir is not None
            self._snap_tables = (
                SnapshotTable(
                    self.spark,
                    os.path.join(self.checkpoint_dir, "state", "frontier"),
                    f"{self._tbl_prefix}_frontier",
                    buckets=self.config.state_buckets,
                ),
                SnapshotTable(
                    self.spark,
                    os.path.join(self.checkpoint_dir, "state", "seen"),
                    f"{self._tbl_prefix}_seen",
                    buckets=self.config.state_buckets,
                ),
            )
        return self._snap_tables

    def _deferred_table(self):
        """Third snapshot table of bucketed-state + lazy_deferred mode:
        the standing tail, canon_url-bucketed like frontier/seen so the
        per-wave tail joins (head extraction scan, tail-minus-scheduled,
        rediscovery anti-join) read a co-located layout instead of
        re-shuffling the tail every wave."""
        if getattr(self, "_deferred_snap", None) is None:
            from ..state.iceberg_standin import SnapshotTable  # noqa: PLC0415

            assert self.checkpoint_dir is not None
            self._deferred_snap = SnapshotTable(
                self.spark,
                os.path.join(self.checkpoint_dir, "state", "deferred"),
                f"{self._tbl_prefix}_deferred",
                buckets=self.config.state_buckets,
            )
        return self._deferred_snap

    def _frontier_from_seeds(self, seeds) -> DataFrame:
        """seeds: list[str] or a DataFrame with a ``url`` column (the
        DataFrame form avoids a driver round-trip for huge seed sets)."""
        if isinstance(seeds, DataFrame):
            df = seeds.select("url")
        else:
            df = self.spark.createDataFrame([(s,) for s in seeds], "url string")
        return (
            df.withColumn("canon_url", normalize_url_col(F.col("url")))
            .withColumn("host", domain_col(F.col("canon_url")))
            .withColumn("depth", F.lit(0))
            .withColumn("priority", F.lit(1.0))
            .withColumn("attempt", F.lit(0))
            .select("canon_url", "host", "depth", "priority", "attempt")
            .dropDuplicates(["canon_url"])
        )

    def _ckpt_path(self, wave: int, name: str) -> str:
        assert self.checkpoint_dir is not None
        return os.path.join(self.checkpoint_dir, f"wave={wave}", name)

    def _write_wave(
        self,
        wave: int,
        frontier_next: DataFrame,
        seen_delta: DataFrame,
        docs: DataFrame,
        chunks: DataFrame,
        metrics: DataFrame,
    ) -> None:
        if self.checkpoint_dir is None:
            return
        frames = {
            "frontier_next": frontier_next,
            "seen_delta": seen_delta,
            "docs": docs,
            "chunks": chunks,
            "metrics": metrics,
        }

        def write(name: str, df: DataFrame) -> None:
            df.write.mode("overwrite").parquet(self._ckpt_path(wave, name))

        # the five writes are independent: submit them together so their
        # Spark jobs overlap instead of queueing one after another. The
        # wrapper carries this thread's job group, local properties and
        # session tags into the writer threads. The manifest is written
        # only after every write succeeded, so a failed wave stays
        # incomplete.
        task = inheritable_thread_target(self.spark)(write)
        with ThreadPoolExecutor(max_workers=len(frames)) as pool:
            futures = [pool.submit(task, name, df) for name, df in frames.items()]
        errors = [e for e in (fut.exception() for fut in futures) if e is not None]
        if errors:
            raise errors[0]
        manifest = {"wave": wave}
        with open(
            os.path.join(self.checkpoint_dir, f"wave={wave}", "MANIFEST.json"), "w"
        ) as f:
            json.dump(manifest, f)

    def _seen_sources(self, upto_wave: int) -> List[str]:
        """Parquet dirs whose union compacts to the seen set as of
        ``upto_wave`` (inclusive): the latest seen_compact at or before
        it, plus every seen_delta after that compact. Bounds the per-wave
        rebuild at compact_every + 1 dirs instead of one per wave."""
        waves = [w for w in self.complete_waves() if w <= upto_wave]
        base = None
        for w in reversed(waves):
            # require the parquet _SUCCESS commit marker, not just the
            # directory: the compact snapshot is written AFTER the wave's
            # MANIFEST, so a crash mid-compact leaves a partial dir that
            # a bare isdir() would trust as the seen base while skipping
            # all earlier deltas — already-crawled URLs would silently
            # re-fetch (round-3 ADVICE)
            cdir = self._ckpt_path(w, "seen_compact")
            if os.path.exists(os.path.join(cdir, "_SUCCESS")):
                base = w
                break
        paths: List[str] = []
        if base is not None:
            paths.append(self._ckpt_path(base, "seen_compact"))
        paths += [
            self._ckpt_path(w, "seen_delta")
            for w in waves
            if base is None or w > base
        ]
        return paths

    def complete_waves(self) -> List[int]:
        """Snapshot list: waves with a complete (manifested) checkpoint."""
        if self.checkpoint_dir is None or not os.path.isdir(self.checkpoint_dir):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.checkpoint_dir)
            if d.startswith("wave=")
            and os.path.exists(os.path.join(self.checkpoint_dir, d, "MANIFEST.json"))
        )

    def resume_state(
        self, from_wave: Optional[int] = None
    ) -> Tuple[Optional[DataFrame], Optional[DataFrame], int]:
        """(frontier, seen, next_wave) from a checkpoint snapshot.

        ``from_wave=None`` resumes after the LAST complete wave; an
        explicit wave is snapshot time travel — the crawl restarts as if
        wave ``from_wave`` had just finished (the Iceberg-snapshot
        analogue: each wave dir is an immutable snapshot, seen is the
        union of deltas up to it)."""
        waves = self.complete_waves()
        if from_wave is not None:
            if from_wave not in waves:
                raise ValueError(
                    f"wave {from_wave} has no complete checkpoint; have {waves}"
                )
            waves = [w for w in waves if w <= from_wave]
        if not waves:
            return None, None, 0
        last = waves[-1]
        frontier = self.spark.read.parquet(self._ckpt_path(last, "frontier_next"))
        seen = _compact_seen(self.spark.read.parquet(*self._seen_sources(last)))
        return frontier, seen, last + 1

    # -- the loop ---------------------------------------------------------------
    def crawl(
        self,
        seeds,
        resume: bool = False,
        from_wave: Optional[int] = None,
        host_priorities: Optional[DataFrame] = None,
        url_priorities: Optional[DataFrame] = None,
    ) -> Dict[str, DataFrame]:
        """``host_priorities``: optional (host, priority) table — e.g.
        ``rank.host_pagerank_priorities`` over a previous crawl's link
        graph — consumed at link discovery so newly found URLs enter the
        frontier with their host's score instead of the flat 0.5 (the
        politeness queues order by priority DESC within a depth). Tiny
        table (one row per host): AQE broadcasts the join.

        ``url_priorities``: optional (canon_url, priority) table (e.g.
        ``rank.url_pagerank_priorities``) — per-URL scores that order a
        host's own queue; takes precedence over the host score where
        both exist. At warehouse scale bucket it by canon_url so the
        per-wave join is co-located."""
        cfg = self.config
        frontier: Optional[DataFrame]
        seen: Optional[DataFrame]
        # standing deferred tail (lazy_deferred mode); None = empty
        deferred_state: Optional[DataFrame] = None
        start_wave = 0
        ranked_tail = None
        if cfg.lazy_deferred and cfg.tail_rank:
            from .tail import RankedTail  # noqa: PLC0415

            ranked_tail = RankedTail(
                self.spark,
                cfg.budget,
                salt_n=cfg.salt_n,
                compact_every=cfg.tail_compact_every,
                checkpoint_dir=self.checkpoint_dir,
            )
        if resume:
            frontier, seen, start_wave = self.resume_state(from_wave)
            if start_wave > 0:
                # restore the resumed wave's deferred tail from whichever
                # layout the checkpoint holds (v1 flat snapshot or the
                # ranked component set). A mode-switch resume stays
                # correct in every direction: the tail set is rebuilt and
                # folded into whatever representation THIS config uses
                # (default mode folds it back into the frontier, where it
                # re-routes once and rides the default path).
                waves = [
                    w for w in self.complete_waves() if w < start_wave
                ]
                tail_rows = None
                dpath = self._ckpt_path(start_wave - 1, "deferred")
                if os.path.exists(os.path.join(dpath, "_SUCCESS")):
                    tail_rows = self.spark.read.parquet(dpath)
                else:
                    from .tail import RankedTail  # noqa: PLC0415

                    restored = RankedTail.restore(
                        self.spark,
                        self.checkpoint_dir,
                        waves,
                        cfg.budget,
                        salt_n=cfg.salt_n,
                        compact_every=cfg.tail_compact_every,
                    )
                    if not restored.is_empty():
                        # always fold to rows and re-seed rather than
                        # adopting the components: stored ranks bound
                        # the superset via the budget/salt/compact
                        # config in effect WHEN WRITTEN, which a resume
                        # can change (e.g. a smaller budget would make
                        # _rk <= B*(age+1) under-read). One re-rank
                        # pass per resume event buys config-proof
                        # exactness (tail.py "Crash safety").
                        tail_rows = restored.all_rows()
                if tail_rows is not None:
                    if ranked_tail is not None:
                        ranked_tail.seed(start_wave - 1, tail_rows)
                    elif cfg.lazy_deferred:
                        deferred_state = tail_rows
                    elif frontier is not None:
                        frontier = frontier.unionByName(tail_rows)
        else:
            frontier, seen = None, None
        if frontier is None:
            # materialize: wave 0's routing fans out into three union
            # branches that would each re-run the seeds lineage
            # (normalize + dropDuplicates shuffle) otherwise
            frontier = self._frontier_from_seeds(seeds).localCheckpoint(eager=True)
            seen = None

        use_ttl = cfg.ttl_waves is not None
        bloom: Optional[ShardedBloom] = None
        cuckoo = None
        if use_ttl:
            from .cuckoo import ShardedCuckoo  # noqa: PLC0415

            cuckoo = ShardedCuckoo(
                cfg.cuckoo_shards,
                -(-cfg.cuckoo_capacity // cfg.cuckoo_shards),
            )
            if seen is not None:
                # resume: re-seed still-fresh keys PLUS the wave that
                # expires first (>=, not >): the resumed wave's expiry
                # delete targets status_wave == start_wave - ttl_waves,
                # and deleting a never-inserted key could strip a
                # colliding fingerprint of a still-fresh URL (false
                # negative in the prefilter)
                fresh = seen.filter(
                    F.col("status_wave") >= start_wave - cfg.ttl_waves
                )
                # executor-side shard build (round-5 verdict item 3):
                # the window re-seed previously collected O(|window|)
                # (idx, fp) pairs and replayed them through the serial
                # driver insert loop; now each task builds whole shards
                # and the driver adopts num_shards fixed-size tables
                self._build_cuckoo(fresh, cuckoo)
        elif seen is not None and not cfg.bucketed_state:
            bloom = self._build_bloom(seen)  # full build only on resume

        if cfg.bucketed_state and start_wave > 0:
            # resume/time-travel rebase: the standin snapshot tables may
            # hold state from waves AFTER the flat checkpoint being
            # resumed (or from a crash mid-commit); overwrite both to the
            # resumed state so wave replay starts from a consistent
            # snapshot, then serve state from the bucketed tables
            fr_snap, sn_snap = self._state_tables()
            fr_snap.overwrite(frontier, op_id=f"rebase-wave={start_wave}")
            if seen is not None:
                sn_snap.overwrite(seen, op_id=f"rebase-wave={start_wave}")
                seen = sn_snap.read()
            frontier = fr_snap.read()
            if cfg.lazy_deferred and deferred_state is not None:
                d_snap = self._deferred_table()
                d_snap.overwrite(
                    deferred_state, op_id=f"rebase-wave={start_wave}"
                )
                deferred_state = d_snap.read()

        all_records: List[DataFrame] = []
        all_chunks: List[DataFrame] = []
        # slim projection, NOT cached: since round 2 the corpus is probed
        # exactly once per wave (the broadcast fetch join; misses anti-join
        # the fetched set), so caching would pay a 500 MB materialization
        # in wave 0 to save one pruned parquet scan per later wave. At
        # warehouse scale canon_url is a real column of the Iceberg pages
        # table (computed once at ingest) and the scan is partition-pruned.
        pages_slim = self.pages.select("canon_url", "url", "html")

        for wave in range(start_wave, cfg.max_waves):
            _t = _time.time()
            tail_live = (
                not ranked_tail.is_empty()
                if ranked_tail is not None
                else deferred_state is not None and not deferred_state.isEmpty()
            )
            if frontier.isEmpty() and not tail_live:
                break
            _t = _tick(f"w{wave} isEmpty", _t)

            # 1. seen anti-join (bloom prefilter + exact); in TTL mode the
            # deletable cuckoo prefilter + anti-join against FRESH rows only.
            # In bucketed-state mode both sides are canon_url-bucketed
            # tables, so the exact left_anti is an exchange-free co-located
            # SMJ and needs no prefilter at all.
            if cfg.bucketed_state and not use_ttl:
                if seen is None:
                    candidates = frontier
                else:
                    candidates = frontier.join(
                        seen, on="canon_url", how="left_anti"
                    )
                    from ..plans.checks import formatted_plan  # noqa: PLC0415

                    self.antijoin_plans.append(formatted_plan(candidates))
            elif use_ttl:
                fresh_seen = None
                if seen is not None:
                    if wave - cfg.ttl_waves >= 0 and cuckoo is not None:
                        expiring = seen.filter(
                            F.col("status_wave") == wave - cfg.ttl_waves
                        )
                        cuckoo.delete_sharded_pairs(*self._cuckoo_pairs(expiring))
                    fresh_seen = seen.filter(
                        F.col("status_wave") > wave - cfg.ttl_waves
                    )
                candidates = cuckoo_antijoin(frontier, fresh_seen, cuckoo, self.spark)
            else:
                candidates = bloom_antijoin(frontier, seen, bloom, self.spark)

            # Materialize the anti-join output once (only when it did
            # work, i.e. a seen set exists): the routing below fans out
            # into ~8 branch scans (robots allow/deny, politeness
            # under/over/deferred, denied) and without this each branch
            # re-runs the probe UDF + exact anti-join over the full state
            # checkpoint — measured 0.5-0.9 s CPU x 8 stages per wave at
            # sf0.1, the dominant wave-1 fixed cost. One materialization
            # makes every branch a cheap filter over local blocks; the
            # candidate set is the wave's working set (an Iceberg-based
            # orchestration would land it per wave too).
            if seen is not None:
                candidates = candidates.localCheckpoint(eager=True)
                _t = _tick(f"w{wave} candidates lc", _t)

            # 2+3. robots allow/deny + politeness budget, routed in ONE
            # materialized pass: round 1 cached four branch DataFrames and
            # filled them with three sequential count() jobs; tagging every
            # candidate with its route and localCheckpointing once gives
            # the same recompute-safety for a single job's fixed cost.
            allowed, denied = robots_filter(candidates, self.host_rules)
            if cfg.lazy_deferred:
                # route only (new candidates + per-host tail heads): the
                # tail never re-enters the anti-join/robots/route plan.
                # Tail rows passed robots when first routed and host_rules
                # is fixed for the crawl; they are never in seen (only
                # fetched/denied URLs are), so skipping both is exact.
                sched_in = allowed.withColumn("_src", F.lit("new"))
                if ranked_tail is not None:
                    # rank-pruned heads superset: a row-group-pruned
                    # filter read, no tail window (frontier/tail.py)
                    heads = ranked_tail.heads_superset(wave)
                    if heads is not None:
                        sched_in = sched_in.unionByName(
                            heads.withColumn("_src", F.lit("head"))
                        )
                elif deferred_state is not None:
                    heads, _rest = schedule_wave(deferred_state, cfg.budget)
                    # one tail scan; heads is <= hosts*budget rows
                    heads = heads.localCheckpoint(eager=True)
                    sched_in = sched_in.unionByName(
                        heads.withColumn("_src", F.lit("head"))
                    )
                scheduled, deferred = schedule_wave(sched_in, cfg.budget)
            else:
                scheduled, deferred = schedule_wave(allowed, cfg.budget)
            if self.host_delays is not None:
                scheduled, cut = cap_schedule_by_delay(
                    scheduled, self.host_delays, cfg.wave_seconds, cfg.budget
                )
                deferred = deferred.unionByName(cut)
            if cfg.wave_fetch_cap is not None:
                kept = scheduled.orderBy(
                    F.col("priority").desc(),
                    F.col("depth").asc(),
                    F.col("canon_url").asc(),
                ).limit(cfg.wave_fetch_cap)
                over_cap = scheduled.join(
                    kept.select("canon_url"), on="canon_url", how="left_anti"
                )
                scheduled = kept
                deferred = deferred.unionByName(over_cap)
            if cfg.lazy_deferred and ranked_tail is not None:
                # one materialization carries everything the wave and the
                # tail commit need: the schedule, the denials, and the
                # unscheduled-new inserts, with _src preserved so the
                # tombstone set (scheduled rows drawn FROM the tail) is a
                # cheap filter over local blocks. Unscheduled head-
                # superset rows are simply dropped — they stay live in
                # the tail components untouched.
                routed = (
                    scheduled.withColumn("_route", F.lit("scheduled"))
                    .unionByName(
                        denied.withColumn("_src", F.lit("new")).withColumn(
                            "_route", F.lit("denied")
                        )
                    )
                    .unionByName(
                        deferred.filter(F.col("_src") == "new").withColumn(
                            "_route", F.lit("insert")
                        )
                    )
                ).localCheckpoint(eager=True)
                _t = _tick(f"w{wave} route lc", _t)
                sched_tagged = routed.filter(
                    F.col("_route") == "scheduled"
                ).drop("_route")
                denied = routed.filter(F.col("_route") == "denied").drop(
                    "_route", "_src"
                )
                new_inserts = routed.filter(F.col("_route") == "insert").drop(
                    "_route", "_src"
                )
                ranked_tail.apply_wave(
                    wave,
                    sched_tagged.filter(F.col("_src") == "head"),
                    new_inserts,
                )
                scheduled = sched_tagged.drop("_src")
                # downstream rediscovery anti-join sees the live tail
                tail_all = ranked_tail.all_rows()
                deferred = (
                    tail_all
                    if tail_all is not None
                    else self.spark.createDataFrame([], FRONTIER_SCHEMA)
                )
                _t = _tick(f"w{wave} deferred merge", _t)
            elif cfg.lazy_deferred:
                # unscheduled NEW candidates are the tail's inserts;
                # unscheduled head rows are already in the tail snapshot
                new_inserts = deferred.filter(F.col("_src") == "new").drop("_src")
                routed = (
                    scheduled.drop("_src")
                    .withColumn("_route", F.lit("scheduled"))
                    .unionByName(denied.withColumn("_route", F.lit("denied")))
                ).localCheckpoint(eager=True)
                _t = _tick(f"w{wave} route lc", _t)
                scheduled = routed.filter(
                    F.col("_route") == "scheduled"
                ).drop("_route")
                denied = routed.filter(F.col("_route") == "denied").drop("_route")
                # MERGE-shaped tail update: delete this wave's scheduled
                # keys (<= hosts*budget, broadcast by AQE), insert the
                # unscheduled new candidates, snapshot per wave. At
                # warehouse scale this is an Iceberg MERGE whose delete
                # touches only the files holding scheduled keys; the
                # standin rewrites the snapshot (one tail scan).
                if deferred_state is not None:
                    new_def = deferred_state.join(
                        scheduled.select("canon_url"),
                        on="canon_url",
                        how="left_anti",
                    ).unionByName(new_inserts)
                else:
                    new_def = new_inserts
                if self.checkpoint_dir is not None:
                    # the flat per-wave snapshot is the authoritative
                    # checkpoint (resume/time travel reads it, like
                    # frontier_next); bucketed_state ALSO commits it to
                    # the bucketed snapshot table so next wave's tail
                    # scans read the co-located layout
                    dpath = self._ckpt_path(wave, "deferred")
                    new_def.write.mode("overwrite").parquet(dpath)
                    deferred_state = self.spark.read.parquet(dpath)
                    if cfg.bucketed_state:
                        d_snap = self._deferred_table()
                        d_snap.overwrite(deferred_state, op_id=f"wave={wave}")
                        deferred_state = d_snap.read()
                        d_snap.expire_snapshots(keep_last=2)
                else:
                    deferred_state = new_def.localCheckpoint(eager=True)
                # downstream (rediscovery anti-join) sees the full tail
                deferred = deferred_state
                _t = _tick(f"w{wave} deferred merge", _t)
            else:
                routed = (
                    scheduled.withColumn("_route", F.lit("scheduled"))
                    .unionByName(deferred.withColumn("_route", F.lit("deferred")))
                    .unionByName(denied.withColumn("_route", F.lit("denied")))
                ).localCheckpoint(eager=True)
                _t = _tick(f"w{wave} route lc", _t)
                scheduled = routed.filter(
                    F.col("_route") == "scheduled"
                ).drop("_route")
                deferred = routed.filter(
                    F.col("_route") == "deferred"
                ).drop("_route")
                denied = routed.filter(F.col("_route") == "denied").drop("_route")

            # 4. fetch = broadcast join against the corpus (stream side =
            # corpus, build side = the small schedule: the corpus is never
            # shuffled). Oversized pages (reference max_file_size,
            # core/config.py:44) are a TERMINAL skip, not a retryable miss:
            # they stay in the join tagged _too_large so they reach the
            # seen set with status 'too_large' instead of burning
            # politeness-budget slots as retries — but their bytes never
            # cross Arrow (the convert UDF sees null html for them).
            if cfg.bucketed_fetch:
                # co-located form: write this wave's schedule bucketed by
                # the same key/count as the corpus table, then join the
                # two catalog tables — bucket-to-bucket SMJ, zero
                # exchanges, no broadcast (plan recorded in fetch_plans;
                # pinned by tests/test_bucketed_join.py)
                from ..plans.checks import formatted_plan  # noqa: PLC0415
                from ..sinks import write_bucketed  # noqa: PLC0415

                sch_tbl = f"{self._tbl_prefix}_sched_w{wave}"
                write_bucketed(
                    scheduled,
                    sch_tbl,
                    self._ckpt_path(wave, "sched_bkt"),
                    buckets=cfg.state_buckets,
                )
                fetched = self.spark.table(self._corpus_tbl).join(
                    self.spark.table(sch_tbl), on="canon_url", how="inner"
                )
                self.fetch_plans.append(formatted_plan(fetched))
                if wave > 0:
                    self.spark.sql(
                        f"DROP TABLE IF EXISTS {self._tbl_prefix}_sched_w{wave - 1}"
                    )
            else:
                fetched = pages_slim.join(
                    F.broadcast(scheduled), on="canon_url", how="inner"
                )
            fetched = fetched.withColumn(
                "_too_large", F.length("html") > cfg.max_file_size
            )

            # 5. convert + chunk (Arrow-vectorized)
            docs = (
                fetched.withColumn(
                    "doc",
                    self._convert_udf(
                        F.when(~F.col("_too_large"), F.col("html")),
                        F.col("url"),
                    ),
                )
                .select(
                    "canon_url",
                    "url",
                    "host",
                    "depth",
                    F.lit(wave).alias("wave"),
                    F.col("doc.title").alias("title"),
                    F.col("doc.markdown").alias("markdown"),
                    F.col("doc.links").alias("links"),
                    F.when(F.col("_too_large"), F.lit("too_large"))
                    .otherwise(F.col("doc.status"))
                    .alias("status"),
                    F.col("doc.error").alias("error"),
                )
                # the wave's ONE heavy job: fetch join + convert UDF,
                # materialized here so chunks/records/links/metrics all
                # derive lazily without re-running the UDF (round 1 paid
                # two extra jobs checkpointing records and chunks)
                .localCheckpoint(eager=True)
            )
            _t = _tick(f"w{wave} docs lc", _t)

            # fetch misses: anti-join the schedule against the (small,
            # just-materialized) fetched set — NOT against the corpus,
            # which a left_anti would shuffle wholesale at 100 TB
            missed = scheduled.join(
                docs.select("canon_url"), on="canon_url", how="left_anti"
            )
            # P2 retry split: a miss with attempts left re-enters the next
            # wave (attempt+1); an exhausted miss is final (seen)
            retry = missed.filter(F.col("attempt") < cfg.max_retries)
            missed_final = missed.filter(F.col("attempt") >= cfg.max_retries)

            chunks = docs.filter(F.col("status") == "ok").select(
                "canon_url",
                "wave",
                F.posexplode(self._chunk_udf(F.col("markdown"))).alias(
                    "pos", "content"
                ),
            )

            # 6. discover next frontier: explode links, canonicalize (JVM),
            #    filter http(s), exclude sitemap/robots rows' pseudo-links
            discovered = (
                docs.filter(~F.col("canon_url").rlike(r"/(robots\.txt|sitemap\.xml)$"))
                .select(
                    F.col("depth").alias("parent_depth"),
                    F.explode("links").alias("link"),
                )
                .filter(F.col("link").rlike(r"^https?://[^/\s]+"))
                .withColumn("canon_url", normalize_url_col(F.col("link")))
                .withColumn("host", domain_col(F.col("canon_url")))
                .groupBy("canon_url", "host")
                .agg(
                    (F.min("parent_depth") + 1).alias("depth"),
                    F.lit(0.5).alias("priority"),
                    F.lit(0).alias("attempt"),
                )
            )
            if host_priorities is not None:
                hp = host_priorities.select(
                    "host", F.col("priority").alias("_host_prio")
                )
                discovered = (
                    discovered.join(hp, on="host", how="left")
                    .withColumn(
                        "priority",
                        F.coalesce(F.col("_host_prio"), F.col("priority")),
                    )
                    .drop("_host_prio")
                )
            if url_priorities is not None:
                up = url_priorities.select(
                    "canon_url", F.col("priority").alias("_url_prio")
                )
                discovered = (
                    discovered.join(up, on="canon_url", how="left")
                    .withColumn(
                        "priority",
                        F.coalesce(F.col("_url_prio"), F.col("priority")),
                    )
                    .drop("_url_prio")
                )

            # 7. bookkeeping — retrying rows are NOT seen yet
            seen_delta = (
                scheduled.join(retry, on="canon_url", how="left_anti")
                .select("canon_url", "host", "depth")
                .withColumn("status_wave", F.lit(wave))
                .unionByName(
                    denied.select("canon_url", "host", "depth").withColumn(
                        "status_wave", F.lit(wave)
                    )
                )
                .dropDuplicates(["canon_url"])
            )
            records = (
                docs.select(
                    "canon_url", "host", "depth", "wave",
                    F.col("status").alias("status"),
                )
                .unionByName(
                    missed_final.select("canon_url", "host", "depth")
                    .withColumn("wave", F.lit(wave))
                    .withColumn("status", F.lit("fetch_miss"))
                )
                .unionByName(
                    retry.select("canon_url", "host", "depth")
                    .withColumn("wave", F.lit(wave))
                    .withColumn("status", F.lit("retry"))
                )
                .unionByName(
                    denied.select("canon_url", "host", "depth")
                    .withColumn("wave", F.lit(wave))
                    .withColumn("status", F.lit("robots_denied"))
                )
            )
            # records/chunks stay LAZY: their lineage roots at the routed
            # and docs local checkpoints, so consuming them later replays
            # cheap filters/unions, never the convert UDF or corpus scan
            all_records.append(records)
            all_chunks.append(chunks)

            # per-partition lineage metrics
            metrics = (
                docs.groupBy(F.spark_partition_id().alias("partition_id"), "status")
                .agg(F.count("*").alias("rows"))
                .withColumn("wave", F.lit(wave))
            )

            # next-wave state (materialize BEFORE mutating seen)
            seen_next = _compact_seen(
                seen.unionByName(seen_delta.select(seen.columns))
                if seen is not None
                else seen_delta
            )
            # frontier-bloat guard: drop rediscovered URLs that will STILL
            # be fresh when the next wave runs (TTL mode re-admits expired)
            dedup_seen = (
                seen_next.filter(
                    F.col("status_wave") > (wave + 1) - cfg.ttl_waves
                )
                if use_ttl
                else seen_next
            )

            requeued = retry.select(
                "canon_url", "host", "depth", "priority",
                (F.col("attempt") + 1).alias("attempt"),
            )
            # a URL that is both deferred (or requeued) and rediscovered
            # keeps its DEFERRED values (simulator parity: deferred wins
            # over rediscovery), hence the anti-joins — cheap in default
            # mode (both right sides wave-bounded, AQE broadcasts them)
            disc_new = discovered.join(
                dedup_seen, on="canon_url", how="left_anti"
            )
            if cfg.lazy_deferred:
                # lazy modes: the tail side of the rediscovery dedup is
                # the FULL standing tail — a direct left_anti would
                # shuffle it every wave. Invert: stream the tail once
                # through an inner join against this wave's (small)
                # discovered key set — AQE broadcasts the keys, the
                # tail is scanned but never exchanged — then anti-join
                # the (tiny) hit set. Exact: hits = discovered ∩ tail.
                # At warehouse scale the scan itself prunes via parquet
                # bloom/column stats on canon_url; with bucketed tail
                # storage it is the co-located form.
                tail_hits = deferred.select("canon_url").join(
                    disc_new.select("canon_url").distinct(),
                    on="canon_url",
                    how="inner",
                )
                disc_new = disc_new.join(
                    tail_hits, on="canon_url", how="left_anti"
                )
            else:
                disc_new = disc_new.join(
                    deferred, on="canon_url", how="left_anti"
                )
            fresh_discovered = disc_new.join(
                requeued, on="canon_url", how="left_anti"
            ).select("canon_url", "host", "depth", "priority", "attempt")
            new_frontier = requeued.unionByName(fresh_discovered)
            if not cfg.lazy_deferred:
                # default mode: the tail rides the frontier itself
                new_frontier = deferred.select(
                    "canon_url", "host", "depth", "priority", "attempt"
                ).unionByName(new_frontier)
            new_frontier = new_frontier.groupBy("canon_url", "host").agg(
                F.min("depth").alias("depth"),
                F.max("priority").alias("priority"),
                F.max("attempt").alias("attempt"),
            )

            _t = _tick(f"w{wave} plan build", _t)
            self._write_wave(wave, new_frontier, seen_delta, docs, chunks, metrics)
            _t = _tick(f"w{wave} write_wave", _t)

            if self.checkpoint_dir is not None:
                # cut lineage: reload state from the checkpoint we just
                # wrote. seen is rebuilt FLAT from every delta file (one
                # union + one groupBy) rather than chaining a groupBy per
                # wave — the chained form recomputes the whole history
                # through W nested aggregations at wave W (O(W^2) over a
                # crawl); the flat form is O(W) cheap delta scans with
                # constant plan depth. (At warehouse scale seen is an
                # Iceberg table MERGEd per wave — or bucketed_state.)
                frontier = self.spark.read.parquet(
                    self._ckpt_path(wave, "frontier_next")
                )
                seen_delta_r = self.spark.read.parquet(
                    self._ckpt_path(wave, "seen_delta")
                )
                seen = _compact_seen(
                    self.spark.read.parquet(*self._seen_sources(wave))
                )
                if (
                    cfg.seen_compact_every is not None
                    and (wave + 1) % cfg.seen_compact_every == 0
                ):
                    # additive compaction snapshot: future rebuilds read
                    # this + later deltas (<= compact_every + 1 dirs)
                    # instead of every delta since wave 0
                    cpath = self._ckpt_path(wave, "seen_compact")
                    seen.write.mode("overwrite").parquet(cpath)
                    seen = self.spark.read.parquet(cpath)
                delta_for_bloom = seen_delta_r
                if cfg.bucketed_state:
                    # persist both state sides as Iceberg-standin snapshot
                    # tables, bucketed by canon_url so the NEXT wave's
                    # anti-join is exchange-free on both scans. The wave
                    # commit is MERGE-shaped and idempotent (op_id =
                    # "wave=N"): frontier is an overwrite snapshot, seen
                    # MERGEs only this wave's delta (upsert via
                    # _compact_seen — latest status_wave wins, exactly
                    # the flat rebuild's semantics), and each commit becomes
                    # visible only at an atomic pointer swap, so a crash
                    # mid-commit leaves the previous snapshot intact and a
                    # replayed wave is detected and skipped
                    # (state/iceberg_standin.py; crash drill in
                    # tests/test_iceberg_standin.py).
                    fr_snap, sn_snap = self._state_tables()
                    fr_snap.overwrite(frontier, op_id=f"wave={wave}")
                    sn_snap.merge_upsert(
                        seen_delta_r, _compact_seen, op_id=f"wave={wave}"
                    )
                    frontier = fr_snap.read()
                    seen = sn_snap.read()
                    # Iceberg maintenance analogue: keep a short snapshot
                    # tail for time travel, GC the rest
                    fr_snap.expire_snapshots(keep_last=2)
                    sn_snap.expire_snapshots(keep_last=2)
            else:
                # fuse next-wave frontier + seen into ONE materialization:
                # harmonize schemas, tag, localCheckpoint once, split back
                state = (
                    new_frontier.withColumn(
                        "status_wave", F.lit(None).cast("int")
                    ).withColumn("_tag", F.lit("f"))
                ).unionByName(
                    seen_next.withColumn("priority", F.lit(None).cast("double"))
                    .withColumn("attempt", F.lit(None).cast("int"))
                    .withColumn("_tag", F.lit("s"))
                ).localCheckpoint(eager=True)
                _t = _tick(f"w{wave} state lc", _t)
                frontier = state.filter(F.col("_tag") == "f").select(
                    "canon_url", "host", "depth", "priority", "attempt"
                )
                seen = state.filter(F.col("_tag") == "s").select(
                    "canon_url", "host", "depth", "status_wave"
                )
                delta_for_bloom = seen_delta

            # incremental bloom: OR only this wave's delta into the shards
            # (full-seen rebuild would rescan 10^10 keys every wave).
            # TTL mode inserts the delta's keys into the cuckoo instead —
            # one wave's schedule, bounded by hosts*budget (at warehouse
            # scale the cuckoo shards like the bloom; windowed state is
            # bounded by ttl_waves * budget regardless).
            if use_ttl:
                cuckoo.add_sharded_pairs(*self._cuckoo_pairs(delta_for_bloom))
            elif not cfg.bucketed_state:  # co-located join needs no prefilter
                bloom = self._build_bloom(delta_for_bloom, into=bloom)
            _t = _tick(f"w{wave} bloom build", _t)

        if all_records:
            trace = all_records[0]
            for r in all_records[1:]:
                trace = trace.unionByName(r)
            chunks_all = all_chunks[0]
            for c in all_chunks[1:]:
                chunks_all = chunks_all.unionByName(c)
        else:
            trace = self.spark.createDataFrame(
                [], "canon_url string, host string, depth int, wave int, status string"
            )
            chunks_all = self.spark.createDataFrame(
                [], "canon_url string, wave int, pos int, content string"
            )
        return {"trace": trace, "seen": seen, "chunks": chunks_all}

    def _build_cuckoo(self, df: DataFrame, cuckoo) -> None:
        """Resume-path re-seed, executor-side (round-5 verdict item 3):
        the still-fresh seen window is repartitioned by cuckoo shard id,
        each task builds its shards' WHOLE tables with the same bulk
        insert the driver uses, and the driver ADOPTS the returned
        tables — so the driver receives num_shards fixed-size arrays
        (the `_build_bloom` shape) instead of O(|window|) 10-byte pairs
        plus a serial ~133k keys/s insert replay. Per-wave delta
        inserts/deletes stay pair-based (bounded by hosts*budget)."""
        cfg = self.config
        nshards = cuckoo.num_shards
        nb = cuckoo.nbuckets
        cap = -(-cfg.cuckoo_capacity // cfg.cuckoo_shards)

        @pandas_udf("long")
        def _sid_of(urls: pd.Series) -> pd.Series:
            from .cuckoo import ShardedCuckoo  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            keys = url_hash64_vec(urls.fillna("").tolist())
            return pd.Series(ShardedCuckoo.shard_of_keys(keys, nshards))

        def build(iterator):
            import numpy as np  # noqa: PLC0415

            from .cuckoo import CuckooFilter, ShardedCuckoo  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            tables: dict = {}
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                keys = url_hash64_vec(pdf["canon_url"].fillna("").tolist())
                sid = ShardedCuckoo.shard_of_keys(keys, nshards)
                idx, fp = CuckooFilter.pairs_for_keys(keys, nb)
                for s in np.unique(sid):
                    t = tables.get(int(s))
                    if t is None:
                        t = tables[int(s)] = CuckooFilter(cap)
                        if t.nbuckets != nb:  # config drift would make
                            # the adopted table mis-indexed (silent
                            # false negatives); fail loudly, -O-proof
                            raise ValueError(
                                "cuckoo shard geometry drift: "
                                f"{t.nbuckets} != {nb}"
                            )
                    m = sid == s
                    t.add_pairs(idx[m], fp[m])
            rows = []
            for s, t in tables.items():
                fail = np.array(sorted(t.failed), dtype=np.uint64)
                rows.append(
                    {
                        "shard": s,
                        "tbl": t.table.tobytes(),
                        "cnt": t.count,
                        "failed": fail.tobytes(),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

        rows = (
            df.select("canon_url")
            .withColumn("_sid", _sid_of(F.col("canon_url")))
            .repartition(nshards, "_sid")
            .mapInPandas(build, "shard int, tbl binary, cnt long, failed binary")
            .collect()
        )
        import numpy as np

        for row in rows:
            sh = cuckoo.shards[int(row["shard"])]
            # adoption, not merge: cuckoo tables don't OR — valid only
            # into a fresh filter (the resume path always is); a loud
            # -O-proof check, since overwriting a live shard would
            # silently drop its keys (false negatives in the prefilter)
            if sh.count != 0:
                raise ValueError(
                    "executor cuckoo build into non-empty shard"
                )
            sh.table = np.frombuffer(row["tbl"], dtype=np.uint16).reshape(
                sh.nbuckets, -1
            ).copy()
            sh.count = int(row["cnt"])
            flat = np.frombuffer(row["failed"], dtype=np.uint64)
            sh.failed = {
                (int(flat[i]), int(flat[i + 1])) for i in range(0, len(flat), 2)
            }

    def _cuckoo_pairs(self, df: DataFrame):
        """(index1, fingerprint) arrays for df.canon_url, computed
        EXECUTOR-side (the bloom pattern, round-2 verdict item): each
        partition hashes its own URLs via mapInPandas and ships one packed
        binary row — 10 bytes/key — so no raw URL string ever crosses to
        the driver. At 10^10-frontier scale the per-wave delta is
        hosts*budget keys; 10 bytes each keeps the driver merge trivial
        (the cuckoo itself shards like ShardedBloom when one table won't
        fit — see BENCH.md shard math)."""
        from .cuckoo import CuckooFilter as _CF  # noqa: PLC0415

        nshards = self.config.cuckoo_shards
        nb = _CF.nbuckets_for(-(-self.config.cuckoo_capacity // nshards))

        def pack(iterator):
            import numpy as np  # noqa: PLC0415

            from .cuckoo import ShardedCuckoo  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                keys = url_hash64_vec(pdf["canon_url"].fillna("").tolist())
                sid, idxs, fps = ShardedCuckoo.sharded_pairs_for_keys(
                    keys, nshards, nb
                )
                yield pd.DataFrame(
                    {
                        "sids": [sid.astype(np.int16).tobytes()],
                        "idxs": [idxs.tobytes()],
                        "fps": [fps.tobytes()],
                    }
                )

        rows = (
            df.select("canon_url")
            .mapInPandas(pack, "sids binary, idxs binary, fps binary")
            .collect()
        )
        import numpy as np

        if not rows:
            return (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.uint64),
                np.empty(0, dtype=np.uint16),
            )
        sids = np.concatenate(
            [np.frombuffer(r["sids"], dtype=np.int16) for r in rows]
        ).astype(np.int64)
        idxs = np.concatenate(
            [np.frombuffer(r["idxs"], dtype=np.uint64) for r in rows]
        )
        fps = np.concatenate(
            [np.frombuffer(r["fps"], dtype=np.uint16) for r in rows]
        )
        return sids, idxs, fps

    def _build_bloom(
        self, seen: DataFrame, into: Optional[ShardedBloom] = None
    ) -> ShardedBloom:
        """Distributed-style build: per-partition partial bitsets, OR-merged.

        Uses mapInPandas so each partition hashes its own rows (the cluster
        pattern); the driver only ORs num_shards small bitsets. With
        ``into``, the new bitsets are OR'd into an existing filter
        (incremental per-wave update).
        """
        cfg = self.config
        num_shards = cfg.bloom_shards
        cap, fpr = cfg.bloom_capacity_per_shard, cfg.bloom_fpr

        def build_partial(iterator):
            from .bloom import partial_bitsets_from_keys  # noqa: PLC0415
            from .bloom import ShardedBloom as SB  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                keys = url_hash64_vec(pdf["canon_url"].fillna("").tolist())
                sid = SB.shard_of(pdf["host"].fillna("").tolist(), num_shards)
                partial = partial_bitsets_from_keys(keys, sid, num_shards, cap, fpr)
                yield pd.DataFrame(
                    {
                        "shard": list(partial.keys()),
                        "bits": list(partial.values()),
                    }
                )

        # coalesce first: partial bitsets are num_shards * m_bits/8 bytes PER
        # INPUT PARTITION; collecting 64 partitions x 8 shards x 160 KB would
        # ship ~80 MB to the driver each wave for no benefit
        partials = (
            seen.select("canon_url", "host")
            .coalesce(num_shards)
            .mapInPandas(build_partial, "shard int, bits binary")
            .collect()
        )
        import numpy as np

        sb = into if into is not None else ShardedBloom(num_shards, cap, fpr)
        for row in partials:
            sb.shards[row["shard"]].bits |= np.frombuffer(
                row["bits"], dtype=np.uint64
            )
        return sb
