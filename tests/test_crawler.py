"""Crawl-order parity: the Spark engine must reproduce the simulator's
trace (same (url, wave, depth, status) tuples) and the exact URL-seen set,
plus checkpoint/resume identity."""

import pytest

from markdown_lab_spark.corpus.generator import CorpusSpec, generate_corpus
from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine
from markdown_lab_spark.frontier.simulator import simulate_crawl


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CorpusSpec(hosts=4, pages_per_host=25, hot_fraction=0.4))


@pytest.fixture(scope="module")
def pages_df(spark, corpus, tmp_path_factory):
    from markdown_lab_spark.corpus.generator import write_corpus_parquet

    path = str(tmp_path_factory.mktemp("corpus") / "pages.parquet")
    write_corpus_parquet(corpus, path)
    return spark.read.parquet(path)


CFG = dict(rps=1.0, wave_seconds=5, max_waves=6)


def test_crawl_matches_simulator(spark, corpus, pages_df):
    sim = simulate_crawl(
        corpus.pages_dict(), corpus.seeds, rps=CFG["rps"],
        wave_seconds=CFG["wave_seconds"], max_waves=CFG["max_waves"],
    )
    engine = CrawlEngine(spark, pages_df, CrawlConfig(**CFG))
    out = engine.crawl(corpus.seeds)
    trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in out["trace"].collect()
    }
    assert trace == sim.trace()

    seen = {r["canon_url"] for r in out["seen"].select("canon_url").collect()}
    assert seen == sim.seen


def test_bloom_antijoin_per_shard_probe_equivalent_and_local(spark, pages_df):
    """Round-6 (round-5 verdict item 2): the per-shard probe layout —
    candidates repartitioned by shard_of(host), one lazily-fetched
    broadcast per shard — must return exactly the whole-broadcast path's
    rows, and a task must probe only the shards its rows hash to (the
    10^10 posture where the whole filter cannot ship to every executor),
    not all of them."""
    from pyspark.sql import functions as F

    from markdown_lab_spark.frontier.bloom import ShardedBloom
    from markdown_lab_spark.frontier.crawler import bloom_antijoin

    cand = pages_df.select(
        F.col("url").alias("canon_url"),
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
    ).distinct()
    seen_rows = cand.limit(40).select("canon_url", "host")
    bloom = ShardedBloom(num_shards=8, capacity_per_shard=1 << 12, fpr=0.01)
    keys = [
        (r["canon_url"], r["host"]) for r in seen_rows.collect()
    ]
    bloom.add([u for u, _ in keys], [h for _, h in keys])
    seen = seen_rows.select("canon_url")

    base = {
        r["canon_url"]
        for r in bloom_antijoin(
            cand, seen, bloom, spark, per_shard=False
        ).collect()
    }
    ps_df = bloom_antijoin(cand, seen, bloom, spark, per_shard=True)
    ps = {r["canon_url"] for r in ps_df.collect()}
    assert ps == base

    # locality: after the shard repartition, a task sees the shards of
    # its own rows only — far below "every task loads all 8 shards"
    sid_udf_src = cand.withColumn(
        "_sid",
        F.udf(lambda h: int(ShardedBloom.shard_of([h or ""], 8)[0]), "int")(
            "host"
        ),
    )
    per_part = (
        sid_udf_src.repartition(64, F.col("_sid"))
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.countDistinct("_sid").alias("nsid"))
        .agg(F.max("nsid").alias("mx"))
        .collect()[0]["mx"]
    )
    # 8 shard ids hashed into 64 partitions: each task holds rows of at
    # most a couple of shards (vs the whole-broadcast path where every
    # task materializes all 8 bitsets)
    assert per_part <= 2, per_part


def test_robots_denied_present(spark, corpus, pages_df):
    """hot.example (host index 0) disallows /private/ — those URLs must be
    denied, not fetched."""
    sim = simulate_crawl(corpus.pages_dict(), corpus.seeds, max_waves=8)
    denied = [r for r in sim.records if r.status == "robots_denied"]
    assert denied, "corpus must exercise robots denial"
    assert all("/private/" in r.url for r in denied)


def test_politeness_budget_respected(spark, corpus, pages_df):
    engine = CrawlEngine(spark, pages_df, CrawlConfig(rps=1.0, wave_seconds=3, max_waves=4))
    out = engine.crawl(corpus.seeds)
    per = (
        out["trace"]
        .filter("status != 'robots_denied'")
        .groupBy("wave", "host")
        .count()
        .collect()
    )
    budget = engine.config.budget
    assert all(r["count"] <= budget for r in per), [
        (r["wave"], r["host"], r["count"]) for r in per if r["count"] > budget
    ]


def test_checkpoint_resume_identical(spark, corpus, pages_df, tmp_path):
    full_dir = str(tmp_path / "full")
    engine = CrawlEngine(spark, pages_df, CrawlConfig(**CFG), checkpoint_dir=full_dir)
    full = engine.crawl(corpus.seeds)
    full_trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in full["trace"].collect()
    }
    full_seen = {r["canon_url"] for r in full["seen"].select("canon_url").collect()}

    # interrupted run: stop after wave 2, then resume to completion
    part_dir = str(tmp_path / "part")
    cfg_short = CrawlConfig(**{**CFG, "max_waves": 3})
    CrawlEngine(spark, pages_df, cfg_short, checkpoint_dir=part_dir).crawl(corpus.seeds)
    resumed_engine = CrawlEngine(
        spark, pages_df, CrawlConfig(**CFG), checkpoint_dir=part_dir
    )
    resumed = resumed_engine.crawl(corpus.seeds, resume=True)

    resumed_trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in resumed["trace"].collect()
    }
    resumed_seen = {
        r["canon_url"] for r in resumed["seen"].select("canon_url").collect()
    }
    # resumed trace only covers waves >= 3; rebuild full from checkpoints
    early = {t for t in full_trace if t[1] < 3}
    assert early | resumed_trace == full_trace
    assert resumed_seen == full_seen


def test_retry_requeue_matches_simulator(spark, corpus, pages_df):
    """P2: dead links retry (attempt+1 per wave) before going fetch_miss;
    trace parity with the simulator holds with retries on."""
    cfg = dict(rps=1.0, wave_seconds=5, max_waves=6)
    sim = simulate_crawl(
        corpus.pages_dict(), corpus.seeds, rps=cfg["rps"],
        wave_seconds=cfg["wave_seconds"], max_waves=cfg["max_waves"],
        max_retries=2,
    )
    sim_statuses = {r.status for r in sim.records}
    assert "retry" in sim_statuses  # dead links exist in the corpus

    from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine

    engine = CrawlEngine(spark, pages_df, CrawlConfig(**cfg, max_retries=2))
    out = engine.crawl(corpus.seeds)
    trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in out["trace"].collect()
    }
    assert trace == sim.trace()
    seen = {r["canon_url"] for r in out["seen"].select("canon_url").collect()}
    assert seen == sim.seen
    # a retried URL appears in multiple waves, final status fetch_miss
    by_url = {}
    for u, w, d, s in trace:
        by_url.setdefault(u, []).append((w, s))
    retried = {u: v for u, v in by_url.items() if any(s == "retry" for _, s in v)}
    assert retried
    for u, events in retried.items():
        events.sort()
        last_wave, last_status = events[-1]
        # resolved, or still mid-retry only because max_waves cut the crawl
        assert last_status in ("fetch_miss", "ok") or last_wave >= cfg["max_waves"] - 2


def test_oversized_page_terminal_not_retried(spark):
    """ADVICE: oversize is a terminal skip (reference max_file_size,
    core/config.py) — status 'too_large', never requeued as a retry."""
    from pyspark.sql import functions as F

    big = b"<html><body>" + b"x" * 5000 + b"</body></html>"
    small = (
        b'<html><head><title>s</title></head><body><p>hello world</p>'
        b'<a href="https://h1.test/big">big</a></body></html>'
    )
    pages = spark.createDataFrame(
        [("https://h1.test/small", small), ("https://h1.test/big", big)],
        "url string, html binary",
    )
    cfg = CrawlConfig(
        rps=1.0, wave_seconds=5, max_waves=4, max_retries=3, max_file_size=4096
    )
    out = CrawlEngine(spark, pages, cfg).crawl(["https://h1.test/small"])
    tr = sorted(
        (r["canon_url"], r["wave"], r["status"]) for r in out["trace"].collect()
    )
    assert ("https://h1.test/big", 1, "too_large") in tr
    # terminal: exactly one trace row for the big page, no retry rows
    big_rows = [t for t in tr if t[0] == "https://h1.test/big"]
    assert big_rows == [("https://h1.test/big", 1, "too_large")]
    # and it is seen (won't be rescheduled even if rediscovered)
    seen = {r["canon_url"] for r in out["seen"].select("canon_url").collect()}
    assert "https://h1.test/big" in seen
    # no chunks were produced from it
    assert (
        out["chunks"].filter(F.col("canon_url") == "https://h1.test/big").count()
        == 0
    )


def test_bucketed_state_wave_join_exchange_free(spark, corpus, pages_df, tmp_path):
    """bucketed_state: the per-wave frontier-minus-seen anti-join runs on
    two canon_url-bucketed scans with NO Exchange on either side (the
    co-located layout for 10^10-row state), and the crawl's trace/seen
    stay identical to the default mode."""
    baseline = CrawlEngine(spark, pages_df, CrawlConfig(**CFG)).crawl(corpus.seeds)
    base_trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in baseline["trace"].collect()
    }

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        engine = CrawlEngine(
            spark,
            pages_df,
            CrawlConfig(**CFG, bucketed_state=True, state_buckets=8),
            checkpoint_dir=str(tmp_path / "bkt"),
        )
        out = engine.crawl(corpus.seeds)
        trace = {
            (r["canon_url"], r["wave"], r["depth"], r["status"])
            for r in out["trace"].collect()
        }
        assert trace == base_trace
        assert engine.antijoin_plans, "bucketed waves must record join plans"
        for plan in engine.antijoin_plans:
            assert "Exchange" not in plan, plan[:3000]
            assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_state_requires_checkpoint_dir(spark, pages_df):
    with pytest.raises(ValueError):
        CrawlEngine(spark, pages_df, CrawlConfig(bucketed_state=True))


def test_oversized_trace_matches_simulator(spark):
    """too_large parity: engine trace == simulator trace when the corpus
    contains a page over max_file_size (discovered, scheduled once,
    terminal — never retried, contributes no links)."""
    from markdown_lab_spark.frontier.simulator import simulate_crawl

    def page(title, links):
        body = f"<html><head><title>{title}</title></head><body><p>{title}</p>"
        for l in links:
            body += f'<a href="{l}">{l}</a>'
        return body + "</body></html>"

    pages = {
        "https://h1.test/a": page("a", ["https://h1.test/big", "https://h1.test/b"]),
        "https://h1.test/b": page("b", []),
        "https://h1.test/big": "<html><body>" + "x" * 5000 + "</body></html>",
    }
    sim = simulate_crawl(
        pages, ["https://h1.test/a"], rps=1.0, wave_seconds=5,
        max_waves=4, max_retries=2, max_file_size=4096,
    )
    assert any(r.status == "too_large" for r in sim.records)

    pages_df = spark.createDataFrame(
        [(u, b.encode()) for u, b in pages.items()], "url string, html binary"
    )
    cfg = CrawlConfig(
        rps=1.0, wave_seconds=5, max_waves=4, max_retries=2, max_file_size=4096
    )
    out = CrawlEngine(spark, pages_df, cfg).crawl(["https://h1.test/a"])
    trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in out["trace"].collect()
    }
    assert trace == sim.trace()
    seen = {r["canon_url"] for r in out["seen"].select("canon_url").collect()}
    assert seen == sim.seen


def test_snapshot_time_travel_resume(spark, corpus, pages_df, tmp_path):
    """Every complete wave checkpoint is an immutable snapshot: resuming
    from an EARLIER wave replays the remaining crawl identically (the
    Iceberg time-travel analogue for frontier+seen state)."""
    full_dir = str(tmp_path / "full")
    engine = CrawlEngine(spark, pages_df, CrawlConfig(**CFG), checkpoint_dir=full_dir)
    full = engine.crawl(corpus.seeds)
    full_trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in full["trace"].collect()
    }
    waves = engine.complete_waves()
    assert len(waves) >= 3
    mid = waves[2]  # resume as if wave `mid` had just finished

    replay_engine = CrawlEngine(
        spark, pages_df, CrawlConfig(**CFG), checkpoint_dir=full_dir
    )
    replay = replay_engine.crawl([], resume=True, from_wave=mid)
    replay_trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in replay["trace"].collect()
    }
    assert replay_trace == {t for t in full_trace if t[1] > mid}

    with pytest.raises(ValueError):
        replay_engine.resume_state(from_wave=999)


def test_checkpoint_size_and_eviction(spark, corpus, pages_df, tmp_path):
    """A4/A5: per-wave checkpoint sizing and oldest-first eviction of the
    bulk artifacts; resume (incl. from an evicted wave's state) stays
    exact because frontier/seen/metrics/manifest are never evicted."""
    from markdown_lab_spark.frontier.crawler import (
        checkpoint_sizes,
        evict_checkpoints,
    )

    ckpt = str(tmp_path / "ckpt")
    engine = CrawlEngine(spark, pages_df, CrawlConfig(**CFG), checkpoint_dir=ckpt)
    full = engine.crawl(corpus.seeds)
    full_trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in full["trace"].collect()
    }
    sizes = checkpoint_sizes(ckpt)
    assert len(sizes) >= 3 and all(v > 0 for v in sizes.values())
    total = sum(sizes.values())

    # quota forcing the two oldest waves' bulk out
    keep = total - sizes[0] - sizes[1] + 1024
    evicted = evict_checkpoints(ckpt, keep)
    assert evicted and evicted[0] == 0
    assert sum(checkpoint_sizes(ckpt).values()) <= total
    import os
    for w in evicted:
        assert not os.path.isdir(f"{ckpt}/wave={w}/docs")
        assert os.path.isdir(f"{ckpt}/wave={w}/seen_delta")  # state kept
        assert os.path.exists(f"{ckpt}/wave={w}/MANIFEST.json")

    # idempotent re-run: already-evicted waves are NOT re-reported
    # (round-3 ADVICE), and a stray non-numeric wave= dir doesn't crash
    # the size scan
    os.makedirs(f"{ckpt}/wave=tmp-scratch", exist_ok=True)
    again = evict_checkpoints(ckpt, keep)
    assert all(w not in evicted for w in again), (evicted, again)
    assert "tmp-scratch" not in str(checkpoint_sizes(ckpt))

    # exact resume still works across the evicted waves
    mid = engine.complete_waves()[1]
    replay = CrawlEngine(
        spark, pages_df, CrawlConfig(**CFG), checkpoint_dir=ckpt
    ).crawl([], resume=True, from_wave=mid)
    replay_trace = {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in replay["trace"].collect()
    }
    assert replay_trace == {t for t in full_trace if t[1] > mid}


def test_seen_compaction_bounds_rebuild_and_preserves_identity(
    spark, corpus, pages_df, tmp_path
):
    """Every compact_every waves a compacted seen snapshot is written;
    rebuild sources stay bounded at compact_every + 1 dirs; the final
    seen set and a time-travel resume are identical to an uncompacted
    control crawl."""
    import os

    cdir = str(tmp_path / "compact")
    cfg = CrawlConfig(**{**CFG, "seen_compact_every": 2})
    eng = CrawlEngine(spark, pages_df, cfg, checkpoint_dir=cdir)
    out = eng.crawl(corpus.seeds)
    seen_c = {r["canon_url"] for r in out["seen"].select("canon_url").collect()}

    udir = str(tmp_path / "uncompacted")
    cfg_u = CrawlConfig(**{**CFG, "seen_compact_every": None})
    out_u = CrawlEngine(spark, pages_df, cfg_u, checkpoint_dir=udir).crawl(
        corpus.seeds
    )
    seen_u = {r["canon_url"] for r in out_u["seen"].select("canon_url").collect()}
    assert seen_c == seen_u

    waves = eng.complete_waves()
    compacts = [
        w for w in waves if os.path.isdir(eng._ckpt_path(w, "seen_compact"))
    ]
    assert compacts, "cadence=2 over a multi-wave crawl must write compacts"
    assert all((w + 1) % 2 == 0 for w in compacts)
    # bounded rebuild: latest compact + deltas after it
    last = waves[-1]
    srcs = eng._seen_sources(last)
    assert len(srcs) <= 2 + 1
    assert any("seen_compact" in p for p in srcs)

    # time travel to a wave BEFORE the last compact still resolves (the
    # snapshot at that wave ignores later compacts)
    mid = waves[1]
    frontier, seen_mid, nxt = eng.resume_state(from_wave=mid)
    assert nxt == mid + 1
    u_eng = CrawlEngine(spark, pages_df, cfg_u, checkpoint_dir=udir)
    _, seen_mid_u, _ = u_eng.resume_state(from_wave=mid)
    assert {r["canon_url"] for r in seen_mid.collect()} == {
        r["canon_url"] for r in seen_mid_u.collect()
    }


def test_checkpoint_writes_run_in_callers_job_group(spark, corpus, pages_df, tmp_path):
    """The wave's checkpoint writes run on driver threads; the caller's
    job group must reach them, so a group-scoped view of the crawl (the
    traced benchmark run, a cancelJobGroup) covers the parquet writes."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    group = "ckpt-writes"
    sc.setJobGroup(group, "checkpointed crawl")
    try:
        CrawlEngine(
            spark, pages_df, CrawlConfig(**{**CFG, "max_waves": 2}),
            checkpoint_dir=str(tmp_path / "ck"),
        ).crawl(corpus.seeds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    writes = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        names = [
            st.name for st in map(tracker.getStageInfo, info.stageIds) if st
        ]
        writes += any(n.startswith("parquet at") for n in names)
    # two waves x five checkpoint frames, all inside the group
    assert writes >= 10
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before


def test_failed_checkpoint_write_leaves_wave_incomplete(spark, corpus, pages_df, tmp_path):
    """One of the five concurrent wave writes fails: the error reaches the
    caller after the other writes finish, the wave gets no MANIFEST.json,
    and complete_waves()/resume_state() ignore it."""
    import os

    from pyspark.sql import functions as F

    ck = str(tmp_path / "ck")
    engine = CrawlEngine(
        spark, pages_df, CrawlConfig(**{**CFG, "max_waves": 2}), checkpoint_dir=ck
    )
    engine.crawl(corpus.seeds)
    assert engine.complete_waves() == [0, 1]
    frontier, seen, _ = engine.resume_state()
    good = spark.range(3)
    bad = spark.range(3).select(F.raise_error(F.lit("injected write failure")))
    with pytest.raises(Exception, match="injected write failure"):
        engine._write_wave(2, frontier, seen, good, bad, good)
    wave_dir = os.path.join(ck, "wave=2")
    assert not os.path.exists(os.path.join(wave_dir, "MANIFEST.json"))
    for name in ("frontier_next", "seen_delta", "docs", "metrics"):
        assert os.path.exists(os.path.join(wave_dir, name, "_SUCCESS")), name
    assert engine.complete_waves() == [0, 1]
    _, _, next_wave = engine.resume_state()
    assert next_wave == 2
