"""robots.txt Crawl-delay: parser extension, the exact post-schedule
prefix cut (cap_schedule_by_delay vs the naive full-frontier window),
and the end-to-end crawl behavior (per-wave per-host fetch counts,
defer-not-drop, default-off trace stability)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from markdown_lab_spark.corpus.generator import (
    CorpusSpec,
    generate_corpus,
    write_corpus_parquet,
)
from markdown_lab_spark.frontier.crawler import (
    CrawlConfig,
    CrawlEngine,
    robots_crawl_delays,
)
from markdown_lab_spark.frontier.politeness import (
    cap_schedule_by_delay,
    order_cols,
    schedule_wave,
)
from markdown_lab_spark.oracle.sitemap import parse_robots


def test_parse_crawl_delay_star_group():
    rr = parse_robots(
        "User-agent: *\nCrawl-delay: 2.5\nDisallow: /private/\n"
    )
    assert rr.crawl_delay == 2.5
    assert rr.rules == [("/private/", False)]


def test_parse_crawl_delay_other_group_ignored():
    rr = parse_robots("User-agent: bot\nCrawl-delay: 9\n")
    assert rr.crawl_delay is None
    # headerless group (before any User-agent) applies, like rules
    assert parse_robots("Crawl-delay: 3\n").crawl_delay == 3.0


def test_parse_crawl_delay_malformed_or_nonpositive_ignored():
    assert parse_robots("User-agent: *\nCrawl-delay: soon\n").crawl_delay is None
    assert parse_robots("User-agent: *\nCrawl-delay: 0\n").crawl_delay is None
    assert parse_robots("User-agent: *\nCrawl-delay: -1\n").crawl_delay is None


def _frontier(spark):
    rows = []
    # host a: 40 candidates (over budget), delay 2.5 -> b_h=2 at wave 5
    # host b: 7 candidates (under budget), delay 1 -> b_h=5=budget
    # host c: 12 candidates, no delay
    for i in range(40):
        rows.append((f"a.example", f"https://a.example/p{i:03d}", i % 3, 0.5))
    for i in range(7):
        rows.append((f"b.example", f"https://b.example/p{i:03d}", 1, 0.9))
    for i in range(12):
        rows.append((f"c.example", f"https://c.example/p{i:03d}", 2, 0.1))
    return spark.createDataFrame(
        rows, "host string, canon_url string, depth int, priority double"
    )


def test_cap_matches_naive_window(spark):
    budget, wave_seconds = 5, 5
    fr = _frontier(spark)
    delays = spark.createDataFrame(
        [("a.example", 2.5), ("b.example", 1.0), ("z.example", 60.0)],
        "host string, crawl_delay double",
    )
    scheduled, deferred = schedule_wave(fr, budget)
    kept, cut = cap_schedule_by_delay(scheduled, delays, wave_seconds, budget)

    # naive oracle: per-host top-b_h of the WHOLE frontier
    bh = {"a.example": 2, "b.example": 5}  # c: no delay -> budget
    w = Window.partitionBy("host").orderBy(*order_cols())
    naive = (
        fr.withColumn("_rn", F.row_number().over(w))
        .filter(
            F.col("_rn")
            <= F.coalesce(
                F.create_map(
                    *[x for h, b in bh.items() for x in (F.lit(h), F.lit(b))]
                )[F.col("host")],
                F.lit(budget),
            )
        )
        .drop("_rn")
    )
    got = {r["canon_url"] for r in kept.collect()}
    want = {r["canon_url"] for r in naive.collect()}
    assert got == want
    # nothing dropped: kept + cut + deferred == frontier
    total = (
        {r["canon_url"] for r in cut.collect()}
        | {r["canon_url"] for r in deferred.collect()}
        | got
    )
    assert total == {r["canon_url"] for r in fr.collect()}


def test_delay_floor_one_fetch_per_wave(spark):
    fr = _frontier(spark).filter(F.col("host") == "a.example")
    delays = spark.createDataFrame(
        [("a.example", 3600.0)], "host string, crawl_delay double"
    )
    scheduled, _ = schedule_wave(fr, 5)
    kept, _cut = cap_schedule_by_delay(scheduled, delays, 5, 5)
    assert kept.count() == 1  # progress, not starvation


@pytest.fixture(scope="module")
def delay_pages(spark, tmp_path_factory):
    # small corpus so the capped crawl can DRAIN hot.example at
    # 2 fetches/wave within the wave budget of the defer-not-drop test
    corpus = generate_corpus(
        CorpusSpec(hosts=4, pages_per_host=10, hot_fraction=0.4)
    )
    path = str(tmp_path_factory.mktemp("dcorpus") / "pages.parquet")
    write_corpus_parquet(corpus, path)
    df = spark.read.parquet(path)
    # overlay: hot.example declares Crawl-delay: 2.5 (wave_seconds 5 -> 2)
    new_robots = "User-agent: *\nCrawl-delay: 2.5\nDisallow: /private/\n"
    df = df.withColumn(
        "html",
        F.when(
            F.col("url") == "https://hot.example/robots.txt",
            F.lit(new_robots.encode("utf-8")),
        ).otherwise(F.col("html")),
    ).withColumn(
        "text",
        F.when(
            F.col("url") == "https://hot.example/robots.txt",
            F.lit(new_robots),
        ).otherwise(F.col("text")),
    )
    return corpus, df


def test_robots_crawl_delays_table(spark, delay_pages):
    _corpus, df = delay_pages
    got = {
        (r["host"], r["crawl_delay"])
        for r in robots_crawl_delays(df).collect()
    }
    assert got == {("hot.example", 2.5)}


def test_crawl_honors_delay_and_defers_not_drops(spark, delay_pages):
    corpus, df = delay_pages
    base = CrawlEngine(
        spark, df, CrawlConfig(rps=1.0, wave_seconds=5, max_waves=20)
    ).crawl(corpus.seeds)
    capped = CrawlEngine(
        spark,
        df,
        CrawlConfig(
            rps=1.0, wave_seconds=5, max_waves=20, honor_crawl_delay=True
        ),
    ).crawl(corpus.seeds)

    per_wave = (
        capped["trace"]
        .filter(F.col("status") == "ok")
        .withColumn(
            "host", F.regexp_extract("canon_url", r"^https?://([^/]+)", 1)
        )
        .groupBy("host", "wave")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    hot = [r for r in per_wave if r["host"] == "hot.example"]
    other = [r for r in per_wave if r["host"] != "hot.example"]
    assert hot and max(r["n"] for r in hot) <= 2  # b_h = floor(5/2.5)
    # the cap never leaks to undeclared hosts: they exceed hot's b_h
    # (the small corpus tops out below the full budget of 5 per wave)
    assert max(r["n"] for r in other) > 2

    # defer, never drop: same pages fetched overall (enough waves given)
    def fetched(out):
        return {
            r["canon_url"]
            for r in out["trace"].filter(F.col("status") == "ok").collect()
        }

    assert fetched(capped) == fetched(base)


def test_default_off_trace_identical(spark, delay_pages):
    corpus, df = delay_pages
    cfg = dict(rps=1.0, wave_seconds=5, max_waves=6)
    a = CrawlEngine(spark, df, CrawlConfig(**cfg)).crawl(corpus.seeds)
    b = CrawlEngine(spark, df, CrawlConfig(**cfg)).crawl(corpus.seeds)

    def trace(out):
        return {
            (r["canon_url"], r["wave"], r["depth"], r["status"])
            for r in out["trace"].collect()
        }

    assert trace(a) == trace(b)
