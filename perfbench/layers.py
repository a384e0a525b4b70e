"""Per-layer measurements for the traced run.

Each function times calls into one layer's public functions from here,
on the workload's own inputs, and wraps every Spark action in a job group
named after the layer so the event log can attribute its tasks.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from typing import Dict, List, Tuple

# "[mls-timing] w3 route lc      1.23s" -> (3, "route lc", 1.23)
_TIMING_LINE = re.compile(r"^\[mls-timing\] w(\d+) (.+?)\s+(-?[\d.]+)s$")
_STEP_METRIC = {
    "candidates lc": "crawler.candidates_s",
    "route lc": "crawler.route_s",
    "deferred merge": "crawler.route_s",  # lazy_deferred routing only
    "docs lc": "crawler.docs_s",
    "state lc": "crawler.state_s",
    "bloom build": "crawler.bloom_s",
    "write_wave": "crawler.write_wave_s",
    "plan build": "crawler.plan_s",
    "isEmpty": "crawler.isempty_s",
}


def crawler_steps(timing_output: str, crawl_s: float) -> Dict[str, float]:
    """Sum the engine's per-wave step timings over waves; the remainder
    of ``crawl_s`` is time outside the timed steps (engine construction,
    seed set-up, output consumption)."""
    out = {name: 0.0 for name in set(_STEP_METRIC.values())}
    waves = set()
    for line in timing_output.splitlines():
        m = _TIMING_LINE.match(line.strip())
        if not m:
            continue
        wave, label, secs = int(m.group(1)), m.group(2), float(m.group(3))
        if label not in _STEP_METRIC:
            raise ValueError(f"unknown crawler timing step {label!r}")
        waves.add(wave)
        out[_STEP_METRIC[label]] += secs
    out["crawler.outside_loop_s"] = crawl_s - sum(out.values())
    out["crawler.waves"] = len(waves)
    return out


def _in_group(spark, group: str, fn):
    spark.sparkContext.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        result = fn()
        return time.perf_counter() - t0, result
    finally:
        spark.sparkContext.setJobGroup("bench", "bench")


def frontier_layer(bench, crawled) -> Dict[str, float]:
    """Bloom build and probe, anti-join, robots filter and schedule over
    the crawl's own URLs: the candidates are every URL the crawl traced,
    the seen side is the seen set its resumed leg restarts from."""
    from markdown_lab_spark.frontier.bloom import ShardedBloom  # noqa: PLC0415
    from markdown_lab_spark.frontier.crawler import (  # noqa: PLC0415
        CrawlEngine,
        bloom_antijoin,
        robots_filter,
        robots_host_rules,
        robots_rules_df,
    )
    from markdown_lab_spark.frontier.politeness import schedule_wave  # noqa: PLC0415
    from markdown_lab_spark.oracle import get_domain_from_url  # noqa: PLC0415

    spark, pages_df, workload = bench.spark, bench.pages_df, bench.workload
    cfg = workload.config()
    engine = CrawlEngine(spark, pages_df, cfg, checkpoint_dir=crawled.checkpoint_dir)
    _frontier, seen_df, _next = engine.resume_state(workload.resume_from)
    seen_list = sorted(r["canon_url"] for r in seen_df.select("canon_url").collect())
    cand_urls = sorted({t[0] for t in crawled.trace})
    cand_hosts = [get_domain_from_url(u) for u in cand_urls]
    seen_hosts = [get_domain_from_url(u) for u in seen_list]

    bloom = ShardedBloom(cfg.bloom_shards, cfg.bloom_capacity_per_shard, cfg.bloom_fpr)
    t0 = time.perf_counter()
    bloom.add(seen_list, seen_hosts)
    add_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    hits = bloom.contains(cand_urls, cand_hosts)
    probe_s = time.perf_counter() - t0

    candidates = spark.createDataFrame(
        [(u, h, 0, 1.0, 0) for u, h in zip(cand_urls, cand_hosts)],
        "canon_url string, host string, depth int, priority double, attempt int",
    ).localCheckpoint(eager=True)
    seen = spark.createDataFrame([(u,) for u in seen_list], "canon_url string").localCheckpoint(
        eager=True
    )
    antijoin_s, rows_out = _in_group(
        spark, "frontier.antijoin",
        lambda: bloom_antijoin(candidates, seen, bloom, spark).count(),
    )

    host_rules = robots_host_rules(robots_rules_df(pages_df)).cache()
    host_rules.count()

    def robots():
        allowed, denied = robots_filter(candidates, host_rules)
        allowed = allowed.localCheckpoint(eager=True)
        denied.count()
        return allowed

    robots_s, allowed = _in_group(spark, "frontier.robots", robots)

    def schedule():
        scheduled, deferred = schedule_wave(allowed, cfg.budget, cfg.salt_n)
        scheduled.write.format("noop").mode("overwrite").save()
        deferred.write.format("noop").mode("overwrite").save()

    schedule_s, _ = _in_group(spark, "frontier.schedule", schedule)
    host_rules.unpersist()
    n = max(len(cand_urls), 1)
    return {
        "frontier.antijoin_s": antijoin_s,
        "frontier.antijoin_rows_in": len(cand_urls),
        "frontier.antijoin_rows_out": rows_out,
        "frontier.bloom_pass_ratio": float(hits.sum()) / n,
        "frontier.schedule_s": schedule_s,
        "frontier.robots_filter_s": robots_s,
        "frontier.bloom_add_keys_per_s": len(seen_list) / max(add_s, 1e-9),
        "frontier.bloom_probe_keys_per_s": len(cand_urls) / max(probe_s, 1e-9),
    }


def html_pages(pages: Dict[str, str]) -> List[Tuple[str, str]]:
    return sorted(
        (u, h) for u, h in pages.items() if not u.endswith(("/robots.txt", "/sitemap.xml"))
    )


def _pct(values: List[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def oracle_layer(workload, pages: Dict[str, str], min_samples: int = 1000) -> Tuple[Dict[str, float], float]:
    """Single-thread oracle timings per page. Pages are timed in order and
    cycled until ``min_samples`` conversions, so p99 has >= 10 samples
    above it. Also returns the summed convert time of one pass over the
    pages (the base of udfs.convert_overhead)."""
    from markdown_lab_spark.oracle import (  # noqa: PLC0415
        chunk_markdown,
        convert_html,
        extract_links,
        normalize_url,
    )

    cfg = workload.config()
    docs = html_pages(pages)
    convert_ms: List[float] = []
    links_ms: List[float] = []
    chunk_ms: List[float] = []
    norm_us: List[float] = []
    one_pass_s = 0.0
    clock = time.perf_counter_ns
    i = 0
    while len(convert_ms) < max(min_samples, len(docs)):
        url, html = docs[i % len(docs)]
        t0 = clock()
        md = convert_html(html, url, "markdown")
        t1 = clock()
        links = extract_links(html, url)
        t2 = clock()
        chunk_markdown(md, cfg.chunk_size, cfg.chunk_overlap)
        t3 = clock()
        for link in links:
            s = clock()
            normalize_url(link)
            norm_us.append((clock() - s) / 1e3)
        convert_ms.append((t1 - t0) / 1e6)
        links_ms.append((t2 - t1) / 1e6)
        chunk_ms.append((t3 - t2) / 1e6)
        if i < len(docs):
            one_pass_s += (t1 - t0) / 1e9
        i += 1
    return (
        {
            "oracle.convert_ms_p50": statistics.median(convert_ms),
            "oracle.convert_ms_p99": _pct(convert_ms, 99),
            "oracle.links_ms_p50": statistics.median(links_ms),
            "oracle.chunk_ms_p50": statistics.median(chunk_ms),
            "oracle.normalize_url_us_p50": statistics.median(norm_us),
        },
        one_pass_s,
    )


def udfs_layer(spark, pages_df) -> Dict[str, float]:
    """The convert and chunk UDFs over the workload's HTML pages, each
    forced with a noop sink in its own job group."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from markdown_lab_spark.functions.udfs import (  # noqa: PLC0415
        make_chunk_markdown_udf,
        make_convert_udf,
    )

    html = pages_df.filter(~F.col("url").rlike(r"/(robots\.txt|sitemap\.xml)$")).select(
        "url", "html"
    ).localCheckpoint(eager=True)
    n_docs = html.count()
    convert = make_convert_udf(("markdown",))
    docs = html.select(convert(F.col("html"), F.col("url")).alias("doc"))
    convert_s, _ = _in_group(
        spark, "udfs.convert", lambda: docs.write.format("noop").mode("overwrite").save()
    )
    markdown = docs.select(F.col("doc.markdown").alias("markdown")).localCheckpoint(eager=True)
    chunk = make_chunk_markdown_udf()
    chunk_s, _ = _in_group(
        spark,
        "udfs.chunk",
        lambda: markdown.select(chunk(F.col("markdown"))).write.format("noop").mode("overwrite").save(),
    )
    return {
        "udfs.convert_s": convert_s,
        "udfs.convert_docs_per_s": n_docs / convert_s,
        "udfs.chunk_s": chunk_s,
    }


def state_layer(bench, checkpoint_dir: str) -> Dict[str, float]:
    """Size of the resumed leg's source checkpoint and the cost of
    rebuilding (frontier, seen) from it."""
    from markdown_lab_spark.frontier.crawler import CrawlEngine  # noqa: PLC0415

    spark, pages_df, workload = bench.spark, bench.pages_df, bench.workload
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(checkpoint_dir):
        for fn in files:
            n_bytes += os.path.getsize(os.path.join(base, fn))
            n_files += 1
    engine = CrawlEngine(spark, pages_df, workload.config(), checkpoint_dir=checkpoint_dir)

    def resume():
        frontier, seen, _next_wave = engine.resume_state(workload.resume_from)
        return frontier.count(), seen.count()

    resume_s, (frontier_rows, seen_rows) = _in_group(spark, "state.resume", resume)
    return {
        "state.checkpoint_bytes": n_bytes,
        "state.checkpoint_files": n_files,
        "state.resume_state_s": resume_s,
        "state.seen_rows": seen_rows,
        "state.frontier_rows": frontier_rows,
    }
