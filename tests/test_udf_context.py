"""A crawl in a second SparkContext of the same process.

A pandas UDF object caches its JVM function, bound to the accumulator
server of the SparkContext it first ran in; a crawl engine that reused
such an object in a later context would log a failed accumulator update
per task. The engine builds its convert and chunk UDFs per instance, so
stopping the session, starting a new one and crawling again must give
the same output with no such failure.

Runs in a subprocess (like tests/test_spark_submit.py): the suite's own
session must stay up for the other tests.
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import tempfile
from pyspark.sql import SparkSession
from markdown_lab_spark.corpus.generator import (
    CorpusSpec, generate_corpus, write_corpus_parquet,
)
from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine
from markdown_lab_spark.frontier.simulator import simulate_crawl
from markdown_lab_spark.oracle import chunk_markdown, convert_html, normalize_url

CFG = dict(rps=1.0, wave_seconds=5, max_waves=3)
corpus = generate_corpus(CorpusSpec(hosts=2, pages_per_host=12, hot_fraction=0.4))
pages = corpus.pages_dict()
by_canon = {normalize_url(u): u for u in pages}
sim = simulate_crawl(pages, corpus.seeds, **CFG)
with tempfile.TemporaryDirectory() as tmp:
    path = tmp + "/pages.parquet"
    write_corpus_parquet(corpus, path)
    for run in (1, 2):
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        engine = CrawlEngine(spark, spark.read.parquet(path), CrawlConfig(**CFG))
        out = engine.crawl(corpus.seeds)
        trace = {
            (r["canon_url"], r["wave"], r["depth"], r["status"])
            for r in out["trace"].collect()
        }
        assert trace == sim.trace(), run
        chunks = {}
        for r in out["chunks"].collect():
            chunks.setdefault(r["canon_url"], []).append((r["pos"], r["content"]))
        assert chunks, run
        for canon, got in chunks.items():
            url = by_canon[canon]
            want = chunk_markdown(convert_html(pages[url], url, "markdown"), 1000, 200)
            assert [c for _, c in sorted(got)] == want, canon
        print(f"RUN {run} OK", flush=True)
        spark.stop()
"""


def test_crawl_in_second_spark_context():
    path = [ROOT, os.environ.get("PYTHONPATH")]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(p for p in path if p))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RUN 1 OK" in proc.stdout and "RUN 2 OK" in proc.stdout
    assert "Failed to update accumulator" not in proc.stderr, proc.stderr[-3000:]
