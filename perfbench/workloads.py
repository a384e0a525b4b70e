"""The benchmark's three crawl workloads and their seeded inputs.

All three run on the generator's 8-host corpus with ``hot_fraction=0.4``;
``--seed`` is the corpus generator seed (page text and so chunk content
change with it, the link graph does not) and picks the chunk sample.
Why each exists is in README.md.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace
from typing import Dict, List

HOSTS = 8
HOT_FRACTION = 0.4
WAVE_SECONDS = 10


@dataclass(frozen=True)
class Workload:
    name: str
    pages_per_host: int
    seed_every_page: bool  # else one root seed per host
    rps: float  # politeness budget = floor(rps * WAVE_SECONDS) per host per wave
    max_waves: int
    checkpoint: bool  # the timed crawl writes wave checkpoints
    resume_from: int  # the resumed leg restarts after this wave

    def warmup(self) -> "Workload":
        """The set-up's warm-up crawl: the first two waves, checkpointed
        (it is the resume source of workloads whose timed crawl is not).
        Wave 0 and wave 1 between them run every step of the wave loop."""
        return replace(self, max_waves=min(self.max_waves, 2), checkpoint=True)

    def config(self):
        from markdown_lab_spark.frontier.crawler import CrawlConfig  # noqa: PLC0415

        return CrawlConfig(
            rps=self.rps, wave_seconds=WAVE_SECONDS, max_waves=self.max_waves
        )


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        # every page seeded, budget never binds: wave 0 converts and
        # chunks the whole corpus, wave 1 drains the discovered misses
        Workload("bulk_convert", 125, True, 10000.0, 2, False, 0),
        # one root per host, binding budget: the frontier grows by link
        # discovery and every wave writes a checkpoint
        Workload("polite_crawl", 60, False, 1.0, 3, True, 1),
        # every page seeded, binding budget: the hot host's deferred tail
        # re-routes through anti-join, robots and politeness every wave
        Workload("deep_frontier", 125, True, 5.0, 4, False, 1),
    )
}


@dataclass
class Inputs:
    corpus_path: str
    pages: Dict[str, str]  # url -> html, for the oracles
    seeds: List[str]


def make_inputs(workload: Workload, seed: int, work_dir: str) -> Inputs:
    from markdown_lab_spark.corpus.generator import (  # noqa: PLC0415
        CorpusSpec,
        generate_corpus,
        write_corpus_parquet,
    )

    corpus = generate_corpus(
        CorpusSpec(
            hosts=HOSTS,
            pages_per_host=workload.pages_per_host,
            hot_fraction=HOT_FRACTION,
            seed=seed,
        )
    )
    path = os.path.join(work_dir, f"corpus_{workload.name}_{seed}.parquet")
    write_corpus_parquet(corpus, path)
    if workload.seed_every_page:
        seeds = [
            r[0] for r in corpus.rows if not r[0].endswith(("/robots.txt", "/sitemap.xml"))
        ]
    else:
        seeds = list(corpus.seeds)
    return Inputs(path, corpus.pages_dict(), seeds)
