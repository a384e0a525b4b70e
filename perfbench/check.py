"""Output checks against the repo's oracles.

A crawl leg is compared URL by URL with ``simulate_crawl`` on the same
seeds and budget: each URL's set of ``(wave, depth, status)`` rows, its
membership in the final URL-seen set, and, for a seed-chosen sample of
fetched pages, the chunk contents byte for byte against
``chunk_markdown(convert_html(html, url, "markdown"))``. A resumed leg is
also compared with the later waves of the uninterrupted crawl.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Dict, Iterable, List, Set, Tuple

CHUNK_SAMPLE = 48


@dataclass
class Expected:
    rows: Dict[str, Set[Tuple[int, int, str]]]  # canon_url -> {(wave, depth, status)}
    seen: Set[str]
    chunks: Dict[str, List[str]]  # sampled canon_url -> chunk contents in order


def expected_outputs(workload, pages: Dict[str, str], seeds: List[str], seed: int) -> Expected:
    from markdown_lab_spark.frontier.simulator import simulate_crawl  # noqa: PLC0415

    sim = simulate_crawl(
        pages,
        seeds,
        rps=workload.rps,
        wave_seconds=workload.config().wave_seconds,
        max_waves=workload.max_waves,
    )
    rows: Dict[str, Set[Tuple[int, int, str]]] = {}
    for r in sim.records:
        rows.setdefault(r.url, set()).add((r.wave, r.depth, r.status))
    fetched = sorted(
        r.url
        for r in sim.records
        if r.status == "ok" and not r.url.endswith(("/robots.txt", "/sitemap.xml"))
    )
    sample = random.Random(seed).sample(fetched, min(CHUNK_SAMPLE, len(fetched)))
    return Expected(rows, set(sim.seen), oracle_chunks(workload, pages, sample))


def oracle_chunks(workload, pages: Dict[str, str], urls: Iterable[str]) -> Dict[str, List[str]]:
    from markdown_lab_spark.oracle import chunk_markdown, convert_html, normalize_url  # noqa: PLC0415

    cfg = workload.config()
    by_canon = {normalize_url(u): u for u in pages}
    out = {}
    for canon in urls:
        url = by_canon[canon]
        md = convert_html(pages[url], url, "markdown")
        out[canon] = chunk_markdown(md, cfg.chunk_size, cfg.chunk_overlap)
    return out


def compare(
    expected: Expected,
    trace: Iterable[Tuple[str, int, int, str]],
    seen: Iterable[str],
    chunks: Iterable[Tuple[str, int, str]],
    after_wave: int = -1,
) -> Tuple[int, Set[str]]:
    """(URLs attempted, URLs that mismatch) for one crawl leg.

    ``after_wave`` scopes the trace to waves after it (a resumed leg
    replays only the later waves); the seen set is always the final one.
    """
    want: Dict[str, Set[Tuple[int, int, str]]] = {}
    for url, rows in expected.rows.items():
        kept = {r for r in rows if r[0] > after_wave}
        if kept:
            want[url] = kept
    got: Dict[str, Set[Tuple[int, int, str]]] = {}
    for url, wave, depth, status in trace:
        got.setdefault(url, set()).add((wave, depth, status))
    bad = {u for u in want.keys() | got.keys() if want.get(u) != got.get(u)}
    bad |= expected.seen.symmetric_difference(seen)

    got_chunks: Dict[str, List[Tuple[int, str]]] = {}
    for url, pos, content in chunks:
        if url in expected.chunks:
            got_chunks.setdefault(url, []).append((pos, content))
    for url, want_chunks in expected.chunks.items():
        if url not in want:  # fetched before a resumed leg's first wave
            continue
        have = [c for _, c in sorted(got_chunks.get(url, []))]
        if have != want_chunks:
            bad.add(url)
    return len(want.keys() | got.keys()), bad


def compare_resumed(
    full_trace: Iterable[Tuple[str, int, int, str]],
    full_chunks: Iterable[Tuple[str, int, str]],
    resumed_trace: Iterable[Tuple[str, int, int, str]],
    resumed_chunks: Iterable[Tuple[str, int, str]],
    after_wave: int,
) -> Set[str]:
    """URLs whose rows or chunks differ between a resumed leg and the
    waves after ``after_wave`` of the uninterrupted crawl."""

    def rows(trace) -> Dict[str, Set[Tuple[int, int, str]]]:
        out: Dict[str, Set[Tuple[int, int, str]]] = {}
        for url, wave, depth, status in trace:
            if wave > after_wave:
                out.setdefault(url, set()).add((wave, depth, status))
        return out

    def by_url(chunks, urls) -> Dict[str, List[Tuple[int, str]]]:
        out: Dict[str, List[Tuple[int, str]]] = {}
        for url, pos, content in chunks:
            if url in urls:
                out.setdefault(url, []).append((pos, content))
        return {u: sorted(c) for u, c in out.items()}

    want, got = rows(full_trace), rows(resumed_trace)
    urls = want.keys() | got.keys()
    bad = {u for u in urls if want.get(u) != got.get(u)}
    want_chunks, got_chunks = by_url(full_chunks, urls), by_url(resumed_chunks, urls)
    bad |= {u for u in urls if want_chunks.get(u) != got_chunks.get(u)}
    return bad
