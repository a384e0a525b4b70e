"""Tests for the benchmark's own pieces: the output comparator, the
engine step-timing parser, the printed metric names and units, and the
event-log aggregation on a small logged job.

    python -m pytest perfbench -q
"""

import contextlib
import io
import json
import os
from types import SimpleNamespace

import pytest

from perfbench import check, eventlog, layers, metrics
from perfbench.workloads import Workload

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TINY = Workload("tiny", 6, False, 1.0, 4, False, 1)


@pytest.fixture(scope="module")
def tiny():
    """A 2-host corpus, its simulator-derived expected outputs, and an
    output set that matches them exactly."""
    from markdown_lab_spark.corpus.generator import CorpusSpec, generate_corpus

    corpus = generate_corpus(CorpusSpec(hosts=2, pages_per_host=6, seed=5))
    pages = corpus.pages_dict()
    expected = check.expected_outputs(TINY, pages, corpus.seeds, seed=5)
    trace = [(u, w, d, s) for u, rows in expected.rows.items() for (w, d, s) in rows]
    chunks = [
        (u, pos, c) for u, cs in expected.chunks.items() for pos, c in enumerate(cs)
    ]
    return expected, trace, set(expected.seen), chunks


def test_comparator_accepts_matching_outputs(tiny):
    expected, trace, seen, chunks = tiny
    assert expected.chunks, "the sample must hold fetched pages"
    attempted, bad = check.compare(expected, trace, seen, chunks)
    assert attempted == len(expected.rows)
    assert bad == set()


def test_comparator_flags_injected_trace_mismatch(tiny):
    expected, trace, seen, chunks = tiny
    url, wave, depth, status = trace[0]
    wrong = [(url, wave + 1, depth, status)] + trace[1:]
    _, bad = check.compare(expected, wrong, seen, chunks)
    assert bad == {url}

    extra = trace + [("https://nowhere.example/x", 0, 0, "ok")]
    _, bad = check.compare(expected, extra, seen, chunks)
    assert bad == {"https://nowhere.example/x"}


def test_comparator_flags_seen_and_chunk_mismatch(tiny):
    expected, trace, seen, chunks = tiny
    dropped = sorted(seen)[0]
    _, bad = check.compare(expected, trace, seen - {dropped}, chunks)
    assert bad == {dropped}

    url, pos, content = chunks[0]
    flipped = [(url, pos, content + " ")] + chunks[1:]
    _, bad = check.compare(expected, trace, seen, flipped)
    assert bad == {url}

    _, bad = check.compare(expected, trace, seen, chunks[1:])
    assert bad == {url}


def test_comparator_scopes_resumed_leg_to_later_waves(tiny):
    expected, trace, seen, chunks = tiny
    later = [t for t in trace if t[1] > 1]
    assert later and len(later) < len(trace)
    attempted, bad = check.compare(expected, later, seen, chunks, after_wave=1)
    assert bad == set()
    assert attempted == len({t[0] for t in later})
    # an early-wave row replayed by a resumed leg is a mismatch
    early = next(t for t in trace if t[1] <= 1)
    _, bad = check.compare(expected, later + [early], seen, chunks, after_wave=1)
    assert early[0] in bad


def test_resumed_leg_compared_with_uninterrupted_crawl(tiny):
    _, trace, _, chunks = tiny
    later = [t for t in trace if t[1] > 1]
    assert check.compare_resumed(trace, chunks, later, chunks, after_wave=1) == set()
    url, wave, depth, status = later[0]
    moved = [(url, wave, depth + 1, status)] + later[1:]
    assert check.compare_resumed(trace, chunks, moved, chunks, after_wave=1) == {url}
    later_urls = {t[0] for t in later}
    c = next(c for c in chunks if c[0] in later_urls)
    edited = [(c[0], c[1], c[2] + "x") if x == c else x for x in chunks]
    assert check.compare_resumed(trace, chunks, later, edited, after_wave=1) == {c[0]}


def test_crawler_steps_sum_to_crawl_time():
    out = "\n".join(
        [
            "[mls-timing] w0 isEmpty                      0.10s",
            "[mls-timing] w0 route lc                     1.50s",
            "[mls-timing] w0 docs lc                      2.00s",
            "unrelated line",
            "[mls-timing] w1 candidates lc                0.25s",
            "[mls-timing] w1 state lc                     0.75s",
        ]
    )
    steps = layers.crawler_steps(out, 5.0)
    assert steps["crawler.waves"] == 2
    assert steps["crawler.route_s"] == pytest.approx(1.5)
    assert steps["crawler.outside_loop_s"] == pytest.approx(5.0 - 4.6)
    assert {k for k in steps} <= set(metrics.PER_LAYER)
    with pytest.raises(ValueError):
        layers.crawler_steps("[mls-timing] w0 new step     1.00s", 2.0)


def test_benchmark_json_declares_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == {n: u for n, (u, _) in metrics.END_TO_END.items()}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == metrics.PER_LAYER
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    assert better == {n: b for n, (_, b) in metrics.END_TO_END.items()}


def test_emit_prints_every_metric_with_unit_then_json():
    from perfbench.run import emit

    values = {name: 1.5 for name in metrics.END_TO_END}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        emit(values, metrics.END_TO_END, SimpleNamespace(attempted=10, failed=0))
    lines = buf.getvalue().splitlines()
    for name, (unit, _) in metrics.END_TO_END.items():
        assert f"metric {name} 1.5 {unit}" in lines
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["metrics"] == {
        n: {"value": 1.5, "unit": u} for n, (u, _) in metrics.END_TO_END.items()
    }


def test_busy_and_skew_from_intervals():
    g = eventlog.GroupStats(intervals=[(0, 10), (5, 20), (30, 40)])
    assert g.busy_ms(0, 50) == 30
    assert g.busy_ms(8, 35) == 17
    g.stage_run_ms = {1: [10, 10, 40], 2: [5]}
    assert g.task_skew_max() == 4.0


def test_event_log_groups_a_small_logged_job(tmp_path):
    from perfbench import spark_env

    log_dir = str(tmp_path / "events")
    work = str(tmp_path / "work")
    os.makedirs(os.path.join(work, "tmp"))
    code_zip = spark_env.build_code_zip(spark_env.package_source(), work)
    spark = spark_env.make_spark(work, 2, code_zip, log_dir)
    try:
        sc = spark.sparkContext
        sc.setJobGroup("shuffle", "shuffle")
        spark.range(0, 1000, numPartitions=4).repartition(3).count()
        sc.setJobGroup("plain", "plain")
        spark.range(0, 100, numPartitions=2).collect()
    finally:
        spark_env.stop_spark(spark)
    groups = eventlog.aggregate(eventlog.find_log(log_dir))
    shuffle, plain = groups["shuffle"], groups["plain"]
    assert shuffle.jobs >= 1 and shuffle.stages >= 2
    assert shuffle.shuffle_write_bytes > 0 and shuffle.shuffle_read_bytes > 0
    assert plain.jobs == 1 and plain.tasks == 2
    assert plain.shuffle_write_bytes == 0
    start = min(s for s, _ in shuffle.intervals)
    end = max(e for _, e in shuffle.intervals)
    m = shuffle.metrics(start, end + 1000, 2)
    assert set(f"spark.{k}" for k in m) <= set(metrics.PER_LAYER)
    assert m["driver_gap_s"] >= 1.0
    assert 0 < m["core_busy_frac"] <= 1.0
