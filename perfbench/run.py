#!/usr/bin/env python3
"""Crawl benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bulk_convert --seed 1 --seconds 10 --trace 0

Set-up (timed as ``setup_s``): start a ``local[nproc]`` session, generate
the workload's corpus from ``--seed``, and run one warm-up crawl of the
first two waves that writes a checkpoint. The measured phase then repeats,
until ``--seconds`` have passed, a timed crawl and a timed resumed leg (a
fresh engine restarting after wave ``resume_from`` of a checkpoint), and
checks every output against the oracles. ``--trace 1`` replaces the
measured phase with one untraced and one traced crawl plus the per-layer
measurements of layers.py.

Prints one ``metric <name> <value> <unit>`` line per metric, then, as the
last line, the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import io
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import spark_env  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS, make_inputs  # noqa: E402


class Leg:
    """One crawl or resumed leg, its output consumed inside the timing."""

    def __init__(self, bench, workload=None, checkpoint_dir=None, resume_from=None):
        from markdown_lab_spark.frontier.crawler import CrawlEngine  # noqa: PLC0415

        workload = workload or bench.workload
        t0 = time.perf_counter()
        self.start_ms = time.time() * 1000
        engine = CrawlEngine(
            bench.spark, bench.pages_df, workload.config(), checkpoint_dir=checkpoint_dir
        )
        self.init_s = time.perf_counter() - t0
        if resume_from is None:
            out = engine.crawl(bench.inputs.seeds)
        else:
            out = engine.crawl(bench.inputs.seeds, resume=True, from_wave=resume_from)
        trace = out["trace"].collect()
        chunks = out["chunks"].collect()
        self.seconds = time.perf_counter() - t0
        self.end_ms = time.time() * 1000
        self.trace = [(r["canon_url"], r["wave"], r["depth"], r["status"]) for r in trace]
        self.chunks = [(r["canon_url"], r["pos"], r["content"]) for r in chunks]
        self.seen = {r["canon_url"] for r in out["seen"].select("canon_url").collect()}
        self.after_wave = -1 if resume_from is None else resume_from


class Bench:
    """One run: session, inputs, the warm-up checkpoint, and the tally of
    output checks."""

    def __init__(self, workload, seed: int, parallelism: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.parallelism = parallelism
        source = spark_env.package_source()
        self.work = spark_env.make_workdir()
        self.code_zip = spark_env.build_code_zip(source, self.work)
        self.event_log_dir = os.path.join(self.work, "eventlog") if trace else None
        self.spark = None
        self.attempted = self.failed = 0

    def setup(self) -> None:
        """Session start, input generation and the warm-up crawl, timed
        together as ``setup_s``; then the oracles' expected outputs."""
        from perfbench.check import expected_outputs  # noqa: PLC0415

        t0 = time.perf_counter()
        self.spark = spark_env.make_spark(
            self.work, self.parallelism, self.code_zip, self.event_log_dir
        )
        self.inputs = make_inputs(self.workload, self.seed, self.work)
        self.pages_df = self.spark.read.parquet(self.inputs.corpus_path)
        self.warm_ckpt = self.fresh_dir("ckpt_warm")
        warmup = self.workload.warmup()
        warm = Leg(self, warmup, self.warm_ckpt)
        self.setup_s = time.perf_counter() - t0

        pages, seeds = self.inputs.pages, self.inputs.seeds
        self.expected = expected_outputs(self.workload, pages, seeds, self.seed)
        self.check(warm, expected_outputs(warmup, pages, seeds, self.seed))

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def check(self, leg: Leg, expected=None, full: Leg = None) -> None:
        """Count ``leg``'s mismatching URLs against the oracles and, for a
        resumed leg, against the uninterrupted crawl ``full``."""
        from perfbench.check import compare, compare_resumed  # noqa: PLC0415

        attempted, bad = compare(
            expected or self.expected, leg.trace, leg.seen, leg.chunks, leg.after_wave
        )
        if full is not None:
            bad |= compare_resumed(
                full.trace, full.chunks, leg.trace, leg.chunks, leg.after_wave
            )
        self.attempted += attempted
        self.failed += len(bad)
        if bad:
            print(f"mismatch: {len(bad)} URLs, e.g. {sorted(bad)[:3]}", file=sys.stderr)

    def crawl(self) -> Leg:
        """The timed crawl, checkpointed when the workload says so."""
        ckpt = self.fresh_dir("ckpt_rep") if self.workload.checkpoint else None
        leg = Leg(self, checkpoint_dir=ckpt)
        leg.checkpoint_dir = ckpt or self.warm_ckpt
        self.check(leg)
        return leg

    def resume(self, crawled: Leg) -> Leg:
        """A fresh engine resuming after wave ``resume_from`` of the
        crawl's checkpoint (of the warm-up's, when the crawl wrote none);
        checked against the oracles and against ``crawled``."""
        leg = Leg(
            self,
            checkpoint_dir=crawled.checkpoint_dir,
            resume_from=self.workload.resume_from,
        )
        self.check(leg, full=crawled)
        return leg

    def restart(self, parallelism: int) -> None:
        """Stop the context and start a ``local[parallelism]`` one on the
        same JVM. The engine's module-level pandas UDFs cache their JVM
        function, which holds the stopped context's accumulator, so the
        UDF and crawler modules are imported afresh for the new context."""
        import markdown_lab_spark.frontier.crawler as crawler  # noqa: PLC0415
        import markdown_lab_spark.functions.udfs as udfs  # noqa: PLC0415

        spark_env.stop_spark(self.spark, shutdown_jvm=False)
        self.parallelism = parallelism
        self.spark = spark_env.make_spark(self.work, parallelism, self.code_zip)
        importlib.reload(udfs)
        importlib.reload(crawler)
        self.pages_df = self.spark.read.parquet(self.inputs.corpus_path)

    def close(self) -> None:
        if self.spark is not None:
            spark_env.stop_spark(self.spark)
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(spark_env.WORK_ROOT)


def measure(bench: Bench, seconds: float):
    """Repeat (crawl, resumed leg) until ``seconds`` pass; report medians."""
    crawl_s, urls_per_s, resume_s = [], [], []
    deadline = time.perf_counter() + seconds
    while True:
        leg = bench.crawl()
        resumed = bench.resume(leg)
        crawl_s.append(leg.seconds)
        urls_per_s.append(len(leg.trace) / leg.seconds)
        resume_s.append(resumed.seconds)
        if time.perf_counter() >= deadline:
            break
    return {
        "crawl_s": statistics.median(crawl_s),
        "urls_per_s": statistics.median(urls_per_s),
        "resume_s": statistics.median(resume_s),
        "setup_s": bench.setup_s,
    }


def traced(bench: Bench):
    """Per-layer metrics: an untraced crawl, a traced crawl (engine step
    timings on, job group ``crawl``), then each layer's own measurements;
    Spark metrics come from the event log."""
    from perfbench import eventlog, layers  # noqa: PLC0415

    spark = bench.spark
    untraced = bench.crawl()

    spark.sparkContext.setJobGroup("crawl", "crawl")
    buf = io.StringIO()
    os.environ["MLS_TIMING"] = "1"
    try:
        with contextlib.redirect_stdout(buf):
            leg = bench.crawl()
    finally:
        del os.environ["MLS_TIMING"]
    spark.sparkContext.setJobGroup("bench", "bench")

    out = {
        "frontier.engine_init_s": leg.init_s,
        "trace.crawl_s": leg.seconds,
        "trace.untraced_crawl_s": untraced.seconds,
        "trace.overhead_frac": leg.seconds / untraced.seconds - 1.0,
    }
    out.update(layers.crawler_steps(buf.getvalue(), leg.seconds))
    out.update(layers.frontier_layer(bench, leg))
    out.update(layers.udfs_layer(spark, bench.pages_df))
    out.update(layers.state_layer(bench, leg.checkpoint_dir))
    oracle, oracle_convert_s = layers.oracle_layer(bench.workload, bench.inputs.pages)
    out.update(oracle)

    spark_env.stop_spark(spark, shutdown_jvm=False)  # finishes the event log
    groups = eventlog.aggregate(eventlog.find_log(bench.event_log_dir))
    crawl = groups["crawl"]
    for name, value in crawl.metrics(leg.start_ms, leg.end_ms, bench.parallelism).items():
        out[f"spark.{name}"] = value
    out["frontier.schedule_task_skew"] = groups["frontier.schedule"].task_skew_max()
    out["udfs.convert_overhead"] = groups["udfs.convert"].run_ms / 1000.0 / oracle_convert_s
    out["spark.scaling_eff_1to4"] = (
        scaling_eff(bench, len(untraced.trace) / untraced.seconds)
        if bench.workload.name == "bulk_convert"
        else 0.0
    )
    return out


def scaling_eff(bench: Bench, urls_per_s: float) -> float:
    """``urls_per_s`` at local[4] over local[1], divided by 4. A leg at a
    parallelism this run did not use gets a fresh context on the warm JVM,
    one untimed warm-up crawl, then the timed crawl, checked."""
    tput = {bench.parallelism: urls_per_s}
    for n in (1, 4):
        if n not in tput:
            bench.restart(n)
            Leg(bench)
            leg = Leg(bench)
            bench.check(leg)
            tput[n] = len(leg.trace) / leg.seconds
    return tput[4] / tput[1] / 4.0


def emit(metrics, units, bench: Bench, extra_lines=()):
    for name, value in metrics.items():
        print(f"metric {name} {value!r} {units[name][0]}")
    for line in extra_lines:
        print(line)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": units[n][0]} for n, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = Bench(WORKLOADS[args.workload], args.seed, spark_env.cores(), bool(args.trace))
    try:
        bench.setup()
        if args.trace:
            metrics, units, extra = traced(bench), PER_LAYER, ()
        else:
            metrics, units = measure(bench, args.seconds), END_TO_END
            # a metric line only: it is 0 on every correct run, and the
            # JSON result carries it as "correct" and "failed"
            extra = (f"metric mismatch_frac {bench.failed / bench.attempted!r} ratio",)
    finally:
        bench.close()
    emit({name: metrics[name] for name in units}, units, bench, extra)
    return 0


if __name__ == "__main__":
    sys.exit(main())
