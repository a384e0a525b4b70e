"""Skew drill for the politeness scheduler (SURVEY.md Phase 4 item 11).

One host holds 50% of the frontier; the per-host cap must stay EXACT and
deterministic under the one-shuffle cut-row top-K, under-budget hosts must
be scheduled whole, and the scheduled head must be the true
(depth, -priority, url) minimum."""

from pyspark.sql import functions as F

from markdown_lab_spark.frontier.politeness import politeness_budget, schedule_wave


def _frontier(spark, hot_n=5000, cold_hosts=8, cold_n=80):
    rows = []
    for i in range(hot_n):
        rows.append((f"https://hot.example/p{i:05d}", "hot.example", i % 4, 0.5, 0))
    for h in range(cold_hosts):
        for i in range(cold_n):
            rows.append(
                (f"https://cold{h}.example/p{i:04d}", f"cold{h}.example", i % 3, 0.5, 0)
            )
    # cold_n must stay under the test budget so cold hosts bypass the window
    return spark.createDataFrame(
        rows, "canon_url string, host string, depth int, priority double, attempt int"
    )


def test_exact_budget_under_skew(spark):
    frontier = _frontier(spark)
    budget = 100
    scheduled, deferred = schedule_wave(frontier, budget)
    per_host = {r["host"]: r["n"] for r in scheduled.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # hot host capped EXACTLY at budget; cold hosts under budget pass whole
    assert per_host["hot.example"] == budget
    for h in range(8):
        assert per_host[f"cold{h}.example"] == 80
    # nothing lost: scheduled + deferred == frontier
    assert scheduled.count() + deferred.count() == frontier.count()
    # deferred is only ever from the over-budget host
    d_hosts = {r["host"] for r in deferred.select("host").distinct().collect()}
    assert d_hosts == {"hot.example"}


def test_scheduled_head_is_true_minimum(spark):
    frontier = _frontier(spark, hot_n=2000, cold_hosts=0)
    rows = frontier.collect()
    ordered = sorted((r["depth"], -r["priority"], r["canon_url"]) for r in rows)
    # 1500 is above spark.sql.optimizer.windowGroupLimitThreshold (1000):
    # no map-side group limit is planned there, the cut must stay exact
    assert int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")) < 1500
    for budget in (50, 1500):
        scheduled, deferred = schedule_wave(frontier, budget)
        got = sorted(
            (r["depth"], -r["priority"], r["canon_url"])
            for r in scheduled.collect()
        )
        assert got == ordered[:budget]  # the cut selects WHICH rows run
        assert deferred.count() == len(rows) - budget


def test_budget_formula():
    assert politeness_budget(1.0, 10) == 10
    assert politeness_budget(0.0, 10) == 1  # rps clamped at 0.1 (throttle.py:21)
    assert politeness_budget(2.5, 4) == 10


def test_mega_host_beyond_salt_capacity_exact(spark):
    """Round-4 verdict drill: one mega host with 80 candidates at budget
    5 (past the old salted tree's documented 'exactness cliff'). The kept
    set must equal the naive single-window selection EXACTLY and nothing
    is lost between scheduled and deferred."""
    import random

    budget = 5
    n = 80
    rng = random.Random(7)
    rows = [
        (f"https://mega.example/{rng.randrange(10**9):09d}-{i:04d}",
         "mega.example", rng.randrange(3), round(rng.random(), 3), 0)
        for i in range(n)
    ]
    frontier = spark.createDataFrame(
        rows, "canon_url string, host string, depth int, priority double, attempt int"
    )
    scheduled, deferred = schedule_wave(frontier, budget)
    got = sorted(r["canon_url"] for r in scheduled.collect())
    want = sorted(
        r[0]
        for r in sorted(rows, key=lambda r: (r[2], -r[3], r[0]))[:budget]
    )
    assert got == want
    assert scheduled.count() + deferred.count() == n
    # deferred really is the complement (no duplication, no loss)
    dset = {r["canon_url"] for r in deferred.collect()}
    assert dset.isdisjoint(got) and len(dset) == n - budget


def _final_plan(df) -> str:
    df.collect()  # AQE finalizes the executed plan on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_one_exchange_with_partial_group_limit(spark, tmp_path):
    """The skew bound lives in the plan: the candidates cross exactly ONE
    shuffle, and a partial WindowGroupLimit sits right below it, so each
    map task forwards at most ``budget`` rows per host and a mega host's
    window task sorts at most (map partitions x budget) rows. The cut
    table joins back as a broadcast (the candidates are not shuffled for
    the join). Exactness holds alongside."""
    budget = 10
    n = 320  # one mega host, 32x over budget
    rows = [
        (f"https://m.example/p{i:05d}", "m.example", i % 5, 0.5, 0)
        for i in range(n)
    ] + [(f"https://s.example/p{i}", "s.example", 0, 0.5, 0) for i in range(3)]
    path = str(tmp_path / "frontier")
    spark.createDataFrame(
        rows, "canon_url string, host string, depth int, priority double, attempt int"
    ).repartition(4).write.parquet(path)
    frontier = spark.read.parquet(path)
    scheduled, deferred = schedule_wave(frontier, budget)
    for df in (scheduled, deferred):
        lines = _final_plan(df).splitlines()
        shuffles = [
            i for i, line in enumerate(lines)
            if "Exchange " in line and "BroadcastExchange" not in line
        ]
        assert len(shuffles) == 1, "\n".join(lines)
        below = lines[shuffles[0] + 1]
        assert "WindowGroupLimit" in below and "Partial" in below, below
        assert any("BroadcastHashJoin" in line for line in lines)
    got = sorted(r["canon_url"] for r in scheduled.collect())
    mega = [r for r in rows if r[1] == "m.example"]
    want = sorted(
        [r[0] for r in sorted(mega, key=lambda r: (r[2], -r[3], r[0]))[:budget]]
        + [r[0] for r in rows if r[1] == "s.example"]
    )
    assert got == want
    assert deferred.count() == n - budget


def test_cut_matches_window_with_null_and_nan_keys(spark):
    """The scheduled/deferred split compares each row with its host's cut
    row; it must agree with Spark's own sort of order_cols() on every key
    value the window can meet: nulls (first ascending, last descending),
    NaN priorities and ties on depth and priority."""
    from pyspark.sql import Window

    from markdown_lab_spark.frontier.politeness import order_cols

    depths = [None, 0, 1]
    prios = [None, float("nan"), 0.5, 0.9]
    rows = [
        (f"https://n.example/p{i:03d}", "n.example", depths[i % 3], prios[i % 4], 0)
        for i in range(60)
    ]
    frontier = spark.createDataFrame(
        rows, "canon_url string, host string, depth int, priority double, attempt int"
    )
    w = Window.partitionBy("host").orderBy(*order_cols())
    ranked = frontier.withColumn("_rn", F.row_number().over(w))
    for budget in (1, 7, 20, 59):
        scheduled, deferred = schedule_wave(frontier, budget)
        want = {r["canon_url"] for r in ranked.filter(F.col("_rn") <= budget).collect()}
        assert {r["canon_url"] for r in scheduled.collect()} == want, budget
        assert deferred.count() == len(rows) - budget
