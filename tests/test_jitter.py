"""T4 seeded retry jitter: bounded, applied only on the failure path,
and bit-reproducible across runs (the reference uses wall-clock rand,
ws_client_internal.rs:226-230; we must not — SURVEY §7.4.4)."""


def _run(spark, tmpdir, jitter_mod):
    from crypto_crawler_rs_spark.plans.frontier import FrontierConfig, FrontierScheduler

    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    policy = spark.createDataFrame(
        [("dead.example.com", 0, 5, [], 1, False)],
        "host string, host_rank long, budget_per_round int, robots_disallow array<string>, crawl_delay_rounds int, is_hot boolean",
    )
    seeds = spark.createDataFrame(
        [(f"https://dead.example.com/p/{i}", 0) for i in range(40)],
        "url string, depth int",
    )
    eng = FrontierScheduler(
        spark, pages, policy, tmpdir,
        FrontierConfig(max_rounds=10, jitter_mod=jitter_mod),
    )
    m = eng.run(seeds=seeds, max_rounds=10)
    f = eng.fetched(m).toPandas()
    return sorted(f[f.status == "missing"]["round"].unique().tolist())


def test_jitter_bounded_and_deterministic(spark, tmp_path):
    base = _run(spark, str(tmp_path / "a"), jitter_mod=0)
    jit1 = _run(spark, str(tmp_path / "b"), jitter_mod=3)
    jit2 = _run(spark, str(tmp_path / "c"), jitter_mod=3)
    assert jit1 == jit2  # seeded, run-to-run identical
    assert base == [0, 2, 6]  # no-jitter golden vector
    assert jit1[0] == 0
    # every retry lands no earlier than the jitterless schedule and at
    # most (mod-1) rounds later
    for b, j in zip(base[1:], jit1[1:]):
        assert b <= j <= b + 2 * 3  # accumulated jitter bound
