"""End-to-end pipeline: routing invariants, aggregates, resume idempotency."""

from __future__ import annotations

from pyspark.sql import functions as F

from abs_log_spark.operators.aggregate import minute_agg, salted_minute_agg, trend
from abs_log_spark.plans.pipeline import PipelineConfig, run_pipeline, transform
from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

N = 600


def test_routing_and_token_equality(spark):
    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    routed = transform(seq, dim)
    # every input row routed exactly once (J3 semantics)
    assert routed.count() == N
    assert routed.where(F.col("sink").isNull()).count() == 0
    # token-array equality per routed row vs input [B]
    bad = (
        routed.alias("r")
        .join(seq.alias("s"), "doc_id")
        .where(F.col("r.tokens") != F.col("s.tokens"))
        .count()
    )
    assert bad == 0
    # sink fan-out matches the dim rule (source k -> sink k%3)
    per_sink = {r.sink: r.c for r in routed.groupBy("sink").agg(F.count("*").alias("c")).collect()}
    assert sum(per_sink.values()) == N and set(per_sink) <= {"sink_a", "sink_b", "sink_c"}


def test_minute_agg_matches_bruteforce(spark):
    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    routed = transform(seq, dim)
    agg = minute_agg(routed, exact_quantiles=True)
    # cross-check one group against a driver-side brute force
    rows = routed.where(F.col("valid")).collect()
    import collections
    import statistics

    groups = collections.defaultdict(list)
    for r in rows:
        minute = r.ts.replace(second=0, microsecond=0)
        groups[(r.sink, r.site, minute, r.uri_abs)].append(r)
    got = {
        (r.sink, r.site, r.minute, r.uri_abs): r
        for r in agg.where(F.col("uri_abs").isNotNull()).collect()
    }
    assert set(got) == set(groups)
    for k, rs in groups.items():
        g = got[k]
        assert g.pv == len(rs)
        assert g.bytes_sum == sum(r.bytes for r in rs)
        assert abs(g.rt_sum - sum(r.rt for r in rs)) < 1e-9
        assert g.err_hits == sum(1 for r in rs if r.status >= 400)
        rts = sorted(r.rt for r in rs)
        assert g.rt_min == rts[0] and g.rt_max == rts[-1]
        qs = statistics.quantiles(rts, n=4, method="inclusive") if len(rts) > 1 else [rts[0]] * 3
        assert abs(g.rt_p50 - qs[1]) < 1e-9
    # invalid rows land in the null-key group, never dropped
    inv = agg.where(F.col("uri_abs").isNull()).agg(F.sum("invalid_hits").alias("i")).collect()[0].i
    assert inv == N // 10


def test_salted_agg_equals_plain(spark):
    seq = gen_sequences(spark, N)
    dim = gen_sources_dim(spark)
    routed = transform(seq, dim)
    def norm(df):
        # float sums associate differently across the two plans; round them
        return df.select(
            "sink", "site", "minute", "uri_abs", "pv", "bytes_sum",
            F.round("rt_sum", 6).alias("rt_sum"),
            F.round("rt_avg", 6).alias("rt_avg"),
            "rt_min", "rt_max", "err_hits", "invalid_hits",
        )

    plain = norm(minute_agg(routed))
    salted = norm(salted_minute_agg(routed))
    diff = plain.exceptAll(salted).count() + salted.exceptAll(plain).count()
    assert diff == 0


def test_trend_regroup(spark):
    seq = gen_sequences(spark, N)
    dim = gen_sources_dim(spark)
    m = minute_agg(transform(seq, dim))
    hourly = trend(m, "hour")
    assert hourly.agg(F.sum("pv")).collect()[0][0] == m.agg(F.sum("pv")).collect()[0][0]
    assert hourly.select("bucket").distinct().count() == 2  # 2-hour fixture window


def test_pipeline_run_and_resume(spark, tmp_catalog):
    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    r1 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")
    assert r1["rows_in"] == N and r1["buckets_processed"] == 8
    total = sum(
        tmp_catalog.read(spark, f"routed_{s}").count()
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"routed_{s}")
    )
    assert total == N
    agg1 = {
        s: tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    }
    # re-run: all buckets checkpointed -> nothing reprocessed, outputs identical
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 0 and r2["buckets_skipped"] == 8
    total2 = sum(
        tmp_catalog.read(spark, f"routed_{s}").count()
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"routed_{s}")
    )
    assert total2 == N  # no duplicates
    for s, v in agg1.items():
        assert tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0] == v


def test_pipeline_partial_resume(spark, tmp_catalog):
    """Simulate a crash after half the buckets: second run completes the rest."""
    from abs_log_spark.plans import checkpoint as ckpt

    seq = gen_sequences(spark, N)
    dim = gen_sources_dim(spark)
    half = seq.where(F.col("part_bucket") < 4)
    run_pipeline(spark, tmp_catalog, half, dim, run_id="r1")
    done = ckpt.completed_partitions(spark, tmp_catalog, "routed")
    assert done == {"0", "1", "2", "3"}
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 4  # only the missing half
    total = sum(
        tmp_catalog.read(spark, f"routed_{s}").count()
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"routed_{s}")
    )
    assert total == N


def test_hist_partials_merge_equals_exact_minute_agg(spark):
    """The incremental-resume primitive: per-bucket histogram partials folded
    back together must equal the exact single-pass aggregate on EVERY column
    (including exact quantiles and the invalid-row null-key group)."""
    import math

    from abs_log_spark.operators.aggregate import (
        merge_minute_agg_hist_partials,
        minute_agg_hist_partials,
    )

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    routed = transform(seq, dim)

    merged = merge_minute_agg_hist_partials(minute_agg_hist_partials(routed))
    full = minute_agg(routed, exact_quantiles=True)

    cols = full.columns
    def keyed(df):
        return {
            tuple(str(r[k]) for k in ("sink", "site", "minute", "uri_abs")): r
            for r in df.collect()
        }

    got, want = keyed(merged), keyed(full)
    assert set(got) == set(want) and len(want) > 0
    for k, w in want.items():
        g = got[k]
        for c in cols[4:]:
            gv, wv = g[c], w[c]
            if gv is None and wv is None:
                continue
            assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-12), (k, c, gv, wv)


def test_incremental_agg_on_resume(spark, tmp_catalog, tmp_path):
    """A resumed run's summary aggregation reads ONLY the new buckets (the
    increment), yet the final summaries equal a full recompute."""
    from abs_log_spark.catalog import Catalog

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    half = seq.where(F.col("part_bucket") < 4)
    run_pipeline(spark, tmp_catalog, half, dim, run_id="r1")
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 4

    # (a) the resumed run's aggregate input is the increment, not the history
    n_increment = seq.where(F.col("part_bucket") >= 4).count()
    assert 0 < n_increment < N
    assert r2["rows_agg_input"] == n_increment

    # (b) the scan that feeds the partials is partition-pruned to the new
    # buckets (the isin predicate lands in PartitionFilters)
    import contextlib
    import io

    pruned = tmp_catalog.read(spark, "routed_sink_a").where(
        F.col("part_bucket").isin([4, 5, 6, 7])
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "part_bucket" in plan.split("PartitionFilters", 1)[1][:200]

    # (c) summaries identical to a from-scratch full recompute
    full_cat = Catalog(root=str(tmp_path / "wh_full"))
    run_pipeline(spark, full_cat, seq, dim, run_id="full",
                 cfg=PipelineConfig(resume=False, incremental_agg=False,
                                    exact_quantiles=True))
    for s in ("sink_a", "sink_b", "sink_c"):
        if not tmp_catalog.exists(f"minute_agg_{s}"):
            assert not full_cat.exists(f"minute_agg_{s}")
            continue
        inc_rows = sorted(
            (str(r["minute"]), str(r["uri_abs"]), r["pv"], r["bytes_sum"],
             round(r["rt_sum"] or 0, 6), round(r["rt_p50"] or 0, 6), r["err_hits"],
             r["invalid_hits"])
            for r in tmp_catalog.read(spark, f"minute_agg_{s}").collect()
        )
        full_rows = sorted(
            (str(r["minute"]), str(r["uri_abs"]), r["pv"], r["bytes_sum"],
             round(r["rt_sum"] or 0, 6), round(r["rt_p50"] or 0, 6), r["err_hits"],
             r["invalid_hits"])
            for r in full_cat.read(spark, f"minute_agg_{s}").collect()
        )
        assert inc_rows == full_rows and len(inc_rows) > 0
        # error summaries merge too
        if tmp_catalog.exists(f"errors_{s}"):
            inc_err = sorted(
                (str(r["minute"]), r["status"], r["hits"])
                for r in tmp_catalog.read(spark, f"errors_{s}").collect()
            )
            full_err = sorted(
                (str(r["minute"]), r["status"], r["hits"])
                for r in full_cat.read(spark, f"errors_{s}").collect()
            )
            assert inc_err == full_err


def test_incremental_agg_bucket_rerun_idempotent(spark, tmp_catalog):
    """Re-running an already-aggregated bucket (crash between routed promote
    and checkpoint mark) replaces its partials instead of double-counting."""
    from abs_log_spark.plans import checkpoint as ckpt

    seq = gen_sequences(spark, N)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")
    pv1 = {
        s: tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    }
    # simulate the crash: bucket 3's checkpoint row never landed
    ck = tmp_catalog.read(spark, "checkpoint").where("partition_key <> '3'")
    pdf = ck.toPandas()
    tmp_catalog.drop("checkpoint")
    spark.createDataFrame(pdf).write.parquet(tmp_catalog.path("checkpoint"))
    assert ckpt.completed_partitions(spark, tmp_catalog, "routed") == {
        "0", "1", "2", "4", "5", "6", "7"
    }

    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 1
    for s, v in pv1.items():
        assert (
            tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
            == v
        ), s


def test_crash_between_promote_and_partials_heals(spark, tmp_catalog):
    """The mark_done-before-partials crash window: a bucket checkpointed as
    routed-done but with no agg_partials partition must be detected and
    backfilled on the next run — never silently dropped from summaries."""
    import shutil

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    # auto_compact off: the simulated crash state needs bucket 2's OWN
    # partials partition on disk (the compacted variant of this window is
    # covered by tests/test_compaction.py)
    nc = PipelineConfig(auto_compact=False)
    run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1", cfg=nc)
    pv1 = {
        s: tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    }
    # simulate the crash state: bucket 2's partials vanish, checkpoint says done
    shutil.rmtree(tmp_catalog.path("agg_partials") + "/part_bucket=2")
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2", cfg=nc)
    assert r2["buckets_processed"] == 0 and r2["buckets_backfilled"] == 1
    for s, v in pv1.items():
        assert (
            tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
            == v
        ), s


def test_full_to_incremental_mode_mixing_backfills(spark, tmp_catalog):
    """History built with --full-agg has no partials; a later incremental run
    must backfill them instead of rebuilding summaries from an empty partials
    table (silently dropping all prior history)."""
    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq, dim, run_id="full",
                 cfg=PipelineConfig(incremental_agg=False, exact_quantiles=True))
    pv1 = {
        s: tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    }
    assert not tmp_catalog.exists("agg_partials")
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="inc")  # incremental
    assert r2["buckets_processed"] == 0 and r2["buckets_backfilled"] == 8
    assert tmp_catalog.exists("agg_partials")
    for s, v in pv1.items():
        assert (
            tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
            == v
        ), s


def test_aligned_mode_matches_unaligned(spark, tmp_path):
    """input_aligned (shuffle-free routing over layout-clustered input) must
    produce identical routed counts and minute aggregates to the default
    shuffled path."""
    from abs_log_spark.catalog import Catalog
    from abs_log_spark.plans.pipeline import PipelineConfig, run_pipeline
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    seq = gen_sequences(spark, 5000, invalid_every=250)
    aligned_dir = str(tmp_path / "aligned_in")
    seq.repartitionByRange(8, "source", "part_bucket", "doc_id").write.parquet(aligned_dir)
    dim = gen_sources_dim(spark)

    outs = {}
    for mode, cfg in (
        ("shuffled", PipelineConfig(resume=False)),
        ("aligned", PipelineConfig(resume=False, input_aligned=True)),
    ):
        cat = Catalog(root=str(tmp_path / f"wh_{mode}"))
        src = spark.read.parquet(aligned_dir) if mode == "aligned" else seq
        run_pipeline(spark, cat, src, dim, run_id=mode, cfg=cfg)
        agg = cat.read(spark, "minute_agg_sink_a")
        outs[mode] = sorted(
            (str(r["minute"]), r["uri_abs"], r["pv"], r["bytes_sum"], r["err_hits"])
            for r in agg.collect()
        )
    assert outs["aligned"] == outs["shuffled"]
    assert len(outs["aligned"]) > 0


def test_exclusion_filter(spark):
    """P4: valid rows matching exclude_uri never enter routing/stats;
    invalid rows are still counted."""
    from abs_log_spark.plans.pipeline import PipelineConfig, transform
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    seq = gen_sequences(spark, 1000, invalid_every=100)
    dim = gen_sources_dim(spark)
    base = transform(seq, dim)
    excl = transform(seq, dim, PipelineConfig(exclude_uri=r"^/static/"))
    n_static = base.where("valid and uri rlike '^/static/'").count()
    assert n_static > 0
    assert excl.count() == base.count() - n_static
    assert excl.where("valid and uri rlike '^/static/'").count() == 0
    assert (
        excl.where("not valid").count() == base.where("not valid").count()
    )


def test_zipf_skew_and_aligned_layout_balance(spark):
    """The synth fixture is Zipf-hot (src0 ~ half the rows — the [B] 'hot
    sources' axis); range-clustering on (source, part_bucket, doc_id)
    splits that hot source across partitions so no task exceeds ~2x the
    mean — the layout half of the skew story (AQE skew-join is conf)."""
    from pyspark.sql import functions as F

    from abs_log_spark.sources.synth import gen_sequences

    seq = gen_sequences(spark, 20000)
    frac = (
        seq.where("source = 'src0'").count() / 20000
    )
    assert 0.4 < frac < 0.6, f"src0 fraction {frac} not Zipf-hot"

    aligned = seq.repartitionByRange(16, "source", "part_bucket", "doc_id")
    sizes = (
        aligned.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().select("count").toPandas()["count"]
    )
    assert sizes.max() <= 2.0 * sizes.mean(), (
        f"aligned layout leaves a straggler partition: {sorted(sizes)}"
    )


def test_crashed_staging_recovery(spark, tmp_catalog):
    """A crash mid-staging-write leaves _routed_staging behind; the next run
    must clear it and produce exactly the clean-run outputs (idempotence of
    the promote protocol)."""
    import os

    from abs_log_spark.plans.pipeline import PipelineConfig, run_pipeline
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    # simulate a crashed run: stale partial staging with garbage partitions
    stale = tmp_catalog.path("_routed_staging")
    os.makedirs(os.path.join(stale, "sink=sink_a", "part_bucket=99"))
    with open(os.path.join(stale, "sink=sink_a", "part_bucket=99", "part-junk.parquet"), "w") as f:
        f.write("not parquet")

    seq = gen_sequences(spark, 2000, invalid_every=0)
    dim = gen_sources_dim(spark)
    summary = run_pipeline(spark, tmp_catalog, seq, dim, run_id="recover",
                           cfg=PipelineConfig(resume=True))
    assert summary["rows_in"] == 2000
    assert not os.path.exists(stale)
    # garbage bucket never promoted
    assert not os.path.exists(tmp_catalog.path("routed_sink_a") + "/part_bucket=99")
    total = sum(
        tmp_catalog.read(spark, f"routed_{s}").count()
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"routed_{s}")
    )
    assert total == 2000


def test_second_run_compiles_no_generated_code(spark, tmp_path):
    """A run whose plan shapes the session has already run reuses their
    generated classes: the codegen cache holds the pipeline's working set
    (Spark's default 100 entries did not — every run recompiled ~150
    sources), and no per-run value (run id, checkpoint time) is inlined
    into generated code as a literal."""
    from abs_log_spark.catalog import Catalog

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    first = run_pipeline(spark, Catalog(root=str(tmp_path / "a")), seq, dim, run_id="a")
    second = run_pipeline(spark, Catalog(root=str(tmp_path / "b")), seq, dim, run_id="b")
    assert first["rows_in"] == second["rows_in"] == N
    assert (second["codegen_compiles"], second["codegen_compile_ms"]) == (0, 0), second
