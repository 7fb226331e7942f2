"""Physical-plan audits (SURVEY §4 scale promises, asserted not
claimed): predicate pushdown reaches the parquet scan, column pruning
shrinks ReadSchema, dimension joins broadcast, aggregation is partial
(map-side) before the shuffle, hot paths stay inside whole-stage
codegen, and no headline plan contains a cartesian product.

These run against the REAL queries at sf0.001 — if a refactor silently
drops a pushdown or de-broadcasts a dim join, this file goes red even
though results stay correct."""

from __future__ import annotations

import os
import re

import pytest

from bda_spark.plans import get_queries

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _plan(spark, name: str) -> str:
    df = get_queries()[name](spark, SF_DIR)
    jqe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _plan(spark, "events_recent_range")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, "no PushedFilters section in scan node"
    # the ts range and the value predicate must reach the reader
    assert any("value" in l and "5.0" in l for l in pushed), pushed


def test_column_pruning_shrinks_read_schema(spark):
    """events_lead_label touches 4 of events' 6 columns; the scan must
    not read props (the widest column) or event_type."""
    plan = _plan(spark, "events_lead_label")
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schemas
    assert all("props" not in l and "event_type" not in l for l in schemas), schemas


def test_dimension_joins_broadcast(spark):
    """top_customers joins orders (fact) with customer (dim): the dim
    side must broadcast — a shuffle join here becomes the bottleneck at
    1000 executors."""
    plan = _plan(spark, "top_customers")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_aggregation_is_partial_before_shuffle(spark):
    """groupBy aggregates must run map-side partials (two HashAggregate
    phases) so the shuffle carries one row per (partition, key), not
    one per event."""
    plan = _plan(spark, "events_windowed_10min")
    assert plan.count("HashAggregate") >= 2, plan


def test_hot_path_stays_in_codegen(spark):
    """Codegen spans only materialize once AQE finalizes the plan, so
    execute first, then read the final adaptive plan."""
    df = get_queries()["pricing_summary"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen'd operators in the final
    # plan; both the scan+partial-agg stage and the final-agg stage
    # must be inside codegen
    assert "*(1)" in plan and "*(2)" in plan, plan


def _nodes(plan: str, op: str) -> int:
    """Count tree nodes of a given operator in a formatted explain
    (each node is also re-printed in the detail section, so a plain
    substring count doubles)."""
    return len(re.findall(rf"\b{op} \(\d+\)", plan))


def test_rollup_is_single_expand_aggregate(spark):
    """orders_rollup_totals must compute all three grouping sets in ONE
    Expand + hash-aggregate pass — per-set re-aggregation (a union of
    scans) would triple the shuffle at scale."""
    plan = _plan(spark, "orders_rollup_totals")
    assert _nodes(plan, "Expand") == 1, plan
    assert _nodes(plan, "Exchange") == 1, plan


def test_grouping_sets_is_single_expand_aggregate(spark):
    """orders_grouping_sets_margins: both marginals in ONE Expand +
    hash-aggregate pass, exactly like its rollup/cube siblings."""
    plan = _plan(spark, "orders_grouping_sets_margins")
    assert _nodes(plan, "Expand") == 1, plan
    assert _nodes(plan, "Exchange") == 1, plan


def test_mode_windows_the_collapsed_grid_not_events(spark):
    """events_mode_daily: the row_number window must sort only the
    (day, type) grid AFTER the counting aggregate collapsed events —
    partial aggregation first, and no global sort anywhere."""
    plan = _plan(spark, "events_mode_daily")
    assert plan.count("HashAggregate") >= 2, plan
    for line in plan.splitlines():
        if line.strip().startswith("Sort ") or "] Sort [" in line:
            assert "global=false" in line, line


def test_rank_topk_has_no_global_sort(spark):
    """orders_rank_topk partitions its windows by priority: every Sort
    in the plan must be per-partition (global=false) — a global sort of
    the fact table would serialize the cluster."""
    plan = _plan(spark, "orders_rank_topk")
    assert "Sort" in plan, plan
    for line in plan.splitlines():
        if line.strip().startswith("Sort ") or "] Sort [" in line:
            assert "global=false" in line, line


def test_exact_percentiles_aggregate_partially(spark):
    """lineitem_quantity_quantiles: percentile is a typed imperative
    aggregate — partial (map-side) collection must still happen before
    the one shuffle on l_linestatus."""
    plan = _plan(spark, "lineitem_quantity_quantiles")
    assert _nodes(plan, "Exchange") == 1, plan
    assert (
        _nodes(plan, "HashAggregate")
        + _nodes(plan, "ObjectHashAggregate")
        + _nodes(plan, "SortAggregate")
    ) >= 2, plan


@pytest.mark.parametrize(
    "name",
    [
        "pricing_summary", "gold_daily_orders", "top_customers",
        "regional_order_stats", "events_windowed_10min", "events_asof_join",
        "events_lead_label", "exact_dedup_keyset", "ngram_jaccard_pairs",
        "events_interpolate_1h", "doc_repetition_scores", "doc_pii_scan",
        "scraped_articles", "generated_ticks_profile",
        "orders_rollup_totals", "lineitem_quantity_quantiles", "orders_rank_topk",
        "doc_decontaminate", "docs_stratified_sample", "docs_train_val_split",
        "docs_pack_sequences", "doc_unigram_logprob", "events_sessionize",
    ],
)
def test_no_cartesian_products(spark, name):
    """No headline plan may degrade to CartesianProduct. (1-row-side
    BroadcastNestedLoopJoin — e.g. the anchored recency cutoff — is a
    deliberate, bounded pattern and stays allowed.)"""
    assert "CartesianProduct" not in _plan(spark, name)


def test_stratified_sample_never_shuffles_the_corpus(spark):
    """The sampler must be one corpus scan + a broadcast of the tiny
    per-source counts: no Exchange may sit between the documents scan
    and the filtering join (the counts side aggregates and broadcasts;
    the corpus side stays put)."""
    plan = _plan(spark, "docs_stratified_sample")
    assert "BroadcastHashJoin" in plan
    # corpus side of the join is the scan directly (no shuffle above it):
    # the only Exchange nodes are the counts aggregation + broadcast
    exchanges = re.findall(r"\n\(\d+\) (\w*Exchange)\b", plan)
    assert all(e in ("Exchange", "BroadcastExchange") for e in exchanges)
    assert len([e for e in exchanges if e == "Exchange"]) == 1  # counts agg only


def test_pack_sequences_single_shuffle_reused_by_aggregate(spark):
    """Packing shuffles ONCE on source; the final (source, seq_id)
    aggregate must reuse that partitioning (source is a prefix of the
    grouping key) instead of adding a second Exchange."""
    plan = _plan(spark, "docs_pack_sequences")
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 1
    assert "Window" in plan


def test_train_val_split_aggregates_partially(spark):
    """The split table is a pure map-side-combined aggregation: exactly
    one Exchange, with a partial_count/partial_sum below it."""
    plan = _plan(spark, "docs_train_val_split")
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 1
    assert "partial_count" in plan and "partial_sum" in plan


def test_sessionize_has_no_global_sort(spark):
    """Session windows must stay per-user: no partitionless Sort/Window
    over the whole event table."""
    plan = _plan(spark, "events_sessionize")
    assert "CartesianProduct" not in plan
    # every Sort in the plan is partition-local (global=false)
    for m in re.finditer(r"\n\(\d+\) Sort\b.*?Arguments: (.*)", plan):
        assert "true" not in m.group(1).split(",")[-2:][0]


def test_cube_is_single_expand_two_phase_distinct(spark):
    """orders_cube_customers: all four grouping sets in ONE Expand, and
    the count-distinct measure in the standard two-exchange shape —
    custkeys dedup map-side (first partial aggregate) before anything
    shuffles; four per-set re-aggregations would quadruple the scan."""
    plan = _plan(spark, "orders_cube_customers")
    assert _nodes(plan, "Expand") == 1, plan
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 2, plan


def test_pivot_shuffles_only_the_collapsed_grid(spark):
    """events_pivot_daily: partial aggregation must collapse events to
    the (day, type) grid before the first Exchange — the plan is two
    aggregate phases around each of the two (tiny) shuffles, with no
    values-discovery job (pivot values are declared)."""
    plan = _plan(spark, "events_pivot_daily")
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 2, plan
    assert _nodes(plan, "HashAggregate") >= 3, plan
    assert "partial_avg" in plan or "partial_first" in plan or "avg" in plan


def test_unpivot_is_free_expand_after_one_aggregate(spark):
    """docs_unpivot_stats: the wide stats table aggregates ONCE (one
    Exchange, one Scan) and the melt is a narrow Expand above it — the
    oracle's 3-way UNION shape (three scans) must not appear."""
    plan = _plan(spark, "docs_unpivot_stats")
    assert _nodes(plan, "Expand") == 1, plan
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\n\(\d+\) Scan parquet", plan)) == 1, plan


def test_argmax_aggregates_partially_without_global_sort(spark):
    """events_argmax_daily: max_by must aggregate partially before its
    single Exchange (the shuffle carries one row per partition×type,
    never events), and any Sort is partition-local — the windowed
    formulation would funnel the whole table into 5 reducers."""
    plan = _plan(spark, "events_argmax_daily")
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 1, plan
    assert _nodes(plan, "SortAggregate") + _nodes(plan, "HashAggregate") >= 2, plan
    # no global sort node anywhere in the tree (formatted detail prints
    # Sort arguments as "[keys], global, ..." — global must be false)
    assert not re.search(r"Arguments: \[[^\]]*\], true,", plan), plan


def test_approx_distinct_matches_exact_within_rsd(spark):
    """The HLL++ scale twin must land within its 5% default rsd of the
    exact per-group distinct count, and its plan must aggregate
    partially (the sketch merges map-side — that is its entire point)."""
    import bench

    df = bench.events_approx_distinct(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "partial_approx_count_distinct" in plan, plan
    from pyspark.sql import functions as F

    from bda_spark.sources.batch import load_table

    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in df.collect():
        e = exact[r["event_type"]]
        assert abs(r["approx_users"] - e) <= max(3, 0.15 * e), (r, e)


def test_trailing_range_window_runs_over_collapsed_grid(spark):
    """events_trailing_7d: the RANGE window must sit ABOVE the daily
    aggregate (events collapse map-side first) and sort only within
    event_type partitions — the fact table never meets the window."""
    plan = _plan(spark, "events_trailing_7d")
    assert _nodes(plan, "Window") == 1, plan
    # window's sort is partition-local
    assert not re.search(r"Arguments: \[[^\]]*\], true,", plan), plan
    # partial aggregation below the first Exchange
    assert _nodes(plan, "HashAggregate") >= 2, plan


def test_ntile_has_no_global_sort(spark):
    plan = _plan(spark, "customer_balance_ntiles")
    assert _nodes(plan, "Window") == 1, plan
    assert not re.search(r"Arguments: \[[^\]]*\], true,", plan), plan


def test_variant_extract_stays_in_single_aggregate(spark):
    """events_variant_extract: parse_json + typed get compiles to one
    partial-then-final aggregate — no UDF, no extra exchange."""
    plan = _plan(spark, "events_variant_extract")
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "orders_cube_customers", "events_pivot_daily", "docs_unpivot_stats",
        "events_argmax_daily", "events_trailing_7d", "customer_balance_ntiles",
        "events_variant_extract", "docs_listagg_sources",
        "doc_decontaminate_bloom",
    ],
)
def test_no_cartesian_products_round4(spark, name):
    """Round-4 additions join the no-cartesian audit."""
    assert "CartesianProduct" not in _plan(spark, name)


def test_strip_frequent_lines_removes_template_keeps_content(spark):
    """C4-style boilerplate strip: lines in >= min_df distinct docs
    vanish, unique content survives in original order, repeated lines
    WITHIN one doc don't count toward df, and fully-template docs
    collapse to empty text."""
    from pyspark.sql import Row

    from bda_spark.plans.textops import strip_frequent_lines

    banner = "subscribe to our newsletter"
    cookie = "we use cookies"
    rows = [
        Row(doc_id=1, text=f"{banner}\nreal article one\n{cookie}"),
        Row(doc_id=2, text=f"{banner}\nanother real story\n{cookie}"),
        Row(doc_id=3, text=f"{banner}\nthird unique body\n{cookie}\nextra line"),
        # repeated within ONE doc only -> df = 1, must survive
        Row(doc_id=4, text="chorus line\nchorus line\nverse"),
        Row(doc_id=5, text=f"{banner}\n{cookie}"),  # pure template
    ]
    out = {
        r["doc_id"]: r["text"]
        for r in strip_frequent_lines(
            spark.createDataFrame(rows), min_df=3
        ).collect()
    }
    assert out[1] == "real article one"
    assert out[2] == "another real story"
    assert out[3] == "third unique body\nextra line"
    assert out[4] == "chorus line\nchorus line\nverse"
    assert out[5] == ""


def test_tfidf_topk_ranks_characteristic_terms(spark):
    """TF-IDF top-k: a term unique to one doc outranks corpus-wide
    ubiquitous terms; ubiquitous terms (df == N) weigh exactly 0;
    ranking is deterministic under ties."""
    from pyspark.sql import Row

    from bda_spark.plans.textops import tfidf_topk_terms

    rows = [
        Row(doc_id=1, text="common common zebra common"),
        Row(doc_id=2, text="common yak common"),
        Row(doc_id=3, text="common wolf wolf"),
    ]
    out = tfidf_topk_terms(spark.createDataFrame(rows), k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rk"], r["token"], r["tfidf"]))
    assert by_doc[1][0][1] == "zebra" and by_doc[1][0][2] > 0
    assert by_doc[2][0][1] == "yak"
    assert by_doc[3][0][1] == "wolf"
    # 'common' appears in every doc -> ln(3/3) = 0 exactly
    commons = [r for r in out if r["token"] == "common"]
    assert commons and all(r["tfidf"] == 0.0 for r in commons)


def test_compression_ratio_separates_quality(spark):
    """The zlib quality signal: repetitive boilerplate compresses hard
    (low ratio), diverse prose sits in the middle, random bytes barely
    compress — and the measure is deterministic and byte-accounted."""
    import random

    from pyspark.sql import Row

    from bda_spark.plans.textops import compression_ratios

    rng = random.Random(3)
    repetitive = "buy now click here " * 60
    prose = " ".join(
        rng.choice(["the", "model", "data", "spark", "join", "scan",
                    "filter", "window", "stream", "batch"])
        for _ in range(240)
    )
    noise = "".join(chr(rng.randrange(33, 127)) for _ in range(1200))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=repetitive), Row(doc_id=2, text=prose),
         Row(doc_id=3, text=noise), Row(doc_id=4, text="")]
    )
    got = {r["doc_id"]: r for r in compression_ratios(docs).collect()}
    assert got[1]["ratio"] < got[2]["ratio"] < got[3]["ratio"]
    assert got[1]["ratio"] < 0.1        # boilerplate collapses
    assert got[3]["ratio"] > 0.75       # noise barely compresses
    assert got[4]["ratio"] == 1.0       # empty-doc convention
    assert got[1]["n_bytes"] == len(repetitive.encode())
    assert got[3]["n_bytes"] == len(noise.encode())
    # determinism across a rerun
    again = {r["doc_id"]: r["ratio"] for r in compression_ratios(docs).collect()}
    assert again == {k: v["ratio"] for k, v in got.items()}


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_ivf_sq8_plan_is_broadcast_only(spark, sf_dir):
    """The composed ANN plan: every join broadcasts the (tiny) query
    side, no cartesian product, no non-broadcast nested loop, and the
    top-k windows carry the rank-pushdown (WindowGroupLimit)."""
    from bda_spark.operators.quantize import ivf_sq8_topk
    from bda_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = ivf_sq8_topk(
        emb, emb.filter("vec_id < 5"), k=5, n_centroids=8, n_probe=4
    )
    plan = _formatted_plan(spark, df)
    assert "CartesianProduct" not in plan, plan
    import re

    joins = re.findall(r"\b(\w+Join)\b", plan)
    assert joins and set(joins) == {"BroadcastHashJoin"}, set(joins)
    assert "WindowGroupLimit" in plan, plan


def test_corpus_build_plan_has_no_cartesian_or_python_rows(spark):
    """The end-to-end corpus build composes dedup + gates + packing
    without ever planning a cartesian product or a row-at-a-time
    Python UDF (BatchEvalPython); the only literal crossJoin is the
    broadcast 1-row corpus count inside decontamination."""
    from pyspark.sql import Row

    from bda_spark.plans.datamix import corpus_build_pipeline

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(f"t{i}w{j}" for j in range(20)),
                source="s")
            for i in range(12)
        ]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=100, text=" ".join(f"b{j}" for j in range(20)))]
    )
    clean, removed, manifest = corpus_build_pipeline(docs, bench)
    for df in (clean, removed, manifest):
        plan = _formatted_plan(spark, df)
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan, plan


def test_bench_final_path_never_overwrites_complete_record(tmp_path):
    """VERDICT r14 #6: a complete same-round record is never
    overwritten — later runs dodge to _run{K}; provisional/corrupt
    files do not block the canonical name."""
    import json

    import bench

    here = str(tmp_path)
    canon = tmp_path / "BENCH_LOCAL_r9.json"
    # absent -> canonical
    assert bench.final_local_path(here, 9) == str(canon)
    # stale pre-r15 provisional -> canonical (reclaimed)
    canon.write_text(json.dumps({"queries": {}, "partial": "x"}))
    assert bench.final_local_path(here, 9) == str(canon)
    # complete record -> dodge to _run2, then _run3
    canon.write_text(json.dumps({"queries": {"q": 1.0}}))
    p2 = bench.final_local_path(here, 9)
    assert p2.endswith("BENCH_LOCAL_r9_run2.json")
    (tmp_path / "BENCH_LOCAL_r9_run2.json").write_text("{}")
    assert bench.final_local_path(here, 9).endswith("_run3.json")


def _bench_record(queries: dict) -> dict:
    return {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus_effective": 4,
        "master": "local[4]",
    }


def test_bench_stdout_line_carries_every_entry():
    """All 59 timed entries at three-digit seconds fit the stdout line,
    beside the headline fields and the parallelism the run had."""
    import json

    import bench

    names = (
        bench.HEADLINE
        + list(bench.TWINS)
        + ["medallion_pipeline", "streaming_pipeline"]
    )
    assert len(set(names)) == 59
    rec = _bench_record({n: 123.45 for n in names})
    line = bench.stdout_line(rec, "BENCH_LOCAL_r18.json")
    assert "\n" not in line and len(line) <= bench.LINE_BUDGET == 1950
    # the per-entry layers block stays in the full record only
    split = {"build_s": 100.0, "exec_s": 23.45, "build_jobs": 23,
             "exec_jobs": 4, "cpu_s": 321.5}
    with_layers = dict(rec, layers={n: dict(split) for n in names})
    assert bench.stdout_line(with_layers, "BENCH_LOCAL_r18.json") == line
    assert "layers" not in line
    out = json.loads(line)
    assert out["queries"] == rec["queries"]
    for k in ("metric", "value", "unit", "sf", "cpus_effective", "master"):
        assert out[k] == rec[k]
    assert out["full"] == "BENCH_LOCAL_r18.json"
    assert "queries_note" not in out


def test_bench_stdout_line_overflow_keeps_20_slowest():
    """A record too wide for the line falls back to its 20 slowest
    entries, flagged by queries_note, still within the budget."""
    import json

    import bench

    queries = {
        f"synthetic_entry_with_a_long_name_{i:03d}": float(i) for i in range(200)
    }
    line = bench.stdout_line(_bench_record(queries), "BENCH_LOCAL_r1.json")
    assert len(line) <= bench.LINE_BUDGET
    out = json.loads(line)
    assert out["queries_note"] == "top20_full_in_local"
    slowest = sorted(queries, key=queries.get)[-20:]
    assert out["queries"] == {k: queries[k] for k in slowest}
    assert out["cpus_effective"] == 4 and out["master"] == "local[4]"


def test_bench_entry_split_counts_jobs_per_layer(spark):
    """time_entry charges jobs fired while building to build_jobs and
    the collect to exec_jobs, splits the wall time into build_s +
    exec_s, clears the job group, and fastest() keeps the split of the
    faster sample."""
    import time

    import bench

    sc = spark.sparkContext

    def eager():
        time.sleep(0.2)
        return spark.range(100).localCheckpoint(eager=True)

    def lazy():
        return spark.range(100).selectExpr("id * 2 AS x")

    runs, splits = [], {}
    for group, build in (("eager#0", eager), ("lazy#0", lazy)):
        wall, split = bench.time_entry(spark, group, build)
        assert sc.getLocalProperty("spark.jobGroup.id") is None
        assert set(split) == {"build_s", "exec_s", "build_jobs", "exec_jobs", "cpu_s"}
        assert split["build_s"] + split["exec_s"] == pytest.approx(wall)
        assert split["exec_jobs"] >= 1 and split["cpu_s"] >= 0
        runs.append((wall, split))
        splits[group] = split
    assert splits["eager#0"]["build_jobs"] == 1
    assert splits["lazy#0"]["build_jobs"] == 0
    assert splits["eager#0"]["build_s"] >= 0.2

    timings, layers = bench.fastest({"entry": runs})
    kept = layers["entry"]
    assert kept["build_jobs"] == 0  # the lazy sample is the faster one
    assert timings["entry"] == round(min(w for w, _ in runs), 3)
    assert kept["build_s"] + kept["exec_s"] == pytest.approx(timings["entry"], abs=0.002)
