"""Physical-plan guardrails (SURVEY.md §7 hard-part 3): assert the
optimizations we rely on at 100-TB scale actually appear in the plans —
column pruning reaches the parquet scan, the global crawl order is a
cell-partitioned rank (never a single-task window over data), and the
seen anti-join + hosts join pick the intended strategies."""

import ast
import re
from pathlib import Path

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
import oa_spider_spark
from oa_spider_spark import datagen
from oa_spider_spark.frontier.politeness import apply_budget, budget_and_order, order_cols
from oa_spider_spark.frontier.round import dedup_frontier

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_nodes(p):
    name = p.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        yield from _plan_nodes(p.executedPlan())
        return
    if "QueryStage" in name:
        yield from _plan_nodes(p.plan())
        return
    yield p
    ch = p.children()
    for i in range(ch.size()):
        yield from _plan_nodes(ch.apply(i))


def unpartitioned_window_rows(df) -> list:
    """Rows read by each Window with no partition in `df`'s executed
    plan (run it first): the numOutputRows of the first node below the
    window that counts its output."""
    out = []
    for n in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if n.nodeName() == "Window" and n.partitionSpec().isEmpty():
            for m in _plan_nodes(n.child()):
                if m.metrics().contains("numOutputRows"):
                    out.append(m.metrics().apply("numOutputRows").value())
                    break
    return out


def _unpersist(df) -> None:
    cache = getattr(df, "_ordered_cache", None)
    if cache is not None:
        cache.unpersist()


def _frontier(spark, n, n_hosts, hot_share):
    return datagen.seed_frontier_df(spark, n, n_hosts=n_hosts, hot_share=hot_share).withColumn(
        "budget_per_round", F.lit(None).cast("int")
    )


def test_token_count_prunes_documents_scan(spark):
    """A 2-column projection must not read the whole documents schema."""
    df = entry_mod.queries()["q_token_count"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_crawl_select_pushes_nothing_through_python(spark):
    """q_crawl_select is pure JVM — no Python evals anywhere in the plan."""
    df = entry_mod.queries()["q_crawl_select"](spark, SF_DIR)
    plan = plan_of(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonMapInArrow"):
        assert marker not in plan, f"{marker} found in crawl-select plan"


def test_global_order_is_bucketed_not_single_task(spark):
    """The engine's total order (`budget_and_order`) must be a
    distributed cell rank: every data row_number window partitions by
    the priority cell `_b`, and the only windows without a partition
    run over the ≤100-row cell metadata — never over the frontier."""
    f = _frontier(spark, 2000, 6, 0.4)
    out = budget_and_order(f, 10_000)
    out.collect()
    plan = plan_of(out)
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert re.search(r"windowspecdefinition\((host#\d+, )?_b#\d+,", line), line
    assert "BroadcastHashJoin" in plan, plan  # global offsets broadcast
    rows = unpartitioned_window_rows(out)
    assert rows and max(rows) <= 100, rows
    _unpersist(out)


def test_global_order_total_rank_is_correct(spark):
    """With a budget no host reaches, fetch_order from the cell rank
    must equal the rank of a plain global sort (the semantics the
    decomposition must preserve)."""
    f = _frontier(spark, 1500, 5, 0.5)
    out = budget_and_order(f, 10_000)
    got = [(r["url_hash"], r["fetch_order"]) for r in out.orderBy("fetch_order").collect()]
    want = [r["url_hash"] for r in f.orderBy(*order_cols()).select("url_hash").collect()]
    assert got == list(zip(want, range(1, len(want) + 1)))
    _unpersist(out)


def test_no_hand_rolled_offset_windows():
    """Only `ranking.py` may build a cell-offsets window: no window
    without a partition, and no exclusive running sum
    (rowsBetween(unboundedPreceding, -1)), anywhere else in frontier/ or
    operators/. Each exemption names its reason."""
    exempt = {
        # ranks the k rows left after orderBy().limit(k)
        ("operators/similarity.py", "_ranked_topk"),
        # heading-tree windows, partitioned by document; not offsets
        ("operators/html.py", "heading_outline"),
    }
    root = Path(oa_spider_spark.__file__).parent
    hits = set()
    for sub in ("frontier", "operators"):
        for path in sorted((root / sub).glob("*.py")):
            rel = f"{sub}/{path.name}"
            for top in ast.parse(path.read_text()).body:
                for node in ast.walk(top):
                    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                        continue
                    fn, base = node.func.attr, node.func.value
                    bare = fn == "orderBy" and isinstance(base, ast.Name) and base.id == "Window"
                    excl = (
                        fn == "rowsBetween"
                        and len(node.args) == 2
                        and ast.unparse(node.args[0]) == "Window.unboundedPreceding"
                        and ast.unparse(node.args[1]) == "-1"
                    )
                    if bare or excl:
                        hits.add((rel, getattr(top, "name", "<module>")))
    assert hits == exempt, sorted(hits - exempt)


def test_fluency_buckets_bounded_at_scale(spark):
    """fluency_buckets on 10^5 rows, with distinct scores and with one
    identical score: the rank equals a flat sort by (score DESC, id ASC),
    and no window without a partition reads more than 256 rows."""
    from oa_spider_spark.operators.text import fluency_buckets

    n = 100_000
    for score, want in (
        (F.expr(f"(id * 7919) % {n}"), F.lit(n) - F.col("score_micro")),  # a permutation
        (F.lit(5).cast("long"), F.col("doc_id") + 1),
    ):
        df = spark.range(n).select(F.col("id").alias("doc_id"), score.alias("score_micro"))
        res = fluency_buckets(df).agg(
            F.count("*").alias("n"), F.sum((F.col("rank") != want).cast("int")).alias("bad")
        )
        assert res.collect()[0].asDict() == {"n": n, "bad": 0}
        rows = unpartitioned_window_rows(res)
        assert rows and max(rows) <= 256, rows


def test_dedup_frontier_is_partial_aggregate_not_window(spark):
    """dedup_frontier must compile to hash aggregates (map-side partial
    combine) rather than a sort-based row_number window."""
    f = datagen.seed_frontier_df(spark, 300, n_hosts=5, hot_share=0.3)
    out = dedup_frontier(f)
    out.collect()
    plan = plan_of(out)
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan, plan  # map-side combine before the shuffle


def test_fetch_stage_is_arrow_not_row_python(spark):
    """The fetch stage must be mapInArrow (Arrow record batches), and its
    input must already be salted-repartitioned (round-robin/hash exchange
    ahead of the Python stage)."""
    from oa_spider_spark.frontier.fetch import fetch_stage
    from oa_spider_spark.frontier.politeness import salted_repartition

    f = datagen.seed_frontier_df(spark, 200, n_hosts=4, hot_share=0.4)
    out = fetch_stage(salted_repartition(f, 4), n_hosts=4)
    plan = plan_of(out)
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in fetch path"


def _assert_matches_unfused(frame, budget=80):
    """`budget_and_order(frame, budget, limit)` must equal apply_budget
    followed by a flat sort with fetch_order = position."""
    flat = [r["url_hash"] for r in apply_budget(frame, budget).orderBy(*order_cols()).collect()]
    for limit in (None, 150):
        fused = budget_and_order(frame, budget, limit)
        ordered = fused.orderBy("fetch_order").collect()
        got = [(r["url_hash"], r["fetch_order"]) for r in ordered]
        want = list(zip(flat, range(1, len(flat) + 1)))[:limit]
        assert got == want and len(got) > 0
        _unpersist(fused)


def test_global_order_correct_for_out_of_range_priorities(spark):
    """Code-review r02: priorities outside 0..99 must not break the total
    order. The clamped `_b` cell puts priority 150 with 99 and -50 with 0,
    which is safe because the cells are a monotone coarsening and in-cell
    windows sort by the full key — the rank must equal a plain full sort
    for ANY priority domain, with and without a binding budget."""
    wide = _frontier(spark, 400, 4, 0.3).withColumn(
        "priority",
        F.when(F.col("url_hash") % 7 == 0, F.col("priority") + 120)
        .when(F.col("url_hash") % 7 == 1, F.col("priority") - 150)
        .otherwise(F.col("priority")),
    )
    out = budget_and_order(wide, 10_000)
    got = [r["url_hash"] for r in out.orderBy("fetch_order").select("url_hash").collect()]
    want = [r["url_hash"] for r in wide.orderBy(*order_cols()).select("url_hash").collect()]
    assert got == want
    _unpersist(out)
    _assert_matches_unfused(wide)


def test_budget_and_order_matches_unfused_pipeline(spark):
    """The fused budget+rank operator (round hot path) must produce the
    exact selection and fetch_order of the reference pipeline:
    apply_budget, then a flat sort with fetch_order = position. Its data
    windows must be partitioned by the (host, bucket)/(bucket) cells —
    the hot host's backlog must never be sorted in one task."""
    f = _frontier(spark, 3000, 6, 0.5)
    _assert_matches_unfused(f)

    fused = budget_and_order(f, 80)
    fused.collect()
    plan = plan_of(fused)
    for line in plan.splitlines():
        if "row_number" in line and "windowspecdefinition" in line.lower():
            assert "_b" in line, f"data window not bucket-partitioned: {line}"
    _unpersist(fused)


def test_attachments_join_is_hash_join_not_nested_loop(spark):
    """J4 child-table equi-join must compile to a hash join (broadcast or
    shuffled) — a nested-loop/cartesian product would be quadratic."""
    df = entry_mod.queries()["q_attachments_join"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert "HashJoin" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, f"{bad} in attachments-join plan"


def test_html_parse_is_arrow_and_prunes_scan(spark):
    """The HTML parse stage must be one Arrow hop (never row Python), and
    the documents scan must read only the columns the page synth uses."""
    df = entry_mod.queries()["q_html_parse"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, "row-at-a-time Python in parse path"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text", "source", "n_chars"}, cols


def test_topk_queries_use_distributed_topk(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject
    (per-partition top-k merged on the driver) — never a global sort."""
    for q in ("q_cosine_topk", "q_ivf_ann"):
        df = entry_mod.queries()[q](spark, SF_DIR)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan, f"{q}: {plan[:800]}"
