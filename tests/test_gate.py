"""The oracle gate in tier-1.

Every queries() entry of __spark_entry__ runs once over the sf0.001
testdata. Its rows must match its oracle_sql() on DuckDB, compared by
scripts/check_oracle.oracle_diff (the comparison `make gate` runs at
larger scale factors). Its initial physical plan must hold exactly the
operators that tests/plan_budgets.json budgets for it. entry() runs once
too: its report conforms, its triples match the kg_triples_full oracle,
and its Spark job count is budgeted in the same file.

Budget rule: a budget is what the code plans today, per operator. A change
that plans fewer operators lowers the budget in the same change; one that
plans more raises it and says why in CHANGES.md.

The named cases after the gate assert the plan properties that operator
counts alone do not show: scan pushdown and pruning, which joins broadcast,
no Python in the mention stage, map-side argmax, bounded emit inflation.
"""

import json
import os
import re
import sys
from collections import Counter

import pytest

from conftest import SF
from test_pipeline import _jobs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import __spark_entry__ as entry  # noqa: E402
from check_oracle import oracle_connection, oracle_diff, oracle_result  # noqa: E402

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason=f"the gate's testdata {SF} is absent (TESTDATA.md)"
)

#: the operators a plan budget counts: shuffles, broadcasts, the sort-based
#: join and aggregate, cartesian products and scans of cached frames
BUDGET_OPS = (
    "Exchange", "BroadcastExchange", "SortMergeJoin", "SortAggregate",
    "CartesianProduct", "InMemoryRelation",
)
BUDGETS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_budgets.json")

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()

# a node of a plan tree: the root, or a line's tree drawing ending in "+- "
# or ":- " (string literals in the plan may hold raw line breaks, so a bare
# line start is not a node), an optional codegen stage id, the operator name
_NODE = re.compile(r"(?:\A|^[ :]*[+:]- )(?:\*\(\d+\) )?(\w+)", re.M)


def initial_plan(df) -> str:
    """The tree of `df`'s physical plan as planned before its action (AQE
    re-plans stages while they run), with the plans of the cached frames it
    scans."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_operators(df) -> Counter:
    """Operator name -> count over `df`'s initial physical plan."""
    return Counter(_NODE.findall(initial_plan(df)))


def budget_counts(df) -> dict[str, int]:
    ops = plan_operators(df)
    return {op: ops[op] for op in BUDGET_OPS}


def drop_cached_inputs(spark) -> None:
    """Forget every cached frame, the entry module's shared inputs too: a
    frame cached by an earlier query would change a later one's plan and
    job count."""
    entry._INPUT_CACHE.clear()
    spark.catalog.clearCache()


def _budget_diff(planned: dict, budget: dict) -> list[str]:
    return [
        f"{op}: budget {budget.get(op)}, counted {planned.get(op)}"
        for op in sorted(set(planned) | set(budget))
        if planned.get(op) != budget.get(op)
    ]


with open(BUDGETS_PATH) as f:
    BUDGETS = json.load(f)


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF)
    yield con
    con.close()


@pytest.fixture(autouse=True)
def _uncached(spark):
    drop_cached_inputs(spark)
    yield
    drop_cached_inputs(spark)


def _oracle_diff(df, sql, duck) -> list[str]:
    rows = [tuple(r) for r in df.collect()]
    return oracle_diff(df.columns, rows, *oracle_result(duck, sql))


def test_budgets_cover_every_query():
    assert set(BUDGETS) == set(QUERIES) | {"entry"}


@pytest.mark.parametrize("name", list(QUERIES))
def test_query(spark, duck, name):
    df = QUERIES[name](spark, SF)
    planned = budget_counts(df)
    errs = _oracle_diff(df, ORACLES[name], duck) + _budget_diff(planned, BUDGETS[name])
    assert not errs, f"{name}: " + "; ".join(errs)


def test_entry(spark, duck):
    # entry() asserts that its SHACL report conforms
    triples, jobs = _jobs(spark, "gate-entry", lambda: entry.entry(spark))
    errs = _oracle_diff(triples.select("s", "p", "o", "o_kind"), ORACLES["kg_triples_full"], duck)
    errs += _budget_diff({"jobs": len(jobs)}, BUDGETS["entry"])
    assert not errs, "; ".join(errs)


# ---------------------------------------------------------------------------
# plan properties, each over the frame a gate query builds
# ---------------------------------------------------------------------------

def test_tpch_q6_scan_pushes_filters_and_prunes_columns(spark):
    plan = initial_plan(QUERIES["tpch_q6"](spark, SF))
    assert re.search(r"PushedFilters: \[IsNotNull\(l_shipdate\).*GreaterThanOrEqual\(l_ship", plan), plan
    read = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert sorted(c.split(":")[0] for c in read.split(",")) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate",
    ], plan


def test_kg_mentions_lexicon_join_broadcasts_without_python(spark):
    plan = initial_plan(QUERIES["kg_mentions"](spark, SF))
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    python = [op for op in _NODE.findall(plan) if re.search("Python|Pandas|Arrow", op)]
    assert not python, plan


def test_shacl_class_closure_broadcasts(spark):
    ops = plan_operators(QUERIES["shacl_class"](spark, SF))
    assert ops["BroadcastHashJoin"] >= 1 and not ops["CartesianProduct"], ops


def _kg_triples_full_frames(spark):
    """kg_triples_full's link and emit frames, built as the query builds
    them."""
    from shacl_js_spark.pipeline.emit import emit_triples
    from shacl_js_spark.pipeline.link import link_entities

    links = link_entities(spark, entry._mentions(spark, SF))
    return links, emit_triples(spark, entry._docs(spark, SF), links)


def test_kg_triples_full_canonical_map_broadcasts(spark):
    # canonicalization rewrites subjects and objects through broadcast
    # joins with the entity-universe map
    from shacl_js_spark.pipeline.canonicalize import canonicalize_triples
    from shacl_js_spark.pipeline.emit import EX

    _, raw = _kg_triples_full_frames(spark)
    mapping = entry.connected_components(spark, entry.alias_edges(spark))
    canon = canonicalize_triples(spark, raw, mapping, EX + "entity/")
    added = plan_operators(canon) - plan_operators(raw)
    assert added["BroadcastHashJoin"] >= 2, added


def test_kg_triples_full_link_argmax_is_map_side(spark):
    # no Window sort and no shuffle of the corpus-sized mentions frame
    # anywhere upstream: the link plan's only exchanges are broadcasts
    links, _ = _kg_triples_full_frames(spark)
    ops = plan_operators(links)
    assert not ops["Window"] and not ops["Exchange"] and ops["BroadcastExchange"], ops


def test_kg_triples_full_emit_inflation_bounded(spark):
    # emit dedups its narrow frames per branch: the union's row count stays
    # within 1.2x of the distinct triples, so canonicalize's wide dedup does
    # not absorb branch inflation
    _, raw = _kg_triples_full_frames(spark)
    n_raw, n_distinct = raw.count(), raw.dropDuplicates(["s", "p", "o"]).count()
    assert n_raw <= 1.2 * n_distinct, (n_raw, n_distinct)


def test_ann_ivf_assign_is_map_side(spark):
    # the K-centroid argmax neither window-sorts nor shuffles the vectors;
    # the packed centroids are broadcast
    ops = plan_operators(QUERIES["ann_ivf_assign"](spark, SF))
    assert not ops["Window"] and ops["BroadcastExchange"], ops


def test_cur_stratified_sample_is_map_only(spark):
    ops = plan_operators(QUERIES["cur_stratified_sample"](spark, SF))
    assert not ops["Exchange"] and not ops["BroadcastExchange"], ops


def test_cur_quality_filter_thresholds_broadcast(spark):
    # the 100 TB twin of cur_quality_filter's exact-rank filter over the
    # same documents: approximate per-language thresholds, broadcast, no sort
    from shacl_js_spark.ops.curation import quality_threshold_filter

    ops = plan_operators(quality_threshold_filter(spark.read.parquet(f"{SF}/documents.parquet")))
    assert ops["BroadcastExchange"] and not ops["Window"], ops
