"""Engine-wide physical-plan invariants over the ENTIRE registry:
no query may regress onto Spark's slow paths.

- ``BatchEvalPython`` (row-at-a-time Python UDF) must never appear —
  Python is allowed only behind Arrow (MapInPandas / ArrowEvalPython).
- ``CartesianProduct`` (non-broadcast cross join) must never appear.
- ``BroadcastNestedLoopJoin`` is allowed only for the queries that
  deliberately cross-join a broadcast-tiny side (ANN probe sets and
  centroids, per-language resample rates, a one-row corpus count);
  anything new that triggers one must be added here consciously.

Plans are built (not executed), so this sweeps all ~60 queries in
seconds and fails the moment an operator change flips a join
strategy or smuggles in a slow UDF.
"""

from __future__ import annotations

import pytest

from projet_etl_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMALL

# queries whose plan intentionally cross-joins a broadcast-tiny side
BNLJ_ALLOWED = {
    "ann-cosine-topk",
    "ann-ivf-topk",
    # the recall audits nest the allowlisted parents' plans verbatim
    "ann-ivf-recall",
    "ann-quantized-recall",
    "dedup-lsh-recall",
    # nests the exact-cosine audit block (bounded AUDIT_BLOCK cross)
    "embedding-lsh-recall",
    # the deployment-threshold twin: same bounded audit-block cross
    # over the planted corpus (r12)
    "embedding-lsh-recall-hi",
    # same audit block again, wide-geometry banded path (r13)
    "embedding-lsh-recall-hi-wide",
    # IVF medoid-table broadcast cross (the multi-probe shard
    # assignment); the recall twin nests it plus the audit block
    "dedup-embedding-lsh-hi-sharded",
    "embedding-shard-recall",
    "ann-quantized-topk",
    # the streaming-index twin serves through the same probe/re-rank
    # stage (centroid-table broadcast cross)
    "ann-ivf-store",
    "dedup-embedding-cosine",
    # the 1-row corpus-size aggregate broadcast into the shingle
    # document-frequency cap (dedup.df_capped_shingles); the
    # clusters/canonical twins hide the same subtree behind the
    # persisted candidate cache
    "dedup-minhash-lsh",
    # inherits the minhash candidate subtree (df-cap corpus-size
    # 1-row broadcast) verbatim
    "dedup-edit-distance",
    "resample-by-lang",
    "tfidf-top-terms",
    # 1-row broadcast cross joins: corpus token total (OOV floor),
    # min/max day bounds, decile boundary array
    "text-unigram-logprob",
    "events-gap-fill",
    # type-list x dense-day-spine cross (both bounded: |types| build
    # side, calendar-span probe) before the zero-fill left join
    "events-autocorr",
    "customer-spend-deciles",
    # three 1-row quintile-boundary broadcasts + the 1-row count
    # inside each boundary computation (the deciles pattern, x3)
    "customer-rfm-segments",
    # 1-row broadcast of the exact decimal grand total
    "revenue-share-by-nation",
    # 1-row broadcast of the corpus size (PSI smoothing denominators)
    "docs-length-drift",
    # 1-row broadcast of the revenue grand total (percent-of-total)
    "parts-pareto",
    # 1-row broadcast of the deduplicated-char grand total (ppm
    # shares in the domain mixing-budget table)
    "corpus-domain-budget",
    # 1-row broadcast of the corpus event total (φ threshold)
    "events-heavy-hitters",
    # 1-row broadcast of the centroid model (per-iteration plan reuse)
    "kmeans-clusters",
    # benchmark-sized eval embedding block broadcast (paraphrase probe)
    "decontaminate-embedding",
    # 1-row broadcast of the corpus stats (N, sum_dl -> avgdl)
    "bm25-topk",
    # same scoring subtree served from the postings store
    "bm25-store",
    # same again, over the token-bucketed compacted layout
    "bm25-store-compacted",
    # 1-row broadcast of the max supplier revenue (ties kept)
    "top-supplier-revenue",
    # event-type-count broadcast cross (pair enumeration)
    "distinct-kmv-intersect",
    # 1-row broadcast of the positive-balance average
    "cold-customers-segments",
    # inherits the minhash pair subtree (df-cap 1-row broadcast)
    "split-leakage-audit",
    # inherits the minhash candidate subtree (df-cap corpus-size
    # 1-row broadcast) plus the expand-density 1-row audit cross
    "dedup-threshold-sweep",
    # day-grain pairwise-slope inequality join (calendar-span bounded
    # build side) + the 1-row median broadcast
    "orders-theilsen-trend",
    # two 1-row broadcasts (corpus total, no-upsampling budget MIN)
    "corpus-mixture-weights",
}


# per-query ceiling on BroadcastNestedLoopJoin build-side rows — the
# structural teeth behind the allowlist: "broadcast-tiny" is asserted
# against executed-plan metrics, so a silently grown build side fails
# here instead of hiding behind the name. Bounds encode the design
# contract (1-row aggregates, constant probe/centroid sets, the
# 4096-vector exact-audit block), not the fixture size.
BNLJ_BUILD_ROW_BOUND = {
    "ann-cosine-topk": 64,
    "ann-ivf-topk": 64,
    "ann-ivf-store": 64,
    "ann-quantized-topk": 64,
    "ann-ivf-recall": 64,
    "ann-quantized-recall": 64,
    "dedup-embedding-cosine": 4096,
    "embedding-lsh-recall": 4096,  # the nested exact-audit block
    "embedding-lsh-recall-hi": 4096,  # same block, planted corpus (r12)
    "embedding-lsh-recall-hi-wide": 4096,  # same block, wide bands (r13)
    "dedup-embedding-lsh-hi-sharded": 64,  # the medoid centroid table
    "embedding-shard-recall": 4096,  # audit block + the medoid table
    "decontaminate-embedding": 64,  # the EVAL_VECS eval block
    "distinct-kmv-intersect": 64,  # the event-type list (pair cross)
    "events-autocorr": 4096,  # the dense day spine (calendar-span bounded)
    "orders-theilsen-trend": 4096,  # day-grain points (calendar-span bounded)
}
BNLJ_DEFAULT_BOUND = 1  # everything else broadcasts a 1-row aggregate


def _iter_physical_nodes(node):
    """Walk an executed plan including AQE stage bodies (QueryStageExec
    children() is empty — the subtree hangs off .plan())."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls.endswith("QueryStageExec"):
        yield from _iter_physical_nodes(node.plan())
    if cls == "AdaptiveSparkPlanExec":
        yield from _iter_physical_nodes(node.executedPlan())
    kids = node.children()
    for i in range(kids.size()):
        yield from _iter_physical_nodes(kids.apply(i))


def _bnlj_build_rows(df) -> list[int]:
    """Execute df and return numOutputRows of every BNLJ build side."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    out = []
    for n in _iter_physical_nodes(plan):
        if n.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec":
            idx = 0 if "Left" in n.buildSide().toString() else 1
            for b in _iter_physical_nodes(n.children().apply(idx)):
                if b.getClass().getSimpleName() == "BroadcastExchangeExec":
                    out.append(int(b.metrics().apply("numOutputRows").value()))
                    break
    return out


@pytest.mark.parametrize("name", sorted(BNLJ_ALLOWED))
def test_bnlj_build_side_is_tiny(spark, name):
    bound = BNLJ_BUILD_ROW_BOUND.get(name, BNLJ_DEFAULT_BOUND)
    rows = _bnlj_build_rows(REGISTRY[name].fn(spark, SF_SMALL))
    for r in rows:
        assert r <= bound, (
            f"[{name}] BroadcastNestedLoopJoin build side grew to {r} rows "
            f"(bound {bound}) — the allowlist only covers broadcast-tiny sides"
        )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_slow_paths(spark, name):
    plan = (
        REGISTRY[name]
        .fn(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan, f"[{name}] row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"[{name}] non-broadcast cross join"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"[{name}] unexpected nested-loop join — broadcast-tiny cross "
            "joins must be allowlisted deliberately"
        )


# --- Exchange SinglePartition guard (r10, verdict item 3) ---------------
#
# The one slow-path class the BatchEvalPython/Cartesian/BNLJ net could
# not see: a plan that gathers a corpus-derived, unbounded-cardinality
# frame onto ONE partition to sort or window it (the shape behind the
# three global-rank plans fixed this round — row_number() over
# Window.orderBy(...) with no partitionBy). Detection walks the
# physical tree for ShuffleExchangeExec nodes with SinglePartition
# output partitioning whose effective parent (skipping codegen/AQE
# wrappers) is NOT an Aggregate — the partial->final merge of a grand
# aggregate legitimately funnels |partitions| pre-aggregated rows to
# one task and is bounded by construction; anything else (Sort,
# Window, Limit feeding ranks) must be allowlisted below with the
# grain that bounds it, and the bound is asserted against the
# EXECUTED plan's shuffle-write row metric, exactly like
# BNLJ_BUILD_ROW_BOUND.
#
# The three r9-weak queries (vocab-top100, bigrams-top50,
# token-zipf-fit) are deliberately NOT here: their rewritten plans
# must stay structurally clean (TakeOrderedAndProject / two-pass
# distributed rank).

# query -> (executed row bound on the single-partition frame, grain)
SP_GATHER_ALLOWED = {
    # distinct-metric grain (<= customer grain), reduced to 4/9-value
    # boundary arrays immediately; the approx_percentile twin is the
    # documented extreme-cardinality swap (q_customer_spend_deciles_-
    # approx, tests/test_round6_ops.py)
    "customer-spend-deciles": (65536, "distinct-spend grain"),
    "customer-rfm-segments": (65536, "distinct r/f/m metric grain"),
    # the similarity-threshold band table: <= 1 + 1/BAND_STEP rows
    "dedup-threshold-sweep": (16, "band table"),
    # calendar spines: one row per month/day with data, bounded by
    # the corpus time span, not its volume
    "orders-monthly-growth": (4096, "month spine"),
    "users-cumulative": (65536, "day spine (first-seen days)"),
    # the BPE learner's word-count table: one row per distinct alpha
    # word type (Heaps' law: ~square root of the corpus), gathered
    # into the single task that runs every merge round
    "bpe-learn-merges": (65536, "word vocabulary"),
}

_SP_WRAPPERS = (
    "WholeStageCodegenExec",
    "InputAdapter",
    "AQEShuffleReadExec",
    "AdaptiveSparkPlanExec",
)


def _sp_exchange_rows(node):
    m = node.metrics()
    for key in ("numOutputRows", "shuffleRecordsWritten",
                "shuffle records written"):
        if m.contains(key):
            return int(m.apply(key).value())
    return -1


def _sp_gathers(node, eff_parent="ROOT", out=None):
    """(effective parent class, executed rows) of every SinglePartition
    shuffle in the tree; rows is -1 when the plan has not executed."""
    if out is None:
        out = []
    cls = node.getClass().getSimpleName()
    if (
        cls == "ShuffleExchangeExec"
        and node.outputPartitioning().toString() == "SinglePartition"
    ):
        out.append((eff_parent, _sp_exchange_rows(node)))
    nxt = (
        eff_parent
        if (
            cls in _SP_WRAPPERS
            or cls.endswith("QueryStageExec")
            or cls == "ReusedExchangeExec"
        )
        else cls
    )
    if cls.endswith("QueryStageExec"):
        _sp_gathers(node.plan(), nxt, out)
    if cls == "AdaptiveSparkPlanExec":
        _sp_gathers(node.executedPlan(), nxt, out)
    kids = node.children()
    for i in range(kids.size()):
        _sp_gathers(kids.apply(i), nxt, out)
    return out


@pytest.mark.parametrize("name", sorted(set(REGISTRY) - set(SP_GATHER_ALLOWED)))
def test_no_single_partition_gather(spark, name):
    """Structural sweep (plans built, not executed): no query may
    funnel a non-grand-aggregate frame through one partition unless
    allowlisted with a documented bounded grain (an allowlisted query
    is checked by test_sp_gather_frame_is_bounded instead)."""
    df = REGISTRY[name].fn(spark, SF_SMALL)
    bad = [
        p
        for p, _ in _sp_gathers(df._jdf.queryExecution().executedPlan())
        if "Aggregate" not in p
    ]
    assert not bad, (
        f"[{name}] Exchange SinglePartition feeding {bad} — a one-"
        "partition gather of a non-grand-aggregate frame; either make "
        "the plan scale-safe (TakeOrderedAndProject / two-pass "
        "distributed rank / coalesced bounded spine) or allowlist it "
        "with its bounding grain"
    )


@pytest.mark.parametrize("name", sorted(SP_GATHER_ALLOWED))
def test_sp_gather_frame_is_bounded(spark, name):
    """Executed-plan teeth for the allowlist: the gathered frame's
    actual row count stays under the documented bound."""
    bound, grain = SP_GATHER_ALLOWED[name]
    df = REGISTRY[name].fn(spark, SF_SMALL)
    df.collect()
    gathers = _sp_gathers(df._jdf.queryExecution().executedPlan())
    rows = [r for p, r in gathers if "Aggregate" not in p and r >= 0]
    assert rows, f"[{name}] allowlisted but no single-partition gather ran"
    for r in rows:
        assert r <= bound, (
            f"[{name}] single-partition {grain} frame grew to {r} rows "
            f"(bound {bound})"
        )


# --- distinct-count bound rule -------------------------------------------
#
# A distinct count grouped by store or supplier is size(collect_set)
# (functions/aggs.distinct_count): partial set, ONE hash exchange on
# the group key, final set — no Expand, no (group, value) shuffle. A
# distinct count whose one group can hold a data-sized set (a grand
# aggregate, a month's stores) keeps Catalyst's distinct rewrite.
# Checked on the built (not executed) plan, which AQE has not pruned.

# query -> number of per-store/per-supplier aggregates in its plan
PER_STORE_AGGREGATES = {
    "top-magasins": 1,
    "top-magasins-cat": 1,
    # the composites: one aggregate carries both stages' measures
    "top-1": 1,
    "avg-prod-per-fab": 1,
    "avg-cat-fab-10-mag": 1,
    "avg-cat-fab-10-mag-avg": 1,
    "score-sante-touts-les-mois": 1,
    "score-sante-touts-les-mois-avg": 1,
    "top-magasins-rollup": 1,
}
CATALYST_DISTINCT = ("mag-cat", "fab-cat", "nb-mag-cat-date", "nb-mag-cat-date-rollup")


def _aggregate_exprs(node):
    if not node.getClass().getSimpleName().endswith("AggregateExec"):
        return []
    exprs = node.aggregateExpressions()
    return [exprs.apply(i) for i in range(exprs.size())]


def _below(node):
    """The first child of ``node`` that is not a codegen/AQE wrapper."""
    node = node.children().apply(0)
    while node.getClass().getSimpleName() in _SP_WRAPPERS:
        node = node.children().apply(0)
    return node


@pytest.mark.parametrize("name", sorted(PER_STORE_AGGREGATES))
def test_per_store_distinct_is_one_exchange(spark, name):
    plan = REGISTRY[name].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan()
    nodes = list(_iter_physical_nodes(plan))
    assert not [n for n in nodes if n.getClass().getSimpleName() == "ExpandExec"], (
        f"[{name}] Expand in the plan"
    )
    exprs = [e for n in nodes for e in _aggregate_exprs(n)]
    assert not [e for e in exprs if e.isDistinct()], f"[{name}] COUNT(DISTINCT) left"
    finals = [
        n
        for n in nodes
        if any(
            e.mode().toString() == "Final"
            and e.aggregateFunction().prettyName() == "collect_set"
            for e in _aggregate_exprs(n)
        )
    ]
    assert len(finals) == PER_STORE_AGGREGATES[name], name
    for final in finals:
        exchange = _below(final)
        assert exchange.getClass().getSimpleName() == "ShuffleExchangeExec", name
        assert exchange.outputPartitioning().toString().startswith("hashpartitioning")
        partial = _below(exchange)
        assert [e.mode().toString() for e in _aggregate_exprs(partial)][:1] == ["Partial"], (
            f"[{name}] more than one exchange under a per-store aggregate"
        )


@pytest.mark.parametrize("name", CATALYST_DISTINCT)
def test_wide_group_distinct_keeps_catalyst_rewrite(spark, name):
    plan = REGISTRY[name].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan()
    exprs = [e for n in _iter_physical_nodes(plan) for e in _aggregate_exprs(n)]
    assert [e for e in exprs if e.isDistinct()], f"[{name}] no COUNT(DISTINCT) planned"
    assert not [e for e in exprs if e.aggregateFunction().prettyName() == "collect_set"]


# --- composites and month series ------------------------------------------

COMPOSITES = (
    "top-1",
    "avg-cat-fab-10-mag",
    "avg-cat-fab-10-mag-avg",
    "score-sante-touts-les-mois",
    "score-sante-touts-les-mois-avg",
)
MONTH_SERIES = (
    "nb-mag-cat-date",
    "nb-mag-cat-date-rollup",
    "score-evolution",
    "score-evolution-rollup",
)


@pytest.mark.parametrize("name", COMPOSITES)
def test_composite_scans_the_view_once(spark, name):
    """Both stages of a composite come from one scan of
    points_de_vente: stage 2 is read from the top-10 rows, not from a
    second aggregate over a second scan."""
    plan = REGISTRY[name].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan()
    scans = [
        n
        for n in _iter_physical_nodes(plan)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    assert len(scans) == 1, f"[{name}] {len(scans)} parquet scans"
    # the scan string abbreviates its location, so read the root paths
    roots = scans[0].relation().location().rootPaths().toString()
    assert "points_de_vente" in roots, (name, roots)


@pytest.mark.parametrize("name", MONTH_SERIES)
def test_month_series_sorts_in_place(spark, name):
    """A month-grained result is coalesced to one partition before
    its orderBy, so the sort plans no range exchange (and runs no
    sampling job)."""
    plan = REGISTRY[name].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan()
    ranged = [
        n
        for n in _iter_physical_nodes(plan)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        and n.outputPartitioning().toString().startswith("rangepartitioning")
    ]
    assert not ranged, f"[{name}] range exchange under the sort"
