"""Physical-plan audit as a test (VERDICT r2 item #4): the invariants
PLANS.md documents in prose are asserted here over EVERY registered
query, so a new query (or a regression in an old one) that introduces
a cartesian product, an unintended nested-loop or sort-merge join, or
an exchange explosion fails CI instead of silently drifting.

Compiling a query may materialize its MV-store relations on first
touch (plans/relcache.py) — tiny at sf0.001 — after which every
consumer compiles to a plain parquet scan of the written MV, so the
counts below are deterministic in any test order and any session
(the r3 relcache plan-instability is structurally gone).
"""

from __future__ import annotations

import pytest

from risk_dashboard_database_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# Intentional BroadcastNestedLoopJoins: tiny broadcast fan-outs whose
# join condition is non-equi (or absent) BY DESIGN.
BNLJ_OK = {
    "d5_ann_lsh_bucket",  # bucket-equi but probe side broadcast w/ <> residual
    # (d8_ann_ivf left the list in r10: the trained default reads the
    # stored index MV and broadcasts its 40-probe set — the assignment
    # fan-out lives in the MV build, so the consumer plan is one
    # BroadcastHashJoin + one window exchange.)
    "d14_ann_ivf_nprobe2",  # probes x broadcast codebook fan-out (cell ranking)
    "o7_fuzzy_topk",    # broadcast candidate dim for the fuzzy scorer
    "e4_crisis_impact",  # 1-row window-end scalar crossJoin
    "e7_narrative_timeline",  # 1-row anchor-date scalar crossJoin
    "e8_crisis_patterns",  # 1-row anchor-date scalar crossJoin
    "e11_industry_durations",  # 1-row anchor-date scalar crossJoin
    "e12_narrative_tags",  # 1-row anchor-date scalar crossJoin
    "e13_feature_series",  # 1-row anchor-date scalar crossJoin
    "t_keyword_topk",   # 1-row docfreq/weight aggregate crossJoin
    "o8_keyset_pagination",  # 1-row cursor anchor (the seek-method
                             # after-cursor OR predicate against the
                             # broadcast page cursor — e4's class)
    "d35_oov_rate",     # 1-row vocab-array crossJoin (same anchor pattern)
    # (d36_hard_negatives left the list in r14: the probes x corpus
    # fan-out moved into the local-top-k mining kernel, so the plan is
    # Scan -> MapInPandas -> tiny window/agg — no BNLJ remains.)
    "d42_embed_recall",  # deliberate quadratic exact-audit pair join
                         # (d4's class: sample-scale ground truth)
    "d24_ann_ivfpq",    # probe x trained-codebook distance-table fan-out
                        # of _ivf_candidates' ADC score (IVF_PROBES x k
                        # rows, broadcast-sized by PQ's fixed codebook)
    "d25_ann_recall",   # the same ADC distance-table fan-out: d25 scores
                        # ADC and cosine over one _ivf_candidates join
    "d25b_ann_recall_trained",  # d25's builder under its second name
    "d49_kmeans_codebook",  # one Lloyd reassignment pass = one broadcast
                            # codebook fan-out (d8's layout, k rows;
                            # training lives in the d49_codebook MV)
    "t_tfidf",          # 1-row corpus-count scalar crossJoin (the
                        # t_keyword_topk anchor pattern)
    "d64_doremi_mix",   # 1-row corpus-mean/total-tokens anchor
                        # crossJoin (t_tfidf's pattern)
    "d73_hot_key_audit",  # 1-row total/cardinality anchor crossJoin
                          # (t_tfidf's pattern; the corpus-sized work
                          # is the single per-key count exchange)
    "d66_nprobe_sweep",  # the 3-row nprobe routing non-equi join over
                         # the kernel's bounded per-cell tops, and a
                         # 1-row true_k anchor crossJoin
    "w13_surge_shipments",  # 1-row day-count/total-orders anchor
                            # crossJoin for the integer surge
                            # threshold (t_tfidf's pattern)
    "e16_stock_series",  # 1-row snapshot-date anchor crossJoin
                         # (the latest<=target fallback, e4's class)
    "e17_trends_series",  # same 1-row snapshot-date anchor
}

# Intentional statically-planned SortMergeJoins: both sides large at
# scale, equi-keyed — the correct 100 TB plan (AQE flips them to
# broadcast at small SF at runtime). Empty since r10: d8's cell-local
# search join became a broadcast of the bounded probe set when the
# family's probes moved from a corpus fraction to md5-rank+LIMIT.
SMJ_OK: set[str] = set()

MAX_EXCHANGES = 3

# Audited exceptions to the default budget. These are multi-branch
# endpoint compositions: after a scan of the durable MV (narrative
# rows / anchored windows, materialized once per dataset), they fan
# into several side aggregates — episode/sector/tag-grain relations
# that are tiny at any SF — and join the results back. Each extra
# exchange moves a dim-sized relation, not the fact table; the pinned
# counts make drift loud.
EXCH_BUDGET = {
    # u3_evidence_union left the exception list in r6: its union/
    # dictionary stages moved into stored MVs, so the query compiles
    # to 1 exchange (the dedup agg) and sits under the default budget.
    "j4_entity_daily_metrics": 4,   # key-union + per-class re-aggregation
    "e3_storylines": 6,             # episode/durs/ent/samples/stats branches
    "e6_sector_baseline": 6,        # ent agg consumed by rank + summary branches;
                                    # identical subtrees dedup at runtime (ReuseExchange)
    "e8_crisis_patterns": 9,        # episode + durs/ent/stats/samples branches
    "e11_industry_durations": 6,    # episode + durs/ent/tagtot branches
    "d18_temperature_mix": 5,       # two-phase de-skewed rank: only the
                                    # (lang,bkt) count agg + (lang,bkt)
                                    # window move the big table; the other
                                    # exchanges shuffle the langs x 256
                                    # bucket frame (quota/offset windows)
    "d21_token_budget_mix": 5,      # same two-phase shape as d18 with
                                    # token sums instead of row counts
    "d26_kmv_distinct": 4,          # sketch branch (vocab distinct +
                                    # WindowGroupLimit rank) + the
                                    # self-report exact-count branch's
                                    # second vocab pass (by design: the
                                    # operator measures its own error)
    "d40_vocab_growth": 4,          # word-grain min-wave agg + vocab-sized
                                    # first-wave histogram + 10-row wave
                                    # stats agg + the 10-row cum window's
                                    # singleton exchange — only the first
                                    # two touch corpus/vocab-scale data,
                                    # both map-side combined
    "d74_source_drift": 9,          # every exchange moves the stored
                                    # (source, dname, dval, n) MV or a
                                    # grouping of it — sources x dims
                                    # dictionary rows; the corpus is
                                    # scanned ONLY in the once-per-
                                    # dataset MV build (consumer plan
                                    # verified: 0 corpus scans)
    "d72_bloom_decontam": 5,        # benchmark-gram distinct + position
                                    # distinct (both benchmark-sized) +
                                    # gram-grain hits agg + doc-grain
                                    # flag agg (both map-side combined)
                                    # + the stored-MV relation's scan
                                    # split; only the two aggs touch
                                    # corpus-scale rows
    "d43_lm_quality_buckets": 4,    # (lang,score) value-domain agg +
                                    # dictionary-sized lang CDF window +
                                    # 20-row final agg + scan-only short
                                    # branch agg; the corpus-scale
                                    # train+score pipeline lives in the
                                    # d43_doc_lm_score MV (build cost)
    "d54_anneal_mix": 4,            # (lang,score) value-domain agg +
                                    # dictionary-sized lang CDF window +
                                    # per-lang conditional agg + the
                                    # 2x|langs|-row phase-share window —
                                    # only the first touches the scored
                                    # MV, map-side combined (d43's class)
    "d60_dsir_select": 4,           # target-slice bigram agg + its
                                    # dictionary prefix agg + the
                                    # corpus-stream doc-grain fold +
                                    # the doc-keyed base-MV join; the
                                    # target LM broadcasts, the
                                    # selection is TakeOrdered (never
                                    # a global sort)
    "w16_retention_cohorts": 6,     # the act-cohort join is
                                    # deliberately UNHINTED (cohort is
                                    # user-grain — a hard broadcast
                                    # hint would force an over-limit
                                    # build at exactly the scale the
                                    # matrix is for, code-review r12
                                    # #3), so the static plan carries
                                    # both join-side exchanges; AQE
                                    # broadcast-switches at runtime
                                    # while cohort stats fit.
                                    # Corpus-keyed work stays the two
                                    # partial aggs; the rest is
                                    # user/weeks-grain.
    "d64_doremi_mix": 4,            # doc-grain MV+source join + source
                                    # agg move the corpus; the 1-row
                                    # anchor agg and the two whole-frame
                                    # renormalization windows shuffle
                                    # only source-domain rows (20 here,
                                    # hundreds at most in production)
    "d66_nprobe_sweep": 6,          # every exchange moves kernel-bounded
                                    # rows (<= (4 + maxnp*3) x probes per
                                    # Arrow batch): ground-truth top-3
                                    # window, per-(query,cell) top-3
                                    # window, swept top-3-of-union
                                    # window, per-(nprobe,query) agg,
                                    # 3-row final agg, 1-row anchor —
                                    # the corpus never shuffles (d3's
                                    # shard-local-top-k discipline)
    "u5_segment_set_ops": 6,        # four distinct-set aggs (purch/err
                                    # x two consumers before ReuseExchange
                                    # dedups at runtime) + the semi/anti
                                    # joins' broadcast builds — every
                                    # exchange moves a DISTINCT user-key
                                    # set, never the events table twice
    "w13_surge_shipments": 5,       # two day-grain pre-aggs (orders,
                                    # lineitem — the only corpus-keyed
                                    # exchanges, both map-side
                                    # combined), the 1-row anchor agg,
                                    # the day-domain islands window,
                                    # and the per-window final agg on
                                    # calendar-bounded rows
    "d39_split_gram_overlap": 4,    # gram-flag agg (map-side min/max),
                                    # per-(split,doc) hit agg, 2-row
                                    # split rollup, 2-row totals agg —
                                    # only the first is corpus-keyed;
                                    # eval grams never shuffle (flag
                                    # set broadcasts back, d30 pattern)
}


def _summaries():
    from risk_dashboard_database_spark.session import get_spark

    spark = get_spark(shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        from risk_dashboard_database_spark.planaudit import count_ops

        out[name] = count_ops(plan)
    return out


@pytest.fixture(scope="module")
def summaries():
    return _summaries()


def test_every_registered_query_compiles(summaries):
    assert set(summaries) == set(QUERIES)


def test_no_cartesian_products(summaries):
    bad = {n: c for n, c in summaries.items() if c["CartesianProduct"]}
    assert not bad, f"cartesian products crept in: {bad}"


def test_nested_loop_joins_only_where_intended(summaries):
    bad = {
        n: c["BroadcastNestedLoopJoin"]
        for n, c in summaries.items()
        if c["BroadcastNestedLoopJoin"] and n not in BNLJ_OK
    }
    assert not bad, f"unexpected BroadcastNestedLoopJoin: {bad}"


def test_sort_merge_joins_only_where_intended(summaries):
    bad = {
        n: c["SortMergeJoin"]
        for n, c in summaries.items()
        if c["SortMergeJoin"] and n not in SMJ_OK
    }
    assert not bad, f"unexpected static SortMergeJoin (broadcast the small side): {bad}"


def test_exchange_budget(summaries):
    bad = {
        n: c["Exchange"]
        for n, c in summaries.items()
        if c["Exchange"] > EXCH_BUDGET.get(n, MAX_EXCHANGES)
    }
    assert not bad, f"queries over their exchange budget: {bad}"


def test_pushdown_and_pruning_reach_the_scans():
    """PLANS.md promises that filters and column selection reach the
    parquet scans; pin it for representative queries so a refactor
    that breaks pushdown (e.g. wrapping a scan in an opaque UDF stage)
    fails CI, not just the bench. Checked on the executed plan string:
    - j1: the orders scan carries the date-range PushedFilters and the
      lineitem scan reads exactly its 3 needed columns;
    - u1: the enum isin predicate is pushed into the events scan;
    - t_ngram_docfreq: the docfreq branch scans only the gram column."""
    from risk_dashboard_database_spark.session import get_spark

    spark = get_spark(shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    def plan(name):
        return (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("j1_star_join")
    assert "GreaterThanOrEqual(o_orderdate" in p, "date lower bound not pushed"
    assert "LessThan(o_orderdate" in p, "date upper bound not pushed"
    li = [ln for ln in p.splitlines() if "FileScan" in ln and "l_orderkey" in ln]
    assert li and "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in li[0], (
        "lineitem scan must be pruned to its 3 needed columns"
    )

    p = plan("u1_entity_branches")
    assert "In(event_type" in p, "enum isin not pushed into the events scan"

    p = plan("t_ngram_docfreq")
    gram_scans = [
        ln for ln in p.splitlines()
        if "FileScan" in ln and "t_tri_grams" in ln and "ReadSchema: struct<gram:string>" in ln
    ]
    assert gram_scans, "docfreq branch must scan only the gram column"


def test_bounded_probe_sets_never_sort_globally():
    """The ANN family's md5-rank+LIMIT probe selection (the r9/r10
    bounded-probe contract) must compile to TakeOrderedAndProject —
    per-partition heads merged on the driver — never a global Sort of
    the corpus feeding a limit. Pinned on the executed plan so a
    refactor that breaks the limit pushdown fails CI."""
    from risk_dashboard_database_spark.session import get_spark

    spark = get_spark(shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    # (d3's bounded probe set is a LIMIT-pushed driver collect that
    # feeds its Arrow kernel — bounded at plan-build time and pinned
    # by its own test, so it has no TakeOrdered in the RESULT plan.)
    for name in (
        "d5_ann_lsh_bucket",
        "d8_ann_ivf",
        "d14_ann_ivf_nprobe2",
        "d24_ann_ivfpq",
        "d25_ann_recall",
        "d25b_ann_recall_trained",
    ):
        p = (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in p, f"{name}: probe LIMIT not pushed"
        # SortExec prints as "Sort [keys], true, 0" — the bare boolean
        # after the ordering IS the global flag (there is no
        # "global=true" token in executed-plan strings)
        globals_ = [
            ln
            for ln in p.splitlines()
            if "Sort [" in ln and "], true," in ln
        ]
        assert not globals_, f"{name}: global sort crept in: {globals_}"
