"""Round-8 additions: token-budget temperature mixture
(d21_token_budget_mix), deterministic epoch shuffle (d22_epoch_shuffle)
and integer-weighted keyword retrieval (t_keyword_topk). Value
exactness vs DuckDB is the oracle gate's job (all three ship full SQL
oracles); these tests pin the semantic invariants a hash can't explain
and the de-skewed plan shapes the 100 TB story depends on."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from risk_dashboard_database_spark.plans.dedup import (
    SHUFFLE_SHARDS,
    d21_token_budget_mix,
    d22_epoch_shuffle,
)
from risk_dashboard_database_spark.plans.textstats import (
    KEYWORD_TERMS,
    KEYWORD_TOPK,
    t_keyword_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_token_budget_mix_fills_quotas_greedily(spark):
    rows = d21_token_budget_mix(spark, SF_DIR).collect()
    assert rows, "token mixture must be non-empty"
    by_lang = {}
    for r in rows:
        assert r["cum_prev"] < r["quota"]
        by_lang.setdefault(r["lang"], []).append(r)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus_tokens = {
        r["lang"]: r["t"]
        for r in docs.groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("t"))
        .collect()
    }
    for lang, lrows in by_lang.items():
        picked = sum(r["n_tokens"] for r in lrows)
        quota = lrows[0]["quota"]
        max_doc = max(r["n_tokens"] for r in lrows)
        # greedy fill: reaches the quota (unless the domain ran out of
        # tokens) and overshoots by at most the final document
        assert picked >= min(quota, corpus_tokens[lang])
        assert picked < quota + max_doc
    # temperature reshapes the TOKEN mixture: dominant domain's picked
    # share sits below its corpus token share, the rarest above
    total_corpus = sum(corpus_tokens.values())
    total_picked = sum(sum(r["n_tokens"] for r in v) for v in by_lang.values())
    dom = max(corpus_tokens, key=corpus_tokens.get)
    rare = min(corpus_tokens, key=corpus_tokens.get)
    assert (
        sum(r["n_tokens"] for r in by_lang[dom]) / total_picked
        < corpus_tokens[dom] / total_corpus
    )
    assert (
        sum(r["n_tokens"] for r in by_lang[rare]) / total_picked
        > corpus_tokens[rare] / total_corpus
    )


def test_token_budget_mix_plan_is_deskewed(spark):
    """Same contract as d18's r8 rank: the cumulative-token window
    partitions by (lang, bkt) and the dead-bucket broadcast join sits
    below it, so a Zipf-dominant domain never sorts in one task."""
    plan = _executed_plan(d21_token_budget_mix(spark, SF_DIR))
    lines = plan.splitlines()
    win = [
        i
        for i, ln in enumerate(lines)
        if re.search(r"windowspecdefinition\(lang#\d+, bkt#\d+,", ln)
    ]
    assert win, "de-skewed (lang,bkt) window missing"
    join = [i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln]
    assert join and join[0] > win[0], "bucket-prune join must feed the window"


def test_stratified_sample_plan_is_deskewed(spark):
    """d13 (re-planned late r8): same contract as d18/d21 — the rank
    window partitions by (lang, bkt) and the dead-bucket broadcast
    join sits below it, so no single-task domain sort remains anywhere
    in the curation family."""
    from risk_dashboard_database_spark.plans.dedup import d13_stratified_sample

    plan = _executed_plan(d13_stratified_sample(spark, SF_DIR))
    lines = plan.splitlines()
    win = [
        i
        for i, ln in enumerate(lines)
        if re.search(r"windowspecdefinition\(lang#\d+, bkt#\d+,", ln)
    ]
    assert win, "de-skewed (lang,bkt) window missing"
    join = [i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln]
    assert join and join[0] > win[0], "bucket-prune join must feed the window"


def test_epoch_shuffle_is_a_permutation_with_consistent_shards(spark):
    rows = d22_epoch_shuffle(spark, SF_DIR).collect()
    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n
    ranks = sorted(r["rk"] for r in rows)
    assert ranks == list(range(1, n + 1)), "rk must be a 1..N permutation"
    for r in rows:
        assert r["shard"] == (r["rk"] - 1) % SHUFFLE_SHARDS
        assert r["pos"] == (r["rk"] - 1) // SHUFFLE_SHARDS
    # round-robin sharding: shard sizes differ by at most one
    sizes = {}
    for r in rows:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # the order is a genuine shuffle, not doc_id order
    by_rank = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rk"])]
    assert by_rank != sorted(by_rank)


def test_epoch_shuffle_rank_window_is_bucketed_not_global(spark):
    """The global rank must come from the two-phase bucketed plan: the
    row_number window partitions by bkt (256-way), never an empty
    partition spec over the whole corpus."""
    plan = _executed_plan(d22_epoch_shuffle(spark, SF_DIR))
    specs = re.findall(
        r"row_number\(\) windowspecdefinition\(([^)]*?)\)", plan
    )
    assert specs, "rank window missing"
    assert all(re.match(r"bkt#\d+,", s) for s in specs), specs


def _trained_index_inputs(spark):
    """(ppb vectors recomputed from the raw embeddings, trained mean
    centroids, stored index rows) for hand-recomputation at sf0.001."""
    import math

    from risk_dashboard_database_spark.plans.dedup import (
        D49_PPB,
        _trained_assigned,
        _trained_centroids,
    )

    vecs = {
        r["vec_id"]: [math.floor(float(x) * float(D49_PPB)) for x in r["embedding"]]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }
    cb = {r["cid"]: r["ce"] for r in _trained_centroids(spark, SF_DIR).collect()}
    index = {r["vec_id"]: r for r in _trained_assigned(spark, SF_DIR).collect()}
    return vecs, cb, index


def _sub_dist(a, b, s):
    """Squared-L2 distance of subspace s, folded left from 0.0 in
    dimension order — the same IEEE sequence as _SQL2_SPARK_SQL."""
    from risk_dashboard_database_spark.plans.dedup import PQ_SUBDIM

    acc = 0.0
    for i in range((s - 1) * PQ_SUBDIM, s * PQ_SUBDIM):
        d = float(a[i]) - float(b[i])
        acc += d * d
    return acc


def test_pq_codes_are_true_subspace_argmins(spark):
    """d23: every code is a trained-codebook id and IS the argmin of
    the squared-L2 sub-distance to the trained mean centroids
    (hand-recomputed in Python for every vector at sf0.001, ties
    broken by min cid)."""
    from risk_dashboard_database_spark.plans.dedup import PQ_M, d23_pq_codes

    vecs, cb, _ = _trained_index_inputs(spark)
    rows = d23_pq_codes(spark, SF_DIR).collect()
    assert len(rows) == len(vecs)
    for r in rows:
        v = vecs[r["vec_id"]]
        for s in range(1, PQ_M + 1):
            want = min((_sub_dist(v, ce, s), cid) for cid, ce in cb.items())[1]
            assert r[f"code_{s}"] == want, (r["vec_id"], s)


def test_ivfpq_adc_is_sum_of_code_subdistances(spark):
    """d24: every hit stays in the probe's trained IVF cell and its adc
    equals the hand-computed sum of probe-to-assigned-centroid
    sub-distances (the asymmetric-distance definition), summed in
    subspace order — the same IEEE order as the Spark plan, so the
    doubles are equal, not merely close."""
    from risk_dashboard_database_spark.plans.dedup import (
        PQ_M,
        d23_pq_codes,
        d24_ann_ivfpq,
    )

    vecs, cb, index = _trained_index_inputs(spark)
    codes = {
        r["vec_id"]: [r[f"code_{s}"] for s in range(1, PQ_M + 1)]
        for r in d23_pq_codes(spark, SF_DIR).collect()
    }
    rows = d24_ann_ivfpq(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        qid, cid = r["query_id"], r["candidate_id"]
        assert r["cell"] == index[qid]["cell"] == index[cid]["cell"]
        adc = 0.0
        for s in range(1, PQ_M + 1):
            adc += _sub_dist(vecs[qid], cb[codes[cid][s - 1]], s)
        assert adc == r["adc"], (qid, cid)


def test_ann_recall_counts_true_intersections(spark):
    """d25: hits per probe == |pq top-3 ∩ exact in-cell top-3|,
    recomputed from the two parent queries directly."""
    from risk_dashboard_database_spark.plans.dedup import (
        d8_ann_ivf,
        d24_ann_ivfpq,
        d25_ann_recall,
    )

    pq = {}
    for r in d24_ann_ivfpq(spark, SF_DIR).collect():
        pq.setdefault(r["query_id"], set()).add(r["candidate_id"])
    exact = {}
    for r in d8_ann_ivf(spark, SF_DIR).collect():
        exact.setdefault(r["query_id"], set()).add(r["candidate_id"])
    rows = d25_ann_recall(spark, SF_DIR).collect()
    assert {r["query_id"] for r in rows} == set(pq)
    for r in rows:
        want = len(pq[r["query_id"]] & exact.get(r["query_id"], set()))
        assert r["hits"] == want
        assert r["k_returned"] == len(pq[r["query_id"]])
        assert 0 <= r["hits"] <= r["k_returned"] <= 3


def test_kmv_sketch_partitioning_invariant_and_sane(spark):
    """d26: the KMV estimate is a pure function of the data — identical
    to the bit under a different shuffle partitioning (the property
    HLL/approx_count_distinct does not have), k_kept == min(k, exact),
    and the estimate lands within a loose error band of exact."""
    import struct

    from risk_dashboard_database_spark.plans.dedup import (
        KMV_K,
        d26_kmv_distinct,
    )

    def snap():
        return sorted(
            (
                r["lang"],
                r["vocab_exact"],
                r["k_kept"],
                struct.pack("<d", r["vocab_est"]),
            )
            for r in d26_kmv_distinct(spark, SF_DIR).collect()
        )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    a = snap()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = snap()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b, "estimate must not depend on partitioning"
    for lang, exact, kept, est_bits in a:
        est = struct.unpack("<d", est_bits)[0]
        assert kept == min(KMV_K, exact)
        if kept < KMV_K:
            assert est == float(exact), "sub-k sketch IS the exact set"
        else:
            assert abs(est - exact) / exact < 0.5, (lang, est, exact)


def test_d3_kernel_matches_declarative_fold_bitwise(spark):
    """d3's r8 Arrow kernel vs the pre-r8 declarative zip_with/
    aggregate fold: every row identical INCLUDING the raw cosine
    bits — the dimension-at-a-time float64 accumulation is the same
    IEEE operation sequence as the left fold, which is the whole
    hash-match contract with the DuckDB oracle."""
    import struct

    from risk_dashboard_database_spark.plans.dedup import (
        _d3_fold_reference,
        d3_ann_topk,
    )

    def key(rows):
        return sorted(
            (
                r["query_id"],
                r["candidate_id"],
                r["label"],
                struct.pack("<d", r["cosine"]),
                r["rank"],
            )
            for r in rows
        )

    a = key(d3_ann_topk(spark, SF_DIR).collect())
    b = key(_d3_fold_reference(spark, SF_DIR).collect())
    assert a and a == b


def test_incremental_neardup_is_the_cross_split_slice_of_d2(spark):
    """d27's matches must be exactly d2's near-dup pairs that cross
    the base/incoming split (same banding, same Jaccard re-check) —
    the invariant tying the incremental operator to its parent, same
    stance as d19<->d7 and d20<->d15."""
    from risk_dashboard_database_spark.plans.dedup import (
        INC_BASE_LT,
        INC_MOD,
        d2_minhash_pairs,
        d27_incremental_neardup,
    )

    def is_base(i):
        return i % INC_MOD < INC_BASE_LT

    cross = {}
    for r in d2_minhash_pairs(spark, SF_DIR).collect():
        a, b = r["doc_a"], r["doc_b"]
        if is_base(a) != is_base(b):
            inc, base = (b, a) if is_base(a) else (a, b)
            cross.setdefault(inc, []).append(base)
    got = {r["doc_id"]: r for r in d27_incremental_neardup(spark, SF_DIR).collect()}
    assert set(got) == set(cross)
    for inc, bases in cross.items():
        assert got[inc]["n_base_matches"] == len(bases)
        assert got[inc]["first_match"] == min(bases)


def test_keyword_topk_scores_and_ranks(spark):
    rows = t_keyword_topk(spark, SF_DIR).collect()
    assert 0 < len(rows) <= KEYWORD_TOPK
    assert [r["rank"] for r in rows] == sorted(r["rank"] for r in rows)
    prev = None
    for r in rows:
        assert r["score"] > 0
        assert 1 <= r["n_terms"] <= len(KEYWORD_TERMS)
        if prev is not None:
            # descending score, doc_id tie-break
            assert (prev["score"], -prev["doc_id"]) >= (r["score"], -r["doc_id"])
        prev = r
    # rarer terms must weigh more: recompute one row's score by hand
    docs = {
        d["doc_id"]: d["text"]
        for d in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    n_docs = len(docs)
    df = {
        t: sum(1 for x in docs.values() if t in x.split(" "))
        for t in KEYWORD_TERMS
    }
    top = rows[0]
    toks = docs[top["doc_id"]].split(" ")
    want = sum(toks.count(t) * (n_docs // df[t]) for t in KEYWORD_TERMS)
    assert top["score"] == want


def test_d43_bucket_invariants(spark):
    from risk_dashboard_database_spark.plans.dedup import (
        d43_lm_quality_buckets,
    )

    rows = d43_lm_quality_buckets(spark, SF_DIR).collect()
    by_lang: dict[str, dict[str, dict]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_scored = docs.where(F.size(F.split("text", " ")) >= 2).count()
    scored_total = 0
    for lang, buckets in by_lang.items():
        # head/middle/tail are non-overlapping, strictly ordered score
        # ranges (ties land in one bucket, so boundaries never touch)
        for lo_b, hi_b in (("tail", "middle"), ("middle", "head")):
            if lo_b in buckets and hi_b in buckets:
                assert buckets[lo_b]["hi_score"] < buckets[hi_b]["lo_score"]
        for name, r in buckets.items():
            if name == "short":
                assert r["lo_score"] is None and r["total_bigrams"] == 0
                continue
            scored_total += r["n_docs"]
            assert 0 <= r["lo_score"] <= r["hi_score"] <= 1_000_000
            # integer mean of >=1 ppm probabilities is >= 0
            assert r["n_docs"] >= 1 and r["total_bigrams"] >= r["n_docs"]
    assert scored_total == n_scored
    # the tertile split is balanced up to ties: no scored bucket may
    # hold more than 2/3 of its language unless ties force it
    for lang, buckets in by_lang.items():
        n = sum(r["n_docs"] for b, r in buckets.items() if b != "short")
        if n >= 9 and len([b for b in buckets if b != "short"]) == 3:
            assert buckets["tail"]["n_docs"] >= 1
            assert buckets["head"]["n_docs"] >= 1


def test_d44_semantic_prune_invariants(spark):
    from risk_dashboard_database_spark.plans.dedup import d44_semantic_prune

    rows = d44_semantic_prune(spark, SF_DIR).collect()
    assert rows
    total = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert sum(r["n_vecs"] for r in rows) == total
    for r in rows:
        assert r["n_kept"] + r["n_pruned"] == r["n_vecs"]
        # the lowest-id vector of a cell has no lower-id dominator,
        # so every cell keeps at least one representative
        assert r["n_kept"] >= 1
        assert 0 <= r["kept_ppm"] <= 1_000_000
        assert r["kept_ppm"] == r["n_kept"] * 1_000_000 // r["n_vecs"]


def test_d45_dup_weighted_sample_invariants(spark):
    from risk_dashboard_database_spark.plans.dedup import (
        d45_dup_weighted_sample,
    )

    rows = d45_dup_weighted_sample(spark, SF_DIR).collect()
    assert rows
    total = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == total
    for r in rows:
        assert r["keep_ppm_target"] == 1_000_000 // r["csize"]
        assert 0 <= r["n_kept"] <= r["n_docs"]
        # singletons always survive: threshold 1e6 > any md5 ppm coin
        if r["csize"] == 1:
            assert r["n_kept"] == r["n_docs"]


def test_d46_sentence_dedup_matches_brute_force(spark):
    from risk_dashboard_database_spark.plans.dedup import (
        D46_POS_SCALE,
        d46_sentence_dedup,
    )

    got = {
        r["doc_id"]: (r["n_sentences"], r["n_dup_instances"], r["dup_share_ppm"])
        for r in d46_sentence_dedup(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    # plain-Python recomputation of the corpus-wide first-instance-wins
    # policy: an instance is a dup iff a lexicographically-earlier
    # (doc_id, pos) instance of the same normalized sentence exists
    insts = []
    for r in docs:
        ss = [s.strip().lower() for s in re.split(r"[.!?]+", r["text"] or "")]
        ss = [s for s in ss if s]
        for pos, s in enumerate(ss, start=1):
            insts.append((r["doc_id"], pos, s))
    first = {}
    for doc_id, pos, s in insts:
        k = doc_id * D46_POS_SCALE + pos
        if s not in first or k < first[s]:
            first[s] = k
    want = {r["doc_id"]: [0, 0, 0] for r in docs}
    for doc_id, pos, s in insts:
        want[doc_id][0] += 1
        if doc_id * D46_POS_SCALE + pos != first[s]:
            want[doc_id][1] += 1
    for doc_id, w in want.items():
        w[2] = w[1] * 1_000_000 // w[0] if w[0] else 0
    assert got == {d: tuple(w) for d, w in want.items()}


def test_d46_sentence_dedup_planted_duplicates(spark, tmp_path):
    # sf0.001's synthetic corpus has no repeated sentences, so the dup
    # branch needs a planted corpus with hand-computed expectations
    from risk_dashboard_database_spark.plans.dedup import d46_sentence_dedup

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
                "text": [
                    "Alpha beta. Gamma delta! Alpha beta?",
                    "alpha BETA. unique one here.",
                    "Gamma delta.",
                    "",
                    "..!?",
                ],
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    got = {
        r["doc_id"]: (r["n_sentences"], r["n_dup_instances"], r["dup_share_ppm"])
        for r in d46_sentence_dedup(spark, str(tmp_path)).collect()
    }
    assert got == {
        # doc 1: "alpha beta" first at (1,1), dup at (1,3); "gamma
        # delta" first at (1,2) -> 1 dup of 3
        1: (3, 1, 333_333),
        # doc 2: "alpha beta" already seen (case-folded) -> 1 dup of 2
        2: (2, 1, 500_000),
        # doc 3: "gamma delta" seen at (1,2) -> all dup
        3: (1, 1, 1_000_000),
        # empty / punctuation-only docs take the zero branch
        4: (0, 0, 0),
        5: (0, 0, 0),
    }


def test_d47_semantic_decontam_matches_brute_force_within_cell(spark):
    from risk_dashboard_database_spark.plans.dedup import (
        D47_COS_MIN,
        D47_EVAL_MOD,
        _ivf_assigned,
        d47_semantic_decontam,
    )

    got = {
        r["train_id"]: (r["matched_eval"], r["max_cosine"], r["cell"])
        for r in d47_semantic_decontam(spark, SF_DIR).collect()
    }
    # plain-Python recomputation of the cell-local contract over the
    # stored assignment (500 vectors at this SF)
    asg = _ivf_assigned(spark, SF_DIR).select(
        "vec_id", "embedding", "cell"
    ).collect()

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) * float(x) for x in a) ** 0.5
        nb = sum(float(y) * float(y) for y in b) ** 0.5
        return dot / (na * nb)

    evs = [r for r in asg if r["vec_id"] % D47_EVAL_MOD == 0]
    want = {}
    for t in asg:
        if t["vec_id"] % D47_EVAL_MOD == 0:
            continue
        best = None
        for e in evs:
            if e["cell"] != t["cell"]:
                continue
            c = cos(t["embedding"], e["embedding"])
            if c < D47_COS_MIN:
                continue
            # tie-break: cosine desc, eval_id asc
            if best is None or c > best[1] or (c == best[1] and e["vec_id"] < best[0]):
                best = (e["vec_id"], c)
        if best is not None:
            want[t["vec_id"]] = best
    assert set(got) == set(want)
    for tid, (eid, c) in want.items():
        geid, gc, gcell = got[tid]
        assert geid == eid
        assert abs(gc - c) < 1e-9  # python fsum-free fold vs Spark fold
    # every flagged row clears the threshold and eval/train sides are
    # disjoint by construction
    for tid, (eid, c, _cell) in got.items():
        assert tid % D47_EVAL_MOD != 0
        assert eid % D47_EVAL_MOD == 0
        assert c >= D47_COS_MIN


def test_d48_retention_curve_is_monotone_and_ties_to_d2(spark):
    from risk_dashboard_database_spark.plans.dedup import (
        D48_THRESHOLDS_PPM,
        JACCARD_THRESHOLD,
        d2_minhash_pairs,
        d48_retention_curve,
    )

    curve = {
        r["threshold_ppm"]: (r["n_pairs"], r["n_docs"])
        for r in d48_retention_curve(spark, SF_DIR).collect()
    }
    pairs = d2_minhash_pairs(spark, SF_DIR).select(
        "doc_a", "doc_b", "jaccard"
    ).collect()
    # the base threshold row IS the d2 relation: the curve audits what
    # production dedup would do, not a separate candidate pass
    base = min(D48_THRESHOLDS_PPM)
    assert base == int(JACCARD_THRESHOLD * 1_000_000)
    if pairs:
        docs = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
        assert curve[base] == (len(pairs), len(docs))
    # monotone non-increasing in the threshold (absent rows = zero)
    prev = None
    for t in sorted(curve):
        np_, nd = curve[t]
        if prev is not None:
            assert np_ <= prev[0] and nd <= prev[1]
        prev = (np_, nd)
    # each threshold row recomputable from the pair relation directly
    for t_ppm, (np_, nd) in curve.items():
        sel = [r for r in pairs if r["jaccard"] >= t_ppm / 1_000_000.0]
        assert np_ == len(sel)
        assert nd == len({r["doc_a"] for r in sel} | {r["doc_b"] for r in sel})


def test_d49_kmeans_codebook_matches_python_lloyd(spark):
    import math

    from risk_dashboard_database_spark.plans.dedup import (
        D49_PPB,
        D49_SEED_K,
        d49_kmeans_codebook,
    )

    got = {
        r["cid"]: (r["n_members"], r["coord_sum"])
        for r in d49_kmeans_codebook(spark, SF_DIR).collect()
    }
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {
        r["vec_id"]: [math.floor(float(x) * D49_PPB) for x in r["embedding"]]
        for r in emb
    }

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(float(x) * float(x) for x in a))
            * math.sqrt(sum(float(y) * float(y) for y in b))
        )

    def assign(codebook):
        out = {}
        for vid, v in vecs.items():
            best = max(codebook.items(), key=lambda kv: (cos(v, kv[1]), -kv[0]))
            out[vid] = best[0]
        return out

    # fixed-count deterministic seed: md5-of-decimal-string rank + LIMIT
    # (the r9 bounded-codebook contract)
    import hashlib

    seed_ids = sorted(
        vecs, key=lambda vid: (hashlib.md5(str(vid).encode()).hexdigest(), vid)
    )[:D49_SEED_K]
    gen0 = {vid: vecs[vid] for vid in seed_ids}
    a1 = assign(gen0)
    gen1 = {}
    for vid, cell in a1.items():
        acc = gen1.setdefault(cell, [0] * len(vecs[vid]))
        for i, x in enumerate(vecs[vid]):
            acc[i] += x
    a2 = assign(gen1)
    want = {}
    for cell, c in gen1.items():
        n = sum(1 for v in a2.values() if v == cell)
        if n:
            want[cell] = (n, sum(c))
    assert got == want
    # the assignment is a partition of the corpus
    assert sum(n for n, _ in got.values()) == len(vecs)


def test_t_ttr_matches_python_counts(spark):
    from collections import Counter

    from risk_dashboard_database_spark.plans.textstats import t_ttr

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_types"], r["n_hapax"],
            r["ttr_ppm"], r["hapax_ppm"],
        )
        for r in t_ttr(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    for r in docs:
        ts = [t for t in (r["text"] or "").split(" ") if t]
        c = Counter(ts)
        n, ty, hp = len(ts), len(c), sum(1 for v in c.values() if v == 1)
        assert got[r["doc_id"]] == (
            n, ty, hp,
            ty * 1_000_000 // max(n, 1),
            hp * 1_000_000 // max(n, 1),
        )


def test_t_tfidf_matches_python_recomputation(spark):
    from collections import Counter

    from risk_dashboard_database_spark.plans.textstats import t_tfidf

    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["docfreq"], r["score"])
        for r in t_tfidf(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    tf = {
        r["doc_id"]: Counter(t for t in (r["text"] or "").split(" ") if t)
        for r in docs
    }
    df = Counter()
    for c in tf.values():
        df.update(c.keys())
    n_docs = len(docs)
    want = {}
    for doc_id, c in tf.items():
        scored = sorted(
            ((t, f, df[t], f * (n_docs - df[t])) for t, f in c.items()),
            key=lambda x: (-x[3], x[0]),
        )
        for rank, (t, f, d, s) in enumerate(scored[:3], start=1):
            want[(doc_id, rank)] = (t, f, d, s)
    assert got == want


def test_d50_dup_centrality_matches_python_pagerank(spark):
    from risk_dashboard_database_spark.plans.dedup import (
        D50_BASE_PPM,
        D50_DAMP_PPM,
        D50_R0_PPM,
        d2_minhash_pairs,
        d50_dup_centrality,
    )

    got = {
        r["doc_id"]: (r["degree"], r["rank_ppm"])
        for r in d50_dup_centrality(spark, SF_DIR).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in d2_minhash_pairs(spark, SF_DIR).select("doc_a", "doc_b").collect()
    ]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    rank = {v: D50_R0_PPM for v in adj}
    for _ in range(2):
        incoming = {v: 0 for v in adj}
        for v, ns in adj.items():
            share = rank[v] // len(ns)
            for u in ns:
                incoming[u] += share
        rank = {
            v: D50_BASE_PPM + (D50_DAMP_PPM * incoming[v]) // D50_R0_PPM
            for v in adj
        }
    want = {v: (len(ns), rank[v]) for v, ns in adj.items()}
    assert got == want
    # rank mass is conserved up to integer-truncation loss: each round
    # can only LOSE ppm to div, never create it
    assert all(
        D50_BASE_PPM <= r <= D50_R0_PPM for _, r in want.values()
    )


def test_m4_payload_dedup_invariants(spark):
    from risk_dashboard_database_spark.plans.multimodal import m4_payload_dedup

    rows = m4_payload_dedup(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    # payload groups partition the corpus; savings follow the formula
    assert sum(r["n_copies"] for r in rows) == docs
    for r in rows:
        assert r["bytes_saved"] == (r["n_copies"] - 1) * r["payload_bytes"]


def test_d50_vertex_set_is_exactly_the_d2_pair_universe(spark):
    # the d19<->d7 / d20<->d15 discipline: a derived graph operator is
    # pinned to its parent relation — d50 scores every doc that appears
    # in >=1 near-dup pair and nothing else, and its degree column IS
    # the pair-incidence count
    from collections import Counter

    from risk_dashboard_database_spark.plans.dedup import (
        d2_minhash_pairs,
        d50_dup_centrality,
    )

    got = {
        r["doc_id"]: r["degree"]
        for r in d50_dup_centrality(spark, SF_DIR).collect()
    }
    pairs = d2_minhash_pairs(spark, SF_DIR).select("doc_a", "doc_b").collect()
    deg = Counter()
    for r in pairs:
        deg[r["doc_a"]] += 1
        deg[r["doc_b"]] += 1
    assert got == dict(deg)


def test_d51_funnel_ties_to_d17_survivors(spark):
    # the funnel's last stage IS d17's survivor set, and the stages
    # are monotone non-increasing in both docs and tokens
    from risk_dashboard_database_spark.plans.dedup import (
        d17_pretrain_build,
        d51_curation_funnel,
    )

    funnel = {
        r["stage_idx"]: (r["stage"], r["n_docs"], r["n_tokens"])
        for r in d51_curation_funnel(spark, SF_DIR).collect()
    }
    assert [funnel[i][0] for i in range(4)] == [
        "corpus", "near_dup", "quality", "decontam",
    ]
    for i in range(1, 4):
        assert funnel[i][1] <= funnel[i - 1][1]
        assert funnel[i][2] <= funnel[i - 1][2]
    built = d17_pretrain_build(spark, SF_DIR).collect()
    assert funnel[3][1] == len(built)
    assert funnel[3][2] == sum(r["n_tokens"] for r in built)
    # the corpus stage is the pipeline's INPUT: benchmark docs
    # (doc_id % 97 == 0) leave the corpus in d15's join, per d17
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        "doc_id % 97 <> 0"
    ).count()
    assert funnel[0][1] == docs


def test_d52_hist_ties_to_d9_and_d10(spark):
    # histogram rows re-derivable from the d9 cluster table, and the
    # total redundant count IS the keep-one-per-cluster drop count
    from collections import Counter

    from risk_dashboard_database_spark.plans.dedup import (
        d9_dedup_clusters,
        d52_cluster_size_hist,
    )

    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"], r["n_redundant"])
        for r in d52_cluster_size_hist(spark, SF_DIR).collect()
    }
    rows = d9_dedup_clusters(spark, SF_DIR).collect()
    by_size_docs = Counter(r["cluster_size"] for r in rows)
    by_size_clusters = {}
    for r in rows:
        by_size_clusters.setdefault(r["cluster_size"], set()).add(r["cluster_id"])
    want = {
        s: (len(by_size_clusters[s]), n, n - len(by_size_clusters[s]))
        for s, n in by_size_docs.items()
    }
    assert got == want
    total_redundant = sum(v[2] for v in got.values())
    assert total_redundant == sum(1 for r in rows if not r["is_canonical"])


def test_d25_trained_default_equals_d25b(spark):
    """d25_ann_recall and d25b_ann_recall_trained are one builder
    registered under two names with one oracle string; both names must
    answer the same rows, one per bounded probe."""
    from risk_dashboard_database_spark.plans import ORACLES, QUERIES
    from risk_dashboard_database_spark.plans.dedup import IVF_PROBES

    assert ORACLES["d25_ann_recall"] == ORACLES["d25b_ann_recall_trained"]
    base = {
        r["query_id"]: (r["k_returned"], r["hits"])
        for r in QUERIES["d25_ann_recall"](spark, SF_DIR).collect()
    }
    twin = {
        r["query_id"]: (r["k_returned"], r["hits"])
        for r in QUERIES["d25b_ann_recall_trained"](spark, SF_DIR).collect()
    }
    assert base == twin
    assert len(base) == IVF_PROBES
    for k, hits in base.values():
        assert 1 <= k <= 3 and 0 <= hits <= k


def test_trained_assigned_is_a_corpus_partition(spark):
    """Every vector gets exactly one trained cell and PQ_M codes, and
    every cell/code is a codebook member."""
    from risk_dashboard_database_spark.plans.dedup import (
        PQ_M,
        _d49_codebook,
        _trained_assigned,
    )

    cb_ids = {
        r["cid"] for r in _d49_codebook(spark, SF_DIR).select("cid").collect()
    }
    rows = _trained_assigned(spark, SF_DIR).collect()
    n_vecs = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    )
    assert len(rows) == n_vecs
    for r in rows:
        assert r["cell"] in cb_ids
        for s in range(1, PQ_M + 1):
            assert r[f"code_{s}"] in cb_ids


def test_ivf_search_top3_structural_laws(spark):
    """d8 (nprobe=1) and d14 (nprobe=2) over the trained index: at
    most IVF_PROBES probes, dense ranks from 1, no probe returned as
    its own neighbor, and every hit inside a cell the probe searched.
    Checks structural laws only (values are the oracle's job)."""
    from risk_dashboard_database_spark.plans.dedup import (
        IVF_PROBES,
        _trained_assigned,
        d8_ann_ivf,
        d14_ann_ivf_nprobe2,
    )

    cells = {
        r["vec_id"]: r["cell"]
        for r in _trained_assigned(spark, SF_DIR).select("vec_id", "cell").collect()
    }
    for fn, nprobe_cells in ((d8_ann_ivf, 1), (d14_ann_ivf_nprobe2, 2)):
        rows = fn(spark, SF_DIR).collect()
        assert rows, fn.__name__
        by_probe: dict[int, list] = {}
        for r in rows:
            by_probe.setdefault(r["query_id"], []).append(r)
        assert len(by_probe) <= IVF_PROBES
        for qid, rs in by_probe.items():
            # top-3 per probe, ranks dense from 1
            assert len(rs) <= 3
            ranks = sorted(r["rank"] for r in rs)
            assert ranks == list(range(1, len(rs) + 1))
            assert all(r["candidate_id"] != qid for r in rs)
            assert all(r["cell"] == cells[r["candidate_id"]] for r in rs)
            assert len({r["cell"] for r in rs}) <= nprobe_cells
            if nprobe_cells == 1:
                assert all(r["cell"] == cells[qid] for r in rs)
