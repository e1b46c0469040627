"""Round-13: the j12 skew-guard memo (VERDICT r12 #1 — make the guard
free on repeat executions) and the call-time pair-cap env read
(ADVICE r12 #3)."""

from __future__ import annotations

import os
import shutil

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _clean_memo():
    from risk_dashboard_database_spark.plans import joins

    joins._J12_GUARD_MEMO.clear()
    yield
    joins._J12_GUARD_MEMO.clear()


def test_j12_guard_memoized_pass_runs_no_second_job(spark, monkeypatch):
    """Second execution over the SAME feed signature must not touch
    Spark at all: after the first pass is memoized, _j12_pair_bounds is
    replaced with a bomb and the guard must still return cleanly."""
    from risk_dashboard_database_spark.plans import joins

    from risk_dashboard_database_spark.tables import table_probe

    path = f"{SF_DIR}/events.parquet"
    ev = spark.read.parquet(path)
    purchases, signups = joins._j12_sides(ev)
    key = (path, table_probe(path).sig)
    joins._j12_skew_guard(purchases, signups, cap=10_000_000, memo_key=key)
    assert joins._J12_GUARD_MEMO[path] == ((key[1], 10_000_000), None)

    def _bomb(*_a, **_k):  # pragma: no cover - must never run
        raise AssertionError("guard re-ran a Spark job on a memo hit")

    monkeypatch.setattr(joins, "_j12_pair_bounds", _bomb)
    joins._j12_skew_guard(purchases, signups, cap=10_000_000, memo_key=key)


def test_j12_guard_refusal_is_memoized_and_still_refuses(spark, monkeypatch):
    """A hot feed's refusal is cached too: the second call raises the
    SAME message without re-running the bound job."""
    from risk_dashboard_database_spark.plans import joins
    from tests.test_r12_ops import _hot_events

    ev = _hot_events(spark, 60, 60)
    purchases, signups = joins._j12_sides(ev)
    key = ("synthetic-hot-feed", ())
    with pytest.raises(ValueError, match=r"user 7: 60x60=3600"):
        joins._j12_skew_guard(purchases, signups, cap=1000, memo_key=key)
    assert isinstance(joins._J12_GUARD_MEMO["synthetic-hot-feed"][1], str)

    def _bomb(*_a, **_k):  # pragma: no cover
        raise AssertionError("refusal memo hit re-ran the bound job")

    monkeypatch.setattr(joins, "_j12_pair_bounds", _bomb)
    with pytest.raises(ValueError, match=r"user 7: 60x60=3600"):
        joins._j12_skew_guard(purchases, signups, cap=1000, memo_key=key)


def test_j12_feed_signature_changes_on_rewrite_in_place(tmp_path, monkeypatch):
    """Rewrite-in-place (same path, new bytes) must re-arm the guard:
    the events probe's stat signature covers every file's size and
    mtime_ns, so copying a different parquet over the same name changes
    the key."""
    from risk_dashboard_database_spark.plans import joins
    from risk_dashboard_database_spark.tables import table_probe

    sf = tmp_path / "sf"
    sf.mkdir()
    dst = sf / "events.parquet"
    shutil.copyfile(f"{SF_DIR}/events.parquet", dst)
    sig1 = table_probe(str(dst)).sig
    # Same content, bumped mtime: a rewrite-in-place is indistinguishable
    # from this at the filesystem-metadata level, and must re-check.
    st = os.stat(dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    sig2 = table_probe(str(dst)).sig
    assert sig1 != sig2
    # And the cap is part of the key: overriding SPARK_GRAFT_J12_PAIR_CAP
    # never serves a verdict computed under a different bound.
    joins._J12_GUARD_MEMO[str(dst)] = ((sig2, 1000), None)

    def _bomb(*_a, **_k):
        raise AssertionError("guard re-ran the bound job")

    monkeypatch.setattr(joins, "_j12_pair_bounds", _bomb)
    with pytest.raises(AssertionError, match="re-ran the bound job"):
        joins._j12_skew_guard(None, None, cap=2000, memo_key=(str(dst), sig2))


def test_j12_pair_cap_reads_env_at_call_time(monkeypatch):
    """ADVICE r12: SPARK_GRAFT_J12_PAIR_CAP set AFTER module import
    must take effect — the cap is read per call, not at import."""
    from risk_dashboard_database_spark.plans import joins

    monkeypatch.delenv("SPARK_GRAFT_J12_PAIR_CAP", raising=False)
    assert joins._j12_pair_cap() == joins.J12_DEFAULT_PAIR_CAP
    monkeypatch.setenv("SPARK_GRAFT_J12_PAIR_CAP", "42")
    assert joins._j12_pair_cap() == 42


def test_j12_query_end_to_end_still_guarded(spark):
    """The registered query still refuses a hot feed when the cap is
    forced low via the env override (read at call time), and runs
    normally at the default cap — memoization must not weaken the
    guard's semantics, only its repeat cost."""
    from risk_dashboard_database_spark.plans import joins

    old = os.environ.get("SPARK_GRAFT_J12_PAIR_CAP")
    try:
        os.environ["SPARK_GRAFT_J12_PAIR_CAP"] = "1"
        with pytest.raises(ValueError, match="refusing the interval join"):
            joins.j12_purchase_attribution(spark, SF_DIR).count()
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_J12_PAIR_CAP", None)
        else:
            os.environ["SPARK_GRAFT_J12_PAIR_CAP"] = old
    joins._J12_GUARD_MEMO.clear()
    assert joins.j12_purchase_attribution(spark, SF_DIR).count() > 0


# ---------------------------------------------------------------------
# r13 additions: plain-Python brute-force parity at sf0.001
# (t_fertility / d70_length_bucket_batches / d71_eval_diversity_sample)


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()


def _bpe_tokens(text: str) -> int:
    import re

    return len(re.findall(r"[a-z]+|[0-9]+|[^a-z0-9 ]", text))


def test_t_fertility_matches_python_bruteforce(spark):
    from collections import defaultdict

    from risk_dashboard_database_spark.plans.textstats import t_fertility

    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, toks, chars
    for r in _docs(spark):
        a = agg[r["lang"]]
        a[0] += 1
        a[1] += len(r["text"].split(" "))
        a[2] += _bpe_tokens(r["text"])
        a[3] += len(r["text"])
    want = {
        lang: (d, w, t, round(t / w, 6), round(c / t, 6))
        for lang, (d, w, t, c) in agg.items()
    }
    got = {
        r["lang"]: (
            r["n_docs"],
            r["total_words"],
            r["total_tokens"],
            r["fertility"],
            r["chars_per_token"],
        )
        for r in t_fertility(spark, SF_DIR).collect()
    }
    assert got == want


def test_d70_length_buckets_match_python_bruteforce(spark):
    from collections import defaultdict

    from risk_dashboard_database_spark.plans.dedup import (
        D70_BATCH_SIZE,
        d70_length_bucket_batches,
    )

    def bucket(toks: int) -> int:
        for b in (32, 64, 128, 256, 512, 1024, 2048, 4096):
            if toks <= b:
                return b
        return ((toks + 4095) // 4096) * 4096

    agg = defaultdict(lambda: [0, 0])  # n_docs, real_tokens
    for r in _docs(spark):
        t = _bpe_tokens(r["text"])
        a = agg[bucket(t)]
        a[0] += 1
        a[1] += t
    want = {}
    for b, (n, real) in agg.items():
        padded = n * b
        want[b] = (
            n,
            (n + D70_BATCH_SIZE - 1) // D70_BATCH_SIZE,
            real,
            padded,
            (padded - real) * 1_000_000 // padded,
        )
    got = {
        r["bucket_len"]: (
            r["n_docs"],
            r["n_batches"],
            r["real_tokens"],
            r["padded_tokens"],
            r["waste_ppm"],
        )
        for r in d70_length_bucket_batches(spark, SF_DIR).collect()
    }
    assert got == want


def test_d71_diversity_sample_matches_python_bruteforce(spark):
    import hashlib
    from collections import defaultdict

    from risk_dashboard_database_spark.plans.dedup import (
        D71_BITS,
        D71_TOPK,
        d71_eval_diversity_sample,
    )

    def bit(tok: str, j: int) -> int:
        h = hashlib.md5(tok.encode()).hexdigest()
        return (int(h[j // 4], 16) >> (j % 4)) & 1

    groups = defaultdict(lambda: [0, None])  # size, min doc_id
    for r in _docs(spark):
        toks = set(r["text"].split(" "))
        acc = 0
        for j in range(D71_BITS):
            s = sum(2 * bit(t, j) - 1 for t in toks)
            acc = acc * 2 + (1 if s >= 0 else 0)
        g = groups[(r["lang"], acc)]
        g[0] += 1
        g[1] = r["doc_id"] if g[1] is None else min(g[1], r["doc_id"])
    want = sorted(
        ((lang, b, size, rep) for (lang, b), (size, rep) in groups.items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:D71_TOPK]
    got = [
        (r["lang"], r["bucket"], r["bucket_size"], r["rep_doc_id"])
        for r in d71_eval_diversity_sample(spark, SF_DIR)
        .orderBy(
            ["bucket_size", "lang", "bucket"], ascending=[False, True, True]
        )
        .collect()
    ]
    assert got == want


def test_d72_bloom_decontam_matches_python_bruteforce(spark):
    """The full d72 card recomputed in plain Python: same md5-fold bit
    positions, same M/k filter, same exact flag — bloom verdicts match
    including (at an honest M) the absence of false positives."""
    import hashlib

    from risk_dashboard_database_spark.plans.dedup import (
        D72_K,
        D72_M,
        _DECON_N,
        d72_bloom_decontam,
    )

    def grams(text: str) -> list[str]:
        w = text.split(" ")
        if len(w) < _DECON_N:
            return []
        return [
            " ".join(w[i : i + _DECON_N])
            for i in range(len(w) - _DECON_N + 1)
        ]

    def pos(g: str, i: int) -> int:
        # Kirsch-Mitzenmacher: one md5 per gram, position i derived
        # arithmetically (h1 = hex chars 1-8, h2 = chars 9-16 * 2 + 1)
        h = hashlib.md5(g.encode()).hexdigest()
        return (int(h[:8], 16) + i * (2 * int(h[8:16], 16) + 1)) % D72_M

    docs = _docs(spark)
    bench = set()
    for r in docs:
        if r["doc_id"] % 97 == 0:
            bench.update(grams(r["text"]))
    bits = {pos(g, i) for g in bench for i in range(D72_K)}
    want = {}
    for r in docs:
        if r["doc_id"] % 97 == 0:
            continue
        gs = grams(r["text"])
        bloom = int(
            any(all(pos(g, i) in bits for i in range(D72_K)) for g in gs)
        )
        exact = int(any(g in bench for g in gs))
        want[(r["doc_id"], r["lang"])] = (bloom, exact, bloom - exact)
    got = {
        (r["doc_id"], r["lang"]): (
            r["bloom_contaminated"],
            r["contaminated"],
            r["false_positive"],
        )
        for r in d72_bloom_decontam(spark, SF_DIR).collect()
    }
    assert got == want and any(v[1] == 1 for v in want.values())


def test_s5_variant_matches_python_bruteforce(spark):
    """The VARIANT card recomputed with Python's json module: build
    the same payload (truncated for event_id % 13, json-null score
    for % 7), parse, and extract the same typed paths."""
    import json

    from risk_dashboard_database_spark.plans.sources_q import (
        s5_props_variant,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "user_id"
    )
    want = {}
    for r in ev.collect():
        eid = r["event_id"]
        score = "null" if eid % 7 == 0 else str(eid % 5)
        j = (
            f'{{"id": {eid}, "meta": {{"type": "{r["event_type"]}", '
            f'"vals": [{r["user_id"]}, {eid % 100}]}}, "score": {score}}}'
        )
        if eid % 13 == 0:
            j = j[:-1]
        try:
            doc = json.loads(j)
            want[eid] = (
                1,
                doc["meta"]["type"],
                doc["meta"]["vals"][1],
                doc["score"],
                int(doc["score"] is None),
            )
        except json.JSONDecodeError:
            want[eid] = (0, None, None, None, None)
    got = {
        r["event_id"]: (
            r["parsed"],
            r["etype"],
            r["val1"],
            r["score"],
            r["score_is_null"],
        )
        for r in s5_props_variant(spark, SF_DIR).collect()
    }
    assert got == want
    assert any(v[0] == 0 for v in want.values())        # malformed leg hit
    assert any(v[4] == 1 for v in want.values() if v[0])  # json-null leg hit


def test_d73_hot_key_audit_matches_python_bruteforce(spark):
    from collections import Counter

    from risk_dashboard_database_spark.plans.dedup import (
        D73_TOPK,
        d73_hot_key_audit,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    counts = Counter(r["user_id"] for r in ev)
    total = sum(counts.values())
    head = sorted(counts.items(), key=lambda t: (-t[1], t[0]))[:D73_TOPK]
    want, cum = [], 0
    for rk, (uid, n) in enumerate(head, start=1):
        cum += n
        want.append(
            (
                rk,
                uid,
                n,
                len(counts),
                n * 1_000_000 // total,
                cum * 1_000_000 // total,
            )
        )
    got = [
        (
            r["rk"],
            r["user_id"],
            r["n"],
            r["n_keys"],
            r["share_ppm"],
            r["cum_share_ppm"],
        )
        for r in d73_hot_key_audit(spark, SF_DIR).orderBy("rk").collect()
    ]
    assert got == want


def test_w17_trailing_distinct_matches_python_bruteforce(spark):
    import datetime as dt
    from collections import defaultdict

    from risk_dashboard_database_spark.plans.windows import (
        W17_DAYS,
        w17_trailing_distinct,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    by_day = defaultdict(set)
    for r in ev:
        by_day[r["ts"].date()].add(r["user_id"])
    want = {}
    for d, users in by_day.items():
        for off in range(W17_DAYS):
            wend = d + dt.timedelta(days=off)
            want.setdefault(wend, set()).update(users)
    rows = {}
    for wend, wau in want.items():
        dau = len(by_day.get(wend, ()))
        rows[wend.isoformat()] = (
            dau,
            len(wau),
            dau * 1_000_000 // len(wau),
        )
    got = {
        r["day"]: (r["dau"], r["wau_7d"], r["stickiness_ppm"])
        for r in w17_trailing_distinct(spark, SF_DIR).collect()
    }
    assert got == rows
    # trailing-tail days exist: window-end days beyond the last event
    # day appear with dau 0
    assert any(v[0] == 0 for v in rows.values())


def test_m8_payload_byte_stats_matches_python_bruteforce(spark):
    from collections import Counter, defaultdict

    from risk_dashboard_database_spark.plans.multimodal import (
        M8_MIN_BYTES,
        M8_TOP_SHARE_PPM,
        m8_payload_byte_stats,
    )

    agg = defaultdict(lambda: [0, 0, 0, 0])  # n, bytes, distinct, suspect
    for r in _docs(spark):
        b = r["text"].encode()
        if b[:4] == b"key ":
            mt = "KEY0"
        elif len(b) % 3 == 0:
            mt = "IMG"
        elif len(b) % 3 == 1:
            mt = "AUD"
        else:
            mt = "VID"
        c = Counter(b)
        top = max(c.values(), default=0)
        a = agg[mt]
        a[0] += 1
        a[1] += len(b)
        a[2] += len(c)
        a[3] += int(
            len(b) >= M8_MIN_BYTES
            and top * 1_000_000 > M8_TOP_SHARE_PPM * len(b)
        )
    want = {
        mt: (n, tb, dist, sus, sus * 1_000_000 // n)
        for mt, (n, tb, dist, sus) in agg.items()
    }
    got = {
        r["media_type"]: (
            r["n_payloads"],
            r["total_bytes"],
            r["sum_distinct_bytes"],
            r["uniform_suspect"],
            r["uniform_suspect_ppm"],
        )
        for r in m8_payload_byte_stats(spark, SF_DIR).collect()
    }
    assert got == want and len(want) >= 3


def test_d74_source_drift_matches_python_bruteforce(spark):
    from collections import Counter

    from risk_dashboard_database_spark.plans.dedup import d74_source_drift

    def bucket(toks: int) -> int:
        for b in (32, 64, 128, 256, 512, 1024, 2048, 4096):
            if toks <= b:
                return b
        return ((toks + 4095) // 4096) * 4096

    docs = _docs(spark)
    dims = {
        "tvd_lang_ppm": lambda r: r["lang"],
        "tvd_len_ppm": lambda r: str(bucket(_bpe_tokens(r["text"]))),
    }
    want = {}
    for alias, keyfn in dims.items():
        sd = Counter((r["source"], keyfn(r)) for r in docs)
        st = Counter()
        cd = Counter()
        for (src, dim), n in sd.items():
            st[src] += n
            cd[dim] += n
        n_all = sum(sd.values())
        for src in st:
            tvd = 0
            for dim in cd:  # full grid incl. dims the source lacks
                p = sd.get((src, dim), 0) * 1_000_000 // st[src]
                q = cd[dim] * 1_000_000 // n_all
                tvd += abs(p - q)
            want.setdefault(src, {})[alias] = tvd // 2
        for src in st:
            want[src]["n_docs"] = st[src]
    got = {
        r["source"]: {
            "n_docs": r["n_docs"],
            "tvd_lang_ppm": r["tvd_lang_ppm"],
            "tvd_len_ppm": r["tvd_len_ppm"],
        }
        for r in d74_source_drift(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 1
