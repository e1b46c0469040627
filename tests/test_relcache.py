"""Durable MV store lifecycle: same (key, dataset content) builds and
writes once, every later call (any session) returns a plain scan of the
written files; different dataset content gets its own materialization;
plan shape of a consumer never depends on session cache state."""

from __future__ import annotations

import pytest

from risk_dashboard_database_spark.plans import relcache


@pytest.fixture()
def mv_root(tmp_path, monkeypatch):
    monkeypatch.setattr(relcache, "MV_ROOT", str(tmp_path / "mv"))
    relcache.clear()
    yield
    relcache.clear()


def test_build_once_then_scan(spark, tmp_path, mv_root):
    data_a = tmp_path / "dsA"
    data_b = tmp_path / "dsB"
    spark.range(3).toDF("id").write.parquet(str(data_a))
    spark.range(4).toDF("id").write.parquet(str(data_b))

    builds = []

    def builder(tag, src):
        def build():
            builds.append(tag)
            return spark.read.parquet(src)

        return build

    a1 = relcache.cached_relation("k", str(data_a), builder("A", str(data_a)))
    a2 = relcache.cached_relation("k", str(data_a), builder("A2", str(data_a)))
    assert builds == ["A"] and a1 is a2          # same dataset: one build
    assert a1.count() == 3

    # the returned relation is a durable scan, not an in-memory cache
    assert "InMemoryRelation" not in a1._jdf.queryExecution().toString()

    b = relcache.cached_relation("k", str(data_b), builder("B", str(data_b)))
    assert builds == ["A", "B"] and b.count() == 4

    # both datasets stay materialized side by side (content-addressed)
    relcache.clear()
    a3 = relcache.cached_relation(
        "k", str(data_a), builder("A-again", str(data_a))
    )
    assert builds == ["A", "B"]                  # no rebuild after clear()
    assert a3.count() == 3


def test_content_change_rebuilds(spark, tmp_path, mv_root):
    data = tmp_path / "ds"
    spark.range(3).toDF("id").write.mode("overwrite").parquet(str(data))
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(str(data))

    assert relcache.cached_relation("k", str(data), build).count() == 3
    spark.range(5).toDF("id").write.mode("overwrite").parquet(str(data))
    # NO clear(): the per-call stat revalidation must notice the
    # regenerated dataset by itself — a stale memo here would silently
    # serve results computed from the old data
    assert relcache.cached_relation("k", str(data), build).count() == 5
    assert len(builds) == 2


def test_fingerprint_sees_size_preserving_data_change(tmp_path):
    """A mid-file value change that keeps file SIZE identical must still
    change the fingerprint: the print hashes the whole parquet footer
    (row-group stats), not a fixed byte sample (ADVICE r4)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ds"
    d.mkdir()
    p = str(d / "t.parquet")

    def write(vals):
        # identical row count, schema, and encodings; plain encoding so
        # both files land on the same byte size
        pq.write_table(
            pa.table({"v": pa.array(vals, pa.int64())}),
            p,
            use_dictionary=False,
            compression="none",
        )

    write([1, 2, 3, 4, 5, 6, 7, 8])
    relcache._FP.clear()
    fp1 = relcache._fingerprint(str(d))
    size1 = (d / "t.parquet").stat().st_size

    write([1, 2, 3, 4, 5, 6, 7, 9])  # same size, one value differs
    relcache._FP.clear()
    fp2 = relcache._fingerprint(str(d))
    assert (d / "t.parquet").stat().st_size == size1  # test premise
    assert fp1 != fp2


def test_prune_keeps_newest_and_pruned_reader_fails_loudly(
    spark, tmp_path, mv_root
):
    """The per-relation store keeps only the newest KEEP_DATASETS
    fingerprints (VERDICT r5 #7): building a 5th dataset prunes the
    LRU one, and a reader still holding the pruned relation's handle
    fails LOUDLY on its next action — it must never silently return
    empty/junk rows from a half-deleted scan."""
    import os
    import time

    dirs = []
    for i in range(relcache.KEEP_DATASETS + 1):
        d = tmp_path / f"ds{i}"
        spark.range(10 + i).toDF("id").write.parquet(str(d))
        dirs.append(str(d))

    fps = []
    handles = []
    for i, d in enumerate(dirs):
        handles.append(
            relcache.cached_relation("k", d, lambda d=d: spark.read.parquet(d))
        )
        fp = relcache._fingerprint(d)
        fps.append(fp)
        # distinct publish mtimes so LRU order is deterministic even on
        # a coarse-mtime filesystem
        t = time.time() - (relcache.KEEP_DATASETS + 1 - i) * 10
        os.utime(os.path.join(relcache.MV_ROOT, "k", fp), (t, t))
        # simulate cross-process readers: the session handle cache must
        # not refresh recency for datasets no longer in service
        relcache.clear()

    key_dir = os.path.join(relcache.MV_ROOT, "k")
    kept = {e for e in os.listdir(key_dir) if ".tmp-" not in e}
    assert kept == set(fps[1:]), "oldest fingerprint must be pruned"
    assert len(kept) == relcache.KEEP_DATASETS

    # the pruned dataset's in-flight reader: loud failure, not junk
    with pytest.raises(Exception) as exc:
        handles[0].count()
    msg = str(exc.value)
    assert "ds0" in msg or "FileNotFound" in msg or "does not exist" in msg
    # survivors still read clean
    assert handles[-1].count() == 10 + relcache.KEEP_DATASETS


def test_publish_rename_eexist_reads_rival(spark, tmp_path, mv_root, monkeypatch):
    """A failed publish rename with EEXIST/ENOTEMPTY means a rival
    builder won: the loser must read the rival's complete output and
    clean its own temp — never rmtree the published path."""
    import errno
    import os

    data = tmp_path / "ds"
    spark.range(7).toDF("id").write.parquet(str(data))

    # rival publishes first (a normal build)
    first = relcache.cached_relation(
        "k", str(data), lambda: spark.read.parquet(str(data))
    )
    assert first.count() == 7
    fp = relcache._fingerprint(str(data))
    published = os.path.join(relcache.MV_ROOT, "k", fp)
    marker = os.path.join(published, "_SUCCESS")
    assert os.path.exists(marker)

    # second builder: same (key, fingerprint) but its rename collides
    relcache.clear()
    real_rename = os.rename
    calls = []

    def eexist_rename(src, dst):
        if dst == published:
            calls.append(src)
            raise OSError(errno.EEXIST, "File exists", src)
        return real_rename(src, dst)

    monkeypatch.setattr(relcache.os, "rename", eexist_rename)
    # force a rebuild attempt against the existing publish
    monkeypatch.setattr(
        relcache.os.path,
        "exists",
        lambda p, _real=os.path.exists: False if p == marker and not calls else _real(p),
    )
    again = relcache.cached_relation(
        "k", str(data), lambda: spark.read.parquet(str(data))
    )
    assert calls, "the colliding rename must have been attempted"
    assert again.count() == 7              # rival's output served
    assert os.path.exists(marker)          # rival's publish untouched
    leftovers = [d for d in os.listdir(os.path.dirname(published)) if ".tmp-" in d]
    assert not leftovers, "loser must clean its temp dir"


def test_recovery_moves_wreck_aside_and_restores_rival_publish(
    spark, tmp_path, mv_root, monkeypatch
):
    """ADVICE r6 TOCTOU: a builder that judged the published path junk
    (no _SUCCESS) must not destroy it in place — a rival may have
    completed a publish right after the check. The recovery renames
    the path aside, re-checks _SUCCESS on the frozen copy, and
    restores a complete publish instead of deleting it."""
    import os

    data = tmp_path / "ds3"
    spark.range(9).toDF("id").write.parquet(str(data))

    # rival's COMPLETE publish is already in place
    first = relcache.cached_relation(
        "k3", str(data), lambda: spark.read.parquet(str(data))
    )
    assert first.count() == 9
    fp = relcache._fingerprint(str(data))
    published = os.path.join(relcache.MV_ROOT, "k3", fp)
    marker = os.path.join(published, "_SUCCESS")
    assert os.path.exists(marker)

    # our builder saw "no _SUCCESS" twice (pre-build + post-collision):
    # the rival's publish "landed" just after each check
    relcache.clear()
    lies = {"left": 2}
    real_exists = os.path.exists

    def lying_exists(p):
        if p == marker and lies["left"] > 0:
            lies["left"] -= 1
            return False
        return real_exists(p)

    monkeypatch.setattr(relcache.os.path, "exists", lying_exists)
    again = relcache.cached_relation(
        "k3", str(data), lambda: spark.read.parquet(str(data))
    )
    assert lies["left"] == 0, "both stale checks must have fired"
    assert again.count() == 9
    assert real_exists(marker), "rival's complete publish survives"
    key_dir = os.path.dirname(published)
    leftovers = [
        d for d in os.listdir(key_dir) if ".tmp-" in d or ".wreck-" in d
    ]
    assert not leftovers, f"temps and wrecks must be reaped: {leftovers}"


def test_publish_rename_real_error_propagates(spark, tmp_path, mv_root, monkeypatch):
    """A rename failure with a non-collision errno (EACCES, EXDEV...)
    is a REAL publish failure: it must raise and must NOT rmtree the
    destination path (a reader may be scanning a rival's output)."""
    import errno
    import os

    import pytest as _pytest

    data = tmp_path / "ds2"
    spark.range(5).toDF("id").write.parquet(str(data))
    fp = relcache._fingerprint(str(data))
    published = os.path.join(relcache.MV_ROOT, "k2", fp)

    real_rename = os.rename

    def eacces_rename(src, dst):
        if dst == published:
            raise OSError(errno.EACCES, "Permission denied", src)
        return real_rename(src, dst)

    monkeypatch.setattr(relcache.os, "rename", eacces_rename)
    with _pytest.raises(OSError):
        relcache.cached_relation(
            "k2", str(data), lambda: spark.read.parquet(str(data))
        )


def test_concurrent_misses_build_once(spark, tmp_path, mv_root):
    """Two threads of one process that miss on the same (key, dataset)
    together must build once: the second waits on the pair's lock,
    re-checks _SUCCESS and reads the first one's publish. Without the
    lock both build into the same per-pid temp dir, which has published
    extra copies of the rows."""
    import os
    import threading
    import time

    data = tmp_path / "ds"
    spark.range(3).toDF("id").write.parquet(str(data))
    n = 200_000
    builds = []
    gate = threading.Barrier(2)

    def build():
        builds.append(threading.get_ident())
        # hold the miss open so a rival without the lock misses too
        time.sleep(0.5)
        return spark.range(n).toDF("id")

    results, errors = [], []

    def worker():
        try:
            gate.wait()
            results.append(relcache.cached_relation("k", str(data), build))
        except BaseException as exc:  # surfaced by the asserts below
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(builds) == 1, f"built {len(builds)} times"
    path = os.path.join(relcache.MV_ROOT, "k", relcache._fingerprint(str(data)))
    published = spark.read.parquet(path)
    assert published.count() == n
    assert published.distinct().count() == n
    assert [r.count() for r in results] == [n, n]


def test_unwritable_store_redirects_to_a_private_dir(spark, tmp_path, mv_root, monkeypatch):
    """A store nobody can write (its root sits under a regular file, so
    even root gets ENOTDIR) is swapped for a private temp dir with a
    warning: the result is still a parquet scan and nothing is
    persisted in memory."""
    import os
    import tempfile

    blocker = tmp_path / "not-a-dir"
    blocker.write_text("x")
    monkeypatch.setattr(relcache, "MV_ROOT", str(blocker / "mv"))
    data = tmp_path / "ds"
    spark.range(6).toDF("id").write.parquet(str(data))
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()

    with pytest.warns(UserWarning, match="not writable"):
        df = relcache.cached_relation(
            "k", str(data), lambda: spark.read.parquet(str(data))
        )
    assert df.count() == 6
    assert "InMemoryRelation" not in df._jdf.queryExecution().toString()
    assert jsc.getPersistentRDDs().size() == persisted
    root = relcache.MV_ROOT
    assert os.path.dirname(root) == tempfile.gettempdir()
    fp = relcache._fingerprint(str(data))
    assert os.path.exists(os.path.join(root, "k", fp, "_SUCCESS"))


def test_u3_build_failure_releases_the_union_persist(spark, tmp_path, mv_root, monkeypatch):
    """ADVICE r15 #2: when the u3_codes build raises after the shared
    evidence union was persisted and materialized, u3_evidence_union's
    finally must release it — the persisted-RDD count returns to its
    value before the call."""
    import os

    from risk_dashboard_database_spark.plans import unions
    from risk_dashboard_database_spark.tables import DEFAULT_SF_DIR

    real = unions.cached_relation

    def raising(key, sf_dir, build):
        if key != "u3_codes":
            return real(key, sf_dir, build)
        build().count()  # materializes the persisted union
        raise RuntimeError("injected u3_codes build failure")

    monkeypatch.setattr(unions, "cached_relation", raising)
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected"):
        unions.u3_evidence_union(
            spark, os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
        )
    assert jsc.getPersistentRDDs().size() == persisted


def test_memo_hit_on_a_pruned_mv_rebuilds(spark, tmp_path, mv_root, monkeypatch):
    """A session memo hit must not hand out a scan of files that
    `_prune` deleted: with KEEP_DATASETS = 2, building a third dataset
    prunes the first, and asking for the first again rebuilds it
    instead of returning a scan that fails with FILE_NOT_EXIST."""
    import os
    import time

    monkeypatch.setattr(relcache, "KEEP_DATASETS", 2)
    dirs = []
    for i in range(3):
        d = tmp_path / f"ds{i}"
        spark.range(10 + i).toDF("id").write.parquet(str(d))
        dirs.append(str(d))
    builds = []

    def get(d):
        def build():
            builds.append(d)
            return spark.read.parquet(d)

        return relcache.cached_relation("k", d, build)

    for i, d in enumerate(dirs):
        get(d)
        # distinct publish mtimes, oldest first, so the LRU prune is
        # deterministic on a coarse-mtime filesystem
        t = time.time() - (3 - i) * 10
        os.utime(os.path.join(relcache.MV_ROOT, "k", relcache._fingerprint(d)), (t, t))
    pruned = os.path.join(relcache.MV_ROOT, "k", relcache._fingerprint(dirs[0]))
    assert not os.path.exists(pruned)  # test premise: ds0 was pruned

    again = get(dirs[0])
    assert again.count() == 10
    assert builds == dirs + dirs[:1]
    assert os.path.exists(os.path.join(pruned, "_SUCCESS"))
