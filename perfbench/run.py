"""perfbench: end-to-end and per-layer benchmark of the Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 10 --trace 0

One client drives one workload in a closed loop, in one process, through
the package's public entry points on local[<cpus available>]. The last
line of stdout is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Per-op records and spans go to a side
file under .perfbench/out/. NOTES.md beside this file explains the
workloads, layers and metrics.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import fnmatch  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import layers  # noqa: E402

# Pinned so that both commits of an A/B run the same JVM configuration.
DRIVER_MEM = "3g"

# The 19 endpoint payloads of the reference's serving surface. Runnable,
# but not declared in BENCHMARK.json; NOTES.md says why.
DASHBOARD = (
    "e1_trend_summary", "e2_crisis_durations", "e3_storylines",
    "e4_crisis_impact", "e5_evidence", "e6_sector_baseline",
    "e7_narrative_timeline", "e8_crisis_patterns", "e9_negative_summary",
    "e10_processed_articles", "e11_industry_durations",
    "e12_narrative_tags", "e13_feature_series", "e14_narrative_overlay",
    "e15_processed_serps", "e16_stock_series", "e17_trends_series",
    "e18_roster", "e19_boards",
)
# The IVF/PQ search and audit queries (mapInPandas workers, eager
# collects at construction time).
ANN_SEARCH = (
    "d3_ann_topk", "d8_ann_ivf", "d14_ann_ivf_nprobe2", "d24_ann_ivfpq",
    "d25_ann_recall", "d25b_ann_recall_trained", "d66_nprobe_sweep",
    "d44_semantic_prune", "d47_semantic_decontam",
)
READ_WORKLOADS = {"dashboard": DASHBOARD, "ann_search": ANN_SEARCH}
WORKLOADS = (*READ_WORKLOADS, "mv_refresh")

# Queries whose construction time the traced run reports one by one.
CONSTRUCT_PROBES = (
    "e3_storylines", "e6_sector_baseline", "e14_narrative_overlay",
    "d24_ann_ivfpq", "d66_nprobe_sweep",
)

# The fewest measured passes. Runs measure whole passes, so a run's op mix
# never depends on timing. One warm pass precedes them: store first-touch
# builds and JIT warm-up land there, inside setup_s.
MIN_PASSES = {"dashboard": 1, "ann_search": 2, "mv_refresh": 1}

# mv_refresh warms the JVM with one refresh of a tenth-size test dataset
# (a sibling of the benchmark dataset): it runs every DAG step's code for
# about the cost of JVM warm-up alone.
MV_WARMUP_DATASET = "sf0.01"

# Per-layer counters that read exactly the same in two traced runs of one
# commit (NOTES.md, "Exact-repeat counters"). Only these may back a claim
# that cites a count.
EXACT_REPEAT = {
    "ann_search": (
        "plans.construct_jobs", "exec.jobs", "exec.tasks", "exec.shuffle_bytes",
        "exec.spill_bytes", "exec.scan_rows", "exec.python_rows",
        "relcache.builds", "relcache.files_written", "relcache.bytes_written",
        "relcache.timed_builds",
    ),
    "mv_refresh": (
        "exec.exchanges", "exec.spill_bytes", "exec.python_rows",
        "relcache.builds", "relcache.timed_builds",
    ),
}


# Stores the package may default to inside the checkout; a run must not
# touch them.
FOREIGN_STORES = (".mvstore", ".benchprobe")


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args()


def snapshot_foreign_stores():
    return {
        name: layers.store_snapshot(os.path.join(ROOT, name))
        if os.path.exists(os.path.join(ROOT, name)) else None
        for name in FOREIGN_STORES
    }


class RssSampler(threading.Thread):
    """Peak resident memory of the whole process tree (see
    layers.tree_peak_rss_bytes), sampled until the measured region ends."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak = 0
        self.breakdown = {}
        self._stop_event = threading.Event()

    def sample(self) -> None:
        total = layers.tree_peak_rss_bytes(os.getpid())
        if total > self.peak:
            self.peak = total
            self.breakdown = layers.tree_peak_rss_by_process(os.getpid())

    def run(self) -> None:
        while not self._stop_event.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join()
        self.sample()


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        # A fresh directory per run (mkdir fails if it exists): the MV
        # store is keyed on dataset content, not code, so a shared store
        # would let one commit read MVs that another commit built.
        self.run_dir = os.path.join(
            WORK, "runs", f"{self.workload}-{os.getpid()}-{time.time_ns()}"
        )
        os.mkdir(self.run_dir)
        self.store = os.path.join(self.run_dir, "mv")
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self.latest: dict[str, tuple[list[str], list]] = {}
        self.load_table_calls: list[tuple[float, float]] = []
        self.rss = RssSampler()

    # -- environment and session ------------------------------------------

    def configure_env(self) -> None:
        for sub in ("local", "tmp", "events", "warehouse"):
            os.mkdir(os.path.join(self.run_dir, sub))
        os.environ["SPARK_GRAFT_MV_DIR"] = self.store
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        # Every JVM the run starts (launcher and driver) keeps its temp
        # files in the run directory and writes no perf-data file.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"]
        )

    def import_package(self) -> None:
        sys.path.insert(0, ROOT)
        if self.trace:
            self._wrap_load_table()
        import __spark_entry__ as entry
        from risk_dashboard_database_spark import tables
        from risk_dashboard_database_spark.plans import refresh, relcache
        from risk_dashboard_database_spark.session import get_spark

        # tools/check.py edits sys.path on import; keep ours.
        saved = list(sys.path)
        from tools.check import normalize, rows_equal
        sys.path[:] = saved

        if os.path.abspath(relcache.MV_ROOT) != self.store:
            raise RuntimeError(f"MV store not isolated: {relcache.MV_ROOT}")
        self.entry, self.tables = entry, tables
        self.refresh, self.relcache = refresh, relcache
        self.get_spark = get_spark
        self.normalize, self.rows_equal = normalize, rows_equal
        self.sf_dir = tables.DEFAULT_SF_DIR
        self.warmup_dir = os.path.join(os.path.dirname(self.sf_dir), MV_WARMUP_DATASET)
        self.source_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, n))
            for n in os.listdir(self.sf_dir) if n.endswith(".parquet")
        )

    def _wrap_load_table(self) -> None:
        """Time every tables.load_table call (first touch re-lays out a
        fact table into the store). Installed before the plan modules
        import the name."""
        from risk_dashboard_database_spark import tables

        inner = tables.load_table
        calls = self.load_table_calls

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                calls.append((t0, time.perf_counter()))

        tables.load_table = load_table

    def start_session(self) -> None:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # Heap committed up front: left to grow, the JVM's resident size
            # varied by 30% between runs of the same code.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = self.get_spark(extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        self.py4j = layers.Py4jCounter(self.spark) if self.trace else None

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, and wait until no child is left."""
        if not hasattr(self, "spark"):
            return
        self.spark.stop()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)
        deadline = time.monotonic() + 60
        while len(layers.process_tree(os.getpid())) > 1:
            if time.monotonic() > deadline:
                raise RuntimeError("child processes outlived the session")
            time.sleep(0.1)

    # -- ops -----------------------------------------------------------------

    def read_op(self, name: str, timed: bool) -> dict:
        fn = self.queries[name]
        rec = {"op": len(self.ops) if timed else None, "name": name}
        calls0 = self.py4j.calls if self.py4j else 0
        snap0 = layers.store_snapshot(self.store) if self.trace and timed else None
        w0, t0 = time.time(), time.perf_counter()
        try:
            df = fn(self.spark, self.sf_dir)
            w1, t1 = time.time(), time.perf_counter()
            calls1 = self.py4j.calls if self.py4j else 0
            rows = df.collect()
            w2, t2 = time.time(), time.perf_counter()
        except Exception:
            rec["error"] = traceback.format_exc(limit=5)
            return rec
        self.latest[name] = (df.columns, rows)
        rec.update(
            construct_ms=(t1 - t0) * 1000, action_ms=(t2 - t1) * 1000,
            op_ms=(t2 - t0) * 1000, rows=len(rows),
            wall_ms=(w0 * 1000, w1 * 1000, w2 * 1000),
        )
        if self.trace and timed:
            rec["py4j_construct"] = calls1 - calls0
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    s = opt.get()
                    rec[phase] = (s.startTimeMs(), s.endTimeMs())
            rec["store"] = layers.store_delta(snap0, layers.store_snapshot(self.store))
        return rec

    def mv_op(self, timed: bool) -> dict:
        rec = {"op": len(self.ops) if timed else None, "name": "refresh_all"}
        calls0 = self.py4j.calls if self.py4j else 0
        w0, t0 = time.time(), time.perf_counter()
        try:
            self.relcache.drop_store()
            steps = self.refresh.refresh_all(
                self.spark, self.sf_dir if timed else self.warmup_dir)
        except Exception:
            rec["error"] = traceback.format_exc(limit=5)
            return rec
        w1, t1 = time.time(), time.perf_counter()
        rec.update(op_ms=(t1 - t0) * 1000, steps=steps, wall_ms=(w0 * 1000, w1 * 1000))
        if self.trace and timed:
            rec["py4j_op"] = self.py4j.calls - calls0
            rec["store"] = layers.store_delta({}, layers.store_snapshot(self.store))
        missing = self.unpublished_keys()
        if missing:
            rec["error"] = f"MV_STORE_DAG keys not published: {missing}"
        return rec

    def unpublished_keys(self) -> list[str]:
        """MV_STORE_DAG keys with no published (_SUCCESS) entry. A
        wildcard key may match nothing: the re-layout is scale-gated."""
        present = os.listdir(self.store) if os.path.isdir(self.store) else []

        def published(key: str) -> bool:
            key_dir = os.path.join(self.store, key)
            return any(
                os.path.exists(os.path.join(key_dir, fp, "_SUCCESS"))
                for fp in os.listdir(key_dir)
            )

        missing = []
        for _, keys, _ in self.refresh.MV_STORE_DAG:
            for key in keys:
                if "*" in key:
                    missing += [k for k in fnmatch.filter(present, key) if not published(k)]
                elif key not in present or not published(key):
                    missing.append(key)
        return missing

    def one_pass(self, order, timed: bool) -> None:
        for name in order:
            rec = self.mv_op(timed) if name is None else self.read_op(name, timed)
            if timed:
                self.ops.append(rec)
            if "error" in rec:
                self.failures.append(rec)

    # -- the run -------------------------------------------------------------

    def run(self) -> None:
        names = READ_WORKLOADS.get(self.workload, (None,))
        self.queries = self.entry.queries()
        rng = random.Random(self.args.seed)
        self.one_pass(names, timed=False)  # fixed order: same builds
        if self.failures:
            raise RuntimeError("warm-up failed:\n" + self.failures[0]["error"])
        self.setup_s = time.monotonic() - T_START
        self.setup_end_perf = time.perf_counter()
        snap = layers.store_snapshot(self.store)
        self.setup_store = layers.store_delta({}, snap)
        self.probe_before = layers.host_probe_ms()
        self.measured_s = 0.0
        passes = 0
        while passes < MIN_PASSES[self.workload] or self.measured_s < self.args.seconds:
            order = list(names)
            rng.shuffle(order)
            t0 = time.perf_counter()
            self.one_pass(order, timed=True)
            self.measured_s += time.perf_counter() - t0
            passes += 1
        self.timed_builds = layers.store_delta(snap, layers.store_snapshot(self.store))["builds"]
        self.probe_after = layers.host_probe_ms()
        self.passes = passes
        self.store_amp = layers.store_bytes(self.store) / self.source_bytes
        self.rss.stop()
        self.marks = {"measured_end_s": time.monotonic() - T_START}
        if self.workload in READ_WORKLOADS:
            self.check_results()
        self.marks["checked_s"] = time.monotonic() - T_START

    def check_results(self) -> None:
        """Compare every distinct op's last result with its DuckDB oracle
        (tools/check.py's normalize/rows_equal). A mismatch fails every
        timed op of that query."""
        oracles = self.entry.oracle_sql()
        self.check_log = {}
        for name, (cols, rows) in sorted(self.latest.items()):
            try:
                import pandas as pd

                got = self.normalize(pd.DataFrame.from_records(rows, columns=cols))
                want = self.normalize(self.oracle_result(oracles[name]))
                if got[0] != want[0]:
                    verdict = f"columns {got[0]} vs {want[0]}"
                else:
                    kind, detail = self.rows_equal(got[1], want[1])
                    verdict = "exact" if kind == "exact" else f"{kind}: {detail}"
            except Exception:
                verdict = traceback.format_exc(limit=3)
            self.check_log[name] = verdict
            if verdict != "exact":
                for rec in self.ops:
                    if rec["name"] == name and "error" not in rec:
                        rec["error"] = f"wrong result: {verdict}"
                        self.failures.append(rec)

    def oracle_result(self, sql: str):
        """The oracle's result for sql over the dataset, from DuckDB. It is
        cached in the checkout, keyed on the SQL text, the dataset's file
        names, sizes and mtimes, and the DuckDB version: some ANN oracles
        take seconds each, and the answer depends on nothing else."""
        import duckdb
        import pandas as pd

        sig = [duckdb.__version__, sql]
        for n in sorted(os.listdir(self.sf_dir)):
            st = os.stat(os.path.join(self.sf_dir, n))
            sig.append(f"{n}:{st.st_size}:{st.st_mtime_ns}")
        key = hashlib.sha256("\n".join(sig).encode()).hexdigest()[:32]
        path = os.path.join(WORK, "oracle", f"{key}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        con = duckdb.connect()
        try:
            for t in self.tables.TABLE_NAMES:
                src = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
            df = con.execute(sql).fetchdf()
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        df.to_parquet(tmp)
        os.replace(tmp, path)
        return df

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, peak_rss: int) -> dict:
        lat = [r["op_ms"] for r in self.ops if "op_ms" in r]
        return {
            "setup_s": (self.setup_s, "s"),
            "ops_per_s": (len(self.ops) / self.measured_s, "1/s"),
            "op_p50_ms": (statistics.median(lat) if lat else float("nan"), "ms"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
            "store_amp": (self.store_amp, "ratio"),
        }

    def per_layer(self, events: list[dict], overhead_pct: float) -> dict:
        ok = [r for r in self.ops if "error" not in r]
        n = max(len(ok), 1)
        read = self.workload in READ_WORKLOADS

        def med(values):
            return statistics.median(values) if values else 0.0

        def p90(values):
            return statistics.quantiles(values, n=10)[-1] if len(values) > 1 else med(values)

        windows = []
        for r in ok:
            w = [int(x) for x in r["wall_ms"]]
            if read:
                windows += [(f"c{r['op']}", w[0], w[1]), (f"a{r['op']}", w[1] + 1, w[2] + 1)]
            else:
                windows.append((f"a{r['op']}", w[0], w[1] + 1))
        counters = layers.exec_counters(events, windows)
        action = [counters[f"a{r['op']}"] for r in ok]
        m = {"session.start_s": (self.session_s, "s")}

        construct = [r["construct_ms"] for r in ok] if read else []
        m["plans.construct_ms_p50"] = (med(construct), "ms")
        m["plans.construct_ms_p90"] = (p90(construct), "ms")
        py4j = [r.get("py4j_construct", r.get("py4j_op", 0)) for r in ok]
        m["plans.py4j_calls_per_op"] = (sum(py4j) / n, "count")
        m["plans.construct_jobs"] = (
            sum(counters[f"c{r['op']}"]["jobs"] for r in ok) / n if read else 0.0, "count")
        for q in CONSTRUCT_PROBES:
            m[f"plans.construct_ms.{q}"] = (
                med([r["construct_ms"] for r in ok if r["name"] == q]), "ms")

        def phase_ms(r, phase):
            return r[phase][1] - r[phase][0] if phase in r else 0.0

        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = (med([phase_ms(r, phase) for r in ok]), "ms")
        m["exec.ms"] = (med([
            r["action_ms"] - phase_ms(r, "optimization") - phase_ms(r, "planning")
            for r in ok
        ]) if read else 0.0, "ms")
        units = {"shuffle_bytes": "B", "spill_bytes": "B", "python_ms": "ms"}
        for key in ("jobs", "tasks", "exchanges", "shuffle_bytes", "spill_bytes",
                    "scan_rows", "python_ms", "python_rows"):
            m[f"exec.{key}"] = (sum(c[key] for c in action) / n, units.get(key, "count"))

        # relcache and tables: what setup built for a read workload, what
        # one refresh builds for mv_refresh.
        if read:
            store = self.setup_store
            relayout = sum(b - a for a, b in self.load_table_calls if a < self.setup_end_perf)
        else:
            store = {k: sum(r["store"][k] for r in ok) / n for k in ("builds", "files_written", "bytes_written")}
            relayout = sum(b - a for a, b in self.load_table_calls if a >= self.setup_end_perf) / n
        m["relcache.builds"] = (store["builds"], "count")
        m["relcache.files_written"] = (store["files_written"], "count")
        m["relcache.bytes_written"] = (store["bytes_written"], "B")
        m["relcache.timed_builds"] = (self.timed_builds, "count")
        m["tables.relayout_s"] = (relayout, "s")

        dag = self.refresh.MV_STORE_DAG
        steps = [r["steps"] for r in ok] if not read else []
        for step, _, _ in dag:
            m[f"refresh.step_s.{step}"] = (sum(s.get(step, 0.0) for s in steps) / n, "s")
        step_sum = sum(sum(s.values()) for s in steps) / n
        wall = sum(r["op_ms"] for r in ok) / n / 1000 if steps else 0.0
        m["refresh.step_sum_s"] = (step_sum, "s")
        m["refresh.critical_path_s"] = (
            sum(layers.critical_path(s, dag) for s in steps) / n, "s")
        m["refresh.parallelism"] = (step_sum / wall if wall else 0.0, "ratio")
        m["host.probe_ms_before"] = (self.probe_before, "ms")
        m["host.probe_ms_after"] = (self.probe_after, "ms")
        m["trace.overhead_pct"] = (overhead_pct, "%")
        return m

    def report(self, isolated: bool) -> tuple[dict, dict]:
        """The metrics for the last stdout line, and the side file."""
        e2e = self.end_to_end(self.rss.peak)
        attempted, failed = len(self.ops), len(self.failures)
        side = {
            "workload": self.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "passes": self.passes, "measured_s": self.measured_s,
            "cpus": os.environ["SPARK_GRAFT_CPUS"], "driver_mem": DRIVER_MEM,
            "sf_dir": self.sf_dir, "source_bytes": self.source_bytes,
            "isolated": isolated, "error_rate": failed / max(attempted, 1),
            "checks": getattr(self, "check_log", None),
            "failures": self.failures, "ops": self.ops,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "exact_repeat": list(EXACT_REPEAT.get(self.workload, ())),
            "host_probe_ms": [self.probe_before, self.probe_after],
            "peak_rss_by_process_mb": self.rss.breakdown,
            "marks": self.marks,
        }
        if not self.trace:
            return e2e, side
        events = layers.read_event_log(os.path.join(self.run_dir, "events"))
        pct, basis = overhead_pct(self.workload, e2e["ops_per_s"][0])
        metrics = self.per_layer(events, pct)
        spans = self.spans()
        side.update(per_layer={k: v for k, (v, _) in metrics.items()},
                    overhead_basis_runs=basis, spans=spans,
                    self_time_ms=self_times(spans))
        return metrics, side

    def spans(self) -> list[dict]:
        """op -> {construct -> analysis, action -> {optimization,
        planning}}; the rest of action is execution. For mv_refresh,
        op -> refresh steps (durations as refresh_all reports them)."""
        out = []
        for r in self.ops:
            if "wall_ms" not in r:
                continue
            op = r["op"]
            w = r["wall_ms"]
            out.append({"op": op, "span": "op", "parent": None, "start_ms": w[0], "end_ms": w[-1]})
            if "steps" in r:
                for step, dur in r["steps"].items():
                    out.append({"op": op, "span": f"refresh.{step}", "parent": "op",
                                "duration_ms": dur * 1000})
                continue
            out.append({"op": op, "span": "construct", "parent": "op", "start_ms": w[0], "end_ms": w[1]})
            out.append({"op": op, "span": "action", "parent": "op", "start_ms": w[1], "end_ms": w[2]})
            for phase, parent in (("analysis", "construct"), ("optimization", "action"),
                                  ("planning", "action")):
                if phase in r:
                    out.append({"op": op, "span": f"catalyst.{phase}", "parent": parent,
                                "start_ms": r[phase][0], "end_ms": r[phase][1]})
        return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time (ms summed over ops): a span's duration minus
    what its child spans cover."""
    dur = {}
    for s in spans:
        d = s.get("duration_ms", s.get("end_ms", 0) - s.get("start_ms", 0))
        dur.setdefault(s["op"], []).append((s["span"], s["parent"], d))
    totals: dict[str, float] = {}
    for items in dur.values():
        child = {}
        for span, parent, d in items:
            if parent:
                child[parent] = child.get(parent, 0.0) + d
        for span, _, d in items:
            own = d - child.get(span, 0.0)
            if span == "op" and any(s.startswith("refresh.") for s, _, _ in items):
                own = None  # concurrent steps: see refresh.critical_path_s
            if own is not None:
                totals[span] = totals.get(span, 0.0) + own
    return totals


def untraced_record(workload: str) -> str:
    return os.path.join(WORK, "out", f"untraced-{workload}.jsonl")


def overhead_pct(workload: str, ops_per_s: float) -> tuple[float, int]:
    """Traced minus untraced throughput, against the median of the
    untraced runs of this workload recorded in this checkout."""
    try:
        with open(untraced_record(workload)) as f:
            base = [json.loads(line)["ops_per_s"] for line in f if line.strip()]
    except OSError:
        base = []
    if not base:
        return 0.0, 0
    ref = statistics.median(base)
    return (ref / ops_per_s - 1) * 100, len(base)


def main() -> int:
    args = parse_args()
    foreign_before = snapshot_foreign_stores()
    bench = Bench(args)
    try:
        bench.configure_env()
        bench.rss.start()
        bench.import_package()
        bench.start_session()
        try:
            bench.run()
        finally:
            bench.stop_session()
        bench.marks["stopped_s"] = time.monotonic() - T_START
        isolated = snapshot_foreign_stores() == foreign_before
        metrics, side = bench.report(isolated)
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)

    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    side_path = os.path.join(WORK, "out", f"{tag}.json")
    with open(side_path, "w") as f:
        json.dump(side, f, indent=1, default=str)
    if not args.trace:
        with open(untraced_record(args.workload), "a") as f:
            f.write(json.dumps({"ops_per_s": side["end_to_end"]["ops_per_s"],
                                "seed": args.seed}) + "\n")

    attempted, failed = len(bench.ops), len(bench.failures)
    lat = [r["op_ms"] for r in bench.ops if "op_ms" in r]
    p90 = (f"{statistics.quantiles(lat, n=10)[-1]:.1f}" if len(lat) >= 100
           else f"n/a ({len(lat)} ops < 100)")
    print(f"perfbench {args.workload}: {attempted} ops in {bench.passes} passes, "
          f"error_rate={side['error_rate']:.3f}, op_p90_ms={p90}, "
          f"isolated={isolated}, side file {os.path.relpath(side_path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0 and isolated,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
