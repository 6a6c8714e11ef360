"""Benchmark of the pytimetk_spark tier engine (raw crawl -> 1h/1d/7d tiers).

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. One process drives Spark on
``local[4]``. Inputs come from ``generate_webpages`` with ``--seed`` and are
written as parquet; the engine receives only that parquet. All scratch
files live in ``.perfbench_scratch/`` inside the checkout and are removed
at exit. Before it exits (normally, on an error, or on SIGTERM, SIGINT or
SIGHUP) the benchmark shuts down the JVM and waits until every process it
started, Spark's Python workers too, has ended.

The two workloads load different layers of the engine:

* ``ingest`` (the write path): one unit builds a fresh store with
  ``run_rollup``, lands late rows in three old days that span two 7d
  buckets and calls ``run_rollup`` again (the late rows alternate between
  versions A and B, so every refresh does work), calls it a third time with
  nothing changed, runs ``apply_retention`` with a fixed ``now`` so some 1h
  partitions expire, writes a Gorilla archive of the 1h tier
  (``encode_tier_blocks`` + parquet) and runs ``dedup_exact`` over the
  crawl to a noop sink. Raw aggregation, tier writes, the fingerprint scan,
  the one-day reprocess and 1d/7d reconcile, manifest I/O, retention, the
  encode path and the dedup shuffle.
* ``serve`` (the read path): a prebuilt store and archive, read only. One
  unit is a round of one closed-loop client: six url-history lookups (one
  url, one tier, rotating 1h/1d/7d), a two-week gap-filled 1h range scan
  over all urls (``gap_fill_tier`` + ``derived_stats`` to a noop sink) and
  ``decode_tier_blocks`` over a quarter of the urls. Tier reads, gap fill
  and the decode kernel; nothing is written, so a write-path change should
  not move it, and a read-path change should not move ``ingest``.

Steadiness: set-up ends with untimed warm-up units; a JVM ``System.gc()``
and a Python ``gc.collect()`` run before every timed operation, outside
the timer; units are timed for ``--seconds`` and the median is reported.

Every output is checked outside the timed regions against DuckDB and
pyarrow (``checks.py``); an operation that raises or fails its check counts
as failed. ``--trace 1`` repeats the timed units in a second Spark context
with the event log on and every call tagged with its span (``spans.py``),
and prints per-layer metrics plus the tracing overhead.

The last stdout line is the result JSON; the line before it is the run
record (host, versions, seed, input sizes, every sample).
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import EventLog, Tracer, rollup_phases, task_summary, union_ms  # noqa: E402

CORES = 4
START = dt.date(2024, 1, 1)
SIZES = {
    "ingest": {"n_urls": 4000, "crawls": 24, "days": 7},
    "serve": {"n_urls": 4000, "crawls": 24, "days": 15},
}
SETUP_REPS = 2
WARMUP_UNITS = 1
MIN_UNITS = 1
LOOKUPS_PER_ROUND = 6
SCAN_DAYS = (1, 15)
DECODE_FRACTION = 4  # the decode reads the first 1/4 of the urls
LATE_URL_MOD = 20  # one url in this many gets a late row in each late day
KEEP_1H_DAYS = 4
SPAN_NAMES = (
    "generate", "build", "retention", "encode", "dedup", "refresh",
    "noop_resume", "lookup", "range_scan", "decode", "gap_fill", "derived_stats",
)
END_TO_END = {
    "setup_s": "s",
    "ops_ok_ratio": "ratio",
    "unit_p50_s": "s",
    "store_bytes_per_point": "B/point",
}
_COUNTS = (
    "store.manifests_read", "store.manifests_written", "store.days_reprocessed",
    "store.coarse_partitions_rewritten", "store.unattributed_jobs", "tiers.gap_rows_added",
    "read.files_opened", "retention.partitions_dropped", "dedup.rows_dropped", "sources.rows",
)
_NAMED = (
    "store.fingerprint_s", "store.fingerprint_input_bytes", "store.fine_s", "store.fine_input_bytes",
    "store.count_s", "store.coarse_s", "store.coarse_input_bytes", "store.driver_s",
    "store.manifests_read", "store.manifests_written", "store.days_reprocessed",
    "store.coarse_partitions_rewritten", "store.phase_coverage", "store.unattributed_jobs",
    "store.build_s", "store.refresh_s", "store.noop_resume_s",
    "tiers.raw_to_1h_s", "tiers.raw_to_1h_shuffle_bytes", "tiers.tier_to_tier_s",
    "tiers.gap_fill_s", "tiers.gap_rows_added", "tiers.derived_stats_s", "tiers.range_scan_s",
    "tiers.encode_s", "tiers.encode_python_s", "tiers.decode_s", "tiers.decode_python_s",
    "read.lookup_s", "read.files_opened", "read.input_bytes", "read.driver_s",
    "compression.encode_ns_per_point", "compression.decode_ns_per_point", "compression.bytes_per_point",
    "retention.apply_s", "retention.partitions_dropped",
    "dedup.exact_s", "dedup.shuffle_bytes", "dedup.rows_dropped",
    "sources.generate_s", "sources.rows",
)


def _layer_unit(name: str) -> str:
    if name in _COUNTS:
        return "count"
    if name.startswith("overhead."):
        return END_TO_END[name.split(".", 1)[1]]
    for suffix, unit in (("_ns_per_point", "ns/point"), ("bytes_per_point", "B/point"),
                         ("_bytes", "B"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "ratio"  # skew, phase coverage


PER_LAYER = {
    n: _layer_unit(n)
    for n in (
        [f"{s}.{k}" for s in SPAN_NAMES for k in ("task_s", "cpu_s", "gc_s", "spill_bytes", "skew")]
        + list(_NAMED)
        + [f"overhead.{k}" for k in END_TO_END]
    )
}


class SetupError(RuntimeError):
    pass


# ------------------------------------------------------------- processes
# Spark's JVM starts Python worker daemons of its own, and stopping a
# context or the JVM only signals them. The benchmark makes itself the
# subreaper of everything it starts, so such orphans become its children,
# and at exit it waits until none is left.

def become_subreaper() -> None:
    """Orphaned descendants are re-parented to this process (Linux only)."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def descendants(root: int) -> list[int]:
    """Processes below ``root``, zombies too, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 20.0) -> None:
    """Wait for every process below this one to end and reap it: ``grace_s``
    seconds on its own, then SIGTERM, then SIGKILL. A zombie counts as
    running until its parent reaps it (a JVM's leader thread shows as a
    zombie while its other threads still run)."""
    me = os.getpid()
    t0 = time.monotonic()
    sent = None
    while True:
        reap_children()
        left = descendants(me)
        waited = time.monotonic() - t0
        if not left or waited > grace_s + 15:
            return
        sig = signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def pin_environment(scratch: Path) -> None:
    """Before Spark starts: UTC, a driver heap that fits a 15 GiB host, all
    temporary files inside the checkout, the engine on the workers' path."""
    for d in ("tmp", "spark-local", "warehouse"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def import_engine():
    """The engine of this checkout, or exit without a result."""
    sys.path.insert(0, str(ROOT))
    try:
        import pytimetk_spark
    except ImportError as e:
        raise SetupError(f"cannot import the engine from {ROOT}: {e}") from e
    if Path(pytimetk_spark.__file__).resolve().parent.parent != ROOT:
        raise SetupError(f"pytimetk_spark resolves outside the checkout: {pytimetk_spark.__file__}")
    return pytimetk_spark


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, corrupt: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.corrupt = corrupt
        self.size = SIZES[workload]
        self.tk = import_engine()
        self.scratch = ROOT / ".perfbench_scratch" / f"run-{os.getpid()}"
        self.scratch.mkdir(parents=True, exist_ok=True)
        pin_environment(self.scratch)
        from pytimetk_spark import rollup
        from pytimetk_spark.sources.webpages import generate_webpages
        from pytimetk_spark.webtext.dedup import dedup_exact

        self.rollup, self.generate_webpages, self.dedup_exact = rollup, generate_webpages, dedup_exact
        self.tracer = Tracer()
        self.untraced_spans: list[dict] = []
        self.unit_s: list[float] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.record: dict = {"setup": {}}
        self.spark = None
        self._gateway_proc = None
        self.unit_index = -1

    # ---------------------------------------------------------------- spark
    def start_spark(self, event_log: Path | None = None) -> float:
        t0 = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.scratch / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.scratch / 'tmp'}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = self.tk.get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{CORES}]",
            shuffle_partitions=CORES, extra_conf=conf,
        )
        self.java_version = self.spark._jvm.System.getProperty("java.version")
        self._gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return time.perf_counter() - t0

    def stop_spark(self, final: bool) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if final:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            proc, self._gateway_proc = self._gateway_proc, None
            if proc is not None:
                # the JVM exits when its stdin (the launcher's pipe) closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # --------------------------------------------------------------- inputs
    def generate(self, d: Path) -> int:
        """The crawl for this seed as parquet under ``d/src``."""
        s = self.size
        df = self.generate_webpages(
            self.spark, n_urls=s["n_urls"], crawls_per_url=s["crawls"],
            start=str(START), days=s["days"], seed=self.seed,
        )
        df.coalesce(CORES).write.parquet(str(d / "src"))
        return self.spark.read.parquet(str(d / "src")).count()

    def make_docs(self, d: Path) -> None:
        """The crawl's texts with row ids, for dedup (pyarrow, sorted, so
        ids do not depend on Spark's file order)."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        import pyarrow as pa

        t = ds.dataset(str(d / "src"), format="parquet").to_table(columns=["url", "warc_ts", "text"])
        t = t.sort_by([("url", "ascending"), ("warc_ts", "ascending")])
        (d / "docs").mkdir()
        pq.write_table(
            pa.table({"doc_id": pa.array(range(t.num_rows), pa.int64()), "text": t.column("text")}),
            str(d / "docs" / "part-0.parquet"),
        )

    def late_days(self) -> list[dt.date]:
        """Three days that straddle an epoch-aligned 7d boundary in the
        middle of the window, so a refresh rewrites two 7d buckets."""
        mid = START + dt.timedelta(days=self.size["days"] // 2)
        b = mid - dt.timedelta(days=(mid - dt.date(1970, 1, 1)).days % 7)
        return [b - dt.timedelta(days=2), b - dt.timedelta(days=1), b]

    def make_late(self, d: Path) -> None:
        """Late rows of versions A and B: the same (url, ts) in the late
        days, with texts of different lengths."""
        from pyspark.sql import functions as F

        src = self.spark.read.parquet(str(d / "src"))
        days = self.late_days()
        base = (
            src.filter(F.to_date("warc_ts").isin(days))
            .filter(F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(LATE_URL_MOD)) == 0)
            .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 SECOND"))
        )
        for v, pad in (("A", "late crawl A"), ("B", "late crawl B, a longer revision of the page")):
            out = base.withColumn("text", F.concat("text", F.lit(" " + pad)))
            out = out.withColumn("html", F.to_binary(F.col("text"), F.lit("utf-8")))
            out.coalesce(1).write.parquet(str(d / f"late{v}"))

    def land(self, d: Path, version: str) -> None:
        part = next((d / f"late{version}").glob("part-*.parquet"))
        tmp = d / "src" / ".late.tmp"
        shutil.copyfile(part, tmp)
        os.replace(tmp, d / "src" / "late.parquet")

    # ------------------------------------------------------------ operations
    def op(self, name: str, fn, check=None, prepare=True):
        """One timed operation: a JVM and a Python GC outside the timer
        (``prepare``), the call inside a span, its check after. A raise or a
        failed check counts as failed."""
        if prepare:
            t = time.perf_counter()
            gc.collect()
            self.spark._jvm.System.gc()
            self.record["gc_s"] = self.record.get("gc_s", 0.0) + time.perf_counter() - t
        self.attempted += 1
        try:
            with self.tracer.span(name) as sp:
                sp["unit"] = self.unit_index
                result = fn()
        except Exception as e:  # an engine error is a failed operation, not a crash
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return None, 0.0
        secs = (sp["end"] - sp["start"]) / 1000.0
        if check is not None:
            t = time.perf_counter()
            problems = check(result)
            self.record["op_checks_s"] = self.record.get("op_checks_s", 0.0) + time.perf_counter() - t
            if problems:
                self.failed += 1
                self.problems.extend(f"{name}: {p}" for p in problems[:3])
        return result, secs

    def rollup_op(self, name: str, store, check=None):
        """``run_rollup`` of the current source into ``store`` as one
        operation; its span records the manifests read and written."""
        reads = store.reads
        written, secs = self.op(name, lambda: self.rollup.run_rollup(self.spark, self.source(self.d), store), check)
        self.tracer.spans[-1]["counts"] = {
            "manifests_read": store.reads - reads,
            "manifests_written": len(written or []),
            "days": sum(1 for m in written or [] if m.tier == "1h"),
            "coarse": sum(1 for m in written or [] if m.tier != "1h"),
        }
        return written, secs

    def source(self, d: Path):
        return self.spark.read.parquet(str(d / "src"))

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------- workloads
    def setup(self) -> None:
        import checks

        t0 = time.perf_counter()
        spark_s = self.start_spark()
        reps = []
        for r in range(SETUP_REPS):
            d = self.scratch / f"in{r}"
            t = time.perf_counter()
            self.make_inputs(d)
            reps.append(time.perf_counter() - t)
            if r:
                shutil.rmtree(d)
        self.d = self.scratch / "in0"
        t = time.perf_counter()
        self.prebuild()
        prebuild_s = time.perf_counter() - t
        t = time.perf_counter()
        self.oracle = checks.oracle_tiers(str(self.d / "src" / "*.parquet"))
        self.after_prepare()
        check_s = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(WARMUP_UNITS):
            self.unit()
        warm_s = time.perf_counter() - t
        self.setup_s = spark_s + median(reps) + prebuild_s + warm_s
        self.record["setup"] = {
            "spark_start_s": spark_s, "inputs_s": reps, "prebuild_s": prebuild_s,
            "warmup_s": warm_s, "checks_s": check_s, "wall_s": time.perf_counter() - t0,
        }

    def make_inputs(self, d: Path) -> None:
        """The generated parquet a workload starts from."""
        with self.tracer.span("generate"):
            self.rows = self.generate(d)
        if self.workload == "ingest":
            self.make_docs(d)
            self.make_late(d)
            self.land(d, "A")

    def prebuild(self) -> None:
        """serve: the store and archive it reads."""
        if self.workload == "serve":
            store = self.rollup.TierStore(str(self.d / "store"))
            self.rollup.run_rollup(self.spark, self.source(self.d), store)
            self.encode(store, self.d / "archive")

    def after_prepare(self) -> None:
        """Checks of the prepared state, and per-workload fixtures."""
        import checks
        import pyarrow.dataset as ds

        d = self.d
        if self.workload == "ingest":
            self.version = "A"
            self.oracles = {"A": self.oracle}
            self.land(d, "B")
            self.oracles["B"] = checks.oracle_tiers(str(d / "src" / "*.parquet"))
            self.land(d, "A")
            self.dates_1h = sorted({str(x.date()) for x in self.oracle["1h"].column("bucket_ts").to_pylist()})
            self.now = START + dt.timedelta(days=self.size["days"])
            self.cutoff = self.now - dt.timedelta(days=KEEP_1H_DAYS)
            got = self.dedup_exact(self.spark.read.parquet(str(d / "docs"))).select("doc_id").toArrow()
            self.fail_setup(checks.check_dedup(got, str(d / "docs" / "*.parquet")))
            self.dedup_dropped = self.rows - got.num_rows
        else:
            self.store = self.counting_store(d / "store")
            self.fail_setup(checks.check_store(str(d / "store"), self.oracle))
            self.tier_1h = checks.read_tier(str(d / "store"), "1h")
            urls = sorted(set(self.oracle["1h"].column("url").to_pylist()))
            rng = random.Random(self.seed)
            self.lookup_urls = rng.sample(urls, 32)
            self.decode_urls = (urls[0], urls[len(urls) // DECODE_FRACTION])
            self.archive_urls = set(ds.dataset(str(d / "archive")).to_table(columns=["url"]).column("url").to_pylist())
            self.fail_setup([] if self.archive_urls == set(urls) else ["archive urls differ from the tier's"])
            lo, hi = (START + dt.timedelta(days=x) for x in SCAN_DAYS)
            self.scan_window = (lo, hi)
            self.scan_oracle = checks.oracle_gap_fill(str(d / "src" / "*.parquet"), lo, hi)
            scan = self.scan_df().toArrow()
            self.fail_setup(checks.compare_scan(scan, self.scan_oracle))
            self.gap_rows = scan.column("vsum").null_count
            got = self.decode_df().toArrow()
            lo, hi = self.decode_urls
            self.fail_setup(checks.compare_decode(got, self.tier_1h, {u for u in urls if lo <= u < hi}))
            if self.corrupt:
                # the first lookup of the warm-up round reads the changed row
                self.lookup_urls[0] = self.corrupt_store(d / "store")
            self.round = 0

    def fail_setup(self, problems: list[str]) -> None:
        if problems:
            raise SetupError("; ".join(problems[:5]))

    def counting_store(self, path: Path):
        """A TierStore that counts the manifests it reads."""
        base = self.rollup.TierStore

        class CountingStore(base):
            reads = 0

            def read_manifest(self, tier, partition):
                m = super().read_manifest(tier, partition)
                self.reads += m is not None
                return m

            def manifests(self, tier):
                ms = super().manifests(tier)
                self.reads += len(ms)
                return ms

        return CountingStore(str(path))

    def corrupt_store(self, base: Path) -> str:
        """Self-check hook: change one value in one stored 1h row; returns
        that row's url."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        f = sorted((base / "tier=1h").rglob("*.parquet"))[0]
        t = pq.read_table(f)
        vsum = t.column("vsum").to_pylist()
        vsum[0] += 1.0
        t = t.set_column(t.schema.get_field_index("vsum"), "vsum", pc.cast(vsum, t.schema.field("vsum").type))
        pq.write_table(t, f)
        return t.column("url")[0].as_py()

    def encode(self, store, out: Path) -> None:
        from checks import CODEC_STATS

        blocks = self.rollup.encode_tier_blocks(store.read_tier(self.spark, "1h").drop("bucket_date"), CODEC_STATS)
        blocks.write.mode("overwrite").parquet(str(out))

    def scan_df(self):
        from pyspark.sql import functions as F

        lo, hi = self.scan_window
        h = self.store.read_tier(self.spark, "1h").drop("bucket_date").filter(
            (F.col("bucket_ts") >= F.lit(str(lo)).cast("timestamp"))
            & (F.col("bucket_ts") < F.lit(str(hi)).cast("timestamp"))
        )
        return self.rollup.derived_stats(self.rollup.gap_fill_tier(h, "h"))

    def decode_df(self):
        """Decode of the archive's first urls (see DECODE_FRACTION)."""
        from pyspark.sql import functions as F
        from checks import CODEC_STATS

        lo, hi = self.decode_urls
        arch = self.spark.read.parquet(str(self.d / "archive"))
        arch = arch.filter((F.col("url") >= lo) & (F.col("url") < hi))
        return self.rollup.decode_tier_blocks(arch, CODEC_STATS)

    def unit(self) -> float:
        self.unit_index += 1
        return getattr(self, f"unit_{self.workload}")()

    def unit_ingest(self) -> float:
        """Build a fresh store from the current source version, land the
        other version's late rows and refresh, resume with nothing changed,
        expire old 1h partitions, archive the 1h tier, dedup the crawl."""
        import checks

        store_dir = self.scratch / "ingest_store"
        arch = self.scratch / "ingest_archive"
        for p in (store_dir, arch):
            shutil.rmtree(p, ignore_errors=True)
        store = self.counting_store(store_dir)
        cur = self.version
        _, t_build = self.rollup_op(
            "build", store, lambda _: checks.check_store(str(store_dir), self.oracles[cur]))

        nxt = "B" if cur == "A" else "A"
        self.land(self.d, nxt)
        self.version = nxt
        days = self.late_days()
        weeks = {d - dt.timedelta(days=(d - dt.date(1970, 1, 1)).days % 7) for d in days}

        def check_refresh(written):
            by_tier = {t: sorted(m.partition for m in written or [] if m.tier == t) for t in ("1h", "1d", "7d")}
            problems = []
            if by_tier["1h"] != [str(x) for x in days] or by_tier["1d"] != [str(x) for x in days]:
                problems.append(f"refresh reprocessed {by_tier['1h']} / {by_tier['1d']}, expected {days}")
            if by_tier["7d"] != sorted(str(w) for w in weeks):
                problems.append(f"refresh rewrote 7d {by_tier['7d']}, expected {sorted(map(str, weeks))}")
            return problems + checks.check_store(str(store_dir), self.oracles[nxt])

        _, t_ref = self.rollup_op("refresh", store, check_refresh)
        before = checks.tree_state(str(store_dir))
        _, t_noop = self.rollup_op(
            "noop_resume", store,
            lambda w: (["no-change resume wrote manifests"] if w else [])
            + ([] if checks.tree_state(str(store_dir)) == before else ["no-change resume changed store files"]),
        )
        policy = {"1h": KEEP_1H_DAYS, "1d": 365, "7d": 3650}
        dropped, t_ret = self.op(
            "retention", lambda: self.rollup.apply_retention(store, policy, now=self.now),
            lambda r: checks.check_retention(str(store_dir), r or {}, self.dates_1h, self.cutoff)
            + checks.check_store(str(store_dir), self.oracles[nxt], self.cutoff),
        )
        self.dropped = len((dropped or {}).get("1h", []))
        _, t_enc = self.op("encode", lambda: self.encode(store, arch), lambda _: self.check_archive(store_dir, arch))
        # dedup goes to a noop sink; the same plan's output was checked at set-up
        _, t_dd = self.op("dedup", lambda: self.noop(self.dedup_exact(self.spark.read.parquet(str(self.d / "docs")))))
        self.last_store = store_dir
        return t_build + t_ref + t_noop + t_ret + t_enc + t_dd

    def check_archive(self, store_dir: Path, arch: Path) -> list[str]:
        import checks
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        t = ds.dataset(str(arch)).to_table(columns=["url", "n_points"])
        h = checks.read_tier(str(store_dir), "1h")
        if pc.sum(t.column("n_points")).as_py() != h.num_rows:
            return ["archive point count differs from the 1h tier"]
        if set(t.column("url").to_pylist()) != set(h.column("url").to_pylist()):
            return ["archive urls differ from the 1h tier"]
        return []

    def unit_serve(self) -> float:
        import checks
        from pyspark.sql import functions as F

        total = 0.0
        for i in range(LOOKUPS_PER_ROUND):
            n = self.round * LOOKUPS_PER_ROUND + i
            tier = ("1h", "1d", "7d")[n % 3]
            url = self.lookup_urls[n % len(self.lookup_urls)]
            # one client's lookups run back to back: GC only before the first
            _, t = self.op(
                "lookup",
                lambda: self.store.read_tier(self.spark, tier).filter(F.col("url") == url).collect(),
                lambda rows: checks.check_lookup(rows or [], self.oracle[tier], url, tier),
                prepare=i == 0,
            )
            total += t
        # the scan and decode go to a noop sink; the same scan and decode
        # were collected and checked at set-up
        _, t = self.op("range_scan", lambda: self.noop(self.scan_df()))
        total += t
        _, t = self.op("decode", lambda: self.noop(self.decode_df()))
        total += t
        self.round += 1
        return total

    # ----------------------------------------------------------------- timing
    def timed(self) -> list[float]:
        """Units until ``--seconds`` of timed work; a unit is not started
        when it would end past the budget (the run still makes at least
        MIN_UNITS)."""
        self.unit_s = []
        while True:
            used = sum(self.unit_s)
            if len(self.unit_s) >= MIN_UNITS and used + median(self.unit_s) > self.seconds:
                break
            self.unit_s.append(self.unit())
        return list(self.unit_s)

    def store_bytes_per_point(self) -> float:
        base = self.last_store if self.workload == "ingest" else self.d / "store"
        import checks

        files = [p for t in ("1h", "1d", "7d") for p in (base / f"tier={t}").rglob("*.parquet")]
        points = sum(checks.read_tier(str(base), t).num_rows for t in ("1h", "1d", "7d"))
        return sum(p.stat().st_size for p in files) / points

    def end_to_end(self, units: list[float]) -> dict:
        return {
            "setup_s": self.setup_s,
            "ops_ok_ratio": (self.attempted - self.failed) / self.attempted,
            "unit_p50_s": median(units),
            "store_bytes_per_point": self.store_bytes_per_point(),
        }

    # ---------------------------------------------------------------- trace
    def traced(self, untraced: dict) -> dict:
        """Timed units again in a new Spark context with the event log on and
        every call tagged with its span; per-layer metrics from the log."""
        self.stop_spark(final=False)
        log_dir = self.scratch / "eventlog"
        self.start_spark(event_log=log_dir)
        app_id = self.spark.sparkContext.applicationId
        self.unit()  # re-warm the new context's Python workers, untagged
        self.untraced_spans = self.tracer.spans
        self.tracer = Tracer(self.spark.sparkContext)
        # one traced input preparation, against the warm untraced repetition
        g = self.scratch / "traced_inputs"
        t = time.perf_counter()
        self.make_inputs(g)
        inputs_traced = time.perf_counter() - t
        shutil.rmtree(g)
        rows = self.rows
        attempted, failed = self.attempted, self.failed
        units = self.timed()
        traced_e2e = self.end_to_end(units)
        traced_e2e["ops_ok_ratio"] = (
            (self.attempted - attempted - (self.failed - failed)) / max(self.attempted - attempted, 1)
        )
        if self.workload == "serve":
            self.extra_serve_spans()
        micro = self.compression_micro()
        self.stop_spark(final=False)
        log = EventLog(str(log_dir / app_id))
        m = self.layer_metrics(log, rows)
        m.update(micro)
        # against the warm untraced repetition (the first one is the cold JVM's)
        traced_e2e["setup_s"] = untraced["setup_s"] + inputs_traced - min(self.record["setup"]["inputs_s"])
        for k, v in untraced.items():
            m[f"overhead.{k}"] = traced_e2e[k] - v
        self.record["traced_units_s"] = units
        return m

    def extra_serve_spans(self) -> None:
        """Gap fill and derived stats forced separately, so each has its own
        span (the timed scan runs them in one query)."""
        from pyspark.sql import functions as F

        lo, hi = self.scan_window
        for _ in range(3):
            h = self.store.read_tier(self.spark, "1h").drop("bucket_date").filter(
                (F.col("bucket_ts") >= F.lit(str(lo)).cast("timestamp"))
                & (F.col("bucket_ts") < F.lit(str(hi)).cast("timestamp"))
            )
            self.op("gap_fill", lambda: self.noop(self.rollup.gap_fill_tier(h, "h")))
            self.op("derived_stats", lambda: self.noop(self.rollup.derived_stats(h)))

    def compression_micro(self) -> dict:
        """Spark-free timing of the Gorilla kernels on the 1h tier's arrays:
        the batched encoders over every url, and the per-block decoders."""
        import numpy as np
        import checks
        from pytimetk_spark.rollup import compression as C

        base = self.last_store if self.workload == "ingest" else self.d / "store"
        t = checks.read_tier(str(base), "1h")
        urls = t.column("url").to_numpy(zero_copy_only=False)
        ts = checks._ts(t.column("bucket_ts")) // 1_000_000
        cols = [t.column(c).to_numpy(zero_copy_only=False).astype("float64") for c in checks.CODEC_STATS]
        bounds = np.flatnonzero(urls[1:] != urls[:-1]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(urls)]))
        enc, dec = [], []
        for _ in range(3):
            t0 = time.perf_counter_ns()
            ts_blocks = C.encode_timestamps_many(ts, starts, ends)
            val_blocks = [C.encode_gorilla_many(c, starts, ends) for c in cols]
            enc.append(time.perf_counter_ns() - t0)
            t0 = time.perf_counter_ns()
            ts_out = [C.decode_timestamps(b) for b in ts_blocks]
            val_out = [[C.decode_gorilla(b) for b in blocks] for blocks in val_blocks]
            dec.append(time.perf_counter_ns() - t0)
        ok = np.array_equal(np.concatenate(ts_out), ts) and all(
            np.array_equal(np.concatenate(v).view("int64"), c.view("int64")) for v, c in zip(val_out, cols)
        )
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append("compression round trip is not bit-exact")
        n = len(urls)
        nbytes = sum(len(b) for b in ts_blocks) + sum(len(b) for bl in val_blocks for b in bl)
        return {
            "compression.encode_ns_per_point": median(enc) / n,
            "compression.decode_ns_per_point": median(dec) / n,
            "compression.bytes_per_point": nbytes / n,
        }

    def layer_metrics(self, log: EventLog, rows: int) -> dict:
        spans = [s for s in self.tracer.spans if s["end"] is not None]
        by_name = {n: [s for s in spans if s["name"] == n] for n in SPAN_NAMES}
        units = sorted({s["unit"] for s in spans if s.get("unit", -1) >= 0})
        m: dict[str, float] = {}

        def per_unit(names, value) -> float:
            """Median over traced units of Σ value(span) for spans named."""
            vals = [sum(value(s) for s in spans if s["name"] in names and s.get("unit") == u) for u in units]
            return median(vals) if any(vals) else 0.0

        def wall(s):
            return (s["end"] - s["start"]) / 1000.0

        def per_span(name, value) -> float:
            """Median over the spans named (0 when the workload has none)."""
            return median([value(s) for s in by_name[name]])

        summaries = {s["id"]: task_summary(log.tasks_of(log.jobs_of({s["id"]}))) for s in spans}
        for n in SPAN_NAMES:
            for k in ("task_s", "cpu_s", "gc_s", "spill_bytes", "skew"):
                m[f"{n}.{k}"] = per_span(n, lambda s: summaries[s["id"]][k])

        rollup_names = {"build", "refresh", "noop_resume"}
        phases = {s["id"]: rollup_phases(log, s) for s in spans if s["name"] in rollup_names}

        def ph(key):
            return lambda s: phases[s["id"]][key] / (1000.0 if key.endswith("_ms") else 1.0) if s["id"] in phases else 0.0

        m["store.fingerprint_s"] = per_unit(rollup_names, ph("fingerprint_ms"))
        m["store.fingerprint_input_bytes"] = per_unit(rollup_names, ph("fingerprint_input_bytes"))
        m["store.fine_s"] = per_unit(rollup_names, ph("fine_ms"))
        m["store.fine_input_bytes"] = per_unit(rollup_names, ph("fine_input_bytes"))
        m["store.count_s"] = per_unit(rollup_names, ph("count_ms"))
        m["store.coarse_s"] = per_unit(rollup_names, lambda s: ph("coarse_1d_ms")(s) + ph("coarse_7d_ms")(s))
        m["store.coarse_input_bytes"] = per_unit(
            rollup_names, lambda s: ph("coarse_1d_input_bytes")(s) + ph("coarse_7d_input_bytes")(s))
        m["store.driver_s"] = per_unit(rollup_names, ph("driver_ms"))
        m["store.manifests_read"] = per_unit(rollup_names, lambda s: s["counts"].get("manifests_read", 0))
        m["store.manifests_written"] = per_unit(rollup_names, lambda s: s["counts"].get("manifests_written", 0))
        m["store.days_reprocessed"] = per_unit(rollup_names, lambda s: s["counts"].get("days", 0))
        m["store.coarse_partitions_rewritten"] = per_unit(rollup_names, lambda s: s["counts"].get("coarse", 0))
        # the coverage furthest from 1 over every run_rollup span
        m["store.phase_coverage"] = max(
            (p["coverage"] for p in phases.values()), key=lambda c: abs(c - 1.0), default=1.0)
        m["store.unattributed_jobs"] = float(sum(p["unattributed_jobs"] for p in phases.values()))
        m["store.build_s"] = per_span("build", wall)
        m["store.refresh_s"] = per_span("refresh", wall)
        m["store.noop_resume_s"] = per_span("noop_resume", wall)

        m["tiers.raw_to_1h_s"] = per_unit({"build"}, ph("fine_ms"))
        m["tiers.raw_to_1h_shuffle_bytes"] = per_unit({"build"}, ph("fine_shuffle_bytes"))
        m["tiers.tier_to_tier_s"] = per_unit({"build"}, lambda s: ph("coarse_1d_ms")(s) + ph("coarse_7d_ms")(s))
        m["tiers.gap_fill_s"] = per_span("gap_fill", wall)
        m["tiers.gap_rows_added"] = float(getattr(self, "gap_rows", 0))
        m["tiers.derived_stats_s"] = per_span("derived_stats", wall)
        m["tiers.range_scan_s"] = per_span("range_scan", wall)
        py = "time to run Python workers"
        for n, key in (("encode", "tiers.encode"), ("decode", "tiers.decode")):
            m[f"{key}_s"] = per_span(n, wall)
            m[f"{key}_python_s"] = per_span(n, lambda s: log.stage_metric(log.jobs_of({s["id"]}), py) / 1000.0)

        m["read.lookup_s"] = per_span("lookup", wall)
        m["read.files_opened"] = per_span("lookup", lambda s: log.driver_metric(log.jobs_of({s["id"]}), "number of files read"))
        m["read.input_bytes"] = per_span("lookup", lambda s: summaries[s["id"]]["input_bytes"])
        m["read.driver_s"] = per_span(
            "lookup", lambda s: wall(s) - union_ms((j["start"], j["end"]) for j in log.jobs_of({s["id"]})) / 1000.0)

        m["retention.apply_s"] = per_span("retention", wall)
        m["retention.partitions_dropped"] = float(getattr(self, "dropped", 0))
        m["dedup.exact_s"] = per_span("dedup", wall)
        m["dedup.shuffle_bytes"] = per_span("dedup", lambda s: summaries[s["id"]]["shuffle_bytes"])
        m["dedup.rows_dropped"] = float(getattr(self, "dedup_dropped", 0))
        m["sources.generate_s"] = per_span("generate", wall)
        m["sources.rows"] = float(rows)
        return m

    # ------------------------------------------------------------------ run
    def run(self) -> dict:
        self.setup()
        units = self.timed()
        e2e = self.end_to_end(units)
        self.record["units_s"] = units
        metrics = self.traced(e2e) if self.trace else e2e
        return metrics

    def close(self) -> None:
        try:
            self.stop_spark(final=True)
        finally:
            shutil.rmtree(self.scratch, ignore_errors=True)
            parent = self.scratch.parent
            if parent.exists() and not any(parent.iterdir()):
                parent.rmdir()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True, help="timed work per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-store", action="store_true",
                   help="serve only: change one stored 1h value after set-up (self-check)")
    return p.parse_args(argv)


def versions(bench: Bench) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0], "spark": pyspark.__version__,
        "java": bench.java_version, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "numpy": numpy.__version__, "duckdb": duckdb.__version__,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, exit_on_signal)
    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.corrupt_store)
        metrics = bench.run()
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            stop_descendants()
    samples: dict[str, list] = {}
    for s in bench.untraced_spans + bench.tracer.spans:
        samples.setdefault(s["name"], []).append(round((s["end"] - s["start"]) / 1000.0, 6))
    record = {
        "host": {"nproc": len(os.sched_getaffinity(0)), "cores_used": CORES},
        "versions": versions(bench),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "input": {**bench.size, "rows": bench.rows},
        **bench.record, "op_samples_s": samples, "problems": bench.problems,
    }
    print(json.dumps({"record": record}))
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": bench.failed == 0 and not bench.problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
