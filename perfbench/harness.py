"""Shared machinery of the benchmark: environment, Spark session, timing
statistics, spans, the event-log reader, memory readings and the output
fingerprints every workload checks against an independent reference.

Nothing here imports ``mintpy_spark`` at module level; the workloads do,
after ``prepare_env`` has pointed every scratch directory into the
checkout's ``.perfbench_work``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = 1672531200  # 2023-01-01 UTC: the first timestamp of every generated input
TIERS = ("1h", "1d", "30d")
STAGINGS = 3  # inputs are staged this many times; setup_s takes the median

# one private work directory per process, so runs never share files
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
WORK = os.path.join(WORK_BASE, str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench_out")

# Spark driver heap for a 15 GB, 4-core machine (bench.py's 48g default
# does not fit). A fixed young generation and regions large enough that
# column batches are not humongous objects keep the resident size from
# following the collector's adaptive sizing from run to run.
DRIVER_MEM = "3g"
GC_OPTS = "-Xmn768m -XX:G1HeapRegionSize=16m"


def ncores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every directory Spark, the JVM and Python workers write to
    into the checkout, and make the package importable by workers."""
    if os.path.isdir(WORK):
        shutil.rmtree(WORK)
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["MINTPY_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    for k in ("OMP_NUM_THREADS", "MKL_NUM_THREADS", "OPENBLAS_NUM_THREADS"):
        os.environ[k] = "1"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def cleanup_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        os.rmdir(WORK_BASE)
    except OSError:
        pass  # another run is still using it


def start_spark(cores: int, trace_dir: str | None = None):
    """One local session with the engine's own defaults (session.get_spark)
    plus the benchmark's directory and logging settings."""
    from mintpy_spark.session import get_spark

    extra = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData {GC_OPTS}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if trace_dir is not None:
        os.makedirs(trace_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": trace_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the JVM this process launched and every Python worker it
    forked, and wait until each has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 15
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def noop(df) -> None:
    """Consume every column of every row without writing anything."""
    df.write.format("noop").mode("overwrite").save()


# -- statistics ---------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


# -- memory -------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(rest[1])].append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants: the
    Spark driver JVM, the Python worker daemon and its workers."""
    return sum(_hwm_kb(pid) for pid in _descendants(os.getpid())) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat:
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(dp, f))
    return total


# -- spans --------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; written once when the run ends. A disabled tracer
    records nothing, so untraced runs pay one attribute test per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        sp = Span(name, time.time(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "attrs": s.attrs,
                }) + "\n")


def wrap(owner, attr: str, tracer: Tracer, name: str, attrs=None) -> None:
    """Record a span around every call of ``owner.attr`` (a public
    function or method of the package), from outside the package.
    ``attrs(*args, **kwargs)``, when given, returns the span's attributes."""
    fn = getattr(owner, attr)

    def wrapped(*a, **kw):
        with tracer.span(name, **(attrs(*a, **kw) if attrs else {})):
            return fn(*a, **kw)

    wrapped.__wrapped__ = fn
    setattr(owner, attr, wrapped)


def unwrap(owner, attr: str) -> None:
    fn = getattr(owner, attr)
    if hasattr(fn, "__wrapped__"):
        setattr(owner, attr, fn.__wrapped__)


# -- Spark's own metrics: the event log ---------------------------------


@dataclass
class JobMetrics:
    """Task metrics and SQL metrics summed over a set of Spark jobs."""

    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    output_bytes: int = 0
    hash_exchanges: int = 0
    python_rows: float = 0.0
    # (node name, metric name, scan location) -> value in s / bytes / rows
    sql: dict = field(default_factory=lambda: defaultdict(float))

    def sql_sum(self, metric: str, node: str = "", loc: str = "") -> float:
        return sum(
            v for (n, m, lc), v in self.sql.items()
            if m == metric and node in n and loc in lc
        )

    def rows_by_node(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for (n, m, _lc), v in self.sql.items():
            if m == "number of output rows":
                out[n.strip()] += v
        return dict(out)


_PYTHON_NODES = ("InPandas", "ArrowEvalPython", "BatchEvalPython", "InArrow")
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


class EventLog:
    """Reads the plain JSON-lines event log of one stopped session."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.task_metrics: dict[int, list[dict]] = defaultdict(list)
        self.task_sql: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        self.plans: dict[int, dict] = {}
        self.extra_metrics: dict[int, list[dict]] = defaultdict(list)
        self.driver_accum: dict[int, dict[int, float]] = defaultdict(dict)
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
            and not os.path.basename(f).startswith(".")
        )
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "exec": int(eid) if eid is not None else None,
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            self.task_metrics[sid].append(e.get("Task Metrics") or {})
            acc = self.task_sql[sid]
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    try:
                        acc[a["ID"]] += float(a["Update"])
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            plan = self.plans.setdefault(e["executionId"], {"all": []})
            plan["final"] = e["sparkPlanInfo"]
            plan["all"].append(e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            self.extra_metrics[e["executionId"]].extend(e.get("sqlPlanMetrics", []))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, val in e.get("accumUpdates", []):
                self.driver_accum[e["executionId"]][acc_id] = float(val)

    @staticmethod
    def _walk(info: dict):
        """Plan nodes, each once: a reused exchange's child is the
        exchange it reuses, which the walk already met."""
        yield info
        if info["nodeName"] == "ReusedExchange":
            return
        for c in info.get("children", []):
            yield from EventLog._walk(c)

    def _metric_names(self, eid: int) -> dict[int, tuple]:
        out: dict[int, tuple] = {}
        for plan in self.plans.get(eid, {}).get("all", []):
            for node in self._walk(plan):
                loc = (node.get("metadata") or {}).get("Location", "")
                for m in node.get("metrics", []):
                    out[m["accumulatorId"]] = (
                        node["nodeName"], m["name"], loc, m.get("metricType", "sum")
                    )
        for m in self.extra_metrics.get(eid, []):
            out.setdefault(
                m["accumulatorId"], ("?", m["name"], "", m.get("metricType", "sum"))
            )
        return out

    def _final_nodes(self, eid: int):
        final = self.plans.get(eid, {}).get("final")
        return list(self._walk(final)) if final else []

    def _python_input_accs(self, eid: int) -> list[int]:
        """For each Python-evaluating node of the final plan, the row
        counter of the nearest descendant that has one: the rows that
        crossed into Python."""
        accs = []
        for node in self._final_nodes(eid):
            if not any(p in node["nodeName"] for p in _PYTHON_NODES):
                continue
            todo = list(node.get("children", []))
            while todo:
                child = todo.pop(0)
                hit = [m["accumulatorId"] for m in child.get("metrics", [])
                       if m["name"] in ("number of output rows", "records read")]
                if hit:
                    accs.append(hit[0])
                    break
                todo.extend(child.get("children", []))
        return accs

    def metrics(self, t0: float, t1: float) -> JobMetrics:
        """Metrics of every job submitted in [t0, t1] (epoch seconds)."""
        out = JobMetrics()
        jobs = {j for j, info in self.jobs.items() if t0 <= info["submit"] <= t1}
        execs = {self.jobs[j]["exec"] for j in jobs} - {None}
        vals: dict[int, float] = defaultdict(float)
        for sid, job in self.stage_job.items():
            if job not in jobs:
                continue
            for tm in self.task_metrics.get(sid, []):
                out.input_bytes += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                out.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                out.fetch_wait_s += tm.get("Shuffle Read Metrics", {}).get(
                    "Fetch Wait Time", 0) / 1000.0
                out.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                out.output_bytes += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for acc_id, val in self.task_sql.get(sid, {}).items():
                vals[acc_id] += val
        names: dict[int, tuple] = {}
        for eid in execs:
            names.update(self._metric_names(eid))
            for acc_id, val in self.driver_accum.get(eid, {}).items():
                vals[acc_id] += val
            out.hash_exchanges += sum(
                1 for n in self._final_nodes(eid)
                if n["nodeName"] == "Exchange"
                and "hashpartitioning" in n.get("simpleString", "")
            )
            out.python_rows += sum(vals.get(a, 0.0) for a in self._python_input_accs(eid))
        for acc_id, val in vals.items():
            if acc_id in names:
                node, metric, loc, typ = names[acc_id]
                out.sql[(node, metric, loc)] += val * _UNIT.get(typ, 1.0)
        return out


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# -- output fingerprints ------------------------------------------------


def md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


TIER_WIDTH = {"1h": 3600, "1d": 86400, "30d": 30 * 86400}


def spark_tier_fp(tier_df) -> tuple:
    """Order-free content fingerprint of a tier frame that DuckDB can
    reproduce: cell count, Σcnt, Σvsum, Σvmin, Σvmax and the sum of a
    32-bit md5 prefix of each cell's text form. Values are integral
    (byte lengths), so every term is exact."""
    from pyspark.sql import functions as F

    ep = F.unix_seconds(F.col("bucket_start").cast("timestamp"))
    cell = F.concat_ws(
        "|", F.col("url"), ep.cast("string"), F.col("cnt").cast("string"),
        *[F.col(c).cast("long").cast("string") for c in ("vsum", "vmin", "vmax")],
    )
    h = F.conv(F.substring(F.md5(cell), 1, 8), 16, 10).cast("long")
    r = tier_df.agg(
        F.count(F.lit(1)), F.sum("cnt"), F.sum(F.col("vsum").cast("long")),
        F.sum(F.col("vmin").cast("long")), F.sum(F.col("vmax").cast("long")),
        F.sum(h),
    ).first()
    return tuple(int(x or 0) for x in r)


def duck_tier_fp(con, source_sql: str, tier: str) -> tuple:
    """The same fingerprint computed by DuckDB straight from raw
    observations: ``source_sql`` yields (url, ep, v) with ``ep`` in epoch
    seconds and ``v`` the integral value."""
    w = TIER_WIDTH[tier]
    q = f"""
    WITH cells AS (
      SELECT url, ep - (ep % {w}) AS b, count(v) AS cnt, sum(v) AS vsum,
             min(v) AS vmin, max(v) AS vmax
      FROM ({source_sql}) GROUP BY url, ep - (ep % {w}))
    SELECT count(*), sum(cnt), sum(vsum), sum(vmin), sum(vmax),
      sum(('0x' || substr(md5(url || '|' || b || '|' || cnt || '|' || vsum
           || '|' || vmin || '|' || vmax), 1, 8))::BIGINT)
    FROM cells"""
    return tuple(int(x or 0) for x in con.sql(q).fetchone())


def duck_stored_tier_fp(con, parquet_glob: str) -> tuple:
    """``spark_tier_fp`` of a stored tier table, read by DuckDB."""
    q = f"""
    WITH c AS (SELECT url, epoch(bucket_start)::BIGINT AS b, cnt,
                      vsum::BIGINT AS vsum, vmin::BIGINT AS vmin, vmax::BIGINT AS vmax
               FROM read_parquet('{parquet_glob}'))
    SELECT count(*), sum(cnt), sum(vsum), sum(vmin), sum(vmax),
      sum(('0x' || substr(md5(url || '|' || b || '|' || cnt || '|' || vsum
           || '|' || vmin || '|' || vmax), 1, 8))::BIGINT)
    FROM c"""
    return tuple(int(x or 0) for x in con.sql(q).fetchone())


def rows_fp(rows) -> tuple:
    """Fingerprint of a collected range-query answer (url, cnt, vsum,
    vmin, vmax), comparable with ``duck_range``."""
    n = cnt = vs = h = 0
    for url, c, s, lo, hi in rows:
        n += 1
        cnt += int(c)
        vs += int(s)
        h += md5_32(f"{url}|{int(c)}|{int(s)}|{int(lo)}|{int(hi)}")
    return (n, cnt, vs, h)


def duck_range(con, source_sql: str, lo: int, hi: int) -> tuple:
    q = f"""
    SELECT url, count(v), sum(v), min(v), max(v) FROM ({source_sql})
    WHERE ep >= {lo} AND ep < {hi} GROUP BY url"""
    return rows_fp(con.sql(q).fetchall())


def file_fp(path: str) -> str:
    """sha1 over the sorted content of the parquet files under ``path``."""
    h = hashlib.sha1()
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# -- inputs and their reference -----------------------------------------


def stage_pages(spark, seed: int, num_urls: int, obs_per_url: int,
                partitions: int) -> tuple[str, list[float]]:
    """Write the ``gen_pages_bulk`` table STAGINGS times; keep the first
    copy. Returns its path and the staging times."""
    from mintpy_spark.datagen import gen_pages_bulk

    times, paths = [], []
    for i in range(STAGINGS):
        path = os.path.join(WORK, f"pages_{i}")
        t = time.perf_counter()
        gen_pages_bulk(
            spark, num_urls=num_urls, obs_per_url=obs_per_url, seed=seed,
            partitions=partitions,
        ).write.mode("overwrite").parquet(path)
        times.append(time.perf_counter() - t)
        paths.append(path)
    for path in paths[1:]:
        shutil.rmtree(path)
    return paths[0], times


class PagesReference:
    """DuckDB over a staged pages table: the tiers straight from its
    ``text`` column, without the engine's extraction or cascade."""

    def __init__(self, pages_path: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.glob = os.path.join(pages_path, "*.parquet")
        self.src = (
            f"SELECT url, epoch(warc_ts)::BIGINT AS ep, strlen(text) AS v "
            f"FROM read_parquet('{self.glob}')"
        )
        self.tier = {t: duck_tier_fp(self.con, self.src, t) for t in TIERS}
        self.pages, self.html_bytes, self.lo, self.hi = self.con.sql(
            f"SELECT count(*), sum(octet_length(html)), min(strlen(text)), max(strlen(text)) "
            f"FROM read_parquet('{self.glob}')"
        ).fetchone()

    def input_fp(self) -> tuple:
        """Order-free fingerprint of every staged column."""
        return self.con.sql(
            f"SELECT count(*), sum(('0x' || substr(md5(url || '|' || "
            f"epoch(warc_ts)::BIGINT || '|' || md5(html::VARCHAR) || '|' || text || "
            f"'|' || lang), 1, 8))::BIGINT) FROM read_parquet('{self.glob}')"
        ).fetchone()

    def close(self) -> None:
        self.con.close()


# -- the range-query path --------------------------------------------


def query_ranges(seed: int, n: int, lo_t: int, span: int) -> list[tuple[int, int]]:
    """Seeded [lo, hi) ranges in epoch seconds inside [lo_t, lo_t + span).
    Lengths cycle through four fixed shares of the span (plus seeded
    jitter) so every run asks the same mix of short and long ranges;
    starts fall on arbitrary seconds, so covers have hour, day and raw
    fringes."""
    rng = random.Random(seed * 1000003 + 17)
    out = []
    for k in range(n):
        length = min(span - 1, int(span * (0.1 + 0.25 * (k % 4))) + rng.randrange(3600))
        a = lo_t + rng.randrange(0, span - length)
        out.append((a, a + length))
    return out


def run_query(obs, tiers: dict, lo: int, hi: int, timer=None):
    """One routed range query (plan_range_cover + route_range_agg),
    consumed by collecting every output row."""
    from pyspark.sql import functions as F

    from mintpy_spark.functions.timefn import epoch_sec_to_iso
    from mintpy_spark.operators.rollup import route_range_agg

    t0 = time.perf_counter()
    df = route_range_agg(obs, tiers, epoch_sec_to_iso(lo), epoch_sec_to_iso(hi), "text_length")
    t1 = time.perf_counter()
    rows = df.select("url", "cnt", F.col("vsum").cast("long"),
                     F.col("vmin").cast("long"), F.col("vmax").cast("long")).collect()
    t2 = time.perf_counter()
    if timer is not None:
        timer.append((t1 - t0, t2 - t1))
    return rows, t2 - t0
