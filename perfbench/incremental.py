"""The incremental phase of ``stored_pipeline``: time-ordered
micro-batches of dense observations (no html), many per url-hour, so the
tiers compress.

Each timed batch file lands in two input directories and is folded
twice: into the stored tiers by
``streaming.tier_maintenance.maintain_tiers`` and through the streaming
Kalman filter by ``jobs/filter_job.run_filter``. After each commit a
seeded set of routed range queries reads the stored tiers
(``TierMaintainer.read_tier``). ``apply_delta`` rewrites every tier from
the last committed version, so per-batch cost grows with the store; the
traced run adds a backfill to show by how much.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from harness import (
    ROOT,
    STAGINGS,
    T0,
    TIERS,
    WORK,
    dir_bytes,
    duck_range,
    duck_stored_tier_fp,
    duck_tier_fp,
    median,
    query_ranges,
    rows_fp,
    run_query,
    spark_tier_fp,
)

NUM_URLS = 100
ROWS_PER_URL = 60  # per batch: ten observations per url-hour
WINDOW = 6 * 3600  # seconds of event time per batch
MAX_BATCHES = 10
MIN_BATCHES = 3
QUERIES_PER_COMMIT = 2
# The backfill of the traced run: one observation per url-hour for
# BACKFILL_URLS other urls over the BACKFILL_HOURS before T0. It reaches
# the tier fold only, after the small-store folds, so the timed folds
# rewrite a store many times the size of a micro-batch (apply_delta
# rewrites every tier on each batch).
BACKFILL_URLS = 500
BACKFILL_HOURS = 480
SCHEMA = "url string, warc_ts timestamp, text_length long"
Q, R = 0.04, 1.0


def _url(u: int) -> str:
    return f"https://domain{u % 40:03d}.example.com/page/{u:08d}"


def gen_batches(seed: int, out_dir: str) -> tuple[list[str], str]:
    """MAX_BATCHES micro-batch files, batch b holding every url's
    observations in event-time window b at distinct seconds per url, and
    the backfill file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("text_length", pa.int64())])

    def write(name: str, urls, ts_s, values) -> str:
        path = os.path.join(out_dir, name)
        pq.write_table(pa.table({
            "url": urls,
            "warc_ts": pa.array(ts_s.astype(np.int64) * 1_000_000, pa.timestamp("us", tz="UTC")),
            "text_length": values,
        }, schema=schema), path)
        return path

    urls = np.array([_url(u) for u in range(NUM_URLS)], dtype=object)
    paths = []
    for b in range(MAX_BATCHES):
        offs = np.sort(np.stack([rng.choice(WINDOW, ROWS_PER_URL, replace=False)
                                 for _ in range(NUM_URLS)]), axis=1)
        paths.append(write(f"batch-{b:05d}.parquet", np.repeat(urls, ROWS_PER_URL),
                           T0 + b * WINDOW + offs.ravel(),
                           rng.integers(200, 2000, NUM_URLS * ROWS_PER_URL)))
    n = BACKFILL_URLS * BACKFILL_HOURS
    hours = np.tile(np.arange(BACKFILL_HOURS), BACKFILL_URLS)
    backfill = write(
        "backfill.parquet",
        np.repeat(np.array([_url(NUM_URLS + u) for u in range(BACKFILL_URLS)], dtype=object),
                  BACKFILL_HOURS),
        T0 - 3600 * (BACKFILL_HOURS - hours) + rng.integers(0, 3600, n),
        rng.integers(200, 2000, n),
    )
    return paths, backfill


class Loop:
    """The input directories, the two folds and the store of one run. Every
    file lands in the tier fold's input; timed micro-batches also land in
    the stream's."""

    def __init__(self, name: str, batches: list[str], backfill: str) -> None:
        base = os.path.join(WORK, name)
        self.batches = batches
        self.backfill = backfill
        self.tiers_in = os.path.join(base, "in_tiers")
        self.stream_in = os.path.join(base, "in_stream")
        self.store = os.path.join(base, "store")
        self.ck_m = os.path.join(base, "ck_maintain")
        self.ck_k = os.path.join(base, "ck_kalman")
        self.levels = os.path.join(base, "levels")
        os.makedirs(self.tiers_in, exist_ok=True)
        os.makedirs(self.stream_in, exist_ok=True)
        self.n = 0  # micro-batches arrived
        self.small_store_bytes = 0  # the store fold.small rewrote
        self.first_s = T0  # the first event second in the store
        self.arrived: list[str] = []  # every file the tier fold has seen
        self.streamed: list[str] = []  # every file the stream has seen

    @staticmethod
    def _land(src: str, dst_dir: str) -> str:
        """Land a file atomically (hidden name, then rename)."""
        dst = os.path.join(dst_dir, os.path.basename(src))
        tmp = os.path.join(dst_dir, "." + os.path.basename(src))
        shutil.copyfile(src, tmp)
        os.rename(tmp, dst)
        return dst

    def arrive(self, stream: bool = True) -> str:
        """The next micro-batch, into the tier fold's input and, when
        ``stream``, the stream's."""
        src = self.batches[self.n]
        if stream:
            self.streamed.append(self._land(src, self.stream_in))
        self.arrived.append(self._land(src, self.tiers_in))
        self.n += 1
        return src

    def arrive_backfill(self) -> None:
        self.arrived.append(self._land(self.backfill, self.tiers_in))
        self.first_s = T0 - 3600 * BACKFILL_HOURS

    def fold(self, spark, tr, span: str = "fold") -> float:
        from mintpy_spark.streaming.tier_maintenance import maintain_tiers

        with tr.span(span, batch=len(self.arrived) - 1):
            t = time.perf_counter()
            maintain_tiers(spark, self.tiers_in, self.store, self.ck_m, schema=SCHEMA)
            return time.perf_counter() - t

    def stream(self, spark, tr) -> float:
        from filter_job import run_filter

        with tr.span("stream", batch=self.n - 1):
            t = time.perf_counter()
            run_filter(spark, self.stream_in, self.levels, self.ck_k, SCHEMA,
                       "text_length", "url", "warc_ts", Q, R)
            return time.perf_counter() - t

    def version_dir(self, spark) -> str:
        from mintpy_spark.streaming.tier_maintenance import TierMaintainer

        v = TierMaintainer(self.store).committed_version(spark)
        return os.path.join(self.store, f"v{v:012d}")


class Reference:
    """DuckDB over the arrived input files."""

    def __init__(self) -> None:
        import duckdb

        self.con = duckdb.connect()

    @staticmethod
    def src(loop: Loop, files: list[str] | None = None) -> str:
        """(url, ep, v) of ``files``, by default every file the tier fold
        has seen."""
        files = ", ".join(f"'{p}'" for p in (loop.arrived if files is None else files))
        return (f"SELECT url, epoch(warc_ts)::BIGINT AS ep, text_length AS v "
                f"FROM read_parquet([{files}])")


def stage(seed: int) -> tuple[list[str], str, list[float]]:
    """Generate the input files STAGINGS times; keep the first copy."""
    times, staged = [], []
    for i in range(STAGINGS):
        t = time.perf_counter()
        staged.append(gen_batches(seed, os.path.join(WORK, f"batches_{i}")))
        times.append(time.perf_counter() - t)
    for i in range(1, STAGINGS):
        shutil.rmtree(os.path.join(WORK, f"batches_{i}"))
    return *staged[0], times


def start(spark, batches: list[str], backfill: str, name: str, tr,
          growth: bool = False) -> Loop:
    """The untimed initial tier build from batch 0; the stream starts with
    the first timed batch, whose fold, stream batch and first query also
    carry the JIT's and the Python workers' warm-up (the medians of the
    timed batches leave it out). With ``growth`` (the traced run) two more
    micro-batches are folded into the small store before the backfill
    arrives, the first to warm the refresh path and the second measured
    (span ``fold.small``; the stream sees neither), so the timed folds
    rewrite a store many times larger and the traced apply_delta shows
    what the store's size costs."""
    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    loop = Loop(name, batches, backfill)
    loop.arrive(stream=False)
    loop.fold(spark, tr)
    if growth:
        loop.arrive(stream=False)
        loop.fold(spark, tr)
        loop.arrive(stream=False)
        loop.small_store_bytes = dir_bytes(loop.version_dir(spark))
        loop.fold(spark, tr, "fold.small")
        loop.arrive_backfill()
        loop.fold(spark, tr)
    return loop


def measure(ctx, spark, loop: Loop, ref: Reference, seconds: float, qtimer=None):
    """Timed micro-batches until ``seconds`` have passed and MIN_BATCHES
    have run: the tier fold, the stream fold, then QUERIES_PER_COMMIT
    routed queries over the store, backfill included."""
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    folds, streams, qtimes, deltas = [], [], [], []
    m = TierMaintainer(loop.store)
    lo_t = loop.first_s
    t_end = time.perf_counter() + seconds
    while (time.perf_counter() < t_end or len(folds) < MIN_BATCHES) and loop.n < len(loop.batches):
        delta = os.path.getsize(loop.arrive())
        folds.append(loop.fold(spark, ctx.tracer))
        deltas.append((delta, dir_bytes(loop.version_dir(spark))))
        streams.append(loop.stream(spark, ctx.tracer))
        obs = spark.read.schema(SCHEMA).parquet(loop.tiers_in)
        tiers = {t: m.read_tier(spark, t) for t in TIERS}
        src = ref.src(loop)
        span = T0 + loop.n * WINDOW - lo_t
        for k, (lo, hi) in enumerate(
            query_ranges(ctx.seed * 100 + loop.n, QUERIES_PER_COMMIT, lo_t, span)
        ):
            with ctx.tracer.span("query", k=k, lo=lo, hi=hi):
                rows, dt = run_query(obs, tiers, lo, hi, qtimer)
            qtimes.append(dt)
            ctx.op(rows_fp(rows) == duck_range(ref.con, src, lo, hi), "range query")
    return folds, streams, qtimes, deltas


def check(ctx, spark, loop: Loop, ref: Reference, n_folds: int, n_streams: int) -> dict:
    """Final store == build_tiers over every file == DuckDB; Kalman
    levels == the batch kalman_level over the micro-batches; no row
    dropped by the stream."""
    import numpy as np

    from mintpy_spark.operators.kalman import kalman_level
    from mintpy_spark.operators.rollup import build_tiers

    vdir = loop.version_dir(spark)
    rebuilt = build_tiers(spark.read.schema(SCHEMA).parquet(loop.tiers_in), "text_length")
    store_ok = True
    for t in TIERS:
        stored = duck_stored_tier_fp(ref.con, os.path.join(vdir, f"tier_{t}", "*.parquet"))
        raw = duck_tier_fp(ref.con, ref.src(loop), t)
        store_ok &= stored == raw == spark_tier_fp(rebuilt[t])
    for _ in range(n_folds):
        ctx.op(store_ok, "tier fold")

    got = ref.con.sql(
        f"SELECT url, rn, level FROM read_parquet('{os.path.join(loop.levels, '*.parquet')}') "
        f"ORDER BY url, rn").fetchall()
    streamed = spark.read.schema(SCHEMA).parquet(loop.stream_in)
    want = kalman_level(streamed, "text_length", key="url", ts="warc_ts", q=Q, r=R).orderBy(
        "url", "rn").collect()
    rows_in = ref.con.sql(
        f"SELECT count(*) FROM ({ref.src(loop, loop.streamed)})").fetchone()[0]
    same = len(got) == len(want) and all(
        a[0] == b[0] and a[1] == b[1] for a, b in zip(got, want)
    ) and np.array_equal(np.array([g[2] for g in got]), np.array([w[2] for w in want]))
    dropped = rows_in - len(got)
    for _ in range(n_streams):
        ctx.op(same and dropped == 0, "stream fold")
    return {"rows_in": rows_in, "rows_out": len(got), "rows_dropped": dropped,
            "store_ok": store_ok, "kalman_ok": same}


def fill_layers(ctx, ev, loop: Loop, t_measure: float, streams: list[float],
                deltas: list[tuple[int, int]], checks: dict, store_bytes: int,
                qtimer: list[tuple[float, float]]) -> None:
    """Per-layer metrics of the incremental phase from its spans (fold,
    stream, apply_delta, query; those after ``t_measure`` are the timed
    batches'), the query timer's (plan, exec) pairs and the event log.
    ``apply_delta`` growth: ``fold.small`` folds into the small store
    (first), the last timed batch into the store with the backfill (last)."""
    from mintpy_spark.functions.timefn import epoch_sec_to_iso
    from mintpy_spark.operators.rollup import plan_range_cover

    spans = ctx.tracer.spans
    layer = ctx.layer
    small = next(s for s in spans if s.name == "fold.small")
    applies = [s for s in spans if s.name == "apply_delta"]
    timed = [s.dur for s in applies if s.start >= t_measure]
    layer["fold.apply_delta_s"] = median(timed)
    layer["fold.apply_delta_first_s"] = next(
        s.dur for s in applies if small.start <= s.start and s.end <= small.end)
    layer["fold.apply_delta_last_s"] = timed[-1]
    layer["fold.bytes_written"] = median([v for _d, v in deltas])
    layer["fold.write_amp"] = median([v / d for d, v in deltas])
    layer["fold.store_bytes"] = store_bytes

    stream_m = [ev.metrics(s.start, s.end) for s in spans
                if s.name == "stream" and s.start >= t_measure]
    sm = stream_m[len(stream_m) // 2]
    layer["stream.batch_s"] = median(streams)
    layer["stream.rows_in"] = checks["rows_in"]
    layer["stream.rows_out"] = checks["rows_out"]
    layer["stream.rows_dropped"] = checks["rows_dropped"]
    layer["stream.state_bytes"] = dir_bytes(os.path.join(loop.ck_k, "state"))
    layer["stream.python_total_s"] = sm.sql_sum("time to run Python workers")
    layer["stream.rows_to_python"] = sm.python_rows

    qs = [s for s in spans if s.name == "query" and s.start >= t_measure]
    per_q = [ev.metrics(s.start, s.end) for s in qs]
    layer["query.plan_s"] = median([p for p, _e in qtimer])
    layer["query.exec_s"] = median([e for _p, e in qtimer])
    layer["query.cover_pieces"] = median([
        len(plan_range_cover(epoch_sec_to_iso(s.attrs["lo"]), epoch_sec_to_iso(s.attrs["hi"])))
        for s in qs
    ])
    tier_rows = [m.sql_sum("number of output rows", "Scan", "tier_") for m in per_q]
    layer["query.tier_rows_read"] = median(tier_rows)
    layer["query.raw_rows_read"] = median(
        [m.sql_sum("number of output rows", "Scan") - t for m, t in zip(per_q, tier_rows)])
    ctx.report.update(
        apply_delta_s=[s.dur for s in applies], small_store_bytes=loop.small_store_bytes,
        version_bytes_per_batch=[v for _d, v in deltas], **checks,
    )
