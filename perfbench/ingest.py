"""Workload ``ingest_cascade``: the paper's headline throughput.

Pages shaped like ``gen_pages_bulk`` output (about 1 KB of body text per
page, one observation per url-hour at most, Zipf-ish domain skew) are
staged as parquet. Each timed pass runs
``pages_to_obs_extracted -> repartition(hash(url)) -> 1h -> 1d -> 30d``
and returns a fingerprint that consumes every partial column of every
tier. No store writes and no Python run inside a pass. Each timed
iteration also runs the scan alone, the obs derivation alone (scan +
extraction), the tier cascade alone over cached obs and one routed range
query over the tiers held in memory; every output is checked against
DuckDB.
"""

from __future__ import annotations

import os
import time

from harness import (
    T0,
    TIERS,
    WORK,
    EventLog,
    PagesReference,
    duck_range,
    jvm_gc_s,
    median,
    noop,
    peak_rss_mb,
    query_ranges,
    rows_fp,
    run_query,
    spark_tier_fp,
    stage_pages,
    start_spark,
)

NUM_URLS = 500
OBS_PER_URL = 56
MIN_ITERATIONS = 5
MAX_ITERATIONS = 40
WARM_ITERATIONS = 1
SPAN = 365 * 86400


def stage(spark, seed: int, cores: int) -> tuple[str, list[float]]:
    return stage_pages(spark, seed, NUM_URLS, OBS_PER_URL, 2 * cores)


def build_tiers_from(pages, cores: int):
    """The ingest plan: obs extracted from pages, one exchange on
    hash(url), then the 1h -> 1d -> 30d cascade."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.observe import pages_to_obs_extracted
    from mintpy_spark.operators.rollup import build_tiers

    obs = (
        pages_to_obs_extracted(pages)
        .select("url", "warc_ts", "text_length")
        .repartition(2 * cores, F.col("url"))
    )
    return obs, build_tiers(obs, "text_length")


def _fingerprint(tiers: dict) -> tuple:
    """(cells, Σcnt, Σvsum, min vmin, max vmax, xor of row hashes) per
    tier, all three in one query, so every partial column is consumed."""
    from pyspark.sql import functions as F

    def stats(t: str):
        df = tiers[t]
        return df.agg(
            F.count(F.lit(1)).alias(f"n{t}"),
            F.sum("cnt").alias(f"c{t}"),
            F.sum("vsum").cast("long").alias(f"s{t}"),
            F.min("vmin").cast("long").alias(f"lo{t}"),
            F.max("vmax").cast("long").alias(f"hi{t}"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias(f"x{t}"),
        )

    return tuple(stats("1h").crossJoin(stats("1d")).crossJoin(stats("30d")).collect()[0])


def cascade_pass(spark, pages_path: str, cores: int) -> tuple:
    """One timed pass: extract -> exchange -> three tiers, fingerprinted
    (the three tier branches reuse one exchange)."""
    return _fingerprint(build_tiers_from(spark.read.parquet(pages_path), cores)[1])


def _epoch(c: str):
    from pyspark.sql import functions as F

    return F.unix_seconds(F.col(c).cast("timestamp"))


def scan_pass(spark, pages_path: str) -> tuple:
    """Read every column of every staged page (the input-read floor):
    row count, bytes of each string column, first and last timestamp."""
    from pyspark.sql import functions as F

    return tuple(spark.read.parquet(pages_path).agg(
        F.count(F.lit(1)),
        *[F.sum(F.octet_length(c)) for c in ("url", "html", "text", "lang")],
        F.min(_epoch("warc_ts")), F.max(_epoch("warc_ts")),
    ).collect()[0])


class Reference(PagesReference):
    def __init__(self, pages_path: str) -> None:
        super().__init__(pages_path)
        self.scan = tuple(self.con.sql(
            f"SELECT count(*), sum(strlen(url)), sum(octet_length(html)), sum(strlen(text)), "
            f"sum(strlen(lang)), epoch(min(warc_ts))::BIGINT, epoch(max(warc_ts))::BIGINT "
            f"FROM read_parquet('{self.glob}')").fetchone())

    def derive_ok(self, got: tuple) -> bool:
        """Rows, Σtext_length (Σvsum of every tier), url bytes, time range."""
        n, url_bytes, _h, _t, _l, t_lo, t_hi = self.scan
        return got == (n, self.tier["1h"][2], url_bytes, t_lo, t_hi)

    def pass_ok(self, fp: tuple) -> bool:
        """Cells, Σcnt and Σvsum of each tier, and the value range every
        tier must share. The xor term is compared across passes by the
        caller."""
        for i, t in enumerate(TIERS):
            n, c, s, _lo, _hi, _x = fp[6 * i: 6 * i + 6]
            if (n, c, s) != self.tier[t][:3]:
                return False
        return {fp[3], fp[9], fp[15]} == {self.lo} and {fp[4], fp[10], fp[16]} == {self.hi}


def cached_obs(spark, pages_path: str, cores: int):
    """The exchanged obs projection, cached: the input of the fold op."""
    obs, _tiers = build_tiers_from(spark.read.parquet(pages_path), cores)
    obs = obs.cache()
    obs.count()
    return obs


def fold_pass(obs) -> tuple:
    """The three-tier cascade alone, over cached obs (already hash
    partitioned by url), fingerprinted like a full pass."""
    from mintpy_spark.operators.rollup import build_tiers

    return _fingerprint(build_tiers(obs, "text_length"))


def derive_pass(spark, pages_path: str) -> tuple:
    """obs derivation alone: scan + extraction, every obs column consumed
    by an aggregate that DuckDB can check."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.observe import pages_to_obs_extracted

    return tuple(pages_to_obs_extracted(spark.read.parquet(pages_path)).agg(
        F.count(F.lit(1)), F.sum("text_length"), F.sum(F.octet_length("url")),
        F.min(_epoch("warc_ts")), F.max(_epoch("warc_ts")),
    ).collect()[0])


def query_tiers(obs) -> dict:
    """Materialized tiers for the range queries. localCheckpoint, not
    cache: a cached plan would be substituted into the fold op."""
    from mintpy_spark.operators.rollup import build_tiers

    return {t: df.localCheckpoint(eager=True) for t, df in build_tiers(obs, "text_length").items()}


class Inputs:
    """What the timed operations read: the staged pages and, in the
    untraced run, the cached obs, the materialized tiers and the query
    ranges."""

    def __init__(self, spark, pages_path: str, cores: int, seed: int, full: bool) -> None:
        self.spark, self.pages_path, self.cores = spark, pages_path, cores
        self.obs = cached_obs(spark, pages_path, cores) if full else None
        self.tiers = query_tiers(self.obs) if full else None
        self.ranges = query_ranges(seed, MAX_ITERATIONS, T0, SPAN)

    def ops(self) -> dict:
        """The timed operations of iteration k, by name; each returns the
        output its check reads."""
        spark, path = self.spark, self.pages_path
        ops = {"pass": lambda k: cascade_pass(spark, path, self.cores)}
        if self.obs is not None:
            ops.update(
                scan=lambda k: scan_pass(spark, path),
                derive=lambda k: derive_pass(spark, path),
                fold=lambda k: fold_pass(self.obs),
                query=lambda k: run_query(self.obs, self.tiers, *self.ranges[k])[0],
            )
        return ops


def _setup(ctx):
    t = time.perf_counter()
    spark = start_spark(ctx.cores)
    session_s = time.perf_counter() - t
    pages_path, stagings = stage(spark, ctx.seed, ctx.cores)
    t = time.perf_counter()
    inputs = Inputs(spark, pages_path, ctx.cores, ctx.seed, full=True)
    for k in range(WARM_ITERATIONS):  # the JIT's first, slowest repetitions
        for fn in inputs.ops().values():
            fn(k)
    warm_s = time.perf_counter() - t
    ctx.setup_s = session_s + median(stagings) + warm_s
    ctx.report["setup_parts_s"] = dict(session=session_s, staging=stagings, warm=warm_s)
    return inputs


def _measure(ctx, inputs: Inputs, first: int):
    """Iterations ``first``, ``first`` + 1, ... until ctx.seconds have
    passed and MIN_ITERATIONS have run. Returns the times and the outputs
    of each op, by op name."""
    ops = inputs.ops()
    times = {k: [] for k in ops}
    outs = {k: [] for k in ops}
    t_end = time.perf_counter() + ctx.seconds
    k = first
    while (time.perf_counter() < t_end or k - first < MIN_ITERATIONS) and k < MAX_ITERATIONS:
        for name, fn in ops.items():
            with ctx.tracer.span(name):
                t = time.perf_counter()
                outs[name].append(fn(k))
                times[name].append(time.perf_counter() - t)
        k += 1
    return times, outs


def run(ctx) -> None:
    t0 = time.perf_counter()
    inputs = _setup(ctx)
    t1 = time.perf_counter()
    s, outs = _measure(ctx, inputs, WARM_ITERATIONS)
    t2 = time.perf_counter()
    ctx.rss_mb = peak_rss_mb()

    # checks (untimed): DuckDB over the staged parquet
    ref = Reference(inputs.pages_path)
    xor = {tuple(fp[5::6]) for fp in outs["pass"] + outs["fold"]}
    tiers_ok = all(spark_tier_fp(df) == ref.tier[t] for t, df in inputs.tiers.items())
    for fp in outs["pass"]:
        ctx.op(ref.pass_ok(fp) and len(xor) == 1 and tiers_ok, "cascade pass")
    for fp in outs["fold"]:
        ctx.op(ref.pass_ok(fp) and len(xor) == 1, "fold over cached obs")
    for got in outs["scan"]:
        ctx.op(got == ref.scan, "scan")
    for got in outs["derive"]:
        ctx.op(ref.derive_ok(got), "obs derivation")
    for (lo, hi), rows in zip(inputs.ranges[WARM_ITERATIONS:], outs["query"]):
        ctx.op(rows_fp(rows) == duck_range(ref.con, ref.src, lo, hi), "range query")
    pages = ref.pages
    ref.close()
    inputs.spark.stop()
    ctx.report["phase_s"] = dict(setup=t1 - t0, iterations=t2 - t1,
                                 checks=time.perf_counter() - t2)

    p50 = median(s["pass"])
    ctx.e2e(
        rows_per_s=pages / p50,
        main_p50_s=p50,
        aux_p50_s=median(s["scan"]),
        fold_p50_s=median(s["fold"]),
        derive_p50_s=median(s["derive"]),
        query_p50_s=median(s["query"]),
    )
    ctx.report.update(
        pages=pages, pages_per_s=pages / p50, **{f"{k}_s": v for k, v in s.items()},
        query_count=len(s["query"]),
    )


def _prefixes(spark, pages_path: str, cores: int) -> dict:
    """Lazy layers timed as prefixes to a noop sink: scan, + extract,
    + exchange, + the three tiers."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.observe import pages_to_obs_extracted

    pages = spark.read.parquet(pages_path)
    obs = pages_to_obs_extracted(pages).select("url", "warc_ts", "text_length")
    _o, tiers = build_tiers_from(pages, cores)
    all_tiers = tiers["1h"].unionByName(tiers["1d"]).unionByName(tiers["30d"])
    return {
        "scan": lambda: noop(pages),
        "extract": lambda: noop(obs),
        "exchange": lambda: noop(obs.repartition(2 * cores, F.col("url"))),
        "tiers": lambda: noop(all_tiers),
    }


def _timed_passes(spark, pages_path: str, cores: int, n: int) -> list[float]:
    cascade_pass(spark, pages_path, cores)  # warm
    out = []
    for _ in range(n):
        t = time.perf_counter()
        cascade_pass(spark, pages_path, cores)
        out.append(time.perf_counter() - t)
    return out


def trace(ctx) -> None:
    """Per-layer run: a traced session (event log + spans) gives the
    layers; an untraced session in the same JVM gives the overhead
    baseline; a local[1] session gives the scaling leg."""
    from pyspark.sql import functions as F

    from mintpy_spark.operators.observe import pages_to_obs_extracted

    tr = ctx.tracer
    log_dir = os.path.join(WORK, "eventlog", "traced")
    spark = start_spark(ctx.cores, trace_dir=log_dir)
    pages_path, _ = stage(spark, ctx.seed, ctx.cores)
    for _ in range(2):
        cascade_pass(spark, pages_path, ctx.cores)  # warm
    gc0 = jvm_gc_s(spark)
    fps = _measure(ctx, Inputs(spark, pages_path, ctx.cores, ctx.seed, full=False), 0)[1]["pass"]
    gc_s = (jvm_gc_s(spark) - gc0) / len(fps)
    prefixes = _prefixes(spark, pages_path, ctx.cores)
    for _rep in range(2):
        for name, fn in prefixes.items():
            with tr.span(f"prefix.{name}"):
                fn()
    null_rows = pages_to_obs_extracted(spark.read.parquet(pages_path)).where(
        F.col("text_length").isNull()
    ).count()
    spark.stop()

    spark = start_spark(ctx.cores)
    plain = _timed_passes(spark, pages_path, ctx.cores, 3)
    spark.stop()
    spark = start_spark(1)
    one = _timed_passes(spark, pages_path, 1, 2)
    spark.stop()

    ref = Reference(pages_path)
    for fp in fps:
        ctx.op(ref.pass_ok(fp), "cascade pass")
    ev = EventLog(log_dir)
    pass_spans = [sp for sp in tr.spans if sp.name == "pass"]
    per_pass = [ev.metrics(sp.start, sp.end) for sp in pass_spans]
    m = per_pass[len(per_pass) // 2]
    pre = {k: median(tr.durations(f"prefix.{k}")) for k in prefixes}
    traced = median([sp.dur for sp in pass_spans])
    layer = ctx.layer
    layer["sources.scan_s"] = pre["scan"]
    layer["sources.scan_bytes"] = m.sql_sum("size of files read", "Scan")
    layer["extract.self_s"] = pre["extract"] - pre["scan"]
    layer["extract.bytes_in"] = ref.html_bytes
    layer["extract.null_rows"] = null_rows
    layer["exchange.self_s"] = pre["exchange"] - pre["extract"]
    layer["exchange.count"] = m.hash_exchanges
    layer["exchange.shuffle_bytes"] = m.shuffle_write_bytes
    layer["exchange.fetch_wait_s"] = m.fetch_wait_s
    layer["exchange.spill_bytes"] = m.spill_bytes
    layer["rollup.self_s"] = pre["tiers"] - pre["exchange"]
    layer["rollup.rows_1h"], layer["rollup.rows_1d"], layer["rollup.rows_30d"] = (
        fps[0][0], fps[0][6], fps[0][12]
    )
    layer["rollup.obs_per_1h_row"] = ref.pages / fps[0][0]
    layer["jvm.gc_s"] = gc_s
    layer["ingest.pass_s"] = traced
    layer["ingest.extract_share"] = layer["extract.self_s"] / pre["tiers"]
    layer["ingest.scaling_eff"] = (median(one) / median(plain)) / ctx.cores
    layer["trace.overhead_s"] = traced - median(plain)
    ctx.repeat_check(per_pass)
    ctx.report.update(
        prefix_s=pre, untraced_pass_s=plain, traced_pass_s=[sp.dur for sp in pass_spans],
        local1_pass_s=one, pages=ref.pages,
    )
    ref.close()

