"""Workload ``stored_pipeline``: the store's life, in two phases.

1. The incremental phase (``incremental.py``): time-ordered micro-batches
   folded by ``maintain_tiers`` and the streaming Kalman filter, with
   routed range queries over the maintained tiers after each commit.
2. The pipeline phase, ``run_pipeline`` from an empty store: the only
   path that writes through ``sources.tables.TableStore`` and
   ``plans.checkpoint``, crosses the Python seam in ``codecs.blocks``, and
   resumes. A cycle runs the whole pipeline cold into a fresh store
   (pages -> obs -> 1h/1d/30d tiers -> blocks -> velocity), then deletes a
   fixed set of partitions of the mid stage ``tier_1d`` with their
   checkpoint rows and reruns the pipeline, which recomputes exactly the
   lost partitions.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import incremental
from harness import (
    TIERS,
    WORK,
    EventLog,
    PagesReference,
    dir_bytes,
    duck_stored_tier_fp,
    file_fp,
    jvm_gc_s,
    median,
    noop,
    peak_rss_mb,
    percentile,
    stage_pages,
    start_spark,
    unwrap,
    wrap,
)

NUM_URLS = 30
OBS_PER_URL = 30
BUCKETS = 4
LOST_STAGE = "tier_1d"
LOST_PARTS = (1, 3)
STAGES = ("obs", "tier_1h", "tier_1d", "tier_30d", "blocks", "velocity")
MIN_CYCLES = 3


def drop_partitions(root: str) -> None:
    """Crash simulation: the lost partitions' directories and their
    checkpoint rows disappear, as if their rename never happened."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mintpy_spark.plans.checkpoint import SCHEMA

    for p in LOST_PARTS:
        shutil.rmtree(os.path.join(root, LOST_STAGE, f"part_id={p}"))
    ckdir = os.path.join(root, "_checkpoint")
    for f in os.listdir(ckdir):
        path = os.path.join(ckdir, f)
        t = pq.read_table(path).to_pandas()
        keep = ~((t["stage"] == LOST_STAGE) & (t["part_id"].isin(LOST_PARTS)))
        if keep.all():
            continue
        os.remove(path)
        if keep.any():
            pq.write_table(pa.Table.from_pandas(t[keep], schema=SCHEMA, preserve_index=False), path)


class Reference(PagesReference):
    """Adds Python's sha1 of every page's text and the stored-table checks."""

    def __init__(self, pages_path: str) -> None:
        super().__init__(pages_path)
        rows = self.con.sql(
            f"SELECT url, epoch_us(warc_ts), text FROM read_parquet('{self.glob}')"
        ).fetchall()
        self.sha = {(u, ts): hashlib.sha1(t.encode()).hexdigest() for u, ts, t in rows}

    def table(self, root: str, name: str) -> str:
        return os.path.join(root, name, "*", "*.parquet")

    def tiers_ok(self, root: str) -> bool:
        return all(
            duck_stored_tier_fp(self.con, self.table(root, f"tier_{t}")) == self.tier[t]
            for t in TIERS
        )

    def checkpoint_ok(self, root: str) -> bool:
        """Complete checkpoint row_counts sum to each table's row count."""
        ck = os.path.join(root, "_checkpoint", "*.parquet")
        for st in STAGES:
            claimed = self.con.sql(
                f"SELECT coalesce(sum(row_count), 0) FROM read_parquet('{ck}') "
                f"WHERE stage = '{st}' AND status = 'complete'"
            ).fetchone()[0]
            actual = self.con.sql(
                f"SELECT count(*) FROM read_parquet('{self.table(root, st)}')"
            ).fetchone()[0]
            if claimed != actual:
                return False
        return True

    def sha_ok(self, root: str) -> bool:
        """obs.text_sha (sha1 of the extracted text) equals sha1(text)."""
        got = self.con.sql(
            f"SELECT url, epoch_us(warc_ts), text_sha "
            f"FROM read_parquet('{self.table(root, 'obs')}')"
        ).fetchall()
        return len(got) == self.pages and all(self.sha.get((u, ts)) == h for u, ts, h in got)


def _untouched(root: str) -> dict[str, str]:
    return {st: file_fp(os.path.join(root, st)) for st in STAGES if st != LOST_STAGE}


def cycle(ctx, spark, pages, ref, i: int) -> tuple[float, float, str]:
    """One cold run into a fresh store, then one crash-and-resume round
    on it; both runs checked."""
    from mintpy_spark.plans.pipeline import run_pipeline

    root = os.path.join(WORK, f"store_{i}")
    tr = ctx.tracer
    with tr.span("cold", i=i):
        t = time.perf_counter()
        run_pipeline(spark, pages, root, buckets=BUCKETS)
        cold = time.perf_counter() - t
    ctx.op(ref.tiers_ok(root) and ref.checkpoint_ok(root) and ref.sha_ok(root), "cold pipeline")
    before = _untouched(root)
    drop_partitions(root)
    with tr.span("resume", i=i):
        t = time.perf_counter()
        run_pipeline(spark, pages, root, buckets=BUCKETS)
        resume = time.perf_counter() - t
    ctx.op(
        ref.tiers_ok(root) and ref.checkpoint_ok(root) and _untouched(root) == before,
        "resumed pipeline",
    )
    return cold, resume, root


def _setup(ctx, trace_dir: str | None = None):
    """Session, staged pages and input files, and the untimed batches of
    the incremental phase (``incremental.start``). The pipeline gets no
    warm run of its own: the incremental phase runs first and warms the
    JVM and the Python workers, and the median of MIN_CYCLES cold runs
    absorbs the first one's remaining warm-up."""
    t = time.perf_counter()
    spark = start_spark(ctx.cores, trace_dir=trace_dir)
    session_s = time.perf_counter() - t
    pages_path, stagings = stage_pages(spark, ctx.seed, NUM_URLS, OBS_PER_URL, ctx.cores)
    batches, backfill, batch_stagings = incremental.stage(ctx.seed)
    t = time.perf_counter()
    loop = incremental.start(spark, batches, backfill, "incremental", ctx.tracer,
                             growth=trace_dir is not None)
    warm_s = time.perf_counter() - t
    ctx.setup_s = session_s + median(stagings) + median(batch_stagings) + warm_s
    ctx.report["setup_parts_s"] = dict(
        session=session_s, staging=stagings, batch_staging=batch_stagings, warm=warm_s,
    )
    return spark, pages_path, loop


def _cycles(ctx, spark, pages_path: str, ref):
    pages = spark.read.parquet(pages_path)
    colds, resumes, roots = [], [], []
    t_end = time.perf_counter() + ctx.seconds / 2
    while time.perf_counter() < t_end or len(colds) < MIN_CYCLES:
        c, r, root = cycle(ctx, spark, pages, ref, len(colds))
        colds.append(c)
        resumes.append(r)
        roots.append(root)
    return colds, resumes, roots


def run(ctx) -> None:
    t0 = time.perf_counter()
    spark, pages_path, loop = _setup(ctx)
    ref = Reference(pages_path)
    iref = incremental.Reference()
    t1 = time.perf_counter()
    folds, streams, qtimes, _deltas = incremental.measure(
        ctx, spark, loop, iref, ctx.seconds / 2)
    t2 = time.perf_counter()
    colds, resumes, _roots = _cycles(ctx, spark, pages_path, ref)
    t3 = time.perf_counter()
    ctx.rss_mb = peak_rss_mb()
    checks = incremental.check(ctx, spark, loop, iref, len(folds), len(streams))
    spark.stop()
    ctx.report["phase_s"] = dict(setup=t1 - t0, incremental=t2 - t1, pipeline=t3 - t2,
                                 final_checks=time.perf_counter() - t3)
    pages = ref.pages
    ref.close()
    iref.con.close()
    cold = median(colds)
    batch_rows = incremental.NUM_URLS * incremental.ROWS_PER_URL
    ctx.e2e(
        rows_per_s=pages / cold,
        main_p50_s=cold,
        aux_p50_s=median(resumes),
        fold_p50_s=median(folds),
        derive_p50_s=median(streams),
        query_p50_s=median(qtimes),
    )
    ctx.report.update(
        pages=pages, pipeline_cold_s=colds, pipeline_resume_s=resumes,
        batch_rows=batch_rows, fold_batch_s=folds, fold_rows_per_s=batch_rows / median(folds),
        stream_batch_s=streams, stream_rows_per_s=batch_rows / median(streams),
        query_s=qtimes, query_count=len(qtimes), query_p90_s=percentile(qtimes, 0.9), **checks,
    )


def trace(ctx) -> None:
    """Traced batches and cycle (event log + spans around run_stage,
    TableStore.write_partitions, the checkpoint calls and
    TierMaintainer.apply_delta), noop prefixes for blocks and velocity,
    then one untraced cycle in the same JVM as the overhead baseline."""
    import mintpy_spark.plans.pipeline as pl
    from mintpy_spark.codecs.blocks import pack_blocks
    from mintpy_spark.operators.timefunc import linear_velocity
    from mintpy_spark.plans.checkpoint import CheckpointTable
    from mintpy_spark.sources.tables import TableStore
    from mintpy_spark.streaming.tier_maintenance import TierMaintainer

    tr = ctx.tracer
    log_dir = os.path.join(WORK, "eventlog", "traced")
    wrap(pl, "run_stage", tr, "stage", attrs=lambda *a, **_kw: {"stage": a[4]})
    wrap(TableStore, "write_partitions", tr, "write_partitions")
    wrap(CheckpointTable, "complete_parts", tr, "checkpoint.complete_parts")
    wrap(CheckpointTable, "append", tr, "checkpoint.append")
    wrap(TierMaintainer, "apply_delta", tr, "apply_delta")
    try:
        spark, pages_path, loop = _setup(ctx, trace_dir=log_dir)
        ref = Reference(pages_path)
        iref = incremental.Reference()
        t_measure = time.time()
        qtimer: list = []
        folds, streams, _qt, deltas = incremental.measure(
            ctx, spark, loop, iref, ctx.seconds / 2, qtimer)
        gc0 = jvm_gc_s(spark)
        colds, resumes, roots = _cycles(ctx, spark, pages_path, ref)
        gc_s = (jvm_gc_s(spark) - gc0) / len(colds)
        checks = incremental.check(ctx, spark, loop, iref, len(folds), len(streams))
        store_bytes = dir_bytes(loop.version_dir(spark))
        obs = TableStore(roots[0]).read(spark, "obs")
        prefixes = {
            "obs": lambda: noop(obs),
            "blocks": lambda: noop(pack_blocks(obs, "text_length")),
            "velocity": lambda: noop(linear_velocity(obs, "text_length", ref_year=2023.0)),
        }
        for _rep in range(2):
            for name, fn in prefixes.items():
                with tr.span(f"prefix.{name}"):
                    fn()
    finally:
        unwrap(pl, "run_stage")
        unwrap(TableStore, "write_partitions")
        unwrap(CheckpointTable, "complete_parts")
        unwrap(CheckpointTable, "append")
        unwrap(TierMaintainer, "apply_delta")
    spark.stop()

    # untraced baseline in the same (warm) JVM: one cycle, compared with
    # the first traced cycle, both a session's first cold run
    tr.enabled = False
    spark = start_spark(ctx.cores)
    plain = cycle(ctx, spark, spark.read.parquet(pages_path), ref, len(roots))[0]
    spark.stop()
    tr.enabled = True

    ev = EventLog(log_dir)
    spans = tr.spans
    cold_ids = [i for i, s in enumerate(spans) if s.name == "cold"]
    mid = cold_ids[len(cold_ids) // 2]
    cold_span = spans[mid]

    def inside(idx: int, name: str):
        return [s for s in spans if s.name == name and s.parent == idx]

    def deep(idx: int, name: str):
        lo, hi = spans[idx].start, spans[idx].end
        return [s for s in spans if s.name == name and lo <= s.start and s.end <= hi]

    stages = inside(mid, "stage")
    writes = deep(mid, "write_partitions")
    reads = deep(mid, "checkpoint.complete_parts")
    appends = deep(mid, "checkpoint.append")
    m = ev.metrics(cold_span.start, cold_span.end)
    layer = ctx.layer
    for s in stages:
        layer[f"pipeline.stage_s.{s.attrs['stage']}"] = s.dur
    stage_total = sum(s.dur for s in stages)
    write_total = sum(s.dur for s in writes)
    layer["pipeline.overhead_s"] = stage_total - write_total
    layer["checkpoint.read_s"] = sum(s.dur for s in reads)
    layer["sources.read_back_s"] = (
        stage_total - write_total - layer["checkpoint.read_s"] - sum(s.dur for s in appends)
    )
    layer["sources.write_s"] = m.sql_sum("task commit time") + m.sql_sum("job commit time")
    layer["sources.bytes_written"] = m.output_bytes
    layer["sources.scan_bytes"] = m.input_bytes
    layer["pipeline.blocks_share"] = layer["pipeline.stage_s.blocks"] / cold_span.dur
    pre = {k: median(tr.durations(f"prefix.{k}")) for k in prefixes}
    layer["blocks.self_s"] = pre["blocks"] - pre["obs"]
    layer["velocity.self_s"] = pre["velocity"] - pre["obs"]
    layer["seam.python_total_s"] = m.sql_sum("time to run Python workers")
    layer["seam.python_boot_s"] = m.sql_sum("time to start Python workers") + m.sql_sum(
        "time to initialize Python workers")
    layer["seam.python_data_sent_bytes"] = m.sql_sum("data sent to Python workers")
    layer["seam.rows_to_python"] = m.python_rows
    layer["exchange.count"] = m.hash_exchanges
    layer["exchange.shuffle_bytes"] = m.shuffle_write_bytes
    layer["exchange.fetch_wait_s"] = m.fetch_wait_s
    layer["exchange.spill_bytes"] = m.spill_bytes
    layer["jvm.gc_s"] = gc_s
    layer["extract.bytes_in"] = ref.html_bytes

    root = roots[0]
    con = ref.con
    count = lambda name: con.sql(  # noqa: E731
        f"SELECT count(*) FROM read_parquet('{ref.table(root, name)}')").fetchone()[0]
    layer["rollup.rows_1h"] = count("tier_1h")
    layer["rollup.rows_1d"] = count("tier_1d")
    layer["rollup.rows_30d"] = count("tier_30d")
    layer["rollup.obs_per_1h_row"] = ref.pages / layer["rollup.rows_1h"]
    layer["extract.null_rows"] = con.sql(
        f"SELECT count(*) FROM read_parquet('{ref.table(root, 'obs')}') "
        f"WHERE text_length IS NULL").fetchone()[0]
    layer["blocks.groups"], n_values, blob_bytes = con.sql(
        f"SELECT count(*), sum(n), sum(octet_length(ts_blob) + octet_length(val_blob)) "
        f"FROM read_parquet('{ref.table(root, 'blocks')}')").fetchone()
    layer["blocks.bytes_per_value"] = blob_bytes / n_values
    recomputed = con.sql(
        f"SELECT count(*) FROM read_parquet('{os.path.join(root, '_checkpoint', '*.parquet')}') "
        f"WHERE stage = '{LOST_STAGE}'").fetchone()[0] - (BUCKETS - len(LOST_PARTS))
    layer["pipeline.parts_lost"] = len(LOST_PARTS)
    layer["pipeline.parts_recomputed"] = recomputed
    layer["pipeline.recompute_ratio"] = recomputed / len(LOST_PARTS)
    incremental.fill_layers(ctx, ev, loop, t_measure, streams, deltas, checks, store_bytes,
                            qtimer)
    iref.con.close()
    layer["trace.overhead_s"] = colds[0] - plain
    # the resume rounds redo identical work (the same lost partitions)
    ctx.repeat_check([ev.metrics(s.start, s.end) for s in spans if s.name == "resume"])
    ctx.report.update(
        untraced_cold_s=plain, traced_cold_s=colds, traced_resume_s=resumes,
        prefix_s=pre, store_bytes=dir_bytes(root), pages=ref.pages,
    )
    ref.close()
