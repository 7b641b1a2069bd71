"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. An injected wrong tier row is counted as a failed operation, for the
   ingest pass fingerprint, the stored-tier fingerprint and a range-query
   answer, and so is a wrong scan or obs-derivation aggregate; the
   untouched outputs pass.
2. The same seed gives an identical input fingerprint and a different
   seed a different one, for the pages generator and the incremental
   batch generator.
3. The repeat check of the traced run sorts counters into exact and
   varying.

Exits 0 when every test passes, 1 otherwise.
"""

from __future__ import annotations

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def _ctx():
    from run import Ctx

    args = types.SimpleNamespace(workload="ingest_cascade", seed=1, seconds=1, trace=0)
    return Ctx(args)


def test_injected_wrong_row(spark, results: dict) -> None:
    from pyspark.sql import functions as F

    import ingest
    from mintpy_spark.datagen import gen_pages_bulk
    from mintpy_spark.operators.observe import pages_to_obs_extracted

    pages_path = os.path.join(harness.WORK, "st_pages")
    gen_pages_bulk(spark, num_urls=20, obs_per_url=10, seed=5, partitions=2).write.parquet(
        pages_path)
    ref = ingest.Reference(pages_path)
    ctx = _ctx()
    _obs, tiers = ingest.build_tiers_from(spark.read.parquet(pages_path), 2)

    # clean outputs pass
    ctx.op(ref.pass_ok(ingest.cascade_pass(spark, pages_path, 2)), "clean pass")
    ctx.op(harness.spark_tier_fp(tiers["1d"]) == ref.tier["1d"], "clean tier")
    scan = ingest.scan_pass(spark, pages_path)
    derived = ingest.derive_pass(spark, pages_path)
    ctx.op(scan == ref.scan, "clean scan")
    ctx.op(ref.derive_ok(derived), "clean derive")
    clean_failed = ctx.failed

    # one wrong row: a single 1d cell's count is off by one
    victim = tiers["1d"].orderBy("url", "bucket_start").first()
    wrong = tiers["1d"].withColumn(
        "cnt",
        F.when((F.col("url") == victim["url"]) & (F.col("bucket_start") == victim["bucket_start"]),
               F.col("cnt") + 1).otherwise(F.col("cnt")),
    )
    ctx.op(harness.spark_tier_fp(wrong) == ref.tier["1d"], "wrong tier")
    good = ingest.cascade_pass(spark, pages_path, 2)
    bad = list(good)
    bad[7] += 1  # Σcnt of the 1d tier
    ctx.op(ref.pass_ok(tuple(bad)), "wrong pass")
    ctx.op(scan[:2] + (scan[2] - 1,) + scan[3:] == ref.scan, "wrong scan")  # html bytes
    ctx.op(ref.derive_ok(derived[:1] + (derived[1] + 1,) + derived[2:]), "wrong derive")

    lo, hi = harness.query_ranges(5, 1, ingest.T0, ingest.SPAN)[0]
    obs = pages_to_obs_extracted(spark.read.parquet(pages_path))
    rows, _dt = harness.run_query(obs.select("url", "warc_ts", "text_length"), tiers, lo, hi)
    want = harness.duck_range(ref.con, ref.src, lo, hi)
    ctx.op(harness.rows_fp(rows) == want, "clean query")
    tampered = [tuple(r) for r in rows]
    url, c, s, mn, mx = tampered[0]
    tampered[0] = (url, c, s + 1, mn, mx)
    ctx.op(harness.rows_fp(tampered) == want, "wrong query")
    ref.close()
    results["clean outputs pass"] = clean_failed == 0 and "clean query" not in ctx.failures
    results["injected wrong row counted as failure"] = (
        ctx.failures == {"wrong tier": 1, "wrong pass": 1, "wrong scan": 1,
                         "wrong derive": 1, "wrong query": 1}
    )


def test_seed_fingerprints(spark, results: dict) -> None:
    import duckdb

    import incremental
    import ingest
    from mintpy_spark.datagen import gen_pages_bulk

    fps = []
    for i, seed in enumerate((7, 7, 8)):
        pages_path = os.path.join(harness.WORK, f"st_seed_{i}")
        gen_pages_bulk(spark, num_urls=20, obs_per_url=10, seed=seed, partitions=2).write.parquet(
            pages_path)
        ref = ingest.Reference(pages_path)
        fps.append(ref.input_fp())
        ref.close()
    results["pages: same seed, same input"] = fps[0] == fps[1]
    results["pages: other seed, other input"] = fps[0] != fps[2]

    con = duckdb.connect()
    bfps = []
    for i, seed in enumerate((7, 7, 8)):
        paths, backfill = incremental.gen_batches(
            seed, os.path.join(harness.WORK, f"st_batches_{i}"))
        files = ", ".join(f"'{p}'" for p in paths + [backfill])
        bfps.append(con.sql(
            f"SELECT count(*), sum(('0x' || substr(md5(url || '|' || epoch_us(warc_ts) || '|' "
            f"|| text_length), 1, 8))::BIGINT) FROM read_parquet([{files}])").fetchone())
    con.close()
    results["batches: same seed, same input"] = bfps[0] == bfps[1]
    results["batches: other seed, other input"] = bfps[0] != bfps[2]


def test_repeat_check(results: dict) -> None:
    ctx = _ctx()
    a, b = harness.JobMetrics(), harness.JobMetrics()
    for m, sb in ((a, 100), (b, 101)):
        m.hash_exchanges = 1
        m.python_rows = 10
        m.shuffle_write_bytes = sb
        m.sql[("HashAggregate", "number of output rows", "")] = 5
    ctx.repeat_check([a, b])
    exact = ["exchange_count", "rows_per_operator", "rows_to_python"]
    results["repeat check sorts counters"] = (
        ctx.report["counts_repeat_exact"] == exact
        and ctx.report["counts_vary"] == ["shuffle_bytes"]
    )


def main() -> int:
    harness.prepare_env()
    sys.path.insert(0, harness.ROOT)
    results: dict[str, bool] = {}
    test_repeat_check(results)
    spark = harness.start_spark(2)
    try:
        test_injected_wrong_row(spark, results)
        test_seed_fingerprints(spark, results)
    finally:
        spark.stop()
        harness.shutdown_jvm()
        harness.cleanup_work()
    for name, ok in results.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
