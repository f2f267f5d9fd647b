"""FINAL-read cost curve (r9 VERDICT task 7): measure what dedup-on-read
actually costs as duplicate versions accumulate, and what compact()
buys back — the numbers behind SCALE.md's recommended compaction
cadence.

Protocol, per scale (sf1 = 1M events, sf10 = 10M):
- ingest the events corpus into a fresh Warehouse `event` table
  (version 1 of every key), then append re-written versions of a
  fraction of the keys to reach duplicate ratios 0 / 0.5 / 1.0 / 2.0
  (ratio = extra version rows / base rows; 2.0 = the average key has 3
  live versions);
- at each ratio time the same full-scan aggregate twice: raw
  (`read(final=False)`) and FINAL (`read(final=True)` = the
  last-write-wins window) — median of 3 runs each;
- after the last ratio, `compact()` and re-measure both: the FINAL
  window now runs over one row per key, which is the cost floor the
  cadence decision compares against.

Box-speed calibration: bench.py's probe runs before and after; report
both factors and normalize the medians by their mean, same convention
as the bench harness (run this on a quiet box — the probes make a
contaminated record visible, not good).

Usage: python tools/final_read_curve.py [sf1_dir sf10_dir]
Writes FINAL_READ_CURVE.json at the repo root and prints one JSON line.

``--cold [longdoc_dir]`` (r11 VERDICT task 7, root-only): measure the
dedup-free FINAL fast path's BYTE win with the page cache evicted
before every sample, on the KB/doc longdoc corpus
(tools/make_longdoc_corpus.py — built on demand). The warm curve can't
see this win: the fast path returns the raw scan, so a narrow
aggregate (count + sum of one int column) prunes to a few MB of
column pages, while the window FINAL must read EVERY column — the pk,
``_seq``, and the ~KB ``data`` text the xxhash64 tie-break hashes —
i.e. the whole table from disk. Cold, that is the difference between
megabytes and gigabytes of real I/O per read. Only the cold leg runs
in this mode; results land under a ``cold`` key in
FINAL_READ_CURVE.json beside the warm curve. Nothing else may run on
the box during a cold run: eviction is machine-wide.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

RATIOS = (0.0, 0.5, 1.0, 2.0)
RUNS = 3


def _map_events(df):
    """sf events.parquet → the registered `event` schema (id = primary
    key the FINAL window partitions by)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("event_type").alias("type"),
        (F.col("event_id") % 100).cast("int").alias("logIndex"),
        F.lit(0).alias("transactionLogIndex"),
        F.col("props").alias("data"),
        F.lit(0).alias("transactionIndex"),
        F.col("user_id").cast("string").alias("address"),
        F.col("event_id").cast("string").alias("transactionHash"),
        F.lit("bh").alias("blockHash"),
        (F.col("event_id") % 1_000_000).cast("int").alias("blockNumber"),
        F.array(F.col("event_type")).alias("topics"),
    )


def _timed(df) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df.agg(
        F.count(F.lit(1)), F.sum("blockNumber"), F.max("data")
    ).collect()
    return time.perf_counter() - t0


def _median(fn, df) -> float:
    # settle: the append that preceded a measurement keeps the 1-min
    # loadavg (and stray executor work) elevated; a short pause keeps
    # the timed reads from paying for the writer's wake
    time.sleep(3)
    fn(df)  # warm
    return round(statistics.median(fn(df) for _ in range(RUNS)), 3)


def run_scale(spark, sf_dir: str, label: str) -> dict:
    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.catalog import Warehouse

    out: dict = {"sf": label, "ratios": []}
    with tempfile.TemporaryDirectory(prefix=f"final_curve_{label}_") as tmp:
        wh = Warehouse(spark, tmp)
        base = _map_events(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        )
        wh.write("event", base)
        n_base = wh.read("event", final=False).count()
        written = 0.0
        for ratio in RATIOS:
            frac = ratio - written  # append only the increment
            if frac > 0:
                # re-write `frac` of the keys with new data (higher _seq
                # wins on read); modulus keys the same ids across rounds
                # so later rounds stack MORE versions on the same keys —
                # the worst case for the window, matching a hot-key sync
                extra = base.filter(
                    F.col("id").cast("long") % round(1 / min(frac, 1.0)) == 0
                ) if frac < 1.0 else base
                wh.write("event", extra.withColumn("data", F.concat(F.col("data"), F.lit("+v"))))
                written = ratio
            raw = _median(_timed, wh.read("event", final=False))
            fin = _median(_timed, wh.read("event", final=True))
            out["ratios"].append(
                {
                    "dup_ratio": ratio,
                    "rows": int(n_base * (1 + ratio)),
                    "raw_sec": raw,
                    "final_sec": fin,
                    "overhead_x": round(fin / raw, 2) if raw else None,
                    "loadavg": round(os.getloadavg()[0], 2),
                }
            )
            print(f"# {label} ratio={ratio}: raw {raw}s final {fin}s", file=sys.stderr)
        t0 = time.perf_counter()
        wh.compact("event")
        compact_sec = round(time.perf_counter() - t0, 3)
        raw = _median(_timed, wh.read("event", final=False))
        fin = _median(_timed, wh.read("event", final=True))
        out["post_compact"] = {
            "compact_sec": compact_sec,  # the cost the cadence amortizes
            "dedup_free_fast_path": wh.is_dedup_free("event"),
            "raw_sec": raw,
            "final_sec": fin,
            "overhead_x": round(fin / raw, 2) if raw else None,
            "loadavg": round(os.getloadavg()[0], 2),
        }
        print(f"# {label} post-compact: raw {raw}s final {fin}s", file=sys.stderr)
        # one more write invalidates the dedup-free fast path: FINAL
        # must pay the window again (on n_base + 1k rows) — this leg
        # pins that the fast path never outlives its proof
        wh.write("event", base.limit(1000).withColumn(
            "data", F.concat(F.col("data"), F.lit("+w"))
        ))
        raw = _median(_timed, wh.read("event", final=False))
        fin = _median(_timed, wh.read("event", final=True))
        out["post_compact_append"] = {
            "dedup_free_fast_path": wh.is_dedup_free("event"),
            "raw_sec": raw,
            "final_sec": fin,
            "overhead_x": round(fin / raw, 2) if raw else None,
            "loadavg": round(os.getloadavg()[0], 2),
        }
        print(
            f"# {label} post-compact+append: raw {raw}s final {fin}s",
            file=sys.stderr,
        )
    return out


def _evict_page_cache() -> None:
    """sync + drop_caches(3): every timed read after this hits storage.
    Clean-cache-only eviction — reversible, no data risk — but it IS
    machine-wide, so cold runs must own the box."""
    os.sync()
    with open("/proc/sys/vm/drop_caches", "w") as f:
        f.write("3\n")


def _du_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _map_longdocs(df):
    """longdoc documents.parquet → the registered `event` schema with
    the ~KB text as `data` — the column whose bytes the fast path's
    pruned scan never touches and the window FINAL must read."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("lang").alias("type"),
        (F.col("doc_id") % 100).cast("int").alias("logIndex"),
        F.lit(0).alias("transactionLogIndex"),
        F.col("text").alias("data"),
        F.lit(0).alias("transactionIndex"),
        F.col("source").alias("address"),
        F.col("doc_id").cast("string").alias("transactionHash"),
        F.lit("bh").alias("blockHash"),
        (F.col("doc_id") % 1_000_000).cast("int").alias("blockNumber"),
        F.array(F.col("lang")).alias("topics"),
    )


def _timed_narrow(df) -> float:
    """count + one-int-column sum: prunes the scan to the blockNumber
    pages under the fast path; under the window it still drags every
    column (pk + _seq + the KB data text the tie-break hashes)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df.agg(F.count(F.lit(1)), F.sum("blockNumber")).collect()
    return time.perf_counter() - t0


def _cold_median(fn, mk_df, runs: int = 3) -> tuple[float, list[float]]:
    samples = []
    for _ in range(runs):
        df = mk_df()  # fresh plan: never reuse a cached file listing
        _evict_page_cache()
        samples.append(round(fn(df), 3))
    return round(statistics.median(samples), 3), samples


def run_cold(spark, longdoc_dir: str) -> dict:
    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.catalog import Warehouse

    src = os.path.join(longdoc_dir, "documents.parquet")
    if not os.path.exists(src):
        print(f"# building longdoc corpus at {longdoc_dir}", file=sys.stderr)
        import subprocess

        subprocess.run(
            [sys.executable, os.path.join(HERE, "tools", "make_longdoc_corpus.py"),
             longdoc_dir],
            check=True,
        )
    out: dict = {"corpus": src}
    with tempfile.TemporaryDirectory(prefix="final_curve_cold_") as tmp:
        wh = Warehouse(spark, tmp)
        wh.write("event", _map_longdocs(spark.read.parquet(src)))
        wh.compact("event")
        assert wh.is_dedup_free("event")
        out["table_bytes"] = _du_bytes(os.path.join(tmp, "event"))
        out["rows"] = wh.read("event", final=False).count()

        raw, raw_s = _cold_median(
            _timed_narrow, lambda: wh.read("event", final=False)
        )
        fast, fast_s = _cold_median(
            _timed_narrow, lambda: wh.read("event", final=True)
        )
        # one small append turns the fast path off: FINAL pays the
        # window again — and cold, the window's full-width scan is the
        # whole table from disk
        wh.write("event", _map_longdocs(
            spark.read.parquet(src).limit(1000)
        ).withColumn("data", F.concat(F.col("data"), F.lit("+w"))))
        assert not wh.is_dedup_free("event")
        window, window_s = _cold_median(
            _timed_narrow, lambda: wh.read("event", final=True)
        )
        out.update(
            raw_cold_sec=raw, raw_cold_samples=raw_s,
            final_fast_cold_sec=fast, final_fast_cold_samples=fast_s,
            final_window_cold_sec=window, final_window_cold_samples=window_s,
            fast_vs_raw_x=round(fast / raw, 2) if raw else None,
            window_vs_fast_x=round(window / fast, 2) if fast else None,
            loadavg=round(os.getloadavg()[0], 2),
        )
        print(
            f"# cold: raw {raw}s fast-FINAL {fast}s window-FINAL {window}s",
            file=sys.stderr,
        )
    return out


def main() -> int:
    if "--cold" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--cold"]
        longdoc_dir = args[0] if args else "/tmp/longdocs"
        from ethereum_analytical_db_spark.session import get_spark

        spark = get_spark(
            app_name="final_read_curve_cold",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        )
        spark.sparkContext.setLogLevel("ERROR")
        cold = run_cold(spark, longdoc_dir)
        path = os.path.join(HERE, "FINAL_READ_CURVE.json")
        existing = {}
        if os.path.exists(path):
            with open(path) as f:
                existing = json.load(f)
        existing["cold"] = cold
        with open(path, "w") as f:
            json.dump(existing, f, indent=1)
            f.write("\n")
        print(json.dumps({"metric": "final_read_cold", **cold}))
        return 0
    sf1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    sf10 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10"
    import bench

    from ethereum_analytical_db_spark.session import get_spark

    spark = get_spark(
        app_name="final_read_curve",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    probe_start = bench._calibration_probe(spark)
    result = {
        "metric": "final_read_cost_curve",
        "calib_start": probe_start,
        "factor_start": bench._probe_factor(probe_start),
        "scales": [],
    }
    for sf_dir, label in ((sf1, "sf1"), (sf10, "sf10")):
        if not os.path.isdir(sf_dir):
            print(f"# {label} dir {sf_dir} missing, skipped", file=sys.stderr)
            continue
        result["scales"].append(run_scale(spark, sf_dir, label))
    probe_end = bench._calibration_probe(spark)
    result["calib_end"] = probe_end
    result["factor_end"] = bench._probe_factor(probe_end)
    with open(os.path.join(HERE, "FINAL_READ_CURVE.json"), "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
