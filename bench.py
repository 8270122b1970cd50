"""Benchmark harness: runs the declared query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Each query is forced with a count() action (full plan execution, no
driver-side collect of wide results)."""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas-UDF type hints resolve by name


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from zg_etl_spark import plans
    from zg_etl_spark.session import get_spark

    spark = get_spark("zg-etl-bench")
    all_queries = plans.all_queries()

    # warm the JVM + parquet footers once with a trivial action
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # warm the Python/Arrow lane: spawn the per-core pandas-UDF workers
    # (numpy+pandas import per worker) so per-query times measure queries,
    # not one-time worker startup a long-lived cluster never repays
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        import numpy as _np  # noqa: F401 — force the hot-path import

        return s

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(cpus * 4, numPartitions=cpus).select(_noop("id")).count()

    def run_suite() -> tuple[dict[str, float], float]:
        import gc

        per: dict[str, float] = {}
        t_suite = time.perf_counter()
        for name in sorted(all_queries):
            t0 = time.perf_counter()
            try:
                all_queries[name](spark, sf_dir).count()
                per[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — record failure, keep suite
                per[name] = -1.0
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
            # housekeeping a long-lived service would do: drop the Python
            # references to this query's one-shot localCheckpoint frames so
            # the ContextCleaner can evict their blocks — without it the
            # block manager accumulates ~200 queries' dead blocks and GC
            # churn bleeds multi-second noise into unrelated late queries
            gc.collect()
        return per, round(time.perf_counter() - t_suite, 3)

    per_query, total = run_suite()

    # Warm pass: same suite again in the same JVM. The cold pass pays
    # per-novel-plan codegen compilation and streaming checkpoint
    # bootstrap; the warm number is the data-proportional cost that
    # actually scales with SF and is the one BASELINE.md's ≤2×-DuckDB
    # target is stated against. Compilation is one-time only because the
    # session's codegen cache holds the whole suite's classes
    # (session.CODEGEN_CACHE_ENTRIES): at sf0.001 on local[4], the warm
    # pass over the 130 non-streaming queries compiled 1,414 classes
    # with Spark's default 100-entry cache and 13 with it (the 10
    # stream replays: 384 and 2).
    per_query_warm, warm_total = run_suite()

    # Same-host calibration: run the DuckDB oracle suite on the same data.
    # Absolute seconds vary wildly across driver hosts (fresh VMs, noisy
    # neighbors); the spark/duckdb ratio on ONE host is the comparable
    # number across rounds.
    duck_total = _duckdb_oracle_suite_sec(sf_dir)

    import resource

    peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
    # decomposition: the five s-queries pay real Structured-Streaming
    # micro-batch machinery (checkpoints, state stores, commit logs) the
    # batch-SQL oracle never pays — split them out so the batch-vs-batch
    # comparison is an artifact field, not prose in BASELINE.md
    streaming_warm = sum(
        v for k, v in per_query_warm.items() if k.startswith("s") and v > 0
    )
    common = {
        "metric": "declared_query_suite_wall",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "warm_suite_sec": warm_total,
        "streaming_warm_sec": round(streaming_warm, 2),
        "duckdb_oracle_suite_sec": duck_total,
        "spark_over_duckdb_ratio": (
            round(total / duck_total, 2) if duck_total else None
        ),
        "warm_ratio": (
            round(warm_total / duck_total, 2) if duck_total else None
        ),
        "warm_batch_ratio": (
            round((warm_total - streaming_warm) / duck_total, 2)
            if duck_total
            else None
        ),
        "driver_python_peak_mb": peak_mb,
    }

    # The driver records only the LAST 2000 chars of output and parses it
    # as JSON — a full 93-query map with long names exceeds that and the
    # head of the line gets truncated (BENCH_r01/r02 both show
    # parsed:null). The one emitted line therefore uses the unique short
    # ids ("q1"/"p8"/"l21" — the driver contract's own example form) at 2
    # decimals; the verbose per-query detail (full names, warm pass) goes
    # to bench_detail.json next to this script.
    short = _short_keys(per_query)
    detail = dict(common, queries=per_query, queries_warm=per_query_warm)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_detail.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh)
    except OSError as exc:
        print(f"bench: could not write {detail_path}: {exc}", file=sys.stderr)

    # one decimal, saturated at 99.9, keeps 139+ per-query entries inside
    # the driver's 2000-char capture window (no single query legitimately
    # takes 100 s at sf0.1 — if one ever does, the compact line shows the
    # saturated value and bench_detail.json has full precision)
    line = json.dumps(
        dict(common,
             queries={k: min(round(v, 1), 99.9) for k, v in short.items()}),
        separators=(",", ":"),
    )
    if len(line) > 1900:  # belt-and-braces: never exceed the capture window
        line = json.dumps(common, separators=(",", ":"))
    print(line)


def _short_keys(per_query: dict[str, float]) -> dict[str, float]:
    """Map each query to its unique id prefix (q1_pricing_summary -> q1);
    falls back to full names if any prefix would collide."""
    short = {name.split("_", 1)[0]: v for name, v in per_query.items()}
    return short if len(short) == len(per_query) else per_query


def _duckdb_oracle_suite_sec(sf_dir: str) -> float | None:
    """Wall seconds for DuckDB to run every oracle SQL over the same
    parquet tables (the driver's correctness-gate workload)."""
    try:
        import duckdb

        from zg_etl_spark import plans
        from zg_etl_spark.oracle import TABLES

        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
            )
        t0 = time.perf_counter()
        for sql in plans.all_oracles().values():
            con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchall()
        return round(time.perf_counter() - t0, 3)
    except Exception as exc:  # noqa: BLE001 — calibration is best-effort
        print(f"bench: duckdb calibration failed: {exc}", file=sys.stderr)
        return None


if __name__ == "__main__":
    main()
