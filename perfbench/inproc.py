"""In-process client for ``nd_arrays`` and ``managed_rw``.

    python3 perfbench/inproc.py <workload> <seed> <seconds> <trace 0|1>
        <spawn wall time> <expect_dir> <run_root> <out.json>

Runs in the run's work directory, so Spark's warehouse and metastore
land there. Set-up is timed from the spawn time the parent passes in
until the engine is ready for its first operation; it covers importing
``beacon_spark``, ``get_spark``, ``Engine(...)`` and, for
``managed_rw``, creating the managed table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import spec  # noqa: E402


def nd_runner(eng, exp: spec.Expected):
    from pyspark.sql import functions as F

    bucket = (F.col("time") % spec.SLICE_BUCKETS).cast("long").alias("bucket")

    def check_window(rows, op) -> bool:
        n, s = exp.grid_window(op["t0"], op["t1"])
        return (len(rows) == spec.SLICE_BUCKETS
                and sum(r["n"] for r in rows) == n
                and sum(r["s"] for r in rows) == s)

    def run(op: dict) -> bool:
        if op["cls"] == "slice_dsl":
            df = eng.query({
                "select": ["time", "price"],
                "filter": {"column": "time", "gt_eq": op["t0"], "lt_eq": op["t1"]},
                "from": {"zarr": {"paths": ["grid.zarr"]}}})
            rows = df.groupBy(bucket).agg(F.count(F.lit(1)).alias("n"),
                                          F.sum("price").alias("s")).collect()
            return check_window(rows, op)
        if op["cls"] == "slice_sql":
            path = os.path.join(eng.datasets_root, "grid.zarr")
            rows = eng.sql(
                f"SELECT CAST(time % {spec.SLICE_BUCKETS} AS BIGINT) AS bucket, "
                f"count(1) AS n, sum(price) AS s FROM read_zarr('{path}') "
                f"WHERE time BETWEEN {op['t0']} AND {op['t1']} "
                f"GROUP BY CAST(time % {spec.SLICE_BUCKETS} AS BIGINT)").collect()
            return check_window(rows, op)
        df = eng.query({
            "select": ["custkey", "totalprice"],
            "filter": {"column": "custkey", "gt_eq": op["lo"], "lt_eq": op["hi"]},
            "from": {"netcdf": {"paths": ["profiles.nc"]}}})
        rows = df.groupBy("custkey").agg(F.count(F.lit(1)).alias("n"),
                                         F.sum("totalprice").alias("s")).collect()
        n, s = exp.ragged(op["lo"], op["hi"])
        return (sum(r["n"] for r in rows) == n
                and sum(r["s"] for r in rows) == s)

    return run


def managed_runner(eng, exp: spec.Expected):
    base = exp.managed_base()

    def run(op: dict) -> bool:
        df = eng.sql(spec.managed_sql(op))
        if op["cls"] != "read":
            return True  # the read after the statement checks it
        (row,) = df.collect()
        n, k, p = base
        bn, bk, bp = spec.block_sums(op["lo"], op["hi"])
        if op["after"] == "insert":
            n, k, p = n + bn, k + bk, p + bp
        elif op["after"] == "update":
            n, k, p = n + bn, k + bk, p + bp + bn
        return (row["n"], row["k"], row["p"]) == (n, k, p)

    return run


def main(argv: list[str]) -> None:
    workload, seed, seconds, trace = argv[0], int(argv[1]), float(argv[2]), argv[3] == "1"
    spawned, expect_dir, run_root, out_path = float(argv[4]), argv[5], argv[6], argv[7]

    tracer = None
    if trace:
        import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)
    from beacon_spark import session
    from beacon_spark.engine import Engine

    spark = session.get_spark(app_name="perfbench")
    eng = Engine(spark, datasets_root=run_root)
    if workload == "managed_rw":
        eng.sql(f"CREATE TABLE {spec.MANAGED_TABLE} AS "
                f"SELECT * FROM read_parquet('orders/*.parquet')")
    setup_s = time.time() - spawned

    exp = spec.Expected(expect_dir)
    run = (nd_runner if workload == "nd_arrays" else managed_runner)(eng, exp)

    def run_op(stream: int, op_id: str, op: dict) -> bool:
        if tracer is None:
            return run(op)
        with tracer.op(op_id):
            return run(op)

    res = spec.closed_loop([spec.ops(workload, seed)], run_op,
                           spec.CLASSES[workload], seconds)
    res["setup_s"] = setup_s
    res["peak_rss_mb"] = spec.peak_rss_mb(os.getpid())
    if tracer is not None:
        time.sleep(0.5)  # let the listener bus deliver the last events
        live = 0
        if workload == "managed_rw":
            live = len(eng.catalog.table(spec.MANAGED_TABLE).files())
        res["layers"] = tracing.layer_metrics(
            tracer.doc(), {s["op"] for s in res["measured"]}, res["window"],
            live)
    with open(out_path, "w") as f:
        json.dump(res, f)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
