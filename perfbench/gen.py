"""Generate one workload's inputs for a seed, with the repo's writers.

    python3 perfbench/gen.py <workload> <seed> <seed_dir> [<run_root>]

Writes the datasets under ``<seed_dir>/root`` and the arrays the
expected results come from under ``<seed_dir>/expect``; the seed
directory appears only once it is complete. With ``<run_root>`` it only copies the datasets to
that fresh run root and, for ``lake_http``, builds the ANALYZE FILES
stats index there (the index records absolute paths, so it is built on
the copy the run serves).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import spec  # noqa: E402


def _table(cols: dict[str, np.ndarray], date_cols: tuple[str, ...]) -> pa.Table:
    return pa.table({
        k: (pa.array(v, pa.date32()) if k in date_cols else pa.array(v))
        for k, v in cols.items()
    })


def gen_lake(seed: int, root: str, expect: str) -> None:
    cols = spec.lineitem_columns(seed)
    table = _table(cols, ("l_shipdate",))
    keys = cols["l_orderkey"]
    os.makedirs(os.path.join(root, "lineitem"))
    for i, (lo, hi) in enumerate(spec.lake_file_bounds()):
        a = int(np.searchsorted(keys, lo, "left"))
        b = int(np.searchsorted(keys, hi, "right"))
        pq.write_table(table.slice(a, b - a),
                       os.path.join(root, "lineitem", f"part-{i:02d}.parquet"))
    np.save(os.path.join(expect, "l_orderkey.npy"), keys)
    np.save(os.path.join(expect, "l_orderkey_cumsum.npy"),
            np.concatenate([[0], np.cumsum(keys)]))
    group = np.char.add(np.char.add(cols["l_returnflag"], "|"),
                        cols["l_linestatus"])
    scan = {}
    for g in np.unique(group):
        m = group == g
        scan[str(g)] = [int(m.sum()), float(cols["l_quantity"][m].sum()),
                        float(cols["l_extendedprice"][m].sum())]
    with open(os.path.join(expect, "scan.json"), "w") as f:
        json.dump(scan, f)


def gen_nd(seed: int, root: str, expect: str) -> None:
    from beacon_spark.sources.netcdf3 import write_netcdf3
    from beacon_spark.sources.zarrlite import write_zarr_store

    grid = spec.grid_values(seed)
    write_zarr_store(
        os.path.join(root, "grid.zarr"),
        {"time": (("time",), np.arange(spec.GRID_T, dtype=np.float64)),
         "cell": (("cell",), np.arange(spec.GRID_C, dtype=np.float64)),
         "price": (("time", "cell"), grid)},
        version=2, codec="blosc",
        chunk_shapes={"price": (spec.GRID_CHUNK_T, 500),
                      "time": (spec.GRID_T,), "cell": (spec.GRID_C,)},
    )
    np.save(os.path.join(expect, "grid_rowsum.npy"), grid.sum(axis=1))

    # ragged NetCDF: every order grouped per customer (CF contiguous
    # ragged array: rowSize + sample_dimension)
    o = spec.orders_columns(seed)
    order = np.lexsort((o["o_orderkey"], o["o_custkey"]))
    cust, price, okey = o["o_custkey"][order], o["o_totalprice"][order], \
        o["o_orderkey"][order]
    custkeys, counts = np.unique(cust, return_counts=True)
    write_netcdf3(
        os.path.join(root, "profiles.nc"),
        {"profile": len(custkeys), "obs": len(cust)},
        {"custkey": (("profile",), custkeys.astype(np.int32)),
         "rowSize": (("profile",), counts.astype(np.int32)),
         "orderkey": (("obs",), okey.astype(np.int32)),
         "totalprice": (("obs",), price)},
        {"rowSize": {"sample_dimension": "obs"}},
        {},
    )
    n = spec.N_CUSTOMERS + 1
    np.save(os.path.join(expect, "cust_count.npy"),
            np.bincount(cust, minlength=n))
    np.save(os.path.join(expect, "cust_total.npy"),
            np.bincount(cust, weights=price, minlength=n))


def gen_managed(seed: int, root: str, expect: str) -> None:
    cols = spec.orders_columns(seed)
    table = _table(cols, ("o_orderdate",))
    os.makedirs(os.path.join(root, "orders"))
    edges = np.linspace(0, spec.N_ORDERS, spec.N_ORDER_FILES + 1).astype(int)
    for i, (a, b) in enumerate(zip(edges[:-1], edges[1:])):
        pq.write_table(table.slice(a, b - a),
                       os.path.join(root, "orders", f"part-{i:02d}.parquet"))
    base = {"n": spec.N_ORDERS, "k": int(cols["o_orderkey"].sum()),
            "p": float(cols["o_totalprice"].sum())}
    with open(os.path.join(expect, "orders_base.json"), "w") as f:
        json.dump(base, f)


GENERATORS = {"lake_http": gen_lake, "nd_arrays": gen_nd,
              "managed_rw": gen_managed}


def generate(workload: str, seed: int, seed_dir: str) -> None:
    tmp = f"{seed_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    root, expect = os.path.join(tmp, "root"), os.path.join(tmp, "expect")
    os.makedirs(root)
    os.makedirs(expect)
    GENERATORS[workload](seed, root, expect)
    try:
        os.rename(tmp, seed_dir)
    except OSError:  # another run generated the same seed first
        shutil.rmtree(tmp)


def prepare_run(workload: str, seed_dir: str, run_root: str) -> None:
    shutil.rmtree(run_root, ignore_errors=True)
    shutil.copytree(os.path.join(seed_dir, "root"), run_root)
    if workload == "lake_http":
        from beacon_spark.stats import analyze_files

        analyze_files(run_root)


if __name__ == "__main__":
    wl, sd, seed_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    if len(sys.argv) > 4:
        prepare_run(wl, seed_dir, sys.argv[4])
    else:
        generate(wl, sd, seed_dir)
