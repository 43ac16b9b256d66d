"""Workload definitions shared by every benchmark process.

Everything here is a pure function of the seed: input sizes, the
operation sequence each client runs, and the expected result of each
operation (computed with numpy from arrays saved next to the generated
inputs). Nothing here imports ``beacon_spark``.

All generated money and measurement values are integer-valued doubles,
so every sum the engine returns is exact in any summation order and the
checks compare with ``==``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

import numpy as np

WORKLOADS = ("lake_http", "nd_arrays", "managed_rw")

# Gated latency slots: each workload maps its three operation classes
# onto op1..op3 so every workload reports the same metric names.
CLASSES = {
    "lake_http": ("lookup", "scan", "lookup_sql"),
    "nd_arrays": ("slice_dsl", "slice_sql", "ragged"),
    "managed_rw": ("read", "insert", "dml"),
}

# lineitem (sf0.1-sized): 150k orders, 1-7 lines each, keys 4*j+1
N_ORDERS = 150_000
N_LAKE_FILES = 24
LOOKUP_KEY_WIDTH = 2_000  # ~500 orders, ~2k rows, inside one file
# orders: even keys 2..300000, custkeys 1..15000, six input files
N_CUSTOMERS = 15_000
N_ORDER_FILES = 6
# zarr grid: time x cell, chunks of 150 time rows
GRID_T, GRID_C, GRID_CHUNK_T = 1200, 2000, 150
SLICE_ROWS = 300  # two chunk bands, chunk-aligned so every slice decodes the same
SLICE_BUCKETS = 50
RAGGED_CUSTOMERS = 3_000
# managed_rw: odd-key block appended and removed again every cycle
BLOCK_ROWS = 1_000
OPTIMIZE_EVERY = 3
OPTIMIZE_TARGET_BYTES = 200_000  # base files stay, block files compact

SCAN_SQL = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "sum(l_quantity) AS qty, sum(l_extendedprice) AS price "
    "FROM read_parquet('lineitem/*.parquet') "
    "GROUP BY l_returnflag, l_linestatus"
)
LOOKUP_COLUMNS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                  "l_shipdate"]
MANAGED_TABLE = "orders_m"
READ_SQL = (f"SELECT count(*) AS n, sum(o_orderkey) AS k, "
            f"sum(o_totalprice) AS p FROM {MANAGED_TABLE}")


# ------------------------------------------------------------ inputs


def lineitem_columns(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, N_ORDERS)
    keys = 4 * np.arange(N_ORDERS, dtype=np.int64) + 1
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": np.repeat(keys, lines),
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1_001, n),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": qty * rng.integers(90_000, 200_001, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": rng.integers(8_000, 10_500, n).astype(np.int32),
    }


def lake_file_bounds() -> list[tuple[int, int]]:
    """Row-order split of the orders into files: (first key, last key)
    per file. Files split on order boundaries, so key ranges are disjoint."""
    edges = np.linspace(0, N_ORDERS, N_LAKE_FILES + 1).astype(int)
    return [(4 * int(a) + 1, 4 * int(b - 1) + 1)
            for a, b in zip(edges[:-1], edges[1:])]


def orders_columns(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, 2])
    return {
        "o_orderkey": 2 * np.arange(1, N_ORDERS + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, N_CUSTOMERS + 1, N_ORDERS),
        "o_totalprice": rng.integers(100_000, 40_000_000, N_ORDERS).astype(np.float64),
        "o_orderdate": rng.integers(8_000, 10_500, N_ORDERS).astype(np.int32),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
    }


def grid_values(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 3])
    return rng.integers(0, 100_000, (GRID_T, GRID_C)).astype(np.float64)


# ------------------------------------------------------------ operations


def ops(workload: str, seed: int, stream: int = 0):
    """Endless deterministic operation sequence for one client
    ``stream``. Each op is a dict with ``cls`` and its seeded offsets;
    ops of one class differ only in those offsets."""
    rng = np.random.default_rng([seed, 100 + stream])
    classes = CLASSES[workload]
    if workload == "managed_rw":
        yield from _managed_ops(rng)
        return
    bounds = lake_file_bounds()
    j = stream  # streams start at different classes
    while True:
        cls = classes[j % len(classes)]
        j += 1
        if cls in ("lookup", "lookup_sql"):
            lo_f, hi_f = bounds[int(rng.integers(len(bounds)))]
            lo = int(rng.integers(lo_f, hi_f - LOOKUP_KEY_WIDTH + 2))
            yield {"cls": cls, "lo": lo, "hi": lo + LOOKUP_KEY_WIDTH - 1}
        elif cls == "scan":
            yield {"cls": cls}
        elif cls in ("slice_dsl", "slice_sql"):
            band = int(rng.integers(0, (GRID_T - SLICE_ROWS) // GRID_CHUNK_T + 1))
            t0 = band * GRID_CHUNK_T
            yield {"cls": cls, "t0": t0, "t1": t0 + SLICE_ROWS - 1}
        elif cls == "ragged":
            lo = int(rng.integers(1, N_CUSTOMERS - RAGGED_CUSTOMERS + 2))
            yield {"cls": cls, "lo": lo, "hi": lo + RAGGED_CUSTOMERS - 1}


def _managed_ops(rng):
    """INSERT an odd-key block, UPDATE it, DELETE it, with a read after
    every statement; OPTIMIZE after the INSERT every few cycles. Base
    keys are even, so the block never touches base rows and the table
    returns to its base checksum after every cycle."""
    cycle = 0
    while True:
        lo = 2 * int(rng.integers(0, N_ORDERS - BLOCK_ROWS)) + 1
        blk = {"lo": lo, "hi": lo + 2 * (BLOCK_ROWS - 1), "cycle": cycle}
        yield {"cls": "insert", "stmt": "insert", **blk}
        if cycle % OPTIMIZE_EVERY == OPTIMIZE_EVERY - 1:
            yield {"cls": "optimize", "stmt": "optimize", **blk}
        yield {"cls": "read", "after": "insert", **blk}
        yield {"cls": "dml", "stmt": "update", **blk}
        yield {"cls": "read", "after": "update", **blk}
        yield {"cls": "dml", "stmt": "delete", **blk}
        yield {"cls": "read", "after": "delete", **blk}
        cycle += 1


def managed_sql(op: dict) -> str:
    t = MANAGED_TABLE
    if op["cls"] == "read":
        return READ_SQL
    lo, hi = op["lo"], op["hi"]
    stmt = op["stmt"]
    if stmt == "insert":
        # two partitions -> two small data files per block
        return (f"INSERT INTO {t} SELECT id AS o_orderkey, "
                f"id % {N_CUSTOMERS} + 1 AS o_custkey, "
                f"CAST(id * 7 % 1000000 AS DOUBLE) AS o_totalprice, "
                f"CAST(DATE '1995-01-01' AS DATE) AS o_orderdate, 'O' AS o_orderstatus "
                f"FROM range({lo}, {hi + 1}, 2, 2)")
    if stmt == "optimize":
        return f"OPTIMIZE {t} TARGET SIZE {OPTIMIZE_TARGET_BYTES}"
    pred = f"o_orderkey BETWEEN {lo} AND {hi} AND o_orderkey % 2 = 1"
    if stmt == "update":
        return f"UPDATE {t} SET o_totalprice = o_totalprice + 1 WHERE {pred}"
    return f"DELETE FROM {t} WHERE {pred}"


def block_sums(lo: int, hi: int) -> tuple[int, int, float]:
    ids = np.arange(lo, hi + 1, 2, dtype=np.int64)
    return len(ids), int(ids.sum()), float((ids * 7 % 1_000_000).sum())


def http_body(op: dict) -> dict:
    if op["cls"] == "lookup":
        return {"select": LOOKUP_COLUMNS,
                "filter": {"column": "l_orderkey", "gt_eq": op["lo"],
                           "lt_eq": op["hi"]},
                "from": {"parquet": {"paths": ["lineitem/*.parquet"]}}}
    if op["cls"] == "lookup_sql":
        return {"sql": f"SELECT {', '.join(LOOKUP_COLUMNS)} "
                       f"FROM read_parquet('lineitem/*.parquet') "
                       f"WHERE l_orderkey BETWEEN {op['lo']} AND {op['hi']}"}
    return {"sql": SCAN_SQL}


# ------------------------------------------------------------ expected results


class Expected:
    """Expected results for one seed, from the arrays ``gen.py`` saved
    next to the inputs."""

    def __init__(self, expect_dir: str):
        self.dir = expect_dir
        self._cache: dict[str, object] = {}

    def _load(self, name: str):
        if name not in self._cache:
            path = os.path.join(self.dir, name)
            if name.endswith(".json"):
                with open(path) as f:
                    self._cache[name] = json.load(f)
            else:
                self._cache[name] = np.load(path)
        return self._cache[name]

    def lookup(self, lo: int, hi: int) -> tuple[int, int]:
        """(row count, key sum) of lineitem rows with lo <= key <= hi."""
        keys = self._load("l_orderkey.npy")
        csum = self._load("l_orderkey_cumsum.npy")
        a = int(np.searchsorted(keys, lo, "left"))
        b = int(np.searchsorted(keys, hi, "right"))
        return b - a, int(csum[b] - csum[a])

    def scan(self) -> dict:
        return {tuple(k.split("|")): tuple(v)
                for k, v in self._load("scan.json").items()}

    def grid_window(self, t0: int, t1: int) -> tuple[int, float]:
        rows = self._load("grid_rowsum.npy")
        return (t1 - t0 + 1) * GRID_C, float(rows[t0:t1 + 1].sum())

    def ragged(self, lo: int, hi: int) -> tuple[int, float]:
        cnt = self._load("cust_count.npy")
        tot = self._load("cust_total.npy")
        return int(cnt[lo:hi + 1].sum()), float(tot[lo:hi + 1].sum())

    def managed_base(self) -> tuple[int, int, float]:
        b = self._load("orders_base.json")
        return b["n"], b["k"], b["p"]


# ------------------------------------------------------------ statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(np.ceil(q / 100.0 * len(s))) - 1))
    return s[k]


def tail_of(values: list[float]) -> tuple[int, float | None]:
    """The highest percentile (in steps of 5, and p99) with at least ten
    samples beyond it; (0, None) below 20 samples."""
    n = len(values)
    for q in (99, 95, 90, 85, 80, 75, 70, 65, 60, 55, 50):
        if n * (100 - q) / 100.0 >= 10:
            return q, percentile(values, q)
    return 0, None


def class_summary(samples: list[dict]) -> dict:
    """Per-class p50, tail and sample count over measured samples."""
    out: dict[str, dict] = {}
    for cls in sorted({s["cls"] for s in samples}):
        lat = [s["ms"] for s in samples if s["cls"] == cls]
        q, tail = tail_of(lat)
        out[cls] = {"n": len(lat), "p50_ms": statistics.median(lat),
                    "tail_pct": q, "tail_ms": tail}
    return out


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_load(before: list[int], after: list[int]) -> dict:
    """Busy and steal shares of all CPUs between two ``cpu_times``."""
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d))
    return {"busy_pct": 100.0 * (total - d[3] - d[4]) / total,
            "steal_pct": 100.0 * d[7] / total}


def host_probe() -> float:
    """Seconds for a fixed pure-Python loop (median of three). A
    diagnostic of host load only; never used to scale a metric."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t)
    return statistics.median(times)


# ------------------------------------------------------------ process memory


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        out[int(d)] = (int(rest[1]), stat[stat.find("(") + 1: stat.rfind(")")])
    return out


def java_descendants(pid: int) -> list[int]:
    """PIDs of ``java`` processes below ``pid`` (the Spark driver JVM)."""
    table = processes()
    out = []
    for p, (_, comm) in table.items():
        q = p
        while q in table and q != pid and q > 1:
            q = table[q][0]
        if q == pid and p != pid and comm == "java":
            out.append(p)
    return out


def peak_rss_mb(pid: int) -> dict[str, float]:
    """Kernel-tracked peak RSS (VmHWM) in MB of ``pid`` and of its
    driver JVM."""
    return {"python": _status_kb(pid, "VmHWM") / 1024.0,
            "jvm": sum(_status_kb(j, "VmHWM")
                       for j in java_descendants(pid)) / 1024.0}


# ------------------------------------------------------------ closed loop

WARM_MAX_S = 8.0


def _steady(samples: list[dict], classes) -> bool:
    """Warm once every gated class has come back down: the faster of its
    last two samples is within 30% of its fastest so far."""
    for cls in classes:
        lat = [s["ms"] for s in samples if s["cls"] == cls]
        if len(lat) < 2 or min(lat[-2:]) > 1.3 * min(lat):
            return False
    return True


def closed_loop(op_iters: list, run_op, classes, seconds: float,
                warm_max_s: float = WARM_MAX_S) -> dict:
    """Run one client thread per op iterator: warm up until steady (or,
    once every class has two samples, ``warm_max_s``), then measure for ``seconds`` from a common start.
    ``run_op(stream, op_id, op)`` returns whether the result checked
    out, or a callable that checks it after the clock stops. Throughput credits the operation in flight at the deadline with
    the share of it that fell inside the window."""
    n = len(op_iters)
    barrier = threading.Barrier(n)
    samples: list[list[dict]] = [[] for _ in range(n)]
    credit = [0.0] * n
    window: dict[str, float] = {}

    def client(k: int) -> None:
        out = samples[k]

        def one(measured: bool) -> dict:
            op = next(op_iters[k])
            op_id = f"{k}-{len(out)}"
            t0 = time.perf_counter()
            try:
                result = run_op(k, op_id, op)
                t1 = time.perf_counter()
                ok = bool(result() if callable(result) else result)
            except Exception as e:  # a failed operation is counted, not fatal
                t1 = time.perf_counter()
                print(f"op {op_id} {op['cls']} failed: {e!r}"[:2000],
                      file=sys.stderr)
                ok = False
            s = {"op": op_id, "cls": op["cls"], "ms": (t1 - t0) * 1e3,
                 "ok": ok, "t0": t0, "t1": t1, "measured": measured}
            out.append(s)
            return s

        start = time.perf_counter()
        while not _steady(out, classes) and (
                time.perf_counter() - start < warm_max_s
                or any(sum(s["cls"] == c for s in out) < 2 for c in classes)):
            one(False)
        barrier.wait()
        if k == 0:
            window["t0"], window["wall0"] = time.perf_counter(), time.time()
        barrier.wait()
        deadline = window["t0"] + seconds
        while time.perf_counter() < deadline:
            s = one(True)
            if s["t1"] <= deadline:
                credit[k] += 1.0
            else:
                credit[k] += (deadline - s["t0"]) / (s["t1"] - s["t0"])

    begin = time.perf_counter()
    threads = [threading.Thread(target=client, args=(k,)) for k in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    flat = [s for out in samples for s in out]
    deadline = window["t0"] + seconds
    measured = [s for s in flat if s["measured"] and s["t1"] <= deadline]
    return {
        "attempted": len(flat),
        "failed": sum(1 for s in flat if not s["ok"]),
        "warmup_ops": sum(1 for s in flat if not s["measured"]),
        "warmup_s": window["t0"] - begin,
        "ops_per_s": sum(credit) / seconds,
        "measured": measured,
        "window": (window["wall0"], window["wall0"] + seconds),
    }
