"""HTTP load generator for ``lake_http``, run in its own process so the
clients never compete with the server for its interpreter lock.

    python3 perfbench/loadgen.py <seed> <seconds> <port> <expect_dir> <out.json>

Two client threads, each a closed loop on its own keep-alive
connection, post JSON-DSL and SQL queries to ``/api/query`` and check
every Arrow IPC answer against the expected result.
"""

from __future__ import annotations

import http.client
import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import spec  # noqa: E402

CLIENTS = 2


def check(op: dict, table: pa.Table, exp: spec.Expected) -> bool:
    if op["cls"] == "scan":
        got = {(r["l_returnflag"], r["l_linestatus"]): (r["n"], r["qty"], r["price"])
               for r in table.to_pylist()}
        return got == exp.scan()
    n, key_sum = exp.lookup(op["lo"], op["hi"])
    return (table.num_rows == n
            and (pc.sum(table["l_orderkey"]).as_py() or 0) == key_sum)


def main(argv: list[str]) -> None:
    seed, seconds, port = int(argv[0]), float(argv[1]), int(argv[2])
    exp, out_path = spec.Expected(argv[3]), argv[4]
    conns = [http.client.HTTPConnection("127.0.0.1", port, timeout=120)
             for _ in range(CLIENTS)]

    def run_op(stream: int, op_id: str, op: dict) -> bool:
        conn = conns[stream]
        conn.request("POST", "/api/query", body=json.dumps(spec.http_body(op)),
                      headers={"Content-Type": "application/json",
                               "x-bench-op": op_id})
        resp = conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {body[:300]!r}")
        return lambda: check(op, pa.ipc.open_stream(body).read_all(), exp)

    res = spec.closed_loop(
        [spec.ops("lake_http", seed, k) for k in range(CLIENTS)], run_op,
        spec.CLASSES["lake_http"], seconds)
    for c in conns:
        c.close()
    with open(out_path, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1:])
