"""Traced server launcher for ``lake_http``.

    python3 perfbench/launcher.py <trace_out.json> <beacon_spark.server args...>

Installs the span wrappers in the server process, then runs the same
``main`` as ``python -m beacon_spark.server``. The spans are written
to ``<trace_out.json>`` when the server stops (SIGINT).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tracing  # noqa: E402

if __name__ == "__main__":
    tracer = tracing.Tracer()
    tracing.install(tracer)
    tracing.install_http(tracer)
    import beacon_spark.server.__main__ as server_main

    try:
        server_main.main(sys.argv[2:])
    finally:
        tracer.dump(sys.argv[1])
