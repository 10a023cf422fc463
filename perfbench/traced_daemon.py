"""Run the ingest daemon with the benchmark's spans installed.

Takes the daemon's own argv:

    PERFBENCH_TRACE_DIR=trace python3 perfbench/traced_daemon.py --warehouse wh ...

The repository root must be on ``PYTHONPATH``, so that Spark's Python
workers import the traced data source as ``perfbench.tracing``.
"""

import sys

from perfbench import tracing

if __name__ == "__main__":
    sys.exit(tracing.run(sys.argv[1:]))
