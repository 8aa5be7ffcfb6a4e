"""Serve a workload's index with ``ServeDaemon`` until SIGTERM.

    python3 benchsuite/daemon_main.py <work_dir>/phase.json

Prints the bound port on stdout once the HTTP server is listening.  Run
from the checkout root, in a process group of its own, so the benchmark
can stop the daemon together with any worker processes it spawned.  The
package's own ``python -m horus_ner_spark.daemon`` takes one index dir and
no corpus path, so it cannot serve a tier set or answer snippet requests.
"""

from __future__ import annotations

import json
import os
import signal
import sys

sys.path.insert(0, os.getcwd())

from horus_ner_spark.daemon import ServeDaemon  # noqa: E402


def main(phase_json: str) -> None:
    with open(phase_json) as f:
        phase = json.load(f)
    # SIGTERM ends the process at once: a read-only daemon has nothing to
    # flush, and its worker processes (if any) share the process group
    signal.signal(signal.SIGTERM, lambda *_a: os._exit(0))
    daemon = ServeDaemon(phase["index_dirs"], workers="auto",
                         corpus=phase["corpus"]).start()
    print(daemon.port, flush=True)
    while True:
        signal.pause()


if __name__ == "__main__":
    main(sys.argv[1])
