"""One cold Spark session start, timed.

    python3 benchsuite/session_start.py <work_dir> <n>

Starts the session the Spark phase starts (same configuration), writes
the seconds ``get_spark`` took to ``<work_dir>/session_<n>.json`` and
exits at once: ``setup_s`` takes the median of several cold starts, each
in a process of its own.  This file imports nothing of the engine but
``horus_ner_spark.session``, so the process costs little beyond the start.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())                      # the checkout root


def get_spark(work: str, cores: int):
    """-> (session, seconds ``get_spark`` took)."""
    from horus_ner_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(
        "benchsuite", cores=cores, shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["TMPDIR"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    return spark, time.perf_counter() - t0


def exit_now() -> None:
    """Exit without the interpreter's teardown; a JVM still winding down
    ends with this process, and ``run.py`` reaps what is left."""
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    _spark, start_s = get_spark(sys.argv[1], os.cpu_count() or 1)
    with open(os.path.join(sys.argv[1], f"session_{sys.argv[2]}.json"),
              "w") as f:
        json.dump(start_s, f)
    exit_now()
