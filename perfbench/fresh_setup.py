"""One fresh set-up, what a one-shot user of the package pays before the
first gate: page-cache priming of the fixture and Spark's jars, a new JVM
and session from ``get_spark``, and the plans import.

``perfbench/measure.py`` calls ``setup`` once in its own process and runs
this module as ``python -m perfbench.fresh_setup <workload> <data>`` for the
other set-ups, each in a fresh process; it prints the timings as JSON and
waits for its JVM to exit.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys
import time

from perfbench.workloads import WORKLOADS, Workload

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prime_page_cache(paths: list[str]) -> None:
    for p in paths:
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass


def setup(workload: Workload, data: str, run_dir: str):
    """Returns ``(spark, REGISTRY, timings)``."""
    import pyspark

    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    fixture = [os.path.join(data, f"{t}.parquet") for t in workload.tables]
    t0 = time.perf_counter()
    _prime_page_cache(fixture + jars)
    t1 = time.perf_counter()
    from market_microstructure_toolkit_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        **{
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    plans = importlib.import_module("market_microstructure_toolkit_spark.plans.queries")
    t3 = time.perf_counter()
    return spark, plans.REGISTRY, {
        "sources.prime_s": t1 - t0,
        "session.start_s": t2 - t1,
        "plans.import_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def main(workload: str, data: str) -> int:
    from pyspark import SparkContext

    spark, _, timings = setup(
        WORKLOADS[workload],
        os.path.join(ROOT, "perfbench", "data", data),
        os.environ["SPARK_GRAFT_SCRATCH_DIR"],
    )
    jvm = SparkContext._gateway.proc
    spark.stop()
    # the JVM exits when its stdin closes; wait for it so that it does not
    # overlap the next set-up
    SparkContext._gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    print(json.dumps(timings), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
