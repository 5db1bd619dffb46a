"""Keep every file a benchmark run touches inside the checkout.

Import this module before pyspark: it points the JVM, Spark's local
directories, Python's tempfile and the derived-table paths of the query
modules at ``.bench_build/perfbench`` under the checkout root, and pins
the core count and scale the query modules read at import time.
"""

from __future__ import annotations

import os
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"
WORK = ROOT / ".bench_build" / "perfbench"

SCALES = {"0.01": DATA / "sf0.01", "0.1": DATA / "sf0.1"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate(sf: str, ncpu: int) -> Path:
    """Set the process environment for one run at scale ``sf`` on
    ``local[ncpu]``; returns the scale's table directory."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "cwd"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_*
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # literal-model oracles (IVF centroids, query panels) train from this
    # directory when their module is imported
    os.environ["SPARK_GRAFT_TEST_SF_DIR"] = str(SCALES[sf])
    # spark-warehouse/, metastore_db/ and derby.log land in the cwd
    os.chdir(WORK / "cwd")
    return SCALES[sf]
