"""bench.py's solo-run scan: the count of live Spark driver JVMs that
labels a headline run as contaminated."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import count_spark_drivers  # noqa: E402

SUBMIT = "org.apache.spark.deploy.SparkSubmit"


def test_count_spark_drivers_exact_java_only():
    """Only an executable named exactly ``java`` running SparkSubmit
    counts.  Blank and whitespace-only lines (which once raised inside
    the scan and turned the count into -1) are skipped, and near-miss
    commands — a name that merely ends in "java", or a shell whose
    arguments mention the class — are not drivers."""
    ps_out = "\n".join(
        [
            "COMMAND         COMMAND",
            f"java            /usr/bin/java -cp x {SUBMIT} --master local[4]",
            "",
            "   ",
            f"notjava         /opt/notjava {SUBMIT}",
            f"bash            bash -c pgrep -f {SUBMIT}",
            "java            /usr/bin/java -jar other.jar",
            f"java            /usr/bin/java {SUBMIT} pyspark-shell",
        ]
    )
    assert count_spark_drivers(ps_out) == 2
    assert count_spark_drivers("") == 0
    assert count_spark_drivers("\n\n") == 0
