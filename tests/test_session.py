"""`session.get_spark`'s launch-time driver JVM defaults: the C2
thresholds of `DRIVER_JAVA_OPTIONS` reach the JVM, the back-edge
threshold keeps its default, and options a caller passes through
``extra_conf`` are kept beside them."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

from airline_dataset_hadoop_public_spark.session import DRIVER_JAVA_OPTIONS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
THRESHOLDS = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
}
# Left alone, so per-row executor loops reach C2 as soon as by default.
BACK_EDGE = "Tier4BackEdgeThreshold"

# Prints the JVM's input arguments and the thresholds it runs with as
# one JSON line, then stops the session (and with it the JVM).
_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from airline_dataset_hadoop_public_spark.session import get_spark
spark = get_spark("jvm-options-probe", cpus=1, driver_memory="512m",
                  extra_conf={"spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
try:
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    bean = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    print(json.dumps({
        "args": list(mf.getRuntimeMXBean().getInputArguments()),
        "options": {k: bean.getVMOption(k).getValue() for k in sys.argv[3:]},
        "back_edge_origin": bean.getVMOption(sys.argv[2]).getOrigin().toString(),
    }))
finally:
    spark.stop()
"""


def test_shared_session_runs_with_raised_c2_thresholds(spark):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert spark.conf.get("spark.driver.defaultJavaOptions") == DRIVER_JAVA_OPTIONS
    assert {k: bean.getVMOption(k).getValue() for k in THRESHOLDS} == THRESHOLDS
    assert bean.getVMOption(BACK_EDGE).getOrigin().toString() == "DEFAULT"


def test_callers_java_options_are_kept_beside_the_defaults():
    proc = subprocess.Popen(
        [sys.executable, "-c", _PROBE, ROOT, BACK_EDGE, *THRESHOLDS],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=180)
    finally:
        if proc.poll() is None:  # timed out: take the JVM down with it
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    assert proc.returncode == 0, err[-2000:]
    got = json.loads(out.strip().splitlines()[-1])
    assert "-Dgraft.probe=1" in got["args"]
    assert set(DRIVER_JAVA_OPTIONS.split()) <= set(got["args"])
    assert got["options"] == THRESHOLDS
    assert got["back_edge_origin"] == "DEFAULT"
