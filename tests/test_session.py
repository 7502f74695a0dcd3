"""The JVM settings `session.get_spark` launches with.

Pins: a default `get_spark()` session (the extraction job's) runs its
driver JVM C1 only with a 240 MB code cache (both flags on its command
line, and in effect) and sizes the codegen cache above one job call's
~125 generated classes; a `jvm_heavy=True` session (the conftest's, as
`bench.py`'s and `scripts/run_query.py`'s) gets neither.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JIT_FLAGS = ("-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m")
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"

# Run in a fresh process: the conftest session owns this one's JVM.
PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from mcp_ocr_server_spark.session import get_spark
spark = get_spark(app_name="session-probe", master="local[1]")
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
hotspot = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
conf = spark.sparkContext.getConf()
print(json.dumps(dict(
    args=list(mf.getRuntimeMXBean().getInputArguments()),
    tiered_stop=hotspot.getVMOption("TieredStopAtLevel").getValue(),
    code_cache=hotspot.getVMOption("ReservedCodeCacheSize").getValue(),
    spark_conf=conf.get("%s"),
    runtime_conf=spark.conf.get("%s"),
    executor_opts=conf.get("spark.executor.extraJavaOptions") or "",
)))
spark.stop()
""" % (CODEGEN_CACHE, CODEGEN_CACHE)


def _jvm_args(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(mf.getRuntimeMXBean().getInputArguments())


def test_job_session_runs_c1_only_with_full_code_cache():
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    res = subprocess.run(
        [sys.executable, "-c", PROBE, REPO],
        env=env, capture_output=True, text=True, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    for flag in JIT_FLAGS:
        assert flag in got["args"], (flag, got["args"])
    # the values in effect: no later flag on the command line undid them
    assert got["tiered_stop"] == "1"
    assert got["code_cache"] == str(240 * 1024 * 1024)
    assert got["spark_conf"] == "1000"
    assert got["runtime_conf"] == "1000"
    # executors of a cluster keep C2
    assert "TieredStopAtLevel" not in got["executor_opts"]


def test_jvm_heavy_session_keeps_hotspot_defaults(spark):
    args = _jvm_args(spark)
    assert not any(a.startswith(("-XX:TieredStopAtLevel", "-XX:ReservedCodeCacheSize"))
                   for a in args), args
    assert spark.sparkContext.getConf().get(CODEGEN_CACHE) is None
    assert spark.conf.get(CODEGEN_CACHE) == "100"
