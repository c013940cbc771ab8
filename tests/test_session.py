"""The session factory's JIT policy reaches the driver JVM.

The pyspark launcher starts the JVM with ``-XX:+IgnoreUnrecognizedVMOptions``,
so a misspelt or removed ``-XX`` flag is dropped without an error.  These
tests read each flag back from the running VM instead of trusting the
command line; ``getVMOption`` raises on a flag the VM does not know.
"""

import json
import os
import subprocess
import sys

from nasa_asteroid_data_lakehouse_spark.session import JIT_VM_OPTIONS, _TIER4_DEFAULTS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def vm_options(spark, names):
    """Current values of the HotSpot flags ``names`` in the session's JVM."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {n: bean.getVMOption(n).getValue() for n in names}


def _expected():
    return {k: str(v) for k, v in JIT_VM_OPTIONS.items()}


def test_shared_session_jvm_runs_the_jit_policy(spark):
    assert set(JIT_VM_OPTIONS) == set(_TIER4_DEFAULTS)
    assert all(JIT_VM_OPTIONS[k] > v for k, v in _TIER4_DEFAULTS.items())
    assert vm_options(spark, JIT_VM_OPTIONS) == _expected()


_CHILD = """
import json
from nasa_asteroid_data_lakehouse_spark.session import JIT_VM_OPTIONS, get_spark
from tests.test_session import vm_options
spark = get_spark(app_name="ndl-jit-policy", master="local[1]", extra_conf={
    "spark.driver.memory": "1g",
    "spark.driver.extraJavaOptions": "-XX:-UsePerfData",
})
print(json.dumps(vm_options(spark, [*JIT_VM_OPTIONS, "UsePerfData"])))
spark.stop()
"""


def test_policy_survives_caller_extra_java_options(tmp_path):
    """A caller's ``spark.driver.extraJavaOptions`` (perfbench and
    deployments set it) must neither replace the policy nor be replaced
    by it; needs a fresh JVM, so it runs in a child process."""
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got.pop("UsePerfData") == "false"
    assert got == _expected()
