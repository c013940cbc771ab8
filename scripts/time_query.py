#!/usr/bin/env python
"""Time individual queries() entries in isolation (optimization rounds).

Usage: python scripts/time_query.py name1,name2 [--sf /root/testdata/sf0.1]
       [--n 3] [--explain plans/r11/name_before.txt]

Mirrors bench.py methodology exactly: noop sink, System.gc() between
timed runs, local[$SPARK_GRAFT_CPUS].  --n repeats each query and
reports every sample plus the median, so host-band noise is visible.

Beside the wall-clock samples, each line carries the JVM's JIT compile
seconds (``jit_s``, from the CompilationMXBean) and its process CPU
seconds (``cpu_s``, from the OperatingSystemMXBean) spent in each
sample.  The MXBeans count compiler threads that have already exited;
a per-thread sum does not.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nasa_asteroid_data_lakehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="write .explain('formatted') of the FIRST query here")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="ndl-time-query", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    jvm, gateway = spark.sparkContext._jvm, spark.sparkContext._gateway
    mgmt = jvm.java.lang.management.ManagementFactory
    compilation, osbean = mgmt.getCompilationMXBean(), mgmt.getOperatingSystemMXBean()
    # py4j looks methods up on the bean's runtime class, which sits in a
    # package the JDK does not export; call through the public interface.
    cpu_time = jvm.java.lang.Class.forName(
        "com.sun.management.OperatingSystemMXBean"
    ).getMethod("getProcessCpuTime", gateway.new_array(jvm.java.lang.Class, 0))
    no_args = gateway.new_array(jvm.java.lang.Object, 0)

    def jit_s() -> float:
        return compilation.getTotalCompilationTime() / 1e3

    def cpu_s() -> float:
        return cpu_time.invoke(osbean, no_args) / 1e9

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = [n.strip() for n in args.names.split(",") if n.strip()]

    # Warm-up: prime JVM/codegen the same way bench.py does.
    from nasa_asteroid_data_lakehouse_spark.plans import queries as plans

    plans.q1_pricing_summary(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    for i, name in enumerate(names):
        fn = qs[name]
        if args.explain and i == 0:
            import contextlib
            import io

            df = fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(args.explain, "w") as fh:
                fh.write(buf.getvalue())
            print(f"explain -> {args.explain}")
        samples, jit, cpu = [], [], []
        for _ in range(args.n):
            spark.sparkContext._jvm.System.gc()
            j0, c0 = jit_s(), cpu_s()
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 4))
            jit.append(round(jit_s() - j0, 3))
            cpu.append(round(cpu_s() - c0, 3))
        med = statistics.median(samples)
        print(f"{name}: median={med:.3f}s samples={samples} "
              f"jit_s={jit} cpu_s={cpu}")
    spark.stop()


if __name__ == "__main__":
    main()
