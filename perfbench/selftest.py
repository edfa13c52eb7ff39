"""Self-test of the span / event-log reader on a tiny input.

    python3 perfbench/selftest.py

Runs a handful of known Spark calls under nested spans with the event
log on, then checks what ``spans.SpanMetrics`` reads back:

* each span's own job count equals ``statusTracker().getJobIdsForGroup``
  for the same span;
* self time equals wall minus the time covered by child spans, and a
  span's inclusive job count is the sum over its subtree;
* ``probe.`` spans are left out of their parent's jobs and wall;
* Python-worker metrics are non-zero only on the span that ran a UDF.

Exits 0 and prints ``selftest ok`` when every check holds.
"""

import glob
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def main() -> int:
    import pandas as pd
    from pyspark.sql import functions as F

    from ccgp_data_wrangling_spark.session import get_spark
    from spans import SpanMetrics, Tracer

    scratch = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=scratch)
    try:
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
        spark = get_spark("perfbench-selftest", master="local[2]", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": work,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": work,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tr = Tracer(sc)

        @F.pandas_udf("long")
        def plus1(s: pd.Series) -> pd.Series:
            return s + 1

        with tr.span("outer") as outer:
            spark.range(100).count()
            with tr.span("child") as child:
                spark.range(100).groupBy((F.col("id") % 3).alias("k")).count().collect()
                with tr.span("leaf") as leaf:
                    pass
            with tr.span("probe.extra"):
                spark.range(10).count()
            spark.range(50).collect()
        with tr.span("udf") as udf:
            spark.range(200).select(plus1("id").alias("x")).agg(F.sum("x")).collect()
        tracked = {s.id: len(sc.statusTracker().getJobIdsForGroup(s.id))
                   for s in tr.spans.values()}
        spark.stop()
        (log,) = glob.glob(os.path.join(work, "local-*"))
        sm = SpanMetrics(tr, log)

        failures = []

        def expect(ok: bool, what: str) -> None:
            if not ok:
                failures.append(what)

        for sid, n in tracked.items():
            expect(sm.own_jobs(sid) == n,
                   f"{tr.spans[sid].name}: {sm.own_jobs(sid)} jobs read, statusTracker has {n}")
        expect(tracked[outer.id] >= 2 and tracked[child.id] >= 1 and tracked[leaf.id] == 0,
               f"unexpected job counts {tracked}")
        for s in (outer, child, leaf, udf):
            covered = sum(tr.spans[c].wall for c in s.children)
            expect(abs(sm.self_s(s.id) - (s.wall - covered)) < 1e-9, f"{s.name}: self time")
        probe = next(s for s in tr.spans.values() if s.name == "probe.extra")
        inc = sm.of([outer.id])
        expect(inc["jobs"] == tracked[outer.id] + tracked[child.id],
               f"outer inclusive jobs {inc['jobs']} leave out the probe's {tracked[probe.id]}")
        expect(abs(inc["wall_s"] - (outer.wall - probe.wall)) < 1e-9, "probe wall not removed")
        expect(0 <= inc["job_s"] <= inc["wall_s"] + 0.05, "job_s exceeds wall")
        expect(sm.of([udf.id])["python.run_s"] > 0, "UDF span shows no Python-worker time")
        expect(sm.of([udf.id])["python.sent_bytes"] > 0, "UDF span shows no Arrow bytes")
        expect(inc["python.run_s"] == 0 and inc["python.sent_bytes"] == 0,
               "Python-worker time on a span without a UDF")
        expect(sm.unattributed == 0, f"{sm.unattributed} jobs outside every span")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest ok" if not failures else f"selftest: {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
