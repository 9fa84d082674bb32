"""Host-speed probe: a small fixed plain-Spark job, timed between queries.

The benchmark runs on a shared VM whose speed swings by 2-4x over
minutes, and by up to 4x between the queries of one run.  The swing is not
only CPU steal: on a busy host a vCPU that went idle takes long to
wake, so every thread hand-off (the py4j socket, the Spark scheduler,
executor threads) slows down as well, and CPU time per unit of work
grows with wall time.  The workloads' queries are small and made of
such hand-offs, so a slow stretch slows all of them alike.  The run
therefore times this probe, a job of the same shape, before and after
every query and reports each query time rescaled to the probe's
reference time, ``REF_S`` (see :func:`rescaled`).

The probe uses only Spark's own API on the benchmark's session, never
the engine's functions, and it pins the SQL settings its plan depends
on, so a change to the engine's code or its session defaults cannot
move it.
"""

from __future__ import annotations

import time

#: the fixed scale of rescaled times: a rescaled time equals the
#: measured one when the probe takes ``REF_S``
REF_S = 0.05
#: query time grows as probe time to this power: the slope of log query
#: latency (over the query's median) on log probe time, fitted over 14
#: runs of both workloads on a 4-core VM whose probe time ranged over
#: 0.11-0.79 s (0.69 on ``llm_corpus``, 0.87 on ``etl_dashboard``)
ELASTICITY = 0.8
#: SQL settings of the probe's plan, set for the probe only
_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
}


def probe(spark) -> float:
    """Seconds of the probe job: 50k rows in 4 tasks, grouped through a
    shuffle to 4 partitions, forced with the ``noop`` sink."""
    sc = spark.sparkContext
    sc.setJobGroup("probe", "host-speed probe")
    saved = {k: spark.conf.get(k, None) for k in _CONF}
    for k, v in _CONF.items():
        spark.conf.set(k, v)
    try:
        t0 = time.perf_counter()
        (
            spark.range(0, 50_000, 1, 4)
            .selectExpr("id % 97 AS k", "id")
            .groupBy("k")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def warm(spark, seconds: float = 2.0) -> None:
    """Run the probe until its plan and code paths are warm."""
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        probe(spark)


def rescaled(seconds: float, probes) -> float:
    """``seconds`` at the reference speed, given the probe times taken
    next to them: ``seconds * (REF_S / mean(probes)) ** ELASTICITY``."""
    return seconds * (REF_S / (sum(probes) / len(probes))) ** ELASTICITY
