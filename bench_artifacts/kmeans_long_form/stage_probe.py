"""Per-stage task run time and CPU of one warm ``kmeans_cells`` pass.

    PYTHONPATH=<checkout> python stage_probe.py <sf_dir>

Runs four untimed passes (the seed-centroid memo and the JIT warm up),
then one pass of ``kmeans_cells`` + noop write, and prints every stage
in that pass's stage-ID range with its task count, summed executor run
time and CPU time, read from ``AppStatusStore`` (populated with the UI
off). The last line gives the pass's job and stage counts, wall time
and totals.
"""

import re
import sys
import time

from py4j.protocol import Py4JJavaError

from kafka_streams_repartition_spark.operators import similarity as sim
from kafka_streams_repartition_spark.session import get_spark
from kafka_streams_repartition_spark.sources.tables import load_tables


def main(sf_dir: str) -> None:
    spark = get_spark("stage-probe", shuffle_partitions=8)
    t = load_tables(spark, sf_dir)

    def one() -> None:
        sim.kmeans_cells(t).write.format("noop").mode("overwrite").save()

    for _ in range(4):
        one()
    sc = spark.sparkContext._jsc.sc()
    dag = sc.dagScheduler()
    j0, s0 = dag.nextJobId(), dag.nextStageId()
    t0 = time.perf_counter()
    one()
    wall = time.perf_counter() - t0
    j1, s1 = dag.nextJobId(), dag.nextStageId()
    sc.listenerBus().waitUntilEmpty(10_000)
    store = sc.statusStore()
    tot_run = tot_cpu = 0.0
    for sid in range(s0, s1):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage ID with no recorded attempt
            continue
        run, cpu = st.executorRunTime(), st.executorCpuTime() / 1e6
        tot_run += run
        tot_cpu += cpu
        site = re.sub(r"\S*/", "", st.name())
        print(f"stage {sid} tasks {st.numTasks()} run {run} ms cpu {cpu:.0f} ms  {site}")
    print(
        f"jobs {j1 - j0} stages {s1 - s0} wall {wall:.3f} s"
        f" run {tot_run:.0f} ms cpu {tot_cpu:.0f} ms"
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
