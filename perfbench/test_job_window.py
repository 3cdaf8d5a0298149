"""The benchmark attributes Spark jobs to a query by the window of job IDs
its closed-loop call launched, not by job group: ``plans.etl.write_star``
runs its five table writes on ``ThreadPoolExecutor`` workers, which do
not inherit the caller's job group, so counting by group would drop them.

Run from the checkout root:  python3 -m pytest perfbench/test_job_window.py
"""

from __future__ import annotations

import os

from perfbench import gen, run, tracing


def test_pooled_write_jobs_are_counted(tmp_path):
    run.host_env(str(tmp_path / "work"))
    sheets = str(tmp_path / "sheets")
    gen.write_sheets(3, sheets, n_files=2, rows=200, n_months=12)
    item = run.EtlLoad(sheets, str(tmp_path / "out"))
    runner = run.Runner([item])

    from ida_dataengineerproject_spark.session import get_spark

    runner.spark = get_spark("perfbench-test")
    try:
        sc = runner.spark.sparkContext
        sc.setJobGroup("closed-loop-caller", "etl step (a)")
        first = tracing.next_job_id(runner.spark)
        res = runner.run_item(item)
        assert res is not None, runner.errors

        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        groups = [store.job(j).jobGroup() for j in range(first, first + res["jobs"])]
        in_group = sum(g.isDefined() and g.get() == "closed-loop-caller" for g in groups)

        star = os.listdir(item.history[-1]["out"])
        assert sorted(star) == sorted(run.STAR_TABLES)
        # every table write ran on a pool thread outside the caller's group,
        # and the ID window still counted each of them
        assert res["jobs"] - in_group >= len(star)
        assert in_group > 0
    finally:
        run.stop_spark(runner.spark)
