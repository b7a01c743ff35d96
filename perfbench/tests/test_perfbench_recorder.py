"""The recorder charges each job to the span whose call ran it."""

from recorder import Recorder, driver_gap, StageStats


def test_jobs_are_attributed_to_the_call_that_ran_them(spark):
    rec = Recorder(spark, enabled=True)
    sc = spark.sparkContext

    def job():  # an RDD action runs exactly one job
        sc.parallelize(range(10), 2).count()

    with rec.span("a", iteration="it0") as a:
        job()
    with rec.span("b", iteration="it0") as b:
        job()
        with rec.span("c") as c:
            job()
            job()
        with rec.bookkeeping():
            job()
    job()  # outside every span
    assert (a.jobs, b.jobs, c.jobs) == (1, 1, 2)
    assert rec.inclusive(b)["jobs"] == 3
    assert c.parent_id == b.span_id and c.iteration == "it0"
    assert rec.self_time(b) <= b.wall_s - c.wall_s + 1e-6
    assert len(a.stages) == 1 and a.stages[0].num_tasks == 2
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_probe_jobs_stay_in_the_span_and_foreign_groups_can_be_adopted(spark):
    rec = Recorder(spark, enabled=True)
    sc = spark.sparkContext
    with rec.span("outer") as outer:
        with rec.span("layer") as layer:
            with rec.probe():
                sc.parallelize(range(4), 2).count()
        # a job another thread ran under its own group, as a streaming
        # query does under its run id
        sc.setJobGroup("foreign", "x")
        sc.parallelize(range(4), 2).count()
        sc.setJobGroup(outer.group, outer.name)
        rec.adopt_group(outer, "foreign")
    assert layer.jobs == 1 and rec.probe_actions(outer) == 1
    assert outer.jobs == 1 and rec.inclusive(outer)["jobs"] == 2
    assert rec.bookkeeping_s > 0


def test_disabled_recorder_sets_no_job_group(spark):
    rec = Recorder(spark, enabled=False)
    with rec.span("x") as s:
        assert s is None
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert rec.spans == []


def _stage(start, end):
    return StageStats(0, start, end, 1, 0.0, 0, 0, 0, 0)


def test_driver_gap_is_the_time_no_stage_ran():
    stages = [_stage(1.0, 2.0), _stage(1.5, 3.0), _stage(5.0, 6.0), _stage(9.0, 12.0)]
    assert driver_gap(0.0, 10.0, stages) == 10.0 - (2.0 + 1.0 + 1.0)
