"""The bench protocol without Spark: bench.py's fixed rep loop, host
sizing and session shape, and its host-sized N -> 4N ladder (levels,
efficiency from medians, output identity over every rep, when the N
level's child is launched). Importing bench here also catches an import
of a module that no longer exists.
"""

import os

import pytest

import bench


class Built(Exception):
    pass


@pytest.fixture
def shapes(monkeypatch):
    """make_spark records the shape it is asked for and stops before any
    JVM or data; the N level's launcher records its cores instead of
    starting a process."""
    from osc_geo_h3grid_srv_spark import engine

    asked = {"make_spark": [], "spawn": []}

    def make_spark(**kw):
        asked["make_spark"].append(kw)
        raise Built

    monkeypatch.setattr(engine, "make_spark", make_spark)
    monkeypatch.setattr(bench, "_spawn_level",
                        lambda cores: asked["spawn"].append(cores))
    return asked


def test_bench_is_sized_from_the_host():
    assert bench.CPUS == len(os.sched_getaffinity(0))
    assert bench.HOST.driver_memory_mb >= 1024


def test_time_reps_runs_fixed_reps():
    calls = []
    secs, outs = bench.time_reps(lambda: calls.append(1) or len(calls))
    assert bench.REPS == 3
    assert len(calls) == len(secs) == bench.REPS
    assert outs == [1, 2, 3]


def test_bench_and_ladder_share_one_session_shape(shapes, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ONLY", raising=False)
    monkeypatch.setattr(bench, "CPUS", 4)
    for start in (bench.main, lambda: bench.run_level(4)):
        with pytest.raises(Built):
            start()
    assert shapes["spawn"] == [1]  # the N level, before bench's session
    made = shapes["make_spark"]
    assert len(made) == 2 and made[0] == made[1]
    assert made[0]["cores"] == 4
    assert made[0]["shuffle_partitions"] == bench.HOST.shuffle_partitions
    assert made[0]["extra_conf"]["spark.driver.memory"] == \
        f"{bench.HOST.driver_memory_mb}m"


def test_session_puts_the_repo_first_on_pythonpath(shapes, monkeypatch):
    """Spark's Python workers and the N level's child import the package
    from PYTHONPATH, whatever directory bench.py was started from."""
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    with pytest.raises(Built):
        bench.session(4)
    root = os.path.dirname(os.path.abspath(bench.__file__))
    assert os.environ["PYTHONPATH"].split(os.pathsep) == [root,
                                                          "/elsewhere"]


def test_subset_run_launches_no_child(shapes, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ONLY", "h3_cell_counts")
    monkeypatch.setattr(bench, "CPUS", 4)
    with pytest.raises(Built):
        bench.main()
    assert shapes["spawn"] == [] and len(shapes["make_spark"]) == 1


@pytest.mark.parametrize("cores,levels", [(4, (1, 4)), (8, (2, 8)),
                                          (32, (8, 32))])
def test_ladder_levels_from_cores(cores, levels):
    assert bench.ladder_levels(cores) == levels


@pytest.mark.parametrize("cores", [3, 5])
def test_no_ladder_pair_off_a_multiple_of_four(cores, shapes, monkeypatch):
    reason = bench.ladder_levels(cores)
    assert isinstance(reason, str) and "multiple of 4" in reason
    monkeypatch.delenv("SPARK_GRAFT_ONLY", raising=False)
    monkeypatch.setattr(bench, "CPUS", cores)
    with pytest.raises(Built):  # bench still starts its own session
        bench.main()
    assert shapes["spawn"] == [] and len(shapes["make_spark"]) == 1


def test_efficiency_from_medians():
    # medians 11 and 40: a fast outlier rep at either level moves nothing
    assert bench.efficiency([10.0, 12.0, 11.0], [30.0, 40.0, 90.0]) \
        == pytest.approx(40.0 / 44.0)


def test_identical_output_checks_every_rep():
    same = [{"outputs": [[7, 3], [7, 3], [7, 3]]},
            {"outputs": [[7, 3], [7, 3], [7, 3]]}]
    assert bench.identical_output(same)
    for lv, rep in ((0, 0), (0, 1), (1, 1), (1, 2)):
        levels = [{"outputs": [list(o) for o in x["outputs"]]}
                  for x in same]
        levels[lv]["outputs"][rep] = [7, 4]
        assert not bench.identical_output(levels), (lv, rep)
