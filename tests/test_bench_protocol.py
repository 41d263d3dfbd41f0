"""The bench protocol without Spark: bench.py's fixed rep loop, host
sizing and session shape, and tools/bench_scaling.py's host-sized N -> 4N
ladder (levels, efficiency from medians, output identity over every
rep). Importing both modules here also catches an import of a module
that no longer exists.
"""

import importlib.util
import os

import pytest

import bench

_SCALING = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "bench_scaling.py")


@pytest.fixture(scope="module")
def scaling():
    spec = importlib.util.spec_from_file_location("bench_scaling", _SCALING)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_is_sized_from_the_host():
    assert bench.CPUS == len(os.sched_getaffinity(0))
    assert bench.HOST.driver_memory_mb >= 1024


def test_time_reps_runs_fixed_reps():
    calls = []
    secs, outs = bench.time_reps(lambda: calls.append(1) or len(calls))
    assert bench.REPS == 3
    assert len(calls) == len(secs) == bench.REPS
    assert outs == [1, 2, 3]


def test_bench_and_ladder_share_one_session_shape(scaling, monkeypatch):
    from osc_geo_h3grid_srv_spark import engine

    class Built(Exception):
        pass

    shapes = []

    def make_spark(**kw):
        shapes.append(kw)
        raise Built  # stop before any JVM or data

    monkeypatch.setattr(engine, "make_spark", make_spark)
    monkeypatch.setattr(bench, "CPUS", 4)
    for start in (bench.main, lambda: scaling.run_level(4, 10)):
        with pytest.raises(Built):
            start()
    assert len(shapes) == 2 and shapes[0] == shapes[1]
    assert shapes[0]["cores"] == 4
    assert shapes[0]["shuffle_partitions"] == 32
    assert shapes[0]["extra_conf"]["spark.driver.memory"] == \
        f"{bench.HOST.driver_memory_mb}m"


@pytest.mark.parametrize("cores,levels", [(4, (1, 4)), (5, (1, 4)),
                                          (32, (8, 32))])
def test_ladder_levels_from_cores(scaling, cores, levels):
    assert scaling.ladder_levels(cores) == levels


def test_ladder_refuses_below_four_cores(scaling):
    with pytest.raises(SystemExit, match="at least 4 cores"):
        scaling.ladder_levels(3)


def test_efficiency_from_medians(scaling):
    # medians 11 and 40: a fast outlier rep at either level moves nothing
    assert scaling.efficiency([10.0, 12.0, 11.0], [30.0, 40.0, 90.0]) \
        == pytest.approx(40.0 / 44.0)


def test_identical_output_checks_every_rep(scaling):
    same = [{"outputs": [[7, 3], [7, 3], [7, 3]]},
            {"outputs": [[7, 3], [7, 3], [7, 3]]}]
    assert scaling.identical_output(same)
    for lv, rep in ((0, 0), (0, 1), (1, 1), (1, 2)):
        levels = [{"outputs": [list(o) for o in x["outputs"]]}
                  for x in same]
        levels[lv]["outputs"][rep] = [7, 4]
        assert not scaling.identical_output(levels), (lv, rep)
