"""The open-loop generator's schedule, on a fake clock: due times never
depend on how late earlier writes were, nothing is skipped, and every
rating is stamped with its arrival time."""

import os

import numpy as np
import pyarrow.parquet as pq

from perfbench.workloads import OpenLoopGenerator


class FakeClock:
    """Time advances only through sleep() and through injected stalls."""

    def __init__(self, start: float) -> None:
        self.now = start
        self.stalls: dict[int, float] = {}  # call number -> extra seconds
        self.calls = 0

    def __call__(self) -> float:
        self.calls += 1
        self.now += self.stalls.pop(self.calls, 0.0)
        return self.now

    def sleep(self, s: float) -> None:
        self.now += s


def run_ticks(tmp_path, n_files: int, stalls: dict[int, float]):
    clock = FakeClock(1000.0)
    clock.stalls = dict(stalls)
    gen = OpenLoopGenerator(str(tmp_path / "in"), seed=3, n_users=50, n_items=40,
                            per_tick=10, tick_s=0.25, clock=clock, sleep=clock.sleep)
    orig = gen.write_file

    def write_then_maybe_stop(j):
        orig(j)
        if len(gen.files) == n_files:
            gen.stop_event.set()

    gen.write_file = write_then_maybe_stop
    gen.run()
    assert gen.error is None
    return gen


def test_schedule_is_fixed_and_stamps_are_arrival_times(tmp_path):
    gen = run_ticks(tmp_path, 6, {})
    dues = [d for _n, d, _w in gen.files]
    assert dues == [gen.t0 + 0.25 * (j + 1) for j in range(6)]
    assert max(gen.lag_ms()) < 1e-6
    t = pq.read_table(os.path.join(gen.out_dir, gen.files[2][0]))
    created = t["created_ms"].to_numpy() / 1e3
    np.testing.assert_allclose(created, gen.t0 + 0.5 + np.arange(10) * 0.025)
    assert t["seq"].to_pylist() == list(range(20, 30))
    assert sorted(os.listdir(gen.out_dir)) == [n for n, _d, _w in gen.files]
    assert os.listdir(gen.staging) == []


def test_a_stall_delays_writes_but_not_the_schedule(tmp_path):
    # the clock read before file 2's sleep jumps 0.6 s: files 2..4 are
    # late, none is skipped, and later due times are unchanged
    calls_before_file2 = 1 + 2 * 2 + 1
    gen = run_ticks(tmp_path, 8, {calls_before_file2: 0.6})
    dues = [d for _n, d, _w in gen.files]
    assert dues == [gen.t0 + 0.25 * (j + 1) for j in range(8)]
    lags = gen.lag_ms()
    assert lags[:2] == [0.0, 0.0]
    assert lags[2] > 300 and lags[3] > 0
    assert lags[-1] == 0.0
    assert len(gen.files) == 8 and len(np.concatenate(gen.cols["seq"])) == 80


def test_same_seed_same_ratings(tmp_path):
    a = run_ticks(tmp_path / "a", 3, {})
    b = run_ticks(tmp_path / "b", 3, {})
    for k in ("user", "item", "rating"):
        np.testing.assert_array_equal(np.concatenate(a.cols[k]), np.concatenate(b.cols[k]))


def test_primed_file_comes_first_and_the_schedule_goes_on_from_it(tmp_path):
    clock = FakeClock(1000.0)
    gen = OpenLoopGenerator(str(tmp_path / "in"), seed=3, n_users=50, n_items=40,
                            per_tick=10, tick_s=0.25, clock=clock, sleep=clock.sleep)
    gen.prime()
    assert [(n, d, w) for n, d, w in gen.files] == [("r000000.parquet", 1000.0, 1000.0)]
    np.testing.assert_allclose(gen.cols["created"][0], 999.75 + np.arange(10) * 0.025)
    clock.now = 1005.0  # the stream's cold first batch ran in between
    orig = gen.write_file

    def write_then_maybe_stop(j):
        orig(j)
        if len(gen.files) == 4:
            gen.stop_event.set()

    gen.write_file = write_then_maybe_stop
    gen.run()
    assert gen.error is None
    assert [d for _n, d, _w in gen.files[1:]] == [1005.25, 1005.5, 1005.75]
    assert max(gen.lag_ms()) < 1e-6
    np.testing.assert_allclose(gen.cols["created"][1], 1005.0 + np.arange(10) * 0.025)
    assert np.concatenate(gen.cols["seq"]).tolist() == list(range(40))
