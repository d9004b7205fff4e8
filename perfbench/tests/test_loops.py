import sys
import threading
import time
from collections import Counter
from types import SimpleNamespace

from perfbench.tracing import RssSampler
from perfbench.workloads import MIN_PASSES, Run

POOL = ["q0", "q1", "q2", "q3", "q4", "q5"]


def fake_run(clients: int) -> Run:
    spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=clients))
    run = Run(spark, work="", seed=1, seconds=0.0, traced=False, rss=RssSampler())
    in_flight = [0]
    lock = threading.Lock()

    def query(searcher, spec, mode="auto", traced=False):
        with lock:
            in_flight[0] += 1
            run.max_in_flight = max(getattr(run, "max_in_flight", 0), in_flight[0])
        time.sleep(0.001)
        with lock:
            in_flight[0] -= 1
        return [spec], 0.001, {}

    run.query = query
    return run


def test_closed_loop_runs_whole_passes():
    run = fake_run(1)
    out = run.closed_loop(None, POOL, seconds=0.0)
    assert [j for j, _, _ in out] == list(range(len(POOL))) * MIN_PASSES


def test_concurrent_loop_runs_whole_passes_on_every_client():
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        run = fake_run(16)
        out, qps = run.concurrent_loop(None, POOL, seconds=0.05)
    finally:
        sys.setswitchinterval(old)
    counts = Counter(j for j, _, _ in out)
    passes = counts[0]
    # every query of every started pass ran once, and none was lost
    assert passes >= MIN_PASSES and counts == Counter({j: passes for j in range(len(POOL))})
    assert all(hits == [POOL[j]] for j, hits, _ in out)
    assert run.max_in_flight > 1
    assert 0 < qps < 16 / 0.001
