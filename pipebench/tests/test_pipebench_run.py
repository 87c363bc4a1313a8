"""Failure counting in the op loop, with a fake workload."""

import contextlib

import run
import workloads


class FakeWorkload:
    span = staticmethod(lambda layer, name: contextlib.nullcontext())
    WARMUP_OPS = 1
    MAX_OPS = 10**9
    REPEATABLE = True

    def __init__(self, outcomes):
        self.outcomes = outcomes
        self.out_dir = "/nonexistent/pipebench-test"

    def before_op(self, i):
        pass

    def op(self, i):
        kind = self.outcomes[i]
        if kind == "raise":
            raise ModuleNotFoundError("No module named 'odibi_spark'")
        failed = ["node: failed"] if kind == "node" else []
        return workloads.OpResult(rows=10, failed_nodes=failed)

    def check(self, i, res):
        if self.outcomes[i] == "check_raise":
            raise ValueError("bad output file")
        return "mismatch" if self.outcomes[i] == "mismatch" else None

    def input_bytes(self):
        return 1


def test_every_kind_of_failure_counts_and_nothing_crashes():
    kinds = ["ok", "raise", "node", "mismatch", "check_raise", "ok"]
    r = run.Run(FakeWorkload(kinds), seconds=0.0, trace=False)
    rows = sum(r.one_op(i)[1] for i in range(len(kinds)))
    assert r.attempted == 6
    assert len(r.failures) == 4
    assert [f.split(":")[0] for f in r.failures] == ["op 1", "op 2", "op 3", "op 4"]
    assert "ModuleNotFoundError" in r.failures[0]
    assert rows == 50  # the raising op processed nothing


def test_loop_stops_once_summed_latency_reaches_the_run_length():
    r = run.Run(FakeWorkload(["ok"] * 1000), seconds=1e-9, trace=False)
    r.loop(None)
    assert len(r.latencies) == 1
    assert r.rows == 10  # warm-up ops are not counted


def _trace_order(repeatable):
    seen = []
    r = run.Run(FakeWorkload(["ok"] * 100), seconds=3.5, trace=True)
    r.w.REPEATABLE = repeatable
    r.one_op = lambda i, tracer=None: (seen.append((i, tracer is not None)), (1.0, 1))[1]
    r.loop(tracer=object())
    return seen


def test_traced_runs_pair_repeatable_ops_and_alternate_the_rest():
    # a repeatable op runs traced and untraced on the same input, the
    # order swapping every pair; other ops alternate
    assert _trace_order(True) == [(1, True), (1, False), (2, False), (2, True)]
    assert _trace_order(False) == [(1, True), (2, False), (3, True), (4, False)]
