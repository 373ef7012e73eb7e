"""Tests of the benchmark itself: its correctness gate, failure accounting,
latency attribution and printed output.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

import io
import json
import time
from contextlib import redirect_stdout

import numpy as np
import pytest

import data
import harness
import run
import stream_signed

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())

PLAN_TAIL = "\n".join(["== Analyzed Logical Plan ==", "Project [doc_id#1]"] + ["+- Scan"] * 50)


def _result(**over):
    res = {
        "workload": "transform_signed", "seed": 1, "attempted": 4, "failed": 0, "mismatches": 0,
        "causes": [], "input_gen_s": 0.5, "notes": {},
        "metrics": {m["name"]: 1.5 for m in SPEC["end_to_end"]},
        "layers": {m["name"]: 2.5 for m in SPEC["per_layer"] if m["name"] != "harness.input_gen_s"},
    }
    res.update(over)
    return res


def test_planted_digest_mismatch_fails_the_run(spark, tmp_path):
    """A pass whose content digest differs from the expected value counts as
    a failed operation and makes the run incorrect, while the passes that
    matched stay measured."""
    from tokforge.pipeline.dedup import q_simhash

    sf = tmp_path / "sf0.001"
    data.write_corpus(sf, scale=0.01)
    from corpus_queries import digest_of

    _, good = digest_of(q_simhash(spark, str(sf)))
    assert good[0] == 50
    planted = [good[0], good[1] + 1]
    calls = {"n": 0}

    def one_pass():
        calls["n"] += 1
        want = good if calls["n"] < 3 else planted
        _, got = digest_of(q_simhash(spark, str(sf)))
        if got != want:
            raise harness.Mismatch("corpus_queries simhash", got, want)

    ledger = harness.Ledger()
    times = harness.closed_loop(ledger, "corpus pass", one_pass, seconds=0, min_passes=2)
    assert len(times) == 2
    one_pass_more = harness.closed_loop(ledger, "corpus pass", one_pass, seconds=0, min_passes=1,
                                        max_consecutive_failures=1)
    assert one_pass_more == []
    assert ledger.mismatches == 1 and ledger.failed == 1 and ledger.attempted == 3
    assert "correctness mismatch" in ledger.causes[0]["cause"]

    res = _result(attempted=ledger.attempted, failed=ledger.failed,
                  mismatches=ledger.mismatches, causes=ledger.causes)
    line = run.result_line({"transform_signed": res}, SPEC, 0, single=True)
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (3, 1)


def test_injected_failure_counts_with_its_root_cause():
    """A pass that raises counts in error_share, its record keeps the first
    'Caused by:' line and the Python exception (never the logical-plan
    tail), and the passes timed before and after it are kept."""
    state = {"n": 0}

    def flaky():
        state["n"] += 1
        if state["n"] == 2:
            raise RuntimeError(
                "An error occurred while calling o12.collectToPython.\n"
                "Caused by: java.lang.IllegalStateException: state store 3 lost\n"
                "\tat org.apache.spark.Foo.bar(Foo.scala:1)\n" + PLAN_TAIL)

    ledger = harness.Ledger()
    times = harness.closed_loop(ledger, "transform pass", flaky, seconds=0, min_passes=3)
    assert len(times) == 3
    assert (ledger.attempted, ledger.failed, ledger.mismatches) == (4, 1, 0)
    assert ledger.error_share == pytest.approx(0.25)
    cause = ledger.causes[0]["cause"]
    assert "Caused by: java.lang.IllegalStateException: state store 3 lost" in cause
    assert "RuntimeError" in cause
    assert "Analyzed Logical Plan" not in cause and "Scan" not in cause

    res = _result(attempted=4, failed=1, causes=ledger.causes)
    out = io.StringIO()
    with redirect_stdout(out):
        run.print_run(res, SPEC, {"cores": 4, "loadavg": [0, 0, 0], "killed": {}}, 0)
    text = out.getvalue()
    assert "error_share" in text and "0.25" in text and "(1 of 4 operations failed)" in text
    assert "state store 3 lost" in text
    line = run.result_line({"transform_signed": res}, SPEC, 0, single=True)
    assert line["correct"] is True and line["failed"] == 1


def test_failed_workload_keeps_the_others():
    """With several workloads, one that failed to produce metrics reports
    null metrics and its error; the others keep theirs."""
    bad = {"workload": "stream_signed", "error": "Caused by: boom", "attempted": 1, "failed": 1,
           "mismatches": 0, "causes": [{"op": "launch", "count": 1, "cause": "Caused by: boom"}]}
    line = run.result_line({"transform_signed": _result(), "stream_signed": bad}, SPEC, 0,
                           single=False)
    assert line["metrics"]["stream_signed"] is None
    assert line["errors"] == {"stream_signed": "Caused by: boom"}
    assert line["metrics"]["transform_signed"]["pass_s_p50"]["value"] == 1.5
    assert line["correct"] is False


def test_drop_latency_attribution_on_a_hand_built_ledger(tmp_path):
    """Each drop's latency is the committed_at of the batch holding its last
    committed row minus the time the drop was due."""
    led = tmp_path / "out" / "_ledger"
    led.mkdir(parents=True)
    base = 1000.0
    for b, rows, at in ((0, 3, base + 2.0), (1, 4, base + 5.5), (2, 0, base + 6.0)):
        (led / f"batch-{b}.json").write_text(json.dumps({"batch_id": b, "rows": rows, "committed_at": at}))
    rows, committed_at = stream_signed.ledger_rows(tmp_path / "out")
    # the no-data batch 2 committed nothing, so it holds no drop
    assert rows == 7 and committed_at == {0: base + 2.0, 1: base + 5.5}

    # three drops of rows [0, 3), [3, 5), [5, 7); drop 1 straddles batches
    # 0 and 1 (its last row landed in batch 1); row 2 had a bad signature
    drop_of_row = np.array([0, 0, 0, 1, 1, 2, 2])
    batch_of_row = {0: 0, 1: 0, 3: 0, 4: 1, 5: 1, 6: 1}
    due = {0: base + 0.5, 1: base + 1.0, 2: base + 1.5}
    lat = stream_signed.drop_latencies(batch_of_row, committed_at, due, drop_of_row)
    assert lat == pytest.approx({0: 1.5, 1: 4.5, 2: 4.0})
    # a drop that was never committed has no sample
    assert 3 not in stream_signed.drop_latencies(batch_of_row, committed_at, {**due, 3: base},
                                                 np.append(drop_of_row, 3))
    assert harness.tail_percentile(50) == 80 and harness.tail_percentile(100) == 90
    assert harness.tail_percentile(9) is None


class _FakeQuery:
    """Just enough of a StreamingQuery for the supervisor: it has failed
    when ``cause`` is set."""

    class _Jvm:
        def __init__(self, cause):
            self.cause = cause

        def exception(self):
            return self

        def get(self):
            return self

        def getCause(self):  # noqa: N802
            return None

        def toString(self):  # noqa: N802
            return self.cause

    def __init__(self, cause=None):
        self.cause = cause
        self._jsq = self._Jvm(cause)
        self.stopped = False

    def exception(self):
        return f"StreamingQueryException: {self.cause}" if self.cause else None

    def stop(self):
        self.stopped = True


def test_failed_stream_query_is_counted_and_restarted():
    """A streaming query that fails counts as a failed operation with its
    JVM root cause and is restarted; past the restart limit the run fails."""
    boom = "org.apache.spark.sql.execution.streaming.state.StateStoreCommitValidationFailed: batch 8"
    queries = [_FakeQuery(boom), _FakeQuery(), _FakeQuery(boom), _FakeQuery(boom)]
    started = list(queries)
    ledger = harness.Ledger()
    sup = stream_signed.Supervised(ledger, lambda: started.pop(0), max_restarts=2)
    sup.check()
    assert queries[0].stopped and sup.query is queries[1]
    assert (ledger.attempted, ledger.failed) == (1, 1)
    assert "Caused by: " + boom in ledger.causes[0]["cause"]
    sup.check()  # healthy: nothing happens
    assert ledger.failed == 1
    sup.query = queries[2]
    sup.check()
    with pytest.raises(RuntimeError, match="StateStoreCommitValidationFailed"):
        sup.check()
    assert ledger.failed == 3


def test_phase_switch_stops_the_query_between_batches(tmp_path):
    """The open-loop query is stopped right after a micro-batch reaches the
    commit log, or while none runs, and never while a batch the sink has
    committed is missing from the commit log."""
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    (out / "_ledger").mkdir(parents=True)
    (ckpt / "commits").mkdir(parents=True)
    for b in (0, 1):
        (out / "_ledger" / f"batch-{b}.json").write_text("{}")
    (ckpt / "commits" / "0").write_text("v1")

    class _Query(_FakeQuery):
        """Batch 1 reaches the commit log at the third health check; a batch
        is always running."""
        polls = 0

        def exception(self):
            self.polls += 1
            if self.polls == 3:
                (ckpt / "commits" / "1").write_text("v1")
            return None

        status = {"isTriggerActive": True}

    q = _Query()
    sup = stream_signed.Supervised(harness.Ledger(), lambda: q)
    assert sup.stop_between_batches(out, ckpt, 5.0)
    assert q.stopped and q.polls == 3
    assert stream_signed.commit_log_batches(ckpt) == {0, 1}

    # no batch ends within the limit: stopped anyway, reported as unsafe
    q = _Query()
    sup = stream_signed.Supervised(harness.Ledger(), lambda: q)
    assert not sup.stop_between_batches(out, ckpt, 0.1) and q.stopped
    # no batch runs: stopped at once
    q = _Query()
    q.status = {"isTriggerActive": False}
    sup = stream_signed.Supervised(harness.Ledger(), lambda: q)
    assert sup.stop_between_batches(out, ckpt, 5.0) and q.stopped and q.polls == 0


@pytest.mark.parametrize("trace", [0, 1])
def test_output_names_every_metric_with_its_unit(trace):
    """The last line carries every BENCHMARK.json metric of the run's kind
    by name with its unit; the human table above it names every end-to-end
    metric with its unit too."""
    res = _result()
    out = io.StringIO()
    with redirect_stdout(out):
        run.print_run(res, SPEC, {"cores": 4, "loadavg": [0, 0, 0], "killed": {}}, trace)
    text = out.getvalue()
    line = run.result_line({"transform_signed": res}, SPEC, trace, single=True)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    kind = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(line["metrics"]) == {m["name"] for m in kind}
    for m in kind:
        got = line["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    for m in SPEC["end_to_end"]:
        assert any(m["name"] in ln and ln.rstrip().endswith(m["unit"]) for ln in text.splitlines())
    assert "error_share" in text


def test_benchmark_json_follows_its_contract():
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert set(SPEC) == keys
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in SPEC["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_root_cause_of_a_plain_python_traceback():
    try:
        {}["missing"]
    except KeyError as exc:
        cause = harness.root_cause(exc)
    assert "KeyError" in cause and "test_perfbench.py" in cause


def test_rss_sampler_sees_child_processes():
    import subprocess

    p = subprocess.Popen(["python3", "-c", "x = bytearray(50_000_000); import time; time.sleep(3)"])
    try:
        time.sleep(1.0)
        with harness.RssSampler(interval=0.1) as s:
            time.sleep(0.3)
        assert s.peak_mb > 40
    finally:
        p.kill()
        p.wait()
