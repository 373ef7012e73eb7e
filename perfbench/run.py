"""tokforge benchmark: three workloads at this host's real core count, with
output checks, end-to-end metrics and (``--trace 1``) a per-layer ledger.

Run from the repository root:

    python3 perfbench/run.py                                  # every workload
    python3 perfbench/run.py --workload transform_signed --seed 3 --seconds 10
    python3 perfbench/run.py --workload stream_signed --trace 1

Each workload run gets a fresh process and JVM.  Human-readable tables go
to stdout first; the last stdout line is one JSON object.  For a single
workload it has exactly the keys ``correct``, ``attempted``, ``failed``
and ``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json, or the
``per_layer`` ones with ``--trace 1``).  Inputs, logs and spans are
written under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from child import WORKLOADS  # noqa: E402
RUN_LIMIT_S = 165.0
# building the seed-independent inputs once per checkout (not timed)
PREPARE_LIMIT_S = 700.0
LOCAL1_SECONDS = 0.0


def child_env(work: Path, cores: int) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE), env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        TOKFORGE_SCRATCH_DIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            # no hsperfdata under /tmp: the run writes only inside the checkout
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    return env


def run_child(workload: str, seed: int, seconds: float, trace: int, work: Path, cores: int,
              deadline: float, master: str | None = None, tag: str = "",
              prepare: bool = False) -> dict:
    """One workload run in its own process group; returns its result, or a
    failure record with the root cause from its log."""
    import harness

    logs = work / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    name = f"{workload}{tag}-seed{seed}-{int(time.time() * 1000)}"
    out, log = logs / f"{name}.json", logs / f"{name}.log"
    cmd = [sys.executable, str(HERE / "run.py"), "--child", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
           "--out", str(out), "--cores", str(cores)]
    if master:
        cmd += ["--master", master]
    if prepare:
        cmd.append("--prepare")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=str(ROOT),
                                env=child_env(work, cores), start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # the whole group: the child, its JVM and the JVM's Python workers
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            else:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
    if out.exists():
        res = json.loads(out.read_text())
    else:
        text = log.read_text(errors="replace")
        cause = ("run exceeded its time limit" if proc.returncode == -signal.SIGKILL
                 else harness.root_cause(text))
        res = {"workload": workload, "error": cause, "attempted": 1, "failed": 1,
               "mismatches": 0, "causes": [{"op": "launch", "count": 1, "cause": cause}]}
    res["log"] = str(log)
    return res


def fmt(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def print_run(res: dict, spec: dict, host: dict, trace: int) -> None:
    w = res["workload"]
    print(f"== {w}  seed={res.get('seed')}  cores={host['cores']}  "
          f"load_at_start={host['loadavg']}  orphan_jvms_killed={host['killed'].get(w, [])}")
    att, fail = res.get("attempted", 0), res.get("failed", 0)
    share = fail / att if att else 1.0
    if "metrics" in res:
        for m in spec["end_to_end"]:
            print(f"  {m['name']:<16} {fmt(res['metrics'].get(m['name'])):>14} {m['unit']}")
        print(f"  {'peak_rss_mb':<16} {fmt(res['metrics'].get('peak_rss_mb')):>14} MB")
    print(f"  {'error_share':<16} {fmt(share):>14} fraction  ({fail} of {att} operations failed)")
    for c in res.get("causes", []):
        print(f"    failed: {c['op']} x{c['count']}: {c['cause']}")
    if res.get("error"):
        print(f"  error: {res['error']}")
    notes = res.get("notes", {})
    if "latency_samples" in notes:
        print(f"  latency samples: {notes['latency_samples']} drops, tail = p{notes['tail_percentile']}")
    if trace and "layers" in res:
        print_ledger(res)


def print_ledger(res: dict) -> None:
    layers = dict(res["layers"])
    layers["harness.input_gen_s"] = res.get("input_gen_s")
    print("  -- per-layer ledger (traced run) --")
    for k in sorted(layers):
        print(f"    {k:<40} {fmt(layers[k])}")
    notes = res.get("notes", {})
    for key in ("ledger", "corpus_ledger"):
        led = notes.get(key)
        if not led:
            continue
        e2e = led["end_to_end_s"]
        print(f"  -- self time per layer, against {led['of']}: {e2e:.4f} s --")
        rows = dict(led["parts"])
        rows["unattributed"] = e2e - sum(rows.values())
        for k, v in rows.items():
            print(f"    {k:<44} {v:9.4f} s  {100 * v / e2e:6.1f} %")
        for k, v in led.get("shares", {}).items():
            print(f"    {k}: {v:.4f}")
    if "span_self_s" in res:
        print("  -- span self time: duration minus the part its child spans cover --")
        for k, v in sorted(res["span_self_s"].items(), key=lambda kv: -kv[1]):
            print(f"    {k:<44} {v:9.4f} s")
    if "spans_path" in res:
        print(f"  spans: {res['spans_path']}")


def final_metrics(res: dict, spec: dict, trace: int) -> dict | None:
    """BENCHMARK.json's metrics of the run's kind, by name with unit; a value
    that is not a finite number (a drop never committed is infinitely late)
    is null."""
    if "metrics" not in res:
        return None
    if trace:
        values = dict(res.get("layers", {}))
        values["harness.input_gen_s"] = res.get("input_gen_s")
        kind = spec["per_layer"]
    else:
        values, kind = res["metrics"], spec["end_to_end"]

    def finite(v):
        return v if isinstance(v, (int, float)) and math.isfinite(v) else None

    return {m["name"]: {"value": finite(values.get(m["name"])), "unit": m["unit"]} for m in kind}


def result_line(results: dict, spec: dict, trace: int, single: bool) -> dict:
    """The last stdout line.  A run is correct when it produced metrics and
    no output differed from its expected value.  For one workload the
    line has exactly correct/attempted/failed/metrics; for several, each
    workload's metrics (null when it failed) with its error beside them."""
    def correct(r):
        return "metrics" in r and r.get("mismatches", 0) == 0

    if single:
        (r,) = results.values()
        return {"correct": correct(r), "attempted": max(1, r.get("attempted", 0)),
                "failed": r.get("failed", 0), "metrics": final_metrics(r, spec, trace)}
    return {
        "correct": all(correct(r) for r in results.values()),
        "attempted": sum(r.get("attempted", 0) for r in results.values()),
        "failed": sum(r.get("failed", 0) for r in results.values()),
        "metrics": {w: final_metrics(r, spec, trace) for w, r in results.items()},
        "errors": {w: r["error"] for w, r in results.items() if r.get("error")},
    }


def main(argv: list[str]) -> int:
    if argv[:1] == ["--child"]:
        import child

        return child.main(argv)
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", default="all", choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = p.parse_args(argv)

    if not (ROOT / "tokforge" / "__init__.py").exists():
        print(f"tokforge package not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    import harness

    work = ROOT / ".perfbench_work"
    host = {"cores": harness.core_count(), "loadavg": list(os.getloadavg()), "killed": {}}
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in names:
        host["killed"][w] = harness.kill_orphan_spark_jvms()
        t0 = time.time()
        prep = run_child(w, a.seed, a.seconds, 0, work, host["cores"], t0 + PREPARE_LIMIT_S,
                         tag="-prepare", prepare=True)
        prepare_s = time.time() - t0
        deadline = time.time() + RUN_LIMIT_S
        res = prep if prep.get("error") else run_child(w, a.seed, a.seconds, a.trace, work,
                                                       host["cores"], deadline)
        res["input_gen_s"] = res.get("input_gen_s", 0.0) + prepare_s
        if a.trace and w == "transform_signed" and "metrics" in res:
            # the same workload on one core: the single-threaded baseline
            one = run_child(w, a.seed, LOCAL1_SECONDS, 0, work, 1, deadline, master="local[1]",
                            tag="-local1")
            if "metrics" in one:
                res["layers"]["scaling.tokens_per_s_local1"] = one["metrics"]["tokens_per_s"]
                res["layers"]["scaling.tokens_per_s_all_cores"] = res["metrics"]["tokens_per_s"]
            else:
                res["causes"].append({"op": "local[1] run", "count": 1, "cause": one["error"]})
        results[w] = res
        print_run(res, spec, host, a.trace)
        sys.stdout.flush()

    line = result_line(results, spec, a.trace, single=a.workload != "all")
    if a.workload == "all":
        line["host"] = host
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
