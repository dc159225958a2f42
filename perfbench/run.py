"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed, sets up, measures for --seconds, checks every operation's output
(gate.py), and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. Exits 1 if any check failed, 2 if the engine is
not importable. README.md in this directory documents every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "2g"


def _rss_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    return 0.0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def start_session(work: Path, traced: bool):
    from veealign_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a heap fixed at its maximum from the start, so the JVM's share
        # of peak_rss_mb does not depend on when G1 chose to grow it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            # reading the zstd default back needs the optional zstandard module
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for
    each to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    workers = _descendants(jvm_pid)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers + [jvm_pid]) and time.monotonic() < deadline:
        time.sleep(0.2)


# span name -> (metric for its duration, metric for its self time)
SPAN_METRICS = {
    "scoring.score_candidates_stage": (None, "scoring.self_s"),
    "canonicalize.connected_components": (None, "canonicalize.self_s"),
    "incremental.incremental_update": ("incremental.update_s", "incremental.self_s"),
    "standing.publish_standing": ("standing.publish_s", None),
    "standing.load_standing": ("standing.load_s", None),
}


def layer_metrics(run, stats) -> dict[str, float]:
    """Per-layer values from the run's traced operations: the median
    over operations of each value, for the spans each one recorded."""
    from spans import ExecStats

    tracer = run.tracer
    empty = ExecStats()

    def exec_of(span) -> ExecStats:
        out = ExecStats()
        for d in tracer.tree(span):
            out.add(stats.get(d.sid, empty))
        return out

    per_op = []
    for op in run.traced:
        vals = dict(op.values)
        tree = tracer.tree(op.span)
        selfs, concurrent = tracer.self_times(op.span)
        stages = [s for s in tree if s.name.startswith("stage.")]
        for s in stages:
            name = s.name[len("stage."):]
            st = exec_of(s)
            vals.update({
                f"stage.{name}.s": s.duration,
                f"stage.{name}.self_s": selfs[s.sid],
                f"stage.{name}.rows": op.rows.get(name, 0),
                f"stage.{name}.cpu_s": st.cpu_s,
                f"stage.{name}.jobs": st.jobs,
                f"stage.{name}.gc_s": st.gc_s,
                f"stage.{name}.shuffle_read_mb": st.shuffle_read_mb,
                f"stage.{name}.shuffle_write_mb": st.shuffle_write_mb,
                f"stage.{name}.spill_mb": st.spill_mb,
                f"stage.{name}.task_skew": st.task_skew,
            })
        if stages:
            vals.update({
                "pipeline.jobs": exec_of(op.span).jobs,
                "pipeline.unattributed_s": selfs[op.span.sid],
                "trace.wall_s": op.span.duration,
                "trace.concurrent_s": concurrent,
                "trace.stages_without_jobs": sum(1 for s in stages if exec_of(s).jobs == 0),
            })
            scores_cpu = vals.get("stage.scores.cpu_s", 0.0)
            if scores_cpu > 0:
                vals["scoring.rows_per_cpu_s"] = op.rows.get("scores", 0) / scores_cpu
        for s in tree:
            dur_key, self_key = SPAN_METRICS.get(s.name, (None, None))
            if dur_key:
                vals[dur_key] = s.duration
            if self_key:
                vals[self_key] = selfs[s.sid]
        per_op.append(vals)
    keys = {k for v in per_op for k in v}
    return {k: statistics.median(v[k] for v in per_op if k in v) for k in keys}


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
    if spec is None or not (ROOT / "veealign_spark" / "__init__.py").exists():
        print("perfbench: run from a checkout that holds BENCHMARK.json and veealign_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = ROOT / ".perfbench_work"
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything the run writes, the engine's package zip and py4j's
    # handshake file included, stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # every JVM, spark-submit's launcher included, would otherwise keep
    # a perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    import workloads
    from gate import Gate
    from spans import Tracer, read_event_log

    workload, size = workloads.WORKLOADS[args.workload]
    # what must repeat for a seed is compared within one version of the
    # engine only
    engine = hashlib.sha256()
    for f in sorted((ROOT / "veealign_spark").rglob("*.py")):
        engine.update(f.read_bytes())
    gate = Gate(
        base / "gates" / f"{args.workload}-{size}-s{args.seed}-{engine.hexdigest()[:12]}.json"
    )
    traced = bool(args.trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, traced)
        session_s = time.perf_counter() - t0
        run = workloads.Run(spark, args.seed, args.seconds, work, gate)
        if traced:
            run.tracer = Tracer(spark)
        workloads.log(f"session {session_s:.1f}s")
        workload(run)
        workloads.log("done; stopping")
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        rss_mb = _rss_hwm_mb("self") + _rss_hwm_mb(jvm_pid)
        stop_session(spark)
        spark = None
        if traced:
            (base / "spans").mkdir(exist_ok=True)
            run.tracer.dump(base / "spans" / f"{args.workload}-s{args.seed}.json")
            layer = layer_metrics(run, read_event_log(work / "eventlog"))
            layer.update(run.layer)
            layer["session.start_s"] = session_s
            layer.update(workloads.kernel_throughput(args.seed))
            wanted, values = spec["per_layer"], layer
        else:
            run.e2e["setup_s"] = session_s + sum(run.setup.values())
            run.e2e["peak_rss_mb"] = rss_mb
            wanted, values = spec["end_to_end"], run.e2e
        gate.save()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    workloads.log("stopped")
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in values:
            metrics[name] = {"value": float(values[name]), "unit": m["unit"]}
        elif traced:
            # a layer this workload does not exercise
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    for p in gate.problems + [f"metric {n} was not measured" for n in missing]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    correct = not gate.problems and not missing
    print(json.dumps({
        "correct": correct,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
