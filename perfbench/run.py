"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed, starts a ``local[nproc]`` session, warms up, then runs the
workload's ops in a closed loop with one client for ``--seconds``
(whole rounds), checking every answer. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics untraced, the per-layer metrics traced (``--trace 1``).
The line before it holds every workload-specific figure by name.

A traced run ends by running the same workload, seed and window
untraced in a child process (after its own session has stopped) and
reports the tracing overhead as traced minus untraced ``op_p50_s``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root; the run's scratch tree is removed at exit and a traced
run's spans are kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".perfbench_work")

# per-layer "<name>_s" metrics default to the time of the spans named
# "<name>"; these come from Spark's task metrics instead (and the stream
# batch and tracing-overhead times are set from their own measurements)
COUNTER_TIMES = ("session.task_wait_s", "session.executor_cpu_s", "session.gc_s")
# the untraced comparison run of a traced run
UNTRACED_TIMEOUT_S = 150


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names and units, from BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def _parse_args(argv):
    ap = argparse.ArgumentParser(description="Seeded benchmark of the mapreduce_mit_spark package.")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Pin the session to this machine and keep every file it writes
    inside the run's scratch tree. Must run before pyspark is imported:
    session.py reads SPARK_GRAFT_CPUS at import (default 32)."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the package (run_job's map/reduce functions)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM (the spark-submit launcher and the Spark driver) keeps its
    # temp files in the tree
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) over the process tree."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _stop(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _tail(lat: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(lat)
    if len(s) < 11:
        return {"value": None, "unit": "s", "samples": len(s), "note": "fewer than 11 ops"}
    i = len(s) - 11
    return {"value": s[i], "unit": "s", "percentile": round(100.0 * (i + 1) / len(s), 1),
            "samples_beyond": len(s) - 1 - i, "samples": len(s)}


def _untraced_run(args) -> dict:
    """The same workload, seed and window untraced, in a child process
    and its own process group; returns the child's result line. On a
    timeout the whole group is killed and waited for."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    p = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=UNTRACED_TIMEOUT_S)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
        _wait_group(p.pid)
    if p.returncode != 0:
        raise RuntimeError(f"untraced comparison run exited with {p.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def _wait_group(pgid: int) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    deadline = time.monotonic() + 30
    while True:
        left = []
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[2]) == pgid and fields[0] != "Z":
                    left.append(int(entry))
        if not left or time.monotonic() > deadline:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path.insert(0, REPO)
    if importlib.util.find_spec("mapreduce_mit_spark") is None:
        print(f"the package under test, mapreduce_mit_spark, is not in {REPO}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, "runs", run_id)
    _environment(work)

    try:
        return _run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id: str, work: str) -> int:
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = gen.GENERATORS[args.workload](args.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0

        tr = Tracer(run_id)
        tr.enabled = bool(args.trace)
        conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
            os.makedirs(os.path.join(work, "eventlog"))
        from mapreduce_mit_spark.session import get_spark

        with tr.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            spark.streams.addListener(tr.stream_listener())
        wl = workloads.WORKLOADS[args.workload](spark, inputs, tr, work)
        if args.trace:
            wl.install_patches()
        with tr.span("session.warmup"):
            wl.warmup()
        setup_s = time.perf_counter() - T_START - gen_s - wl.check_prep_s

        # ---- the timed window: closed loop, one client, whole rounds
        ops: list[tuple[float | None, float, bool]] = []
        tr.phase = "op"
        t_win = time.perf_counter()
        rnd = 0
        while True:
            for op in wl.round(rnd):
                ops.append(workloads.run_op(op))
            if args.trace:
                wl.probe()
            rnd += 1
            window_s = time.perf_counter() - t_win
            if window_s >= args.seconds:
                break
        tr.phase = "check"
        try:
            post_ok = wl.after_window()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            post_ok = False
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        peak_rss = _peak_rss_mb([os.getpid(), proc.pid] + _descendants(proc.pid))
        if args.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
    finally:
        if spark is not None:
            _stop(spark)

    attempted = len(ops)
    failed = sum(1 for _lat, _u, ok in ops if not ok)
    good = [(lat, u) for lat, u, ok in ops if ok]
    lat_all = [lat for lat, _u in good]
    rate = sum(u for _lat, u in good) / sum(lat_all) if lat_all else 0.0
    correct = failed == 0 and post_ok and bool(good)
    end_to_end, per_layer = _metric_units()

    named = {
        "setup_s": {"value": setup_s, "unit": "s"},
        wl.rate_name: {"value": rate, "unit": f"{wl.unit}/s"},
        "op_p50_s": {"value": statistics.median(lat_all) if lat_all else None, "unit": "s"},
        "op_tail_s": _tail(lat_all),
        "error_rate": {"value": failed / attempted if attempted else None, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        "recall": {"value": statistics.fmean(wl.quality) if wl.quality else 0.0, "unit": "ratio"},
        **wl.detail(),
    }
    if args.trace:
        tr.attribute_event_log(os.path.join(work, "eventlog"))
        tr.finalize()
        trace_file = os.path.join(WORK_ROOT, "traces", run_id + ".jsonl")
        tr.write(trace_file)
        untraced = _untraced_run(args)
        correct = correct and untraced["correct"] and not untraced["failed"]
        off = untraced["metrics"]["op_p50_s"]["value"]
        overhead = named["op_p50_s"]["value"] - off if lat_all else 0.0
        # a layer that does not run in this workload reads 0
        values = {m: 0.0 for m in per_layer}
        values.update(
            {m: tr.per_op_or_call(m[:-2]) for m in per_layer if m.endswith("_s") and m not in COUNTER_TIMES}
        )
        values.update({f"session.{k}": v for k, v in tr.counters_per_op().items()})
        values.update(wl.layer_metrics())
        values["trace.overhead_s"] = overhead
        values["trace.overhead_share"] = overhead / off if off else 0.0
        units = per_layer
        named["trace_file"] = os.path.relpath(trace_file, REPO)
        named["untraced_op_p50_s"] = {"value": off, "unit": "s"}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": named["op_p50_s"]["value"] or 0.0,
            "recall": named["recall"]["value"],
        }
        units = end_to_end
    metrics = {m: {"value": float(values[m]), "unit": u} for m, u in units.items()}
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                                 "ops": attempted, "op_latencies_s": lat_all, "window_s": window_s,
                                 "input_gen_s": gen_s,
                                 "metrics": named}}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
