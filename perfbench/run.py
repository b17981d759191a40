"""Warehouse-build benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout.  The engine is treated as a black
box: inputs are generated from ``--seed``, the public entry points are
called, and every call's output is checked (``workloads.py``).

``--trace 0`` prints the end-to-end metrics with tracing off.  The timed
call is the first Spark work of a fresh JVM; calls repeat until
``--seconds`` have passed (at least one) and each metric is the median
over them.  ``setup_s`` is session start, plus the median of
``SETUP_REPS`` input generations, plus the reference results the check
needs.

``--trace 1`` runs the call once with an uncompressed event log and with
spans around the calls into each layer (``spans.py``), and prints the
per-layer metrics of ``report.PER_LAYER``.  ``tracing_overhead`` divides
the traced wall time by the untraced wall time of the same call: the
median of the earlier ``--trace 0`` runs in this checkout with the same
code (a hash of the engine's and the benchmark's sources), workload and
seed, else one untraced run in a fresh child process.  When that child
cannot finish before the run's deadline the metric is left out and the
run is not ``correct``.  The traced run also reports the call's peak
resident memory (``spark.peak_rss_mb``), which the JVM's adaptive heap
makes too noisy to gate as an end-to-end metric.  A per-layer table
goes to stderr and a per-span report to ``.perfbench/reports/``.

The session is the engine's own ``get_spark`` (shuffle partitions and
driver memory as the pipeline CLI gets them) on ``local[nproc]``, with
the UI and console progress off and all scratch space in the checkout.

Stdout ends with two lines: ``host {...}``, the steal % and load of the
measured calls and whether they were ``degraded`` (steal above
``bench.py``'s limit; degraded calls leave a median only when every call
was degraded), then one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``failed / attempted``
is the share of calls that raised or failed their check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "aisafetyintervention_literatureextraction_spark"
E2E_UNITS = {"wall_s": "s", "cpu_s": "s", "written_mb": "MB", "setup_s": "s"}
PER_CALL = ("wall_s", "cpu_s", "written_mb")
SETUP_REPS = 3
# a traced run ends well inside the 180 s a run may take
TRACE_DEADLINE_S = 165.0
# untraced wall times of this checkout's runs (baseline for tracing_overhead)
UNTRACED = ROOT / ".perfbench" / "untraced.jsonl"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def code_key() -> str:
    """Hash of the sources a run executes: the engine, the contract
    queries, ``bench.py`` and the benchmark."""
    h = hashlib.sha256()
    files = [*(ROOT / PACKAGE).rglob("*"), ROOT / "__spark_entry__.py",
             ROOT / "bench.py", *(ROOT / "perfbench").glob("*.py")]
    for f in sorted(files):
        if f.is_file() and "__pycache__" not in f.parts:
            h.update(f.relative_to(ROOT).as_posix().encode() + b"\0")
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def start_spark(work: Path, event_log: Path | None = None):
    """The engine's session on local[nproc], all scratch space inside
    the checkout, no UI."""
    from aisafetyintervention_literatureextraction_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # inherited by every JVM spark-submit starts, the launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the environment variable overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed_calls(wl, seconds: float, spark) -> tuple[list[dict], int, int]:
    """Whole timed calls until ``seconds`` have passed (at least one);
    returns per-call measurements, attempted, failed."""
    from perfbench.procmon import TreeMonitor
    from perfbench.workloads import release_cached

    samples, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        attempted += 1
        ok = False
        try:
            with TreeMonitor() as mon:
                out = wl.call()
            ok = wl.check(out)
        except Exception as e:  # a failed call is counted, not fatal
            log(f"call {attempted} raised {type(e).__name__}: {e}")
        left = release_cached(spark)
        wl.reset()
        if not ok:
            failed += 1
            continue
        samples.append(mon.result)
        log(f"call {attempted}: " + ", ".join(
            f"{k}={mon.result[k]:.3f}" for k in (*PER_CALL, "peak_rss_mb"))
            + f" host={mon.result['host']} cached_rdds_left={left}")
    return samples, attempted, failed


def medians(samples: list[dict]) -> tuple[dict, dict]:
    """Per-call medians over the calls the host did not degrade (over all
    calls when every one was), and the host verdict of the calls used."""
    used = [s for s in samples if not s["host"]["degraded"]] or samples
    if len(used) < len(samples):
        log(f"{len(samples) - len(used)} call(s) dropped: host steal above limit")
    host = {"steal_pct": [s["host"]["steal_pct"] for s in used],
            "load1": [s["host"]["load1_after"] for s in used],
            "degraded": used[0]["host"]["degraded"]}
    return {k: statistics.median(s[k] for s in used) for k in PER_CALL}, host


def run_plain(args, work: Path) -> dict:
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.reference()
        ref_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + ref_s
        log(f"setup: session {session_s:.2f} s, inputs "
            f"{', '.join(f'{r:.2f}' for r in reps)} s, reference {ref_s:.2f} s")
        samples, attempted, failed = timed_calls(wl, args.seconds, spark)
        log(f"{args.workload}: input {wl.input_size()}, seed {args.seed}, "
            f"local[{cores()}]")
    finally:
        stop_spark(spark)
    metrics, host = {"setup_s": setup_s}, {}
    if samples:
        per_call, host = medians(samples)
        metrics.update(per_call)
        with open(UNTRACED, "a") as f:
            f.write(json.dumps({"code": code_key(), "workload": args.workload,
                                "seed": args.seed, "wall_s": per_call["wall_s"]}) + "\n")
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "host": host}


def untraced_wall(args, budget_s: float) -> float | None:
    """Untraced wall time of this call: the median of this checkout's
    untraced runs of the same code, workload and seed, else one
    untraced run in a child process within ``budget_s``."""
    key = (code_key(), args.workload, args.seed)
    walls = []
    if UNTRACED.exists():
        for line in UNTRACED.read_text().splitlines():
            rec = json.loads(line)
            if (rec["code"], rec["workload"], rec["seed"]) == key:
                walls.append(rec["wall_s"])
    if walls:
        log(f"tracing overhead vs {len(walls)} untraced run(s) of this code and seed")
        return statistics.median(walls)
    return run_untraced_child(args, budget_s)


def run_untraced_child(args, budget_s: float) -> float | None:
    """Wall time of the same call untraced, from a fresh process (so it
    is as cold as the traced one); None if it does not finish in
    ``budget_s``.  The child's whole process group is stopped and
    waited for either way (killed at once when over budget)."""
    cmd = [sys.executable, str(Path(__file__).resolve()),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", "0", "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    out, grace = "", 10.0
    try:
        out, _ = proc.communicate(timeout=max(budget_s, 1))
    except subprocess.TimeoutExpired:
        log(f"untraced reference run exceeded {budget_s:.0f} s; stopped")
        grace = 0.0
    finally:
        stop_group(proc, term_grace_s=grace)
        # a killed child leaves its work directory behind
        shutil.rmtree(ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{proc.pid}",
                      ignore_errors=True)
    try:
        res = json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return None
    return res["metrics"].get("wall_s", {}).get("value") if res["correct"] else None


def stop_group(proc: subprocess.Popen, term_grace_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, the process group of ``proc`` and wait
    until no member is left."""
    for sig, grace in ((signal.SIGTERM, term_grace_s), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + grace
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        while time.monotonic() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                proc.wait()
                return
            time.sleep(0.1)
    proc.wait()


def run_traced(args, work: Path, started: float) -> dict:
    from perfbench import eventlog
    from perfbench.procmon import TreeMonitor
    from perfbench.report import layer_metrics
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, dir_files, release_cached

    elog = work / "eventlog"
    spark = start_spark(work, event_log=elog)
    ok, extra, mon = False, {}, None
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        wl.reference()
        tracer = Tracer(spark.sparkContext)
        wl.install_spans(tracer)
        wh = Path(getattr(wl, "wh", work / "none"))
        before = dir_files(wh)
        try:
            with TreeMonitor() as mon:
                out = wl.call()
            ok = wl.check(out)
        except Exception as e:  # counted as a failed call
            log(f"traced call raised {type(e).__name__}: {e}")
        finally:
            tracer.restore()
        new = {p: n for p, n in dir_files(wh).items() if before.get(p) != n}
        extra = {
            "peak_rss_mb": mon.result["peak_rss_mb"] if mon else 0,
            "warehouse_written_mb": sum(new.values()) / 1e6,
            "warehouse_files_written": len(new),
            "merges": getattr(wl, "merges", []),
        }
        if ok and hasattr(wl, "pair_counts"):
            extra.update(wl.pair_counts())
        release_cached(spark)
        wl.reset()
    finally:
        stop_spark(spark)
    logs = [p for p in elog.iterdir() if not p.name.endswith(".inprogress")]
    t0 = time.perf_counter()
    groups = eventlog.parse_file(str(logs[0]))
    log(f"event log {logs[0].stat().st_size / 1e6:.1f} MB parsed in "
        f"{time.perf_counter() - t0:.2f} s")

    if ok:
        untraced = untraced_wall(
            args, TRACE_DEADLINE_S - (time.monotonic() - started))
        if untraced:
            extra["tracing_overhead"] = mon.result["wall_s"] / untraced
    metrics = layer_metrics(tracer.spans, groups, extra)
    write_report(args, tracer.spans, groups, metrics, mon.result if mon else {})
    return {"attempted": 1, "failed": int(not ok), "metrics": metrics,
            "host": mon.result.get("host", {}) if mon else {}}


def write_report(args, spans, groups, metrics, e2e) -> None:
    from perfbench.eventlog import GroupStats, skew
    from perfbench.report import PER_LAYER
    from perfbench.spans import self_times

    out_dir = ROOT / ".perfbench" / "reports"
    out_dir.mkdir(parents=True, exist_ok=True)
    selft = self_times(spans)
    span_rows = []
    for s in spans:
        g = groups.get(s.sid, GroupStats())
        row = {
            "sid": s.sid, "name": s.name, "parent": s.parent,
            "wall_s": round(s.end - s.start, 4), "self_s": round(selft[s.sid], 4),
            "jobs": g.jobs, "task_cpu_s": round(g.task_cpu_s, 3),
            "shuffle_mb": round(g.shuffle_mb, 3), "spill_mb": round(g.spill_mb, 3),
        }
        if g.stage_tasks:
            key, tasks = max(g.stage_tasks.items(), key=lambda kv: sum(kv[1]))
            row["dominant_stage"] = {
                "name": g.stage_names.get(key[0], "?"), "task_s": round(sum(tasks), 3),
                "tasks": len(tasks), "skew": round(skew(g.stage_tasks), 2),
            }
        span_rows.append(row)
    path = out_dir / f"{args.workload}-seed{args.seed}-trace.json"
    path.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores(),
        "traced_call": e2e, "metrics": metrics, "spans": span_rows,
    }, indent=1, default=str))
    log(f"{'metric':44s} {'value':>12s}  unit   moves")
    for name, unit, _, target in PER_LAYER:
        log(f"{name:44s} {metrics.get(name, float('nan')):12.3f}  {unit:6s} {target}")
    log(f"report: {path}")


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        log(f"{ROOT} is not a source checkout of the engine ({PACKAGE}/ missing)")
        return 2
    from perfbench.report import PER_LAYER
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        res = run_traced(args, work, started) if args.trace else run_plain(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = {n: u for n, u, _, _ in PER_LAYER} if args.trace else E2E_UNITS
    metrics = {name: {"value": res["metrics"][name], "unit": unit}
               for name, unit in units.items() if name in res["metrics"]}
    correct = res["failed"] == 0 and len(metrics) == len(units)
    log(f"failed_frac {res['failed'] / res['attempted']:.3f} "
        f"({res['failed']} of {res['attempted']} calls)")
    print("host", json.dumps(res["host"]))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = str(ROOT / ".perfbench" / "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.exit(main())
