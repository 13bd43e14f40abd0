"""Linkage benchmark for mdmpublic_spark.

    python3 perfbench/run.py --workload relink_fold --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one SparkSession at
local[<cores>]. The workload (``relink_fold``, ``near_dup_sketch``, or
``all`` for each in turn; see workloads.py) is set up from
``--seed``, warmed once on its own code path, then run as a closed loop
with one client for ``--seconds``; every pass's output is checked.

``--trace 0`` reports the end-to-end metrics (median pass wall,
pages/s, set-up time, peak RSS). ``--trace 1`` adds one traced pass
after the timed loop and reports the per-layer metrics of that pass
(see ledger.py). Human-readable lines go first; the last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; with ``--workload all`` the metric names are prefixed by
the workload and each workload's ``setup_s`` includes the one shared
session start.

Everything the run writes stays under ``.perfbench-work/`` (removed at
exit) and ``.perfbench-out/`` (span dumps) in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench-out")
DRIVER_MEM = "2g"
SESSION_CONF = {
    # the ledger reads the status store after a pass; keep every job
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.ui.showConsoleProgress": "false",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(cores: int) -> None:
    """Point every scratch path of Spark, the JVM and Python at WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # fixed, pre-touched heap: RSS does not depend on how far GC grew it
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{DRIVER_MEM} -XX:+UseParallelGC -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)


# ------------------------------------------------------------ /proc readers


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.extend(children.get(p, []))
        todo.extend(children.get(p, []))
    return out


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# ------------------------------------------------------------ one workload


def measure(wl, seconds: float, cores: int, trace: bool, session_s: float) -> dict:
    """Set up, warm, run the timed loop (and the traced pass) for one
    workload; returns its result record."""
    t0 = time.perf_counter()
    wl.setup()
    wl.warm()
    setup_s = session_s + time.perf_counter() - t0
    log(f"{wl.name}: set-up {setup_s:.3f} s")
    if hasattr(wl, "oracle_check"):
        wl.oracle_check()
        log(f"{wl.name}: DuckDB oracle hash matches ({wl.oracle_rows} rows)")

    walls, infos, steal = [], [], []
    rec = {"workload": wl.name, "attempted": 0, "failed": 0, "walls": walls, "steal": steal}

    def timed_pass() -> float | None:
        """Run one untraced pass and check it: its wall, or None if it failed."""
        rec["attempted"] += 1
        st0, tot0 = cpu_times()
        info = {}
        try:
            info = wl.run_pass()
            wl.check(info)
            infos.append(info)
        except Exception:  # a failed pass is counted, reported, and the loop goes on
            rec["failed"] += 1
            traceback.print_exc()
            info.pop("wall", None)
        finally:
            wl.cleanup(info)
        st1, tot1 = cpu_times()
        steal.append((st1 - st0) / max(1, tot1 - tot0))
        log(
            f"{wl.name}: pass {rec['attempted']} wall {info.get('wall', float('nan')):.3f} s "
            f"steal {steal[-1]:.3f}"
        )
        return info.get("wall")

    loop_t0 = time.perf_counter()
    while rec["attempted"] == 0 or time.perf_counter() - loop_t0 < seconds:
        wall = timed_pass()
        if wall is not None:
            walls.append(wall)
    rec["setup_s"] = setup_s
    rec["extra"] = wl.summary(infos)

    if trace:
        # bracket the traced pass between untraced ones, so the overhead
        # estimate is not confounded by passes still getting faster
        before = walls[-1] if walls else None
        rec["attempted"] += 1
        rec["layers"], ok, traced_wall = traced_pass(wl, cores)
        rec["failed"] += 0 if ok else 1
        after = timed_pass()
        ref = [w for w in (before, after) if w is not None]
        rec["layers"]["trace.overhead_frac"] = (
            traced_wall / statistics.mean(ref) - 1.0 if ref else 0.0
        )
    return rec


def traced_pass(wl, cores: int) -> tuple[dict, bool, float]:
    """One extra pass with the ledger installed: its per-layer metrics,
    whether its output check passed, and its wall."""
    from ledger import Ledger
    from workloads import CheckFailed

    ledger = Ledger(wl.spark, f"{wl.name}-s{wl.seed}")
    ledger.install()
    untraced_span, wl.span = wl.span, ledger.span
    try:
        ledger.begin_pass()
        info = wl.run_pass()
    finally:
        ledger.uninstall()
        wl.span = untraced_span
    ok = True
    try:
        # before the check, whose own jobs would count as untraced
        layers = ledger.collect(cores, wl.dropped_pairs(info))
        wl.check(info)
    except CheckFailed:
        ok = False
        traceback.print_exc()
    finally:
        wl.cleanup(info)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"trace-{wl.name}-s{wl.seed}.json"), "w") as f:
        json.dump({"wall": info["wall"], "spans": ledger.span_dump()}, f, indent=1)
    return layers, ok, info["wall"]


def end_to_end(rec: dict, wl, peak_rss: float) -> dict:
    """name → (value, unit, samples behind the value)."""
    walls = rec["walls"]
    wall = statistics.median(walls) if walls else 0.0
    return {
        "wall_s": (wall, "s", len(walls)),
        "pages_per_s": (wl.pages / wall if wall else 0.0, "pages/s", len(walls)),
        "setup_s": (rec["setup_s"], "s", 1),
        "peak_rss_mb": (peak_rss, "MB", 1),
    }


def report(rec: dict) -> None:
    name = rec["workload"]
    for k, (v, unit, n) in rec["e2e"].items():
        log(f"{name}: {k} = {v:.4f} {unit} (n={n})")
    log(
        f"{name}: failed_frac = {rec['failed'] / rec['attempted']:.4f} "
        f"({rec['failed']} of {rec['attempted']} passes)"
    )
    log(f"{name}: steal share per pass {[round(s, 4) for s in rec['steal']]}")
    log(f"{name}: {json.dumps(rec['extra'])}")
    for k, v in rec.get("layers", {}).items():
        log(f"{name}: {k} = {v:.4f}")


# ----------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", help="a workload name, or all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mdmpublic_spark")):
        print(
            "perfbench: run from the repository root (no mdmpublic_spark/ here)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from pyspark import SparkContext

    from ledger import metric_units
    from mdmpublic_spark.session import get_spark
    from workloads import WORKLOADS

    if args.workload != "all" and args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)} or all")
    chosen = list(WORKLOADS) if args.workload == "all" else [args.workload]
    cores = cpu_count()
    prepare_env(cores)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        # the session's own guidance for a real cluster: 2-3x total cores
        shuffle_partitions=2 * cores,
        extra_conf=SESSION_CONF,
    )
    session_s = time.perf_counter() - t0
    gateway = SparkContext._gateway
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    records = []
    try:
        for name in chosen:
            wl = WORKLOADS[name](spark, WORK, args.seed)
            rec = measure(wl, args.seconds, cores, bool(args.trace), session_s)
            peak = hwm_mb(jvm_pid) + sum(hwm_mb(p) for p in descendants(jvm_pid))
            rec["e2e"] = end_to_end(rec, wl, peak)
            report(rec)
            records.append(rec)
    finally:
        workers = descendants(jvm_pid)
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        deadline = time.time() + 30
        while any(os.path.exists(f"/proc/{p}") for p in workers) and time.time() < deadline:
            time.sleep(0.1)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:  # another run's work dir is still there
            pass

    metrics = {}
    units = metric_units()
    for rec in records:
        prefix = "" if len(records) == 1 else f"{rec['workload']}."
        if args.trace:
            items = {k: (rec["layers"][k], units[k]) for k in units}
        else:
            items = {k: (v, u) for k, (v, u, _) in rec["e2e"].items()}
        for k, (v, u) in items.items():
            metrics[prefix + k] = {"value": v, "unit": u}
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
