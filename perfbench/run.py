"""Benchmark entry point: one seeded, single-client, closed-loop run.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 15 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Human-readable detail goes to the lines before it; Spark's
log goes to standard error.  All data, Spark scratch space, traces and the
event log live under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

import layers
import tracer

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")

# Deployment settings, pinned so both sides of a comparison run alike.
DRIVER_MEM = "3g"  # fits a 15 GB host; the session default (48g) does not
SETUP_REPS = 3  # setup_s takes the median lake build over this many builds in one run
# Writes go through the OS page cache; nothing is fsynced.


def pin_environment() -> dict[str, str]:
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(STATE, "spark-local"),
        "TMPDIR": os.path.join(STATE, "tmp"),
        # no /tmp/hsperfdata_* from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    # C1 only: with C2 the JIT was still compiling through the whole run, so
    # how fast a run went depended on how far it had got.  Fixed compiler
    # threads let their CPU time be told apart (tracer.tree_cpu_s).
    jit = "-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData {jit}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every descendant to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = tracer.descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while any(_alive(p) for p in kids) and time.time() < deadline:
        time.sleep(0.05)
    for pid in kids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in kids) and time.time() < deadline + 10:
        time.sleep(0.05)


def percentile(xs: list[float], q: float) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


def run_op(op, tr, me: int, timed: bool = True) -> dict:
    """Time one operation and the process tree's CPU while it runs, with the
    JVM's JIT compiler threads counted apart; its check runs afterwards,
    outside both.  An exception or a failed check fails the operation, not
    the run."""
    cpu0, jit0 = tracer.tree_cpu_s(me)
    t0 = time.perf_counter()
    verify, err, items = None, None, 0
    try:
        items, verify = op.run()
    except Exception:
        err = traceback.format_exc(limit=4)
    dt = time.perf_counter() - t0
    cpu1, jit1 = tracer.tree_cpu_s(me)
    if verify is not None:
        try:
            err = verify()
        except Exception:
            err = traceback.format_exc(limit=4)
    if err:
        print(f"[perfbench] {op.kind} op {tr.op} failed: {err}", file=sys.stderr)
    return {
        "kind": op.kind, "s": dt, "cpu_s": cpu1 - cpu0 - (jit1 - jit0), "jit_s": jit1 - jit0,
        "items": items, "ok": err is None,
        "timed": timed, "traced": tr.recording,
    }


def warm_up(wl, tr) -> list[dict]:
    """Run and check ``wl.WARM_UP_ROUNDS`` rounds untimed, then reset the
    counters so they describe the measured loop only."""
    me = os.getpid()
    records: list[dict] = []
    for _ in range(wl.WARM_UP_ROUNDS):
        for op in wl.round():
            tr.op = len(records)
            records.append(run_op(op, tr, me, timed=False))
    wl.counters.clear()
    return records


def loop(wl, tr, seconds: float, records: list[dict]) -> None:
    """Closed loop: whole rounds until ``seconds`` of wall time were measured.

    A traced run traces every other operation of each kind, so the untraced
    ones, interleaved with them and of the same mix, give the baseline for
    its tracing overhead."""
    me = os.getpid()
    measured, rounds = 0.0, 0
    seen: dict[str, int] = {}
    while measured < seconds or (tr.enabled and rounds < 2):
        t0 = time.perf_counter()
        for op in wl.round():
            seen[op.kind] = seen.get(op.kind, 0) + 1
            tr.pause(tr.enabled and seen[op.kind] % 2 == 0)
            tr.op = len(records)
            records.append(run_op(op, tr, me))
        measured += time.perf_counter() - t0
        rounds += 1
    tr.pause(False)
    tr.op = None


E2E_UNITS = {"setup_s": "s", "cpu_s_per_op": "s"}


def end_to_end(records, setup_s: float) -> dict[str, float]:
    """``cpu_s_per_op`` weighs each kind's median CPU by its share of the
    operations, so one slow operation does not move it."""
    timed = [r for r in records if r["timed"]]
    kinds = {r["kind"] for r in timed}
    cpu = sum(
        sum(r["kind"] == k for r in timed) * statistics.median(r["cpu_s"] for r in timed if r["kind"] == k)
        for k in kinds
    )
    return {"setup_s": setup_s, "cpu_s_per_op": cpu / len(timed)}


def by_kind(records) -> dict[str, float]:
    records = [r for r in records if r["timed"]]
    out: dict[str, float] = {}
    for kind in sorted({r["kind"] for r in records}):
        lat = [r["s"] for r in records if r["kind"] == kind]
        out[f"{kind}.n"] = len(lat)
        out[f"{kind}.items_per_s"] = sum(r["items"] for r in records if r["kind"] == kind) / sum(lat)
        out[f"{kind}.p50_s"] = percentile(lat, 50)
        out[f"{kind}.p90_s"] = percentile(lat, 90)
    return out


def measure(workload_cls, args, tr, work: str) -> dict:
    """Start the session, set up, warm up, run the loop, stop everything."""
    import aws_sdk_pandas_spark as asps

    with tracer.RssSampler() as rss:
        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = asps.get_spark(app_name="perfbench", extra_conf=spark_conf(work, tr.enabled))
        session_s = time.perf_counter() - t0
        tr.attach(spark)
        try:
            wl = workload_cls(spark, tr, args.seed)
            builds = []
            for r in range(SETUP_REPS):
                rep_dir = os.path.join(work, f"setup{r}")
                t0 = time.perf_counter()
                wl.setup(rep_dir)
                builds.append(time.perf_counter() - t0)
                if r + 1 < SETUP_REPS:
                    shutil.rmtree(rep_dir, ignore_errors=True)
            t0 = time.perf_counter()
            records = warm_up(wl, tr)
            warm_s = time.perf_counter() - t0
            tr.phase = "run"
            steal0, total0 = tracer.host_cpu_ticks()
            loop(wl, tr, args.seconds, records)
            steal1, total1 = tracer.host_cpu_ticks()
            facts = wl.finish()
        finally:
            stop_spark(spark)
    return {
        "wl": wl,
        "records": records,
        "facts": facts,
        "session_s": session_s,
        "builds": builds,
        "warm_s": warm_s,
        "setup_s": session_s + statistics.median(builds) + warm_s,
        "peak_rss_mb": rss.peak / 2**20,
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
    }


def report(args, settings: dict, m: dict) -> None:
    """The readable lines printed before the JSON result."""
    records = m["records"]
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("settings " + " ".join(f"{k}={v}" for k, v in settings.items()) + " flush=page-cache,no-fsync")
    print(
        f"setup session_s={m['session_s']:.3f} build_reps_s={[round(x, 3) for x in m['builds']]}"
        f" warm_up_s={m['warm_s']:.3f}"
    )
    print(
        f"peak_rss_mb={m['peak_rss_mb']:.1f} attempted={len(records)}"
        f" failed={sum(not r['ok'] for r in records)} warm_up_ops={sum(not r['timed'] for r in records)}"
    )
    print(f"host_steal_frac={m['steal_frac']:.4f} (share of the host's CPU given to other guests during the loop)")
    timed = [r for r in records if r["timed"]]
    lat = [r["s"] for r in timed]
    print(
        f"loop ops={len(lat)} ops_per_s={len(lat) / sum(lat):.4f} op_p50_s={percentile(lat, 50):.4f}"
        f" cpu_s={sum(r['cpu_s'] for r in timed):.2f} jit_cpu_s={sum(r['jit_s'] for r in timed):.2f}"
    )
    for kind in sorted({r["kind"] for r in records}):
        print(f"  {kind} latencies_s={[round(r['s'], 3) for r in records if r['kind'] == kind and r['timed']]}")
        print(f"  {kind} cpu_s={[round(r['cpu_s'], 3) for r in records if r['kind'] == kind and r['timed']]}")
    for k, v in {**by_kind(records), **m["facts"]}.items():
        print(f"  {k} = {v:.6g}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "aws_sdk_pandas_spark")):
        print("perfbench: run from the repository root (aws_sdk_pandas_spark/ not found)", file=sys.stderr)
        return 2
    settings = pin_environment()
    sys.path.insert(0, ROOT)
    import workloads  # imports the program, so only once ROOT is on the path

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tr = tracer.Tracer(bool(args.trace))
    if tr.enabled:
        layers.wrap_translate(tr)
    try:
        m = measure(workloads.WORKLOADS[args.workload], args, tr, work)
        records = m["records"]
        report(args, settings, m)
        if tr.enabled:
            metrics = layers.per_layer(
                tr, os.path.join(work, "eventlog"), m["wl"], records, m["facts"], m["peak_rss_mb"]
            )
            tr.write(os.path.join(out_dir, f"{args.workload}-{args.seed}-spans.jsonl"))
            units = {k: layers.unit_of(k) for k in metrics}
        else:
            metrics, units = end_to_end(records, m["setup_s"]), E2E_UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    failed = sum(not r["ok"] for r in records)
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
