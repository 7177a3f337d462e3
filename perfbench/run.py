"""Benchmark harness for dd_graphdb_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload gql_interactive --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload analytics_batch --seed 1 --seconds 5 --trace 1

Workloads (closed loop, one client): ``gql_interactive`` (wl_gql.py),
``write_view`` (wl_write.py) and ``analytics_batch`` (wl_analytics.py).

Each run generates its input tables from a fixed data seed, starts one
session through the engine's own ``get_spark`` (``cpus`` = the CPUs this
process may use) in a JVM that compiles with C1 only and collects with
the serial collector (see ``isolate``), builds the workload's fixture,
warms every op shape, then runs rounds of ops until ``--seconds`` have
passed. A round is one block of the workload's op mix. The first round
always runs whole, so every op kind is measured; after it, the time
limit is checked before each op. ``--seed`` only picks the op order,
ids and parameters. Every op's output is checked; a wrong result counts
as failed and does not stop the run. The engine is a black box:
per-layer numbers come from spans around the harness's calls into it.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (perfbench/metrics.py: ``END_TO_END`` with
``--trace 0``, ``PER_LAYER`` with ``--trace 1``). The line before it,
prefixed ``# info``, records the host (CPUs, memory, load average and
CPU steal before and after), the resolved Spark confs, the seeds, every
op's latency, CPU and JIT seconds, and the tail percentile with its
sample count. ``--trace 1`` measures twice,
untraced and then traced: the first half gives the workload's own
end-to-end figures and the tracing overhead, the second the per-layer
numbers, and the span list goes to ``perfbench/out/``.

Everything the run writes (tables, stores, views, checkpoints, Spark
scratch space) lives under ``perfbench/.work/<pid>`` and is removed at
exit. The run refuses to start while another Spark JVM is live.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: scale of the generated tables (TPC-H scale factor) and their seed;
#: fixed so that every run, whatever its workload seed, reads one data set
SF = 0.01
DATA_SEED = 42
DRIVER_MEM = "2g"

WORKLOADS = {
    "gql_interactive": "wl_gql",
    "write_view": "wl_write",
    "analytics_batch": "wl_analytics",
}


def live_spark_jvms() -> list[str]:
    """Other live Spark driver JVMs on this host."""
    hits = []
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            cmd = open(p, "rb").read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if cmd.split(" ", 1)[0].rsplit("/", 1)[-1] == "java" and "org.apache.spark" in cmd:
            hits.append(f"pid {p.split('/')[2]}: {cmd[:120]}")
    return hits


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024**2, 2),
        "loadavg": os.getloadavg(),
        # CPU time the hypervisor gave to other guests, in clock ticks
        "cpu_ticks": sum(cpu),
        "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
    }


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work`` before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # A JVM whose CPU seconds for one piece of work depend less on how
    # busy the host is. C1 compilation only: with the default tiered C2
    # compiler the JVM is still compiling minutes in (5-10 CPU-s per
    # gql_interactive round after the warm-up round), and how much of a
    # round runs interpreted depends on how much CPU the compiler threads
    # got meanwhile. Over 5 seeds a gql_interactive round's CPU seconds
    # spread 0.25 (IQR over median) with C2 and 0.03-0.08 with C1 only,
    # which costs 10-25% more CPU per round. The serial collector: the
    # default G1 collector's parallel workers spin while they wait for
    # work, and more so on an idle host. With G1, algo_sssp_colocation
    # took 2.0-2.3 CPU-s at 17-18% CPU steal and 3.5-4.0 CPU-s at 2-12%;
    # with the serial collector, 2.4-2.7 CPU-s at 1-8%. A heap of fixed
    # size (-Xms): over 5 gql_interactive seeds, a heap that grew from the
    # default start spread set-up CPU seconds 0.11 and round CPU seconds
    # 0.15, a fixed one 0.06 and 0.11. The code cache at the size the
    # default tiered JVM reserves: with C1 alone the JVM reserves 48 MB,
    # and write_view filled it, which turns the compiler off mid-run.
    # Compiler threads that live as long as the JVM: the JVM otherwise
    # retires idle ones, and a retired thread's CPU can no longer be told
    # apart from work (see cpu_s).
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                 " -XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC"
                 " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(f"{java_opts} -Xms{DRIVER_MEM}"),
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session, if there is one, and wait for the JVM to exit;
    also when the session can no longer be stopped cleanly, as in a run
    cut by SIGTERM while it starts or in the middle of a call into the
    JVM."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        if spark is not None:
            spark.stop()
        gw.shutdown()
    except Exception:
        pass
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _ticks(path: str) -> int:
    """utime + stime of a /proc stat file (fields 14 and 15 of proc(5))."""
    with open(path) as f:
        stat = f.read().rsplit(")", 1)[1].split()
    return int(stat[11]) + int(stat[12])


def cpu_s() -> dict:
    """CPU seconds used so far by the session's JVM (``jvm``: all its
    threads, exited ones too), by each of its live JIT compiler threads
    (``jit``: thread id -> seconds) and by this process (``py``). Time the
    hypervisor gave to other guests (steal) is in none of them."""
    from pyspark import SparkContext

    task_dir = f"/proc/{SparkContext._gateway.proc.pid}/task"
    hz = os.sysconf("SC_CLK_TCK")
    jit = {}
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    jit[tid] = _ticks(f"{task_dir}/{tid}/stat") / hz
        except OSError:  # the thread exited
            pass
    return {"jvm": _ticks(f"{os.path.dirname(task_dir)}/stat") / hz, "jit": jit,
            "py": time.process_time()}


def cpu_used(c1: dict, c2: dict) -> tuple[float, float]:
    """(CPU seconds less JIT compilation, JIT compilation seconds) between
    two ``cpu_s`` readings."""
    jit = sum(t - c1["jit"].get(tid, 0.0) for tid, t in c2["jit"].items())
    return c2["jvm"] - c1["jvm"] - jit + c2["py"] - c1["py"], jit


def measure(wl, ctx, seconds: float):
    """Run rounds of ops until ``seconds`` have passed; the first round
    always runs whole, so every op kind of the mix is measured. Returns
    the op records, the wall time of each full round and the total wall
    time."""
    recs: list[dict] = []
    rounds: list[float] = []
    t0 = time.perf_counter()
    while True:
        t_round = time.perf_counter()
        for op in wl.next_round():
            if rounds and time.perf_counter() - t0 >= seconds:
                wl.end_round(ctx)
                ctx.tracer.settle()
                return recs, rounds, time.perf_counter() - t0
            c1 = cpu_s()
            t1 = time.perf_counter()
            try:
                rec = wl.run_op(ctx, op, len(recs))
            except Exception as e:  # counted as failed, the run goes on
                rec = {"kind": op[0], "op": op, "lat": time.perf_counter() - t1,
                       "ok": False, "error": repr(e)}
            rec["cpu"], rec["jit"] = cpu_used(c1, cpu_s())
            recs.append(rec)
            ctx.tracer.settle()
        rounds.append(time.perf_counter() - t_round)
        wl.end_round(ctx)
        ctx.tracer.settle()
        if time.perf_counter() - t0 >= seconds:
            return recs, rounds, time.perf_counter() - t0


def summarize(wl, recs, rounds, wall) -> dict:
    from perfbench.common import p50, tail

    lats = [r["lat"] for r in recs]
    tv, tp, tn = tail(lats)

    def block(key):
        return sum(w * p50([r[key] for r in recs if r["kind"] == k]) for k, w in wl.MIX.items())

    out = {
        "block_s": block("lat"),
        "block_cpu_s": block("cpu"),
        "block_jit_s": block("jit"),
        "op_p50_s": p50(lats),
        "ops_per_s": len(lats) / wall,
        "op_tail_s": tv,
        "op_tail_pct": tp,
        "op_samples": tn,
    }
    out.update(wl.extra(recs, rounds))
    return out


def run_workload(name: str, args, work: str, spark, data_dir: str, scale: dict, t_start: dict):
    """Set up, warm up, measure and check one workload. Returns
    (attempted, failed, end-to-end metrics, per-layer metrics, info)."""
    import importlib

    from perfbench.common import Ctx
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import Tracer

    wl = importlib.import_module(f"perfbench.{WORKLOADS[name]}").Workload()
    tracer = Tracer(spark, on=False)
    ctx = Ctx(spark, data_dir, os.path.join(work, name), args.seed, scale, tracer)
    t0 = time.perf_counter()
    state = wl.fixture(ctx)
    load = state.get("graph_load_s", 0.0)
    fixture_s = time.perf_counter() - t0 - load
    wl.start(ctx, state)
    t0 = time.perf_counter()
    wl.warmup(ctx)
    c = cpu_s()
    setup_cpu_s = c["jvm"] - sum(c["jit"].values()) + c["py"]
    setup = {
        "setup.session_s": t_start["session_s"],
        "setup.graph_load_s": load,
        "setup.fixtures_s": t_start["datagen_s"] + fixture_s,
        "setup.warmup_s": time.perf_counter() - t0,
    }

    recs, rounds, wall = measure(wl, ctx, args.seconds)
    plain = summarize(wl, recs, rounds, wall)
    checked = list(recs)
    layers = dict.fromkeys(PER_LAYER, 0)
    if args.trace:
        tracer.on = True
        t_recs, t_rounds, t_wall = measure(wl, ctx, args.seconds)
        traced = summarize(wl, t_recs, t_rounds, t_wall)
        checked += t_recs
        layers.update(setup)
        layers.update({k: v for k, v in plain.items() if k in PER_LAYER})
        layers.update(wl.layers(ctx, t_recs))
        for k in ("block_s", "block_cpu_s"):
            layers[f"trace.overhead.{k}"] = traced[k] - plain[k]
        out_dir = os.path.join(ROOT, "perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{name}-seed{args.seed}.trace.jsonl"))
    failed = wl.verify(ctx, checked)
    layers["fail_ratio"] = failed / max(1, len(checked))
    unknown = set(layers) - set(PER_LAYER)
    assert not unknown, f"metrics missing from perfbench/metrics.py: {sorted(unknown)}"
    layers["setup_wall_s"] = sum(setup.values())
    e2e = {"setup_s": setup_cpu_s, "block_cpu_s": plain["block_cpu_s"]}
    assert set(e2e) == set(END_TO_END)
    info = {
        "workload": name,
        "untraced": plain,
        "setup": setup,
        "setup_cpu_s": setup_cpu_s,
        "rounds_s": rounds,
        "self_time_s": tracer.self_times(),
        "ops": [[r["kind"], round(r["lat"], 4), round(r["cpu"], 2), round(r["jit"], 2)]
                for r in recs],
        "errors": [r["error"] for r in checked if "error" in r][:10],
    }
    return len(checked), failed, e2e, layers, info


def main() -> int:
    ap = argparse.ArgumentParser(description="dd_graphdb_spark benchmark")
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        import dd_graphdb_spark  # noqa: F401
        from perfbench import datagen
    except ImportError as e:
        print(f"error: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    jvms = live_spark_jvms()
    if jvms:
        print("error: refusing to start while other Spark JVMs are live:", file=sys.stderr)
        for h in jvms:
            print(f"  {h}", file=sys.stderr)
        return 3

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, "perfbench", ".work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    isolate(work)
    host = {"before": host_info()}
    spark = None
    try:
        data_dir = os.path.join(work, "data")
        t0 = time.perf_counter()
        scale = datagen.generate(data_dir, SF, DATA_SEED)
        datagen_s = time.perf_counter() - t0

        from dd_graphdb_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=host["before"]["nproc"])
        spark.range(1).count()  # the first job pays executor start-up
        t_start = {"session_s": time.perf_counter() - t0, "datagen_s": datagen_s}
        attempted, failed, e2e, layers, run_info = run_workload(
            args.workload, args, work, spark, data_dir, scale, t_start)
        confs = dict(spark.sparkContext.getConf().getAll())
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    host["after"] = host_info()
    b, a = host["before"], host["after"]
    host["steal_share"] = round(
        (a["steal_ticks"] - b["steal_ticks"]) / max(1, a["cpu_ticks"] - b["cpu_ticks"]), 4
    )

    from perfbench.metrics import END_TO_END, PER_LAYER

    info = {"seed": args.seed, "data_seed": DATA_SEED, "sf": SF, "seconds": args.seconds,
            "host": host, "spark_conf": confs, **run_info}
    print("# info " + json.dumps(info, default=str))
    units, vals = (PER_LAYER, layers) if args.trace else (END_TO_END, e2e)
    metrics = {k: {"value": v, "unit": units[k]} for k, v in vals.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
