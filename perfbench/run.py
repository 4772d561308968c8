"""The repository benchmark: one command, two workloads, one JSON line.

    python3 perfbench/run.py --workload vault_mixed --seed 1 --seconds 8 --trace 0

Workloads, metric names and units come from BENCHMARK.json (it says why
each workload exists; METRICS.md says which layer metric should move which
end-to-end one):
  vault_mixed  TemporalVault API traffic: reads, writes and maintenance
  analytics    passes over fixed registry queries, one per operators module

Runs from the root of a source checkout on ``local[<cores>]``, one client in
a closed loop, no extra threads. All inputs are generated from ``--seed``
into ``.perfbench_work/`` (as are Spark's scratch files) and removed at
exit, except the span dump of a traced run. With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` the
per-layer ones. The lines above it print every op's latency and the
machine's CPU steal while measuring. Exits non-zero, without a result line,
when the checkout lacks the program.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
VAULT_EVENTS, VAULT_KEYS = 100_000, 1500
VAULT_OPS = ("record", "record_bulk", "query", "state_at", "compare", "snapshot", "compact", "rollback")


def load_spec() -> dict:
    """BENCHMARK.json: the workloads, and each metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes (temp files, Spark scratch, JVM temp)
    inside the checkout, and pin the session shape."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT]


# -- process probes (/proc; psutil is not available) ---------------------------------


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                pass
    return out


def _descendants(pid: int, stats: dict | None = None) -> list[int]:
    stats = _proc_stats() if stats is None else stats
    out, frontier = [], {pid}
    while frontier:
        frontier = {p for p, f in stats.items() if int(f[1]) in frontier}
        out += frontier
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    this process and its descendants: the JVM and its Python workers."""
    stats = _proc_stats()
    me = os.getpid()
    return sum(sum(int(x) for x in stats[p][11:15])
               for p in [me] + _descendants(me, stats) if p in stats) / _TICK


def host_cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def stolen_share(ticks: list[int]) -> float:
    """Share of the CPU time the machine's busy CPUs wanted that the
    hypervisor gave to other guests: steal / (busy + steal)."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = ticks
    busy = user + nice + system + irq + softirq
    return steal / max(1, busy + steal)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this process plus its direct children (the JVM)."""
    me = os.getpid()
    kids = [p for p, f in _proc_stats().items() if int(f[1]) == me]
    return (_vm_hwm_kb(me) + sum(_vm_hwm_kb(c) for c in kids)) / 1024


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process the
    run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits on EOF
        try:
            jvm.wait(timeout=60)
        except Exception:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -- workloads ----------------------------------------------------------------


def pct(values, q: int) -> float:
    """q-th percentile (linear interpolation between closest ranks)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def _copies(src: str, work: str) -> list[str]:
    """SETUP_REPS identical input directories, so each set-up repetition
    registers a fresh catalog."""
    dirs = [src]
    for k in range(1, SETUP_REPS):
        dirs.append(shutil.copytree(src, os.path.join(work, f"data{k}")))
    return dirs


def whole_rounds(seconds: float, run_round) -> list[float]:
    """Run whole rounds (a vault op cycle, an analytics pass), at least one,
    until the next would overrun ``seconds`` by more than half a round, so
    every run measures the same mix. ``run_round(k)`` returns the measured
    seconds of round k."""
    rounds: list[float] = []
    while not rounds or sum(rounds) + _median(rounds) / 2 <= seconds:
        rounds.append(run_round(len(rounds)))
    return rounds


def _with_cpu(setup_once, rep: int) -> tuple[float, float]:
    """(wall seconds, CPU seconds) of one set-up repetition."""
    c0 = tree_cpu_s()
    wall = setup_once(rep)
    return wall, tree_cpu_s() - c0


def _phase(res, name: str) -> None:
    """Record the wall seconds since the previous phase ended (printed)."""
    now = time.perf_counter()
    res["phases"][name] = round(now - res["t_mark"], 1)
    res["t_mark"] = now


def _measure(args, run_round, res) -> None:
    """The measured rounds, with the machine's CPU ticks around them."""
    h0 = host_cpu_ticks()
    res["rounds"] = whole_rounds(args.seconds, run_round)
    res["host_ticks"] = [b - a for a, b in zip(h0, host_cpu_ticks())]


def run_vault(args, spark, tracer, work, res) -> None:
    import datagen
    from vault_traffic import CYCLE, OP_CLASS, WARMUP, VaultTraffic

    src = datagen.write_catalog(os.path.join(work, "data0"), args.seed,
                                n_events=VAULT_EVENTS, n_keys=VAULT_KEYS)
    w = VaultTraffic(spark, tracer, args.seed, _copies(src, work), work, VAULT_KEYS)
    _phase(res, "inputs")
    res["setup_reps"] = [_with_cpu(w.setup_once, k) for k in range(SETUP_REPS)]
    res["setup_s"] = _median([cpu for _, cpu in res["setup_reps"]])
    res["setup_wall_s"] = _median([wall for wall, _ in res["setup_reps"]])
    _phase(res, "setup")

    def cycle(k: int) -> float:
        """One pass over CYCLE; k < 0 is the untimed pass over WARMUP, which
        takes the first-execution costs (plan code generation, JIT) out of
        the measured ones. Checks run between ops, off the clock."""
        measured = 0.0
        ops = WARMUP if k < 0 else CYCLE
        w.start_cycle(ops)
        for j, op in enumerate(ops):
            res["attempted"] += 1
            try:
                c0 = tree_cpu_s()
                dt, check = w.run_op(op, f"warm{j}" if k < 0 else f"op{k * len(CYCLE) + j}")
                cpu = tree_cpu_s() - c0
            except Exception as e:
                res["errors"].append(f"{op}: {e!r}"[:300])
                continue
            if k >= 0:
                measured += dt
                res["latencies"].setdefault(op, []).append(dt)
                res["op_cpu"].setdefault(op, []).append(cpu)
                res["op_class"][op] = OP_CLASS[op]
            try:
                check()
            except Exception as e:
                w.wrong.append(f"check {op}: {e!r}"[:300])
        return measured

    cycle(-1)
    _phase(res, "warmup")
    _measure(args, cycle, res)
    _phase(res, "measure")
    try:
        w.final_check()
    except Exception as e:
        w.wrong.append(f"final check: {e!r}"[:300])
    res["wrong"] += w.wrong
    res["query_calls"] = w.calls.get("query", 0) + w.calls.get("query_again", 0)
    res["query_hits"] = w.query_hits
    res["storage"] = w.storage()
    _phase(res, "final_check")


def run_analytics(args, spark, tracer, work, res) -> None:
    import datagen
    from analytics_pass import QUERIES, AnalyticsPass

    a = AnalyticsPass(spark, tracer, _copies(datagen.write_catalog(os.path.join(work, "data0"), args.seed), work))
    _phase(res, "inputs")
    res["setup_reps"] = [_with_cpu(a.setup_catalog, k) for k in range(SETUP_REPS)]
    c0 = tree_cpu_s()
    first_s, results = a.first_pass()
    res["setup_s"] = _median([cpu for _, cpu in res["setup_reps"]]) + tree_cpu_s() - c0
    res["setup_wall_s"] = _median([wall for wall, _ in res["setup_reps"]]) + first_s
    _phase(res, "setup")
    a.check(results)
    _phase(res, "check")

    def one_pass(k: int) -> float:
        out = a.measured_pass(k + 1, tree_cpu_s)
        for name, dt, cpu in out:
            res["latencies"].setdefault(name, []).append(dt)
            res["op_cpu"].setdefault(name, []).append(cpu)
            res["op_class"][name] = "read"  # every registry query only reads
        return sum(dt for _, dt, _ in out)

    _measure(args, one_pass, res)
    _phase(res, "measure")
    res["attempted"] += len(QUERIES) * (len(res["rounds"]) + 1)
    res["errors"] += a.failed
    res["wrong"] += a.wrong


# -- metrics --------------------------------------------------------------------


CLASSES = ("read", "write", "upkeep")


def _all_latencies(res) -> list[float]:
    return [x for v in res["latencies"].values() for x in v]


def _class_latencies(res, cls: str) -> list[float]:
    return [x for op, xs in res["latencies"].items() if res["op_class"][op] == cls for x in xs]


def cpu_s(res, classes=CLASSES) -> float:
    """Total CPU seconds of the measured ops of the given classes."""
    return sum(sum(xs) for op, xs in res["op_cpu"].items() if res["op_class"][op] in classes)


def cpu_ms_per_op(res, classes=CLASSES) -> float:
    """CPU ms of a typical op of the given classes: for each op type, the
    median CPU of its calls in the run, weighted by its number of calls
    (one op that a JIT compile or a GC pause lands on moves it less than a
    mean)."""
    ops = [op for op in res["op_cpu"] if res["op_class"][op] in classes]
    n = sum(len(res["op_cpu"][op]) for op in ops)
    return 1000 * sum(len(res["op_cpu"][op]) * _median(res["op_cpu"][op]) for op in ops) / max(1, n)


def steal_free_wall_s(res) -> float:
    """Measured wall seconds, less the share the hypervisor stole from the
    busy CPUs meanwhile."""
    return max(sum(res["rounds"]), 1e-9) * (1 - stolen_share(res["host_ticks"]))


def end_to_end(res, spec) -> dict[str, float]:
    out = {
        "setup_s": res["setup_s"],
        "cpu_ms_per_op": cpu_ms_per_op(res),
        "read_cpu_ms_per_op": cpu_ms_per_op(res, ("read",)),
        "cores_busy": cpu_s(res) / steal_free_wall_s(res),
    }
    return {m["name"]: out[m["name"]] for m in spec["end_to_end"]}


def per_layer(res, tracer, spark_parts: int, spec) -> dict[str, float]:
    spans = tracer.spans
    measured = [s for s in spans if s.op and s.op.startswith(("op", "pass")) and not s.op.startswith("pass0.")]
    setup = [s for s in spans if s.op and s.op.startswith("setup")]

    def med(name, pool, scale=1.0):
        return scale * _median([s.dur for s in pool if s.name == name])

    out = {
        "session.get_spark_s": res["get_spark_s"],
        "session.shuffle_partitions": spark_parts,
        "catalog.load_catalog_s": med("catalog.load_catalog", setup),
        "catalog.temporal_records_cache_s": med("catalog.temporal_records_cache", setup),
    }
    by_op: dict[str, list] = {}
    for s in measured:
        by_op.setdefault(s.op, []).append(s)
    for op in VAULT_OPS:
        out[f"vault.{op}.call_ms"] = med(f"vault.{op}", measured, scale=1000)
        totals = [(sum(s.jobs for s in ss), sum(s.tasks for s in ss))
                  for ss in by_op.values() if any(s.name == f"vault.{op}" for s in ss)]
        out[f"vault.{op}.jobs"] = _median([j for j, _ in totals])
        out[f"vault.{op}.tasks"] = _median([t for _, t in totals])
    out["vault.query.materialize_ms"] = med("vault.query.materialize", measured, scale=1000)
    out["vault.state_at.materialize_ms"] = med("vault.state_at.materialize", measured, scale=1000)
    if res.get("query_calls"):
        out["vault.query.cache_hit_ratio"] = res["query_hits"] / res["query_calls"]
    out.update(res.get("storage", {}))
    modules: dict[str, float] = {}
    for q in {s.name for s in measured if s.name.startswith("query.")}:
        pool = [s for s in measured if s.name == q]
        out[f"{q}.s"] = _median([s.dur for s in pool])
        out[f"{q}.tasks"] = _median([s.tasks for s in pool])
        module = pool[0].layer  # operators.<module>
        modules[module] = modules.get(module, 0.0) + out[f"{q}.s"]
    out.update({f"{m}.s": v for m, v in modules.items()})
    selfs = tracer.self_times(spans)
    for layer in ("bench", "session", "catalog", "vault"):
        out[f"layer.{layer}.self_s"] = selfs.get(layer, 0.0)
    out["layer.operators.self_s"] = sum(v for k, v in selfs.items() if k.startswith("operators."))
    lat = _all_latencies(res)
    out["trace.overhead_pct"] = 100 * tracer.bookkeeping_s / res["wall_s"]
    out["run.setup_wall_s"] = res["setup_wall_s"]
    out["run.ops"] = len(lat)
    out["run.ops_per_s"] = len(lat) / max(sum(res["rounds"]), 1e-9)
    out["run.p50_ms"] = 1000 * pct(lat, 50)
    out["run.read_p50_ms"] = 1000 * pct(_class_latencies(res, "read"), 50)
    for cls in ("write", "upkeep"):
        out[f"run.{cls}_cpu_ms_per_op"] = cpu_ms_per_op(res, (cls,))
    out["host.steal_pct"] = 100 * stolen_share(res["host_ticks"])
    out["mem.peak_rss_mb"] = res["peak_rss_mb"]
    # a layer the workload does not reach reads 0
    return {m["name"]: out.get(m["name"], 0.0) for m in spec["per_layer"]}


def main(argv=None) -> int:
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "temporalvault_spark", "vault.py")):
        print(f"perfbench: no temporalvault_spark package under {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    from tracer import Tracer

    tracer = Tracer(bool(args.trace))
    res = {"attempted": 0, "errors": [], "wrong": [], "latencies": {}, "op_class": {},
           "op_cpu": {}, "phases": {}}
    t_wall = res["t_mark"] = time.perf_counter()
    try:
        from temporalvault_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.get_spark", "session", op="setup"):
            spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
        res["get_spark_s"] = time.perf_counter() - t0
        _phase(res, "spark")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            if args.workload == "analytics":
                import temporalvault_spark.operators  # noqa: F401  (fills the registry)

                run_analytics(args, spark, tracer, work, res)
            else:
                run_vault(args, spark, tracer, work, res)
            res["wall_s"] = time.perf_counter() - t_wall
            res["peak_rss_mb"] = peak_rss_mb()
            parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        finally:
            _stop_spark(spark)
            _phase(res, "stop")
    finally:
        if args.trace:
            tracer.dump(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    failed = len(res["errors"]) + len(res["wrong"])
    for line in res["errors"] + res["wrong"]:
        print("FAILED:", line)
    metrics = per_layer(res, tracer, parts, spec) if args.trace else end_to_end(res, spec)
    lat = _all_latencies(res)
    cpu_total = max(cpu_s(res), 1e-9)
    print(f"workload={args.workload} seed={args.seed} wall_s={res['wall_s']:.1f} "
          f"rounds={len(res['rounds'])} measured_s={sum(res['rounds']):.2f} "
          f"setup_reps(wall,cpu)={[(round(w, 2), round(c, 2)) for w, c in res['setup_reps']]} "
          f"error_rate={failed}/{res['attempted']} = {failed / res['attempted']:.4f} "
          f"stolen_while_measuring={100 * stolen_share(res['host_ticks']):.1f}%\n"
          f"  phases_s={res['phases']}")
    print(f"  all ops  n={len(lat):<3} ops_per_s={len(lat) / max(sum(res['rounds']), 1e-9):.3f} "
          f"p50={1000 * pct(lat, 50):.1f} ms  wall_ms_per_op={1000 * sum(res['rounds']) / max(1, len(lat)):.1f}")
    for cls in CLASSES:
        xs = _class_latencies(res, cls)
        if xs:
            print(f"  class {cls:<6} n={len(xs):<3} p50={1000 * pct(xs, 50):9.1f} ms  "
                  f"cpu_ms_per_op={cpu_ms_per_op(res, (cls,)):8.1f}  "
                  f"cpu_share={cpu_s(res, (cls,)) / cpu_total:.2f}")
    for op, xs in sorted(res["latencies"].items()):
        print(f"  {op:<28} n={len(xs):<3} p50={1000 * pct(xs, 50):9.1f} ms  max={1000 * max(xs):9.1f} ms"
              f"  cpu p50={1000 * _median(res['op_cpu'][op]):9.1f} ms")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
