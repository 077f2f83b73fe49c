"""Benchmark runner: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload <sssp_converge|tpch_sql|corpus_dedup>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Steps: check the host and size the heap;
generate the inputs from the seed in a child process (``bench.gen_s``);
start the session; warm up on the workload itself; time a fixed number
of ops, and more until ``--seconds`` have passed; check every op's
output; print one JSON object as the last line of stdout. With
``--trace 0`` it holds the end-to-end metrics; with ``--trace 1`` the
window alternates untraced and traced ops and the object holds the
per-layer metrics. The full record
(host, config, inputs, every warm-up and timed op time) is written to
``.perfbench/results/`` and printed on the line before.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"

# Warm-up ops per workload, run before the timed window, and the fewest
# ops the window holds. Fixed counts, so every run measures the same
# points of the JIT warm-up curve (README.md, "Budget and known limits").
WARMUP_OPS = {"sssp_converge": 2, "tpch_sql": 2, "corpus_dedup": 2}
TIMED_OPS = {"sssp_converge": 2, "tpch_sql": 1, "corpus_dedup": 1}

# Heap for the session JVM when SPARK_GRAFT_DRIVER_MEM is unset: enough
# for these inputs, small next to any host's RAM.
DEFAULT_HEAP_MB = 2048


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def _heap_mb(spec: str) -> int:
    spec = spec.strip().lower()
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if spec[-1] in units:
        return int(float(spec[:-1]) * units[spec[-1]])
    return int(spec) // (1024 * 1024)


def host_config() -> dict:
    """Pin the engine's host-derived settings and refuse a heap larger
    than physical RAM (the engine's own 32 GB default gets the JVM
    OOM-killed on a 16 GB host; see README.md)."""
    nproc = len(os.sched_getaffinity(0))
    mem_total = _meminfo_mb("MemTotal")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    heap = os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_MEM", f"{min(DEFAULT_HEAP_MB, mem_total // 4)}m")
    if _heap_mb(heap) > mem_total:
        raise SystemExit(
            f"perfbench: SPARK_GRAFT_DRIVER_MEM={heap} exceeds physical RAM "
            f"({mem_total} MB); refusing to start")
    return {"nproc": nproc, "mem_total_mb": mem_total,
            "SPARK_GRAFT_CPUS": nproc, "SPARK_GRAFT_DRIVER_MEM": heap}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of this Python driver plus the JVM and its child processes."""
    pids = [os.getpid(), jvm_pid] + _descendants(jvm_pid)
    return sum(_vm_hwm_kb(p) for p in pids) / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat. Steal
    is time a virtual CPU was runnable but the hypervisor ran another
    guest: other tenants' load, which the record keeps next to each op."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def process_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds used so far by the given processes."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / hz


def generate(workload: str, seed: int, size: str, work: Path) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "gen.py"), workload, str(seed), size,
         str(work / "input")],
        check=True, capture_output=True, text=True)
    return json.loads(proc.stdout.strip().splitlines()[-1]), time.perf_counter() - t0


def start_spark(work: Path):
    from mapreduce_sssp_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CKPT_DIR"] = str(work / "checkpoints")
    # spark-submit first starts a small launcher JVM; keep its files in
    # the checkout too.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            # Initial heap = max heap: the JVM's RSS then tracks the heap
            # size set above instead of the collector's resizing, which
            # varied peak RSS by 20 % between runs of one workload.
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, spark, inputs: dict, seed: int, work: Path):
    import workloads as w

    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]

    def clock() -> tuple[float, float]:
        return time.perf_counter(), process_cpu_s(pids)

    if name == "sssp_converge":
        return w.SsspConverge(spark, inputs, clock)
    if name == "tpch_sql":
        return w.TpchSql(spark, inputs, clock, seed)
    return w.CorpusDedup(spark, inputs, clock, str(work / "sink"))


class Runner:
    """Runs ops and keeps each op's time, output check and failure."""

    def __init__(self, wl):
        self.wl = wl
        self.ops: list[dict] = []

    def run_op(self, phase: str, tracer=None) -> None:
        rec = {"phase": phase, "traced": tracer is not None}
        if tracer is not None:
            tracer.spans.clear()
        steal0, total0 = cpu_ticks()
        try:
            if tracer is not None:
                with tracer.span("op"):
                    queries, out = self.wl.op(tracer)
            elif phase == "warmup":
                queries, out = self.wl.warmup_op()
            else:
                queries, out = self.wl.op(None)
            steal1, total1 = cpu_ticks()
            seconds = sum(w for w, _ in queries)
            rec.update(seconds=seconds, cpu_s=sum(c for _, c in queries),
                       queries=queries,
                       steal_share=(steal1 - steal0) / max(total1 - total0, 1))
            if tracer is not None:
                rec["layers"] = self.wl.layers(tracer)
                rec["layers"].update(spark_layer(tracer, seconds))
            rec["captured"] = self.wl.capture(out)
        except Exception as exc:  # noqa: BLE001 — an op failure is a result
            rec["error"] = "".join(traceback.format_exception_only(exc)).strip()
            traceback.print_exc(file=sys.stderr)
        finally:
            self.wl.spark.catalog.clearCache()
        self.ops.append(rec)

    def check_all(self) -> None:
        for rec in self.ops:
            if "captured" in rec:
                try:
                    problem = self.wl.check(rec.pop("captured"))
                except Exception as exc:  # noqa: BLE001 — a failed check
                    problem = f"check raised {exc!r}"
                if problem:
                    rec["error"] = problem

    def timed(self, traced: bool) -> list[dict]:
        return [r for r in self.ops if r["phase"] == "timed" and "error" not in r
                and r["traced"] == traced]


def spark_layer(tracer, wall: float) -> dict:
    from spans import job_stats

    st = job_stats(tracer.sc, [s.group for s in tracer.spans])
    return {
        "spark.job_s": st["job_s"],
        "spark.executor_run_s": st["executor_run_s"],
        "spark.executor_cpu_s": st["executor_cpu_s"],
        "spark.gc_s": st["gc_s"],
        "spark.spill_bytes": st["spill_bytes"],
        "spark.driver_share": 1.0 - st["job_s"] / wall if wall > 0 else 0.0,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["sssp_converge", "tpch_sql", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "mini"], default="full",
                    help="input size; 'mini' is the smoke test's miniature")
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    import mapreduce_sssp_spark  # noqa: F401 — fail fast outside a checkout

    host = host_config()
    work = STATE / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return _run(args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, host: dict, work: Path) -> int:
    inputs, gen_s = generate(args.workload, args.seed, args.size, work)
    spark, get_spark_s = start_spark(work)
    try:
        sc = spark.sparkContext
        host.update({
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "jvm_max_heap_mb": sc._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20,
            "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
            "spark_version": sc.version,
        })
        wl = make_workload(args.workload, spark, inputs, args.seed, work)
        runner = Runner(wl)
        n_warm = WARMUP_OPS[args.workload]
        t_warm = time.perf_counter()
        for _ in range(n_warm):
            runner.run_op("warmup")
        warmup_s = time.perf_counter() - t_warm
        # From process start to the first timed op, input generation
        # excluded: CPU seconds of this process and the JVM (the generator
        # is a child process, whose CPU is not in this process's own
        # figure), and wall seconds for the record.
        setup_s = process_cpu_s([os.getpid(), sc._gateway.proc.pid])
        setup_wall_s = time.perf_counter() - T_START - gen_s

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        t_win = time.perf_counter()
        n = 0
        # With tracing, untraced and traced ops alternate in the order
        # plain, traced, traced, plain, so the tracing overhead is measured
        # in the same warm process and neither kind sits later on the
        # warm-up curve than the other.
        while (time.perf_counter() - t_win < args.seconds
               or n < TIMED_OPS[args.workload] or (args.trace and n < 4)):
            runner.run_op("timed", tracer if args.trace and n % 4 in (1, 2) else None)
            n += 1
        window_s = time.perf_counter() - t_win
        peak_mb = peak_rss_mb(sc._gateway.proc.pid)
    finally:
        stop_spark(spark)

    runner.check_all()
    failed = sum(1 for r in runner.ops if "error" in r)
    attempted = len(runner.ops)
    plain = runner.timed(traced=False)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "host": host,
        "inputs": {k: v for k, v in inputs.items() if k != "planted_pairs"},
        "planted_pairs": len(inputs.get("planted_pairs", [])),
        "bench.gen_s": gen_s, "setup_wall_s": setup_wall_s, "window_s": window_s,
        "process_s": time.perf_counter() - T_START,
        "ops": runner.ops,
    }
    correct = failed == 0 and bool(plain)
    metrics = {}
    if plain:
        record["query_samples"] = sum(len(r["queries"]) for r in plain)
        if args.trace:
            metrics = layer_metrics(runner, get_spark_s, warmup_s, n_warm, gen_s,
                                    setup_wall_s)
        else:
            metrics = {
                "cpu_s": (statistics.median(r["cpu_s"] for r in plain), "s"),
                "query_cpu_p50_s": (
                    statistics.median(c for r in plain for _, c in r["queries"]), "s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (peak_mb, "MB"),
            }
    record["failed_ops"] = failed / attempted
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    out = STATE / "results"
    out.mkdir(parents=True, exist_ok=True)
    line = json.dumps(record, default=str)
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json").write_text(line + "\n")
    print(line)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_share", "_precision")):
        return "ratio"
    return "count"


# Every per-layer metric, in BENCHMARK.json order; a layer the workload
# does not call reports 0.
LAYER_METRICS = [
    "bench.gen_s", "session.get_spark_s", "session.warmup_s", "session.warmup_ops",
    "session.setup_wall_s",
    "op.wall_s", "op.query_p90_s", "trace.overhead_s",
    "io.sources.register_tables_s", "io.sources.read_edge_list_text_s",
    "graph.sssp.call_s", "graph.sssp.rounds", "graph.sssp.round_s",
    "graph.sssp.driver_s", "graph.sssp.stages", "graph.sssp.tasks",
    "graph.sssp.shuffle_bytes",
    "graph.wcc.call_s", "graph.wcc.rounds", "graph.wcc.driver_s",
    "relational.build_s", "relational.plan_s", "relational.exec_s",
    "relational.jobs", "relational.stages", "relational.tasks",
    "relational.shuffle_bytes",
    "dedup.pairs_s", "dedup.candidate_pairs", "dedup.verified_pairs",
    "dedup.lsh_precision", "dedup.shuffle_bytes", "pipeline.clean_corpus_s",
    "io.sinks.write_s", "io.sinks.files_written", "io.sinks.bytes_written",
    "spark.job_s", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.spill_bytes", "spark.driver_share",
]


def p90(values: list[float]) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def layer_metrics(runner, get_spark_s, warmup_s, n_warm, gen_s, setup_wall_s) -> dict:
    traced = runner.timed(traced=True)
    plain = runner.timed(traced=False)
    values = {
        "bench.gen_s": gen_s,
        "session.get_spark_s": get_spark_s,
        "session.warmup_s": warmup_s,
        "session.warmup_ops": n_warm,
        "session.setup_wall_s": setup_wall_s,
        "op.wall_s": statistics.median(r["seconds"] for r in plain),
        "op.query_p90_s": p90([w for r in plain for w, _ in r["queries"]]),
        "trace.overhead_s": (statistics.median(r["seconds"] for r in traced)
                             - statistics.median(r["seconds"] for r in plain))
        if traced else 0.0,
    }
    for name in LAYER_METRICS:
        if name not in values:
            got = [r["layers"][name] for r in traced if name in r["layers"]]
            values[name] = statistics.median(got) if got else 0
    return {k: (values[k], _unit(k)) for k in LAYER_METRICS}


if __name__ == "__main__":
    sys.exit(main())
