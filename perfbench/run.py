"""Benchmark of the networkit_spark engine on one workload.

Run from the repository root:

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

The run builds its inputs from ``--seed``, sets up a Spark session several
times, ingests the input tables into a ``Graph``, makes the workload's
untimed warm-up passes, then repeats the workload's operator calls while
``--seconds`` allows, each call timed to a fully consumed output. It then
times the ingest again, several times. Every output is checked against an
oracle, outside the timed regions. The last line of standard output is one
JSON object: ``correct``, ``attempted`` and ``failed`` count the checked calls,
and ``metrics`` holds the end-to-end metrics (``--trace 0``) or the
per-layer counters of a traced run (``--trace 1``). A readable table of
every metric, with unit and sample count, is printed before it, and a
JSON record with the run's environment goes to ``.perfbench/results/``.

A traced run first measures like an untraced one, then starts a session
with Spark's event log on, tags every call into a layer with the job group
``<layer>.<fn>``, runs one more pass and folds the event log into counters
per span. A last untraced pass follows in a new session; the tracing
overhead is the traced pass minus that one.

All state stays in ``.perfbench/`` under the working directory: Spark's
local dirs, the superstep checkpoints (``NKS_STATE_DIR``), temp files and
the event log. Each run uses a fresh directory and removes it at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

RUN_LIMIT_S = 170
SETUP_REPS = 5
INGEST_REPS = 3
#: the driver JVM's heap, fixed from the start (-Xms = -Xmx): a heap that
#: grows as the run goes sizes itself differently in every run, and with it
#: the time spent in garbage collection
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", help="full (default) or toy")
    return p.parse_args(argv)


def isolate(run_dir: str, cores: int) -> dict[str, str]:
    """Point every place Spark, the JVM and the engine write to into
    ``run_dir``; must run before the first Spark session starts."""
    dirs = {k: os.path.join(run_dir, k) for k in
            ("state", "local", "tmp", "inputs", "eventlog", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "NKS_STATE_DIR": dirs["state"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_CPUS": str(cores),
        "NKS_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    })
    return dirs


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpus_used(before: list[int], after: list[int]) -> dict[str, float]:
    """CPUs busy, and CPUs stolen by the hypervisor for other guests,
    between two ``cpu_times`` samples."""
    d = [b - a for a, b in zip(before, after)]
    scale = (os.cpu_count() or 1) / max(1, sum(d))
    return {"busy": (sum(d) - d[3] - d[4]) * scale, "steal": d[7] * scale}


def busy_cpus(window_s: float = 0.5) -> float:
    """CPUs kept busy by other work, sampled while this run is still idle:
    unlike the load average, it holds no trace of a run that just ended."""
    before = cpu_times()
    time.sleep(window_s)
    return cpus_used(before, cpu_times())["busy"]


def git_sha(root: str) -> str | None:
    """HEAD of the git checkout rooted at ``root``; None anywhere else."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(root):
        return None
    return lines[1]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Bench:
    def __init__(self, args, root, run_dir, cores):
        self.args, self.root, self.cores = args, root, cores
        self.dirs = isolate(run_dir, cores)
        # imported only now, after the environment points into run_dir
        from spantrace import Tracer
        import workloads

        self.params = dict(workloads.SIZES[args.size])
        self.workload = workloads.WORKLOADS[args.workload](self.params)
        self.spark = None
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []

    # the attributes operator calls and checks read
    seed = property(lambda self: self.args.seed)
    state_dir = property(lambda self: self.dirs["state"])
    input_dir = property(lambda self: self.dirs["inputs"])
    tmp_dir = property(lambda self: self.dirs["tmp"])

    # -- session -----------------------------------------------------------

    def start_session(self, extra: dict | None = None):
        from networkit_spark import get_spark

        self.stop_session()
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.dirs["warehouse"],
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
                **(extra or {})}
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid

    # -- measurement -------------------------------------------------------

    def check(self, what: str, fn, *args):
        self.attempted += 1
        try:
            fn(*args)
        except Exception as e:  # a wrong or failed output is counted, not fatal
            self.failures.append(f"{what}: {type(e).__name__}: {e}")

    def one_pass(self, g, pass_no: int) -> dict:
        """Every operator call of the workload once. A call that raises is
        recorded as failed and the pass goes on."""
        from workloads import TimedRunner, consume

        results, state = [], {}
        for op in self.workload.ops():
            res = {"op": op.name, "pass": pass_no, "pass_state": state, "check": op.check}
            runner = TimedRunner(self.spark, f"{op.name}-{pass_no}-{os.urandom(6).hex()}",
                                 state_dir=self.state_dir)
            try:
                with self.tracer.span(f"operators.{op.fn}") as span:
                    t0 = time.perf_counter()
                    out = op.call(self, g, runner, state)
                    res["rows"], res["fp"] = consume(out)
                    res["seconds"] = time.perf_counter() - t0
                res["span"] = span
                used = state.get("resume_runner", runner) if op.name == "resume" else runner
                res["runner"] = used
                res["supersteps"] = len(used.history)
                res["resumed_from"] = used.resumed_from
                res["values"] = out.toPandas() if op.collect else None
                state[op.name] = {"job_id": runner.job_id, **res}
            except Exception as e:
                res["error"] = f"{type(e).__name__}: {e}"
            results.append(res)
        return {"ops": results,
                "seconds": sum(r.get("seconds", 0.0) for r in results)}

    def measure(self, g, seconds: float, first_pass: int) -> list[dict]:
        """The workload's minimum number of passes, then more while the
        next one is expected to end nearer to ``seconds`` than the last."""
        passes, t0 = [], time.perf_counter()
        while True:
            passes.append(self.one_pass(g, first_pass + len(passes)))
            typical = median(p["seconds"] for p in passes)
            if (len(passes) >= self.workload.min_passes
                    and time.perf_counter() - t0 + typical / 2 > seconds):
                return passes

    def check_passes(self, passes, oracle):
        steps: dict[str, set] = {}
        for p in passes:
            for r in p["ops"]:
                what = f"pass {r['pass']} {r['op']}"
                if "error" in r:
                    self.attempted += 1
                    self.failures.append(f"{what}: {r['error']}")
                    continue
                self.check(what, r["check"], r, oracle, self)
                if r["op"] != "resume":
                    steps.setdefault(r["op"], set()).add(r["supersteps"])
        for op, seen in steps.items():
            self.check(f"{op} superstep counts", _same, seen)

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        import workloads

        env = self.environment()
        cpu0 = cpu_times()
        phases, t_phase = {}, time.perf_counter()

        def phase(name):
            nonlocal t_phase
            now = time.perf_counter()
            phases[name] = now - t_phase
            t_phase = now

        # a traced run reports per-layer counters only: one setup and one
        # timed ingest keep it well inside the time limit of a run
        setup_reps, ingest_reps = (1, 1) if self.args.trace else (SETUP_REPS, INGEST_REPS)
        setup = []
        for _ in range(setup_reps):
            t0 = time.perf_counter()
            self.start_session()
            self.workload.make_inputs(self)
            setup.append(time.perf_counter() - t0)
        env.update(spark=self.spark.version,
                   java=self.spark._jvm.System.getProperty("java.version"))
        phase("setup")

        g = self.workload.ingest(self)
        # the first passes pay code generation and JIT compilation; they
        # are checked like the others but not timed
        warmup = [self.one_pass(g, i) for i in range(self.workload.warmup_passes)]
        phase("warmup")
        # a traced run makes only the workload's minimum number of passes
        passes = self.measure(g, 0 if self.args.trace else self.args.seconds,
                              first_pass=len(warmup))
        phase("passes")
        # ingest is timed after the passes: right after JVM start its few
        # short jobs compete with code generation and JIT compilation
        ingest = []
        for _ in range(ingest_reps):
            g.edges.unpersist(blocking=True)
            t0 = time.perf_counter()
            g = self.workload.ingest(self)
            ingest.append(time.perf_counter() - t0)
        rss = vm_hwm_mb(self.jvm_pid())
        phase("ingest")

        oracle = self.workload.oracle(self)
        self.check("ingest", workloads.check_ingest, g, oracle)
        self.check_passes(warmup + passes, oracle)
        m = g.num_edges()
        rounds = self.headline_rounds(passes)
        phase("checks")

        queries = {}
        for p in passes:
            for r in p["ops"]:
                if "seconds" in r:
                    queries.setdefault(r["op"], []).append(r["seconds"])
        e2e = {
            "setup_s": (median(setup), "s", len(setup)),
            "analytics_s": (median(p["seconds"] for p in passes), "s", len(passes)),
            "edges_per_s_superstep": (m / median(rounds) if rounds else 0.0, "1/s", len(rounds)),
        }
        # printed and recorded, but not bounded: their run-to-run spread on a
        # shared 4-CPU host is wider than the largest bound a metric may have
        detail = {"ingest_s": (median(ingest), "s", len(ingest)),
                  **{f"{op}_s": (median(v), "s", len(v)) for op, v in queries.items()},
                  "peak_rss_mb": (rss, "MB", 1)}
        out = {"environment": env, "end_to_end": e2e, "queries": detail,
               "samples": {"setup_s": setup, "ingest_s": ingest},
               "passes": [{r["op"]: r.get("seconds") for r in p["ops"]}
                          for p in warmup + passes],
               "rounds_s": rounds,
               "graph": {"m": m, "n": g.num_vertices()},
               "supersteps": {r["op"]: r["supersteps"] for r in passes[0]["ops"]
                              if "supersteps" in r},
               "phases_s": phases}
        if self.args.trace:
            out["trace"] = self.traced_run(oracle)
            phase("trace")
        self.stop_session()
        env["loadavg_after"] = loadavg()
        env["cpus_during"] = cpus_used(cpu0, cpu_times())
        return out

    def headline_rounds(self, passes) -> list[float]:
        """Seconds of each superstep of the headline query, over all passes;
        a single-pass operator is one superstep of its whole call."""
        rounds = []
        for p in passes:
            for r in p["ops"]:
                if r["op"] != self.workload.headline or "seconds" not in r:
                    continue
                if r["runner"].rounds:
                    rounds += [b - a for a, b in r["runner"].rounds]
                else:
                    rounds.append(r["seconds"])
        return rounds

    def traced_run(self, oracle) -> dict:
        from spantrace import (Tracer, event_log_conf, fold_jobs, layer_table,
                               read_event_log, superstep_counters)
        from workloads import consume

        self.tracer = tracer = Tracer()
        with tracer.span("session.get_spark"):
            self.start_session(event_log_conf(self.dirs["eventlog"]))
        tracer.spark = self.spark
        with tracer.span(f"sources.{self.workload.source_fn}"):
            g = self.workload.ingest(self)
        with tracer.span("graph.vertices"):
            consume(g.vertices)
        with tracer.span("graph.symmetrized"):
            consume(g.symmetrized())
        traced = self.one_pass(g, 0)
        self.check_passes([traced], oracle)
        self.stop_session()
        jobs = fold_jobs(read_event_log(self.dirs["eventlog"]))

        # The untraced reference pass runs after the traced one, in an
        # equally warm JVM, so a JIT warm-up never shows as negative overhead.
        self.tracer = Tracer()
        self.start_session()
        reference = self.one_pass(self.workload.ingest(self), 1)
        self.check_passes([reference], oracle)

        table = layer_table(tracer.spans, jobs, self.cores)
        plans = {}
        for r in traced["ops"]:
            runner = r.get("runner")
            if runner is None or not runner.history:  # failed, or not iterative
                continue
            fresh = runner.resumed_from is None
            plans[f"plans.{r['op']}"] = superstep_counters(
                runner.rounds, jobs, r["span"]["name"],
                r["span"]["end"] - r["span"]["start"],
                dir_bytes(runner.job_dir) if fresh else 0)
        return {"table": table, "plans": plans, "spans": tracer.spans,
                "traced_analytics_s": traced["seconds"],
                "untraced_analytics_s": reference["seconds"],
                "overhead_s": traced["seconds"] - reference["seconds"]}

    def environment(self) -> dict:
        busy = busy_cpus()
        under_load = busy > 0.5 * (os.cpu_count() or 1)
        if under_load:
            print(f"perfbench: WARNING: started with {busy:.1f} of {os.cpu_count()} CPUs busy "
                  "with other work; timings from this run are suspect", file=sys.stderr)
        return {"workload": self.args.workload, "seed": self.args.seed,
                "size": self.args.size, "seconds": self.args.seconds,
                "trace": self.args.trace, "nproc": os.cpu_count(),
                "spark_cores": self.cores,
                "loadavg_before": loadavg(), "busy_cpus_before": busy,
                "started_under_load": under_load,
                "git_sha": git_sha(self.root), "python": platform.python_version()}


def _same(values: set) -> None:
    if len(values) > 1:
        raise ValueError(f"differ across passes: {sorted(values)}")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# -- output ------------------------------------------------------------------


def layer_metrics(trace: dict, cores: int) -> dict:
    """The per-layer counters named in BENCHMARK.json, summed over the
    workload's spans of each layer."""
    table, plans = trace["table"], trace["plans"]

    def total(prefix, key):
        return sum(r[key] for n, r in table.items() if n.startswith(prefix))

    steps = sum(p["supersteps"] for p in plans.values())
    in_rounds = sum(p["jobs_per_superstep"] * p["supersteps"] for p in plans.values())
    ops_wall = total("operators.", "wall_s")
    m = {
        "session.get_spark.wall_s": (table["session.get_spark"]["wall_s"], "s"),
        "sources.wall_s": (total("sources.", "wall_s"), "s"),
        "sources.jobs": (total("sources.", "jobs"), "count"),
        "sources.shuffle_write_bytes": (total("sources.", "shuffle_write_bytes"), "bytes"),
        "sources.executor_run_s": (total("sources.", "executor_run_s"), "s"),
        "graph.wall_s": (total("graph.", "wall_s"), "s"),
        "plans.supersteps": (steps, "count"),
        "plans.jobs_per_superstep": (in_rounds / steps if steps else 0.0, "count"),
        "plans.checkpoint_bytes": (sum(p["checkpoint_bytes"] for p in plans.values()), "bytes"),
    }
    for key, unit in (("wall_s", "s"), ("jobs", "count"), ("stages", "count"),
                      ("tasks", "count"), ("failed_tasks", "count"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                      ("executor_run_s", "s"), ("task_deser_s", "s"), ("gc_s", "s"),
                      ("driver_outside_jobs_s", "s")):
        m[f"operators.{key}"] = (total("operators.", key), unit)
    m["operators.core_busy_ratio"] = (
        total("operators.", "executor_run_s") / (ops_wall * cores) if ops_wall else 0.0, "ratio")
    m["trace_overhead_s"] = (trace["overhead_s"], "s")
    return m


def print_report(out: dict) -> None:
    env = out["environment"]
    print(f"# perfbench {env['workload']} seed={env['seed']} size={env['size']} "
          f"nproc={env['nproc']} local[{env['spark_cores']}] busy_cpus={env['busy_cpus_before']:.2f} "
          f"during={ {k: round(v, 2) for k, v in env['cpus_during'].items()} } "
          f"load={env['loadavg_before']}->{env.get('loadavg_after')} "
          f"spark={env.get('spark')} java={env.get('java')} python={env['python']} "
          f"sha={env['git_sha']}")
    print(f"{'metric':44s} {'value':>14s} {'unit':6s} n")
    rows = [(k, v) for k, v in out["end_to_end"].items()]
    rows += [(k, v) for k, v in out["queries"].items()]
    rows.append(("ops_failed", (out["failed"], f"of {out['attempted']}", 1)))
    for name, (value, unit, n) in rows:
        print(f"{name:44s} {value:14.4f} {unit:6s} {n}")
    trace = out.get("trace")
    if trace:
        print(f"# traced pass {trace['traced_analytics_s']:.3f} s, untraced pass "
              f"{trace['untraced_analytics_s']:.3f} s: overhead {trace['overhead_s']:+.3f} s")
        for name in sorted(trace["table"]):
            row = trace["table"][name]
            print(name, " ".join(f"{k}={_fmt(v)}" for k, v in row.items()))
        for name in sorted(trace["plans"]):
            print(name, " ".join(f"{k}={_fmt(v)}" for k, v in trace["plans"][name].items()))
    for f in out["failures"]:
        print(f"# FAILED {f}")


def _fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "networkit_spark", "__init__.py")):
        print("perfbench: networkit_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    # Half the CPUs leave the rest to the driver, the JVM's GC and JIT
    # threads and other guests of a shared host, which keeps run-to-run
    # spread low; every task thread then has a CPU of its own.
    cores = max(1, cpus // 2)
    run_dir = os.path.join(root, ".perfbench", "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    bench = None
    try:
        bench = Bench(args, root, run_dir, cores)
        out = bench.run()
    finally:
        signal.alarm(0)
        if bench is not None:
            bench.stop_session()
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    out.update(attempted=bench.attempted, failed=len(bench.failures),
               failures=bench.failures)
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(out, f, indent=1, default=str)
    print_report(out)

    if args.trace:
        metrics = layer_metrics(out["trace"], cores)
    else:
        metrics = {k: (v, u) for k, (v, u, _) in out["end_to_end"].items()}
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def shutdown_jvm() -> None:
    """Stops the py4j gateway JVM this process started and waits for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # a JVM that already died cannot be shut down twice
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
