"""Closed-loop benchmark of the catme_etl_spark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload etl_convert --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload query_mix   --seed 1 --seconds 12 --trace 1

One run = one process:

1. generate the inputs from ``--seed`` (``datagen.py``, in a child
   process; timed, but kept out of ``setup_s``);
2. set up: import the engine, ``session.get_spark`` on ``local[N]`` with
   N = half the cores this process may use, then ``WARMUP_PASSES``
   untimed passes over the workload at the target scale (they warm the
   JVM and Python workers; the first doubles as the correctness pass:
   query results are collected, convert outputs kept);
3. timed window: one client calls the engine in a closed loop over a
   fixed schedule of whole passes, as many as ``--seconds`` holds at the
   nominal pass length (``timed_passes``), recording the host's steal
   share of CPU time over the window;
4. check: the untimed pass's query results against their DuckDB oracles
   (``tools/check_oracle.py`` rule), convert outputs read back, and every
   timed op's row count against the checked result.

Prints the metrics by name and unit, then, as the LAST stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` whose
metrics are the end-to-end set (``--trace 0``) or the per-layer set
(``--trace 1``, see ``tracing.py``; also writes the span file under
``.perfbench/results/``). Exits non-zero without that line when the
engine is missing or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(WORK, "results")

WORKLOADS = ("etl_convert", "query_mix")

# Nominal length of one warm pass on local[2]. The timed schedule is
# derived from --seconds and these constants only, never from the speed
# measured, so two commits always time the same ops: a faster engine
# shortens the window instead of adding passes.
NOMINAL_PASS_S = {"etl_convert": 4.0, "query_mix": 12.0}
# Untimed passes before the timed window. The first is the correctness
# pass; a second etl_convert pass (4 ops, ~4 s) lets the JVM settle after
# the first op's one-off costs, which cost ~3x a warm op.
WARMUP_PASSES = {"etl_convert": 2, "query_mix": 1}

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_norm_s", "s"),
    ("op_tail_norm_s", "s"),
    ("ops_per_min_norm", "1/min"),
    ("peak_rss_mb", "MB"),
]

# Driver heap: fixed at 2 GiB with a fixed 256 MiB young generation. By
# default G1 grows the heap and the young generation when its collections
# take long, so the memory it touched followed the host's speed
# (query_mix peak_rss_mb 1649-2446 MB over ten runs of one commit); with
# both sizes fixed it follows what the engine allocates and keeps.
JVM_HEAP = "-Xms2g -Xmn256m"
ENGINE_FILES = ("__spark_entry__.py", "catme_etl_spark/__init__.py", "tools/check_oracle.py")


def process_start() -> float:
    """Wall-clock time this process was started (kernel start time,
    10 ms resolution), so ``setup_s`` includes interpreter start."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# Steal time. On a shared host the VM's vCPUs are not run for part of the
# time they want a core (up to a third of it on the reference machine),
# and whole runs slow down with it: wall-clock op times of one commit
# spread past any useful bound. The timed window records the steal share
# (stolen / busy CPU time of all CPUs), and the ``*_norm`` metrics are the
# wall-clock ones on a host that steals nothing: times times (1 - share),
# rates divided by it. The wall-clock values are printed beside them.
# ``setup_s`` stays wall clock.
def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy incl. stolen) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], v[0] + v[1] + v[2] + v[5] + v[6] + v[7]


def timed_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def tail(latencies: list[float]) -> tuple[float, int, int]:
    """Nearest-rank p90: the k-th smallest latency, k = ceil(0.9 n).
    Returns (value, k, n). At a fixed op count this is a fixed rank: the
    maximum of 9 ops, the second-largest of 12."""
    xs = sorted(latencies)
    k = math.ceil(0.9 * len(xs))
    return xs[k - 1], k, len(xs)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="catme_etl_spark closed-loop benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_dir: str, cores: int, trace: bool) -> None:
    """Pin every scratch location the engine, Spark and the JVM use to
    this run's directory inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "stream-ckpt")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "SPARK_GRAFT_STREAM_SCRATCH": os.path.join(run_dir, "stream-ckpt"),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_UI": "1" if trace else "0",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    import tempfile

    tempfile.tempdir = tmp


def redirect_stream_staging(run_dir: str) -> None:
    """The engine's file-stream stagers copy the events table into a
    fixed ``/tmp/catme_etl_stream_*`` directory. Point those constants at
    this run's directory instead, so the benchmark writes only inside its
    checkout (the staged data and the query logic are unchanged)."""
    from catme_etl_spark.streaming import jobs

    for fn in vars(jobs).values():
        code = getattr(fn, "__code__", None)
        if code is None or getattr(fn, "__module__", None) != jobs.__name__:
            continue
        consts = tuple(
            os.path.join(run_dir, "stream-src", c[5:])
            if isinstance(c, str) and c.startswith("/tmp/catme_etl_stream_")
            else c
            for c in code.co_consts
        )
        if consts != code.co_consts:
            fn.__code__ = code.replace(co_consts=consts)


class Bench:
    def __init__(self, args, run_dir: str, cores: int):
        self.args = args
        self.run_dir = run_dir
        self.cores = cores
        self.trace = bool(args.trace)
        self.tracer = None
        self.spark = None
        self.ops: list = []  # timed OpResults
        self.failures: list[str] = []
        self.info: dict = {}
        self.input_bytes: dict[str, int] = {}
        self.passes = 0
        self.rng = random.Random(args.seed)

    # -- set-up ---------------------------------------------------------------

    def generate(self) -> float:
        """Write this workload's inputs in a child process, so its memory
        and imports stay out of ``peak_rss_mb`` and ``setup_s``."""
        t = time.time()
        data = os.path.join(self.run_dir, "data")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), "--seed", str(self.args.seed),
             "--out", data, "--workload", self.args.workload],
            check=True,
        )
        with open(os.path.join(data, "manifest.json")) as f:
            self.info = json.load(f)
        self.tables_dir = os.path.join(data, "tables")
        return time.time() - t

    def setup(self) -> None:
        sys.path.insert(0, ROOT)
        if self.trace:
            import tracing

            self.tracer = tracing.Tracer()
            with self.tracer.span("operators.import"):
                self._import_engine()
            self.tracer.install()
        else:
            self._import_engine()
        redirect_stream_staging(self.run_dir)
        conf = {"spark.ui.showConsoleProgress": "false", "spark.driver.defaultJavaOptions": JVM_HEAP}
        if self.trace:
            conf.update(
                {
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                }
            )
        self.spark = self.session.get_spark("perfbench", extra_conf=conf)
        if self.trace:
            self.tracer.add_stream_listener(self.spark)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def _import_engine(self) -> None:
        import __spark_entry__
        from catme_etl_spark import convert, session
        from catme_etl_spark.operators import _shared

        self.entry, self.convert_mod, self.session, self.shared = (
            __spark_entry__, convert, session, _shared,
        )

    # -- passes ---------------------------------------------------------------

    def pass_ops(self) -> list[tuple[str, str]]:
        """(name, family) of one pass, in this pass's seeded order."""
        from workloads import ETL_PASS, FAMILIES, FAMILY_OF, pass_order

        if self.args.workload == "etl_convert":
            return [(fmt, f"etl_{fmt}") for fmt in ETL_PASS]
        return [(q, FAMILY_OF[q]) for q in pass_order(FAMILIES, self.rng)]

    def start_pass(self) -> None:
        if self.args.workload == "query_mix":
            self.shared.clear_shared()
            self.spark.catalog.clearCache()

    def run_op(self, op_id: str, name: str, family: str, keep_output: bool = False):
        from workloads import OpResult, output_size, run_convert, run_query

        res = OpResult(op_id, name, family, 0.0, 0.0)
        ctx = self.tracer.op(op_id, name, family, self.spark) if self.trace else nullcontext()
        with ctx:
            res.start = time.time()
            try:
                if self.args.workload == "etl_convert":
                    src = self.info["etl"][name]
                    out = os.path.join(self.run_dir, "out", op_id)
                    res.rows = run_convert(self.spark, self.convert_mod.convert, src["path"], out)
                else:
                    qfn = self.queries[name]
                    res.rows = run_query(self.spark, qfn, self.tables_dir, self.tracer)
            except Exception as ex:
                res.error = f"{type(ex).__name__}: {ex}".splitlines()[0][:300]
            res.end = time.time()
        if self.args.workload == "etl_convert" and res.error is None:
            res.extra["output_bytes"], res.extra["output_files"] = output_size(out)
            self.input_bytes[op_id] = src["bytes"]
            if not keep_output:
                shutil.rmtree(out, ignore_errors=True)
        return res

    def warm_up(self) -> None:
        """The untimed passes at the target scale; the first is also the
        correctness pass (query results collected, convert outputs kept)."""
        self.queries = self.entry.queries()
        self.collected = {}
        self.start_pass()
        span = self.tracer.span("pass", kind="warm-up") if self.trace else nullcontext()
        with span:
            for i, (name, family) in enumerate(self.pass_ops()):
                op_id = f"w{i}"
                if self.args.workload == "etl_convert":
                    res = self.run_op(op_id, name, family, keep_output=True)
                    if res.error:
                        self.failures.append(f"warm-up {name}: {res.error}")
                else:
                    ctx = self.tracer.op(op_id, name, family, self.spark) if self.trace else nullcontext()
                    with ctx:
                        try:
                            qfn = self.queries[name]
                            self.collected[name] = qfn(self.spark, self.tables_dir).toPandas()
                        except Exception as ex:
                            self.failures.append(f"correctness pass {name}: {type(ex).__name__}: {ex}"[:300])
        for p in range(1, WARMUP_PASSES[self.args.workload]):
            self.start_pass()
            span = self.tracer.span("pass", kind="warm-up") if self.trace else nullcontext()
            with span:
                for i, (name, family) in enumerate(self.pass_ops()):
                    res = self.run_op(f"w{p}.{i}", name, family)
                    if res.error:
                        self.failures.append(f"warm-up {name}: {res.error}")

    def timed(self) -> None:
        t0 = time.time()
        ticks0 = cpu_ticks()
        i = 0
        self.pass_s = []
        for _ in range(timed_passes(self.args.workload, self.args.seconds)):
            t_pass = time.time()
            self.start_pass()
            span = self.tracer.span("pass", kind="timed") if self.trace else nullcontext()
            with span:
                for name, family in self.pass_ops():
                    self.ops.append(self.run_op(f"t{i}", name, family))
                    i += 1
            self.passes += 1
            self.pass_s.append(time.time() - t_pass)
        self.t_timed = (t0, time.time())
        ticks1 = cpu_ticks()
        self.steal_frac = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        # before the checks, so the oracle engine's memory is not counted
        self.rss_mb = (vm_hwm_mb(os.getpid()), vm_hwm_mb(self.jvm_pid))

    # -- checks ---------------------------------------------------------------

    def check(self) -> None:
        from workloads import check_json_output, oracle_check

        if self.args.workload == "etl_convert":
            for i, (fmt, _family) in enumerate(self.pass_ops()):
                out = os.path.join(self.run_dir, "out", f"w{i}")
                src = self.info["etl"][fmt]
                if os.path.isdir(out):
                    why = check_json_output(out, src["rows"], src["null_amount"])
                    if why:
                        self.failures.append(f"read-back {fmt}: {why}")
            expect = {fmt: self.info["etl"][fmt]["rows"] for fmt in ("csv", "xlsx")}
        else:
            bad = oracle_check(self.collected, self.tables_dir, self.entry.oracle_sql())
            self.failures += [f"oracle {name}: {why}" for name, why in sorted(bad.items())]
            expect = {name: len(df) for name, df in self.collected.items()}
        for r in self.ops:
            if r.error:
                self.failures.append(f"{r.op_id} {r.name} raised {r.error}")
            elif expect.get(r.name) != r.rows:
                self.failures.append(f"{r.op_id} {r.name}: {r.rows} rows, expected {expect.get(r.name)}")

    # -- report ---------------------------------------------------------------

    def end_to_end(self, setup_s: float) -> tuple[dict, list[str]]:
        good = [r for r in self.ops if r.error is None]
        if not good:
            raise RuntimeError(f"no timed op succeeded: {self.failures}")
        lat = [r.latency for r in good]
        t_val, t_rank, t_n = tail(lat)
        wall = self.t_timed[1] - self.t_timed[0]
        wall_m = {
            "op_p50_s": statistics.median(lat),
            "op_tail_s": t_val,
            "ops_per_min": len(good) / wall * 60.0,
        }
        ran = 1.0 - self.steal_frac
        m = {
            "setup_s": setup_s,
            "op_p50_norm_s": wall_m["op_p50_s"] * ran,
            "op_tail_norm_s": wall_m["op_tail_s"] * ran,
            "ops_per_min_norm": wall_m["ops_per_min"] / ran,
            "peak_rss_mb": sum(self.rss_mb),
        }
        lines = [f"{k:<24}{v:>14.4f} {u}" for (k, u), v in zip(END_TO_END, m.values())]
        for i, (k, v) in enumerate(wall_m.items(), start=1):
            lines[i] += f"   (wall clock {k} {v:.4f})"
        lines[2] += f"   (p90 by nearest rank: rank {t_rank} of {t_n} ops, {t_n - t_rank} above it)"
        lines[4] += f"   (python {self.rss_mb[0]:.0f} + jvm {self.rss_mb[1]:.0f})"
        lines.append(
            f"{'host_steal_frac':<24}{self.steal_frac:>14.4f} ratio   (stolen / busy CPU time of the "
            f"timed window, all CPUs)"
        )
        if self.args.workload == "etl_convert":
            rows = sum(r.rows or 0 for r in good)
            op_time = sum(r.latency for r in good)
            out_b = sum(r.extra.get("output_bytes", 0) for r in good)
            in_b = sum(self.input_bytes.get(r.op_id, 0) for r in good)
            sizes = ", ".join(f"{fmt} {v['rows']} rows" for fmt, v in self.info["etl"].items())
            lines.append(f"{'rows_per_s':<24}{rows / op_time:>14.1f} rows/s   ({sizes})")
            lines.append(f"{'out_bytes_per_in_byte':<24}{out_b / in_b:>14.6f} B/B"
                         f"   ({out_b} B written / {in_b} B read)")
        n_att = len(self.ops)
        lines.append(f"{'failed_frac':<24}{len(self.failures) / max(n_att, 1):>14.4f} ratio"
                     f"   ({len(self.failures)} failures / {n_att} ops)")
        for f in self.failures:
            lines.append(f"  FAILED {f}")
        for key in ("family", "name"):
            groups: dict[str, list[float]] = {}
            for r in good:
                groups.setdefault(getattr(r, key), []).append(r.latency)
            for g, xs in sorted(groups.items()):
                lines.append(
                    f"  {key} {g:<34} ops {len(xs):>4}  p50 {statistics.median(xs):8.4f} s"
                    f"  max {max(xs):8.4f} s"
                )
        return m, lines


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    t_proc = process_start()
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: {missing}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # Half the cores this process may use: the driver Python process, the
    # JVM's collector and compiler threads and the Python workers keep the
    # other half, so a stage does not wait on a task thread that lost its
    # core to them or to another tenant of a shared host.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(RESULTS, exist_ok=True)
    prepare_env(run_dir, cores, bool(args.trace))
    sys.path.insert(0, HERE)
    b = Bench(args, run_dir, cores)
    try:
        gen_s = b.generate()
        b.setup()
        b.warm_up()
        setup_s = time.time() - t_proc - gen_s
        b.timed()
        t_check = time.time()
        b.check()
        check_s = time.time() - t_check
        metrics, lines = b.end_to_end(setup_s)
        if b.trace:
            per_layer, trace_lines = report_trace(b)
            lines += trace_lines
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if b.spark is not None:
                stop_spark(b.spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    head = (
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"master=local[{cores}] passes={b.passes} ops={len(b.ops)} "
        f"pass_s=[{', '.join(f'{x:.2f}' for x in b.pass_s)}] "
        f"timed_window_s={b.t_timed[1] - b.t_timed[0]:.2f} check_s={check_s:.2f} "
        f"inputs_generated_s={gen_s:.2f} (not in setup_s)"
    )
    print(head)
    if "tables" in b.info:
        print("  tables: " + ", ".join(
            f"{k} {v['rows']} rows / {v['bytes']} B" for k, v in b.info["tables"].items()))
    if "etl" in b.info:
        print("  inputs: " + ", ".join(
            f"{k} {v['rows']} rows / {v['bytes']} B" for k, v in b.info["etl"].items()))
    for line in lines:
        print(line)
    if not b.trace:
        with open(os.path.join(RESULTS, f"{args.workload}-untraced.json"), "w") as f:
            json.dump(metrics, f)
    out_metrics, units = metrics, dict(END_TO_END)
    if b.trace:
        import tracing

        out_metrics, units = per_layer, {n: u for n, u, _ in tracing.PER_LAYER}
    print(
        json.dumps(
            {
                "correct": not b.failures,
                "attempted": len(b.ops),
                "failed": len(b.failures),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in out_metrics.items()},
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Every workload in its own process, one after the other; the last
    line merges their results with metric names ``<workload>.<metric>``."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.rstrip("\n").splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {w} failed (exit {proc.returncode})", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def report_trace(b: Bench) -> tuple[dict, list[str]]:
    """Per-layer metrics of the timed window (overall and per op family),
    the span file, and the tracing overhead against the last untraced
    run of the same workload in this checkout."""
    import tracing

    t = b.tracer
    t.drain_stream_events()
    rest = tracing.fetch_rest(b.spark)
    if b.args.workload == "query_mix":
        # input bytes of a query op = the table files it loaded
        sizes = {k: v["bytes"] for k, v in b.info["tables"].items()}
        loads: dict[str, int] = {}
        for s in t.spans:
            if s["name"] == "sources.tables.load_table" and s["op"] and "table" in s:
                loads[s["op"]] = loads.get(s["op"], 0) + sizes.get(s["table"], 0)
        b.input_bytes.update(loads)
    by_op = tracing.attribute(t, b.ops, rest)
    overall = tracing.layer_metrics(t, b.ops, by_op, b.cores, b.input_bytes)
    families = sorted({r.family for r in b.ops})
    per_family = {
        fam: tracing.layer_metrics(t, [r for r in b.ops if r.family == fam], by_op, b.cores, b.input_bytes)
        for fam in families
    }
    by_time = sum(d["by_time"] for d in by_op.values())
    path = os.path.join(RESULTS, f"spans-{b.args.workload}-seed{b.args.seed}.json")
    tracing.write_span_file(
        path,
        t,
        {
            "workload": b.args.workload,
            "seed": b.args.seed,
            "cores": b.cores,
            "per_layer": overall,
            "per_family": per_family,
            "ops": [vars(r) for r in b.ops],
        },
    )
    lines = [f"span file: {os.path.relpath(path, ROOT)} ({len(t.spans)} spans; "
             f"{by_time} jobs attributed by time, the rest by job group)"]
    lines.append(f"{'per-layer metric':<36}{'unit':>7}{'all':>14}" + "".join(f"{f:>16}" for f in families))
    for name, unit, _ in tracing.PER_LAYER:
        lines.append(
            f"{name:<36}{unit:>7}{overall[name]:>14.4g}"
            + "".join(f"{per_family[f][name]:>16.4g}" for f in families)
        )
    ref_path = os.path.join(RESULTS, f"{b.args.workload}-untraced.json")
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            ref = json.load(f)
        traced, _ = b.end_to_end(0.0)
        parts = [
            f"{k} {traced[k] / ref[k] - 1:+.1%}"
            for k in ("op_p50_norm_s", "op_tail_norm_s", "ops_per_min_norm")
            if ref.get(k)
        ]
        lines.append("tracing overhead vs the last untraced run: " + ", ".join(parts))
    else:
        lines.append("tracing overhead: no untraced run of this workload in this checkout yet")
    return overall, lines


if __name__ == "__main__":
    sys.exit(main())
