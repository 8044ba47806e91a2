"""gos2_spark benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload pip_staged --seed 1 --seconds 8 --trace 0

Workloads: pip_staged, pip_geoparse (perfbench/pipjoin.py) and registry_heavy
(perfbench/registry.py). A run builds the workload's coverings, starts
one Spark session (local[nproc]), prepares its inputs, warms its ops up
until steady, then runs passes over its ops for ``--seconds`` and checks
every op's output. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
from a traced run (``--trace 1``, which also writes a spans file).
Caches, Spark scratch space and spans live in ``.perfbench_cache/`` at the
root of the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
# Session sizing, passed through get_spark's arguments and environment.
DRIVER_MEM = "3g"
SHUFFLE_PER_CPU = 2
# Warm-up rule: WARM_OPS untimed ops (whole passes) before the timed
# window; op times fall by 30-60 % over the first five. A fixed count
# rather than "until the last three agree within 10 %", so that every run
# times the same stretch of the JIT's curve and spends the same set-up
# time: that adaptive rule ended after 6 to 14 pip_geoparse ops, and the
# op medians of ten runs spread by 18 % and their setup_s by 22 %
# (IQR/median). Warming up for at least 20 s as well made pip_staged runs
# 6 s longer and left their spread where it was (15 %).
WARM_OPS = 6

# The end-to-end metrics of the result line. op_s_tail is printed with its
# percentile and n but is not one of them: an 8-s run holds 2-9 ops, too
# few for a percentile above the median with ten samples beyond it.
END_TO_END = ("setup_s", "rows_per_s", "op_s_p50", "pass_s", "ok_ratio",
              "peak_rss_mb")
UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_s_p50": "s",
         "pass_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB"}


def _age_at_import() -> float:
    """Seconds from this process's start (kernel start time, in clock
    ticks) to now."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_T_IMPORT = time.perf_counter()
_AGE_AT_IMPORT = _age_at_import()


def _process_age_s() -> float:
    """Seconds since this process started."""
    return _AGE_AT_IMPORT + time.perf_counter() - _T_IMPORT


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to others, all CPUs, since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants, summed, and the
    peaks of two parts of it: the JVM alone and the Python workers the JVM
    forks. The JVM's share is mostly its pre-touched heap (``-Xms`` equals
    the driver memory), a constant set by the session sizing; the workers'
    share moves with the engine's UDF batches."""

    def __init__(self, period: float = 1.0):
        super().__init__(daemon=True)
        self.period = period
        self.peak = {"total": 0, "jvm": 0, "workers": 0}
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        except (OSError, ValueError, IndexError):
            return 0

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    head, rest = fh.read().rsplit(")", 1)
                ppid = int(rest.split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
            comm[int(d)] = head.split("(", 1)[1]
        part = {"total": 0, "jvm": 0, "workers": 0}
        todo = [(os.getpid(), False)]
        while todo:
            pid, under_jvm = todo.pop()
            rss = self._rss(pid)
            is_jvm = comm.get(pid) == "java"
            part["total"] += rss
            if is_jvm:
                part["jvm"] += rss
            elif under_jvm:
                part["workers"] += rss
            todo.extend((c, under_jvm or is_jvm) for c in children.get(pid, ()))
        for k, v in part.items():
            self.peak[k] = max(self.peak[k], v)

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.period)

    def stop(self) -> dict[str, float]:
        """Peaks in MB: ``total``, ``jvm`` and ``workers``."""
        self._halt.set()
        self.join()
        self._sample()
        return {k: v / 2**20 for k, v in self.peak.items()}


def _heap_peaks_mb(spark) -> dict[str, float]:
    """Peak used bytes of each JVM heap pool since start, in MB, by pool
    name (G1: eden, survivor, old gen)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {str(p.getName()): p.getPeakUsage().getUsed() / 2**20
            for p in mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"}


class Context:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.cpus = len(os.sched_getaffinity(0))
        self.cache_dir = CACHE
        self.scratch_dir = os.path.join(CACHE, "scratch")
        self.engine_key = _engine_key()
        self.spark = None

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.workload}] {msg}", file=sys.stderr, flush=True)


def _engine_key() -> str:
    """Hash of the engine sources and the benchmark's input builders: a
    cached engine-produced input is rebuilt whenever either changes."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "perfbench", "pipjoin.py")]
    for d, _, fns in os.walk(os.path.join(ROOT, "gos2_spark")):
        files += [os.path.join(d, f) for f in fns if f.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _environment(ctx: Context) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size the session."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local, ctx.scratch_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": ROOT,
        # one string-hash layout in every Python worker
        "PYTHONHASHSEED": "0",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    })


def _start_session(ctx: Context):
    from gos2_spark.spark.session import get_spark

    ctx.conf = {
        "master": f"local[{ctx.cpus}]",
        "shuffle_partitions": SHUFFLE_PER_CPU * ctx.cpus,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    }
    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=ctx.conf["master"],
        shuffle_partitions=ctx.conf["shuffle_partitions"],
        extra_conf={
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
            # keep every job and stage of a run for the traced harvest
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _run_pass(ops, tracer, deadline=None, done=None):
    """Run one pass; return [(name, seconds, result_or_exception)]. With a
    ``deadline``, stop before an op that would start after it, once
    ``done`` complete passes exist."""
    out = []
    for name, fn in ops:
        if deadline is not None and done and time.perf_counter() >= deadline:
            break
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op:{name}"):
                res = fn(tracer)
        except Exception as e:  # noqa: BLE001 - a raising op counts as failed
            res = e
        out.append((name, time.perf_counter() - t0, res))
    return out


def _warm_up(ctx, ops, notrace, done: int) -> list[float]:
    """Untimed passes by the warm-up rule, counting ``done`` passes the
    workload's set-up already ran; returns their seconds."""
    times: list[float] = []
    while (done + len(times)) * len(ops) < WARM_OPS:
        p = _run_pass(ops, notrace)
        for name, _, res in p:
            if isinstance(res, Exception):
                ctx.log(f"warm-up {name} raised {res!r}")
        times.append(sum(t for _, t, _ in p))
    return times


def _tail(xs: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile that still has at
    least ``beyond`` samples above it: the (n - beyond)-th smallest sample,
    at percentile 100 * (n - beyond) / n. None unless that percentile is
    above the median, i.e. with fewer than 2 * beyond + 1 samples."""
    s = sorted(xs)
    k = len(s) - beyond
    if 2 * k <= len(s):
        return None
    return s[k - 1], 100.0 * k / len(s)


def _kernel_rates() -> dict[str, float]:
    """In-process throughput of the refine and cell-id kernels on a fixed
    batch (median of 5)."""
    import numpy as np

    from gos2_spark.geometry import Loop
    from gos2_spark.kernels import predicates as PR
    from gos2_spark.kernels import projection as PJ

    rng = np.random.default_rng(0)
    n = 200_000
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lng = rng.uniform(-180, 180, n)
    loop = Loop.regular(10.0, 20.0, 30.0, 16)
    verts = loop.vertices_array()
    x, y, z = PJ.latlng_to_xyz(np.radians(lat), np.radians(lng))
    pts = np.stack([x, y, z], axis=1)

    def rate(fn):
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return n / statistics.median(ts)

    return {
        "kernels.contains_pts_per_s": rate(
            lambda: PR.contains_points_in_loop(pts, verts, loop.origin_inside)),
        "kernels.cellid_pts_per_s": rate(
            lambda: PJ.cellid_from_latlng(lat, lng)),
    }


def per_layer_names() -> list[str]:
    """Every per-layer metric, in print order; a workload that does not
    exercise a layer reports 0 for it."""
    from perfbench.registry import QUERIES

    names = [
        "session.start_s", "pages.synth_s", "pages.geoparse_s",
        "source.stage_write_s", "source.scan_s", "source.row_groups_total",
        "source.row_groups_read", "source.prune_ratio",
        "cover.tileset_build_s", "cover.cells",
        "joins.candidates_s", "joins.candidate_rows", "joins.output_rows",
        "joins.refine_yield", "kernels.refine_rows",
        "kernels.contains_pts_per_s", "kernels.cellid_pts_per_s",
        "driver.build_s", "driver.build_jobs", "driver.action_s",
        "driver.action_jobs",
    ]
    for q, _ in QUERIES:
        names += [f"registry_heavy.{q}.build_s", f"registry_heavy.{q}.action_s",
                  f"registry_heavy.{q}.jobs"]
    names += [
        "exchange.shuffle_read_bytes", "exchange.shuffle_write_bytes",
        "exchange.spill_bytes", "scheduler.jobs", "scheduler.stages",
        "scheduler.tasks", "scheduler.failed_tasks", "memory.jvm_rss_mb",
        "memory.worker_rss_mb", "memory.old_gen_peak_mb", "trace.overhead_ratio",
    ]
    return names


def _layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("pts_per_s"):
        return "pts/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf in ("prune_ratio", "refine_yield", "overhead_ratio"):
        return "ratio"
    return "count"


def _traced_layers(tracer, timed) -> dict[str, float]:
    """Driver, per-query, exchange and scheduler numbers from the traced
    ops' spans (median per op), and the tracing overhead."""
    out: dict[str, float] = {}
    ops = [s for s in tracer.spans if s["name"].startswith("op:")]

    def child(op, name):
        return next(s for s in tracer.spans
                    if s["parent"] == op["id"] and s["name"] == name)

    def med(vals):
        return statistics.median(vals) if vals else 0.0

    builds = [child(o, "build") for o in ops]
    actions = [child(o, "action") for o in ops]
    out["driver.build_s"] = med([b["end"] - b["start"] for b in builds])
    out["driver.build_jobs"] = med([b["counts"]["jobs"] for b in builds])
    out["driver.action_s"] = med([a["end"] - a["start"] for a in actions])
    out["driver.action_jobs"] = med([a["counts"]["jobs"] for a in actions])
    for q in {o["name"][3:] for o in ops} - {"pip"}:
        mine = [o for o in ops if o["name"] == f"op:{q}"]
        out[f"registry_heavy.{q}.build_s"] = med(
            [child(o, "build")["end"] - child(o, "build")["start"] for o in mine])
        out[f"registry_heavy.{q}.action_s"] = med(
            [child(o, "action")["end"] - child(o, "action")["start"] for o in mine])
        out[f"registry_heavy.{q}.jobs"] = med([tracer.total(o, "jobs") for o in mine])
    for key, name in (("shuffle_read_bytes", "exchange.shuffle_read_bytes"),
                      ("shuffle_write_bytes", "exchange.shuffle_write_bytes"),
                      ("spill_bytes", "exchange.spill_bytes"),
                      ("jobs", "scheduler.jobs"), ("stages", "scheduler.stages"),
                      ("tasks", "scheduler.tasks")):
        out[name] = med([tracer.total(o, key) for o in ops])
    out["scheduler.failed_tasks"] = sum(tracer.total(o, "failed_tasks") for o in ops)
    traced = [t for t, is_traced in timed if is_traced]
    untraced = [t for t, is_traced in timed if not is_traced]
    out["trace.overhead_ratio"] = med(traced) / med(untraced)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pip_staged", "pip_geoparse", "registry_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # import from the checkout root, not from this script's directory
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != os.path.dirname(
                                os.path.abspath(__file__))]
    try:
        import gos2_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(gos2_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: gos2_spark does not come from this checkout",
              file=sys.stderr)
        return 2

    from perfbench.pipjoin import LAYOUTS, PipWorkload
    from perfbench.registry import RegistryWorkload
    from perfbench.tracing import Tracer

    ctx = Context(args)
    _environment(ctx)
    wl = (PipWorkload if args.workload in LAYOUTS else RegistryWorkload)(
        args.workload, ctx)

    wl.build_tiles()
    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    ctx.spark = spark = _start_session(ctx)
    session_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        notrace = Tracer(spark, enabled=False)
        wl.setup()
        ctx.log(f"session {session_start_s:.2f}s, inputs ready at "
                f"{_process_age_s():.2f}s")
        ops = wl.ops()
        warm = _warm_up(ctx, ops, notrace, wl.setup_passes)
        ctx.log(f"warm-up pass seconds {[round(t, 3) for t in warm]}")

        setup_s = _process_age_s()
        steal0 = _steal_s()
        timed_ops: list[tuple[str, float, object, bool]] = []
        passes: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            traced = bool(args.trace) and len(passes) % 2 == 0
            p = _run_pass(ops, tracer if traced else notrace, deadline, len(passes))
            timed_ops += [(n, t, r, traced) for n, t, r in p]
            if len(p) == len(ops):
                passes.append(sum(t for _, t, _ in p))
        ctx.log(f"host steal in the timed window: {_steal_s() - steal0:.2f} cpu-s")

        wl.prepare_check()
        oks = []
        for name, _, res, _ in timed_ops:
            ok = not isinstance(res, Exception) and wl.check(name, res)
            if not ok:
                ctx.log(f"op {name} failed: {res!r}")
            oks.append(ok)

        layers = {}
        if args.trace:
            layers.update(wl.layers(tracer))
            layers.update(_kernel_rates())
            tracer.harvest()
            layers.update(_traced_layers(
                tracer, [(t, tr) for _, t, _, tr in timed_ops]))
            layers["session.start_s"] = session_start_s
            spans_path = os.path.join(
                CACHE, f"spans-{args.workload}-seed{args.seed}.json")
            tracer.write(spans_path)
        heap_mb = _heap_peaks_mb(spark)
    finally:
        _stop_session(spark)
    rss_mb = rss.stop()
    old_gen = [v for k, v in heap_mb.items() if "Old" in k]
    layers["memory.jvm_rss_mb"] = rss_mb["jvm"]
    layers["memory.worker_rss_mb"] = rss_mb["workers"]
    layers["memory.old_gen_peak_mb"] = old_gen[0] if old_gen else 0.0

    times = [t for _, t, _, _ in timed_ops]
    attempted = len(timed_ops)
    failed = attempted - sum(oks)
    pass_s = statistics.median(passes)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": wl.rows_per_pass / pass_s,
        "op_s_p50": statistics.median(times),
        "pass_s": pass_s,
        "ok_ratio": (attempted - failed) / attempted,
        "peak_rss_mb": rss_mb["total"],
    }
    ctx.log(f"session {ctx.conf}; seed {args.seed}; {attempted} ops in "
            f"{len(passes)} passes: {[round(t, 3) for t in times]}")
    failing = sorted({n for (n, _, _, _), ok in zip(timed_ops, oks) if not ok})
    if failing:
        ctx.log(f"failing ops: {failing}")
    print("session: " + ", ".join(f"{k}={v}" for k, v in ctx.conf.items()))
    for k in END_TO_END:
        print(f"{k:<14} {e2e[k]:>16.6f} {UNITS[k]}")
    print(f"peak_rss_mb parts: JVM {rss_mb['jvm']:.0f} MB (its heap is pre-touched "
          f"to SPARK_DRIVER_MEM), Python workers {rss_mb['workers']:.0f} MB; peak "
          "heap used by pool: " + ", ".join(f"{k} {v:.0f} MB" for k, v in heap_mb.items()))
    tail = _tail(times)
    if tail is None:
        print(f"op_s_tail      {'none':>16} s (n={attempted}: no percentile above "
              "p50 has ten samples beyond it)")
    else:
        print(f"op_s_tail      {tail[0]:>16.6f} s (p{tail[1]:.0f} of n={attempted})")
    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": _layer_unit(n)}
                   for n in per_layer_names()}
        for n, m in metrics.items():
            print(f"{n:<44} {m['value']:>18.6f} {m['unit']}")
        print(f"spans: {os.path.relpath(spans_path, ROOT)}")
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
