"""Closed-loop benchmark of abs-log-spark; see README.md beside this file.

    python3 perfbench/run.py --workload pipeline_increment --seed 1 --seconds 10 --trace 0

Run from the repository root. One client process drives one operation at a
time on ``local[N]``, N = the cores this process may run on. The last line of
stdout is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. The lines
before it stamp the host and give the figures that are not contract metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
#: the driver JVM's heap: ample for these inputs, and fixed so peak_rss_mb
#: does not follow the engine's 8g default into a shared host's memory
DRIVER_MEM = "2g"


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _now() -> float:
    return time.monotonic()


# -- host ----------------------------------------------------------------------
def host_stamp() -> dict:
    """Where these numbers come from; a number without this stamp, or with
    another host's or commit's, is not comparable."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=60).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = None
    try:  # the checkout may not be a git repository: do not look above it
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=60, env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for sub in ("abs_log_spark", "jobs"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, sub))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    digest.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        digest.update(f.read())
    import pyspark

    return {
        "cores": CORES, "ram_gb": round(mem_kb / 2**20, 1), "spark": pyspark.__version__,
        "java": java, "python": platform.python_version(), "commit": commit,
        "source_sha256": digest.hexdigest()[:16],
    }


# -- processes -----------------------------------------------------------------
class Session:
    """The Spark session and the JVM behind it, which ``close`` ends."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self):
        from abs_log_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench", master=f"local[{CORES}]",
            extra_confs={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                # keep the JVM's scratch (and its perf-data file) in the
                # checkout; a heap sized once, not grown op by op, so that
                # peak_rss_mb follows the program rather than heap sizing
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
            },
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _stats() -> dict[int, list[str]]:
    """The fields of /proc/<pid>/stat after the command name, by pid."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    out[int(pid)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                pass
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> set[int]:
    """``root`` and every process below it."""
    parent = {pid: int(st[1]) for pid, st in stats.items()}
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``, every process below it and their
    ended children: this process, the driver JVM it starts and the Python
    workers the JVM forks. Time the host gave to other guests is not in it."""
    stats = _stats()
    ticks = sum(
        sum(int(x) for x in stats[pid][11:15]) for pid in _tree(root, stats) if pid in stats
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and every process below it (the driver JVM
    and the Python workers it forks), read from /proc."""
    total = 0
    for pid in _tree(root, _stats()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


def _steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far: time the hypervisor
    gave this VM's CPUs to someone else shows as steal."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class RssSampler(threading.Thread):
    """Peak of :func:`_tree_rss` while ``on`` (the timed operations)."""

    def __init__(self, root: int, every: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.every = root, every
        self.on = False
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.every):
            if self.on:
                self.peak = max(self.peak, _tree_rss(self.root))

    def halt(self) -> None:
        self._halt.set()
        self.join()


# -- tracing -------------------------------------------------------------------
def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def install_spans(tr) -> None:
    """Wrap the eager layer functions a workload reaches indirectly."""
    from abs_log_spark.catalog import Catalog
    from abs_log_spark.plans import checkpoint as ckpt, pipeline as pipe

    write = Catalog.write

    def traced_write(cat, df, table, *a, **kw):
        before = _files(cat.path(table))
        with tr.span("catalog.write"):
            write(cat, df, table, *a, **kw)
        new = [s for p, s in _files(cat.path(table)).items() if p not in before]
        tr.tally("catalog.files_written", len(new))
        tr.tally("catalog.bytes_written", sum(new))

    tr.patch(Catalog, "write", traced_write)
    tr.wrap(Catalog, "promote_partitions", "catalog.promote")
    tr.wrap(Catalog, "promote_sink_tables", "catalog.promote")
    tr.wrap(ckpt, "mark_done", "checkpoint")
    tr.wrap(pipe, "compact_partials", "aggregate.compact")
    tr.wrap(pipe, "rebuild_summaries", "aggregate.rebuild")
    tr.wrap(pipe, "subtract_compacted", "retention.subtract")


def traced_layers(tr, wl, spark, res: dict, wall: float) -> dict[str, float]:
    """Per-layer metrics of one traced operation, then its prefix cuts."""
    from spans import COUNTER_SPANS, COUNTERS

    op_counters = tr.collect()
    out = dict(tr.tallies)
    out["trace.unattributed_s"] = wall - tr.covered()
    out.update(wl.layer_metrics(res, tr))
    tr.begin()
    cuts = wl.trace_extra(spark, tr)
    cut_counters = tr.collect()
    out.update(wl.cut_metrics(cuts, cut_counters, res))

    by_layer: dict[str, dict[str, float]] = {}
    for name, acc in op_counters.items():
        layer = by_layer.setdefault(name.split(".")[0], {})
        for k, v in acc.items():
            layer[k] = layer.get(k, 0.0) + v
    prefix = ("sources", "parse", "enrich")  # each cut holds the one before
    prev: dict[str, float] = {}
    for name in prefix:
        if name in cut_counters:
            acc = cut_counters[name]
            by_layer[name] = {k: v - prev.get(k, 0.0) for k, v in acc.items()}
            prev = acc
    for name, acc in cut_counters.items():
        if name not in prefix:
            layer = by_layer.setdefault(name.split(".")[0], {})
            for k, v in acc.items():
                layer[k] = layer.get(k, 0.0) + v
    for layer in COUNTER_SPANS:
        for k in COUNTERS:
            out[f"{layer}.{k}"] = by_layer.get(layer, {}).get(k, 0.0)
    return out


# -- the run -------------------------------------------------------------------
def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(args, spec: dict, work: str) -> dict:
    from spans import NULL, Tracer
    from workloads import WORKLOADS

    t_start = _now()
    wl = WORKLOADS[args.workload](work, args.seed)
    sess = Session(work)
    try:
        # set-up: JVM launch and session start, input staging, warm-up; the
        # checks' own preparation between them is not timed
        t0 = _now()
        spark = sess.start()
        wl.stage()
        staged = _now() - t0
        t0 = _now()
        wl.prepare()
        oracle = _now() - t0
        t0 = _now()
        wl.warm_up(spark)
        warm = _now() - t0
        setup_s = staged + warm

        tracer = Tracer(spark) if args.trace else None
        sampler = RssSampler(sess.jvm_pid)
        sampler.start()
        walls, cpus, traced_walls, rates, extras, layers = [], [], [], [], [], []
        op_walls, op_rss, op_steal, op_cpu = [], [], [], []
        attempted = failed = 0
        last_ok = False
        t_end = _now() + args.seconds
        try:
            while True:
                # a traced run alternates untraced and traced operations, so
                # the two see the same host and give the tracing overhead
                traced = bool(args.trace) and attempted % 2 == 1
                wl.before_op()
                tr = NULL
                if traced:
                    tracer.begin()
                    install_spans(tracer)
                    tr = tracer
                sampler.peak = 0
                sampler.on = True
                steal0 = _steal_ticks()
                cpu0 = _tree_cpu_s(os.getpid())
                t0 = _now()
                try:
                    res = wl.op(spark, tr)
                    errs = []
                except Exception as e:  # an operation that raises counts as failed
                    traceback.print_exc()
                    res, errs = None, [f"raised {e!r}"]
                wall = _now() - t0
                steal1 = _steal_ticks()
                op_cpu.append(_tree_cpu_s(os.getpid()) - cpu0)
                sampler.on = False
                op_rss.append(sampler.peak / 2**20)
                op_steal.append((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
                if traced:
                    tracer.unwrap()
                attempted += 1
                errs = errs or wl.check(res)
                if traced and not errs:
                    try:
                        layers.append(traced_layers(tracer, wl, spark, res, wall))
                        traced_walls.append(wall)
                    except Exception as e:  # a failed cut fails its operation
                        traceback.print_exc()
                        errs = [f"trace raised {e!r}"]
                last_ok = not errs
                if errs:
                    failed += 1
                    print(f"op {attempted} failed: {errs}", file=sys.stderr)
                elif not traced:
                    walls.append(wall)
                    cpus.append(op_cpu[-1])
                    rates.append(wl.rows_per_s(res, wall))
                    extras.append(wl.e2e_extras(res))
                op_walls.append(round(wall, 3))
                if _now() >= t_end and (not args.trace or attempted >= 2):
                    break
        finally:
            sampler.halt()
        final_errs = wl.final_check() if last_ok else []
        if final_errs:
            failed += 1
            print(f"final check failed: {final_errs}", file=sys.stderr)
        per_layer = {
            key: _median([d.get(key, 0.0) for d in layers])
            for key in sorted({k for d in layers for k in d})
        }
        if layers:
            try:
                per_layer.update(wl.trace_once(spark, per_layer))
            except Exception as e:  # a failed traced check fails the run
                traceback.print_exc()
                failed += 1
                print(f"traced check failed: {e!r}", file=sys.stderr)
    finally:
        sess.close()

    e2e = {
        "setup_s": setup_s,
        "wall_s": _median(walls),
        "cpu_s": _median(cpus),
        "rows_per_s": _median(rates),
        "peak_rss_mb": max(op_rss),
    }
    for key in sorted({k for e in extras for k in e}):
        e2e[key] = _median([e[key] for e in extras if key in e])
    e2e["failed_ops_ratio"] = failed / attempted
    if args.trace:
        per_layer["trace.overhead_s"] = _median(traced_walls) - _median(walls)
        # wall figures spread too much on a shared host to gate on; they
        # are reported here, from the run's untraced operations
        per_layer["wall_s"] = e2e["wall_s"]
        per_layer["rows_per_s"] = e2e["rows_per_s"]
        metrics = per_layer
        group = "per_layer"
    else:
        metrics = e2e
        group = "end_to_end"
    return {
        "timeline": {"staged_s": round(staged, 3), "oracle_s": round(oracle, 3),
                     "warm_up_s": round(warm, 3),
                     "ops_s": op_walls, "ops_rss_mb": [round(r) for r in op_rss],
                     "ops_steal_share": [round(x, 3) for x in op_steal],
                     "ops_cpu_s": [round(x, 2) for x in op_cpu],
                     "process_s": round(_now() - t_start, 3)},
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec[group]
        },
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "abs_log_spark")):
        print(f"perfbench: no abs_log_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import the engine: the path must be in their
    # environment, which they inherit from the JVM this process starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(1, ROOT)
    try:
        host = host_stamp()
        print("host: " + json.dumps(host))
        out = measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e = out.pop("e2e")
    timeline = out.pop("timeline")
    print("timeline: " + json.dumps(timeline))
    print(f"{args.workload} seed={args.seed} end-to-end (untraced): " + ", ".join(
        f"{k}={v:.4g}" for k, v in e2e.items()))
    os.makedirs(os.path.join(ROOT, ".perfbench_results"), exist_ok=True)
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    with open(os.path.join(ROOT, ".perfbench_results", stamp + ".json"), "w") as f:
        json.dump({"host": host, "args": vars(args), "timeline": timeline, "end_to_end": e2e, **out}, f, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
