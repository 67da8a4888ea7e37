"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process per run: it makes the seeded
inputs (cached per workload, seed and size), computes the expected
answers with DuckDB, builds a session with ``get_spark()`` at
``local[<cores>]`` and registers the inputs (that is set-up), runs one
cold pass of the workload's ops, then warm passes in a closed loop with
one client: ``--seconds`` of warm passes at the workload's nominal
pass time. Every op's output is
checked. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
print every end-to-end metric by name and unit.

With ``--trace 1`` the last warm pass and every second one before it
are traced: their spans, the
AQE-final plans of the DataFrames it executed and its task metrics are
kept, and the per-layer metrics are printed instead of the end-to-end
ones. The per-layer JSON (tagged with git SHA, core count and seed) and
the raw spans are written under ``.perfbench/trace/``. Untraced and
traced passes interleave, so their difference is the tracing overhead.

A run stops every process it started, and waits for each, before it
prints its result or exits.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile, n). Below eleven samples no percentile has ten
    above it; then the maximum (percentile 100) is reported, so a slow
    op is never hidden."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 11) / n, n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def proc_stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name (state,
    parent pid, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants() -> set[tuple[int, str]]:
    """Every live process under this one: the driver JVM, the Python
    worker daemon and its workers. Each is (pid, start time), so that a
    reused pid is never mistaken for one of ours."""
    children: dict[int, list[tuple[int, str]]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        stat = proc_stat(int(pid))
        if stat and stat[0] != "Z":
            children.setdefault(int(stat[1]), []).append((int(pid), stat[19]))
    out, todo = set(), [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child[0])
    return out


def alive(proc: tuple[int, str]) -> bool:
    stat = proc_stat(proc[0])
    return stat is not None and stat[0] != "Z" and stat[19] == proc[1]


def peak_rss_mb() -> float:
    """Kernel peak RSS (VmHWM) of every process under this one."""
    total_kb = 0
    for pid, _ in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def stop_processes(spark) -> None:
    """Stop the session and its JVM, then every process this run started
    (the Python worker daemon and its workers among them), and wait until
    each has ended. Whatever has not ended after a grace period is killed."""
    procs = descendants()
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # the JVM is stopped below either way
            traceback.print_exc()
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            try:
                jvm.stdin.close()  # the JVM exits when its stdin closes
                jvm.wait(timeout=20)
            except Exception:
                jvm.kill()
                jvm.wait()
    procs |= descendants()
    deadline = time.monotonic() + 10
    while any(alive(p) for p in procs):
        if time.monotonic() > deadline:
            for pid, _ in filter(alive, procs):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        reap()
        time.sleep(0.05)
    reap()


def reap() -> None:
    """Collect every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Runner:
    """Times one workload's ops: a cold pass, then warm passes."""

    def __init__(self, workload, seconds: float, traced: bool):
        self.w, self.seconds, self.traced = workload, seconds, traced
        self.attempted = self.failed = 0
        self.ops: list[dict] = []  # every timed op: name, kind, rows, s, pass, traced

    def time_op(self, op, pass_no: int, traced: bool) -> bool:
        tracer = self.w.tracer
        op_id = f"p{pass_no}.{op.name}"
        self.w.spark.sparkContext.setJobGroup(op_id, op_id)
        tracer.active, tracer.op = traced, op_id
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                ok = op.run()
        except Exception:  # an op that raises counts as failed; stop the loop
            traceback.print_exc()
            ok = None
        dt = time.perf_counter() - t0
        tracer.active = False
        self.attempted += 1
        self.failed += ok is not True
        self.ops.append({"name": op.name, "kind": op.kind, "rows": op.rows, "s": dt,
                         "pass": pass_no, "traced": traced, "id": op_id})
        return ok is not None

    def warm_passes(self) -> int:
        """``--seconds`` of warm passes at the workload's nominal pass
        time. The count, not the clock, ends the run, so two commits are
        always measured on the same ops (a traced run needs two: one
        untraced, one traced)."""
        n = max(1, math.ceil(self.seconds / self.w.PASS_S - 1e-9))
        return max(n, 2) if self.traced else n

    def run(self) -> None:
        passes = self.w.passes()
        for op in next(passes):  # pass 0: every op's first, cold invocation
            if not self.time_op(op, 0, False):
                return
        n = self.warm_passes()
        for k in range(1, n + 1):
            # the last pass is traced (the compacting one on
            # replication_ingest), then every second one before it
            traced = self.traced and (n - k) % 2 == 0
            for op in next(passes):
                if not self.time_op(op, k, traced):
                    return

    def select(self, *, kind: str | None = None, warm: bool = True,
               traced: bool | None = None):
        return [o for o in self.ops
                if (kind is None or o["kind"] == kind) and (o["pass"] > 0) == warm
                and traced in (None, o["traced"])]


def end_to_end(r: Runner, setup_s: float) -> dict[str, tuple[float, str]]:
    """Every end-to-end metric that applies to the workload."""
    cold = r.select(warm=False)
    reads = [o["s"] for o in r.select(kind="read")]
    writes = [o["s"] for o in r.select(kind="write")]
    warm = r.select()
    out = {
        "setup_s": (setup_s, "s"),
        "first_read_s": (sum(o["s"] for o in cold), "s"),
        "read_p50_s": (median(reads), "s"),
        "read_tail_s": (tail(reads)[0] if reads else 0.0, "s"),
        "rows_per_s": (sum(o["rows"] for o in warm) / max(sum(o["s"] for o in warm), 1e-9),
                       "rows/s"),
        "failed_ratio": (r.failed / max(r.attempted, 1), "ratio"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
    }
    if writes:
        out["write_p50_s"] = (median(writes), "s")
        out["write_tail_s"] = (tail(writes)[0], "s")
    return out


def per_layer(r: Runner, w, spark, build_s: float, e2e: dict) -> dict[str, float]:
    """The per-layer metrics: per traced pass, summed over its ops, then
    the median over traced passes. Layers a workload never calls read 0."""
    from perfbench import trace
    from perfbench.workloads import NeardupDedup

    GATES = NeardupDedup.GATES
    t = w.tracer
    passes = sorted({o["pass"] for o in r.ops if o["traced"]})
    per_pass: list[dict[str, float]] = []
    for p in passes:
        ops = [o for o in r.ops if o["pass"] == p]
        ids = [o["id"] for o in ops]
        recs = [rec for rec in w.records if rec.op in ids]
        nodes = [n for rec in recs for n in rec.nodes]
        m: dict[str, float] = {}

        def span(name):
            return sum(t.seconds(name, i) for i in ids)

        wall = sum(o["s"] for o in ops) - span("tracing")

        def prefix_gap(later, earlier):
            return span(f"prefix.{later}") - span(f"prefix.{earlier}")

        m["entry_queries.plan_s"] = sum(rec.plan_s for rec in recs)
        m["hexgrid.encode_s"] = prefix_gap("geotag_hex", "scan")
        gen = trace.metric_sum(nodes, "numOutputRows", {"GenerateExec"})
        hex_joins = [n for n in nodes if n.kind == "BroadcastHashJoinExec" and "hex_cell" in n.text]
        refine = [n for n in nodes if n.kind == "BroadcastHashJoinExec"
                  and "[box_id" in n.text and "hex_cell" not in n.text]
        m["hexgrid.cover_rows"] = gen if hex_joins else 0
        m["spatial_join.probe_s"] = prefix_gap("cover_join", "geotag_hex")
        builds = [n for n in nodes if n.kind == "BroadcastExchangeExec"] if hex_joins else []
        m["spatial_join.build_rows"] = trace.metric_sum(builds, "numOutputRows")
        m["spatial_join.build_bytes"] = trace.metric_sum(builds, "dataSize")
        m["spatial_join.candidates"] = trace.metric_sum(hex_joins, "numOutputRows")
        m["spatial_join.matches"] = trace.metric_sum(refine, "numOutputRows")
        m["s2.encode_s"] = prefix_gap("s2_encode", "cover_join")
        py = {"ArrowEvalPythonExec", "BatchEvalPythonExec", "MapInPandasExec",
              "FlatMapGroupsInPandasExec", "MapInArrowExec"}
        m["s2.rows"] = trace.metric_sum(
            [n for n in nodes if n.kind == "ArrowEvalPythonExec" and "_s2(" in n.text],
            "pythonNumRowsReceived")
        m["python.bytes_sent"] = trace.metric_sum(nodes, "pythonDataSent", py)
        m["python.bytes_received"] = trace.metric_sum(nodes, "pythonDataReceived", py)
        m["aggregate.s"] = prefix_gap("rollup", "s2_encode")
        m["aggregate.shuffle_write_bytes"] = trace.metric_sum(
            [n for n in nodes if n.kind == "ShuffleExchangeExec" and n.below in trace.AGGREGATES],
            "shuffleBytesWritten")
        for k, v in trace.strategy_counts(nodes).items():
            m[f"plans.{k}"] = v
        stages = {k: 0.0 for k in trace.STAGE_FIELDS}
        for o in ops:
            totals = trace.stage_totals(spark, o["id"])
            for k, v in totals.items():
                stages[k] += v
            if o["name"] in GATES:
                m[f"entry_queries.{o['name']}.task_s"] = totals["task_s"]
        for k, v in stages.items():
            m[f"spark.{k}"] = v
        m["spark.core_busy_ratio"] = stages["task_s"] / max(wall * cores(), 1e-9)
        m["xml_ingest.parse_s"] = span("xml_ingest.parse")
        m["replication.fetch_s"] = span("replication.fetch")
        m["replication.watermark_s"] = sum(t.self_seconds("replication.replicate", i) for i in ids)
        for name in ("merge", "delete_keys", "append", "compact", "read"):
            m[f"snapstore.{name}_s"] = sum(t.self_seconds(f"snapstore.{name}", i) for i in ids)
        for rec in recs:
            for k, v in rec.counts.items():
                m[k] = m.get(k, 0) + v
        per_pass.append(m)

    keys = sorted({k for m in per_pass for k in m})
    out = {k: median([m.get(k, 0.0) for m in per_pass]) for k in keys}
    out["hexgrid.cover_cells_per_box"] = (
        out["hexgrid.cover_rows"] / w.N_CUSTOMERS if out.get("hexgrid.cover_rows") else 0.0)
    out["spatial_join.refine_hit_ratio"] = (
        out["spatial_join.matches"] / out["spatial_join.candidates"]
        if out.get("spatial_join.candidates") else 0.0)
    for fam in ("phash", "minhash", "simhash", "embed"):
        cand = out.setdefault(f"dedup.candidates.{fam}", 0.0)
        pairs = out.setdefault(f"dedup.pairs.{fam}", 0.0)
        out[f"dedup.candidate_precision.{fam}"] = pairs / cand if cand else 0.0
    out.setdefault("xml_ingest.rows", 0.0)
    out.setdefault("snapstore.deltas_per_read", 0.0)
    for name in GATES:
        out[f"entry_queries.{name}_s"] = median(
            [o["s"] for o in r.select(traced=False) if o["name"] == name])
        out.setdefault(f"entry_queries.{name}.task_s", 0.0)
    out["session.build_s"] = build_s
    # per op: fastest traced minus fastest untraced run, so that a
    # compaction spike in either set does not pass for tracing cost
    names = {o["name"] for o in r.select(traced=True)}
    fastest = {t: {n: min(o["s"] for o in r.select(traced=t) if o["name"] == n) for n in names}
               for t in (False, True)}
    base = sum(fastest[False].values())
    out["trace.overhead_s"] = sum(fastest[True].values()) - base
    out["trace.overhead_ratio"] = out["trace.overhead_s"] / base if base else 0.0
    # run-level numbers that BENCHMARK.json keeps per-layer
    for name in ("peak_rss_mb", "read_tail_s", "write_p50_s", "write_tail_s", "failed_ratio",
                 "write_amp", "space_amp", "snapstore.compactions", "snapstore.files_written",
                 "snapstore.bytes_written"):
        out[name] = e2e.get(name, (0.0, ""))[0]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a run stopped by SIGTERM still stops its processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        from perfbench import trace, workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the repository root",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = os.path.join(STATE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the program; Spark, the JVM and Python keep
    # their scratch files inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")

    from changesetmd_spark.session import get_spark

    n_cores = cores()
    build = {}

    def spark_factory():
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{n_cores}]", warmup=False,
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        build["s"] = time.perf_counter() - t0
        return spark

    tracer = trace.Tracer()
    w = workloads.WORKLOADS[args.workload](
        spark_factory, os.path.join(STATE, "cache"), os.path.join(tmp, "work"), args.seed, tracer)
    spark = None
    try:
        t = time.perf_counter()
        w.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        w.expect()
        oracle_s = time.perf_counter() - t
        w.register()
        spark = w.spark
        setup_s = time.perf_counter() - T_START - gen_s - oracle_s
        r = Runner(w, args.seconds, bool(args.trace))
        r.run()
        try:
            finals = w.final_checks()
        except Exception:  # a check that cannot run counts as failed
            traceback.print_exc()
            finals = [False]
        r.attempted += len(finals)
        r.failed += sum(not ok for ok in finals)
        e2e = end_to_end(r, setup_s)
        e2e.update(w.extra_metrics())
        layers = per_layer(r, w, spark, build["s"], e2e) if args.trace else {}
    finally:
        stop_processes(w.spark)
        shutil.rmtree(tmp, ignore_errors=True)

    reads = [o["s"] for o in r.select(kind="read")]
    writes = [o["s"] for o in r.select(kind="write")]
    print(f"workload {w.name}: {w.why}")
    print(f"seed {args.seed}  cores {n_cores}  gen_s {gen_s:.3f}  oracle_s {oracle_s:.3f}  "
          f"ops {r.attempted}  failed {r.failed}")
    for o in r.ops:
        print(f"op pass={o['pass']} {o['name']} {o['kind']} {o['s']:.4f} s"
              f"{' traced' if o['traced'] else ''}")
    for label, xs in (("read", reads), ("write", writes)):
        if xs:
            v, pct, n = tail(xs)
            print(f"{label}_tail: p{pct:.1f} of n={n} samples = {v:.4f} s")
    for name, (value, unit) in sorted(e2e.items()):
        print(f"metric {name} {value!r} {unit}")

    if args.trace:
        metrics = write_trace(args, w, n_cores, layers)
    else:
        metrics = {k: e2e[k] for k in declared("end_to_end")}
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def declared(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def write_trace(args, w, n_cores: int, layers: dict[str, float]) -> dict[str, tuple[float, str]]:
    units = declared("per_layer")
    missing = sorted(set(units) - set(layers))
    if missing:
        raise RuntimeError(f"traced run did not produce {missing}")
    out_dir = os.path.join(STATE, "trace")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{w.name}-seed{args.seed}")
    doc = {"workload": w.name, "git_sha": git_sha(), "nproc": n_cores, "seed": args.seed,
           "seconds": args.seconds,
           "metrics": {k: {"value": layers[k], "unit": units[k]} for k in sorted(units)}}
    with open(f"{stem}.layers.json", "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(f"{stem}.spans.json", "w") as f:
        json.dump(w.tracer.to_json(), f)
    print(f"trace written to {stem}.layers.json and {stem}.spans.json")
    return {k: (layers[k], units[k]) for k in sorted(units)}


if __name__ == "__main__":
    sys.exit(main())
