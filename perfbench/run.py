"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One process runs one workload
as a closed loop with one client: it writes the workload's inputs from
``--seed``, starts a Spark session sized to this host, runs the
pipeline once untimed (the warm-up, checked against an independent
oracle), then repeats it back to back for ``--seconds`` seconds (at
least the workload's ``TIMED_RUNS`` times), holding every run to the
verified answer. It prints a metric table, then one JSON line as the
last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced runs (at least untraced, traced, untraced) and
reports the per-layer metrics of the traced ones; ``trace.overhead_s``
is the traced minus the untraced median run time. Every file the run
writes lives under ``.perfbench_work/`` in the checkout and is removed
on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("copurchase_seeds", "corpus_dedup")
RUN_TIMEOUT_S = 60.0  # a run still going after this is cancelled and counts as failed
PROCESS_BUDGET_S = 140.0  # no new run starts after this much process time

# printed end-to-end figures; the JSON result (BENCHMARK.json
# ``end_to_end``) carries the independent ones in GATED: a process times
# one or two runs (``Workload.TIMED_RUNS``), so ``run_s_tail`` is their
# maximum and ``items_per_s`` a fixed item count divided by ``run_s_p50``
END_TO_END = {
    "setup_s": "s", "run_s_p50": "s", "run_s_tail": "s",
    "items_per_s": "1/s", "peak_rss_mb": "MB",
}
GATED = ("run_s_p50", "peak_rss_mb", "setup_s")
# every per-layer figure a traced run measures (BENCHMARK.json ``per_layer``);
# a layer a workload bypasses reads 0 there
LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "graph.build_s": "s", "graph.relabel_s": "s", "graph.edges": "count", "graph.vertices": "count",
    "laplacian.init_s": "s", "laplacian.collect_mb": "MB",
    "embedder.ctor_s": "s", "embedder.iter_s_p50": "s", "embedder.layout_s": "s",
    "embedder.jobs_per_iter": "count", "embedder.tasks_per_iter": "count",
    "embedder.shuffle_mb_per_iter": "MB", "embedder.idle_frac": "ratio",
    "checkpoint.calls": "count", "checkpoint.s": "s",
    "influence.ic_s": "s", "influence.ic_rounds": "count",
    "analytics.pagerank_s": "s",
    "benchmark.correlation_s": "s",
    "text.token_stats_s": "s", "dedup.exact_s": "s", "dedup.minhash_s": "s", "dedup.jaccard_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "spark.busy_frac": "ratio", "spark.idle_s": "s", "spark.persistent_rdds": "count",
    "trace.overhead_s": "s",
}
# figures a workload measures with extra library calls after a traced
# run (``Workload.traced_extras``); printed, or the call's error, but not
# in the JSON result while the call can fail
EXTRA_UNITS = {"dedup.candidates": "count", "dedup.precision": "ratio"}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


# -- host sizing --------------------------------------------------------------
def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0 / 1024.0
    return 0.0


def configure_env(work: Path) -> dict:
    """Pin Spark to this host before the JVM starts: one local core per
    CPU, a driver heap that fits beside other tenants, and every
    scratch directory inside ``work``."""
    cores = host_cores()
    driver_gb = max(1, min(4, int(host_mem_gb() // 6)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        GRAPHEM_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return {"cores": cores, "mem_gb": round(host_mem_gb(), 1), "driver_mem": f"{driver_gb}g"}


# -- process memory -------------------------------------------------------------
def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reset_peak_rss() -> None:
    """Lower VmHWM of this process tree to the current RSS, so the peak
    counts the timed runs, not the warm-up run's oracle."""
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def cpu_steal() -> tuple[int, int]:
    """(stolen, total) CPU time of this machine in clock ticks, summed
    over its CPUs: stolen is time the hypervisor ran other tenants while
    a CPU of this machine had work (``/proc/stat``)."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def on_sigterm(*_) -> None:
    """Kill the JVM and its workers first: a Py4J call in flight would
    otherwise keep the teardown waiting on them."""
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    sys.exit(128 + signal.SIGTERM)


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process, the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# -- statistics -------------------------------------------------------------------
def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile
    with at least ten samples above it; with ten or fewer samples no
    percentile qualifies and the maximum is reported."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


# -- run isolation ----------------------------------------------------------------
def persistent_rdds(sc) -> dict:
    return dict(sc._jsc.getPersistentRDDs())


def release_run(spark, keep: set) -> int:
    """Free everything a run left persisted or checkpointed; returns how
    many persistent RDDs it left behind."""
    from graphem_rapids_spark import queries as Q

    Q._COPURCHASE_CACHE.clear()
    left = persistent_rdds(spark.sparkContext)
    for rid, rdd in left.items():
        if rid not in keep:
            rdd.unpersist(True)
    spark.catalog.clearCache()
    return len([r for r in left if r not in keep])


# -- per-layer figures of one traced run ------------------------------------------------
def layer_figures(tr, root: int, out: dict, n_rdds: int) -> tuple[dict, dict]:
    """Every per-layer figure of one traced run (``LAYER_UNITS``), and
    the run's span record for the span table."""
    from graphem_rapids_spark.session import DRIVER_EIG_MAX_VERTICES

    rec = tr.collect_run(root)
    ids, work = rec["run_ids"], rec["work"]

    def total(name: str) -> float:
        return sum(tr.spans[i].wall for i in tr.named(ids, name, outermost=True))

    f: dict[str, float] = {}
    f["graph.build_s"] = total("graph.build")
    f["graph.relabel_s"] = total("graph.relabel")
    f["graph.edges"] = float(out.get("m", 0))
    f["graph.vertices"] = float(out.get("n", 0))
    f["laplacian.init_s"] = total("laplacian.init")
    driver_eig = tr.named(ids, "laplacian.init") and out.get("n", 0) <= DRIVER_EIG_MAX_VERTICES
    # the driver eigensolve collects every edge as two 8-byte ids
    f["laplacian.collect_mb"] = 16.0 * out.get("m", 0) / 1e6 if driver_eig else 0.0
    f["embedder.ctor_s"] = total("embedder.ctor")
    iters = tr.named(ids, "embedder.update_positions")
    walls = [tr.spans[i].wall for i in iters]
    f["embedder.iter_s_p50"] = statistics.median(walls) if walls else 0.0
    f["embedder.layout_s"] = sum(walls)
    if iters:
        sub = set().union(*(tr.subtree(i) for i in iters))
        w = work(sub)
        f["embedder.jobs_per_iter"] = w["jobs"] / len(iters)
        f["embedder.tasks_per_iter"] = w["tasks"] / len(iters)
        f["embedder.shuffle_mb_per_iter"] = w["shuffle_write_mb"] / len(iters)
        f["embedder.idle_frac"] = w["idle_s"] / w["wall"] if w["wall"] else 0.0
    else:
        f.update({k: 0.0 for k in ("embedder.jobs_per_iter", "embedder.tasks_per_iter",
                                   "embedder.shuffle_mb_per_iter", "embedder.idle_frac")})
    ck = tr.named(ids, "checkpoint.", outermost=True)
    f["checkpoint.calls"] = float(len(ck))
    f["checkpoint.s"] = sum(tr.spans[i].wall for i in ck)
    f["influence.ic_s"] = total("influence.estimated_influence")
    ics = tr.named(ids, "influence.independent_cascade")
    steps = sum(
        1 for i in ids
        if tr.spans[i].parent in set(ics) and tr.spans[i].name == "checkpoint.checkpoint_count"
    )
    f["influence.ic_rounds"] = float(max(0, steps - len(ics)))
    f["analytics.pagerank_s"] = total("analytics.pagerank")
    f["benchmark.correlation_s"] = total("benchmark.correlations")
    f["text.token_stats_s"] = total("text.token_stats")
    f["dedup.exact_s"] = total("dedup.exact")
    f["dedup.minhash_s"] = total("dedup.minhash")
    f["dedup.jaccard_s"] = total("dedup.jaccard")
    w = work(ids)
    f["spark.jobs"] = float(w["jobs"])
    f["spark.stages"] = float(w["stages"])
    f["spark.tasks"] = float(w["tasks"])
    f["spark.shuffle_write_mb"] = w["shuffle_write_mb"]
    f["spark.spill_mb"] = w["spill_mb"]
    f["spark.gc_s"] = w["gc_s"]
    f["spark.busy_frac"] = w["busy_s"] / (w["wall"] * tr.cores) if w["wall"] else 0.0
    f["spark.idle_s"] = w["idle_s"]
    f["spark.persistent_rdds"] = float(n_rdds)
    return f, rec


# -- teardown ---------------------------------------------------------------------------
def stop_everything(spark) -> None:
    """Stop Spark, the JVM and every process this one started, and wait
    for each to end."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # teardown goes on; the JVM is stopped below
            traceback.print_exc(file=sys.stderr)
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _descendants(os.getpid())
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline and _descendants(os.getpid()):
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)


# -- main -------------------------------------------------------------------------------
def main() -> int:
    args = parse_args()
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, on_sigterm)
    t_proc = time.perf_counter()
    # import from the checkout root; the script's own directory would
    # shadow standard-library modules such as ``trace``
    sys.path[0] = str(ROOT)
    from perfbench.oracles import OracleMismatch
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    import numpy
    import pyspark
    from graphem_rapids_spark.session import get_spark

    cls = WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    spark = None
    try:
        host = configure_env(work)
        data_dir = work / "data"
        data_dir.mkdir(parents=True, exist_ok=True)
        cls.write_inputs(data_dir, args.seed)
        event_dir = work / "events" if args.trace else None
        extra = {
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # the heap starts at its full size: growing it from the JVM's
            # default start size made the first timed runs GC-bound
            "spark.driver.extraJavaOptions": (
                f"-Xss32m -Xms{host['driver_mem']} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
            ),
        }
        if event_dir is not None:
            event_dir.mkdir()
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir.as_uri(),
                # one plain-text file, read incrementally after each run
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t
        sc = spark.sparkContext
        tracer = Tracer(spark, event_dir, host["cores"])
        if args.trace:
            tracer.install()
        wl = cls(spark, tracer, data_dir, args.seed)
        keep = set(persistent_rdds(sc))

        # warm-up: one untimed run, checked against the oracle. A full-size
        # run costs about 2.5 times as much cold as warm (first-run code
        # generation and JIT), so only the warm runs after it are timed
        t = time.perf_counter()
        out = wl.run()
        warm_s = time.perf_counter() - t
        try:
            ref = wl.verify(out)
            oracle_note = "passed (warm-up run verified, every timed run held to it)"
        except OracleMismatch as e:
            ref, oracle_note = None, f"FAILED on the warm-up run: {e}"
            print(f"# oracle {oracle_note}", file=sys.stderr)
        release_run(spark, keep)
        setup_s = start_s + warm_s

        times, traced_times, untraced_times, figures, extras = [], [], [], [], []
        extra_error = None
        attempted = failed = 0
        reset_peak_rss()
        rss = tree_peak_rss_mb()
        left_behind: list[int] = []
        steal: list[float] = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while time.perf_counter() - t_proc < PROCESS_BUDGET_S and (
            time.perf_counter() < deadline
            or attempted < cls.TIMED_RUNS
            # a traced run sits between two untraced ones, so the JVM's
            # warming over the first runs does not bias trace.overhead_s
            or (args.trace and not (traced_times and len(untraced_times) >= 2))
        ):
            traced = bool(args.trace) and i % 2 == 1
            i += 1
            attempted += 1
            tracer.active = traced
            root = len(tracer.spans)
            timer = threading.Timer(RUN_TIMEOUT_S, sc.cancelAllJobs)
            timer.start()
            ok, out = False, None
            s0 = cpu_steal()
            t = time.perf_counter()
            try:
                with tracer.span("run"):
                    out = wl.run()
                dt = time.perf_counter() - t
                if ref is None:
                    raise OracleMismatch("warm-up output failed its oracle")
                wl.check(out, ref)
                ok = True
            except Exception:
                print(f"# run {attempted} failed:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
            finally:
                timer.cancel()
                tracer.active = False
                s1 = cpu_steal()
                steal.append((s1[0] - s0[0]) / max(1, s1[1] - s0[1]))
            n_rdds = release_run(spark, keep)
            left_behind.append(n_rdds)
            rss = max(rss, tree_peak_rss_mb())
            if not ok:
                failed += 1
                continue
            times.append(dt)
            (traced_times if traced else untraced_times).append(dt)
            if traced:
                fig, last_rec = layer_figures(tracer, root, out, n_rdds)
                figures.append(fig)
                try:
                    extras.append(wl.traced_extras(ref))
                except Exception as e:
                    # the innermost JVM exception names the cause; Py4J's
                    # own first line names only the call
                    lines = [ln.strip() for ln in str(e).splitlines() if ln.strip()] or [type(e).__name__]
                    msg = next((ln for ln in lines if "Exception: " in ln), lines[0])
                    msg = msg.rsplit("Exception: ", 1)[-1]
                    extra_error = f"error: {msg}"
                    print(f"# traced extras of {wl.name} failed: {msg}", file=sys.stderr)
                release_run(spark, keep)
            last_out = out
        tracer.uninstall()
        if not times:
            print("no run completed", file=sys.stderr)
            return 1

        p50 = statistics.median(untraced_times or times)
        tail_v, tail_pct, beyond = tail(untraced_times or times)
        report = {
            "setup_s": setup_s,
            "run_s_p50": p50,
            "run_s_tail": tail_v,
            "items_per_s": wl.items(last_out) / p50,
            "peak_rss_mb": rss,
        }
        n_samples = len(untraced_times or times)
        notes = {
            "setup_s": f"session start {start_s:.3f} s + warm-up run {warm_s:.3f} s",
            "run_s_p50": f"median of {n_samples} runs",
            "run_s_tail": f"p{tail_pct:.0f} of {n_samples} runs, {beyond} beyond"
            + (" (<=10 runs: maximum)" if beyond == 0 else ""),
            "items_per_s": f"{wl.items(last_out)} {wl.item} per run",
            "peak_rss_mb": "VmHWM of the timed runs summed over driver Python, JVM and Python workers",
        }
        print(f"# host: cores={host['cores']} mem={host['mem_gb']}GB master=local[{host['cores']}] "
              f"driver_mem={host['driver_mem']} spark={pyspark.__version__} "
              f"python={platform.python_version()} numpy={numpy.__version__}")
        print(f"# workload {wl.name} seed={args.seed}: exercises {','.join(wl.exercises)}; "
              f"bypasses {','.join(wl.bypasses()) or '-'}")
        print(f"# oracle: {oracle_note}")
        print(f"# run times (s): {[round(t, 3) for t in times]}")
        # the share of this machine's CPU time other tenants took during each
        # run: the run-to-run spread on a shared host follows it
        print(f"# host CPU steal per run: {[round(x, 3) for x in steal]}")
        print(f"# persistent RDDs left per run (released after each): {left_behind}")
        rows = [(k, v, END_TO_END[k], notes[k]) for k, v in report.items()]
        rows.append(("failed_frac", failed / attempted, "ratio", f"{failed} of {attempted} runs"))
        for k, v in wl.quality(last_out).items():
            rows.append((k, v, "ratio" if k != "seed_spread" else "vertices", "of the last run"))
        for k, v, unit, note in rows:
            print(f"{k:<16} {v:>14.6f} {unit:<9} {note}")

        if args.trace:
            metrics = {k: statistics.median(f[k] for f in figures) for k in figures[0]}
            metrics["session.start_s"] = start_s
            metrics["session.warm_s"] = warm_s
            metrics["trace.overhead_s"] = (
                statistics.median(traced_times) - statistics.median(untraced_times)
            )
            print(f"# traced runs: {len(traced_times)}, untraced: {len(untraced_times)}; "
                  "per-layer medians over traced runs:")
            for k, unit in LAYER_UNITS.items():
                print(f"{k:<30} {metrics[k]:>14.6f} {unit}")
            for k, unit in EXTRA_UNITS.items():
                vals = [e[k] for e in extras if k in e]
                if vals:
                    print(f"{k:<30} {statistics.median(vals):>14.6f} {unit}")
                elif extra_error:
                    print(f"{k:<30} {extra_error}")
            print("# spans of the last traced run (incl_s/self_s wall; Spark work of the subtree):")
            for row in tracer.span_table(last_rec["run_ids"], last_rec["work"]):
                print("#   " + " ".join(
                    f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}" for k, v in row.items()
                ))
            result_metrics = {k: {"value": metrics[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            result_metrics = {k: {"value": report[k], "unit": END_TO_END[k]} for k in GATED}
        print(json.dumps({
            "correct": ref is not None and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": result_metrics,
        }))
        return 0
    finally:
        stop_everything(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
