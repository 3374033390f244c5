"""Closed-loop benchmark of eo_tools_spark: one workload, one seed.

    python3 perfbench/run.py --workload geo_tiles --seed 1 --seconds 6 --trace 0

Run from the repository root. One driver process, one client: the next
pass starts only after the previous one has finished and been checked
against the workload's oracle. Inputs are generated from ``--seed`` and
cached under ``.bench_build/perfbench`` (keyed on table, seed, scale and
a hash of the generator sources; geo_tiles and neardup share one image
table); generation and oracle building are not part of any metric.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, and prints the per-layer metrics of
BENCHMARK.json plus ``trace_overhead`` (traced over untraced pass wall
time); the spans go to ``.bench_build/perfbench/trace-<workload>.json``.
The last line of stdout is the JSON result; the exit code is non-zero
when any pass raised or disagreed with the oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

MIN_PASSES = 3   # timed passes per run (untraced and traced each with
                 # --trace 1), even past --seconds: pass time keeps
                 # falling for a few passes after the warm pass, and the
                 # median of three sets the first of them and any one
                 # slow pass aside

LAYERS = ("session", "spatial_join", "knn", "range_join", "image_pipeline",
          "snapshots", "dedup", "cluster", "tiles", "coreg", "geocode",
          "similarity")
SPAN_METRICS = ("wall_s", "self_s", "exec_cpu_s", "proc_cpu_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
                "rows_out", "tasks_failed")
#: per-layer metrics that are zero by construction and so not reported:
#: the kNN kernel (a broadcast index over a cached frame) has no exchange,
#: and neither it nor the scan (whose only exchange carries one count
#: row per partition) has anything to spill
ZERO_BY_CONSTRUCTION = {"session.spill_mb", "knn.shuffle_write_mb",
                        "knn.shuffle_read_mb", "knn.spill_mb"}
LAYER_EXTRAS = ("spatial_join.refine_keep_ratio", "image_pipeline.cpu_ms_per_image",
                "snapshots.files_written", "dedup.candidate_pairs",
                "dedup.pair_yield", "dedup.hot_buckets", "dedup.rows_dropped",
                "cluster.rounds", "cluster.local_finish",
                "similarity.scan_fraction", "similarity.recall_at_10")
UNITS = {"wall_s": "s", "self_s": "s", "exec_cpu_s": "CPU-s",
         "proc_cpu_s": "CPU-s", "shuffle_write_mb": "MB",
         "shuffle_read_mb": "MB", "spill_mb": "MB", "input_mb": "MB",
         "rows_out": "rows", "tasks_failed": "count",
         "refine_keep_ratio": "ratio", "cpu_ms_per_image": "ms",
         "files_written": "count", "candidate_pairs": "pairs",
         "pair_yield": "ratio", "hot_buckets": "count", "rows_dropped": "rows",
         "rounds": "count", "local_finish": "bool", "scan_fraction": "ratio",
         "recall_at_10": "ratio", "trace_overhead": "ratio"}


def per_layer_names() -> list[str]:
    names = [f"{l}.{m}" for l in LAYERS for m in SPAN_METRICS]
    names = [n for n in names if n not in ZERO_BY_CONSTRUCTION]
    return names + list(LAYER_EXTRAS) + ["trace_overhead"]


def nslots() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return kb / (1 << 20)


def session():
    from eo_tools_spark.session import get_spark

    n = nslots()
    tmp = os.path.join(WORK, "tmp")
    # get_spark's 24g default does not fit small hosts; the heap starts at
    # its full size so its growth does not add to the noise of the
    # memory and time figures
    heap = f"{max(1, min(2, int(ram_gb() // 4)))}g"
    spark = get_spark(
        "perfbench", cores=n, shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": heap,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # no hsperfdata file in /tmp: the run writes only under WORK
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait until the JVM this process launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def inputs(wl) -> tuple[str, dict]:
    """Generated tables and oracle for ``wl``, from the cache if present.
    Neither needs Spark, so the measured session is the run's first."""
    import numpy as np

    h = hashlib.sha256()
    for rel in ("perfbench/workloads.py", *wl.sources):
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    d = os.path.join(WORK, "cache",
                     f"{wl.table}-s{wl.seed}-x{wl.scale:g}-{h.hexdigest()[:12]}")
    ready = os.path.join(d, f"oracle-{wl.name}.npz")
    if not os.path.exists(ready):
        os.makedirs(d, exist_ok=True)
        wl.generate(d)
        np.savez(ready + ".tmp.npz", **wl.oracle(d))
        os.replace(ready + ".tmp.npz", ready)
    with np.load(ready, allow_pickle=False) as z:
        return d, {k: z[k] for k in z.files}


def median(xs: list[float]) -> float:
    """Median, or 0 when every pass failed (the run then exits non-zero)."""
    return float(statistics.median(xs)) if xs else 0.0


class Runner:
    """Runs checked passes of one workload and keeps the tallies."""

    def __init__(self, wl, d: str, expected: dict):
        self.wl, self.d, self.expected = wl, d, expected
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.sampler = None  # the RssPeak running during timed passes

    def cpu_s(self) -> float:
        """Process-tree CPU seconds, less what the memory sampler used."""
        from measure import tree_cpu_s

        return tree_cpu_s() - (self.sampler.cpu_s if self.sampler else 0.0)

    def setup(self, spark) -> None:
        """Register the inputs and build the broadcast dimensions."""
        from measure import StatusStore, Tracer

        self.spark = spark
        self.state = self.wl.setup(spark, self.d, os.path.join(WORK, "work"), self.expected)
        self.tracer = Tracer(spark, enabled=False, cpu_s=self.cpu_s)
        self.store = StatusStore(spark)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)

    def one_pass(self, traced: bool = False):
        """Run, release and check one pass. Returns (pass, wall, cpu), or
        None when the pass raised or failed a check."""
        from workloads import Pass

        self.tracer.enabled = traced
        self.tracer.new_pass()
        p = Pass()
        self.attempted += 1
        try:
            cpu0, t0 = self.cpu_s(), time.perf_counter()
            self.wl.run_pass(self.spark, self.state, self.tracer, p)
            wall, cpu = time.perf_counter() - t0, self.cpu_s() - cpu0
            p.release()
            bad = self.wl.check(p.out, self.expected)
            leaked = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            if leaked:
                bad.append(f"{leaked} persisted RDDs left after the pass")
        except Exception:  # a failing pass is counted, the run goes on
            p.release()
            bad = [traceback.format_exc()]
        p.out.clear()
        if bad:
            self.fail("; ".join(bad))
            return None
        return p, wall, cpu

    def layer_metrics(self, p, cpu: float) -> dict[str, float]:
        """Per-layer metrics of the traced pass ``p`` (cpu: its cpu_s)."""
        spans = self.tracer.spans
        jobs = self.store.jobs_by_group({s.group for s in spans})
        stages = self.store.stages()
        m = {n: 0.0 for n in per_layer_names() if n != "trace_overhead"}
        seen: set[int] = set()
        job_ids: dict[str, set[int]] = {}
        for s in spans:
            wall = s.end - s.start
            kids = [c for c in spans if c.parent == s.group]
            m[f"{s.name}.wall_s"] += wall
            m[f"{s.name}.self_s"] += wall - sum(c.end - c.start for c in kids)
            m[f"{s.name}.proc_cpu_s"] += (s.cpu1 - s.cpu0) - sum(c.cpu1 - c.cpu0 for c in kids)
            for job_id, stage_ids in jobs.get(s.group, ()):
                job_ids.setdefault(s.name, set()).add(job_id)
                for sid in set(stage_ids) - seen:  # a stage counts once
                    seen.add(sid)
                    for k, v in stages.get(sid, {}).items():
                        if f"{s.name}.{k}" in m:
                            m[f"{s.name}.{k}"] += v
        for k, v in p.counters.items():
            if k in m:
                m[k] = float(v)
        if "spatial_join" in job_ids:
            cand = self.store.node_rows(job_ids["spatial_join"], "BroadcastHashJoin")
            m["spatial_join.refine_keep_ratio"] = (
                p.counters["spatial_join.rows_out"] / cand if cand else 0.0)
        if p.counters.get("images_decoded"):
            m["image_pipeline.cpu_ms_per_image"] = (
                1000 * m["image_pipeline.proc_cpu_s"] / p.counters["images_decoded"])
        exec_cpu = sum(m[f"{l}.exec_cpu_s"] for l in LAYERS)
        if exec_cpu > cpu:
            self.fail(f"layers' exec_cpu_s sum {exec_cpu:.3f} exceeds the pass's "
                      f"cpu_s {cpu:.3f}")
        return m


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    from measure import RssPeak
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](seed, scale, nslots())
    phases = {"start": time.perf_counter()}
    d, expected = inputs(wl)
    runner = Runner(wl, d, expected)
    # setup_s: from session start until the inputs are registered, the
    # broadcast dimensions are built and one untimed warm pass has run
    phases["inputs"] = time.perf_counter()
    spark = session()
    try:
        phases["session"] = time.perf_counter()
        runner.setup(spark)
        runner.one_pass()  # the untimed warm pass
        phases["setup"] = time.perf_counter()
        setup_s = phases["setup"] - phases["inputs"]

        # trace mode alternates untraced and traced passes, so the JVM
        # still warming up weighs on both sides of trace_overhead
        walls, cpus, traced_walls, layer_runs, span_log = [], [], [], [], []
        tries = {False: 0, True: 0}  # passes attempted, untraced / traced
        start = time.perf_counter()
        with RssPeak() as rss:
            runner.sampler = rss
            while True:
                elapsed = time.perf_counter() - start
                traced = trace and tries[True] < tries[False]
                if elapsed >= seconds and tries[False] >= MIN_PASSES and not traced:
                    break
                tries[traced] += 1
                got = runner.one_pass(traced=traced)
                if got is None:
                    continue
                p, wall, cpu = got
                if traced:
                    traced_walls.append(wall)
                    layer_runs.append(runner.layer_metrics(p, cpu))
                    span_log.append([s.record() for s in runner.tracer.spans])
                else:
                    walls.append(wall)
                    cpus.append(cpu)
        runner.sampler = None
        phases["passes"] = time.perf_counter()
    finally:
        stop(spark)
    phases["stop"] = time.perf_counter()

    if trace:
        metrics = {n: median([r[n] for r in layer_runs])
                   for n in per_layer_names() if n != "trace_overhead"}
        metrics["trace_overhead"] = (median(traced_walls) / median(walls)
                                     if walls and traced_walls else 0.0)
        units = {n: UNITS[n.split(".")[-1]] for n in metrics}
        with open(os.path.join(WORK, f"trace-{workload}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "passes": span_log,
                       "layers": layer_runs}, f)
    else:
        wall = median(walls)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "items_per_s": wl.items() / wall if wall else 0.0,
            "cpu_s": median(cpus),
            "peak_rss_mb": rss.peak_mb,
        }
        units = {"setup_s": "s", "wall_s": "s", "items_per_s": "items/s",
                 "cpu_s": "CPU-s", "peak_rss_mb": "MB"}
    return {
        "metrics": metrics, "units": units,
        "attempted": runner.attempted, "failed": runner.failed,
        "errors": runner.errors, "samples": len(walls),
        "traced_samples": len(traced_walls),
        "traced_wall_s": median(traced_walls),
        "walls": [round(w, 3) for w in walls + traced_walls],
        "phases": {k: round(phases[k] - phases[j], 2)
                   for j, k in zip(phases, list(phases)[1:])},
    }


def print_layer_table(m: dict, pass_wall: float) -> None:
    """One row per layer the workload touched, with its share of the
    traced pass wall time."""
    cols = [c for c in SPAN_METRICS if c != "tasks_failed"]
    print("# " + f"{'layer':15s}{'share':>7s}" + "".join(f"{c:>17s}" for c in cols))
    used = sorted((l for l in LAYERS if m[f"{l}.wall_s"] > 0),
                  key=lambda l: -m[f"{l}.wall_s"])
    for l in used:
        print("# " + f"{l:15s}{m[f'{l}.wall_s'] / pass_wall:7.1%}" + "".join(
            f"{m.get(f'{l}.{c}', 0.0):17.4g}" for c in cols))
    if used:
        print(f"# largest share of the traced pass wall_s ({pass_wall:.3f} s): "
              f"{used[0]} ({m[f'{used[0]}.wall_s'] / pass_wall:.1%})")


def host_line() -> str:
    import pyspark

    return (f"# host: nproc={nslots()} ram_gb={ram_gb():.1f} "
            f"spark={pyspark.__version__} python={platform.python_version()}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (1 = the benchmark's size)")
    args = ap.parse_args(argv)

    # everything Spark and Python write goes under the checkout
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the launcher JVM of spark-submit would write hsperfdata to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package under test from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path[:0] = [HERE, ROOT]
    try:
        import eo_tools_spark  # noqa: F401  (the package under test)
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {', '.join(WORKLOADS)})", file=sys.stderr)
        return 2

    res = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(host_line())
    attempted, failed = res["attempted"], res["failed"]
    print(f"# {args.workload} seed={args.seed}: {res['samples']} untraced + "
          f"{res['traced_samples']} traced timed passes, "
          f"{attempted} passes checked; phase seconds {res['phases']}")
    print(f"# timed pass seconds {res['walls']}")
    for name, value in res["metrics"].items():
        print(f"{name:40s} {value:14.6g} {res['units'][name]}")
    print(f"{'fail_frac':40s} {failed / attempted:14.6g} ratio")
    if args.trace and res["traced_wall_s"]:
        print_layer_table(res["metrics"], res["traced_wall_s"])
    for err in res["errors"][:20]:
        print("# FAILED: " + err.strip().replace("\n", "\n#   "))
    ok = failed == 0
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": res["units"][n]}
                    for n, v in res["metrics"].items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
