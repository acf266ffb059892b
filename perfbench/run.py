"""Benchmark command: one workload, one Spark session, one JSON line.

    python3 perfbench/run.py --workload typing_refresh --seed 1 \\
        --seconds 15 --trace 0

Run it from the root of a checkout.  It pins the Spark core count to
this host's cores and the driver heap to ``DRIVER_MEMORY``, builds the
workload's inputs from ``--seed``, runs the cold round untimed, then
measures exactly one whole warm round, checks the outputs against the
independent checkers in ``oracle.py`` and
prints, as its last line, ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics and
``--trace 1`` the per-layer metrics (see README.md).  Everything it
writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = time.perf_counter() - _process_age()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
# warm-up: the cold round, untimed (see README.md: rounds keep getting
# a few per cent faster for longer than the run budget)
WARMUP_ROUNDS = 1
WORKLOAD_NAMES = ("typing_refresh", "cluster_lincode", "web_requests")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "round_cpu_s": "s",
}
LAYERS = {  # span name -> metric suffixes
    "profiles.build_profiles": ["s", "jobs", "shuffle_write_mb"],
    "profiles.assign_exact": ["s", "shuffle_write_mb"],
    "profiles.assign_wildcard": ["s", "jobs", "shuffle_write_mb", "spill_mb",
                                 "peak_exec_mem_mb"],
    "profiles.assign_multi": ["s", "shuffle_write_mb"],
    "profiles.pair_distances": ["s", "shuffle_write_mb"],
    "cache.refresh_full": ["s"],
    "cache.refresh_incremental": ["s"],
    "cache.read": ["ms"],
    "clustering.single_linkage": ["s", "jobs"],
    "mst.boruvka_mst": ["s", "jobs"],
    "lincodes.assign_lincodes": ["s", "jobs"],
    "queryspec.run_query": ["ms"],
    "rest.search": ["ms"],
    "rest.field_breakdown": ["ms"],
    "rest.allele_designations": ["ms"],
    "rest.scheme_designations_query": ["ms"],
    "sequence_query.scheme_sequence_query": ["ms"],
}
UNITS = {"s": "s", "ms": "ms", "jobs": "count", "shuffle_write_mb": "MB",
         "spill_mb": "MB", "peak_exec_mem_mb": "MB", "pairs": "count",
         "rounds": "count"}
EXTRA_LAYER = {  # per-layer metrics that are not span folds
    "round.wall_s": "s",
    "sources.load_table.s": "s",
    "profiles.pair_distances.pairs": "count",
    "clustering.single_linkage.rounds": "count",
    "rest.jobs_per_request": "count",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.storage_entries_end": "count",
}


def _environment(work: str) -> None:
    """Pin what the Spark session and its Python workers see.  Must run
    before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the workers import bigsdb_spark (the LIN-code kernel runs there)
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        # the spark-submit launcher JVM too: no perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # the traced run reads every job and stage back from the store
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # a heap that starts at its pinned size: a growing heap made
            # the JVM's resident size vary by ~700 MB between runs
            # (no perf-data file: HotSpot would write it under /tmp)
            f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}'",
            "pyspark-shell",
        ]),
    })


def _import_program():
    """Import the program from this checkout, or exit 2."""
    sys.path[:0] = [HERE, ROOT]
    try:
        import bigsdb_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import bigsdb_spark from {ROOT}: {e}")
    if not os.path.abspath(bigsdb_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: bigsdb_spark resolved outside {ROOT}")


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _gc_seconds(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _import_program()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)

    from spans import RssSampler, Tracer, layer_metrics, tree_cpu_seconds

    from bigsdb_spark.session import get_spark
    from workloads import WORKLOADS

    with RssSampler() as rss:
        spark = get_spark("perfbench")
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tr = Tracer(sc, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tr, args.seed, work)

        _log(f"session started at {time.perf_counter() - T_PROCESS:.2f} s")
        with tr.span("setup"):
            wl.setup()
        _log(f"inputs loaded at {time.perf_counter() - T_PROCESS:.2f} s")
        with tr.span("warmup"):
            for k in range(WARMUP_ROUNDS):
                t0 = time.perf_counter()
                wl.run_round()
                _log(f"warm-up round {k}: {time.perf_counter() - t0:.2f} s")
        setup_s = time.perf_counter() - T_PROCESS

        gc0 = _gc_seconds(sc)
        cpu0 = tree_cpu_seconds(os.getpid())
        # One measured round, whatever --seconds is: a run that fitted as
        # many rounds as it could into its window would measure a faster
        # commit further along the JIT's warm-up than its parent.
        t0 = time.perf_counter()
        attempted, failed = wl.OPS_PER_ROUND, 0
        with tr.span("measure"):
            try:
                wl.run_round()
            except Exception:
                traceback.print_exc()
                failed = wl.OPS_PER_ROUND - wl.done
        round_s = time.perf_counter() - t0
        round_cpu_s = tree_cpu_seconds(os.getpid()) - cpu0
        _log(f"measured round: {round_s:.2f} s, cpu {round_cpu_s:.2f} s"
             + (f" (shorter than --seconds {args.seconds:g})"
                if round_s < args.seconds else ""))
        gc_s = _gc_seconds(sc) - gc0
        storage_end = sc._jsc.sc().getPersistentRDDs().size()
        with tr.span("check"):
            errors = wl.check()
            extra = wl.trace_probe() if args.trace else {}
        _log(f"checked at {time.perf_counter() - T_PROCESS:.2f} s")
        for e in errors:
            _log(f"check failed: {e}")

        if args.trace:
            span_tasks, store_tasks = tr.collect_counters()
            if span_tasks != store_tasks:
                errors.append(f"span tasks {span_tasks} != session tasks {store_tasks}")
                _log(errors[-1])
            vals = layer_metrics(tr, LAYERS)
            measured = tr.within("measure")
            requests = [sp for sp in measured if sp.parent is not None
                        and tr.spans[sp.parent].name == "measure"]
            vals.update({
                "round.wall_s": round_s,
                "sources.load_table.s": sum(
                    tr.self_time(sp) for sp in tr.spans if sp.name == "sources.load_table"),
                "profiles.pair_distances.pairs": 0.0,
                "clustering.single_linkage.rounds": 0.0,
                "rest.jobs_per_request": (
                    sum(sp.jobs for sp in measured) / len(requests)
                    if args.workload == "web_requests" and requests else 0.0),
                "spark.gc_s": gc_s,
                "spark.tasks": sum(sp.tasks for sp in measured),
                "spark.storage_entries_end": float(storage_end),
            })
            vals.update(extra)
            units = {f"{k}.{suf}": UNITS[suf] for k, sufs in LAYERS.items() for suf in sufs}
            units.update(EXTRA_LAYER)
            metrics = {k: {"value": vals[k], "unit": u} for k, u in units.items()}
            _write_spans(tr, work, args)
        _stop(spark)
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / (1 << 20),
            "round_cpu_s": round_cpu_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _stop(spark) -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    forked to exit."""
    from spans import tree_pids

    children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


def _write_spans(tr, work: str, args) -> None:
    out = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump([{"id": sp.sid, "name": sp.name, "parent": sp.parent,
                    "start": sp.start - T_PROCESS, "end": sp.end - T_PROCESS,
                    "self_s": tr.self_time(sp), "jobs": sp.jobs, "tasks": sp.tasks,
                    "shuffle_write": sp.shuffle_write, "spill": sp.spill,
                    "peak_exec_mem": sp.peak_exec_mem, "gc_ms": sp.gc_ms}
                   for sp in tr.spans], f)


if __name__ == "__main__":
    sys.exit(main())
