"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_query --seed 1 --seconds 4 --trace 0

Run it from the root of a checkout. It starts a fresh Spark session on
local[<cores of this process>], builds the workload's inputs from the seed,
runs its warm-up if it has one, runs a closed loop of ops for
``--seconds`` of op time, checks
every op's output, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
workload once more with a span around each layer call and reports the
per-layer metrics instead (see perfbench/README.md). Everything the run
writes lives under ``.perfbench_work/`` in the checkout and is removed
when it ends, after every process the run started (the JVM, the Python
workers under it) has exited.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "knowledge_graph_studio_spark"
HEAP = "1g"  # the driver JVM's heap, fixed so runs compare


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["kg_build", "kg_query", "curate"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _start_session(work: str, cores: int, tracer):
    from knowledge_graph_studio_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", cores=cores, extra={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the whole heap is committed and touched at start, so the
            # JVM's share of peak_rss_mb does not depend on when GC ran
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit. The Python workers under it
    are left to _reap_children."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
    finally:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # the JVM ignored its closed stdin: end it
            proc.kill()
            proc.wait(timeout=30)


def _become_subreaper() -> None:
    """Have every orphaned descendant (the Python workers once their daemon
    has exited, the launcher's helper shells, multiprocessing's resource
    tracker) re-parented to this process, so _reap_children can wait for
    each of them."""
    import ctypes

    pr_set_child_subreaper = 36  # from <linux/prctl.h>
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1,
                                                0, 0, 0)
    except (OSError, AttributeError):  # not Linux: children are still reaped
        pass


def _reap_children(grace: float = 20.0) -> None:
    """Wait until every process this run started has ended: give them
    ``grace`` seconds to exit by themselves, then kill what is left."""
    from multiprocessing import resource_tracker

    from perfbench.trace import descendants

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:  # it exits only when its pipe closes
        stop()
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # none left
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _run(args, work: str) -> tuple[dict, dict, list]:
    from perfbench.trace import Tracer, peak_rss_mb
    from perfbench.workloads import WORKLOADS, tail_ms

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(None, enabled=False)
    t0 = time.perf_counter()
    spark = _start_session(work, cores, tracer)
    try:
        tracer.attach(spark)
        tracer.enabled = bool(args.trace)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer, cores)
        wl.setup()
        with tracer.span("warmup"):
            wl.warm()
        setup_s = time.perf_counter() - t0
        if args.trace:
            return _traced(wl, args, setup_s, cores) + (tracer.spans,)
        wl.measure(args.seconds)
        rss = peak_rss_mb(spark)
        wl.check()
    finally:
        _stop_session(spark)
    walls = wl.walls
    metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "cpu_ms_per_item": (sum(wl.cpus) * 1e3 / max(wl.items, 1), "ms"),
    }
    result = _result(wl, {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()})
    detail = {"workload": wl.name, "seed": args.seed, "cores": cores,
              "ops": len(walls), "item": wl.item,
              "items_per_s": wl.items / sum(walls),
              "op_ms": [round(w * 1e3, 1) for w in walls],
              "op_cpu_ms": [round(c * 1e3) for c in wl.cpus],
              **tail_ms(walls), **wl.detail(),
              "setup_spans": {s["name"]: round(s["wall_s"], 3)
                              for s in tracer.spans},
              "failures": wl.failures[:20]}
    return result, detail, tracer.spans


def _traced(wl, args, setup_s: float, cores: int) -> tuple[dict, dict]:
    """The workload's traced pass, its per-layer metrics and the tracing
    overhead (traced wall minus untraced wall)."""
    spans = {s["name"]: s["wall_s"] for s in wl.tracer.spans}
    untraced, traced_wall, traced = wl.traced()
    wl.check()
    layers = wl.layer_metrics(traced)
    for name in ("session.get_spark", "sources.pages.generate",
                 "inputs.documents.generate",
                 "functions.embeddings.embed_edges"):
        layers[f"{name}.wall_s"] = spans.get(name, 0.0)
    layers["pipeline.build_graph.setup_wall_s"] = spans.get(
        "pipeline.build_graph.setup", 0.0)
    layers["perfbench.trace.overhead_s"] = traced_wall - untraced
    metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
               for name, unit in _per_layer_units().items()}
    detail = {"workload": wl.name, "seed": args.seed, "cores": cores,
              "setup_s": setup_s, "traced_wall_s": traced_wall,
              "untraced_wall_s": untraced,
              "unlisted": sorted(set(layers) - set(metrics)),
              "failures": wl.failures[:20]}
    return _result(wl, metrics), detail


def _result(wl, metrics: dict) -> dict:
    attempted = max(len(wl.walls), 1)
    return {"correct": not wl.failures, "attempted": attempted,
            "failed": min(len(wl.failed_ops), attempted),
            "metrics": metrics}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of this process, the JVM and the Python workers
    # goes under the work dir
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Spark prefers SPARK_LOCAL_DIRS, when set, over spark.local.dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = \
        os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    # get_spark's generic warm-up is skipped to keep a run short: the
    # set-up's own Spark jobs warm the JVM, and the first ops pay the rest,
    # as the first ops of a fresh batch job do
    os.environ["SPARK_GRAFT_NO_SESSION_WARM"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, ROOT)
    _become_subreaper()
    # a SIGTERM still stops Spark and reaps the workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, detail, spans = _run(args, work)
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(
                    ROOT, ".perfbench_out",
                    f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(spans, fh, indent=1, default=str)
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
