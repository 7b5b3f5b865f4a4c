#!/usr/bin/env python3
"""CDC replication benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. The workloads and
their knobs are in ``perfbench/workloads.json``; ``perfbench/gen.py``
makes every input from ``--seed``, so the engine receives only landed
parquet files. Every output is checked against an independent DuckDB
reference outside the timed window.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics ``setup_s``,
``throughput_per_s``, ``latency_p50_s`` and ``latency_p90_s`` (their
meaning per workload is in ``workloads.py``).
``--trace 1`` runs the workload twice untraced and then once traced,
each pass in its own Spark session on the same JVM, and reports the
per-layer metrics of the traced pass (``layers.py``) plus the tracing
overhead against the second, equally warm, untraced pass. ``failed / attempted``
is the failed-operations ratio: exceptions plus reference mismatches
over operations and checks attempted.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit, except that a traced run leaves its
spans there as ``spans-<workload>-<seed>.jsonl``. The Spark JVM is
stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "snowflake_cdc_spark"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="CDC replication benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and size the Spark JVM heap for this machine (the session default of
    48g exceeds a small box)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    gib = ram_bytes() / 2**30
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(gib // 4)))}g"
    # a fixed young generation keeps the JVM's resident high-water mark
    # from following G1's adaptive eden sizing run to run
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn384m")
    os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)


class Session:
    """One Spark session at a time on one JVM; ``close`` stops the JVM
    and waits for it."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None

    def start(self, cpus: int, eventlog_dir: str | None = None):
        from snowflake_cdc_spark.session import get_spark

        if eventlog_dir:
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = eventlog_dir
        else:
            os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", cpus=cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.eventLog.compress": "false",
            },
        )
        self.spark.range(1).count()
        return self.spark, time.perf_counter() - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate to kill
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(), "ram_gb": round(ram_bytes() / 2**30, 1),
        "python": platform.python_version(), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
    }


def one_pass(sess: Session, name: str, seed: int, seconds: float, knobs: dict, cpus: int,
             work: str, traced: bool, eventlog: str | None = None):
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    spark, session_s = sess.start(cpus, eventlog)
    tracer = Tracer(spark, traced)
    os.makedirs(work, exist_ok=True)
    out = WORKLOADS[name](Ctx(spark, tracer, work, seed, seconds, knobs))
    out.setup["session_s"] = session_s
    sess.stop()
    shutil.rmtree(work, ignore_errors=True)
    return out, tracer


def end_to_end(out) -> dict:
    setup_s = sum(out.setup.get(k, 0.0) for k in
                  ("session_s", "generate_s", "seed_store_s", "warmup_s"))
    return {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (out.throughput_per_s, "1/s"),
        "latency_p50_s": (out.latency_p50_s, "s"),
        "latency_p90_s": (out.latency_p90_s, "s"),
    }


def local1_events_per_s(sess: Session, k: dict, seed: int, work: str) -> float:
    """One backfill ``run_batch`` at ``local[1]``: the single-thread
    baseline."""
    import gen
    from spans import Tracer, TracedPipeline, TracedSink
    from workloads import specs_for

    cs = gen.ChangeStream(seed, k["tables"], k["shards"], 0, k["width"])
    raw = os.path.join(work, "raw")
    gen.write_files(cs.changes(k["events"], tuple(k["mix"])), raw, k["events_per_file"], "c")
    spark, _ = sess.start(1)
    sink = TracedSink(os.path.join(work, "store"), Tracer(spark, False))
    t0 = time.perf_counter()
    TracedPipeline(spark, specs_for(k), sink).run_batch(raw)
    rate = k["events"] / (time.perf_counter() - t0)
    sess.stop()
    return rate


def run(args, work: str) -> dict:
    import gen

    knobs = gen.load_knobs()
    if args.workload not in knobs:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(knobs)}")
    k = knobs[args.workload]
    cpus = os.cpu_count() or 1
    sess = Session(work)
    try:
        base, _ = one_pass(sess, args.workload, args.seed, args.seconds, k, cpus,
                           os.path.join(work, "untraced"), traced=False)
        e2e = end_to_end(base)
        attempted, failed = base.attempted, base.failed
        if not args.trace:
            metrics = {name: {"value": float(v), "unit": u} for name, (v, u) in e2e.items()}
        else:
            import layers
            from spans import attribute

            # the traced pass runs on a JVM one pass warmer than the first
            # untraced one; measure an equally warm untraced pass to compare
            base, _ = one_pass(sess, args.workload, args.seed, args.seconds, k, cpus,
                               os.path.join(work, "untraced2"), traced=False)
            e2e = end_to_end(base)
            attempted += base.attempted
            failed += base.failed
            evdir = os.path.join(work, "eventlog")
            out, tracer = one_pass(sess, args.workload, args.seed, args.seconds, k, cpus,
                                   os.path.join(work, "traced"), True, evdir)
            attempted += out.attempted
            failed += out.failed
            reg = knobs["snapshot_reads"]["registry_queries"]
            units = dict(layers.names(reg))
            m = {name: 0.0 for name in units}
            m.update(layers.compute(out, tracer.spans, attribute(evdir), cpus, reg))
            tracer.dump(os.path.join(os.path.dirname(work),
                                     f"spans-{args.workload}-{args.seed}.jsonl"))
            traced = end_to_end(out)
            for key in ("throughput_per_s", "latency_p50_s", "latency_p90_s"):
                u = e2e[key][0]
                m[f"trace.overhead_{key}"] = (traced[key][0] - u) / u if u else 0.0
            for part in ("session_s", "generate_s", "seed_store_s", "warmup_s"):
                m[f"setup.{part}"] = out.setup.get(part, 0.0)
            m["jvm.peak_rss_mb"] = sess.peak_rss_mb()
            if args.workload == "backfill_fanout":
                m["baseline.local1_events_per_s"] = local1_events_per_s(
                    sess, k, args.seed, os.path.join(work, "local1"))
            metrics = {name: {"value": float(m[name]), "unit": units[name]} for name in units}
    finally:
        sess.close()
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to perfbench/ "
              f"(run from a checkout of the repository)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        result = run(args, work)
        print(json.dumps({"info": versions(), "workload": args.workload, "seed": args.seed}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # other runs' files (or a traced run's spans) remain
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
