#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 6 --trace 0

Run from the repository root.  The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.  The line
before it carries sample counts and the run's configuration.  Everything
the run writes stays under .perfbench_work/ (removed at exit) and, for
traced runs, the span dump under .perfbench_out/.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "3g"  # the Spark driver's heap, fixed for the whole run


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _session(work: str, nproc: int, trace: bool):
    """local[nproc] with the engine's defaults; scratch space, the JVM's
    temp dir and (traced runs only) the event log all live under
    ``work``."""
    from etl_spark.config import get_spark

    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # The heap is fixed and touched at start-up: left to grow, G1 sizes
        # it by GC timing, and the JVM's resident set then swung by a
        # quarter between runs of the same code.  peak_rss_mb so reads the
        # fixed heap plus what moves with the code (off-heap, metaspace,
        # Python driver and workers); heap demand shows in spark.gc_frac.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        # a smaller heap than the engine's 8g default on a shared machine
        "spark.driver.memory": HEAP,
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=nproc, shuffle_partitions=2 * nproc,
                     extra_conf=extra)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _probes(spark, path: str, reps: int = 3) -> dict[str, tuple[float, int]]:
    """Standalone layer probes on one workload input, each written to the
    noop sink: the source scan, the LWW window, and canonicalize with and
    without the Arrow NFC hop.  Median of ``reps`` runs."""
    import pyarrow.parquet as pq

    from etl_spark.operators.lww import lww_latest
    from etl_spark.pipeline import canonicalize
    from etl_spark.schemas import KEY_COLUMNS
    from etl_spark.sources.events import read_event_batch

    from perfbench.stats import median

    rows = pq.ParquetFile(path).metadata.num_rows
    plans = {
        "source.rows_per_s": lambda: read_event_batch(spark, path),
        "lww.rows_per_s": lambda: lww_latest(
            read_event_batch(spark, path), KEY_COLUMNS, "seq"
        ),
        "canonicalize.rows_per_s": lambda: canonicalize(read_event_batch(spark, path)),
        "canonicalize.no_nfc_rows_per_s": lambda: canonicalize(
            read_event_batch(spark, path), nfc=False
        ),
    }
    out = {}
    for name, plan in plans.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            plan().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out[name] = (rows / median(times), reps)
    return out


def _metric_block(values: dict) -> dict:
    from perfbench.layers import UNITS

    return {
        k: {"value": float(v), "unit": UNITS[k]}
        for k, (v, _) in values.items() if k in UNITS
    }


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import etl_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import eventlog, layers
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's scratch space and every temp file stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = None
    try:
        spark = _session(work, nproc, trace)
        ctx = Context(spark, work, args.seed, args.seconds, trace, nproc, T_START)
        out = WORKLOADS[args.workload](ctx)
        e2e = layers.end_to_end(out)
        detail = {
            "workload": out.name, "seed": args.seed, "seconds": args.seconds,
            "nproc": nproc, "trace": args.trace,
            "freshness_hi_pct": e2e["_freshness_hi_pct"][0],
            "reads": out.reads,
            "steal_s": out.pass_.steal_s,
            "batches": [
                {k: b.get(k) for k in ("events", "sink_ms", "mode", "compacted")}
                for b in out.pass_.batch_stats
            ],
        }
        if trace:
            from etl_spark import benchref

            probes = _probes(spark, out.probe_file)
            _stop(spark)
            spark = None
            # host context only: never gated on, and nothing is persisted
            detail["host_probe"] = benchref.probe(nproc)
            log = eventlog.read_dir(os.path.join(work, "eventlog"))
            if log is None:
                raise RuntimeError("the traced run wrote no Spark event log")
            metrics = layers.per_layer(out, ctx.tracer, log, probes, nproc)
            detail["end_to_end_traced"] = {k: v for k, (v, _) in e2e.items()}
            dump = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(dump, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                dump, f"{out.name}-seed{args.seed}-spans.jsonl"))
        else:
            metrics = e2e
        detail["samples"] = {k: n for k, (_, n) in metrics.items()}
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({
            "correct": out.failed == 0,
            "attempted": int(out.attempted),
            "failed": int(out.failed),
            "metrics": _metric_block(metrics),
        }))
        return 0
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    return run(_args(argv))


if __name__ == "__main__":
    sys.exit(main())
