"""Closed-loop benchmark of the engine, run from the repository root:

    python3 perfbench/run.py --workload catalog_lookup --seed 1 \\
        --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``catalog_lookup`` -- planning-bound SQL over a catalog bigger than
  the engine's caches;
* ``lakehouse_rw`` -- reads beside INSERT/UPDATE/MERGE/DELETE/OPTIMIZE
  on Delta, Iceberg, Hudi and hive tables;
* ``llm_curate`` -- the LLM-data operators.

The benchmark drives the package only through ``GlueSparkEngine.sql``,
``io.read_table`` and the ``operators`` functions, with the default
``EngineConfig``.  Inputs are generated from ``--seed`` and cached under
``.perfbench/`` in the working directory.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: the closed loop stops taking new blocks after this many seconds
HARD_STOP_S = 100.0
#: set-ups per run; ``setup_s`` is their median
SETUPS = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path):
    from glue_table_cache_spark.session import build_session

    cores = _cores()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                "-XX:ReservedCodeCacheSize=1g "
                f"-Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM it launched and the Python workers under it,
    and wait until they have exited."""
    from pyspark import SparkContext

    import harness

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to a kill
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(harness.process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def load_workload(name: str):
    if name == "catalog_lookup":
        from catalog_lookup import Workload
    elif name == "lakehouse_rw":
        from lakehouse_rw import Workload
    elif name == "llm_curate":
        from llm_curate import Workload
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return Workload


def measure(args) -> dict:
    import harness
    import metrics
    import tracing

    t_start = harness.process_start_wall()
    work = Path.cwd() / ".perfbench"
    (work / "records").mkdir(parents=True, exist_ok=True)
    wl = load_workload(args.workload)(work, args.seed)
    # building the seeded inputs (first use of a seed) is not set-up; it
    # runs in a process of its own, so the JVM measured here is equally
    # cold whether or not the inputs were cached
    t0 = time.time()
    wl.prepare()
    # write the inputs just built or copied out to disk, so that their
    # write-back does not compete with the timed ops
    os.sync()
    build_s = time.time() - t0

    setups = []
    spark = None
    for i in range(SETUPS):
        if i:
            # stopping the previous session is teardown, not set-up
            spark.stop()
        t0 = time.time()
        spark = start_session(work)
        wl.setup(spark)
        setups.append(
            time.time() - t0 if i else time.time() - t_start - build_s
        )

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)
        wl.store.tracer = tracer
        wl.fs.tracer = tracer

    def on_op(op, op_id):
        wl.before_op(op)
        if tracer is not None:
            tracer.begin_op(op_id, tracing.traced(op_id))

    def after_op(op, rec):
        if tracer is not None:
            tracer.begin_op(rec.op_id, False)
        rec.exec = harness.stage_metrics(spark, rec.op_id)
        wl.after_op(op, rec)

    loop = harness.ClosedLoop(
        spark,
        wl.streams(),
        seconds=args.seconds,
        min_ops=harness.min_samples(wl.tail_q),
        hard_stop_s=min(HARD_STOP_S, 4 * args.seconds + 20),
        on_op=on_op,
        after_op=after_op,
    )
    wall = loop.run()
    if tracer is not None:
        tracer.unpatch()
        wl.store.tracer = wl.fs.tracer = None
    final_errors, extra = wl.finish(spark, loop.records, wall)
    rss = harness.peak_rss_mb()
    out = metrics.compute(
        args, wl, loop.records, final_errors, extra,
        setups=setups, wall=wall, rss=rss, cores=_cores(),
        tracer=tracer, throughput=loop.throughput(),
    )
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with (work / "records").joinpath(f"{tag}.jsonl").open("w") as fh:
        for r in loop.records:
            fh.write(json.dumps({
                "op": r.op_id, "kind": r.kind, "label": r.label,
                "latency_s": r.latency, "call_s": r.call_end - r.start,
                "cpu_s": r.cpu_s, "jit_cpu_s": r.jit_cpu_s,
                "error": r.error, "exec": r.exec,
            }) + "\n")
    if tracer is not None:
        tracer.dump(work / "traces" / f"{tag}.jsonl")
    stop_session(spark)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import glue_table_cache_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    # Spark's Python workers import the package and the workloads' UDFs
    paths = [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["TMPDIR"] = str(Path.cwd() / ".perfbench" / "tmp")
    Path(os.environ["TMPDIR"]).mkdir(parents=True, exist_ok=True)
    out = measure(args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
