"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/README.md`` says why each exists):

- ``serve``: read-only multi-tenant serving over HTTP, all tenants.
- ``ingest``: the same reads on the hot tenants, with writes interleaved.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
layers, prints the per-layer metrics and writes the spans. Both write a
full report to ``perfbench/out/``. A failed request or output check makes
``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"

# setups per run; the reported set-up time is their median
SETUP_REPS = 3
# mean recall@k of a run's params.exact=false requests. IVF over the
# structureless mock embeddings gives 0.4-1.0 per request; a broken index
# route gives about k / tenant size, far below the floor
ANN_RECALL_FLOOR = 0.3

# gated metrics: each rests on enough samples in every workload's window
END_TO_END = ("setup_s", "rps", "read_p50_ms", "search_p50_ms")


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _environment(run_dir: Path) -> None:
    """Keep every file the run writes inside the checkout, let pandas-UDF
    workers import the package, and bound the driver heap."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "vectordb_cloud_spark" / "__init__.py").is_file():
        _fail(f"the vectordb_cloud_spark package is missing under {ROOT}")
    sys.path.insert(0, str(ROOT))

    run_dir = OUT / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir)

    from perfbench import check, gen, procstat
    from perfbench.report import client_metrics, per_layer
    from perfbench.service import Client, Model, Stack, check_records

    stamps = {"start": procstat.stamp(None)}
    t0 = time.perf_counter()
    from vectordb_cloud_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    tracer = None
    wrap = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        wrap = functools.partial(tracer.wrap_wsgi, sc=sc)

    sizes = gen.Sizes()
    stack = None
    rep_s = []
    try:
        for rep in range(SETUP_REPS):
            t1 = time.perf_counter()
            corpus, src = gen.make_corpus(args.seed, sizes)
            new = Stack(spark, str(run_dir / f"catalog{rep}"), corpus, sizes,
                        wrap_app=wrap)
            rep_s.append(time.perf_counter() - t1)
            if stack is not None:
                stack.close()
            stack = new
        model = Model(corpus)
        make = gen.serve_schedule if args.workload == "serve" else gen.ingest_schedule
        ops = make(args.seed, sizes, corpus, src)
        # untimed and untraced; its answers are checked with the window's
        warmup = Client(stack, model)
        warmup.run(gen.warmup_schedule(args.workload, args.seed, sizes, corpus,
                                       src), None)

        if tracer is not None:
            tracer.install()
        svc = stack.svc
        hits0 = (svc._plan_hits, svc._shape_hits)
        io0 = procstat.write_bytes(jvm_pid)
        stamps["window_start"] = procstat.stamp(jvm_pid)
        client = Client(stack, model, tracer, sc)
        elapsed = client.run(ops, args.seconds)
        stamps["window_end"] = procstat.stamp(jvm_pid)
        io1 = procstat.write_bytes(jvm_pid)
        if tracer is not None:
            tracer.uninstall()
        hits = (svc._plan_hits - hits0[0], svc._shape_hits - hits0[1])

        checks = check_records(warmup.records + client.records,
                               check.VectorCache(), ANN_RECALL_FLOOR)
        catalog = {"data_dir": svc.catalog._current_data_dir(svc.index_name),
                   "root": stack.root}
        setup_s = session_s + statistics.median(rep_s)
        e2e = client_metrics(client.records, elapsed, setup_s,
                             client.points_written, client.round_rates())
        # a gated metric with no successful sample cannot be reported
        empty = [k for k in END_TO_END if e2e[k].get("n") == 0]
        layers = per_layer(client, tracer, e2e, hits, io0, io1, stamps,
                           catalog) if tracer is not None else None
    finally:
        if stack is not None:
            stack.close(remove=False)
        _stop_spark(spark)
    stamps["end"] = procstat.stamp(None)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    for rep in range(SETUP_REPS):
        shutil.rmtree(run_dir / f"catalog{rep}", ignore_errors=True)

    checked = warmup.records + client.records
    attempted = len(checked)
    failed = sum(not r["ok"] for r in checked)
    correct = failed == 0 and checks["ann_recall_ok"] and attempted > 0
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sizes": sizes.__dict__,
        "tenant_points": sorted(gen.tenant_sizes(corpus).values(), reverse=True),
        "session_s": session_s, "setup_reps_s": rep_s, "elapsed_s": elapsed,
        "attempted": attempted, "failed": failed, "checks": checks,
        "end_to_end": e2e, "per_layer": layers, "stamps": stamps,
        "warmup_ops": len(warmup.records),
        "failures": [r["error"] for r in checked if not r["ok"]][:20],
        "empty_metrics": empty,
        "ops": [[r["n"], r["kind"], round(r["ms"], 3), r["ok"],
                 r.get("op", {}).get("user_id"), bool(r.get("op", {}).get("repeat"))]
                for r in client.records],
    }
    (run_dir / "report.json").write_text(json.dumps(report, indent=1, default=str))
    if tracer is not None:
        tracer.write(str(run_dir / "spans.jsonl"))

    if empty:
        _fail(f"no successful samples for {empty}; see {run_dir}/report.json", 1)
    chosen = layers if args.trace else {k: e2e[k] for k in END_TO_END}
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in chosen.items()}
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
