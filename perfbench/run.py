#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

  python3 perfbench/run.py --workload game_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. Inputs are
generated from ``--seed`` into ``.perfbench_work/`` (cached, and kept
out of every timer), one Spark driver runs on ``local[n]`` with n the
usable cores capped at 2, and every scratch file Spark or Python
writes stays under ``.perfbench_work/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (``round_s``, ``setup_s``,
``peak_rss_mb``); with ``--trace 1`` they are the per-layer ones, read
from spans around each layer's public functions. The line before it
holds the run's stamp and the workload's own named metrics. A failed
correctness check prints ``"correct": false`` and exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

# two task threads leave the other cores to the Python driver and the
# JVM's compiler and GC threads, which on a warm catalog pass use more
# CPU than the tasks do; the ETL's round was no slower than on four
MAX_CORES = 2


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="game_etl or catalog_read")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _confine_scratch(work: Path) -> None:
    """Point every temp and scratch directory of Python, Spark and the
    JVM into ``work``. Must run before pyspark or tempfile is used."""
    tmp = work / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # a 1 GB heap, not the engine's 8 GB: at 8 GB the JVM's resident
    # size doubles on a machine whose memory is shared, and its peak
    # wanders with GC timing (perfbench/README.md has the runs)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # without this each JVM, the launcher's too, writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the launcher splits this on spaces outside double quotes
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        f'"{opt}"'
        for opt in (
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.showConsoleProgress=false",
            # keep every job and stage of a run in the status store,
            # which the traced run reads its counters from
            "-Dspark.ui.retainedJobs=100000",
            "-Dspark.ui.retainedStages=100000",
        )
    )
    import tempfile

    tempfile.tempdir = str(tmp)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    root = Path.cwd().resolve()
    if not (root / "chess_pipeline_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no chess_pipeline_spark package under {root}; "
            "run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    work = root / ".perfbench_work"
    _confine_scratch(work)
    sys.path.insert(0, str(root))

    import harness
    import wl_catalog_read
    import wl_game_etl

    workloads = {"game_etl": wl_game_etl, "catalog_read": wl_catalog_read}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    ctx = harness.Context(root, work, args.seed, args.seconds, bool(args.trace), cores)
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "git_sha": harness.git_sha(root),
        "source_sha1": harness.source_digest(root),
        "nproc": os.cpu_count(),
        "master": f"local[{cores}]",
        "loadavg_start": harness.loadavg(),
    }
    steal0 = harness.steal_s()
    wl = workloads[args.workload]

    t0 = time.perf_counter()
    inputs = wl.prepare(ctx)
    gen_s = time.perf_counter() - t0

    spark = harness.start_spark(cores)
    try:
        spark.session.range(1).count()
        session_s = harness.process_age_s() - gen_s
        with harness.RssSampler(spark) as rss:
            out = wl.run(ctx, spark, inputs)
    finally:
        spark.stop()

    setup_s = session_s + out.warmup_s
    if args.trace:
        unknown = set(out.layers) - set(per_layer)
        if unknown:
            raise ValueError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {
            k: {"value": out.layers.get(k, 0.0), "unit": u} for k, u in per_layer.items()
        }
    else:
        metrics = {
            "round_s": {"value": out.round_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    stamp["loadavg_end"] = harness.loadavg()
    stamp["steal_s"] = round(harness.steal_s() - steal0, 2)
    detail = {
        "stamp": stamp,
        "input_gen_s": gen_s,
        "session_s": session_s,
        "warmup_s": out.warmup_s,
        "rounds": out.rounds,
        "peak_rss_jvm_mb": rss.jvm_peak_mb,
        "peak_rss_workers_mb": rss.workers_peak_mb,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in out.named.items()},
        "failures": ctx.failures,
    }
    results = work / "results"
    results.mkdir(exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    (results / f"{tag}.json").write_text(json.dumps(detail, indent=1) + "\n")
    if args.trace:
        out.tracer.dump(results / f"{tag}.spans.json")
    print(json.dumps(detail))
    correct = not ctx.failures
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.attempted,
                "failed": len(ctx.failures),
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
