"""catalog_read: read-only analytics over the query catalog.

One round is one warm pass over a fixed mix of catalog queries, each
forced end to end into Spark's noop sink with its checkpoint pins
released between queries, as ``bench.py`` does. The seed generates
the input tables and sets the query order. The warm-up is one pass
that compares every query's result with its DuckDB oracle
(``tests/oracle_harness.py``), which takes the cold start, then
``WARM_PASSES`` passes into the noop sink: the driver's JIT is still
speeding the passes up until then. Correctness is so checked outside
the timed passes, on the tables the passes read. A round's time is
each query's median over the timed passes, summed.

The traced run also measures the index and ledger layers
(``index_layers.py``) over slices of the same generated tables.
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

import gen_tables
import harness
import index_layers

# TPC-H scale of the generated tables: lineitem 6k rows, orders 1.5k,
# events 1k, documents and embeddings 500. At sf0.1 one run took
# 60-75 s with one 11-18 s pass in the timed window, and 4 + 22 runs
# of each workload must end within 3420 s on four cores; at this size
# the queries' cost is mostly driver-side plan build and scheduling.
# Three of the ROADMAP's carried catalog items: the Count-Min join
# estimate (its six lineitem scans), the source KL divergence (its
# unbounded global window) and the media near-duplicate search (the
# trace's acceptance example); bench.py times the whole catalog.
SCALE = 0.001
# noop passes after the oracle pass before timing starts: on four vCPUs,
# after a noop and an oracle pass, the next five passes ran 6.9, 7.2,
# 5.8, 5.4 and 4.7 s and later ones 4.2-4.8 s, with the JVM's compiler
# threads still busy
WARM_PASSES = 3
MIX = (
    "cms_join_size_estimate",
    "source_kl_divergence",
    "media_phash_near_dup",
)


def prepare(ctx: harness.Context) -> tuple[Path, Path | None]:
    """The catalog tables, and with ``--trace 1`` the index slices."""
    d = ctx.work / "inputs" / f"tables-s{ctx.seed}-x{SCALE}"
    tables = Path(gen_tables.write_tables(ctx.seed, SCALE, str(d)))
    if not ctx.trace:
        return tables, None
    index = ctx.work / "inputs" / f"index-s{ctx.seed}-x{SCALE}"
    return tables, index_layers.prepare(tables, index)


def _timed_pass(ctx, spark, cat, order, sf_dir) -> dict[str, float]:
    from chess_pipeline_spark.checkpoints import scoped_checkpoints

    out = {}
    for name in order:
        ctx.attempt()
        # pins are released outside the timer, as in bench.py
        with scoped_checkpoints(spark.session):
            t0 = time.perf_counter()
            try:
                cat[name].spark(spark.session, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed query is counted, the pass goes on
                ctx.fail(f"{name}: {type(e).__name__}: {e}")
            out[name] = time.perf_counter() - t0
    return out


def _traced_pass(ctx, spark, cat, order, sf_dir, tracer) -> dict[str, dict[str, float]]:
    """Each query's driver-side build, its Catalyst phases and its
    execution, in separate spans."""
    from chess_pipeline_spark.checkpoints import scoped_checkpoints
    from chess_pipeline_spark.introspect import plan_metrics

    out = {}
    for name in order:
        ctx.attempt()
        with scoped_checkpoints(spark.session), tracer.span(f"catalog.{name}"):
            with tracer.span("plans.build"):
                df = cat[name].spark(spark.session, sf_dir)
            with tracer.span("trace.plan_inspect"):
                catalyst_s = harness.catalyst_phases_s(df)
                exchanges = plan_metrics(df)["exchanges"]
            with tracer.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
        out[name] = {"catalyst_s": catalyst_s, "exchanges": exchanges}
    return out


def run(ctx: harness.Context, spark: harness.Spark, inputs: tuple[Path, Path | None]) -> harness.Outcome:
    from chess_pipeline_spark.plans import catalog
    from tests import oracle_harness

    cat = catalog()
    order = list(MIX)
    random.Random(f"order:{ctx.seed}").shuffle(order)
    sf = str(inputs[0])

    # warm-up: the oracle pass checks every result and takes the cold
    # start, then noop passes until the driver's JIT has settled
    t0 = time.perf_counter()
    for name in order:
        ctx.attempt()
        try:
            oracle_harness.run_and_compare(spark.session, sf, name, cat[name])
        except Exception as e:  # mismatch or failure: counted, the pass goes on
            ctx.fail(f"{name} vs its DuckDB oracle: {type(e).__name__}: {e}")
    for _ in range(WARM_PASSES):
        _timed_pass(ctx, spark, cat, order, sf)
    warmup_s = time.perf_counter() - t0

    passes: list[dict[str, float]] = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < ctx.seconds:
        passes.append(_timed_pass(ctx, spark, cat, order, sf))
    per_query = {f"catalog.{q}_s": statistics.median([p[q] for p in passes]) for q in MIX}
    # a typical pass: each query's median over the passes, summed, so a
    # stall in one query of one pass does not move the whole pass
    pass_s = sum(per_query.values())
    named = {
        "catalog_pass_s": (pass_s, "s"),
        **{k: (v, "s") for k, v in per_query.items()},
    }

    tracer = harness.Tracer(spark, enabled=ctx.trace)
    layers: dict[str, float] = {}
    if ctx.trace:
        # the overhead compares the traced pass with the timed passes'
        # typical one, which the warm-up has brought near steady state
        t1 = time.perf_counter()
        plans = _traced_pass(ctx, spark, cat, order, sf, tracer)
        traced_s = time.perf_counter() - t1
        layers = {
            "plans.build_s": tracer.total("plans.build"),
            "plans.build_jobs": tracer.counter("plans.build", "jobs"),
            "catalyst.plan_s": sum(p["catalyst_s"] for p in plans.values()),
            "plans.exec_s": tracer.total("plans.exec"),
            "plans.exchanges": sum(p["exchanges"] for p in plans.values()),
            **per_query,
            "trace.overhead_s": traced_s - pass_s,
        }
        # the spark.* counters are the catalog pass's; the index spans
        # below report their own
        layers.update(harness.spark_layer(tracer))
        try:
            index, index_named = index_layers.measure(ctx, spark, inputs[1], tracer)
        except Exception as e:  # counted; the index lifecycle cannot go on
            ctx.fail(f"index lifecycle: {type(e).__name__}: {e}")
        else:
            layers.update(index)
            named.update(index_named)
    return harness.Outcome(
        round_s=pass_s,
        rounds=passes,
        warmup_s=warmup_s,
        named=named,
        layers=layers,
        tracer=tracer,
    )
