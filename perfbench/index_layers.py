"""The persisted-structure and ledger layers (``text_index``,
``ann_index``, ``streaming``), measured in the traced ``catalog_read``
run.

BM25 and IVF indexes are built over a base slice of the generated
documents and embeddings. Then each micro-batch arrives as one parquet
file per source and goes through five file-source streams with an
``availableNow`` trigger: BM25 ingest, IVF ingest, paragraph dedup,
boilerplate removal (the additive ledgers) and HLL distinct users (the
idempotent-merge ledger). After each batch a seeded BM25 probe and a
seeded IVF-ADC probe run. At the end every structure is compacted and
the last batch's probes run again; their rows must not change.

``build_text_index`` reserves batch id 0, and a stream started from a
fresh checkpoint begins at epoch 0, so ``stream_text_index_ingest``
cannot follow a build. The BM25 stream therefore calls the function
that stream wraps, ``ingest_text_delta``, with the epoch shifted by
one, the remedy that function's error message names.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

import gen_tables
import harness

# the generated tables hold at least 500 documents, 500 vectors and
# 1,000 events
BASE_DOCS, BATCH_DOCS = 250, 125
BASE_VECS, BATCH_VECS = 300, 100
BATCH_EVENTS = 500
BATCHES = 2
IVF_LISTS = 8
IVF_K, IVF_NPROBE, IVF_QUERIES = 5, 2, 8
SOURCES = ("docs", "vecs", "events")
STREAMS = ("bm25", "ivf", "paragraph", "boilerplate", "hll")


def prepare(tables_dir: Path, out: Path) -> Path:
    """Write the base slices and one file per batch and source, cut
    from the generated tables."""
    if (out / "_DONE").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    src = {
        "docs": ("documents", BASE_DOCS, BATCH_DOCS),
        "vecs": ("embeddings", BASE_VECS, BATCH_VECS),
        "events": ("events", 0, BATCH_EVENTS),
    }
    for name, (table, base, step) in src.items():
        t = pq.read_table(tables_dir / f"{table}.parquet")
        if base + BATCHES * step > t.num_rows:
            raise ValueError(f"{table} has {t.num_rows} rows, fewer than the slices need")
        (out / name).mkdir(parents=True)
        if base:
            pq.write_table(t.slice(0, base), out / name / "base.parquet")
        for i in range(BATCHES):
            pq.write_table(t.slice(base + i * step, step), out / name / f"b{i}.parquet")
    (out / "_DONE").touch()
    return out


def _files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*.parquet") if p.is_file()]


def _bytes(paths) -> int:
    return sum(p.stat().st_size for p in paths)


class Lifecycle:
    """One index tree: two indexes, three ledgers, five streams over
    three arrival directories."""

    def __init__(self, spark: harness.Spark, inputs: Path, root: Path) -> None:
        shutil.rmtree(root, ignore_errors=True)
        self.s, self.inputs, self.root = spark.session, inputs, root
        self.bm25, self.ivf = root / "bm25", root / "ivf"
        self.arrivals = {src: root / "in" / src for src in SOURCES}
        for p in self.arrivals.values():
            p.mkdir(parents=True)
        self.fed = 0

    def build_text(self) -> None:
        from chess_pipeline_spark.text_index import build_text_index

        build_text_index(self.s.read.parquet(str(self.inputs / "docs" / "base.parquet")), str(self.bm25))

    def build_ivf(self) -> None:
        from chess_pipeline_spark.ann_index import build_ivf_index

        vecs = self.s.read.parquet(str(self.inputs / "vecs" / "base.parquet"))
        build_ivf_index(vecs.select("vec_id", "embedding"), str(self.ivf), n_lists=IVF_LISTS)

    def _writer(self, stream: str):
        from chess_pipeline_spark.ann_index import stream_ingest_ivf
        from chess_pipeline_spark.streaming.jobs import (
            read_documents_stream,
            read_events_stream,
            stream_boilerplate_removal,
            stream_hll_distinct,
            stream_paragraph_dedup,
        )
        from chess_pipeline_spark.text_index import ingest_text_delta

        r = self.root
        docs = read_documents_stream(self.s, str(self.arrivals["docs"]), glob="*.parquet")
        if stream == "bm25":
            bm25 = str(self.bm25)
            return docs.writeStream.foreachBatch(
                lambda batch, i: ingest_text_delta(batch, bm25, i + 1)
            )
        if stream == "ivf":
            schema = self.s.read.parquet(str(self.inputs / "vecs" / "base.parquet")).schema
            vecs = self.s.readStream.schema(schema).parquet(str(self.arrivals["vecs"]))
            return stream_ingest_ivf(vecs.select("vec_id", "embedding"), str(self.ivf))
        if stream == "paragraph":
            return stream_paragraph_dedup(docs, str(r / "para_ledger"), str(r / "para_verdicts"))
        if stream == "boilerplate":
            return stream_boilerplate_removal(docs, str(r / "boiler_ledger"), str(r / "boiler_verdicts"))
        events = read_events_stream(self.s, str(self.arrivals["events"]), glob="*.parquet")
        return stream_hll_distinct(events, str(r / "hll_registers"), str(r / "hll_estimates"))

    def feed(self) -> None:
        """Make the next batch file of every source visible."""
        for src in SOURCES:
            name = f"b{self.fed}.parquet"
            shutil.copyfile(self.inputs / src / name, self.arrivals[src] / name)
        self.fed += 1

    def run_stream(self, stream: str) -> tuple[str, int]:
        """Drain one stream with an availableNow trigger. Returns the
        run id, the job group its micro-batches run under, and the
        number of micro-batches."""
        q = (
            self._writer(stream)
            .option("checkpointLocation", str(self.root / "ckpt" / stream))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream {stream}: {q.exception()}")
        batches = {p["batchId"] for p in q.recentProgress}
        return str(q.runId), len(batches)

    def compact_text(self) -> None:
        from chess_pipeline_spark.text_index import compact_text_index

        compact_text_index(self.s, str(self.bm25))

    def compact_ivf(self) -> None:
        from chess_pipeline_spark.ann_index import compact_ivf_index

        compact_ivf_index(self.s, str(self.ivf))

    def compact_ledgers(self) -> None:
        from chess_pipeline_spark.streaming.jobs import (
            compact_boilerplate_ledger,
            compact_paragraph_ledger,
        )

        compact_paragraph_ledger(self.s, str(self.root / "para_ledger"))
        compact_boilerplate_ledger(self.s, str(self.root / "boiler_ledger"))

    def probe_bm25(self, terms: tuple[str, ...]) -> list[tuple]:
        from chess_pipeline_spark.text_index import probe_bm25

        return sorted(map(tuple, probe_bm25(self.s, str(self.bm25), terms).collect()))

    def probe_ivf(self, qids: list[int]) -> list[tuple]:
        import pyspark.sql.functions as F

        from chess_pipeline_spark.ann_index import probe_ivf_adc

        vecs = self.s.read.parquet(str(self.inputs / "vecs" / "base.parquet"))
        queries = vecs.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        out = probe_ivf_adc(self.s, str(self.ivf), queries, k=IVF_K, nprobe=IVF_NPROBE)
        return sorted(map(tuple, out.collect()))


def _probe_specs(seed: int) -> list[tuple[tuple[str, ...], list[int]]]:
    """One (BM25 terms, IVF query ids) pair per batch."""
    rng = random.Random(f"probes:{seed}")
    vocab = [w for w in gen_tables.WORDS if w not in ("a", "the")] + ["dup"]
    return [
        (tuple(rng.sample(vocab, 3)), sorted(rng.sample(range(BASE_VECS), IVF_QUERIES)))
        for _ in range(BATCHES)
    ]


def measure(
    ctx: harness.Context, spark: harness.Spark, inputs: Path, tracer: harness.Tracer
) -> tuple[dict[str, float], dict[str, tuple[float, str]]]:
    """Build, stream, probe, compact and probe again, each call in its
    own span. Returns the per-layer metrics and the index lifecycle's
    own named metrics. A failing call raises: the lifecycle cannot go
    on without it."""
    life = Lifecycle(spark, inputs, ctx.work / "index")
    t: dict[str, list[float]] = {}
    stream_jobs: dict[str, list[float]] = {s: [] for s in STREAMS}
    span_names = {"bm25": "text_index.ingest", "ivf": "ann_index.ingest"}

    def op(name: str, fn):
        ctx.attempt()
        t0 = time.perf_counter()
        with tracer.span(name) as sp:
            out = fn(sp)
        t.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def stream(sp, name: str) -> harness.Span:
        run_id, batches = life.run_stream(name)
        sp.extra_groups.append(run_id)
        sp.attrs["batches"] = batches
        return sp

    op("text_index.build", lambda sp: life.build_text())
    op("ann_index.build", lambda sp: life.build_ivf())
    specs = _probe_specs(ctx.seed)
    before: list[list[tuple]] = []
    for terms, qids in specs:
        life.feed()
        b0 = time.perf_counter()
        for name in STREAMS:
            sp = op(span_names.get(name, f"streaming.{name}"), lambda sp: stream(sp, name))
            stream_jobs[name].append(sp.counters.get("jobs", 0.0) / max(sp.attrs["batches"], 1))
        t.setdefault("batch", []).append(time.perf_counter() - b0)
        before = [
            op("text_index.probe", lambda sp: life.probe_bm25(terms)),
            op("ann_index.probe", lambda sp: life.probe_ivf(qids)),
        ]

    dirs = {"text_index": life.bm25, "ann_index": life.ivf}
    files_before = {k: len(_files(p)) for k, p in dirs.items()}
    op("text_index.compact", lambda sp: life.compact_text())
    op("ann_index.compact", lambda sp: life.compact_ivf())
    op("streaming.compact", lambda sp: life.compact_ledgers())
    files_after = {k: len(_files(p)) for k, p in dirs.items()}
    terms, qids = specs[-1]
    after = [
        op("text_index.probe", lambda sp: life.probe_bm25(terms)),
        op("ann_index.probe", lambda sp: life.probe_ivf(qids)),
    ]
    ctx.check(before[0] == after[0], "BM25 probe rows changed across compaction")
    ctx.check(before[1] == after[1], "IVF-ADC probe rows changed across compaction")
    ctx.check(all(before), "a probe returned no rows")

    input_bytes = {
        "text_index": _bytes(_files(inputs / "docs")),
        "ann_index": _bytes(_files(inputs / "vecs")),
    }
    layers = {}
    for k, path in dirs.items():
        layers.update(
            {
                f"{k}.build_s": t[f"{k}.build"][0],
                f"{k}.ingest_p50_s": statistics.median(t[f"{k}.ingest"]),
                f"{k}.compact_s": t[f"{k}.compact"][0],
                f"{k}.probe_p50_s": statistics.median(t[f"{k}.probe"]),
                f"{k}.files_before_compact": files_before[k],
                f"{k}.files_after_compact": files_after[k],
                f"{k}.bytes_per_input_byte": _bytes(_files(path)) / input_bytes[k],
            }
        )
    for name in ("paragraph", "boilerplate", "hll"):
        layers[f"streaming.{name}_batch_p50_s"] = statistics.median(t[f"streaming.{name}"])
        layers[f"streaming.{name}_jobs_per_batch"] = statistics.median(stream_jobs[name])
    compact = ("text_index.compact", "ann_index.compact", "streaming.compact")
    named = {
        "index_build_s": (t["text_index.build"][0] + t["ann_index.build"][0], "s"),
        "ingest_batch_p50_s": (statistics.median(t["batch"]), "s"),
        "index_compact_s": (sum(t[c][0] for c in compact), "s"),
        "bm25_probe_p50_s": (layers["text_index.probe_p50_s"], "s"),
        "ivf_probe_p50_s": (layers["ann_index.probe_p50_s"], "s"),
    }
    return layers, named
