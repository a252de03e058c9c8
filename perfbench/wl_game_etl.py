"""game_etl: the paper's workload, PGN + JSON -> seven tables ->
newsletter, through the user path (``scripts/run_etl.py``).

One round: a day batch *loads* into an empty warehouse, a second day
batch *refreshes* it (a seeded share of the first day's games is sent
again, and both days share opening prefixes, so the upserts replace
rows and the eval cache gets hits), and the newsletter is built from
the materialized ``chess_games``. There is no warm-up: the ETL runs
as a daily batch job does, in a fresh driver, so the load pays the
cold start of the plans it runs. Row counts are checked against the
generator's totals after every batch, outside the timers.
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

import gen_games
import harness

GAMES_PER_DAY = 40
RESEND_SHARE = 0.2
RECEIVER = "bench@example.com"
TABLES = (
    "chess_games",
    "game_moves",
    "game_clocks",
    "game_positions",
    "game_materials",
    "position_evals",
    "win_probabilities",
)
_PER_PLY = ("game_moves", "game_clocks", "game_positions", "win_probabilities")
_ARROW = ("pythonDataSent", "pythonDataReceived")


@dataclass
class Batch:
    pgn: Path
    json: Path
    games: list[dict]  # id, plies, speed, player_elo per game

    @property
    def n(self) -> int:
        return len(self.games)


def _write_batch(games: list[gen_games.Game], stem: Path) -> Batch:
    pgn, js = stem.with_suffix(".pgn"), stem.with_suffix(".ndjson")
    pgn.write_text("\n\n".join(g.pgn for g in games))
    js.write_text("\n".join(json.dumps(g.record) for g in games) + "\n")
    meta = [
        {
            "id": g.game_id,
            "plies": g.plies,
            "speed": g.record["speed"],
            "player_elo": (
                g.record["players_white_rating"]
                if g.record["players_white_user_name"] == gen_games.PLAYER
                else g.record["players_black_rating"]
            ),
        }
        for g in games
    ]
    stem.with_suffix(".meta.json").write_text(json.dumps(meta))
    return Batch(pgn, js, meta)


def _read_batch(stem: Path) -> Batch:
    meta = json.loads(stem.with_suffix(".meta.json").read_text())
    return Batch(stem.with_suffix(".pgn"), stem.with_suffix(".ndjson"), meta)


def prepare(ctx: harness.Context) -> tuple[Batch, Batch]:
    """Generate (or reuse) the two day batches for the seed."""
    d = ctx.work / "inputs" / f"games-s{ctx.seed}-n{GAMES_PER_DAY}"
    stems = (d / "day1", d / "day2")
    if not (d / "_DONE").exists():
        d.mkdir(parents=True, exist_ok=True)
        days = gen_games.day_batches(ctx.seed, GAMES_PER_DAY, RESEND_SHARE)
        for stem, games in zip(stems, days):
            _write_batch(games, stem)
        (d / "_DONE").touch()
    return _read_batch(stems[0]), _read_batch(stems[1])


# -- correctness -----------------------------------------------------------


def _check_tables(ctx: harness.Context, wh: Path, loaded: list[Batch], what: str) -> None:
    """Row counts equal the generator's totals over the distinct games
    loaded so far, and no game appears twice in chess_games."""
    games = {g["id"]: g for b in loaded for g in b.games}
    plies = sum(g["plies"] for g in games.values())
    want = {"chess_games": len(games), "game_materials": plies + len(games)}
    want.update(dict.fromkeys(_PER_PLY, plies))
    for table, n in want.items():
        got = pq.ParquetDataset(wh / table).read(columns=[]).num_rows
        ctx.check(got == n, f"{what}: {table} has {got} rows, expected {n}")
    links = pq.read_table(wh / "chess_games", columns=["game_link"]).column(0).to_pylist()
    ctx.check(
        len(set(links)) == len(links),
        f"{what}: chess_games holds {len(links) - len(set(links))} duplicate games",
    )


def _expected_elo_sentence(loaded: list[Batch]) -> str:
    games = {g["id"]: g for b in loaded for g in b.games}
    elos = [g["player_elo"] for g in games.values() if g["speed"] == "blitz"]
    return (
        f"your highest elo in blitz was {max(elos)} and your lowest elo was {min(elos)}"
    )


def _check_goldens(ctx: harness.Context, spark: harness.Spark) -> None:
    """The fixture games still parse to their golden per-ply rows."""
    from chess_pipeline_spark.plans.winprob import QUERIES
    from tests import oracle_harness

    ctx.attempt()
    try:
        oracle_harness.run_and_compare(
            spark.session, str(ctx.work), "pgn_moves_table", QUERIES["pgn_moves_table"]
        )
    except AssertionError as e:
        ctx.fail(f"fixture goldens: {e}")


# -- the user path -----------------------------------------------------------


def _etl(spark: harness.Spark, batch: Batch, wh: Path) -> None:
    import run_etl

    rc = run_etl.main(
        [
            "games",
            "--pgn", str(batch.pgn),
            "--json", str(batch.json),
            "--player", gen_games.PLAYER,
            "--out", str(wh),
        ],
        spark=spark.session,
    )
    if rc != 0:
        raise RuntimeError(f"run_etl games exited {rc}")


def _newsletter(spark: harness.Spark, wh: Path, tracer: harness.Tracer) -> dict[str, str]:
    from chess_pipeline_spark import newsletter as nl
    from chess_pipeline_spark.operators.chess_transforms import (
        get_color_stats,
        get_elo_by_weekday,
    )

    with tracer.span("newsletter"):
        games = spark.session.read.parquet(str(wh / "chess_games"))
        stats = get_color_stats(games)
        elo = get_elo_by_weekday(games, "blitz")
        texts = [
            nl.color_stats_text(stats),
            nl.elo_by_weekday_text(elo, "blitz"),
            nl.win_ratio_by_color_text(stats),
        ]
        nl.render_color_stats_svg(stats)
        nl.render_elo_by_weekday_svg(elo)
        return nl.build_newsletter(texts, gen_games.PLAYER, RECEIVER)


# -- the traced path: the same user path, one layer at a time ---------------


@contextmanager
def _wrapped(module, name: str, wrap):
    """Replace ``module.name`` by ``wrap(original)`` for the block.
    ``run_etl`` imports the engine's functions when it is called, so
    it picks the wrapper up."""
    original = getattr(module, name)
    setattr(module, name, wrap(original))
    try:
        yield
    finally:
        setattr(module, name, original)


@contextmanager
def _traced_user_path(spark: harness.Spark, tracer: harness.Tracer, hits: dict):
    """Spans around the two engine calls ``run_etl`` makes. The parse
    wrapper forces and persists the parsed frame on its own
    QueryExecution, so the ``MapInPandas`` SQL metrics can be read.
    The materialize wrapper forces the lazy tables in DAG order, each
    persisted in its own span (clean, the explodes, the eval cache,
    win probabilities), looks the batch's FENs up in the eval cache on
    disk, then runs the real upserts over frames already in memory."""
    from pyspark.errors import AnalysisException

    from chess_pipeline_spark import parse, pipeline

    held = []

    def parse_wrap(real):
        def parse_pgn_dataframe(df, *a, **kw):
            with tracer.span("parse") as sp:
                cpu0 = spark.python_worker_cpu_s()
                out = real(df, *a, **kw).persist()
                sp.attrs.update(harness.execute_with_metrics(out, _ARROW))
                sp.attrs["python_cpu_s"] = spark.python_worker_cpu_s() - cpu0
            held.append(out)
            return out

        return parse_pgn_dataframe

    def materialize_wrap(real):
        def materialize(out, base_path, *a, **kw):
            with tracer.span("operators.clean"):
                if out.cleaned is not None:
                    out.cleaned.count()
            with tracer.span("operators.explode"):
                for df in (
                    out.chess_games,
                    out.game_moves,
                    out.game_clocks,
                    out.game_positions,
                    out.game_materials,
                ):
                    df.persist().count()
            with tracer.span("trace.eval_cache_probe"):
                fens = out.game_positions.select("fen").distinct()
                hits["lookups"] = fens.count()
                try:
                    cache = spark.session.read.parquet(f"{base_path}/position_evals")
                    hits["hits"] = fens.join(cache.select("fen"), "fen", "left_semi").count()
                except AnalysisException:  # the load: no cache yet
                    hits["hits"] = 0
            with tracer.span("operators.evals"):
                out.position_evals.persist().count()
            with tracer.span("operators.winprob"):
                out.win_probabilities.persist().count()
            tables = list(out.tables().values())
            with tracer.span("sinks.upsert") as sp:
                real(out, base_path, *a, **kw)
                sp.attrs["files"] = sum(
                    len(list(Path(base_path, t).glob("part-*"))) for t in TABLES
                )
            for df in tables + held:
                df.unpersist()
            held.clear()

        return materialize

    with _wrapped(parse, "parse_pgn_dataframe", parse_wrap), _wrapped(
        pipeline, "materialize", materialize_wrap
    ):
        yield


# -- the run -------------------------------------------------------------------


def _round(
    ctx: harness.Context,
    spark: harness.Spark,
    day1: Batch,
    day2: Batch,
    wh: Path,
    tracer: harness.Tracer,
    hits: dict | None = None,
) -> dict[str, float]:
    """Load, refresh and newsletter into an empty warehouse. With
    ``hits`` the batches run traced and the refresh's eval cache
    lookups land in it."""
    shutil.rmtree(wh, ignore_errors=True)
    t = {}
    for step, batch, loaded in (("load", day1, [day1]), ("refresh", day2, [day1, day2])):
        ctx.attempt()
        t0 = time.perf_counter()
        with tracer.span(f"etl.{step}"):
            if hits is None:
                _etl(spark, batch, wh)
            else:
                with _traced_user_path(spark, tracer, hits):
                    _etl(spark, batch, wh)
        t[step] = time.perf_counter() - t0
        _check_tables(ctx, wh, loaded, f"{step} of {batch.pgn.name}")
    ctx.attempt()
    t0 = time.perf_counter()
    letter = _newsletter(spark, wh, tracer)
    t["newsletter"] = time.perf_counter() - t0
    ctx.check(
        _expected_elo_sentence([day1, day2]) in letter["html"],
        "newsletter: blitz elo sentence differs from the generated games",
    )
    return t


def run(ctx: harness.Context, spark: harness.Spark, inputs: tuple[Batch, Batch]) -> harness.Outcome:
    sys.path.insert(0, str(ctx.root / "scripts"))
    tracer = harness.Tracer(spark, enabled=ctx.trace)
    untraced = harness.Tracer(spark, enabled=False)
    wh = ctx.work / "warehouse"
    day1, day2 = inputs

    rounds: list[dict[str, float]] = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < ctx.seconds:
        rounds.append(_round(ctx, spark, day1, day2, wh, untraced))
    hits: dict[str, int] = {}
    traced_round = None
    if ctx.trace:
        # the overhead compares the traced round with a warm untraced
        # one: the timed rounds above include the cold start
        warm = _round(ctx, spark, day1, day2, wh, untraced)
        traced_round = _round(ctx, spark, day1, day2, wh, tracer, hits)
    _check_goldens(ctx, spark)

    n1, n2 = day1.n, day2.n
    named = {
        "etl_load_games_per_s": (statistics.median([n1 / r["load"] for r in rounds]), "1/s"),
        "etl_refresh_games_per_s": (statistics.median([n2 / r["refresh"] for r in rounds]), "1/s"),
        "newsletter_s": (statistics.median([r["newsletter"] for r in rounds]), "s"),
    }
    out_layers = {}
    if traced_round is not None:
        out_layers = _layer_metrics(tracer, hits)
        out_layers.update(harness.spark_layer(tracer))
        overhead = sum(traced_round.values()) - sum(warm.values())
        out_layers["trace.overhead_s"] = overhead
    return harness.Outcome(
        round_s=statistics.median([sum(r.values()) for r in rounds]),
        rounds=rounds,
        warmup_s=0.0,
        named=named,
        layers=out_layers,
        tracer=tracer,
    )


def _layer_metrics(tracer: harness.Tracer, hits: dict[str, int]) -> dict[str, float]:
    """``hits`` holds the last traced batch's lookups: the refresh."""
    parse = [s for s in tracer.spans if s.name == "parse"]
    upserts = [s for s in tracer.spans if s.name == "sinks.upsert"]
    return {
        "parse.wall_s": sum(s.seconds for s in parse),
        "parse.cpu_s": sum(s.attrs["python_cpu_s"] for s in parse),
        "parse.arrow_bytes_to_python": sum(s.attrs["pythonDataSent"] for s in parse),
        "parse.arrow_bytes_from_python": sum(s.attrs["pythonDataReceived"] for s in parse),
        "operators.clean_s": tracer.total("operators.clean"),
        "operators.explode_s": tracer.total("operators.explode"),
        "operators.evals_s": tracer.total("operators.evals"),
        "operators.winprob_s": tracer.total("operators.winprob"),
        "operators.eval_cache_hit_share": hits["hits"] / hits["lookups"],
        "sinks.upsert_s": tracer.total("sinks.upsert"),
        "sinks.files_written": sum(s.attrs["files"] for s in upserts),
        "sinks.bytes_written": tracer.counter("sinks.upsert", "output_bytes"),
        "newsletter.build_s": tracer.total("newsletter"),
    }
