"""Seeded PGN + JSON game generator for the game_etl workload.

Plays random legal games on ``chess_pipeline_spark.board.Board`` (the
engine's own SAN replay board) and writes them in the shape the game
ETL reads: a multi-game PGN text and one JSON record per game, as the
lichess export and API return them.

Legality is checked here, not by ``Board.apply_san``: that method does
not check castling, so castling moves are generated only with the
right intact, the squares between king and rook empty, and the king
not in check nor passing through or landing on an attacked square.
Every other move is kept only when it leaves the mover's king safe.
SAN uses minimal disambiguation (file, then rank, then both), covers
promotion to every piece, and marks check and mate. Each generated
move is replayed through ``Board.apply_san`` as a cross-check.

Opening prefixes come from a small seeded book, so FENs repeat across
games and the eval cache gets hits. A seeded share of games carry
``[%eval]`` annotations; every move carries ``[%clk]``. The eval of a
position is a hash of its FEN, so the same position always carries the
same eval.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

from chess_pipeline_spark.board import (
    _BISHOP_RAYS,
    _FILES,
    _KING,
    _KNIGHT,
    _ROOK_RAYS,
    Board,
    _name,
    _sq,
)

PLAYER = "BenchPlayer"
BOOK_LINES = 12
BOOK_PLIES = (4, 10)
MEAN_PLIES = 69
EVAL_SHARE = 0.35
_PROMOS = "QQQRBN"  # queen most often, every piece reachable
_TIME_CONTROLS = (("60+0", "bullet"), ("180+2", "blitz"), ("300+3", "blitz"), ("600+5", "rapid"))
_SLIDERS = {"R": _ROOK_RAYS, "B": _BISHOP_RAYS, "Q": _ROOK_RAYS + _BISHOP_RAYS}
_OPENINGS = (
    ("B30", "Sicilian Defense"),
    ("C50", "Italian Game"),
    ("D06", "Queen's Gambit"),
    ("A04", "Zukertort Opening"),
    ("E60", "King's Indian Defense"),
    ("C00", "French Defense"),
)


@dataclass(frozen=True)
class Move:
    frm: int
    to: int
    promo: str = ""
    castle: str = ""  # "K" or "Q" for castling


def _white(p: str) -> bool:
    return p.isupper()


def _pseudo_moves(b: Board) -> list[Move]:
    """Every pseudo-legal move for the side to move (no king-safety
    check; castling is added by ``_castles``)."""
    white = b.white_to_move
    out: list[Move] = []
    for frm, p in enumerate(b.sq):
        if not p or _white(p) != white:
            continue
        f, r = frm % 8, frm // 8
        u = p.upper()
        if u == "P":
            dr = 1 if white else -1
            last = 7 if white else 0
            nr = r + dr
            targets = []
            if 0 <= nr < 8 and not b.sq[_sq(f, nr)]:
                targets.append(_sq(f, nr))
                start = 1 if white else 6
                if r == start and not b.sq[_sq(f, r + 2 * dr)]:
                    targets.append(_sq(f, r + 2 * dr))
            for df in (-1, 1):
                nf = f + df
                if 0 <= nf < 8 and 0 <= nr < 8:
                    t = _sq(nf, nr)
                    q = b.sq[t]
                    if (q and _white(q) != white) or t == b.ep_square:
                        targets.append(t)
            for t in targets:
                if t // 8 == last:
                    out.extend(Move(frm, t, promo) for promo in "QRBN")
                else:
                    out.append(Move(frm, t))
        elif u in ("N", "K"):
            for df, dr in (_KNIGHT if u == "N" else _KING):
                nf, nr = f + df, r + dr
                if 0 <= nf < 8 and 0 <= nr < 8:
                    q = b.sq[_sq(nf, nr)]
                    if not q or _white(q) != white:
                        out.append(Move(frm, _sq(nf, nr)))
        else:
            for df, dr in _SLIDERS[u]:
                nf, nr = f + df, r + dr
                while 0 <= nf < 8 and 0 <= nr < 8:
                    q = b.sq[_sq(nf, nr)]
                    if q and _white(q) == white:
                        break
                    out.append(Move(frm, _sq(nf, nr)))
                    if q:
                        break
                    nf, nr = nf + df, nr + dr
    return out


def _castles(b: Board) -> list[Move]:
    """Castling moves with every rule ``Board.apply_san`` leaves out:
    rights intact, rook and king on their squares, the squares between
    them empty, and the king not in check, not passing through an
    attacked square and not landing on one."""
    white = b.white_to_move
    rank = 0 if white else 7
    king, rook = ("K", "R") if white else ("k", "r")
    out = []
    if b.sq[_sq(4, rank)] != king:
        return out
    for side, rook_file, between, path in (
        ("K", 7, (5, 6), (4, 5, 6)),
        ("Q", 0, (1, 2, 3), (4, 3, 2)),
    ):
        right = side if white else side.lower()
        if not b.castling[right] or b.sq[_sq(rook_file, rank)] != rook:
            continue
        if any(b.sq[_sq(f, rank)] for f in between):
            continue
        if any(b._attacked(_sq(f, rank), by_white=not white) for f in path):
            continue
        out.append(Move(_sq(4, rank), _sq(6 if side == "K" else 2, rank), castle=side))
    return out


def _ep_capture_sq(b: Board, m: Move) -> int | None:
    p = b.sq[m.frm]
    if p.upper() == "P" and m.to == b.ep_square and not b.sq[m.to] and m.frm % 8 != m.to % 8:
        return _sq(m.to % 8, m.frm // 8)
    return None


def _is_legal(b: Board, m: Move) -> bool:
    return bool(m.castle) or b._leaves_king_safe(m.frm, m.to, _ep_capture_sq(b, m))


def _san(b: Board, m: Move) -> str:
    """SAN before the move is applied (check suffix added by caller)."""
    if m.castle:
        return "O-O" if m.castle == "K" else "O-O-O"
    p = b.sq[m.frm]
    u = p.upper()
    capture = bool(b.sq[m.to]) or _ep_capture_sq(b, m) is not None
    dest = _name(m.to)
    if u == "P":
        s = (_FILES[m.frm % 8] + "x" + dest) if capture else dest
        return s + ("=" + m.promo if m.promo else "")
    rivals = [
        i
        for i, q in enumerate(b.sq)
        if q == p and i != m.frm and b._piece_reaches(q, i, m.to)
        and b._leaves_king_safe(i, m.to, None)
    ]
    dis = ""
    if rivals:
        if all(i % 8 != m.frm % 8 for i in rivals):
            dis = _FILES[m.frm % 8]
        elif all(i // 8 != m.frm // 8 for i in rivals):
            dis = str(m.frm // 8 + 1)
        else:
            dis = _name(m.frm)
    return u + dis + ("x" if capture else "") + dest


def _legal_move(b: Board, rng: random.Random, prefer_promo: bool) -> Move | None:
    """A uniformly drawn legal move, or None when there is none. Moves
    are shuffled and tested one at a time, so only the chosen move
    (and the ones drawn before it) pay the king-safety check."""
    moves = _pseudo_moves(b) + _castles(b)
    rng.shuffle(moves)
    if prefer_promo:
        # promote whenever a pawn can, half the time, so a modest
        # corpus holds promotions to every piece
        moves.sort(key=lambda m: not m.promo)
    for m in moves:
        if _is_legal(b, m):
            if m.promo:
                m = Move(m.frm, m.to, rng.choice(_PROMOS))
            return m
    return None


def _has_legal_move(b: Board) -> bool:
    return any(_is_legal(b, m) for m in _pseudo_moves(b))


def play(rng: random.Random, prefix: tuple[str, ...], n_plies: int) -> tuple[list[str], list[str], str]:
    """-> (SAN list, FEN after each ply, termination) for one game that
    starts with the book ``prefix`` and stops after ``n_plies`` or at
    mate/stalemate."""
    b = Board()
    sans: list[str] = []
    fens: list[str] = []
    for s in prefix:
        b.apply_san(s)
        sans.append(s)
        fens.append(b.fen())
    ending = "Normal"
    while len(sans) < n_plies:
        m = _legal_move(b, rng, prefer_promo=rng.random() < 0.5)
        if m is None:
            ending = "checkmate" if b._attacked(b._king_sq(b.white_to_move), not b.white_to_move) else "stalemate"
            break
        san = _san(b, m)
        b.apply_san(san)  # the engine's board replays what we generated
        if b._attacked(b._king_sq(b.white_to_move), not b.white_to_move):
            san += "+" if _has_legal_move(b) else "#"
        sans.append(san)
        fens.append(b.fen())
        if san.endswith("#"):
            ending = "checkmate"
            break
    return sans, fens, ending


def opening_book(seed: int) -> list[tuple[str, ...]]:
    """Short seeded opening lines the games of a seed start from."""
    rng = random.Random(f"book:{seed}")
    book = []
    for _ in range(BOOK_LINES):
        sans, _, _ = play(rng, (), rng.randint(*BOOK_PLIES))
        book.append(tuple(sans))
    return book


def fen_eval(fen: str) -> str:
    """Deterministic pseudo engine eval of a position, as PGN text."""
    h = int.from_bytes(hashlib.blake2b(fen.encode(), digest_size=4).digest(), "big")
    return f"{(h % 801 - 400) / 100:.2f}"


def _clock(seconds: float) -> str:
    s = max(0, int(seconds))
    return f"{s // 3600}:{s % 3600 // 60:02d}:{s % 60:02d}"


@dataclass
class Game:
    game_id: str
    pgn: str  # one game, headers and movetext
    record: dict  # the API's JSON record of the game, flattened
    plies: int


def make_game(rng: random.Random, game_id: str, book: list[tuple[str, ...]], day: int) -> Game:
    prefix = rng.choice(book)
    n_plies = max(len(prefix) + 2, int(rng.gauss(MEAN_PLIES, 22)))
    sans, fens, ending = play(rng, prefix, n_plies)
    tc, speed = rng.choice(_TIME_CONTROLS)
    base, inc = (int(x) for x in tc.split("+"))
    player_white = rng.random() < 0.5
    opp = f"opp{rng.randrange(400):03d}"
    white, black = (PLAYER, opp) if player_white else (opp, PLAYER)
    w_elo, b_elo = rng.randint(1200, 2300), rng.randint(1200, 2300)
    w_diff = rng.randint(-9, 9)
    if ending == "checkmate":
        winner = "white" if len(sans) % 2 == 1 else "black"
        status = "mate"
    elif ending == "stalemate":
        winner, status = None, "stalemate"
    else:
        winner = rng.choice(("white", "black", None))
        status = "resign" if winner else "draw"
    result = {"white": "1-0", "black": "0-1", None: "1/2-1/2"}[winner]
    has_evals = rng.random() < EVAL_SHARE
    clocks = [float(base), float(base)]
    if rng.random() < 0.1:  # berserk: one side starts on half time
        clocks[rng.randrange(2)] = base / 2
    body = []
    for ply, (san, fen) in enumerate(zip(sans, fens)):
        side = ply % 2
        clocks[side] = max(1.0, clocks[side] - rng.uniform(0, base / 40) + (inc if ply > 1 else 0))
        note = f"[%clk {_clock(clocks[side])}]"
        if has_evals:
            ev = ("#1" if side == 0 else "#-1") if san.endswith("#") else fen_eval(fen)
            note = f"[%eval {ev}] " + note
        num = f"{ply // 2 + 1}. " if side == 0 else f"{ply // 2 + 1}... "
        body.append(f"{num}{san} {{ {note} }}")
    eco, opening = _OPENINGS[book.index(prefix) % len(_OPENINGS)]
    date = f"2024.03.{day:02d}"
    hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    headers = {
        "Event": "Rated " + speed.title() + " game",
        "Site": f"https://lichess.org/{game_id}",
        "Date": date,
        "White": white,
        "Black": black,
        "Result": result,
        "UTCDate": date,
        "UTCTime": f"{hh:02d}:{mm:02d}:{ss:02d}",
        "WhiteElo": str(w_elo),
        "BlackElo": str(b_elo),
        "WhiteRatingDiff": f"{w_diff:+d}",
        "BlackRatingDiff": f"{-w_diff:+d}",
        "Variant": "Standard",
        "TimeControl": tc,
        "ECO": eco,
        "Opening": opening,
        "Termination": "Normal",
    }
    head = "\n".join(f'[{k} "{v}"]' for k, v in headers.items())
    pgn = f"{head}\n\n{' '.join(body)} {result}\n"
    created = 1709251200000 + (day - 1) * 86_400_000 + (hh * 3600 + mm * 60 + ss) * 1000
    record = {
        "id": game_id,
        "rated": True,
        "variant": "standard",
        "speed": speed,
        "perf": speed,
        "createdAt": created,
        "lastMoveAt": created + len(sans) * 4000,
        "status": status,
        "winner": winner,
        "players_white_user_name": white,
        "players_white_rating": w_elo,
        "players_white_ratingDiff": w_diff,
        "players_white_provisional": rng.random() < 0.05 or None,
        "players_black_user_name": black,
        "players_black_rating": b_elo,
        "players_black_ratingDiff": -w_diff,
        "players_black_provisional": rng.random() < 0.05 or None,
        "clock_initial": base,
        "clock_increment": inc,
        "clock_totalTime": base + 40 * inc,
    }
    return Game(game_id, pgn, record, len(sans))


def _game_ids(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    out: list[str] = []
    while len(out) < n:
        gid = "".join(rng.choices(alphabet, k=8))
        if gid not in taken:
            taken.add(gid)
            out.append(gid)
    return out


def day_batches(seed: int, n_games: int, resend_share: float) -> tuple[list[Game], list[Game]]:
    """Two day batches of ``n_games`` each. The second re-sends a seeded
    ``resend_share`` of the first day's games unchanged (same id and
    text, so the ETL's upserts must replace them) and shares the first
    day's opening book."""
    book = opening_book(seed)
    rng = random.Random(f"games:{seed}:{n_games}")
    taken: set[str] = set()
    day1 = [make_game(rng, gid, book, 1) for gid in _game_ids(rng, n_games, taken)]
    resent = rng.sample(day1, round(n_games * resend_share))
    fresh = [make_game(rng, gid, book, 2) for gid in _game_ids(rng, n_games - len(resent), taken)]
    day2 = fresh + resent
    rng.shuffle(day2)
    return day1, day2
