"""``imdb-lookup``: the reference's own query surface.

The committed dirty-CSV fixture is ingested once with ``read_movies_csv``
and cached (set-up). One client then runs a closed loop of seeded
``Engine.query("Title"|"Actor", value)`` lookups, each collecting its
rows. Title and Actor lookups alternate. Values are uniform over the
fixture's titles and actors, except that every tenth lookup of each kind
probes a title that does not exist or the hub actor ``Actor_0001`` (in
about a third of all casts). The timed loop ends on a whole cycle of
``2 * PROBE_EVERY`` lookups.

Every result is checked against a pure-Python recomputation of the
Title and Actor level semantics over the fixture, parsed here with the
ingest rules ``read_movies_csv`` documents: rows without exactly three
fields or with a non-integer id are dropped, actor tokens are trimmed of
Unicode whitespace and then of one stray quote at either end, empty
tokens are dropped, and the highest ``movie_id`` wins per title.
"""

from __future__ import annotations

import csv
import itertools
import os
import random
import re
from collections import Counter, defaultdict

from common import Op

HUB_ACTOR = "Actor_0001"
PROBE_EVERY = 10
_ID = re.compile(r"-?[0-9]+")
_TRIM = re.compile(r"^\s+|\s+$")
_QUOTE = re.compile(r'^"|"$')


def parse_fixture(path: str) -> list[tuple[int, str, tuple[str, ...]]]:
    """The ingested movies table, one ``(movie_id, title, actors)`` per title."""
    best: dict[str, tuple[int, str, tuple[str, ...]]] = {}
    with open(path, encoding="utf-8", newline="") as f:
        reader = csv.reader(f)
        next(reader)  # header
        for rec in reader:
            if len(rec) != 3 or not _ID.fullmatch(rec[0]) or rec[1] == "":
                continue
            mid, title = int(rec[0]), rec[1]
            toks = (_QUOTE.sub("", _TRIM.sub("", t)) for t in rec[2].split(","))
            actors = tuple(t for t in toks if t)
            if title not in best or mid > best[title][0]:
                best[title] = (mid, title, actors)
    return sorted(best.values())


class LevelOracle:
    """The Title and Actor queries recomputed in Python."""

    def __init__(self, movies: list[tuple[int, str, tuple[str, ...]]]):
        self.movies = movies
        self.by_title = {m[1]: m for m in movies}
        self.with_actor: dict[str, list[int]] = defaultdict(list)
        for i, (_, _, actors) in enumerate(movies):
            for a in set(actors):
                self.with_actor[a].append(i)

    def title(self, title: str) -> list[tuple]:
        """Rows ``(movie_id, title, n_shared, level)`` sorted by level, title."""
        probe = self.by_title.get(title)
        if probe is None:
            return []
        shared: Counter = Counter()
        for a in set(probe[2]):
            for i in self.with_actor[a]:
                if self.movies[i][1] != title:
                    shared[i] += 1
        rows = [
            (self.movies[i][0], self.movies[i][1], n, min(n, 4)) for i, n in shared.items()
        ]
        return sorted(rows, key=lambda r: (r[3], r[1]))

    def actor(self, actor: str) -> list[tuple]:
        """Rows ``(actor, cnt, level)`` in sorted order (the query leaves them unsorted)."""
        cnt: Counter = Counter()
        for i in self.with_actor.get(actor, []):
            cnt.update(a for a in self.movies[i][2] if a != actor)
        return sorted((a, n, min(n, 4)) for a, n in cnt.items())


def lookup_values(movies, seed: int):
    """Endless seeded ``(kind, value)`` stream of Title and Actor lookups.

    The kinds alternate and every tenth lookup of each kind is a probe, so
    every run of whole ``2 * PROBE_EVERY`` cycles has the same mix: a Title
    lookup costs about twice an Actor lookup and a hub-actor probe several
    times more, and a mix drawn at random would move throughput from seed
    to seed.
    """
    rng = random.Random(seed)
    titles = [m[1] for m in movies]
    known = set(titles)
    actors = sorted({a for m in movies for a in m[2]})
    for i in itertools.count():
        probe = i % (2 * PROBE_EVERY) >= 2 * PROBE_EVERY - 2
        if i % 2 == 0:
            value = rng.choice(titles)
            while probe and value in known:
                value = f"Unknown Title {rng.randrange(10**9)}"
            yield "Title", value
        else:
            yield "Actor", HUB_ACTOR if probe else rng.choice(actors)


class ImdbLookup:
    set_up_repeats = 3  # an ingest takes a few seconds; setup_s uses their median
    WARMUP_OPS = 6

    def __init__(self, ctx):
        self.ctx = ctx
        self.path = os.path.join(ctx.root, "fixtures", "movies_dirty.csv")
        self.oracle = LevelOracle(parse_fixture(self.path))
        self.movies = None
        self.rows = 0
        self._values = lookup_values(self.oracle.movies, ctx.seed)
        self._n = 0

    def set_up(self) -> None:
        from imdbmapreduce_spark.sources.movies_csv import read_movies_csv

        if self.movies is not None:
            self.movies.unpersist(blocking=True)
        with self.ctx.tracer.span("movies_csv.ingest"):
            self.movies = read_movies_csv(self.ctx.spark, self.path).cache()
            self.rows = self.movies.count()

    def _op(self, kind: str, value: str) -> Op:
        from imdbmapreduce_spark import Engine

        engine = Engine(self.ctx.spark, self.movies)
        return Op(
            kind=kind,
            arg=value,
            build=lambda: engine.query(kind, value),
            materialize=lambda df: [tuple(r) for r in df.collect()],
        )

    def warm_up_ops(self) -> list[Op]:
        warm = lookup_values(self.oracle.movies, self.ctx.seed + 1_000_003)
        return [self._op(*next(warm)) for _ in range(self.WARMUP_OPS)]

    def next_op(self) -> Op:
        self._n += 1
        return self._op(*next(self._values))

    def at_boundary(self) -> bool:
        # whole probe cycles only, so every run holds the same share of probes
        return self._n % (2 * PROBE_EVERY) == 0

    def check(self, op: Op, result) -> bool:
        if op.kind == "Title":
            return result == self.oracle.title(op.arg)
        return sorted(result) == self.oracle.actor(op.arg)

    def layer_metrics(self) -> dict[str, float]:
        return {"movies_csv.rows": self.rows}
