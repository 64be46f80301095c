"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers itself here with a
Spark plan and (when SQL-expressible) the exact DuckDB oracle SQL. The
driver's ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin reads of
this registry.

Determinism contract for oracle-checked queries:
- money math in DECIMAL (bit-exact in both engines), cast to DOUBLE last;
- every computed column aliased identically in the plan and the SQL;
- every LIMIT preceded by a total order (tiebreaker keys) so the row *set*
  is deterministic;
- timestamps surfaced as DATE or formatted strings (engine-neutral).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for non-SQL-expressible ops
    doc: str = ""
    bench: bool = True  # False: correctness-gated but out of the perf sweep


_REGISTRY: dict[str, RegisteredQuery] = {}


def query(
    name: str, oracle: str | None = None, bench: bool = True
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    ``bench=False`` keeps a query in the driver's correctness gate but out
    of bench.py's timed sweep — used for the streaming twins, whose
    wall-clock is micro-batch trigger machinery (fixed seconds regardless
    of data volume), not plan execution.
    """

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle, fn.__doc__ or "", bench)
        return fn

    return wrap


def unrolled_cte(
    base: str,
    step: Callable[[int], list[tuple[str, str]]],
    rounds: int,
    select: str,
) -> str:
    """DuckDB oracle SQL for an iterative operator unrolled into a CTE
    chain: ``WITH base, <round 1>, ..., <round rounds> select``.

    ``base`` is the comma-separated CTEs every round reads, round 0's
    state included, written as given. ``step(t)`` returns round ``t``'s
    ``(name, body)`` pairs, which read round ``t - 1``'s; each is written
    as ``name AS MATERIALIZED (body)``. That keyword is why
    this helper exists: round t+1 references round t's CTEs more than
    once (directly and through the aggregates it derives), and DuckDB
    inlines an unmaterialized CTE at every reference, so the work
    doubles with each round (the 10-round logreg oracle at sf0.001:
    250 s inlined, 0.5 s materialized). ``select`` is the final
    statement; it reads any round's CTEs by name.

    Possible only for operators whose rounds are deterministic in both
    engines (exact integer sums, total-ordered argmax, truncating
    division); the operator modules state that contract.
    """
    chain = (
        f"{name} AS MATERIALIZED ({body})"
        for t in range(1, rounds + 1)
        for name, body in step(t)
    )
    return f"WITH {base},\n    " + ",\n    ".join(chain) + f"\n    {select}"


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def manifest_path() -> str:
    import os

    return os.path.join(_repo_root(), "QUERY_FINGERPRINTS.json")


def _cached(fn):
    import functools

    return functools.lru_cache(maxsize=1)(fn)


def _code_text(fn: QueryFn) -> str:
    """``fn``'s source with its comments and docstring cut out and blank
    lines dropped, so an edit to either leaves the fingerprint alone.

    Spans are located with ``tokenize`` and cut from the text rather than
    hashing the token strings or ``ast.dump``: both of those change form
    between Python minor versions (3.12 re-tokenized f-strings), and a
    manifest recorded under one interpreter must match under another.
    """
    import inspect
    import io
    import textwrap
    import tokenize

    src = textwrap.dedent(inspect.getsource(fn))
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    cuts = [(t.start, t.end) for t in toks if t.type == tokenize.COMMENT]
    # docstring: a lone STRING statement first after the ``def``'s colon
    i, depth = next(i for i, t in enumerate(toks) if t.string == "def"), 0
    while toks[i].string != ":" or depth:
        if toks[i].type == tokenize.OP:
            depth += (toks[i].string in "([{") - (toks[i].string in ")]}")
        i += 1
    skip = (tokenize.NEWLINE, tokenize.NL, tokenize.INDENT, tokenize.COMMENT)
    j = next(j for j in range(i + 1, len(toks)) if toks[j].type not in skip)
    if toks[j].type == tokenize.STRING and toks[j + 1].type == tokenize.NEWLINE:
        cuts.append((toks[j].start, toks[j].end))
    lines = src.splitlines()
    for (r0, c0), (r1, c1) in sorted(cuts, reverse=True):
        lines[r0 - 1 : r1] = [lines[r0 - 1][:c0] + lines[r1 - 1][c1:]]
    return "\n".join(ln.rstrip() for ln in lines if ln.strip())


def query_fingerprint(name: str) -> str:
    """Behavior fingerprint of a registered query: sha256 over the plan
    function's code (comments and docstring removed, see
    :func:`_code_text`), its oracle SQL, AND a content stamp of the input
    data the query reads.

    The input stamp closes the round-6 staleness hole: a green driver
    row certifies (plan, oracle, DATA) — round 6 regenerated the movies
    fixture and the three ``movies_*`` queries coasted on greens
    verified against the OLD file. Fixture-backed queries (source or
    oracle mentions the movies fixture) hash the fixture's bytes;
    sf-table queries hash the testdata parquet bytes — regenerating
    either demotes the affected queries to tier 1 of the sweep until a
    fresh external check lands.

    Scope note: helper functions the plan calls are NOT hashed (a
    cross-module helper edit escapes this). The fingerprint's job is to
    catch the common case — an edit to the query body, its oracle, or
    its input data; the pytest suite remains the net under helper edits.
    """
    import hashlib

    _load_plans()
    rq = _REGISTRY[name]
    try:
        src = _code_text(rq.fn)
    except (OSError, TypeError):
        src = ""  # unhashable source degrades to "always stale" — conservative
    blob = src + "\n--oracle--\n" + (rq.oracle or "")
    # Fixture-marked queries stamp BOTH families: a marker in the source
    # is a cheap text heuristic, and a query that read the fixture AND
    # sf parquet would otherwise miss testdata regens — stamping both is
    # at worst conservative (an extra re-verification). Everything else
    # reads only the sf tables.
    stamp = _testdata_stamp()
    if "movies_dirty" in blob or "_FIXTURE" in blob:
        stamp = _fixture_stamp() + stamp
    return hashlib.sha256((blob + "\n--input--\n" + stamp).encode()).hexdigest()


def _hash_file_into(h, path: str) -> None:
    try:
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    except OSError as e:
        # Missing input -> stale stamp. Path + exception class keep two
        # DIFFERENT broken states distinguishable (a bare constant would
        # make every unreadable file stamp identically).
        h.update(f"<unreadable:{path}:{type(e).__name__}>".encode())


@_cached
def _fixture_stamp() -> str:
    """Content hash of the movies dirty-CSV fixture (md5 of the bytes,
    not mtime — git checkouts rewrite mtimes without changing data).
    Memoized per process; committed manifests can't change mid-run."""
    import hashlib

    from imdbmapreduce_spark.sources.movies_csv import _FIXTURE

    h = hashlib.md5()
    _hash_file_into(h, _FIXTURE)
    return h.hexdigest()


@_cached
def _testdata_stamp() -> str:
    """Content hash over every parquet file under the testdata root
    (relative path + bytes, sorted) — one stamp for all sf dirs, so a
    driver-side regeneration at ANY scale demotes every sf-table query.
    ~20 MB total; hashed once per process."""
    import glob
    import hashlib
    import os

    root = os.environ.get("SPARK_GRAFT_TESTDATA_DIR", "/root/testdata")
    h = hashlib.md5()
    paths = sorted(
        glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )
    if not paths:
        return "<no-testdata>"
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        _hash_file_into(h, path)
    return h.hexdigest()


@_cached
def _manifest() -> dict:
    """Committed fingerprint manifest (name -> sha256 recorded at the
    last successful verification). Memoized per process: the committed
    file cannot change mid-run (ADVICE r4 — sweep_order was re-globbing
    CORRECTNESS files on every registry call)."""
    import json

    try:
        with open(manifest_path(), encoding="utf-8") as f:
            return dict(json.load(f))
    except (OSError, ValueError):
        return {}


@_cached
def _latest_rows() -> dict:
    """name -> (round_number, green) from the committed CORRECTNESS
    files; the latest round that checked a query wins. Memoized per
    process (files are committed artifacts, immutable mid-run)."""
    import glob
    import json
    import os
    import re

    status: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path, encoding="utf-8") as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            kind = (
                "hash"
                if row.get("hash_match")
                else ("no_oracle" if row.get("err") == "no_oracle" else None)
            )
            # the HIGHER round number wins, not file order — lexicographic
            # glob order breaks at r100 vs r99 (and any unpadded name)
            if name not in status or rnd >= status[name][0]:
                status[name] = (rnd, kind)
    return status


def invalidate_caches() -> None:
    """Drop the memoized manifest/CORRECTNESS reads and input-data
    stamps (test hook; also for tools that rewrite the manifest and
    re-read it in-process)."""
    _manifest.cache_clear()
    _latest_rows.cache_clear()
    _fixture_stamp.cache_clear()
    _testdata_stamp.cache_clear()


def driver_verified_names() -> frozenset[str]:
    """Names whose MOST RECENT driver CORRECTNESS row is green AND whose
    current fingerprint matches the committed manifest.

    Three staleness triggers demote a query back to tier 1 of the sweep:
    a red/missing latest driver row (regression); a fingerprint mismatch
    (the query's source or oracle changed since its last verification —
    the z-score near-miss from ADVICE r3 is the motivating case: a
    behavior edit to an already-green query must re-enter the
    externally-checked tier, not coast on a stale green); or a latest
    row that was ``no_oracle`` for a query that NOW registers an oracle
    (the weak rows-only row can be strengthened to a hash check — the
    r5 pagerank/logreg oracle additions are the motivating case).
    Missing/unreadable files degrade to "nothing verified", which only
    makes the sweep more conservative.
    """
    _load_plans()
    manifest = _manifest()
    out = []
    for name, (_, kind) in _latest_rows().items():
        if name not in _REGISTRY:
            continue
        rows_only_ok = kind == "no_oracle" and _REGISTRY[name].oracle is None
        if not (kind == "hash" or rows_only_ok):
            continue
        if manifest.get(name) != query_fingerprint(name):
            continue  # edited since last verification -> stale
        out.append(name)
    return frozenset(out)


def sweep_order() -> list[str]:
    """Driver sweep order: never-verified and stale queries first.

    The driver checks queries in the order ``queries()`` yields them,
    under a fixed ~50-query budget — so ordering IS the verification
    policy. Three tiers:

    1. batch queries with NO green driver row (or a stale fingerprint —
       see :func:`driver_verified_names`), in registration order;
    2. the streaming vertical, as one contiguous block — after every
       batch query that still needs a row (its micro-batch wall-clock
       must never starve one: the round-2 regression), but still inside
       the budget so post-fix streaming rows actually land;
    3. batch queries verified in a prior round, LEAST-RECENTLY-VERIFIED
       first (round number ascending, registration order within a
       round) — stale greens refresh on a bounded cadence instead of
       forever re-checking the same early registrations.
    """
    _load_plans()
    names = list(_REGISTRY)
    green = driver_verified_names()
    rows = _latest_rows()
    reg_pos = {n: i for i, n in enumerate(names)}
    tier1 = [n for n in names if n not in green and not n.startswith("streaming_")]
    tier2 = [n for n in names if n.startswith("streaming_")]
    tier3 = sorted(
        (n for n in names if n in green and not n.startswith("streaming_")),
        key=lambda n: (rows[n][0], reg_pos[n]),
    )
    return tier1 + tier2 + tier3


def bench_queries() -> dict[str, QueryFn]:
    _load_plans()
    return {name: rq.fn for name, rq in _REGISTRY.items() if rq.bench}


def all_queries() -> dict[str, QueryFn]:
    _load_plans()
    return {name: _REGISTRY[name].fn for name in sweep_order()}


def all_oracles() -> dict[str, str]:
    _load_plans()
    return {
        name: _REGISTRY[name].oracle
        for name in sweep_order()
        if _REGISTRY[name].oracle is not None
    }


def get(name: str) -> RegisteredQuery:
    _load_plans()
    return _REGISTRY[name]


_LOADED = False


def _load_plans() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    # Imported for their registration side effects. The driver-facing
    # sweep order is computed by sweep_order() from the committed
    # CORRECTNESS_r*.json results (never-verified first, streaming
    # block second, verified batch last — pinned by
    # tests/test_scale_claims.py); registration order here only breaks
    # ties WITHIN a tier, so imports are grouped by vertical for
    # readability, nothing more.
    from imdbmapreduce_spark.operators import cooccurrence  # noqa: F401
    from imdbmapreduce_spark.operators import text  # noqa: F401
    from imdbmapreduce_spark.operators import lm  # noqa: F401
    from imdbmapreduce_spark.operators import pipeline  # noqa: F401
    from imdbmapreduce_spark.operators import similarity  # noqa: F401
    from imdbmapreduce_spark.operators import graph  # noqa: F401
    from imdbmapreduce_spark.operators import ml  # noqa: F401
    from imdbmapreduce_spark.sources import movies_csv  # noqa: F401
    from imdbmapreduce_spark.operators import audit  # noqa: F401
    from imdbmapreduce_spark.operators import bloomjoin  # noqa: F401
    from imdbmapreduce_spark.operators import dedup  # noqa: F401
    from imdbmapreduce_spark.operators import layout  # noqa: F401
    from imdbmapreduce_spark.operators import multimodal  # noqa: F401
    from imdbmapreduce_spark.plans import tpch2  # noqa: F401
    from imdbmapreduce_spark.streaming import windowed  # noqa: F401
    from imdbmapreduce_spark.plans import events  # noqa: F401
    from imdbmapreduce_spark.plans import relational  # noqa: F401
