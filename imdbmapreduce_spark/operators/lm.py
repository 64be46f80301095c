"""Language-model-adjacent corpus operators: tokenizer induction and
n-gram LM scoring (north-star scope, the training-data side of an LLM
pipeline; no reference analog — the reference's text processing stops at
the cast tokenizer, /root/reference/Code/mapReduce.erl:140-148).

Three families a real pretraining pipeline runs over the whole corpus:

- BPE tokenizer training and use (:func:`bpe_first_merge_stats`,
  :func:`bpe_merge_sequence`, :func:`bpe_encode_stats`,
  :func:`doc_bpe_token_budget`). After one pass over the corpus (the
  word-count aggregation), every merge round operates on the
  VOCABULARY (|unique words|), not the corpus, so the expensive input
  is touched once however many merges a tokenizer build runs. The
  trained tokenizer is one session artifact (:func:`_bpe_learn`), also
  persisted with the text index.
- The n-gram LM ladder, CCNet-style quality scoring: each document's
  total and mean log-probability under a model trained on the corpus
  itself — Jelinek-Mercer rungs of order 1, 2, 3 and 5
  (:func:`doc_unigram_logprob` .. :func:`doc_5gram_logprob`, all one
  :func:`_jm_logprob`), the Kneser-Ney bigram
  (:func:`doc_kn_bigram_logprob`) and the head/middle/tail perplexity
  buckets (:func:`ccnet_perplexity_buckets`). Every rung reads one
  session-cached count table per order (:func:`_doc_ngram_counts` per
  document, :func:`_corpus_ngram_counts` per corpus) and ends in one
  per-document sum (:func:`_per_doc_score`); corpus totals join as
  broadcast one-row aggregates, so building a rung's plan runs no job.
  Low-probability documents are gibberish/noise; high-probability ones
  are repetitive boilerplate — both tails are what perplexity filters
  cut.
- The unigram-LM (SentencePiece-model) tokenizer
  (:func:`unigram_tokenizer_encode`): Viterbi segmentation as pure SQL.

Determinism contract (repo-wide style): every cross-row reduction is an
exact integer sum — pair counts are integer weights, and per-token
log-probs are quantized to 1e-6 units per OCCURRENCE before summation —
so results are bit-identical under any partitioning and reproduce in
DuckDB (ln over doubles agrees bit-for-bit between the JVM and DuckDB's
libm on this data; the sums of quantized values are exact either way).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdbmapreduce_spark.cache import register_release_hook, shared_cache
from imdbmapreduce_spark.catalog import table
from imdbmapreduce_spark.functions import tokens, top_k
from imdbmapreduce_spark.operators.text import _DUCK_TOKS, _doc_token_counts
from imdbmapreduce_spark.registry import query, unrolled_cte

_BPE_TOP = 100
_BPE_MERGES = 10
_LP_SCALE = 1_000_000  # log-prob quantum: 1e-6 per token occurrence


def _bpe_oracle(select: str) -> str:
    """A BPE oracle: the unrolled merge recurrence up to (and including)
    the post-merge vocabulary ``v{_BPE_MERGES}``, then ``select``. The
    three oracles (merge table, encode stats, token budget) differ only
    in ``select`` — no caller re-parses generated SQL.

    Same pattern as the kmeans/logreg oracles: each round is a CTE
    chain (pair counts -> argmax -> apply-merge). The symbol sequence is
    a space-joined string (tokens are whitespace-split, so ' ' can never
    occur inside a symbol).

    Apply-merge is SYMBOL-anchored, not substring ``replace``: a plain
    ``replace(seq, 'c1 c2', 'c1c2')`` can match a SUFFIX of a longer
    symbol (merge (h,e) on symbols [th, e] = 'th e' would yield 'the',
    merging across a boundary where no (h,e) pair exists). Instead each
    round unnests the symbols with their positions, marks positions
    where (sym[i], sym[i+1]) equals the round's winning pair, resolves
    greedy left-to-right non-overlap via run parity (consecutive marks
    only occur when c1 = c2; within each run of consecutive marks the
    1st, 3rd, ... are merged — exactly what a left-to-right scan
    selects), and reassembles with the c2 positions absorbed. Mirrors
    the engine's fold/scan venues (test_lm.py pins all three against a
    pure-Python tuple-scan replay).
    """
    base = f"""ex AS MATERIALIZED (
      SELECT unnest(toks) AS tok
      FROM (SELECT {_DUCK_TOKS} AS toks FROM documents)
    ), v0 AS MATERIALIZED (
      SELECT tok, array_to_string(string_split(tok, ''), ' ') AS seq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ex GROUP BY tok
    )"""

    def step(r: int) -> list[tuple[str, str]]:
        return [
            (f"p{r}", f"""
      SELECT c1, c2, CAST(SUM(n) AS BIGINT) AS pair_count FROM (
        SELECT n, unnest(c[1:len(c)-1]) AS c1, unnest(c[2:len(c)]) AS c2
        FROM (SELECT n, string_split(seq, ' ') AS c FROM v{r - 1})
        WHERE len(c) >= 2
      ) GROUP BY 1, 2
    """),
            (f"b{r}", f"""
      SELECT c1, c2, pair_count FROM p{r}
      ORDER BY pair_count DESC, c1, c2 LIMIT 1
    """),
            (f"w{r}", f"""
      SELECT tok, n, i, sym,
             (sym = (SELECT c1 FROM b{r})
              AND lead(sym) OVER (PARTITION BY tok ORDER BY i)
                  = (SELECT c2 FROM b{r})) AS hit
      FROM (SELECT tok, n, unnest(c) AS sym, generate_subscripts(c, 1) AS i
            FROM (SELECT tok, n, string_split(seq, ' ') AS c FROM v{r - 1}))
    """),
            (f"sel{r}", f"""
      SELECT tok, i FROM (
        SELECT tok, i,
               ROW_NUMBER() OVER (PARTITION BY tok, isl ORDER BY i) AS rk
        FROM (SELECT tok, i,
                     i - ROW_NUMBER() OVER (PARTITION BY tok ORDER BY i)
                       AS isl
              FROM w{r} WHERE hit)
      ) WHERE rk % 2 = 1
    """),
            (f"v{r}", f"""
      SELECT w.tok,
             string_agg(CASE WHEN s.i IS NOT NULL
                             THEN w.sym || (SELECT c2 FROM b{r})
                             ELSE w.sym END, ' ' ORDER BY w.i) AS seq,
             w.n
      FROM w{r} w
      LEFT JOIN sel{r} s ON s.tok = w.tok AND s.i = w.i
      LEFT JOIN sel{r} p ON p.tok = w.tok AND p.i = w.i - 1
      WHERE p.i IS NULL
      GROUP BY w.tok, w.n
    """),
        ]

    return unrolled_cte(base, step, _BPE_MERGES, select)


def _bpe_merge_oracle() -> str:
    """Merge-table oracle: a UNION of the per-round argmax winners."""
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rnk, c1, c2, c1 || c2 AS merged,"
        f" pair_count FROM b{r}"
        for r in range(1, _BPE_MERGES + 1)
    )
    return _bpe_oracle(f"SELECT * FROM ({unions}) ORDER BY rnk")


@query(
    "bpe_first_merge_stats",
    oracle=f"""
    WITH ex AS (
      SELECT unnest(toks) AS tok
      FROM (SELECT {_DUCK_TOKS} AS toks FROM documents)
    ), vocab AS (
      SELECT tok, COUNT(*) AS n FROM ex GROUP BY tok
    ), cs AS (
      SELECT n, string_split(tok, '') AS c FROM vocab WHERE length(tok) >= 2
    ), pairs AS (
      SELECT n, unnest(c[1:len(c)-1]) AS c1, unnest(c[2:len(c)]) AS c2 FROM cs
    ), cnt AS (
      SELECT c1, c2, CAST(SUM(n) AS BIGINT) AS pair_count
      FROM pairs GROUP BY 1, 2
    ), ranked AS (
      SELECT c1, c2, pair_count,
             CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, c1, c2)
                  AS BIGINT) AS rnk
      FROM cnt
    )
    SELECT c1, c2, pair_count, rnk FROM ranked WHERE rnk <= {_BPE_TOP}
    """,
)
def bpe_first_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training, step 1: the top-{top} adjacent character pairs
    across the corpus vocabulary, weighted by word frequency — the exact
    statistic whose argmax becomes the first merge rule of a BPE
    tokenizer. Further merge rounds reuse the same plan over the updated
    symbol sequences.

    Plan: ONE corpus pass builds the word-count vocabulary (partial/
    final agg on token); everything after operates on |vocab| rows —
    split each distinct word into characters, slide the 2-window via two
    array slices zipped map-side, explode, and sum the word counts per
    pair, then the global :func:`~imdbmapreduce_spark.functions.top_k`.

    Scale: this corpus-once/vocab-many asymmetry is WHY BPE trains in
    minutes on terabytes — at 100 TB the vocabulary is ~1e8 rows of a
    few bytes while the corpus stays on disk. The pair agg keys on
    character pairs (thousands of groups) — tiny exchange, map-side
    combined.
    """
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cs = vocab.filter(F.length("tok") >= 2).select(
        "n", F.split("tok", "").alias("c")
    )
    sel = cs.select(
        "n",
        F.slice("c", 1, F.size("c") - 1).alias("l"),
        F.expr("slice(c, 2, size(c) - 1)").alias("r"),
    )
    cnt = (
        sel.select("n", F.explode(F.arrays_zip("l", "r")).alias("p"))
        .groupBy(F.col("p.l").alias("c1"), F.col("p.r").alias("c2"))
        .agg(F.sum("n").alias("pair_count"))
    )
    return top_k(cnt, _BPE_TOP, F.desc("pair_count"), "c1", "c2", rank="rnk")


@query("bpe_merge_sequence", oracle=_bpe_merge_oracle())
def bpe_merge_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer induction: ``_BPE_MERGES`` (10) sequential
    merges, each the
    argmax of corpus-frequency-weighted adjacent-symbol-pair counts,
    greedily applied (left-to-right, non-overlapping) to the vocabulary's
    symbol sequences before the next round — the complete training loop
    whose first step is :func:`bpe_first_merge_stats`.

    Representation: a word's symbol sequence is a space-joined string
    (tokens are whitespace-split, so ``' '`` can never appear inside a
    symbol). Apply-merge is a SYMBOL-anchored greedy scan
    (:func:`_merge_symbols` locally, the :func:`_merge_expr` Catalyst
    fold distributed) — NOT a substring ``replace``, which could match
    a suffix of a longer symbol and merge across a boundary where no
    (c1, c2) pair exists; the fused output symbol is never re-examined
    within a round, which is exactly greedy BPE merge semantics.

    Plan: ONE corpus pass builds the word-frequency vocabulary
    (localCheckpointed — every later round starts from |vocab| rows,
    never the corpus). The rounds then run in a size-gated venue
    (``_BPE_LOCAL_VOCAB_CAP``): a vocabulary that fits on the driver
    collects once and merges in memory (the HuggingFace-tokenizers
    shape); a larger one runs each round distributed — slide-zip the
    symbol arrays map-side, one pair-count aggregation (character-pair
    keys — tiny, map-side combined), collect the single argmax row,
    extend the lineage with one narrow fold. Both venues compute
    the identical greedy recurrence (equality pinned in test_lm.py).

    Scale: this is WHY BPE trains in minutes on terabytes — after the
    single corpus scan, every round touches |vocab| rows (~1e8 slim rows
    at 100 TB, vs 1e12 corpus rows). Rounds are latency-bound (one
    bounded-exchange agg + one driver round-trip each), the same
    iterative shape as the kmeans/logreg trainers.
    """
    _, rows = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        rows, "rnk long, c1 string, c2 string, merged string, pair_count long"
    ).orderBy("rnk")


# One trained tokenizer per (session, corpus, merges): the three
# consumers (merge table, encode stats, token budget) share a single run
# of the training loop instead of re-training each — the same
# build-once/serve-many contract as cache.shared_cache, with the merge
# table rows memoized alongside the vocabulary DataFrame. Registered
# with the cache's release hooks so release_shared_caches() clears it
# like every other session artifact.
_LEARN_MEMO: dict[tuple, tuple[DataFrame, list]] = {}

register_release_hook(_LEARN_MEMO.clear)


def _bpe_learn(
    spark: SparkSession, sf_dir: str, n_merges: int = _BPE_MERGES
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """Resolution order for the trained tokenizer — the same contract
    as every index artifact: session memo → PERSISTED text-index
    artifacts (bpe_vocab + bpe_merges parquet, source-stamp and
    params-guarded) → train. A cold session with a persisted index
    applies the tokenizer without ever re-running the merge loop
    (pinned by test_lm.py's poisoned-trainer roundtrip)."""
    key = (spark.sparkContext.applicationId, sf_dir, n_merges)
    hit = _LEARN_MEMO.get(key)
    if hit is None:
        hit = _bpe_load_persisted(spark, sf_dir, n_merges)
        if hit is None:
            hit = _bpe_learn_uncached(spark, sf_dir, n_merges)
        _LEARN_MEMO[key] = hit
    return hit


def _bpe_load_persisted(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]] | None:
    """Open the persisted tokenizer, or None when absent/stale/mismatched.
    Only the default merge count is persisted (the manifest's
    ``bpe_merges`` param guards it — a different constant refuses the
    stale artifact like every other text-index tuning knob)."""
    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.operators.dedup import _text_params

    if n_merges != _BPE_MERGES:
        return None  # test-sized loops train fresh, never serve stale disk
    params = _text_params()
    vocab = indexstore.load_group_artifact(
        spark, sf_dir, "text", "bpe_vocab", params=params
    )
    merges = indexstore.load_group_artifact(
        spark, sf_dir, "text", "bpe_merges", params=params
    )
    if vocab is None or merges is None:
        return None
    rows = [
        (int(r["rnk"]), r["c1"], r["c2"], r["merged"], int(r["pair_count"]))
        for r in merges.orderBy("rnk").collect()
    ]
    return vocab, rows


# Vocabulary-size gate for the merge loop's execution venue: at or
# below the cap the aggregated vocabulary collects to the driver and
# the rounds run locally (the HuggingFace-tokenizers shape — ONE
# distributed corpus pass, then in-memory merges); above it, rounds run
# as distributed aggregations. Both venues compute the identical greedy
# recurrence (pinned by test_lm.py forcing each path); the gate is the
# same fits-in-memory judgment AQE makes for broadcast joins.
_BPE_LOCAL_VOCAB_CAP = 200_000


def _bpe_learn_uncached(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """The shared BPE training loop: returns (post-merge vocabulary
    DataFrame with columns (tok, seq, n), merge-table rows). See
    :func:`bpe_merge_sequence` for the plan-shape discussion."""
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "tok", F.array_join(F.split("tok", ""), " ").alias("seq"), "n"
        )
        .localCheckpoint()  # bound lineage: rounds re-read this, not the corpus
    )
    if vocab.count() <= _BPE_LOCAL_VOCAB_CAP:
        return _bpe_merge_rounds_local(spark, vocab, n_merges)
    return _bpe_merge_rounds_distributed(vocab, n_merges)


def _bpe_merge_rounds_local(
    spark: SparkSession, vocab: DataFrame, n_merges: int
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """Driver-local merge rounds over the collected vocabulary — the
    small-vocab venue. Each round is the same pair-count → argmax →
    greedy left-to-right non-overlapping SYMBOL-anchored merge
    recurrence as the distributed venue (a symbol scan, NOT substring
    ``replace``, which could merge across symbol boundaries — see
    :func:`_merge_symbols`), so results are bit-identical."""
    local = [(r["tok"], r["seq"], int(r["n"])) for r in vocab.collect()]
    rows: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        pairs: dict[tuple[str, str], int] = {}
        for _tok, seq, n in local:
            syms = seq.split(" ")
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        (c1, c2), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        rows.append((r, c1, c2, c1 + c2, cnt))
        local = [
            (tok, " ".join(_merge_symbols(seq.split(" "), c1, c2)), n)
            for tok, seq, n in local
        ]
    out = spark.createDataFrame(local, "tok string, seq string, n long")
    return out, rows


def _merge_symbols(syms: list[str], c1: str, c2: str) -> list[str]:
    """One greedy BPE merge round over a symbol sequence: scan left to
    right, fuse each adjacent (c1, c2) occurrence, never re-examine the
    fused output within the round. Anchored at SYMBOL boundaries — a
    substring ``replace`` on the space-joined form can falsely match a
    suffix of a longer symbol (merge (h,e) on [th, e] = ``'th e'``
    would yield ``'the'``), which is why all venues merge token-wise.
    """
    out: list[str] = []
    i = 0
    m = len(syms)
    while i < m:
        if i + 1 < m and syms[i] == c1 and syms[i + 1] == c2:
            out.append(c1 + c2)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_merge_rounds_distributed(
    vocab: DataFrame, n_merges: int
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """Distributed merge rounds — the large-vocab venue (per round: one
    map-side-combined pair aggregation over |vocab| rows, one driver
    argmax row-trip, one narrow merge fold)."""
    rows: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        c = F.split("seq", " ")
        sel = vocab.filter(F.size(c) >= 2).select(
            "n",
            F.slice(c, 1, F.size(c) - 1).alias("l"),
            F.expr("slice(split(seq, ' '), 2, size(split(seq, ' ')) - 1)").alias(
                "r"
            ),
        )
        best = (
            sel.select("n", F.explode(F.arrays_zip("l", "r")).alias("p"))
            .groupBy(F.col("p.l").alias("c1"), F.col("p.r").alias("c2"))
            .agg(F.sum("n").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "c1", "c2")
            .first()
        )
        if best is None:  # vocabulary fully merged (degenerate corpus)
            break
        c1, c2, cnt = best["c1"], best["c2"], int(best["pair_count"])
        rows.append((r, c1, c2, c1 + c2, cnt))
        vocab = vocab.withColumn("seq", _merge_expr("seq", c1, c2))
    return vocab, rows


def _merge_expr(seq_col: str, c1: str, c2: str):
    """The greedy merge round as a narrow Catalyst fold (no UDF, no
    shuffle): ``aggregate`` over the split symbols with state (acc,
    pend) — pend holds the last unfused symbol; a (pend=c1, x=c2) step
    emits the fused symbol and clears pend, so fused output is never
    re-examined within the round. Exactly :func:`_merge_symbols`
    (equality pinned by test_bpe_merge_venues_identical). Pair literals
    enter as ``F.lit`` columns, never spliced into SQL text."""
    merged = c1 + c2
    init = F.struct(
        F.expr("array()").cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(s, x):
        return (
            F.when(
                s["pend"].isNull(),
                F.struct(s["acc"].alias("acc"), x.alias("pend")),
            )
            .when(
                (s["pend"] == F.lit(c1)) & (x == F.lit(c2)),
                F.struct(
                    F.concat(s["acc"], F.array(F.lit(merged))).alias("acc"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(s["acc"], F.array(s["pend"])).alias("acc"),
                    x.alias("pend"),
                )
            )
        )

    def finish(s):
        return F.array_join(
            F.when(s["pend"].isNull(), s["acc"]).otherwise(
                F.concat(s["acc"], F.array(s["pend"]))
            ),
            " ",
        )

    return F.aggregate(F.split(F.col(seq_col), " "), init, step, finish)


def _bpe_encode_oracle() -> str:
    """Encode-side oracle: the merge chain continued past the last merge
    into the post-merge symbol statistics."""
    return _bpe_oracle(
        f"""SELECT symbol, n_occ, rnk FROM (
      SELECT symbol, n_occ,
             CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, symbol) AS BIGINT)
               AS rnk
      FROM (SELECT symbol, CAST(SUM(n) AS BIGINT) AS n_occ
            FROM (SELECT n, unnest(string_split(seq, ' ')) AS symbol
                  FROM v{_BPE_MERGES})
            GROUP BY 1)
    ) WHERE rnk <= {_BPE_TOP}"""
    )


@query("bpe_encode_stats", oracle=_bpe_encode_oracle())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the other half of the tokenizer lifecycle: apply the
    learned merge sequence (:func:`bpe_merge_sequence`) to the corpus
    vocabulary and report the resulting subword distribution (top
    ``_BPE_TOP`` symbols by corpus occurrence, weighted by word
    frequency).
    This is what the trained tokenizer actually does to the corpus —
    the symbol table a token-budget estimate or a vocabulary-coverage
    audit reads.

    Plan: the training loop's final vocabulary (|vocab| rows, merges
    already applied as narrow merge folds) explodes to one row
    per symbol occurrence and aggregates — still vocab-sized, never
    corpus-sized; then the global
    :func:`~imdbmapreduce_spark.functions.top_k`. Oracle = the
    merge chain's CTE recurrence continued into the symbol stats.

    Scale: identical corpus-once/vocab-many asymmetry as training; the
    final agg keys on symbols (|alphabet| + merges groups), map-side
    combined.
    """
    vocab, _ = _bpe_learn(spark, sf_dir)
    cnt = (
        vocab.select("n", F.explode(F.split("seq", " ")).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("n").alias("n_occ"))
    )
    return top_k(cnt, _BPE_TOP, F.desc("n_occ"), "symbol", rank="rnk")


def _bpe_budget_oracle() -> str:
    """Per-doc token-budget oracle: the merge chain's final vocabulary
    joined back to per-(doc, word) counts."""
    return _bpe_oracle(
        f"""SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_words,
           CAST(SUM(d.k * s.n_sym) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(d.k * s.n_sym) AS DOUBLE) / SUM(d.k) AS tokens_per_word
    FROM (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS k
          FROM (SELECT doc_id, unnest(toks) AS tok
                FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents))
          GROUP BY 1, 2) d
    JOIN (SELECT tok, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
          FROM v{_BPE_MERGES}) s USING (tok)
    GROUP BY d.doc_id"""
    )


@query("doc_bpe_token_budget", oracle=_bpe_budget_oracle())
def doc_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token budget under the TRAINED tokenizer: how many
    BPE tokens each document costs after the learned merge sequence is
    applied — the number a context-window packer, a data-mixing
    token accountant, or a training-cost estimate actually needs
    (whitespace word counts systematically under-bill long/rare words).

    Plan: the trained vocabulary (tok → post-merge symbol count,
    |vocab| slim rows) joins per-(doc, word) counts — the corpus is
    never re-tokenized per document; the tokenizer is APPLIED via one
    vocab-keyed join, which is exactly how a production pipeline
    amortizes an expensive tokenizer over a corpus (tokenize the
    vocabulary once, join everywhere). Final agg keys on doc_id; all
    sums are exact integers, the ratio a single int→double division.

    Scale: dt is the same per-(doc,word) table the unigram scorer
    shared-caches; the vocab join's model side is |vocab| rows (AQE
    broadcasts it locally, shuffles at 100 TB); Zipf skew bounded by
    the per-doc pre-combine as in :func:`doc_unigram_logprob`.
    """
    from imdbmapreduce_spark.operators.text import _doc_token_counts

    vocab, _ = _bpe_learn(spark, sf_dir)
    nsym = vocab.select(
        "tok", F.size(F.split("seq", " ")).cast("long").alias("n_sym")
    )
    dt = _doc_token_counts(spark, sf_dir)
    return (
        dt.join(nsym, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_words"),
            F.sum(F.col("k") * F.col("n_sym")).alias("n_bpe_tokens"),
            (
                F.sum(F.col("k") * F.col("n_sym")).cast("double") / F.sum("k")
            ).alias("tokens_per_word"),
        )
    )


# --- the n-gram LM ladder ----------------------------------------------------


def _keys(n: int) -> list[str]:
    return [f"w{i}" for i in range(1, n + 1)]


def _doc_ngram_counts(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Per-(doc, adjacent n-token window) counts, columns (doc_id,
    w1..wn, k): the one session-cached per-document table of each order,
    built in one corpus pass whose map-side combine folds a hot n-gram
    to one row per document. n = 1 is
    :func:`~imdbmapreduce_spark.operators.text._doc_token_counts` (the
    table TF-IDF, BM25 and the BPE budget share) with ``tok`` named
    ``w1``."""
    if n == 1:
        return _doc_token_counts(spark, sf_dir).withColumnRenamed("tok", "w1")

    def build() -> DataFrame:
        zipped = F.arrays_zip(
            F.slice("toks", 1, F.size("toks") - (n - 1)),
            *[
                F.expr(f"slice(toks, {i}, size(toks) - {n - 1})")
                for i in range(2, n + 1)
            ],
        )
        return (
            table(spark, sf_dir, "documents")
            .select("doc_id", tokens("text").alias("toks"))
            .filter(F.size("toks") >= n)
            .select("doc_id", F.explode(zipped).alias("p"))
            .select("doc_id", *[F.col(f"p.{i}").alias(f"w{i + 1}") for i in range(n)])
            .groupBy("doc_id", *_keys(n))
            .agg(F.count(F.lit(1)).alias("k"))
        )

    return shared_cache(spark, ("doc_ngram_counts", sf_dir, n), build)


def _corpus_ngram_counts(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Corpus count table of order n, (w1..wn, c): the trained counts
    every rung reads. Session-cached, and aggregated from the cached
    per-document table, so building it never re-reads the corpus."""
    return shared_cache(
        spark,
        ("corpus_ngram_counts", sf_dir, n),
        lambda: _doc_ngram_counts(spark, sf_dir, n)
        .groupBy(*_keys(n))
        .agg(F.sum("k").alias("c")),
    )


def _conditional(spark: SparkSession, sf_dir: str, j: int, n: int) -> DataFrame:
    """The order-j MLE P(wj | w1..w(j-1)) keyed on the LAST j words of
    an order-n gram: columns w(n-j+1)..wn and ``p{j}``. The denominator
    is the prefix count summed over the order-j table itself, so each
    conditional distribution sums to 1. For j = 1 the prefix is empty
    and the denominator is the corpus total, a one-row aggregate
    broadcast into the plan (no driver round-trip)."""
    c = _corpus_ngram_counts(spark, sf_dir, j)
    if j == 1:
        c = c.crossJoin(F.broadcast(c.agg(F.sum("c").cast("double").alias("n"))))
    else:
        c = c.withColumn("n", F.sum("c").over(Window.partitionBy(*_keys(j - 1))))
    return c.select(
        *[F.col(f"w{i}").alias(f"w{i + n - j}") for i in range(1, j + 1)],
        (F.col("c").cast("double") / F.col("n")).alias(f"p{j}"),
    )


def _lp_q(prob: Column) -> Column:
    """A probability's log, quantized to 1e-6 (one rounding per model
    entry, so every later sum is exact)."""
    return F.round(F.log(prob) * _LP_SCALE).cast("long").alias("lp_q")


def _per_doc_score(scored: DataFrame, n_col: str) -> DataFrame:
    """The one per-document tail of every rung: (doc_id, k, lp_q) rows →
    ``n_col`` = Σk, ``logprob_q`` = Σ k·lp_q (exact integer sums) and
    ``avg_logprob``, one fixed int → double division sequence."""
    lp = F.sum(F.col("k") * F.col("lp_q"))
    return scored.groupBy("doc_id").agg(
        F.sum("k").alias(n_col),
        lp.alias("logprob_q"),
        (lp.cast("double") / F.sum("k") / F.lit(_LP_SCALE)).alias("avg_logprob"),
    )


def _jm_logprob(
    spark: SparkSession, sf_dir: str, weights: tuple[float, ...], n_col: str
) -> DataFrame:
    """One Jelinek-Mercer rung of order n = ``len(weights)``: per
    document, the total and mean log-probability of its n-grams under
    Σ_j weights[n-j] · P(wn | w(n-j+1)..w(n-1)), j = n..1, every
    conditional an MLE over the corpus itself (see :func:`_conditional`).
    Interpolation keeps every probability defined without a backoff
    path: each lower-order suffix of a corpus n-gram occurs in the
    corpus too. The terms add top order first, left to right, the order
    the oracles spell.

    Determinism: the score reads only corpus-level counts, so every row
    of one n-gram computes the same double and rounds it once
    (:func:`_lp_q`); the per-document sums are exact integers both
    engines replay bit-for-bit.

    Plan: the unigram rung joins its per-document table to the cached
    unigram table (with the broadcast corpus total) on the token. For
    n ≥ 2 the top order's count and its (n-1)-prefix count are window
    sums over the cached per-document table: one hash exchange on
    w1..w(n-1) serves both windows, and the 5-gram rung measured
    2.9–5.8 s → 1.4–1.9 s at sf0.1 against the earlier build-a-model-
    table-then-join shape (plans/r12/doc_5gram_logprob_{before,after}.txt).
    Each lower order j joins as a conditional table on the last j words,
    so the order-n rung is n-1 joins and no per-order prefix
    groupBy→join pair. Joining the cached top-order corpus table on all
    n keys instead measured faster for the bigram and trigram rungs but
    slower for the 5-gram, whose corpus table is nearly as large as the
    per-document one; the window shape is kept for every n ≥ 2.

    Scale: window sums have no map-side partial combine, so one window
    partition holds every (doc, n-gram) row under one (n-1)-word
    prefix: at most the prefix's corpus count, and at most |docs| × its
    distinct continuations. The bigram rung's hottest prefix is the
    corpus's most frequent word (a stop word, a few percent of all
    tokens under Zipf's law); each higher order's hottest prefix is
    rarer, so its bound is tighter. On the sf0.1 corpus the hottest
    prefix holds 3.4% of the per-document rows at order 2 (8,753 of
    256,477), 0.13% at order 3 and 6 rows at order 5. A prefix that
    outgrows one task needs the join shape back for that rung; AQE's
    skew split applies to joins, not windows. The lower-order tables and
    the unigram join are vocabulary-sized or smaller, and AQE picks
    broadcast or shuffle from their size. No UDFs and no driver
    round-trips.
    """
    n = len(weights)
    keys = _keys(n)
    scored = _doc_ngram_counts(spark, sf_dir, n)
    if n == 1:
        scored = scored.join(_conditional(spark, sf_dir, 1, 1), "w1")
    else:
        scored = (
            scored.withColumn("c", F.sum("k").over(Window.partitionBy(*keys)))
            .withColumn("n", F.sum("k").over(Window.partitionBy(*keys[:-1])))
            .withColumn(f"p{n}", F.col("c").cast("double") / F.col("n"))
        )
    for j in range(n - 1, 0, -1):
        scored = scored.join(_conditional(spark, sf_dir, j, n), keys[n - j :])
    prob = reduce(
        operator.add, [F.lit(w) * F.col(f"p{n - i}") for i, w in enumerate(weights)]
    )
    return _per_doc_score(scored.select("doc_id", "k", _lp_q(prob)), n_col)


@query(
    "doc_unigram_logprob",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, unnest(toks) AS tok
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ), dt AS (
      SELECT doc_id, tok, COUNT(*) AS k FROM ex GROUP BY doc_id, tok
    ), vocab AS (
      SELECT tok, SUM(k) AS cnt FROM dt GROUP BY tok
    ), n AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab
    ), lp AS (
      SELECT tok,
             CAST(round(ln(CAST(cnt AS DOUBLE) / (SELECT total FROM n))
                        * {_LP_SCALE}) AS BIGINT) AS lp_q
      FROM vocab
    )
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           CAST(SUM(d.k * l.lp_q) AS BIGINT) AS logprob_q,
           CAST(SUM(d.k * l.lp_q) AS DOUBLE) / SUM(d.k) / {_LP_SCALE}
             AS avg_logprob
    FROM dt d JOIN lp l ON d.tok = l.tok
    GROUP BY d.doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring: per document, the total and
    mean per-token log-probability under the corpus's own unigram
    distribution (CCNet's filter, with the KenLM swapped for the unigram
    model the same plan shape supports). The ladder's first rung, weight
    1.0: :func:`_jm_logprob`."""
    return _jm_logprob(spark, sf_dir, (1.0,), "n_tokens")


_MIX2 = 0.7  # interpolation weight on the bigram MLE (0.3 on unigram)

# The bigram scorer's oracle as a named constant: ccnet_perplexity_buckets
# embeds it as a CTE so the bucket labels and the scores they derive from
# cannot drift apart (same lockstep pattern as split_leakage_audit).
_BIGRAM_ORACLE = f"""
    WITH ex AS MATERIALIZED (
      SELECT doc_id, toks FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ), uni AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(toks) AS tok FROM ex) GROUP BY tok
    ), t AS (SELECT CAST(SUM(c1) AS DOUBLE) AS total FROM uni),
    bg AS MATERIALIZED (
      SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM ex WHERE len(toks) >= 2
      ) GROUP BY 1, 2, 3
    ), big AS (
      SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
    ), pre AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS n1 FROM big GROUP BY 1
    ), model AS (
      SELECT b.w1, b.w2,
             CAST(round(ln({_MIX2} * (CAST(b.c12 AS DOUBLE) / p.n1)
                           + {1.0 - _MIX2} * (CAST(u.c1 AS DOUBLE)
                                              / (SELECT total FROM t)))
                        * {_LP_SCALE}) AS BIGINT) AS lp_q
      FROM big b JOIN pre p ON b.w1 = p.w1 JOIN uni u ON b.w2 = u.tok
    )
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_bigrams,
           CAST(SUM(d.k * m.lp_q) AS BIGINT) AS logprob_q,
           CAST(SUM(d.k * m.lp_q) AS DOUBLE) / SUM(d.k) / {_LP_SCALE}
             AS avg_logprob
    FROM bg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
    GROUP BY d.doc_id
    """


@query("doc_bigram_logprob", oracle=_BIGRAM_ORACLE)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring: per document, the total and mean
    per-bigram log-probability under an INTERPOLATED bigram model
    (0.7·P(w2|w1) + 0.3·P(w2)) trained on the corpus itself — one rung
    up the n-gram ladder from :func:`doc_unigram_logprob`, and the plan
    shape of a KenLM-scored CCNet filter. The 0.3 weight is spelled
    ``1.0 - _MIX2`` (0.30000000000000004), as in the oracle, so both
    engines multiply by the same double. :func:`_jm_logprob`."""
    return _jm_logprob(spark, sf_dir, (_MIX2, 1.0 - _MIX2), "n_bigrams")


# Trigram interpolation weights (Jelinek-Mercer): trigram/bigram/unigram
# MLEs. Every term is defined for every corpus trigram: its (w2,w3)
# bigram and w3 unigram necessarily occur.
_MIX3_TRI, _MIX3_BI, _MIX3_UNI = 0.6, 0.3, 0.1


@query(
    "doc_trigram_logprob",
    oracle=f"""
    WITH ex AS MATERIALIZED (
      SELECT doc_id, toks FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ), tg AS MATERIALIZED (
      SELECT doc_id, w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
               unnest(toks[2:len(toks)-1]) AS w2,
               unnest(toks[3:len(toks)]) AS w3
        FROM ex WHERE len(toks) >= 3
      ) GROUP BY 1, 2, 3, 4
    ), bgall AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
        SELECT unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM ex WHERE len(toks) >= 2
      ) GROUP BY 1, 2
    ), uni AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(toks) AS tok FROM ex) GROUP BY tok
    ), t AS (SELECT CAST(SUM(c1) AS DOUBLE) AS total FROM uni),
    tri AS (
      SELECT w1, w2, w3, CAST(SUM(k) AS BIGINT) AS c123 FROM tg GROUP BY 1, 2, 3
    ), pre12 AS (
      SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS n12 FROM tri GROUP BY 1, 2
    ), pre1 AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS n1 FROM bgall GROUP BY 1
    ), model AS (
      SELECT r.w1, r.w2, r.w3,
             CAST(round(ln({_MIX3_TRI} * (CAST(r.c123 AS DOUBLE) / p.n12)
                           + {_MIX3_BI} * (CAST(b.c12 AS DOUBLE) / q.n1)
                           + {_MIX3_UNI} * (CAST(u.c1 AS DOUBLE)
                                            / (SELECT total FROM t)))
                        * {_LP_SCALE}) AS BIGINT) AS lp_q
      FROM tri r
      JOIN pre12 p ON r.w1 = p.w1 AND r.w2 = p.w2
      JOIN bgall b ON r.w2 = b.w1 AND r.w3 = b.w2
      JOIN pre1 q ON r.w2 = q.w1
      JOIN uni u ON r.w3 = u.tok
    )
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_trigrams,
           CAST(SUM(d.k * m.lp_q) AS BIGINT) AS logprob_q,
           CAST(SUM(d.k * m.lp_q) AS DOUBLE) / SUM(d.k) / {_LP_SCALE}
             AS avg_logprob
    FROM tg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2 AND d.w3 = m.w3
    GROUP BY d.doc_id
    """,
)
def doc_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-LM quality scoring: per document, the total and mean
    per-trigram log-probability under a 3-way Jelinek-Mercer
    interpolated model (0.6·P(w3|w1w2) + 0.3·P(w3|w2) + 0.1·P(w3))
    trained on the corpus itself. :func:`_jm_logprob`."""
    return _jm_logprob(
        spark, sf_dir, (_MIX3_TRI, _MIX3_BI, _MIX3_UNI), "n_trigrams"
    )


# 5-way Jelinek-Mercer weights (5-gram .. unigram), the order CCNet's
# KenLM filter actually deploys; fixed weights like the lower rungs.
_MIX5 = (0.4, 0.25, 0.2, 0.1, 0.05)


def _5gram_oracle() -> str:
    l5, l4, l3, l2, l1 = _MIX5
    return f"""
    WITH ex AS MATERIALIZED (
      SELECT doc_id, toks FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ), pg AS MATERIALIZED (
      SELECT doc_id, w1, w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id, unnest(toks[1:len(toks)-4]) AS w1,
               unnest(toks[2:len(toks)-3]) AS w2,
               unnest(toks[3:len(toks)-2]) AS w3,
               unnest(toks[4:len(toks)-1]) AS w4,
               unnest(toks[5:len(toks)]) AS w5
        FROM ex WHERE len(toks) >= 5
      ) GROUP BY 1, 2, 3, 4, 5, 6
    ), qgall AS MATERIALIZED (
      SELECT w1, w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS c4 FROM (
        SELECT unnest(toks[1:len(toks)-3]) AS w1,
               unnest(toks[2:len(toks)-2]) AS w2,
               unnest(toks[3:len(toks)-1]) AS w3,
               unnest(toks[4:len(toks)]) AS w4
        FROM ex WHERE len(toks) >= 4
      ) GROUP BY 1, 2, 3, 4
    ), tgall AS MATERIALIZED (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
        SELECT unnest(toks[1:len(toks)-2]) AS w1,
               unnest(toks[2:len(toks)-1]) AS w2,
               unnest(toks[3:len(toks)]) AS w3
        FROM ex WHERE len(toks) >= 3
      ) GROUP BY 1, 2, 3
    ), bgall AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
        SELECT unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM ex WHERE len(toks) >= 2
      ) GROUP BY 1, 2
    ), uni AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(toks) AS tok FROM ex) GROUP BY tok
    ), t AS (SELECT CAST(SUM(c1) AS DOUBLE) AS total FROM uni),
    five AS MATERIALIZED (
      SELECT w1, w2, w3, w4, w5, CAST(SUM(k) AS BIGINT) AS c5g
      FROM pg GROUP BY 1, 2, 3, 4, 5
    ), pre1234 AS (
      SELECT w1, w2, w3, w4, CAST(SUM(c5g) AS BIGINT) AS n1234
      FROM five GROUP BY 1, 2, 3, 4
    ), pre234 AS (
      SELECT w1, w2, w3, CAST(SUM(c4) AS BIGINT) AS n234 FROM qgall GROUP BY 1, 2, 3
    ), pre34 AS (
      SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS n34 FROM tgall GROUP BY 1, 2
    ), pre4 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS n4 FROM bgall GROUP BY 1
    ), model AS (
      SELECT r.w1, r.w2, r.w3, r.w4, r.w5,
             CAST(round(ln({l5} * (CAST(r.c5g AS DOUBLE) / p.n1234)
                           + {l4} * (CAST(g.c4 AS DOUBLE) / s.n234)
                           + {l3} * (CAST(h.c3 AS DOUBLE) / v.n34)
                           + {l2} * (CAST(b.c2 AS DOUBLE) / q.n4)
                           + {l1} * (CAST(u.c1 AS DOUBLE)
                                     / (SELECT total FROM t)))
                        * {_LP_SCALE}) AS BIGINT) AS lp_q
      FROM five r
      JOIN pre1234 p ON r.w1 = p.w1 AND r.w2 = p.w2 AND r.w3 = p.w3 AND r.w4 = p.w4
      JOIN qgall g ON r.w2 = g.w1 AND r.w3 = g.w2 AND r.w4 = g.w3 AND r.w5 = g.w4
      JOIN pre234 s ON r.w2 = s.w1 AND r.w3 = s.w2 AND r.w4 = s.w3
      JOIN tgall h ON r.w3 = h.w1 AND r.w4 = h.w2 AND r.w5 = h.w3
      JOIN pre34 v ON r.w3 = v.w1 AND r.w4 = v.w2
      JOIN bgall b ON r.w4 = b.w1 AND r.w5 = b.w2
      JOIN pre4 q ON r.w4 = q.w1
      JOIN uni u ON r.w5 = u.tok
    )
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_5grams,
           CAST(SUM(d.k * m.lp_q) AS BIGINT) AS logprob_q,
           CAST(SUM(d.k * m.lp_q) AS DOUBLE) / SUM(d.k) / {_LP_SCALE}
             AS avg_logprob
    FROM pg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2 AND d.w3 = m.w3
                          AND d.w4 = m.w4 AND d.w5 = m.w5
    GROUP BY d.doc_id
    """


@query("doc_5gram_logprob", oracle=_5gram_oracle())
def doc_5gram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram-LM quality scoring: per document, the total and mean
    per-5-gram log-probability under a 5-way Jelinek-Mercer interpolated
    model (0.4·P(w5|w1..w4) + 0.25·P(w5|w2..w4) + 0.2·P(w5|w3w4) +
    0.1·P(w5|w4) + 0.05·P(w5)) trained on the corpus itself — the order
    CCNet's KenLM filter actually deploys. :func:`_jm_logprob`."""
    return _jm_logprob(spark, sf_dir, _MIX5, "n_5grams")


# Kneser-Ney absolute-discount parameter (the standard fixed setting;
# modified-KN's count-bucketed discounts are a constant-table variant
# of this same plan).
_KN_D = 0.75


@query(
    "doc_kn_bigram_logprob",
    oracle=f"""
    WITH ex AS MATERIALIZED (
      SELECT doc_id, toks FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ), bg AS MATERIALIZED (
      SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM ex WHERE len(toks) >= 2
      ) GROUP BY 1, 2, 3
    ), big AS MATERIALIZED (
      SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
    ), pre AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS n1,
             CAST(COUNT(*) AS BIGINT) AS r1
      FROM big GROUP BY 1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS l2 FROM big GROUP BY 1
    ), types AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_types FROM big),
    model AS (
      SELECT b.w1, b.w2,
             CAST(round(ln(
               (CAST(b.c12 AS DOUBLE) - {_KN_D}) / p.n1
               + ({_KN_D} * p.r1 / p.n1)
                 * (CAST(c.l2 AS DOUBLE) / (SELECT n_types FROM types))
             ) * {_LP_SCALE}) AS BIGINT) AS lp_q
      FROM big b
      JOIN pre p ON b.w1 = p.w1
      JOIN cont c ON b.w2 = c.w2
    )
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_bigrams,
           CAST(SUM(d.k * m.lp_q) AS BIGINT) AS logprob_q,
           CAST(SUM(d.k * m.lp_q) AS DOUBLE) / SUM(d.k) / {_LP_SCALE}
             AS avg_logprob
    FROM bg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
    GROUP BY d.doc_id
    """,
)
def doc_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram scoring — the smoothing KenLM (and
    thus the CCNet perplexity filter) actually uses, beside the
    Jelinek-Mercer scorers:

        P_KN(w2|w1) = (c12 - D)/n1 + (D * N1+(w1 .)/n1) * P_cont(w2)
        P_cont(w2)  = N1+(. w2) / N1+(. .)

    with D = 0.75 absolute discount. The continuation probability counts
    DISTINCT LEFT CONTEXTS (how many different words precede w2), not
    raw frequency — the insight that makes KN the strongest n-gram
    smoother: "Francisco" is frequent but only ever follows "San", so
    its continuation mass is tiny. Every factor here is an exact count
    over the bigram-TYPE table: n1 = Σ c(w1,.), N1+(w1 .) = distinct
    continuations of w1, N1+(. w2) = distinct contexts of w2, N1+(. .)
    = distinct bigram types. Defined for every corpus bigram
    (c12 >= 1 > D, all counts >= 1); quantized to 1e-6 at the model
    level, so per-doc reductions are exact integer sums.

    Plan: the ladder's cached bigram tables (:func:`_doc_ngram_counts`,
    :func:`_corpus_ngram_counts`); the three marginals are
    vocabulary-sized aggregations of the type table, and the type count
    joins as a broadcast one-row aggregate. The model table (|distinct
    bigrams| slim rows) joins each document's bigram counts on the pair,
    and :func:`_per_doc_score` sums per document. Distinct counts have
    no window form, so this rung keeps the model-table join the JM rungs
    replace with windows. No UDFs.
    """
    big = _corpus_ngram_counts(spark, sf_dir, 2)
    pre = big.groupBy("w1").agg(F.sum("c").alias("n1"), F.count(F.lit(1)).alias("r1"))
    types = big.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    cont = (
        big.groupBy("w2")
        .agg(F.count(F.lit(1)).alias("l2"))
        .crossJoin(F.broadcast(types))
        .select("w2", (F.col("l2").cast("double") / F.col("n_types")).alias("p_cont"))
    )
    model = (
        big.join(pre, "w1")
        .join(cont, "w2")
        .select(
            "w1",
            "w2",
            _lp_q(
                (F.col("c").cast("double") - F.lit(_KN_D)) / F.col("n1")
                + (F.lit(_KN_D) * F.col("r1") / F.col("n1")) * F.col("p_cont")
            ),
        )
    )
    scored = _doc_ngram_counts(spark, sf_dir, 2).join(model, ["w1", "w2"])
    return _per_doc_score(scored, "n_bigrams")


# CCNet-style perplexity bucketing: tertile cutoffs over the integer
# per-bigram score. Both engines spell the order statistic as "value at
# rank ceil(q*n) in ascending order" (SQL-standard PERCENTILE_DISC).
_PPL_Q1 = 0.3333333333333333
_PPL_Q2 = 0.6666666666666666


@query(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH scores AS ({_BIGRAM_ORACLE}),
    s AS (
      SELECT doc_id,
             CAST(floor(CAST(logprob_q AS DOUBLE) / n_bigrams) AS BIGINT)
               AS avg_q
      FROM scores
    ),
    n AS (SELECT COUNT(*) AS n FROM s),
    r AS (SELECT avg_q, row_number() OVER (ORDER BY avg_q) AS rn FROM s),
    c AS (
      SELECT
        (SELECT avg_q FROM r
          WHERE rn = (SELECT CAST(ceil({_PPL_Q1} * n) AS BIGINT) FROM n)) AS c1,
        (SELECT avg_q FROM r
          WHERE rn = (SELECT CAST(ceil({_PPL_Q2} * n) AS BIGINT) FROM n)) AS c2
    )
    SELECT s.doc_id, s.avg_q,
           CASE WHEN s.avg_q <= (SELECT c1 FROM c) THEN 'tail'
                WHEN s.avg_q <= (SELECT c2 FROM c) THEN 'middle'
                ELSE 'head' END AS ppl_bucket
    FROM s
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's corpus partitioning: score every document under the
    corpus LM, then split the corpus into head / middle / tail thirds by
    perplexity — the filter CCNet runs before anything else touches a
    crawl (head ≈ Wikipedia-like, tail ≈ noise). Scores come from the
    registered interpolated-bigram model (:func:`doc_bigram_logprob` —
    shared-cached artifacts, so this adds no corpus pass), and the oracle
    embeds that scorer's SQL verbatim so the labels can never drift from
    the scores.

    Determinism: the per-doc score is floor(logprob_q / n_bigrams) — an
    integer both engines derive from the same exact-int division — and
    the tertile cutoffs are ORDER STATISTICS of that integer multiset
    (value at rank ceil(n/3), ceil(2n/3)): no interpolation, so no
    cross-engine float boundary. Ties share a bucket by construction
    (labels compare values, not ranks). Higher avg log-prob = lower
    perplexity = 'head'.

    Scale: scoring is the ladder's bigram rung; the cutoffs are TWO order
    statistics (percentile_disc — at 100 TB swap for approx_percentile
    trained on a sample shard, the labeling map-pass is unchanged; CCNet
    itself fits cutoffs on a sample), one aggregate row broadcast into
    the labeling map-pass, so building the plan runs no job.
    """
    # (doc_id, avg_q) feeds both the cutoff aggregate and the labeling
    # pass — session-cache it so the bigram rung runs once per session
    s = shared_cache(
        spark,
        ("bigram_avg_q", sf_dir),
        lambda: doc_bigram_logprob(spark, sf_dir).select(
            "doc_id",
            F.floor(F.col("logprob_q").cast("double") / F.col("n_bigrams"))
            .cast("long")
            .alias("avg_q"),
        ),
    )
    cuts = s.agg(
        F.expr(f"percentile_disc({_PPL_Q1}) WITHIN GROUP (ORDER BY avg_q)").alias("c1"),
        F.expr(f"percentile_disc({_PPL_Q2}) WITHIN GROUP (ORDER BY avg_q)").alias("c2"),
    )
    return s.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "avg_q",
        F.when(F.col("avg_q") <= F.col("c1"), "tail")
        .when(F.col("avg_q") <= F.col("c2"), "middle")
        .otherwise("head")
        .alias("ppl_bucket"),
    )


# --- unigram-LM tokenizer (the SentencePiece model family) -----------------

_UNI_V = 256  # vocabulary cap: all single chars + top multi-char pieces
_UNI_MAXW = 16  # DP horizon: words longer than this are excluded (both engines)
_UNI_MAXP = 4  # max piece length
_UNI_RADIX = 32  # Viterbi state radix: state = score_q*RADIX + (MAXW - n_pieces)


def _uni_dp_term(dialect: str, i: int, j: int) -> str:
    """One Viterbi candidate: extend best[i] with piece w[i+1..j].

    The DP state packs (score_q, n_pieces) into ONE int64 —
    state = score_q·RADIX + (MAXW − np), np ≤ MAXW < RADIX — so the
    argmax over (max score, then MIN pieces) is integer greatest(), and
    the transition is state + lp·RADIX − 1. A missing piece makes the
    lookup NULL, NULL propagates through the arithmetic, and greatest()
    skips NULLs in both engines: invalid candidates eliminate
    themselves."""
    k = i * _UNI_RADIX + j
    lp = f"try_element_at(wm, {k})" if dialect == "spark" else f"wm[{k}][1]"
    prev = str(_UNI_MAXW) if i == 0 else f"b{i}"  # b0 = MAXW - 0 pieces
    return f"({prev} + {lp} * {_UNI_RADIX} - 1)"


def _uni_dp_expr(dialect: str, j: int) -> str:
    terms = [_uni_dp_term(dialect, i, j) for i in range(max(0, j - _UNI_MAXP), j)]
    body = terms[0] if len(terms) == 1 else f"greatest({', '.join(terms)})"
    return f"CASE WHEN {j} <= wl THEN {body} ELSE NULL END"


def _uni_decode_sql() -> tuple[str, str]:
    """(score_q, np) decode of the packed final state `st` — floor-mod
    spelled identically in both engines (% is sign-of-dividend in both)."""
    dig = f"((st % {_UNI_RADIX}) + {_UNI_RADIX}) % {_UNI_RADIX}"
    return (f"(st - ({dig})) DIV {_UNI_RADIX}", f"{_UNI_MAXW} - ({dig})")


def _unigram_oracle() -> str:
    dp_ctes, prev = [], "wm0"
    for j in range(1, _UNI_MAXW + 1):
        dp_ctes.append(
            f"d{j} AS (SELECT *, {_uni_dp_expr('duckdb', j)} AS b{j} FROM {prev})"
        )
        prev = f"d{j}"
    final_case = " ".join(f"WHEN {j} THEN b{j}" for j in range(1, _UNI_MAXW + 1))
    score_sql, np_sql = _uni_decode_sql()
    score_sql = score_sql.replace(" DIV ", " // ")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    dt AS MATERIALIZED (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS k FROM toks GROUP BY 1, 2
    ),
    words AS MATERIALIZED (
      SELECT w, CAST(SUM(k) AS BIGINT) AS wcnt, CAST(len(w) AS BIGINT) AS wl
      FROM dt GROUP BY w HAVING len(w) <= {_UNI_MAXW}
    ),
    cands AS MATERIALIZED (
      SELECT w, CAST(t.i AS BIGINT) AS i, CAST(l.l AS BIGINT) AS l,
             substring(w, CAST(t.i AS INT) + 1, CAST(l.l AS INT)) AS piece, wcnt
      FROM words
      CROSS JOIN range(0, {_UNI_MAXW}) t(i)
      CROSS JOIN range(1, {_UNI_MAXP + 1}) l(l)
      WHERE CAST(t.i AS BIGINT) + CAST(l.l AS BIGINT) <= wl
    ),
    pcnt AS (
      SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt, len(piece) AS pl
      FROM cands GROUP BY piece
    ),
    chars AS (SELECT piece, cnt FROM pcnt WHERE pl = 1),
    multis AS (
      SELECT piece, cnt FROM (
        SELECT piece, cnt,
               row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
        FROM pcnt WHERE pl >= 2
      ) WHERE rn <= {_UNI_V} - (SELECT COUNT(*) FROM chars)
    ),
    vocab AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(ln(CAST(cnt AS DOUBLE)
                           / (SELECT CAST(SUM(cnt) AS DOUBLE)
                              FROM (SELECT cnt FROM chars
                                    UNION ALL SELECT cnt FROM multis)))
                        * {_LP_SCALE}) AS BIGINT) AS lp_q
      FROM (SELECT * FROM chars UNION ALL SELECT * FROM multis)
    ),
    wm0 AS MATERIALIZED (
      SELECT c.w, w2.wl,
             map_from_entries(list({{'k': CAST(c.i * {_UNI_RADIX} + c.i + c.l
                                               AS INT),
                                     'v': v.lp_q}})) AS wm
      FROM cands c
      JOIN vocab v ON c.piece = v.piece
      JOIN words w2 ON c.w = w2.w
      GROUP BY c.w, w2.wl
    ),
    {", ".join(dp_ctes)},
    ws AS (SELECT w, (CASE wl {final_case} END) AS st FROM {prev}),
    dec AS (SELECT w, {score_sql} AS score_q, {np_sql} AS np FROM ws)
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           CAST(SUM(d.k * x.np) AS BIGINT) AS n_pieces,
           CAST(SUM(d.k * x.score_q) AS BIGINT) AS score_q,
           CAST(SUM(d.k * x.score_q) AS DOUBLE) / SUM(d.k * x.np) / {_LP_SCALE}
             AS avg_piece_logprob
    FROM dt d JOIN dec x ON d.w = x.w
    GROUP BY d.doc_id
    """


@query("unigram_tokenizer_encode", oracle=_unigram_oracle())
def unigram_tokenizer_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER tokenizer family: a unigram-LM (SentencePiece-model)
    tokenizer — seed a piece vocabulary from corpus substring counts
    (all single chars + the top multi-char substrings up to length 4,
    256 pieces total), score pieces by their corpus log-frequency, and
    encode every word by VITERBI best segmentation (max total log-prob,
    ties to the fewest pieces). Complements the trained-merge BPE rung
    (:func:`bpe_encode_stats`): BPE is bottom-up greedy, unigram is
    top-down optimal — the two families that cover production
    subword tokenization (Kudo 2018).

    The whole encode is PURE SQL in both engines: the Viterbi state
    (score, n_pieces) packs into one int64 (score_q·32 + (16−np)), so
    the DP transition is integer add and the argmax is greatest() —
    the DP unrolls to 16 chained projections over a per-word piece MAP
    (the fresh-plan SQL-string rule), no UDF anywhere. Log-probs
    quantize at 1e-6 at the vocabulary level (the LM ladder's rule), so
    every reduction is an exact integer sum. Words longer than 16 chars
    fall outside the DP horizon and are excluded by BOTH engines (the
    documented contract; none exist in this corpus — asserted in
    tests).

    Plan: per-doc token counts (session-cached artifact) → vocab-sized
    substring aggregation → per-WORD DP over a 64-entry map (|distinct
    words| rows, not |tokens|) → one doc-keyed scoring join. Scale: the
    DP table is vocabulary-sized (Zipf-bounded), the scoring join is
    the same shape as every LM rung; the substring explode is ≤64
    rows/word over the distinct-word table, not the corpus.
    """
    from imdbmapreduce_spark.cache import shared_cache
    from imdbmapreduce_spark.operators.text import _doc_token_counts

    dt = _doc_token_counts(spark, sf_dir).withColumnRenamed("tok", "w")
    words = (
        dt.groupBy("w")
        .agg(F.sum("k").alias("wcnt"))
        .withColumn("wl", F.length("w").cast("long"))
        .filter(F.col("wl") <= _UNI_MAXW)
    )
    cands = (
        words.select(
            "w",
            "wl",
            "wcnt",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, int(wl) - 1), i -> "
                    f"transform(sequence(1, least({_UNI_MAXP}, int(wl) - i)), "
                    f"l -> struct(i AS i, l AS l, "
                    f"substring(w, i + 1, l) AS piece))))"
                )
            ).alias("c"),
        )
        .select("w", "wl", "wcnt", "c.i", "c.l", "c.piece")
    )
    # Three actions consume the piece-count table (the char count, the
    # vocab total, and the final encode) — session-cache it.
    pcnt = shared_cache(
        spark,
        ("unigram_piece_counts", sf_dir, _UNI_MAXP, _UNI_MAXW),
        lambda: cands.groupBy("piece")
        .agg(F.sum("wcnt").alias("cnt"))
        .withColumn("pl", F.length("piece")),
    )
    chars = pcnt.filter(F.col("pl") == 1).select("piece", "cnt")
    n_chars = chars.count()
    multis = top_k(
        pcnt.filter(F.col("pl") >= 2), _UNI_V - n_chars, F.desc("cnt"), "piece"
    ).select("piece", "cnt")
    vocab = chars.unionByName(multis)
    total = vocab.agg(F.sum("cnt")).first()[0]
    if total is None:
        return spark.createDataFrame(
            [],
            "doc_id long, n_tokens long, n_pieces long, score_q long, "
            "avg_piece_logprob double",
        )
    vocab = vocab.select(
        "piece",
        F.round(F.log(F.col("cnt").cast("double") / F.lit(float(total))) * _LP_SCALE)
        .cast("long")
        .alias("lp_q"),
    )
    wm = (
        cands.join(F.broadcast(vocab), "piece")
        .groupBy("w", "wl")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("i") * _UNI_RADIX + F.col("i") + F.col("l"))
                        .cast("int")
                        .alias("k"),
                        F.col("lp_q").alias("v"),
                    )
                )
            ).alias("wm")
        )
    )
    def run_dp(base: DataFrame) -> DataFrame:
        out = base
        for j in range(1, _UNI_MAXW + 1):
            out = out.selectExpr("*", f"{_uni_dp_expr('spark', j)} AS b{j}")
        final_case = " ".join(
            f"WHEN {j} THEN b{j}" for j in range(1, _UNI_MAXW + 1)
        )
        score_sql, np_sql = _uni_decode_sql()
        return out.selectExpr("w", f"CASE wl {final_case} END AS st").selectExpr(
            "w", f"{score_sql} AS score_q", f"{np_sql} AS np"
        )

    # The scored word table is vocabulary-sized and its plan is the
    # expensive part (16 chained projections of 4-way greatest() terms —
    # Catalyst re-analyzes the growing tree per build). Session-cache the
    # RESULT so warm consumers skip both the DP execution and its
    # analysis cost.
    dec = shared_cache(
        spark,
        ("unigram_word_scores", sf_dir, _UNI_V, _UNI_MAXP, _UNI_MAXW),
        lambda: run_dp(wm),
    )
    return (
        dt.join(dec, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sum(F.col("k") * F.col("np")).alias("n_pieces"),
            F.sum(F.col("k") * F.col("score_q")).alias("score_q"),
            (
                F.sum(F.col("k") * F.col("score_q")).cast("double")
                / F.sum(F.col("k") * F.col("np"))
                / F.lit(_LP_SCALE)
            ).alias("avg_piece_logprob"),
        )
    )
