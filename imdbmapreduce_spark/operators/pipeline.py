"""Training-data pipeline operators over ``documents`` — the corpus-prep
stages an LLM pretraining pipeline runs between raw crawl and tokenized
shards (additive vertical beyond the reference surface, like
operators/text.py; the reference's closest analog is its ingest/tokenize
stage, /root/reference/Code/mapReduce.erl:140-148).

Six first-class stages, each a declarative DataFrame plan with a DuckDB
oracle:

- decontamination: drop/flag training docs that share long n-grams with an
  eval/benchmark set (the GPT-3/C4-style 13-gram collision rule, here
  5-grams scaled to the synthetic corpus' ~40-token docs);
- repetition filtering: Gopher-style duplicate-n-gram ratio per doc;
- mixture resampling: deterministic per-stratum (language) hash sampling
  to hit a target corpus mix;
- token-length histogram: power-of-2 length buckets — the planning input
  for sequence packing and curriculum batching;
- sequence packing: concat-and-chunk assignment of every doc to
  fixed-token-budget bins (offset arithmetic over per-shard cumulative
  sums) — the standard pretraining packing layout;
- document chunking: sliding token windows with overlap — the
  retrieval/embedding prep stage (RAG indexing, long-doc embedding).

All hot paths are built-in expressions (codegen); the only shuffles are
keyed on doc_id / shingle / shard — uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdbmapreduce_spark.cache import shared_cache
from imdbmapreduce_spark.catalog import table
from imdbmapreduce_spark.functions import tokens, top_k
from imdbmapreduce_spark.operators.dedup import _shingle_rows
from imdbmapreduce_spark.operators.dedup import _DUCK_JAC_CTES as _JAC_CTES
from imdbmapreduce_spark.operators.text import _SPLIT_TRAIN, _SPLIT_VAL
from imdbmapreduce_spark.registry import query

_DUCK_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"

# Knuth multiplicative hash over doc_id — deterministic, partition-layout-
# independent membership (same contract as relational.stratified_sample).
# doc_id is folded to 31 bits BEFORE the multiply: (2^31-1) * 2654435761
# ≈ 5.7e18 stays inside int64, so the expression never overflows (ANSI
# ArithmeticException in Spark 4, BIGINT overflow in DuckDB) no matter how
# large doc_id grows at corpus scale. The fold is the identity for every
# doc_id < 2^31, so small-corpus results are unchanged.
_HASH_MOD = 4294967296
_FOLD_MOD = 2147483648  # 2^31
_DOC_LOW = f"(((doc_id % {_FOLD_MOD}) + {_FOLD_MOD}) % {_FOLD_MOD})"
_DOC_HASH = f"(({_DOC_LOW} * 2654435761) % {_HASH_MOD})"


def _doc_hash() -> F.Column:
    low = (
        (F.col("doc_id") % F.lit(_FOLD_MOD)) + F.lit(_FOLD_MOD)
    ) % F.lit(_FOLD_MOD)
    return (low * F.lit(2654435761)) % F.lit(_HASH_MOD)


# --- decontamination ------------------------------------------------------

# Synthetic eval set: every 97th doc stands in for the benchmark corpus.
# In production the eval side is its own (small) table; the plan is
# identical — only the scan changes.
_EVAL_MOD = 97
_DECON_K = 5  # n-gram length; production uses 8-13 on web-scale docs


@query(
    "decontaminate_eval_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-{_DECON_K - 2}),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS s
      FROM toks WHERE len(t) >= {_DECON_K}
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), eval_sh AS (
      SELECT DISTINCT shingle FROM ex WHERE doc_id % {_EVAL_MOD} = 0
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM ex GROUP BY 1
    ), hits AS (
      SELECT e.doc_id, COUNT(*) AS n_hit_shingles
      FROM ex e JOIN eval_sh v ON e.shingle = v.shingle
      WHERE e.doc_id % {_EVAL_MOD} <> 0
      GROUP BY 1
    )
    SELECT h.doc_id, h.n_hit_shingles, s.n_shingles,
           CAST(h.n_hit_shingles AS DOUBLE) / s.n_shingles AS hit_ratio
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    """,
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 5-gram
    with the eval set (doc_id % 97 == 0 stands in for the benchmark).

    Plan: distinct (doc, shingle) rows → eval-side distinct shingle set →
    equi-join on shingle → per-doc hit count + ratio. The join is the
    containment check; the clean corpus is the anti-join complement of
    this report (same exchange, flipped join type).

    Scale: shuffles on shingle — high-cardinality and unskewed at k=5
    (long n-grams are near-unique; that's why decontamination uses them).
    Output is bounded by the train-side shingle rows that actually
    collide, not by any pair product: each train shingle matches at most
    the one distinct eval shingle equal to it. At 100 TB hash shingles to
    int64 first (as minhash_lsh_pairs does) and let AQE broadcast the
    eval side — benchmark suites are MBs, not TBs.
    """
    ex = shared_cache(
        spark,
        ("shingles_raw", sf_dir, _DECON_K),
        lambda: _shingle_rows(spark, sf_dir, k=_DECON_K),
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_sh = ex.filter(is_eval).select("shingle").distinct()
    train = ex.filter(~is_eval)
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train.join(eval_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_hit_shingles",
        "n_shingles",
        (F.col("n_hit_shingles").cast("double") / F.col("n_shingles")).alias("hit_ratio"),
    )


# --- repetition filtering -------------------------------------------------


@query(
    "doc_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             len(t) - 2 AS n_grams,
             len(list_distinct(list_transform(range(1, len(t)-1),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS n_distinct
      FROM toks WHERE len(t) >= 3
    )
    SELECT doc_id, n_grams, n_distinct,
           1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS dup_ratio,
           (n_distinct * 5 < n_grams * 4) AS is_repetitive
    FROM grams
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition score: fraction of duplicate 3-grams per
    doc; docs where >20% of 3-grams are repeats are flagged.

    The flag compares integers (n_distinct·5 < n_grams·4 ⇔ dup_ratio >
    0.2) so the boolean is exact cross-engine; the ratio column is one
    exact-int division.

    Scale: map-only over the scan — the n-gram array never leaves its
    row, no shuffle at all; pipelines into the same codegen stage as any
    other per-doc filter.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    k = 3
    idx = F.sequence(F.lit(1), F.size("t") - (k - 1))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(F.col("t"), i + j) for j in range(k)])  # noqa: E731
    base = (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= k)
        .select(
            "doc_id",
            (F.size("t") - (k - 1)).cast("long").alias("n_grams"),
            F.size(F.array_distinct(F.transform(idx, gram))).cast("long").alias("n_distinct"),
        )
    )
    return base.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")).alias("dup_ratio"),
        (F.col("n_distinct") * 5 < F.col("n_grams") * 4).alias("is_repetitive"),
    )


# --- mixture resampling ---------------------------------------------------

# Target mix: downsample the dominant language, keep the tail. Percent of
# hash space kept per lang (deterministic, re-runnable, shard-independent).
_MIX_PCT = {"en": 25, "zh": 50}
_MIX_DEFAULT_PCT = 100


def _mix_pct_sql() -> str:
    branches = " ".join(
        f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in sorted(_MIX_PCT.items())
    )
    return f"CASE {branches} ELSE {_MIX_DEFAULT_PCT} END"


@query(
    "corpus_mix_resample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_DOC_HASH} < {_HASH_MOD} * ({_mix_pct_sql()}) / 100
    """,
)
def corpus_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling: keep a per-language fraction of
    docs (en 25%, zh 50%, rest 100%) by hash-space prefix — how a
    pretraining pipeline hits a target domain/language mix without a
    global shuffle or a count pass.

    Same sampling contract as relational.stratified_sample: membership is
    a pure function of doc_id, so re-runs, re-shards and joins against
    other tables sampled on the same key all agree; raising a rate keeps
    a superset (hash-space prefixes nest).

    Scale: map-only filter fused into the scan; changing the mix is a
    literal edit, no data movement.
    """
    docs = table(spark, sf_dir, "documents")
    pct = F.lit(_MIX_DEFAULT_PCT)
    for lang, p in sorted(_MIX_PCT.items()):
        pct = F.when(F.col("lang") == lang, F.lit(p)).otherwise(pct)
    return docs.filter(_doc_hash() < F.lit(_HASH_MOD) * pct / 100).select(
        "doc_id", "lang", "source"
    )


# --- token-length histogram ----------------------------------------------


@query(
    "token_length_histogram",
    oracle=f"""
    WITH t AS (
      SELECT len({_DUCK_TOKS}) AS n FROM documents
    )
    SELECT length(bin(n)) AS bucket,
           POWER(2, length(bin(n)) - 1) AS bucket_min_len,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM t WHERE n > 0
    GROUP BY 1
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-2 token-length histogram: docs and token mass per
    ⌊log2⌋-bucket — the planning input for packing budgets, curriculum
    stages and truncation policy.

    The bucket is the bit-length of the token count (length of its binary
    representation) — exact integer semantics in both engines, immune to
    the float `log2` boundary drift at exact powers of two.

    Scale: map + one partial/final agg on ≤64 buckets; the exchange
    carries a handful of rows per map task at any input size.
    """
    docs = table(spark, sf_dir, "documents")
    n = F.size(tokens("text"))
    return (
        docs.select(n.alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.length(F.conv(F.col("n").cast("string"), 10, 2)).cast("long").alias("bucket"),
            "n",
        )
        .groupBy("bucket")
        .agg(
            F.pow(F.lit(2), F.col("bucket") - 1).alias("bucket_min_len"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
        )
        .select("bucket", "bucket_min_len", "n_docs", "total_tokens")
    )


# --- sequence packing -----------------------------------------------------

_PACK_SHARDS = 16  # parallel packing lanes; thousands at 100 TB
_PACK_BUDGET = 512  # tokens per training sequence (bin)


@query(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DOC_HASH} AS h, len({_DUCK_TOKS}) AS n
      FROM documents
    ), sized AS (
      SELECT doc_id, h % {_PACK_SHARDS} AS shard, h, n FROM t WHERE n > 0
    ), placed AS (
      SELECT doc_id, shard, n,
             CAST(SUM(n) OVER (PARTITION BY shard ORDER BY h, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n AS BIGINT) AS off
      FROM sized
    )
    SELECT doc_id, shard, n AS n_tokens, off,
           off // {_PACK_BUDGET} AS bin_start,
           (off + n - 1) // {_PACK_BUDGET} AS bin_end,
           (off + n - 1) // {_PACK_BUDGET} - off // {_PACK_BUDGET} + 1 AS n_bins
    FROM placed
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: every doc gets a deterministic
    (shard, offset) in a token stream that is then cut into fixed
    {budget}-token bins — the standard pretraining layout (documents
    concatenated, then split at the context length; a doc may straddle
    bins, recorded as [bin_start, bin_end]).

    Doc order inside a shard is by doc-id hash — a deterministic global
    shuffle, so adjacent docs are unrelated (the reason pipelines hash-
    order before packing) and every re-run yields identical bins.

    Scale: one shuffle on shard (uniform — it's a hash residue), then a
    per-shard running sum; shard count is the parallelism knob (16 here,
    thousands on a cluster, each shard's window independent). No global
    sort, no driver state.
    """
    return pack_sequences(table(spark, sf_dir, "documents"))


def pack_sequences(
    docs: DataFrame, budget: int = _PACK_BUDGET, shards: int = _PACK_SHARDS
) -> DataFrame:
    """The packing plan over any (doc_id, text) DataFrame — factored out
    so tests can drive the straddle path with docs longer than the
    budget (the fixture corpus never exceeds it)."""
    sized = (
        docs.select("doc_id", _doc_hash().alias("h"), F.size(tokens("text")).alias("n"))
        .filter(F.col("n") > 0)
        .withColumn("shard", F.col("h") % shards)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.withColumn("off", (F.sum("n").over(w) - F.col("n")).cast("long"))
    b = F.lit(budget)
    return placed.select(
        "doc_id",
        "shard",
        F.col("n").cast("long").alias("n_tokens"),
        "off",
        F.floor(F.col("off") / b).alias("bin_start"),
        F.floor((F.col("off") + F.col("n") - 1) / b).alias("bin_end"),
        (
            F.floor((F.col("off") + F.col("n") - 1) / b) - F.floor(F.col("off") / b) + 1
        ).alias("n_bins"),
    )


# --- document chunking ----------------------------------------------------

_CHUNK_SIZE = 64  # tokens per chunk (a context-window slice)
_CHUNK_STRIDE = 48  # overlap = size - stride = 16 tokens


@query(
    "doc_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ), idx AS (
      SELECT doc_id, toks, n,
             unnest(range(0, CAST(ceil(CASE WHEN n <= {_CHUNK_SIZE} THEN 1
                    ELSE (n - {_CHUNK_SIZE}) / {_CHUNK_STRIDE}.0 + 1 END) AS BIGINT)))
               AS chunk_idx
      FROM sized
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * {_CHUNK_STRIDE} AS start_tok,
           LEAST(chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n) - chunk_idx * {_CHUNK_STRIDE}
             AS n_tokens,
           array_to_string(list_slice(toks, chunk_idx * {_CHUNK_STRIDE} + 1,
                                      LEAST(chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n)),
                           ' ') AS chunk_text
    FROM idx
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each doc split into {size}-token windows
    with {size − stride}-token overlap — the retrieval/embedding prep
    stage (RAG indexing, long-doc embedding) between curation and the
    similarity operators.

    Chunk count per doc is ⌈(n − size)/stride⌉ + 1 (one chunk when the
    doc fits), so the final window is the only short one and every token
    lands in ≥1 chunk; overlap gives boundary-crossing phrases a home in
    both neighbors. The count arithmetic is float-exact (integer ratio
    ceil), start/length pure ints — both engines emit identical rows.

    Scale: map-only explode — tokenize once, generate window indices with
    a size-bounded sequence, slice per index; fan-out is n/stride rows
    per doc, the same order as the shingle explode the dedup family
    already carries. No shuffle; pipelines into the scan's codegen stage.
    """
    docs = table(spark, sf_dir, "documents")
    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    n = F.size("toks")
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.ceil((n - size) / F.lit(float(stride)) + 1).cast("long")
    )
    start = F.col("chunk_idx") * stride  # 0-based token offset
    length = F.least(start + size, F.col("n")) - start
    return (
        docs.select("doc_id", tokens("text").alias("toks"))
        .filter(n > 0)
        .select(
            "doc_id",
            "toks",
            n.alias("n"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            start.alias("start_tok"),
            length.alias("n_tokens"),
            F.array_join(F.slice("toks", start + 1, length), " ").alias("chunk_text"),
        )
    )


# --- cross-vertical composition: curation verdict × embeddings ------------

# Embedding component quantization, shared contract with
# operators.similarity (1e-6 integer units).
_EMB_SCALE = 1_000_000

from imdbmapreduce_spark.operators.text import CURATION_ORACLE  # noqa: E402


@query(
    "curated_embedding_stats",
    oracle=f"""
    WITH cur AS (
      {CURATION_ORACLE}
    ), ex AS (
      SELECT vec_id, label,
             CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)*{_EMB_SCALE}) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(1, 4097) t(i)
      WHERE CAST(t.i AS INTEGER) <= len(embedding)
    ), norms AS (
      SELECT vec_id, label, SUM(v*v) AS n2 FROM ex GROUP BY 1, 2
    )
    SELECT n.label,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n.n2) AS BIGINT) AS sum_norm2
    FROM cur JOIN norms n ON cur.doc_id = n.vec_id
    WHERE cur.keep
    GROUP BY 1
    """,
)
def curated_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-vertical composition: the curation verdict (quality gate +
    exact-dedup canonicality, operators.text) joined onto the embeddings
    table (doc_id = vec_id), reduced to kept-vector counts and exact
    integer norm mass per label — the handoff where a curated corpus
    meets its vector index.

    The point is compositionality: the verdict is the REGISTERED
    corpus_curation plan reused as a subplan (and its oracle SQL embedded
    as a CTE), so the two verticals stay in lockstep by construction —
    a change to the keep rule propagates to this query and its oracle
    identically.

    Scale: curation's one content-hash shuffle + the norm agg's one
    vec_id-keyed partial/final agg, joined on the shared id — the join
    sides are |kept docs| and |vectors| rows of a few longs each; no new
    shuffle shape beyond its parents.
    """
    from imdbmapreduce_spark.operators.text import corpus_curation

    kept = corpus_curation(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id",
        "label",
        F.round(F.col("val").cast("double") * _EMB_SCALE).cast("long").alias("v"),
    )
    norms = ex.groupBy("vec_id", "label").agg(F.sum(F.col("v") * F.col("v")).alias("n2"))
    return (
        kept.join(norms, kept.doc_id == norms.vec_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n2").alias("sum_norm2"),
        )
    )


@query(
    "corpus_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h, length(text) AS chars
      FROM documents WHERE doc_id % 10 <> 7
    ),
    v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 10 = 5 THEN text || ' [rev2]' ELSE text END) AS h,
             length(CASE WHEN doc_id % 10 = 5 THEN text || ' [rev2]' ELSE text END) AS chars
      FROM documents WHERE doc_id % 10 <> 3
    )
    SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.h = v2.h       THEN 'unchanged'
                ELSE 'changed' END AS status,
           COUNT(*) AS n_docs,
           CAST(SUM(COALESCE(v2.chars, v1.chars)) AS BIGINT) AS total_chars
    FROM v1 FULL OUTER JOIN v2 USING (doc_id)
    GROUP BY 1
    ORDER BY 1
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff: classify every document across two corpus
    snapshots as added / removed / changed / unchanged by content hash —
    the audit step between two releases of a training set (what changed
    since the last crawl refresh, and how much text moved).

    The two versions are derived deterministically from the one
    ``documents`` table (v1 drops ids ≡7 (mod 10), v2 drops ≡3 and
    revises ≡5); in production each side is its own snapshot directory
    and the plan is identical from the join down.

    Scale: each side reduces to (doc_id, md5, chars) — ~50 bytes/doc —
    before the full-outer join, so the shuffle carries digests, never
    text. The join keys on unique doc_id (uniform, no skew); the status
    CASE and the final agg are codegen expressions over ~4 groups. md5
    rather than xxhash64 so DuckDB reproduces the digest bit-for-bit;
    at 100 TB you'd still hash-then-join exactly this way (hash each
    snapshot once, shuffle digest-sized rows, never ship document bodies).
    """
    docs = table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id",
        F.md5("text").alias("h1"),
        F.length("text").cast("long").alias("chars1"),
    )
    rev = F.when(
        F.col("doc_id") % 10 == 5, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    v2 = docs.filter(F.col("doc_id") % 10 != 3).select(
        "doc_id",
        F.md5(rev).alias("h2"),
        F.length(rev).cast("long").alias("chars2"),
    )
    joined = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") == F.col("h2"), "unchanged")
        .otherwise("changed")
    )
    return (
        joined.select(
            status.alias("status"),
            F.coalesce("chars2", "chars1").alias("chars"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").alias("total_chars"),
        )
        .orderBy("status")
    )


@query(
    "corpus_manifest",
    oracle=f"""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE)/COUNT(*) AS avg_chars,
           COUNT(DISTINCT md5(text)) AS distinct_texts,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS dup_docs
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
    """,
)
def corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition manifest: the per-(source, language) release
    report a training-data pipeline publishes with every dataset drop —
    document and token counts, mean length, and exact-duplicate mass.

    Scale: one scan of ``documents``; counts/sums partial-aggregate
    map-side; the distinct-digest count rewrites to a two-phase agg
    keyed on (source, lang, md5) — digests (16 B) shuffle, not text,
    and the key space is uniform because the digest dominates it. The
    average divides an exact integer sum once (order-independent).
    Everything is whole-stage codegen; adding per-group token quantiles
    would be the only reason to touch a sketch here.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            "lang",
            "n_chars",
            F.size(tokens("text")).cast("long").alias("n_toks"),
            F.md5("text").alias("h"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.countDistinct("h").alias("distinct_texts"),
            (F.count(F.lit(1)) - F.countDistinct("h")).alias("dup_docs"),
        )
        .orderBy("source", "lang")
    )


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH {_JAC_CTES},
    assign AS (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substring(md5(text), 1, 2)) AS INTEGER) < {_SPLIT_TRAIN} THEN 'train'
                  WHEN CAST(('0x' || substring(md5(text), 1, 2)) AS INTEGER) < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT LEAST(sa.split, sb.split) AS split_x,
           GREATEST(sa.split, sb.split) AS split_y,
           COUNT(*) AS n_leaky_pairs
    FROM jac_edges e
    JOIN assign sa ON sa.doc_id = e.doc_a
    JOIN assign sb ON sb.doc_id = e.doc_b
    WHERE sa.split <> sb.split
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: NEAR-duplicate pairs that straddle the
    train/val/test boundary — the eval-contamination check every
    pipeline runs before training. The content-hash split already sends
    EXACT duplicates to one side by construction (`dataset_split`'s
    guarantee); near-dups hash differently, so they are precisely the
    leakage that remains, and this query counts them per split pair.

    Composition: the cached df-capped Jaccard pair artifact (zero extra
    scans in a sweep) joined against the split assignment on both
    endpoints — each join side is |pairs| slim rows against a map-only
    assignment projection; the oracle embeds the registered Jaccard CTEs
    plus the registered split rule, so all three stay in lockstep.

    Scale: |near-dup pairs| is o(corpus) in a deduplicated pipeline; two
    uniform id-keyed joins and a ≤9-group agg. The actionable output at
    100 TB is the same shape: which split boundary bleeds, and how much
    — drive the fix (drop the pair's non-train member, or re-split by
    cluster keeper) from these counts.
    """
    from imdbmapreduce_spark.operators.dedup import neardup_ngram_jaccard
    from imdbmapreduce_spark.operators.text import split_assignment

    pairs = neardup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    assign = split_assignment(table(spark, sf_dir, "documents"))
    sa = assign.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = assign.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.least("split_a", "split_b").alias("split_x"),
            F.greatest("split_a", "split_b").alias("split_y"),
        )
        .groupBy("split_x", "split_y")
        .agg(F.count(F.lit(1)).alias("n_leaky_pairs"))
        .orderBy("split_x", "split_y")
    )


# --- fixed-quota eval holdout ---------------------------------------------

_HOLDOUT_PER_LANG = 20


@query(
    "eval_holdout_sample",
    oracle=f"""
    SELECT doc_id, lang, rnk FROM (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY md5(text), doc_id
             ) AS BIGINT) AS rnk
      FROM documents
    ) WHERE rnk <= {_HOLDOUT_PER_LANG}
    """,
)
def eval_holdout_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-QUOTA stratified holdout: exactly {n} docs per language,
    chosen as the smallest content-hash values — the eval-set builder
    that complements the proportional splits (`dataset_split` slices the
    hash SPACE, so stratum sizes float with the data; an eval benchmark
    wants a fixed budget per stratum). Content-hash ordering keeps the
    selection stable under re-ingestion and id reassignment, and growing
    the quota keeps a superset (hash-order prefixes nest).

    Scale: one window partitioned by lang ordered by (md5, doc_id) — a
    single shuffle on the stratum key. Strata are language-sized (the
    skew case is one giant stratum; the window sort is then that
    stratum's size — for finer quotas at 100 TB, pre-filter with a
    hash-prefix threshold like corpus_mix_resample to cap the sort input
    before ranking, which preserves the same selection because prefixes
    nest).
    """
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", "lang", F.md5("text").alias("h"))
    return top_k(
        keyed, _HOLDOUT_PER_LANG, "h", "doc_id", by="lang", rank="rnk"
    ).drop("h")


# --- deterministic training-order shard manifest --------------------------

_SHARD_SEED = "epoch0"  # the epoch seed: change it, get a fresh permutation
_N_SHARDS = 16


@query(
    "corpus_shard_manifest",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, md5(CONCAT('{_SHARD_SEED}', ':', CAST(doc_id AS VARCHAR)))
               AS shuffle_key
      FROM documents
    ), sharded AS (
      SELECT doc_id, shuffle_key,
             CAST(CONCAT('0x', substr(shuffle_key, 1, 8)) AS BIGINT)
               % {_N_SHARDS} AS shard
      FROM keyed
    )
    SELECT doc_id, shuffle_key, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY shuffle_key, doc_id) AS BIGINT)
             AS pos_in_shard
    FROM sharded
    """,
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard striping — the manifest a
    training job reads to stream the corpus in a reproducible random
    order: every document gets a seeded shuffle key (md5 of
    ``seed:doc_id``), a shard by hash-mod on the key's leading 32 bits,
    and a position within its shard by key order. Changing the seed
    string permutes the whole corpus afresh (a new epoch); the same
    seed always reproduces the same order on any cluster layout.

    Determinism: md5 is bit-identical everywhere; shard and position
    derive only from (seed, doc_id) — no partition-dependent state, no
    RNG. Epochs via seed strings beat ``DataFrame.sample``-style
    per-partition RNG, whose draw order changes with the physical
    layout.

    Plan: map-only keying (md5 + hex-prefix conv are codegen
    expressions), then ONE window partitioned by shard ordered by key —
    a single shuffle on shard; each shard sorts independently in
    parallel. No global ROW_NUMBER (the classic single-partition
    bottleneck): order within a shard plus the shard id IS the training
    order, so no operator ever sees a total order.

    Scale: at 100 TB with n_shards sized to the reader fleet (e.g. 4k),
    each shard's sort is corpus/4k — executor-local with
    spill; the manifest (doc_id, key, shard, pos) is slim enough to
    write per-shard sorted parquet a data loader range-reads. The hash
    striping also balances shard sizes to ±O(√n) without any skew
    handling.
    """
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(_SHARD_SEED), F.lit(":"), F.col("doc_id").cast("string"))
        ).alias("shuffle_key"),
    )
    sharded = keyed.withColumn(
        "shard",
        (F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("long") % _N_SHARDS),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return sharded.withColumn(
        "pos_in_shard", F.row_number().over(w).cast("long")
    )


# --- per-source distribution drift (KL divergence) ------------------------

_KL_SCALE = 1_000_000  # per-term log-ratio quantum: 1e-6 nats


@query(
    "corpus_source_divergence",
    oracle=f"""
    WITH dt AS MATERIALIZED (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS k
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)
      GROUP BY 1, 2
    ), ds AS (
      SELECT d.source, t.tok, CAST(SUM(t.k) AS BIGINT) AS kst
      FROM dt t JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    ), st AS (
      SELECT source, CAST(SUM(kst) AS BIGINT) AS ts FROM ds GROUP BY 1
    ), ct AS (
      SELECT tok, CAST(SUM(kst) AS BIGINT) AS c FROM ds GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS t FROM ct
    ), terms AS (
      SELECT d.source,
             d.kst,
             CAST(round(ln((CAST(d.kst AS DOUBLE) * (SELECT t FROM tot))
                           / (s.ts * c.c)) * {_KL_SCALE}) AS BIGINT) AS q
      FROM ds d JOIN st s USING (source) JOIN ct c USING (tok)
    ), agg AS (
      SELECT source, CAST(SUM(kst * q) AS BIGINT) AS kl_q FROM terms
      GROUP BY source
    )
    SELECT a.source, s.ts AS n_tokens, a.kl_q,
           CAST(a.kl_q AS DOUBLE) / s.ts / {_KL_SCALE} AS kl_nats
    FROM agg a JOIN st s USING (source)
    """,
)
def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source: KL(source token distribution ‖
    corpus token distribution) — the curation monitor that catches a
    crawler feed going off the rails (template spam, language shift,
    boilerplate floods) BEFORE it contaminates a training mix. KL is
    the right scoring rule: it is exactly the expected extra log-loss a
    model trained on the corpus pays per token of that source.

    Determinism: each distinct (source, token) term's log-ratio
    ln(k_st·T / (T_s·c_t)) is one double op over exact int64 operands
    with identical promotion rules in both engines, quantized once to
    1e-6 nats; per-source totals are exact integer sums and the mean is
    a fixed int→double division. (KL ≥ 0 up to quantization; terms for
    tokens absent from a source contribute 0 — the natural plug-in
    estimator.)

    Plan: re-aggregates the shared per-(doc, token) artifact to
    per-(source, token) (tokenize once, consume many); the model joins
    key on source (tiny) and token (vocab-sized, AQE-sized); final agg
    keys on source.

    Scale: |sources|×|vocab| dominates — slim integer rows; the token
    join is the familiar Zipf-skew case bounded by the per-source
    pre-combine. At extreme T the double k·T loses exactness past 2^53
    but BOTH engines compute the identical double, so parity holds;
    quantization makes the comparison stable anyway.
    """
    from imdbmapreduce_spark.operators.text import _doc_token_counts

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    ds = (
        _doc_token_counts(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("source", "tok")
        .agg(F.sum("k").alias("kst"))
    )
    st = ds.groupBy("source").agg(F.sum("kst").alias("ts"))
    ct = ds.groupBy("tok").agg(F.sum("kst").alias("c"))
    tot = float(ct.agg(F.sum("c")).first()[0])
    terms = (
        ds.join(st, "source")
        .join(ct, "tok")
        .select(
            "source",
            "kst",
            F.round(
                F.log(
                    (F.col("kst").cast("double") * F.lit(tot))
                    / (F.col("ts") * F.col("c"))
                )
                * _KL_SCALE
            )
            .cast("long")
            .alias("q"),
        )
    )
    agg = terms.groupBy("source").agg(F.sum(F.col("kst") * F.col("q")).alias("kl_q"))
    return agg.join(st, "source").select(
        "source",
        F.col("ts").alias("n_tokens"),
        "kl_q",
        (F.col("kl_q").cast("double") / F.col("ts") / F.lit(_KL_SCALE)).alias(
            "kl_nats"
        ),
    )


# --- deterministic weighted sampling (Efraimidis–Spirakis) ----------------

_WS_SEED = "ws0"
_WS_K = 100
_WS_DENOM = 4_294_967_297.0  # 2^32 + 1: u = (h32 + 1)/denom ∈ (0, 1)
_WS_QSCALE = 1_000_000_000_000  # key quantum 1e-12: |ln u| ≤ 23, fits int64


@query(
    "corpus_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
             (CAST(CONCAT('0x', substr(
                 md5(CONCAT('{_WS_SEED}', ':', CAST(doc_id AS VARCHAR))),
                 1, 8)) AS BIGINT) + 1) / {_WS_DENOM} AS u
      FROM documents WHERE n_chars > 0
    ), scored AS (
      SELECT doc_id, source, weight,
             CAST(round(ln(u) / weight * {_WS_QSCALE}) AS BIGINT) AS es_key_q
      FROM keyed
    )
    SELECT doc_id, source, weight, es_key_q,
           CAST(ROW_NUMBER() OVER (ORDER BY es_key_q DESC, doc_id) AS BIGINT)
             AS rnk
    FROM scored
    ORDER BY rnk LIMIT {_WS_K}
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis: each
    doc draws u ∈ (0,1) and is ranked by u^(1/w) — equivalently by
    ln(u)/w, the form used here — so the top-k is a weight-proportional
    sample (here w = n_chars: longer docs proportionally likelier, the
    "sample tokens, not documents" correction a training mix needs).

    Determinism: u derives from md5(seed:doc_id) leading 32 bits —
    reproducible on any layout, re-dealable by seed string (the shard
    manifest's epoch trick); ln and division are single double ops over
    identical operands in both engines, so ranking is bit-stable.
    The cut is the global :func:`~imdbmapreduce_spark.functions.top_k`.

    Scale: map-only scoring fused into the scan + one bounded top-k
    reduce; for per-stratum quotas compose with the window form of
    eval_holdout_sample. This beats rand()-based sampling operationally
    because reruns, retries, and speculative tasks all see the same
    sample.
    """
    docs = table(spark, sf_dir, "documents")
    keyed = docs.filter(F.col("n_chars") > 0).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("weight"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(_WS_SEED),
                                F.lit(":"),
                                F.col("doc_id").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                + 1
            )
            / F.lit(_WS_DENOM)
        ).alias("u"),
    )
    scored = keyed.select(
        "doc_id",
        "source",
        "weight",
        # quantized to 1e-12: the raw double key differs by one ulp
        # between libms for rare arguments; ranking on the quantized
        # key is engine-stable (the repo-wide quantization contract)
        F.round(F.log("u") / F.col("weight") * _WS_QSCALE)
        .cast("long")
        .alias("es_key_q"),
    )
    return top_k(scored, _WS_K, F.desc("es_key_q"), "doc_id", rank="rnk")


# --- DSIR: data selection with importance resampling ----------------------

_DSIR_B = 512  # hashed n-gram feature buckets (DSIR's 10k, sized to corpus)
_DSIR_SCALE = 1_000_000  # log-ratio quantum: 1e-6 (the LM ladder's quantum)

# Hashed-feature extraction shared by both engines: unigrams + space-joined
# bigrams, md5-hashed into _DSIR_B buckets (portable hex→int spelling).
_DSIR_FEATS_SQL = f"""
    ex AS MATERIALIZED (
      SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(toks) AS g FROM ex
      UNION ALL
      SELECT doc_id, w1 || ' ' || w2 AS g FROM (
        SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM ex WHERE len(toks) >= 2
      )
    ),
    feats AS MATERIALIZED (
      SELECT doc_id,
             CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % {_DSIR_B} AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2
    )
"""


def _dsir_doc_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, hashed-feature-bucket) counts — unigrams + bigrams
    md5-hashed into _DSIR_B buckets. Derives from the LM ladder's
    session-cached per-doc n-gram tables (no fresh corpus pass);
    session-cached itself because the raw/target models and the scoring
    join all consume it."""
    from imdbmapreduce_spark.operators.lm import _doc_ngram_counts

    def bucket(g):
        return (F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long") % _DSIR_B)

    def build() -> DataFrame:
        uni = _doc_ngram_counts(spark, sf_dir, 1).select(
            "doc_id", bucket(F.col("w1")).alias("b"), "k"
        )
        bi = _doc_ngram_counts(spark, sf_dir, 2).select(
            "doc_id",
            bucket(F.concat_ws(" ", "w1", "w2")).alias("b"),
            "k",
        )
        return (
            uni.unionByName(bi)
            .groupBy("doc_id", "b")
            .agg(F.sum("k").alias("c"))
        )

    return shared_cache(spark, ("dsir_doc_buckets", sf_dir), build)


_TOKS_FOR_DSIR = _DUCK_TOKS


def _dsir_model(spark: SparkSession, sf_dir: str, db: DataFrame) -> DataFrame | None:
    """The ≤_DSIR_B-row (bucket, llr_q) model table — session-cached:
    both the weight report and the top-k selection consume it, and the
    build is two full aggregations over the bucket artifact (plus two
    total scalars to the driver). Returns None on an empty corpus."""

    def build() -> DataFrame:
        docs = table(spark, sf_dir, "documents")
        toks = tokens("text")
        tgt = (
            docs.select(
                "doc_id",
                F.size(toks).alias("n"),
                F.size(F.array_distinct(toks)).alias("d"),
            )
            .filter((F.col("n") >= 20) & (F.col("d") * 4 >= F.col("n")))
            .select("doc_id")
        )
        raw = db.groupBy("b").agg(F.sum("c").alias("cr"))
        tgtb = db.join(tgt, "doc_id").groupBy("b").agg(F.sum("c").alias("ct"))
        tr = raw.agg(F.sum("cr")).first()[0]
        if tr is None:
            return spark.createDataFrame([], "b long, llr_q long")
        tt = tgtb.agg(F.sum("ct")).first()[0] or 0
        return (
            raw.join(tgtb, "b", "left")
            .select(
                "b",
                F.round(
                    (
                        F.log(
                            (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                            / F.lit(float(tt) + _DSIR_B)
                        )
                        - F.log(
                            (F.col("cr") + 1).cast("double")
                            / F.lit(float(tr) + _DSIR_B)
                        )
                    )
                    * _DSIR_SCALE
                )
                .cast("long")
                .alias("llr_q"),
            )
        )

    model = shared_cache(spark, ("dsir_model", sf_dir), build)
    return None if not model.head(1) else model


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_DSIR_FEATS_SQL.format(toks=_TOKS_FOR_DSIR)},
    tgt AS (
      SELECT doc_id FROM ex
      WHERE len(toks) >= 20 AND len(list_distinct(toks)) * 4 >= len(toks)
    ),
    raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM feats GROUP BY b),
    tgtb AS (
      SELECT f.b, CAST(SUM(f.c) AS BIGINT) AS ct
      FROM feats f JOIN tgt USING (doc_id) GROUP BY f.b
    ),
    tot AS (
      SELECT (SELECT SUM(cr) FROM raw) AS tr,
             (SELECT COALESCE(SUM(ct), 0) FROM tgtb) AS tt
    ),
    model AS (
      SELECT r.b,
             CAST(round((
               ln((COALESCE(t.ct, 0) + 1)
                  / (CAST((SELECT tt FROM tot) AS DOUBLE) + {_DSIR_B}))
               - ln((r.cr + 1)
                  / (CAST((SELECT tr FROM tot) AS DOUBLE) + {_DSIR_B}))
             ) * {_DSIR_SCALE}) AS BIGINT) AS llr_q
      FROM raw r LEFT JOIN tgtb t ON r.b = t.b
    )
    SELECT f.doc_id,
           CAST(SUM(f.c) AS BIGINT) AS n_feats,
           CAST(SUM(f.c * m.llr_q) AS BIGINT) AS logweight_q,
           CAST(SUM(f.c * m.llr_q) AS DOUBLE) / SUM(f.c) / {_DSIR_SCALE}
             AS avg_logweight
    FROM feats f JOIN model m ON f.b = m.b
    GROUP BY f.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every raw document by how much it
    looks like the TARGET distribution, as the log importance weight
    under two bag-of-hashed-n-grams models — log p_target(doc) −
    log p_raw(doc) = Σ_b c_doc(b)·(log p_t(b) − log p_r(b)) over
    unigram+bigram features md5-hashed into 512 buckets, add-one
    smoothed. The target here is the registered quality gate's passing
    set (doc_quality's rule, inlined byte-for-byte so the two stay in
    lockstep); downstream, corpus_mix_resample-style hash selection
    resamples by these weights.

    Determinism: the per-bucket log-ratio quantizes to 1e-6 at the MODEL
    level (one rounding per bucket, the LM ladder's rule), so per-doc
    sums are exact integer reductions; the hash is the portable
    md5-hex→int spelling both engines share.

    Scale: feature extraction derives from the session-cached per-doc
    n-gram artifacts (zero fresh scans in a sweep); both models are
    ≤512-row aggregates (_DSIR_B); scoring is a BROADCAST join of the
    512-row model against per-doc bucket counts — one shuffle on doc_id
    for the final agg, nothing keyed on a skewable token. At 100 TB the
    model table is still 512 rows: the whole selection pass is map-side.
    """
    db = _dsir_doc_buckets(spark, sf_dir)
    model = _dsir_model(spark, sf_dir, db)
    if model is None:
        return spark.createDataFrame(
            [],
            "doc_id long, n_feats long, logweight_q long, avg_logweight double",
        )
    return (
        db.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("llr_q")).alias("logweight_q"),
            (
                F.sum(F.col("c") * F.col("llr_q")).cast("double")
                / F.sum("c")
                / F.lit(_DSIR_SCALE)
            ).alias("avg_logweight"),
        )
    )


_DSIR_KEEP_Q = 0.75  # selection cutoff: keep the top quarter by weight


@query(
    "dsir_topk_selection",
    oracle=f"""
    WITH {_DSIR_FEATS_SQL.format(toks=_TOKS_FOR_DSIR)},
    tgt AS (
      SELECT doc_id FROM ex
      WHERE len(toks) >= 20 AND len(list_distinct(toks)) * 4 >= len(toks)
    ),
    raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM feats GROUP BY b),
    tgtb AS (
      SELECT f.b, CAST(SUM(f.c) AS BIGINT) AS ct
      FROM feats f JOIN tgt USING (doc_id) GROUP BY f.b
    ),
    tot AS (
      SELECT (SELECT SUM(cr) FROM raw) AS tr,
             (SELECT COALESCE(SUM(ct), 0) FROM tgtb) AS tt
    ),
    model AS (
      SELECT r.b,
             CAST(round((
               ln((COALESCE(t.ct, 0) + 1)
                  / (CAST((SELECT tt FROM tot) AS DOUBLE) + {_DSIR_B}))
               - ln((r.cr + 1)
                  / (CAST((SELECT tr FROM tot) AS DOUBLE) + {_DSIR_B}))
             ) * {_DSIR_SCALE}) AS BIGINT) AS llr_q
      FROM raw r LEFT JOIN tgtb t ON r.b = t.b
    ),
    scored AS (
      SELECT f.doc_id,
             CAST(floor(CAST(SUM(f.c * m.llr_q) AS DOUBLE) / SUM(f.c))
               AS BIGINT) AS avgw_q
      FROM feats f JOIN model m ON f.b = m.b
      GROUP BY f.doc_id
    ),
    n AS (SELECT COUNT(*) AS n FROM scored),
    r AS (SELECT avgw_q, row_number() OVER (ORDER BY avgw_q) AS rn FROM scored),
    c AS (
      SELECT (SELECT avgw_q FROM r
               WHERE rn = (SELECT CAST(ceil({_DSIR_KEEP_Q} * n) AS BIGINT) FROM n))
             AS cut
    )
    SELECT doc_id, avgw_q, avgw_q > (SELECT cut FROM c) AS selected
    FROM scored
    """,
)
def dsir_topk_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection step DSIR's weights exist FOR: keep the top quarter
    of the corpus by per-feature importance weight — the deterministic
    top-k variant of DSIR's Gumbel-noise resampling (at equal weights
    Gumbel sampling IS uniform over the tied set; here ties share the
    cutoff's fate so selection is a pure function of content). Composes
    the registered scorer verbatim (oracle embeds the same model CTEs;
    Spark side reuses the session-cached bucket artifacts — zero extra
    scans in a sweep).

    Determinism: the per-doc score integerizes as floor(logweight_q /
    n_feats) — floor of one exact double division, identical in both
    engines — and the cutoff is the order statistic at rank
    ceil(0.75·n) (the ccnet_perplexity_buckets rule). Docs strictly
    above the cutoff are selected: ~25% of the corpus, ties excluded
    together.

    Scale: scoring is the DSIR broadcast-model join; the cutoff is ONE
    order statistic (swap for approx_percentile at 100 TB); the
    selection flag is a map-only comparison against a broadcast scalar.
    """
    scored = dsir_importance_weights(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("logweight_q").cast("double") / F.col("n_feats"))
        .cast("long")
        .alias("avgw_q"),
    )
    cut = scored.agg(
        F.expr(
            f"percentile_disc({_DSIR_KEEP_Q}) WITHIN GROUP (ORDER BY avgw_q)"
        ).alias("cut")
    ).first()["cut"]
    if cut is None:
        return spark.createDataFrame([], "doc_id long, avgw_q long, selected boolean")
    return scored.select(
        "doc_id", "avgw_q", (F.col("avgw_q") > int(cut)).alias("selected")
    )


# --- filter ablation matrix -------------------------------------------------

_ABLATION_FILTERS = ["gopher", "repetition", "quality", "dup"]


def _ablation_oracle() -> str:
    """Embed the four registered filter oracles VERBATIM (the lockstep
    rule: the matrix can never disagree with the filters it reports on)."""
    from imdbmapreduce_spark.registry import _REGISTRY

    g = _REGISTRY["gopher_quality_flags"].oracle
    r = _REGISTRY["doc_repetition"].oracle
    q = _REGISTRY["doc_quality"].oracle
    c = _REGISTRY["corpus_curation"].oracle
    pair_rows = []
    for i, a in enumerate(_ABLATION_FILTERS):
        for b in _ABLATION_FILTERS[i:]:
            pair_rows.append(
                f"SELECT '{a}' AS filter_a, '{b}' AS filter_b,"
                f" CAST(SUM(CASE WHEN f_{a} AND f_{b} THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS n_docs FROM flags"
            )
    pair_rows.append(
        "SELECT 'any' AS filter_a, 'any' AS filter_b,"
        " CAST(SUM(CASE WHEN f_gopher OR f_repetition OR f_quality OR f_dup"
        " THEN 1 ELSE 0 END) AS BIGINT) AS n_docs FROM flags"
    )
    pair_rows.append(
        "SELECT 'none' AS filter_a, 'none' AS filter_b,"
        " CAST(SUM(CASE WHEN NOT (f_gopher OR f_repetition OR f_quality"
        " OR f_dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_docs FROM flags"
    )
    union = "\n      UNION ALL ".join(pair_rows)
    return f"""
    WITH gq AS ({g}), rq AS ({r}), qq AS ({q}), cq AS ({c}),
    flags AS (
      SELECT cq.doc_id,
             (NOT gq.gopher_pass) AS f_gopher,
             COALESCE(rq.is_repetitive, FALSE) AS f_repetition,
             (NOT qq.is_quality) AS f_quality,
             (NOT cq.is_canonical) AS f_dup
      FROM cq
      JOIN gq ON cq.doc_id = gq.doc_id
      JOIN qq ON cq.doc_id = qq.doc_id
      LEFT JOIN rq ON cq.doc_id = rq.doc_id
    )
    {union}
    """


@query("filter_ablation_matrix", oracle=_ablation_oracle())
def filter_ablation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter-overlap report every curation pipeline needs before
    choosing filter ORDER: for each pair of drop-filters (Gopher rules,
    repetition, quality gate, exact-dup), how many documents both would
    drop — plus the union ('any') and survivor ('none') rows. High
    overlap means the cheaper filter should run first and the expensive
    one sees only its complement; low overlap means the filters remove
    DIFFERENT mass and ordering is a throughput choice, not a budget
    one. Composes the four REGISTERED verdicts (the Spark side consumes
    their query functions — dup/quality via the cached curation
    artifact; the oracle embeds their SQL verbatim), so the matrix can
    never drift from the filters it reports on.

    Determinism: every flag is one of the registered integer-rule
    booleans; counts are exact sums. Docs too short for a filter to
    score (repetition needs >= 3 tokens) are deterministically
    not-flagged by it (COALESCE FALSE) — both engines spell the same
    rule.

    Plan: the four verdict scans join on doc_id (the curation verdict
    is the session-cached corpus artifact; gopher/repetition are
    map-only passes), then ONE aggregation computes all 12 matrix cells
    as conditional sums and a literal-array explode reshapes the single
    row into (filter_a, filter_b, n_docs) rows — no per-pair scans, no
    second pass.

    Scale: three map passes + uniform doc_id joins + a 12-sum global
    agg; the matrix is O(filters²) cells regardless of corpus size. At
    100 TB this is the daily data-quality dashboard query.
    """
    from imdbmapreduce_spark.operators.text import (
        corpus_curation,
        doc_quality,
        gopher_quality_flags,
    )

    cur = corpus_curation(spark, sf_dir).select("doc_id", "is_canonical")
    gop = gopher_quality_flags(spark, sf_dir).select("doc_id", "gopher_pass")
    qual = doc_quality(spark, sf_dir).select("doc_id", "is_quality")
    rep = doc_repetition(spark, sf_dir).select("doc_id", "is_repetitive")
    flags = (
        cur.join(gop, "doc_id")
        .join(qual, "doc_id")
        .join(rep, "doc_id", "left")
        .select(
            "doc_id",
            (~F.col("gopher_pass")).alias("f_gopher"),
            F.coalesce("is_repetitive", F.lit(False)).alias("f_repetition"),
            (~F.col("is_quality")).alias("f_quality"),
            (~F.col("is_canonical")).alias("f_dup"),
        )
    )
    cells: list[tuple[str, str, F.Column]] = []
    for i, a in enumerate(_ABLATION_FILTERS):
        for b in _ABLATION_FILTERS[i:]:
            cells.append(
                (a, b, F.sum((F.col(f"f_{a}") & F.col(f"f_{b}")).cast("long")))
            )
    any_f = F.col("f_gopher") | F.col("f_repetition") | F.col("f_quality") | F.col("f_dup")
    cells.append(("any", "any", F.sum(any_f.cast("long"))))
    cells.append(("none", "none", F.sum((~any_f).cast("long"))))
    agg = flags.agg(
        *[c.alias(f"c{i}") for i, (_, _, c) in enumerate(cells)]
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("filter_a"),
                        F.lit(b).alias("filter_b"),
                        F.col(f"c{i}").alias("n_docs"),
                    )
                    for i, (a, b, _) in enumerate(cells)
                ]
            )
        ).alias("x")
    ).select("x.filter_a", "x.filter_b", "x.n_docs")


# --- temperature-based source mixing ---------------------------------------

# Sampling temperature alpha = 0.5: per-source weight proportional to
# p^alpha (multilingual-pretraining practice — upweights small sources,
# tempers the head; alpha=1 is natural frequency, alpha=0 uniform).
# Weights are quantized to 1e-12 integer quanta before normalizing so the
# cross-source sum is an exact integer sum in BOTH engines (double
# accumulation order is engine-dependent; integer addition is not).
_TEMP_QUANTA = 1_000_000_000_000
_TEMP_BUDGET = 1_000_000  # sampled-token budget the mix is planned for


@query(
    "source_temperature_mix",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ), q AS (
      SELECT source, n_docs, n_tokens,
             CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)
                             / CAST(SUM(n_tokens) OVER () AS DOUBLE))
                        * {_TEMP_QUANTA}) AS BIGINT) AS wq
      FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE) AS weight,
           CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE)
             * {_TEMP_BUDGET} / CAST(n_tokens AS DOUBLE) AS epochs
    FROM q
    """,
)
def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing plan: per-source sampling weight
    ∝ (token share)^0.5, normalized, plus the implied epochs over each
    source at a fixed sampled-token budget — the table a pretraining run
    reads to set per-source sampling rates (multilingual-LM practice;
    epochs > 1 flags sources the mix would repeat).

    Determinism contract: token counts are exact integer sums; the only
    irrational step (sqrt) is IEEE-correctly-rounded in both engines on
    identical inputs, and its output is immediately quantized to integer
    quanta so the normalizing sum is exact integer math — the final
    weights are identical doubles by construction, not by accumulation
    luck.

    Scale shape: one partial/final agg keyed on source (|sources| rows),
    then window math over that bounded frame. The expensive part —
    tokenizing the corpus — is the same single map pass every other
    text stage runs; nothing here is data-sized after the agg.
    """
    docs = table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    tot = Window.partitionBy()
    wq = F.round(
        F.sqrt(
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(tot).cast("double")
        )
        * _TEMP_QUANTA
    ).cast("long")
    q = per_src.withColumn("wq", wq)
    weight = F.col("wq").cast("double") / F.sum("wq").over(tot).cast("double")
    return q.select(
        "source",
        "n_docs",
        "n_tokens",
        weight.alias("weight"),
        (weight * _TEMP_BUDGET / F.col("n_tokens").cast("double")).alias("epochs"),
    )


# --- budget water-filling ---------------------------------------------------

_WF_BUDGET = 2_000_000  # total sampled-token budget to allocate
_WF_MAX_EPOCHS = 4  # per-source cap: at most 4 passes over a source


@query(
    "source_budget_waterfill",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS supply
      FROM documents GROUP BY 1
    ), capped AS (
      SELECT source, supply, supply * {_WF_MAX_EPOCHS} AS cap,
             ROW_NUMBER() OVER (ORDER BY supply * {_WF_MAX_EPOCHS}, source)
               AS rn,
             COUNT(*) OVER () AS n
      FROM s
    ), pre AS (
      SELECT *, COALESCE(SUM(cap) OVER (ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS prefix
      FROM capped
    ), sat AS (
      SELECT *, cap * (n - rn + 1) <= {_WF_BUDGET} - prefix AS saturated
      FROM pre
    ), lvl AS (
      SELECT COALESCE(MIN(CASE WHEN NOT saturated THEN rn END), MAX(n) + 1)
               AS k,
             MAX(n) AS n
      FROM sat
    ), fill AS (
      SELECT s.*,
             CASE WHEN s.rn >= l.k
               THEN ({_WF_BUDGET} - (SELECT COALESCE(MAX(prefix), 0)
                                     FROM sat WHERE rn = l.k))
             END AS remaining,
             l.n - l.k + 1 AS m,
             CASE WHEN s.rn >= l.k THEN
               ROW_NUMBER() OVER (PARTITION BY s.rn >= l.k ORDER BY s.source)
             END AS tie_rn
      FROM sat s, lvl l
    )
    SELECT source, supply, cap,
           CAST(CASE WHEN remaining IS NULL THEN cap
                ELSE remaining // m
                     + CASE WHEN tie_rn <= remaining % m THEN 1 ELSE 0 END
           END AS BIGINT) AS alloc,
           remaining IS NULL AS saturated,
           CAST(CASE WHEN remaining IS NULL THEN cap
                ELSE remaining // m
                     + CASE WHEN tie_rn <= remaining % m THEN 1 ELSE 0 END
           END * 1000000 // supply AS BIGINT) AS epochs_ppm
    FROM fill
    """,
)
def source_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling budget allocation across sources — the step AFTER
    the mixture weights: given each source's token supply, a per-source
    cap of {_WF_MAX_EPOCHS} epochs (repeating a small source more
    over-trains on it), and a total budget of {_WF_BUDGET} sampled
    tokens, allocate the budget so every uncapped source gets the same
    amount (the uniform water level) and capped sources contribute
    exactly their cap — the classic exact solution to
    ``maximize min(alloc_i) s.t. alloc_i <= cap_i, Σ alloc_i = B``.

    The algorithm is the sorted-prefix form, all in exact integers:
    sort sources by cap; a source saturates iff its cap times the
    number of remaining sources fits in the remaining budget (caps
    ascending ⇒ saturation is a PREFIX, so one window pass finds the
    boundary); unsaturated sources split the remainder by integer
    division, with the modulo distributed one token each to the first
    sources in name order — Σ alloc == B exactly, no float ever.

    Scale: one corpus-sized agg (the per-source token count — the same
    single tokenize pass every text stage shares), then window math on
    the |sources|-row frame, bounded by construction.
    """
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("supply")
    )
    capped = s.select(
        "source",
        "supply",
        (F.col("supply") * _WF_MAX_EPOCHS).alias("cap"),
    )
    w_rn = Window.orderBy("cap", "source")
    pre = (
        capped.withColumn("rn", F.row_number().over(w_rn).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("cap").over(
                    Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    sat = pre.withColumn(
        "saturated",
        F.col("cap") * (F.col("n") - F.col("rn") + 1)
        <= F.lit(_WF_BUDGET) - F.col("prefix"),
    )
    wall = Window.partitionBy()
    k = F.coalesce(
        F.min(F.when(~F.col("saturated"), F.col("rn"))).over(wall),
        F.col("n") + 1,
    )
    fill = sat.withColumn("k", k).withColumn(
        "remaining",
        F.when(
            F.col("rn") >= F.col("k"),
            F.lit(_WF_BUDGET)
            - F.coalesce(
                F.max(F.when(F.col("rn") == F.col("k"), F.col("prefix"))).over(
                    wall
                ),
                F.lit(0),
            ),
        ),
    ).withColumn("m", F.col("n") - F.col("k") + 1).withColumn(
        "tie_rn",
        F.when(
            F.col("rn") >= F.col("k"),
            F.row_number().over(
                Window.partitionBy(F.col("rn") >= F.col("k")).orderBy("source")
            ),
        ).cast("long"),
    )
    alloc = F.when(F.col("remaining").isNull(), F.col("cap")).otherwise(
        F.expr("remaining DIV m")
        + F.when(F.col("tie_rn") <= F.expr("remaining % m"), 1).otherwise(0)
    )
    return fill.select(
        "source",
        "supply",
        "cap",
        alloc.cast("long").alias("alloc"),
        F.col("remaining").isNull().alias("saturated"),
        F.expr(
            "CAST(CASE WHEN remaining IS NULL THEN cap ELSE remaining DIV m"
            " + CASE WHEN tie_rn <= remaining % m THEN 1 ELSE 0 END END"
            f" * 1000000 DIV supply AS BIGINT)"
        ).alias("epochs_ppm"),
    )


# --- dedup token waterfall (capacity planning across the dedup cascade) -----

# The exact-substr span CTEs share their leading `toks` CTE with
# _JAC_CTES verbatim (both are the _DUCK_TOKS split over documents), so
# the waterfall oracle splices the span chain in AFTER the jaccard
# chain, minus the duplicate head — string surgery on the shared
# constants, not a re-spelling, so the stages can never drift from the
# registered ops they account for.
from imdbmapreduce_spark.operators.dedup import _XS_SPAN_CTES as _XS_CTES_FULL

_XS_TAIL = "wins AS (" + _XS_CTES_FULL.split("wins AS (", 1)[1]

_WATERFALL_ORACLE = f"""
    WITH RECURSIVE {{JAC}}, {_XS_TAIL},
    tokc AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM toks
    ), exact_keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS ck
            FROM toks)
      GROUP BY ck
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac_edges
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM jac_edges
    ), walk(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.r
    ), assign AS (
      SELECT node AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY node
    ), qual AS (
      SELECT doc_id, len(t) AS n_tokens,
             (len(t) >= 20 AND len(list_distinct(t)) * 4 >= len(t)) AS is_quality
      FROM toks WHERE len(t) > 0
    ), scored AS (
      SELECT a.cluster_id, a.doc_id,
             COALESCE(q.n_tokens, 0) AS n_tokens,
             COALESCE(q.is_quality, FALSE) AS is_quality
      FROM assign a LEFT JOIN qual q ON a.doc_id = q.doc_id
    ), nd_keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
                 PARTITION BY cluster_id
                 ORDER BY is_quality DESC, n_tokens DESC, doc_id ASC) AS rn
        FROM scored)
      WHERE rn = 1
    ), keep2 AS (
      SELECT k.doc_id FROM exact_keep k JOIN nd_keep n USING (doc_id)
    ), cut AS (
      SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS cut
      FROM spans GROUP BY doc_id
    ), s0 AS (
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM tokc
    ), s1 AS (
      SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(n_toks) AS BIGINT)
      FROM tokc JOIN exact_keep USING (doc_id)
    ), s2 AS (
      SELECT 2, 'neardup_keepers', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(n_toks) AS BIGINT)
      FROM tokc JOIN keep2 USING (doc_id)
    ), s3 AS (
      SELECT 3, 'exactsubstr_scrub', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(t.n_toks - COALESCE(c.cut, 0)) AS BIGINT)
      FROM tokc t JOIN keep2 USING (doc_id)
      LEFT JOIN cut c ON t.doc_id = c.doc_id
    ), stages AS (
      SELECT * FROM s0 UNION ALL SELECT * FROM s1
      UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
    )
    SELECT stage_idx, stage, n_docs, n_tokens,
           CAST(COALESCE(LAG(n_docs) OVER w - n_docs, 0) AS BIGINT)
             AS docs_dropped,
           CAST(COALESCE(LAG(n_tokens) OVER w - n_tokens, 0) AS BIGINT)
             AS tokens_dropped,
           CAST(n_tokens * 1000000 // FIRST_VALUE(n_tokens) OVER w AS BIGINT)
             AS tokens_kept_ppm
    FROM stages
    WINDOW w AS (ORDER BY stage_idx)
    """.replace("{JAC}", _JAC_CTES)


@query("dedup_token_waterfall", oracle=_WATERFALL_ORACLE)
def dedup_token_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capacity-planning question at 100 TB — "how much of the crawl
    survives each dedup stage?" — answered as a four-row waterfall over
    the REGISTERED dedup cascade (the composition genre of
    :func:`filter_ablation_matrix`, applied down the pipeline instead
    of across filters):

    - ``raw``: every document, whitespace-token counts;
    - ``exact_dedup``: survivors of :func:`~imdbmapreduce_spark.
      operators.dedup.dedup_exact`'s min-id-per-content-key rule;
    - ``neardup_keepers``: of those, the docs that are also their
      near-dup cluster's keeper under ``neardup_cluster_keepers``'s
      quality-first survivorship (the pipeline's keep set is the
      INTERSECTION of the stages' keep sets — each stage can only
      shrink it, so the waterfall is monotone by construction);
    - ``exactsubstr_scrub``: same docs, token counts reduced by their
      corpus-duplicated span tokens (:func:`~imdbmapreduce_spark.
      operators.dedup.exact_substr_spans` — spans are flagged against
      the FULL corpus, the conservative accounting: a span does not
      stop being boilerplate because its other copies were dropped).

    Columns per stage: docs/tokens surviving, docs/tokens dropped vs
    the previous stage, and tokens_kept_ppm of raw (exact integer
    truncating division). The Spark side consumes the registered query
    functions; the oracle splices those queries' own CTE chains
    (verbatim shared constants), so the report can never drift from
    the stages it accounts for.

    Scale: three doc_id-keyed semi joins over the already-computed
    stage artifacts + four single-row aggregates; the only window runs
    over the FOUR-row stage frame. The expensive parts (cluster
    assignment, span mining) are the registered stages' own
    session-cached/persisted work — this report adds one cheap pass.
    """
    from imdbmapreduce_spark.operators.dedup import (
        dedup_exact,
        exact_substr_spans,
    )
    from imdbmapreduce_spark.plans.relational import neardup_cluster_keepers

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_toks")
    )
    keep1 = dedup_exact(spark, sf_dir).select(F.col("keep_id").alias("doc_id"))
    keep2 = keep1.join(
        neardup_cluster_keepers(spark, sf_dir).select(
            F.col("keep_id").alias("doc_id")
        ),
        "doc_id",
    )
    cut = (
        exact_substr_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").cast("long").alias("cut"))
    )

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_toks"), F.lit(0)).cast("long").alias("n_tokens"),
        ).select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )

    scrubbed = (
        tok.join(keep2, "doc_id")
        .join(cut, "doc_id", "left")
        .select(
            (F.col("n_toks") - F.coalesce("cut", F.lit(0))).alias("n_toks")
        )
    )
    stages = (
        stage(0, "raw", tok)
        .unionByName(stage(1, "exact_dedup", tok.join(keep1, "doc_id")))
        .unionByName(stage(2, "neardup_keepers", tok.join(keep2, "doc_id")))
        .unionByName(stage(3, "exactsubstr_scrub", scrubbed))
    )
    # the only window runs over the 4-row stage frame — bounded by
    # construction (the source_temperature_mix convention)
    w = Window.orderBy("stage_idx")
    return (
        stages.withColumn("raw_nt", F.first("n_tokens").over(w))
        .withColumn(
            "docs_dropped",
            F.coalesce(F.lag("n_docs").over(w) - F.col("n_docs"), F.lit(0)).cast(
                "long"
            ),
        )
        .withColumn(
            "tokens_dropped",
            F.coalesce(
                F.lag("n_tokens").over(w) - F.col("n_tokens"), F.lit(0)
            ).cast("long"),
        )
        .select(
            "stage_idx",
            "stage",
            "n_docs",
            "n_tokens",
            "docs_dropped",
            "tokens_dropped",
            F.expr("(n_tokens * 1000000) div raw_nt").alias("tokens_kept_ppm"),
        )
    )
