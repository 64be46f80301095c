"""Deduplication operators over the ``documents`` table (north-star scope).

Generalizes the reference's only dedup mechanisms — keyed-table
last-write-wins (S3/S4, /root/reference/Code/server.erl:118-135,
Code/csv_to_ets.erl:27-53) and cross-level priority dedup (R9,
Code/mapReduce.erl:60-72) — to content-level exact and near-duplicate
detection:

- exact: content-hash groupBy (one shuffle keyed on the hash);
- n-gram Jaccard: shingle self-join, exact (oracle-checked);
- MinHash+LSH: shingle→minhash→band→bucket-join, the sub-quadratic scale
  path, candidate pairs verified with exact Jaccard;
- SimHash: 64-bit weighted fingerprint + banded Hamming candidates.

Everything is built-in column expressions — the minhash permutations and
simhash bit-sums are generated expression trees, not Python UDFs, so the
hot path stays in whole-stage codegen with Arrow nowhere in the loop.

Scale notes: near-dup pipelines shuffle on (shingle) then (doc pair) —
both keys are high-cardinality and unskewed by construction (hot shingles
are the exception; see the frequency-cap note on neardup_ngram_jaccard).
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType
from pyspark.sql.window import Window

from imdbmapreduce_spark import indexstore
from imdbmapreduce_spark.cache import (
    shared_cache,
    stable_checkpoint,
    stable_checkpoint_lazy,
)
from imdbmapreduce_spark.catalog import parallelize_scan, table
from imdbmapreduce_spark.functions import cents, cents_sum, tokens, top_k
from imdbmapreduce_spark.registry import query
from imdbmapreduce_spark.stats import NEARDUP_OVER_PPM_MAX

_DUCK_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"

# --- shingling ------------------------------------------------------------


def shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (word k-grams joined by space).

    Pure expressions: transform over an index sequence; docs shorter than
    k yield an empty array (callers filter).
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(k)]
    )
    return F.when(F.size(toks) >= k, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )


def _shingle_rows(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) rows — the flat, codegen-fast shingler.

    Same math as :func:`shingles` (which stays as the tested spec), but as
    posexplode + window ``lead`` instead of a higher-order ``transform``.
    HOFs evaluate interpreted per element, and worse, Catalyst's project
    collapsing inlines the tokenize expression into every ``element_at``
    of the lambda, re-running split/trim/filter per element — measured
    173 s for sf0.1's 270k tokens. This shape is one codegen'd explode +
    one shuffle on doc_id (window sort) + a distinct: 3 s on the same
    corpus, and the shuffle key (doc_id) is unskewed at any scale.
    """
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    return _shingle_rows_of(docs, k)


def _shingle_rows_of(docs: DataFrame, k: int = 3) -> DataFrame:
    """:func:`_shingle_rows` over an ARBITRARY (doc_id, text) frame —
    the same per-document shingler, factored so the incremental-ingest
    path can shingle just an arriving shard (shingling is per-doc, so a
    shard's rows here are bit-identical to the full corpus run's rows
    for those doc_ids)."""
    toks = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    nxt = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, k)]
    return (
        toks.select("doc_id", "tok", *nxt)
        .filter(F.col(f"t{k-1}").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, k)]).alias("shingle"),
        )
        .distinct()
    )


# --- exact dedup ----------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS content_key
      FROM documents
    )
    SELECT content_key, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM t
    GROUP BY content_key
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: canonical content hash → keeper + group size.

    Keeper policy is min(doc_id) — the deterministic analog of the
    reference's insert-order last-write-wins. One shuffle, keyed on the
    hash (uniform by construction; no skew).
    """
    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " "))
    return (
        docs.select("doc_id", key.alias("content_key"))
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- exact n-gram Jaccard (the oracle-checked near-dup ground truth) ------


# Hot-shingle document-frequency cap: a shingle appearing in more than
# _SHINGLE_DF_CAP docs contributes C(df,2) pairs to the self-join — one
# viral shingle with df=1e5 is 1e10 pairs. Dropping hot shingles bounds
# the exact join at O(docs x CAP) output rows (standard boilerplate-
# removal practice; hot shingles are boilerplate, not signal). Jaccard is
# then computed over the CAPPED shingle space on both sides of the gate.
_SHINGLE_DF_CAP = 100


# The full Jaccard-pair derivation as a reusable DuckDB CTE chain —
# consumed by this query's oracle, dedup_clusters' closure oracle, and the
# near-dup graph analytics in plans/relational.py.
_DUCK_JAC_CTES = f"""toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-1),
                                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ), exall AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), ex AS (
      SELECT doc_id, shingle FROM exall
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {_SHINGLE_DF_CAP}
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_sh FROM ex GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jac_edges AS (
      SELECT p.doc_a, p.doc_b, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
             CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) AS jaccard
      FROM pairs p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) >= 0.6
    )"""


def _text_params() -> dict:
    """Build parameters recorded in (and checked against) the persisted
    text-index manifest — editing any tuning constant refuses a stale
    on-disk index instead of silently serving it."""
    from imdbmapreduce_spark.operators.lm import _BPE_MERGES

    return {
        "shingle_k": 3,
        "df_cap": _SHINGLE_DF_CAP,
        "jaccard_theta": 0.6,
        "n_perm": _N_PERM,
        "n_bands": _N_BANDS,
        "simhash_bits": _SIMHASH_BITS,
        "max_simhash_tokens": _MAX_SIMHASH_TOKENS,
        "bpe_merges": _BPE_MERGES,
    }


def _shingles_capped_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexstore.artifact(
        spark,
        sf_dir,
        "text",
        "shingles_capped",
        _text_params(),
        lambda: _shingle_rows(spark, sf_dir)
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .filter(F.col("df") <= _SHINGLE_DF_CAP)
        .drop("df"),
    )


def _shingle_rows_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCAPPED distinct (doc_id, shingle) rows as a session-shared
    artifact — tokenize/shingle once, consume many: the prefix join, the
    novelty rate, and the source-overlap matrix all start here, and a
    bench/driver sweep would otherwise re-run the explode+window+distinct
    pipeline once per consumer per pass."""
    return shared_cache(
        spark,
        ("shingle_rows_all", sf_dir, 3),
        lambda: _shingle_rows(spark, sf_dir),
    )


def _shingle_ranked_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY (doc_id, shingle) row with the doc's set size, the
    shingle's global document frequency, and its per-doc rank in the
    global (df ASC, shingle ASC) order — the ONE ranked artifact both
    prefix-filter joins derive from: :func:`jaccard_prefix_join`
    filters its symmetric tau-prefix out of it, and
    :func:`containment_prefix_join` indexes all of it on the container
    side (no b-prefix exists for containment) while prefix-filtering
    the contained side. The df count and the two windows over the full
    shingle set are the expensive derivation half of either join —
    built once per session, shared thereafter (r8 advice: the two
    joins used to build near-identical tables under separate keys)."""

    def build() -> DataFrame:
        ex = _shingle_rows_cached(spark, sf_dir)
        dfreq = ex.groupBy("shingle").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        sized = ex.withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")).cast("long")
        )
        word = Window.partitionBy("doc_id").orderBy("df", "shingle")
        return (
            sized.join(dfreq, "shingle")
            .withColumn("rn", F.row_number().over(word).cast("long"))
            .select("doc_id", "shingle", "n_sh", "rn", "df")
        )

    return shared_cache(spark, ("shingle_ranked", sf_dir, 3), build)


def _jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build_pairs() -> DataFrame:
        ex = _shingles_capped_cached(spark, sf_dir)
        a = ex.alias("a")
        b = ex.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("n_sh"))
        jac = F.col("n_common").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
        return (
            pairs.join(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
                "doc_a",
            )
            .join(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
                "doc_b",
            )
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= 0.6)
            .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
        )

    return indexstore.artifact(
        spark, sf_dir, "text", "jaccard_pairs", _text_params(), build_pairs
    )


def _shingle_hx_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexstore.artifact(
        spark,
        sf_dir,
        "text",
        "shingle_hx",
        _text_params(),
        lambda: _shingle_rows(spark, sf_dir).select(
            "doc_id", F.xxhash64("shingle").alias("hx")
        ),
    )


def _simhash_fp_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexstore.artifact(
        spark,
        sf_dir,
        "text",
        "simhash_fp",
        _text_params(),
        lambda: simhash_fingerprints(table(spark, sf_dir, "documents")),
    )


def _minhash_sig_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh63): the 64-permutation MinHash signature table —
    the MinHash analog of the persisted SimHash fingerprints (the 64-way
    min aggregation over every hashed shingle is the expensive part of
    the LSH pipeline; band/bucket derivation from it is cheap)."""
    return indexstore.artifact(
        spark,
        sf_dir,
        "text",
        "minhash_sig",
        _text_params(),
        lambda: _shingle_hx_cached(spark, sf_dir)
        .groupBy("doc_id")
        .agg(*_minhash_agg_cols()),
    )


def _minhash_agg_cols() -> list:
    """The {_N_PERM} per-permutation min-hash aggregate columns over
    hashed shingles (``hx``) — shared by the full-corpus signature build
    and the shard-only incremental build so the two can never drift.
    SQL strings, one parse each, for the same fresh-plan-cost reason as
    :func:`simhash_fingerprints` (the arrival gate builds this plan per
    shard; Column-operator construction cost ~200 py4j round-trips)."""
    return [F.expr(f"min(xxhash64(hx, {i})) as mh{i}") for i in range(_N_PERM)]


def _bands_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band table from a signature table —
    {_N_BANDS} bands of {_N_PERM // _N_BANDS} rows, bucket = xxhash64 of
    the band's signature slice. Shared by the batch self-join
    (:func:`minhash_lsh_pairs`) and the incremental shard lookup
    (:func:`shard_neardup_lookup`)."""
    rows_per_band = _N_PERM // _N_BANDS
    # one SQL parse instead of ~100 py4j calls per plan instance (see
    # simhash_fingerprints — this plan is rebuilt per arriving shard)
    structs = ", ".join(
        "struct(cast({bi} as int) as band, xxhash64({cols}) as bucket)".format(
            bi=bi,
            cols=", ".join(
                f"mh{bi * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for bi in range(_N_BANDS)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def build_text_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All text-group artifacts (cached; built or loaded): the five
    dedup structures plus the TRAINED BPE TOKENIZER (post-merge
    vocabulary + merge table) — round 7: the tokenizer lifecycle gets
    the same persist-once/serve-many contract as the shingle and
    signature tables, so a cold session applies the trained tokenizer
    via a vocab join without re-running the merge loop."""
    from imdbmapreduce_spark.operators import lm

    vocab, merge_rows = lm._bpe_learn(spark, sf_dir)
    merges = spark.createDataFrame(
        merge_rows,
        "rnk long, c1 string, c2 string, merged string, pair_count long",
    )
    return {
        "shingles_capped": _shingles_capped_cached(spark, sf_dir),
        "jaccard_pairs": _jaccard_pairs_cached(spark, sf_dir),
        "shingle_hx": _shingle_hx_cached(spark, sf_dir),
        "simhash_fp": _simhash_fp_cached(spark, sf_dir),
        "minhash_sig": _minhash_sig_cached(spark, sf_dir),
        "bpe_vocab": vocab,
        "bpe_merges": merges,
    }


def persist_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the text-dedup artifacts and write them as the
    on-disk "text" index group; later sessions' dedup queries then skip
    the shingling/hashing jobs entirely."""
    return indexstore.persist_group(
        spark,
        sf_dir,
        "text",
        lambda: build_text_index(spark, sf_dir),
        params=_text_params(),
    )


@query(
    "neardup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_JAC_CTES}
    SELECT doc_a, doc_b, n_common, n_a, n_b, jaccard FROM jac_edges
    """,
)
def neardup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-gram Jaccard >= 0.6, over the
    df-capped shingle space.

    Plan: shingle-set explode → hot-shingle df cap (window count per
    shingle, df <= 100) → self equi-join on shingle → pair count → join
    back capped set sizes → threshold. Jaccard is an exact-int division
    (bit-identical in the oracle, which applies the identical cap).

    Scale: exact all-pairs-sharing-a-shingle is O(Σ df(shingle)²); the df
    cap bounds that at O(docs × 100) join-output rows regardless of how
    viral any single shingle is. The cap costs one extra shuffle on
    shingle — the same key the pair join shuffles on, so AQE reuses the
    exchange. For corpora where even the capped join is too big, switch to
    minhash_lsh_pairs below — this same pipeline with the shingle axis
    compressed to O(bands).
    """
    # Shared artifacts, two levels: the capped shingle set (reused by the
    # size agg inside the pair build) and the final PAIR SET —
    # dedup_clusters closes these same pairs into components in the same
    # sweep, and the pair relation is o(corpus) rows (near-dup rate
    # bounds it), so caching the output beats re-running the self-join
    # per consumer. Both prefer the PERSISTED text index when present.
    return _jaccard_pairs_cached(spark, sf_dir)


# --- MinHash + LSH (sub-quadratic scale path) -----------------------------

_N_PERM = 64
# 16 bands x 4 rows: s-curve threshold (1/16)^(1/4) ≈ 0.5 — matched to the
# verify threshold. Per-band collision prob is J^4, so background pairs
# (measured J < 0.1 for 1.13M of 1.13M sharing any shingle at sf0.1) almost
# never become candidates, while true near-dups (measured J >= 0.8) are
# caught with prob 1-(1-0.41)^16 ≈ 1-2e-4. 32x2 (J^2 per band) was measured
# 17× more candidates on the same corpus for no recall that matters above
# the verify threshold.
_N_BANDS = 16


def minhash_signature(sh: Column) -> Column:
    """64-permutation MinHash signature of a shingle array — pure
    expressions: permutation i is ``min over shingles of
    xxhash64(shingle, i)``, i.e. 64 independent keyed hashes.

    NOT an affine family ``(a*x+b) mod M``: with a bounded multiplier the
    product never wraps the modulus, the map stays monotone in x, every
    "permutation" picks the same argmin, and the signature collapses to a
    function of one hash (observed: J=0.89 pair with 0/64 agreement).
    Keying the hash by the permutation index gives genuinely independent
    orders, so P(sig_i matches) = Jaccard exactly.
    """
    return F.array(
        *[
            F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(i)))).alias(f"mh{i}")
            for i in range(_N_PERM)
        ]
    )


# The MinHash family's verify threshold as an exact rational, matched
# to the 16x4 band s-curve: J >= 1/2  <=>  3*n_common >= n_a + n_b.
_LSH_TAU_NUM, _LSH_TAU_DEN = 1, 2


def _minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    tau_num: int,
    tau_den: int,
    shard_docs: DataFrame | None = None,
) -> DataFrame:
    """The MinHash family's one candidate→verify plan: LSH band-bucket
    collisions, then the exact Jaccard of the hashed shingle sets under
    the integer gate (num+den)·n_common >= num·(n_a+n_b) — J >= num/den
    with no float deciding membership.

    ``shard_docs=None`` is the batch self-join over the corpus index
    (doc_a < doc_b). With ``shard_docs`` — (doc_id, text) of ARRIVING
    rows — only the shard is shingled and min-aggregated; it probes the
    base corpus (the persisted index minus the standing shard residue)
    in role order (doc_a = arriving doc) with doc_a != doc_b, so a
    re-delivered document whose id is still in the base never emits a
    jaccard-1.0 SELF-match while its true near-dups still surface.
    Returns (doc_a, doc_b, jaccard).

    Signatures come from the persisted/cached index artifact (the 64-way
    min agg is the expensive stage; cold sessions load it from parquet).
    The band join carries only (doc_id, band, bucket) — the hashed
    shingle lists join in after the candidate dedup, so the 16x band
    explode never duplicates them.
    """
    def sets_of(hx: DataFrame) -> DataFrame:
        return hx.groupBy("doc_id").agg(F.collect_list("hx").alias("sh"))

    if shard_docs is None:
        pair = operator.lt
        bands_a = bands_b = _bands_of(_minhash_sig_cached(spark, sf_dir))
        sets_a = sets_b = sets_of(_shingle_hx_cached(spark, sf_dir))
    else:
        pair = operator.ne
        hx = _shingle_rows_of(shard_docs).select(
            "doc_id", F.xxhash64("shingle").alias("hx")
        )
        bands_a = _bands_of(hx.groupBy("doc_id").agg(*_minhash_agg_cols()))
        sets_a = sets_of(hx)
        # The base-side DERIVED frames are session-cached: the streaming
        # gate calls this once per MICRO-BATCH, and without the cache
        # each batch would re-run the full-corpus collect_list
        # aggregation — arrival cost must stay shard-proportional.
        bands_b = shared_cache(
            spark,
            ("neardup_base_bands", sf_dir, _SHARD_MOD, _SHARD_RESIDUE, _N_PERM, _N_BANDS),
            lambda: _bands_of(
                _minhash_sig_cached(spark, sf_dir).filter(~_is_shard("doc_id"))
            ),
        )
        sets_b = shared_cache(
            spark,
            ("neardup_base_sets", sf_dir, _SHARD_MOD, _SHARD_RESIDUE, 3),
            lambda: sets_of(
                _shingle_hx_cached(spark, sf_dir).filter(~_is_shard("doc_id"))
            ),
        )
    cand = (
        bands_a.alias("a")
        .join(
            bands_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & pair(F.col("a.doc_id"), F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    n_a, n_b = F.size("sh_a").cast("long"), F.size("sh_b").cast("long")
    n_common = F.col("n_common")
    return (
        cand.join(sets_a.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sets_b.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .filter((tau_num + tau_den) * n_common >= tau_num * (n_a + n_b))
        .select(
            "doc_a",
            "doc_b",
            (n_common.cast("double") / (n_a + n_b - n_common)).alias("jaccard"),
        )
    )


@query("minhash_lsh_pairs")  # no SQL oracle: hash-family specifics; see tests
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, verified with exact Jaccard.

    Pipeline: shingle explode → 64-way min hash-aggregate (one shuffle on
    doc_id) → 16 bands of 4 rows → band bucket self-join → distinct slim
    (doc_a, doc_b) pairs → join shingle sets back → exact-Jaccard >= 1/2
    (integer gate, see :func:`_minhash_pairs`).

    Same math as :func:`minhash_signature` (min of xxhash64(shingle, i));
    expressed as ``explode + groupBy(64 mins)`` instead of per-row
    ``transform``/``array_min`` lambdas because higher-order functions run
    interpreted per element while a flat 64-column hash agg stays in
    whole-stage codegen (measured ~4× on sf0.1). The band join carries only
    (doc_id, band, bucket) — shingle arrays join in after dedup, so the 16×
    band explode never duplicates them.

    Scale: candidate generation is O(docs × bands) slim shuffle rows; the
    quadratic blowup is confined to same-bucket groups (true near-dups).
    Correctness (recall vs the exact query) is locked by
    tests/test_dedup.py; the driver records rows-only here since the hash
    family isn't SQL-portable.
    """
    # Pre-hash each shingle to one int64: the 64 permutations then re-key
    # an 8-byte long instead of re-hashing a ~25-byte string 64 times, and
    # the verify sets carry longs (collision prob ~2^-64·|pairs| — nil,
    # and deterministic). Both come from the shared shingle_hx artifact,
    # which prefers the persisted text index when present.
    return _minhash_pairs(spark, sf_dir, _LSH_TAU_NUM, _LSH_TAU_DEN)


# --- incremental near-dup ingest (shard vs persisted index) ----------------

# The arriving-shard split: documents with doc_id % _SHARD_MOD ==
# _SHARD_RESIDUE play the "new shard" (~10% of the corpus, deterministic,
# id-uniform); the rest are the already-indexed base corpus.
_SHARD_MOD = 10
_SHARD_RESIDUE = 7


def _is_shard(col: str):
    return (F.col(col) % _SHARD_MOD) == _SHARD_RESIDUE


def shard_neardup_lookup(
    spark: SparkSession,
    sf_dir: str,
    shard_docs: DataFrame,
    tau_num: int = _LSH_TAU_NUM,
    tau_den: int = _LSH_TAU_DEN,
) -> DataFrame:
    """The production ingest loop's core: check ARRIVING documents
    against the EXISTING MinHash index without recomputing the corpus
    side — :func:`_minhash_pairs` in its probe-vs-base mode.

    ``shard_docs`` is (doc_id, text) of the arriving rows. Corpus-side
    signatures/shingle sets come from the persisted text-index artifacts
    (indexstore group "text"; session-cached, parquet-served on cold
    sessions) filtered to base docs — the expensive 64-way min
    aggregation and the shingle explode run ONLY over the shard.
    Returns (new_doc, matched_doc, jaccard) with exact Jaccard >=
    tau_num/tau_den (the family's 1/2 by default; the routed ingest gate
    verifies at the prefix families' 3/5), matched_doc always a
    base-corpus doc. Shared by the batch
    :func:`neardup_incremental_ingest`, the routed ingest gate's band
    branch and the streaming micro-batch twin (streaming/windowed.py).

    Contract: the base side is the persisted index minus the standing
    shard residue (``_SHARD_MOD``/``_SHARD_RESIDUE``), so ``shard_docs``
    whose ids fall OUTSIDE that residue may still exist in the base; the
    candidate join excludes new_doc == matched_doc so a re-delivered
    known document can never emit a spurious jaccard-1.0 SELF-match —
    its true near-dups (other base docs) still surface normally.
    """
    return _minhash_pairs(spark, sf_dir, tau_num, tau_den, shard_docs).select(
        F.col("doc_a").alias("new_doc"), F.col("doc_b").alias("matched_doc"), "jaccard"
    )


@query("neardup_incremental_ingest")  # no SQL oracle: xxhash64 band family;
# pinned hash-equal to the batch minhash_lsh_pairs restriction in
# tests/test_dedup.py::test_incremental_ingest_equals_batch_restriction
def neardup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup gate — the loop a 100 TB pipeline runs on
    every arriving shard: shingle + MinHash ONLY the new documents
    (doc_id % 10 == 7, ~10% of the corpus, standing in for today's
    crawl delivery), look their 16 band buckets up against the
    PERSISTED corpus index (indexstore group "text": minhash_sig +
    shingle_hx parquet artifacts — the corpus side is never reshingled
    or re-min-aggregated), and exact-Jaccard-verify the collisions.
    Generalizes the reference's arrival-time ingest
    (/root/reference/Code/dataToServers.erl:28-53) to additive data.

    Plan: fresh work is O(|shard|) — one shingle explode + one 64-min
    agg; the lookup joins shard bands (16/doc slim rows) against index
    bands derived map-only from the persisted signature table, keyed on
    (band, bucket) — uniform by construction (xxhash64 buckets). The
    verify join touches only colliding pairs' shingle sets.

    Scale: at 100 TB the index side is a parquet scan of o(corpus) slim
    rows (bucketed by (band, bucket) in a production layout, so a shard
    lookup prunes to matching buckets); shard-side cost is proportional
    to the ARRIVAL, not the corpus — the whole point of persisting the
    index. Correctness pin: hash-equal to the batch
    :func:`minhash_lsh_pairs` restricted to pairs with exactly one
    endpoint in the shard.
    """
    docs = table(spark, sf_dir, "documents")
    shard = docs.filter(_is_shard("doc_id")).select("doc_id", "text")
    return shard_neardup_lookup(spark, sf_dir, shard)


@query(
    "incremental_cluster_assign",
    oracle=f"""
    WITH RECURSIVE {_DUCK_JAC_CTES}, basejac AS (
      SELECT doc_a, doc_b FROM jac_edges
      WHERE doc_a % {_SHARD_MOD} <> {_SHARD_RESIDUE}
        AND doc_b % {_SHARD_MOD} <> {_SHARD_RESIDUE}
    ), bedges AS (
      SELECT doc_a AS a, doc_b AS b FROM basejac
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM basejac
    ), walk(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      WHERE doc_id % {_SHARD_MOD} <> {_SHARD_RESIDUE}
      UNION
      SELECT w.node, e.b FROM walk w JOIN bedges e ON e.a = w.r
    ), assign AS (
      SELECT node AS base_doc, MIN(r) AS cluster_id FROM walk GROUP BY node
    ), links AS (
      SELECT doc_a AS new_doc, doc_b AS base_doc FROM jac_edges
      WHERE doc_a % {_SHARD_MOD} = {_SHARD_RESIDUE}
        AND doc_b % {_SHARD_MOD} <> {_SHARD_RESIDUE}
      UNION ALL
      SELECT doc_b AS new_doc, doc_a AS base_doc FROM jac_edges
      WHERE doc_b % {_SHARD_MOD} = {_SHARD_RESIDUE}
        AND doc_a % {_SHARD_MOD} <> {_SHARD_RESIDUE}
    )
    SELECT l.new_doc,
           CAST(MIN(a.cluster_id) AS BIGINT) AS assigned_cluster,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(COUNT(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters_linked
    FROM links l JOIN assign a USING (base_doc)
    GROUP BY l.new_doc
    """,
)
def incremental_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step AFTER the incremental near-dup gate in a production
    ingest loop: each arriving document that near-duplicates existing
    content gets assigned to the EXISTING duplicate cluster it joins —
    ``(new_doc, assigned_cluster, n_links, n_clusters_linked)``, where
    ``n_clusters_linked > 1`` is the cluster-MERGE signal (the arrival
    bridges two previously-separate groups; a maintenance pass unions
    them). Completes the arrival pipeline: gate
    (:func:`neardup_incremental_ingest`) → assignment (this) →
    keeper policy (the batch ``neardup_cluster_keepers`` rule applied
    to the grown cluster).

    Semantics: edges are the MAINTAINED exact-Jaccard pair artifact
    (the same persisted/cached pair set every dedup consumer shares,
    df-caps as of the full corpus snapshot); base clusters are
    components over base-base edges only; links are the exactly-one-
    endpoint-arriving pairs. assigned_cluster = min linked base
    cluster id — deterministic and exactly what the closure over the
    grown graph would fold the new doc into when n_clusters_linked = 1.

    Plan: the pair artifact is read once and split three ways
    (base-base, shard-base twice) — no new similarity work at all; the
    component loop runs over o(corpus) base edges (log-diameter rounds,
    session-cached result shared across the sweep); the assignment is
    one join + one groupBy on new_doc.

    Scale: at 100 TB arrival-time cost is |links| + the (amortized,
    cached) base clustering — the corpus is never re-shingled; the
    merge-signal column is precisely what lets a production system
    defer full re-clustering until merges actually happen.
    """
    pairs = _jaccard_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")

    def build_base_assign() -> DataFrame:
        base_nodes = (
            table(spark, sf_dir, "documents")
            .filter(~_is_shard("doc_id"))
            .select(F.col("doc_id").alias("node"))
        )
        base_edges = pairs.filter(
            ~_is_shard("doc_a") & ~_is_shard("doc_b")
        ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        return connected_components(base_nodes, base_edges, edges_unique=True)

    base_assign = shared_cache(
        spark,
        ("incremental_base_clusters", sf_dir, 3, _SHINGLE_DF_CAP, 0.6),
        build_base_assign,
    )
    links = (
        pairs.filter(_is_shard("doc_a") & ~_is_shard("doc_b"))
        .select(F.col("doc_a").alias("new_doc"), F.col("doc_b").alias("base_doc"))
        .unionByName(
            pairs.filter(_is_shard("doc_b") & ~_is_shard("doc_a")).select(
                F.col("doc_b").alias("new_doc"), F.col("doc_a").alias("base_doc")
            )
        )
    )
    return (
        links.join(base_assign.withColumnRenamed("node", "base_doc"), "base_doc")
        .groupBy("new_doc")
        .agg(
            F.min("cluster_id").alias("assigned_cluster"),
            F.count(F.lit(1)).cast("long").alias("n_links"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters_linked"),
        )
    )


# --- SimHash --------------------------------------------------------------

_SIMHASH_BITS = 64

# Distinct-token cap: the packed pipeline below counts bits in FOUR 16-bit
# lanes per long; with n distinct tokens the lane-3 accumulation reaches
# n<<48, so n must stay < 2^15 or the sum carries into the sign bit and
# silently corrupts the fingerprint. 32767 enforces that bound; both the
# spec function and the packed pipeline apply the SAME deterministic
# truncation (array_distinct preserves first-occurrence order) so they
# agree on every document, however long.
_MAX_SIMHASH_TOKENS = 32767

# Candidate generation: Manku-style permuted-block tables (Manku, Jain,
# Sarma, WWW'07) for Hamming distance <= 3. The 64-bit fingerprint splits
# into 6 blocks (11,11,11,11,10,10 bits). Any 3 bit flips corrupt at most
# 3 blocks, so >= 3 blocks stay intact, and some 3-subset of intact
# blocks exists; every C(6,3) = 20 3-subset is one table, keyed on its
# ~32 concatenated block bits. vs the old 4 x 16-bit chunk scheme
# (2^16 buckets/band -> candidate volume ~n²/2^16, measured 1.5M joined
# rows at sf0.1): 2^32-ish keys cut expected background collisions by
# ~2^16 for 5x the per-doc band rows (20 vs 4) — the shuffle grows
# linearly, the join output stops growing quadratically.
_BLOCK_WIDTHS = (11, 11, 11, 11, 10, 10)
_BLOCK_OFFSETS = (0, 11, 22, 33, 44, 54)
# The radius the 3-of-6 tables are complete for; a wider radius needs
# smaller block subsets (k-of-6 with k = 6 - d), not a larger constant.
_MAX_HAMMING = 3


def _simhash_tables() -> list[tuple[int, ...]]:
    from itertools import combinations

    return list(combinations(range(len(_BLOCK_WIDTHS)), 3))


def simhash(toks: Column) -> Column:
    """64-bit SimHash fingerprint of a token array — pure expressions.

    Per bit b: sum over distinct tokens (first 32767 — see
    _MAX_SIMHASH_TOKENS) of ±1 by bit b of xxhash64(token); fingerprint
    bit b = 1 iff the sum is positive. (Unweighted variant; term weights
    would multiply the ±1.)
    """
    th = F.transform(
        F.slice(F.array_distinct(toks), 1, _MAX_SIMHASH_TOKENS), lambda t: F.xxhash64(t)
    )
    bit_sum = lambda b: F.aggregate(  # noqa: E731
        th,
        F.lit(0),
        lambda acc, h: acc
        + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
    )
    out = F.lit(0).cast("long")
    for b in range(_SIMHASH_BITS):
        # shiftleft, not lit(1 << b): bit 63 overflows a signed long literal.
        bit = F.shiftleft(F.lit(1).cast("long"), b)
        out = out + F.when(bit_sum(b) > 0, bit).otherwise(F.lit(0).cast("long"))
    return out


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp): same math as :func:`simhash` (which stays as the
    tested spec), in the shape codegen likes best.

    Per-row aggregate() lambdas run interpreted per element, and one agg
    with 64 sum buffers overflows the JIT-friendly generated-method size.
    Instead each of 16 buffers packs FOUR 16-bit bit-counters into one
    long (lane k counts bit 4g+k; counts are bounded by the
    _MAX_SIMHASH_TOKENS slice — n < 2^15 — so lanes cannot carry into
    each other or the sign bit). Hash each token ONCE in a projection —
    inside the agg the string hash would re-evaluate per buffer (no CSE
    across aggregate buffers). One shuffle on doc_id.

    The big lane/recombine expressions are built as SQL STRINGS parsed
    by F.expr in ONE call each: constructing the same tree from Python
    Column operators costs hundreds of py4j round-trips PER PLAN
    INSTANCE, which dominated the arrival gate (a fresh plan per shard):
    measured 1.9 s → 0.6 s per fresh-plan build at sf0.1, bit-identical
    fingerprints.
    """
    tok = parallelize_scan(docs).select(
        "doc_id",
        F.explode(
            F.slice(F.array_distinct(tokens(text_col)), 1, _MAX_SIMHASH_TOKENS)
        ).alias("tok"),
    ).select("doc_id", F.xxhash64("tok").alias("h"))

    lanes = [
        "sum("
        + " + ".join(
            f"shiftleft(cast(shiftright(h, {g * 4 + k}) & 1 as bigint), {16 * k})"
            for k in range(4)
        )
        + f") as g{g}"
        for g in range(_SIMHASH_BITS // 4)
    ]
    sums = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *[F.expr(s) for s in lanes]
    )
    # bit b set <=> sum of ±1 > 0 <=> 2*cnt_b > n_tokens
    fp_sql = " + ".join(
        f"if((shiftright(g{b // 4}, {16 * (b % 4)}) & 65535) * 2 > n,"
        f" shiftleft(cast(1 as bigint), {b}), cast(0 as bigint))"
        for b in range(_SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(fp_sql).alias("fp"))


@query("simhash_pairs")  # no SQL oracle: hash-family specifics; see tests
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: permuted-block candidate join + exact
    Hamming verify — :func:`simhash_fingerprints` piped into the shared
    :func:`hamming_pairs` banded join in its self-join mode (the arrival
    gate, :func:`simhash_incremental_ingest`, runs its probe-vs-base
    mode).

    Scale: see :func:`hamming_pairs` (the join machinery) and
    :func:`simhash_fingerprints` (the fingerprint build).
    """
    members = _simhash_fp_cached(spark, sf_dir)
    return hamming_pairs(members)


def _hamming_bands(dfp: DataFrame) -> DataFrame:
    """(fp, tbl, key) band rows for the 20 permuted-block tables — one
    (tbl, key) row per table; key packs the table's 3 block values into
    16-bit lanes of one long (block width <= 11 < 16, no overlap).
    Shared by both modes of :func:`hamming_pairs` (batch self-join and
    the probe-vs-base shard lookup). Built as one
    parsed SQL string — this plan is rebuilt per arriving shard (see
    simhash_fingerprints for the fresh-plan-cost measurement)."""

    def block(j: int) -> str:
        mask = (1 << _BLOCK_WIDTHS[j]) - 1
        return f"cast(shiftright(fp, {_BLOCK_OFFSETS[j]}) & {mask} as bigint)"

    structs = ", ".join(
        "struct(cast({ti} as int) as tbl, {key} as key)".format(
            ti=ti,
            key=" + ".join(
                f"shiftleft({block(j)}, {16 * lane})"
                for lane, j in enumerate(subset)
            ),
        )
        for ti, subset in enumerate(_simhash_tables())
    )
    return dfp.select("fp", F.expr(f"explode(array({structs}))").alias("bb")).select(
        "fp", F.col("bb.tbl").alias("tbl"), F.col("bb.key").alias("key")
    )


@query("simhash_incremental_ingest")  # no SQL oracle: xxhash SimHash family;
# pinned hash-equal to the batch simhash_pairs restriction in
# tests/test_dedup.py::test_simhash_incremental_equals_batch_restriction
def simhash_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hamming-family twin of :func:`neardup_incremental_ingest` —
    arriving documents fingerprinted fresh (SimHash over the shard
    only) and looked up against the PERSISTED fingerprint artifact
    (indexstore "text" group simhash_fp, filtered to base docs) through
    :func:`hamming_pairs` in its probe-vs-base mode. Together the
    two gates cover both near-dup families a production ingest runs:
    set-similarity (MinHash/Jaccard) and bit-similarity (SimHash /
    perceptual hashes — the SAME lookup serves image pHash arrivals).

    Plan: fresh work is one map-only fingerprint pass over the shard;
    the lookup joins 20 slim band rows per distinct fingerprint per
    side on (tbl, key); exact Hamming verify is one codegen'd XOR +
    bit_count. Corpus side never recomputes.
    """
    docs = table(spark, sf_dir, "documents")
    # The lookup consumes the probe side 3 ways (identical-fp join,
    # distinct-fp bands, and its expand join); checkpoint the
    # freshly-computed shard fingerprints once — shard-sized slim rows —
    # so the tokenize/hash/bit-count pipeline doesn't re-execute per
    # consumer.
    shard_fp = stable_checkpoint(
        simhash_fingerprints(docs.filter(_is_shard("doc_id")))
    )
    base_fp = _simhash_fp_cached(spark, sf_dir).filter(~_is_shard("doc_id"))
    return hamming_pairs(shard_fp, base_fp).select(
        F.col("doc_a").alias("new_doc"), F.col("doc_b").alias("matched_doc"), "hamming"
    )


def hamming_pairs(members: DataFrame, base: DataFrame | None = None) -> DataFrame:
    """All pairs within ``_MAX_HAMMING`` (3) bits over ANY (doc_id, fp)
    input — the fingerprint source is pluggable (token SimHash, image
    perceptual hash, audio chromaprint, ...); this is the shared scale
    path for batch and arrival alike.

    ``base=None`` is the batch self-join: unordered pairs, doc_a < doc_b.
    With ``base`` set it is the ARRIVAL lookup: ``members`` are the
    arriving shard's fingerprints, ``base`` the existing index, and
    every (probe, base) pair comes out in role order (doc_a = probe)
    with no probe-probe or base-base pair ever formed. The two modes
    differ only in the pair predicate (``<`` vs ``!=``); the probe-vs-base
    ``!=`` also keeps a re-delivered probe whose id is still in the base
    from emitting a hamming-0 SELF-match.

    20 tables keyed on 3-of-6 fingerprint blocks (~32 key bits) guarantee
    recall for Hamming distance <= 3 (pigeonhole over blocks — see the
    _BLOCK_WIDTHS comment) while keeping background collisions ~n²/2^32
    per table instead of a 16-bit chunk scheme's n²/2^16.

    Scale: fingerprints are 8 bytes/doc; the table join shuffles 20 slim
    rows per DISTINCT fingerprint per side (linear; shard-sized on the
    probe side), its output is collision-bounded (not
    bucket-count-bounded), and duplicate-document clusters never enter
    it at all. bit_count is a single codegen'd instruction.

    Returns (doc_a, doc_b, hamming).
    """
    pair = operator.lt if base is None else operator.ne
    base = members if base is None else base
    # Identical-fingerprint clusters (the dominant mass in a duplicate-
    # heavy corpus — one 249-doc cluster at sf0.1 alone is 31k pairs)
    # short-circuit the banded join entirely: emit their pairs directly
    # (Hamming 0 by definition), and band over DISTINCT fingerprints
    # only. Without this, every same-fp cluster re-emits its C(m,2)
    # pairs in all 20 tables — measured 1.39M join rows at sf0.1 vs
    # ~98k true pairs; with it the join sees each fp once (3,897
    # distinct fps at sf0.1 → 135k join rows, an 11x cut vs the old
    # 16-bit chunk scheme's 1.5M).
    x, y = members.alias("x"), base.alias("y")
    intra = x.join(
        y, (F.col("x.fp") == F.col("y.fp")) & pair(F.col("x.doc_id"), F.col("y.doc_id"))
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )

    a = _hamming_bands(members.select("fp").distinct())
    b = a if base is members else _hamming_bands(base.select("fp").distinct())
    fp_pairs = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.key") == F.col("b.key"))
            & pair(F.col("a.fp"), F.col("b.fp")),
        )
        .select(
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).cast("int").alias("hamming"),
        )
        # filter BEFORE dedup: only true fp pairs (<= 20 copies each)
        # reach the dropDuplicates shuffle; background collisions at ~32
        # key bits are negligible.
        .filter(F.col("hamming") <= _MAX_HAMMING)
        .dropDuplicates(["fp_a", "fp_b"])
    )
    # expand verified fp pairs to doc pairs — two output-sized joins
    cross = fp_pairs.join(
        members.select(F.col("fp").alias("fp_a"), F.col("doc_id").alias("id_a")), "fp_a"
    ).join(base.select(F.col("fp").alias("fp_b"), F.col("doc_id").alias("id_b")), "fp_b")
    if pair is operator.lt:  # fp order says nothing about doc order
        ids = [F.least("id_a", "id_b").alias("doc_a"), F.greatest("id_a", "id_b").alias("doc_b")]
    else:
        ids = [F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")]
    return intra.unionByName(cross.select(*ids, "hamming"))


# --- connected-components clustering (pairs → cluster assignment) ---------


def connected_components(
    nodes: DataFrame | None,
    edges: DataFrame,
    max_iters: int = 25,
    edges_unique: bool = False,
) -> DataFrame:
    """Connected components over an undirected edge list: every node gets
    ``cluster_id`` = the minimum node id reachable from it.

    The last stage every near-dup pipeline needs — pair lists (Jaccard /
    MinHash / SimHash emit *edges*) don't answer "which rows form one
    duplicate group"; components do. The reference's dedup never composes
    groups at all (last-write-wins replaces a key in place,
    /root/reference/Code/csv_to_ets.erl:27-53), so this generalizes R9's
    cross-level dedup to transitive content identity.

    ``nodes``: one column ``node``, or ``None`` (r13) to use the
    edge-incident set itself as the universe — the caller then gets one
    row per MATCHED node, skips the singleton rejoin entirely, and the
    returned frame carries a broadcast hint whenever the loop's own
    label frame was broadcast-sized (the count is already measured
    here, so consumers joining the assignment onto a corpus-sized table
    inherit the right strategy for free).
    ``edges_unique``: caller's guarantee that the edge list is already
    one row per unordered pair (every production caller feeds deduped
    src<dst pair artifacts) — the symmetrized frame is then distinct by
    construction and the dedup exchange is skipped (r13, guide §2.4).
    Duplicates would not break correctness either way (the loop takes
    MINs, which are multiset-insensitive); the flag only prunes work.

    Algorithm: min-label propagation with pointer jumping. Each round
    (a) lowers every label to the min over its graph neighbors, then
    (b) rewrites every label by its own label's label (path halving) —
    step (b) squares the propagation distance, so rounds are
    O(log(diameter)), not O(diameter): a 1M-node chain converges in ~20
    rounds instead of 1M. Per round: one shuffle join on node + one on
    label — both uniform keys. Lineage is truncated every round with
    ``localCheckpoint`` (on a real cluster: ``checkpoint`` to durable
    storage) so the plan doesn't grow exponentially with iterations; the
    driver holds only a scalar convergence statistic (the exact decimal
    label sum), never row data.

    Node ids must be integral: the label sum is null for any other type,
    which would end the loop after one round with labels only partly
    propagated, so other types raise ``TypeError`` (a schema check — no
    job runs).
    """
    sym = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).unionByName(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    for frame in (sym, nodes):
        if frame is not None and not isinstance(
            frame.schema["node"].dataType, IntegralType
        ):
            raise TypeError(
                "connected_components needs integral node ids, got "
                f"{frame.schema['node'].dataType.simpleString()}"
            )
    if not edges_unique:
        sym = sym.distinct()
    sym = stable_checkpoint(sym)
    # Only edge-incident nodes can ever change label — every other node is
    # a singleton, decided before the loop starts. In a deduplicated
    # corpus near-dup pairs are o(corpus), so this shrinks every
    # per-round shuffle from |nodes| to |edge endpoints|; the singleton
    # majority rejoins via one anti-join at the end, outside the loop.
    active = sym.select("node").distinct()
    # The label frame is |active| slim rows. When that fits a broadcast
    # (the common case even on giant-component graphs — labels are one
    # row per matched node, never per edge), hinting it onto every
    # loop join removes ALL per-round shuffles of the edge list: the
    # r12 ER graph (15k nodes / 262k edges, one giant component) ran
    # the closure 11.4 s -> ~3 s warm with the hint, and a graph too
    # big to broadcast simply falls back to the shuffle joins below.
    # The one extra count here is over the checkpointed sym — cheap —
    # and is exactly the statistic a CBO would read off the edge list.
    # One aggregate reads the two statistics the loop needs: the active
    # cardinality (broadcast decision) and the initial label sum (the
    # convergence yardstick below) — one job instead of a count now and
    # a join+count per round.
    stats0 = active.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("node").cast("decimal(38,0)")).alias("s"),
    ).first()
    bcast = stats0["n"] <= 2_000_000
    hint = F.broadcast if bcast else (lambda df: df)
    prev_sum = stats0["s"]
    # LAZY checkpoints throughout the loop (the _lpa_run pattern, r13):
    # the convergence aggregate below is the action that materializes
    # each round's frame, so a round is ONE job, not an eager-checkpoint
    # job plus a check job. comp0 likewise materializes under round 1's
    # first broadcast build. Measured at sf0.1 (262k-edge ER graph):
    # closure 3.7 s -> 3.2 s median warm.
    comp = active.select("node", F.col("node").alias("comp")).transform(
        stable_checkpoint_lazy
    )
    result = None
    for _ in range(max_iters):
        nbr_min = (
            sym.join(hint(comp.withColumnRenamed("node", "nbr")), "nbr")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        lowered = (
            comp.join(hint(nbr_min), "node", "left")
            .select("node", F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"))
        )
        jumped = (
            lowered.join(
                hint(
                    lowered.select(
                        F.col("node").alias("comp"), F.col("comp").alias("comp2")
                    )
                ),
                "comp",
            )
            .select("node", F.col("comp2").alias("comp"))
            .transform(stable_checkpoint_lazy)
        )
        # Convergence check without a join (r13, guide §5 — one slim agg
        # over the frame the loop just checkpointed): labels are monotone
        # non-increasing per node (lowered <= comp by least(); jumped =
        # lowered[lowered[x]] <= lowered[x] because lowered never maps a
        # node above itself), so the EXACT decimal label sum is strictly
        # decreasing until the fixpoint and equal exactly there. Replaces
        # the per-round jumped-vs-prev equi-join + limit + count.
        cur_sum = jumped.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).first()[0]
        comp = jumped
        if cur_sum == prev_sum:
            result = comp.select("node", F.col("comp").alias("cluster_id"))
            break
        prev_sum = cur_sum
    if result is None:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iters} rounds")
    if nodes is None:
        return hint(result)
    # Singleton rejoin as ONE left join + coalesce (r13): `result`
    # covers exactly the edge-incident nodes, so a node it misses is
    # its own cluster — same relation as the previous anti-join +
    # distinct + union, one join and one exchange fewer.
    return nodes.join(hint(result), "node", "left").select(
        "node", F.coalesce("cluster_id", "node").alias("cluster_id")
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-1),
                                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ), exall AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), ex AS (
      SELECT doc_id, shingle FROM exall
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {_SHINGLE_DF_CAP}
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_sh FROM ex GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jac AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) >= 0.6
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM jac
    ), walk(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.r
    ), assign AS (
      SELECT node AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY node
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM assign
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: Jaccard >= 0.6 pairs → connected
    components → ``(doc_id, cluster_id, cluster_size)`` for EVERY
    document (singletons keep their own id).

    This is the artifact a curation pipeline actually consumes — "keep
    cluster_id == doc_id, drop the rest" is one filter away. Edges come
    from the oracle-checked exact-Jaccard pair query; the oracle replays
    the same pairs in DuckDB and closes them with a recursive-CTE
    transitive closure (exact min-reachable-id semantics, so the gate
    hash-checks the whole clustering, not just pair recall).

    Scale: edges are near-dup pairs — o(corpus) rows; the component loop
    is O(log diameter) rounds of uniform-key shuffles on that small edge
    set (see :func:`connected_components`). The final size window
    shuffles one row per doc on cluster_id; the giant-component skew case
    is AQE's skew-join territory, and cluster_id cardinality ~ n_docs.
    """
    # The assignment is a shared artifact: neardup_cluster_keepers
    # consumes it again in the same sweep, and the component
    # loop (log-diameter rounds of checkpointed joins) is the expensive
    # part — cache the RESULT, not the recipe. Session-scoped only (not
    # in the persisted "text" index group: it derives in O(pairs) from
    # the persisted pair artifact, so disk would buy little).
    def build() -> DataFrame:
        docs = table(spark, sf_dir, "documents")
        edges = neardup_ngram_jaccard(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        assign = connected_components(
            docs.select(F.col("doc_id").alias("node")), edges, edges_unique=True
        )
        return assign.select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("cluster_size"),
        )

    return shared_cache(spark, ("dedup_cluster_assign", sf_dir, 3, _SHINGLE_DF_CAP, 0.6), build)


# --- exact repeated-substring detection (cross-document n-grams) ----------

_REPEAT_N = 8  # word n-gram length; Lee et al. use 50-token spans at web scale
_REPEAT_TOP = 200


@query(
    "crossdoc_ngram_repeats",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, array_to_string(toks[i:i+{_REPEAT_N - 1}], ' ') AS ngram
      FROM t, unnest(generate_series(1, len(toks) - {_REPEAT_N - 1})) AS u(i)
      WHERE len(toks) >= {_REPEAT_N}
    ), agg AS (
      SELECT ngram,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM g GROUP BY ngram HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT ngram, n_docs, n_occ,
           CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, n_occ DESC, ngram)
                AS BIGINT) AS rnk
    FROM agg
    ORDER BY rnk LIMIT {_REPEAT_TOP}
    """,
)
def crossdoc_ngram_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection: the top word-{n}-grams that
    appear in ≥2 distinct documents — the statistic behind exact
    substring deduplication (Lee et al., "Deduplicating Training Data
    Makes Language Models Better": memorized spans repeat VERBATIM
    across crawls, so cross-document repeated n-grams locate boilerplate
    and templated text that near-dup doc-level methods miss). The output
    is the removal worklist: each surviving n-gram is a span a scrubber
    masks or a dupe cluster shares.

    Plan: one corpus pass slides an {n}-token window per doc via
    ``transform(sequence(...))`` over the token array (array ops,
    map-side), explodes, then ONE aggregation keyed on the n-gram
    computing distinct-doc and occurrence counts together; ``HAVING
    n_docs >= 2`` prunes before the global
    :func:`~imdbmapreduce_spark.functions.top_k`.

    Scale: the exploded stream is ~|tokens| rows — the same volume the
    tokenizer pass already handles; the agg keys on n-grams, whose
    count-distinct runs as a two-phase partial (doc-dedup within
    partition first). At 100 TB, hash the n-gram to int64 first (the
    string key's width dominates the exchange; collisions at 1e12 grams
    are handled by a verify pass) and raise n to 50 — same plan. A
    suffix-array build (the paper's exact method) is the escape hatch
    when spans must be maximal, not fixed-length.
    """
    docs = table(spark, sf_dir, "documents")
    grams = (
        parallelize_scan(docs)
        .select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= _REPEAT_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_REPEAT_N - 1}),"
                    f" i -> array_join(slice(toks, i, {_REPEAT_N}), ' '))"
                )
            ).alias("ngram"),
        )
    )
    agg = (
        grams.groupBy("ngram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return top_k(
        agg, _REPEAT_TOP, F.desc("n_docs"), F.desc("n_occ"), "ngram", rank="rnk"
    )


# --- prefix-filtered exact similarity join (complete, no df-cap) ----------

# Jaccard threshold as an exact rational (no float compare anywhere in the
# gate): J >= 3/5  <=>  8*n_common >= 3*(n_a + n_b).
_PFX_TAU_NUM, _PFX_TAU_DEN = 3, 5


@query(
    "jaccard_prefix_join",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-1),
                                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ex GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE 8 * p.n_common >= 3 * (sa.n_sh + sb.n_sh)
    """,
)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join with PREFIX FILTERING (Chaudhuri et al.
    2006; Bayardo et al. "All-Pairs" 2007): every document pair with
    3-gram-shingle Jaccard >= 0.6, found WITHOUT a df-cap and with zero
    recall loss — the complete-candidate counterpart to
    :func:`neardup_ngram_jaccard` (which drops shingles hotter than
    _SHINGLE_DF_CAP docs and documents that lossiness) and to the
    probabilistic MinHash/SimHash paths. The oracle runs the naive
    all-shingle theta join; this plan must emit the IDENTICAL pair set,
    which is exactly the prefix filter's completeness theorem under test.

    Candidate generation: order all shingles by (global df ASC, shingle
    ASC) — a total order putting the RAREST shingles first — sort each
    document's shingle set by it, and emit only the first
    p = n - ceil(tau*n) + 1 shingles per document. Completeness: if
    J(a,b) >= tau then o = |a n b| >= tau*|a| (since |a u b| >= |a|) and
    likewise for b; the smallest common shingle in the global order sits
    at position <= |x| - o + 1 <= p in BOTH documents' sorted sets, so
    every qualifying pair shares a prefix shingle. Each candidate is then
    verified with an exact overlap count over the FULL sets and the
    integer gate 8*o >= 3*(n_a+n_b)  (J >= 3/5 cross-multiplied), so no
    float ever decides membership.

    Scale: the df-ASC order is what bounds candidates — boilerplate
    (hot) shingles sort LAST and rarely enter any prefix, so prefix-key
    collision lists stay short without dropping them (the cap-free
    answer to the C(df,2) blowup the df-cap guards against). Candidate
    volume is sum over prefix-shingles of C(c,2) with c = docs carrying
    that shingle IN PREFIX; verification touches only candidate docs'
    shingle rows. Exchanges: df count (shuffle on shingle), per-doc sort
    (shuffle on doc_id), candidate join (shuffle on shingle), verify
    join keyed on doc ids. All keys hash-uniform; no all-pairs join at
    any scale. BUT candidate volume is NOT bounded on vocabulary-
    saturated corpora — SCALE.md round 9 measured 249 s / 62x at sf1
    where every shingle's df grows with the corpus; the production knob
    there is :func:`jaccard_prefix_join_bounded` (df-ceiling, recall
    scoreboard-measured). At 100 TB this exact form is the backstop run
    AFTER MinHash banding shrinks the corpus, or standalone when recall
    guarantees are contractual (eval-set decontamination).
    """
    return _jaccard_join(spark, sf_dir)


def _prefix_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric tau-prefix of the shared ranked-shingle artifact:
    p = n - ceil(tau*n) + 1 postings per document, with
    ceil(3n/5) = (3n+4) div 5 exact-int. n_sh + rn ride along for
    PPJoin's length + positional filters at candidate time; df rides
    along for the bounded form's ceiling and the family router's
    profile — one definition, so the routed decision is made over
    EXACTLY the postings the candidate join would consume."""
    return _shingle_ranked_cached(spark, sf_dir).filter(
        F.col("rn")
        <= F.col("n_sh")
        - F.expr(f"({_PFX_TAU_NUM}*n_sh + {_PFX_TAU_DEN - 1}) div {_PFX_TAU_DEN}")
        + 1
    )


def _overlap_counts(
    ex: DataFrame, a: DataFrame, b: DataFrame, on: Column
) -> DataFrame:
    """Candidate→verify half both prefix joins (:func:`_jaccard_join`,
    :func:`_containment_join`) share: posting frames ``a`` and ``b``
    (doc_id, shingle, n_sh, rn) joined on ``on`` (which names them
    ``a.``/``b.``), deduped to distinct (doc_a, doc_b, n_a, n_b), then
    the exact overlap of each pair's FULL shingle sets in ``ex``
    (distinct doc_id, shingle) as n_common.

    The pair's sizes flow THROUGH the candidate join (n_sh rides both
    posting frames) instead of being re-derived by a sizes groupBy + two
    post-verify joins — one exchange and two joins gone, measured
    2.27 s → 1.74 s warm at sf0.1 on the containment join (n_a/n_b are
    functions of the doc ids, so the distinct() dedupes exactly as
    before). The verify is an exploded equi-join keyed (doc, shingle):
    measured FASTER than an array_intersect verify here — 174k
    candidates × ~40-shingle docs shuffle slim (id, shingle) rows, where
    the array form ships both full arrays to every pair row (80
    strings/pair — 2.5× the bytes, 4.5× the time at sf0.1)."""
    cand = (
        a.alias("a")
        .join(b.alias("b"), on)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").cast("long").alias("n_a"),
            F.col("b.n_sh").cast("long").alias("n_b"),
        )
        .distinct()
    )
    return (
        ex.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(cand, "doc_a")
        .join(
            ex.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )


def _jaccard_join(
    spark: SparkSession,
    sf_dir: str,
    df_ceil: int | None = None,
    side_a=None,
    side_b=None,
) -> DataFrame:
    """Shared prefix-join plan behind :func:`jaccard_prefix_join`
    (df_ceil=None — exact, complete), :func:`jaccard_prefix_join_bounded`
    (df_ceil set — posting-list ceiling on the candidate join, bounded
    recall) and the routed ARRIVAL gate (``side_a``/``side_b`` set —
    doc_id predicates restricting each candidate side, e.g. shard vs
    base; the symmetric ``doc_a < doc_b`` dedupe is then replaced by
    role order + ``doc_a != doc_b``, and the prefix/PPJoin theorems are
    side-split-agnostic: the first surviving common shingle of a
    qualifying pair lies in BOTH prefixes whichever side each document
    is on). One definition for candidate generation, tightening, and
    the exact full-set verify — batch and arrival semantics cannot
    fork. Mirrors :func:`_containment_join`'s ceiling/side mechanics
    over the SAME shared ranked artifact."""
    ex = _shingle_rows_cached(spark, sf_dir)  # distinct (doc_id, shingle)

    # The df-ordered ranked table is the derivation half of the join
    # (df count + two windows over the full shingle set) and is the
    # SHARED artifact _shingle_ranked_cached — the containment join
    # derives from the same one. The tau-prefix is a trivial filter on
    # the cached frame (shared helper — the family router profiles the
    # same frame).
    # The FILTERED prefix is itself a session-shared artifact (r12: was
    # a per-invocation localCheckpoint — every call re-materialized it;
    # now built once per (corpus, ceiling) and served to the exact,
    # bounded, routed AND ingest forms alike, since the side predicates
    # below filter AFTER the cache). Materializing it at all is the r9
    # finding: both candidate-join sides consume it, and reading the
    # tau-prefix (~2/5 of rows) twice out of the full cached ranked
    # artifact measured +0.5 s at sf0.1 vs a materialized prefix.
    def build_pref() -> DataFrame:
        p = _prefix_postings(spark, sf_dir)
        if df_ceil is not None:
            # df-ceiling on the prefix postings entering the candidate
            # join (symmetric — both sides are this frame). rn/n_sh stay
            # as computed over the FULL order, so a pair is detected iff
            # its RAREST shared shingle has df <= ceiling (hot shingles
            # sort last in the df-ASC order, so the ceiling only
            # truncates the prefix tail) — the bounded-recall semantics
            # the oracle reproduces and neardup_recall_audit's
            # jaccard_bounded arm scores. The exact verify below still
            # counts every shingle.
            p = p.filter(F.col("df") <= df_ceil)
        return p.select("doc_id", "shingle", "n_sh", "rn")

    pref = shared_cache(spark, ("jaccard_tau_prefix", sf_dir, df_ceil), build_pref)
    # PPJoin tightening (Xiao et al. 2008) — two exact-integer predicates
    # on columns the prefix table already carries, applied IN the
    # candidate join so pruned pairs never reach the verify join:
    # - length filter: J >= tau forces tau <= |smaller|/|larger|
    #   (overlap <= min size, union >= max size), i.e.
    #   DEN*least(n_a,n_b) >= NUM*greatest(n_a,n_b);
    # - positional filter: at the FIRST common shingle in the global
    #   (df, shingle) order — which the prefix theorem guarantees lies in
    #   both prefixes — every other common shingle ranks strictly later
    #   in BOTH docs' sorted sets, so the true overlap o is bounded by
    #   ub = 1 + least(n_a - rn_a, n_b - rn_b); J >= tau needs
    #   (NUM+DEN)*o >= NUM*(n_a+n_b), so any qualifying pair's
    #   first-common-shingle occurrence satisfies the predicate and the
    #   per-occurrence filter + distinct() loses no pair. Both bounds
    #   prune near-threshold non-pairs that the plain prefix filter
    #   admits in near-linear volume as the corpus grows (SCALE.md r7
    #   named this query the suite's worst scaler).
    _min_n = F.least(F.col("a.n_sh"), F.col("b.n_sh"))
    _max_n = F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    _ub = 1 + F.least(
        F.col("a.n_sh") - F.col("a.rn"), F.col("b.n_sh") - F.col("b.rn")
    )
    pa = pref.filter(side_a) if side_a is not None else pref
    pb = pref.filter(side_b) if side_b is not None else pref
    pair_pred = (
        F.col("a.doc_id") != F.col("b.doc_id")
        if side_a is not None or side_b is not None
        else F.col("a.doc_id") < F.col("b.doc_id")
    )
    on = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & pair_pred
        & (_PFX_TAU_DEN * _min_n >= _PFX_TAU_NUM * _max_n)
        & (
            (_PFX_TAU_NUM + _PFX_TAU_DEN) * _ub
            >= _PFX_TAU_NUM * (F.col("a.n_sh") + F.col("b.n_sh"))
        )
    )
    return (
        _overlap_counts(ex, pa, pb, on)
        .filter(
            (_PFX_TAU_NUM + _PFX_TAU_DEN) * F.col("n_common")
            >= _PFX_TAU_NUM * (F.col("n_a") + F.col("n_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


# Posting-list ceiling for the bounded Jaccard prefix join — same knob
# (and same value) as the containment family's _CNT_DF_CEIL: shingles
# hotter than this are dropped from the CANDIDATE join's prefix postings
# (never from the exact verify). Semantics: a pair is detected iff
# J >= 3/5 AND its rarest shared shingle has df <= ceiling.
_JAC_DF_CEIL = 64

# DuckDB CTE chain shared by the bounded prefix join, the routed family
# query, and the family-choice audit — through the UNBOUNDED tau-prefix
# (the postings the router profiles) so no oracle can drift from the
# others' definition of "prefix posting".
_DUCK_PREF_CTES = f"""toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-1),
                                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ex GROUP BY 1
    ), dfreq AS (
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1
    ), ranked AS (
      SELECT e.doc_id, e.shingle, s.n_sh, d.df,
             row_number() OVER (PARTITION BY e.doc_id
                                ORDER BY d.df, e.shingle) AS rn
      FROM ex e JOIN sizes s USING (doc_id) JOIN dfreq d USING (shingle)
    ), pref AS (
      SELECT * FROM ranked
      WHERE rn <= n_sh
               - ({_PFX_TAU_NUM}*n_sh + {_PFX_TAU_DEN - 1}) // {_PFX_TAU_DEN}
               + 1
    )"""

# ...continued through the bounded candidate/verify pair table (the
# ceiling applies only to candidate generation; the verify counts the
# FULL sets — identical to the Spark plan's split).
_DUCK_JAC_BOUNDED_CTES = f"""{_DUCK_PREF_CTES}, prefc AS (
      SELECT * FROM pref WHERE df <= {_JAC_DF_CEIL}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefc a JOIN prefc b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.doc_a
      JOIN ex eb ON eb.doc_id = c.doc_b AND eb.shingle = ea.shingle
      GROUP BY 1, 2
    )"""


@query(
    "jaccard_prefix_join_bounded",
    oracle=f"""
    WITH {_DUCK_JAC_BOUNDED_CTES}
    SELECT p.doc_a, p.doc_b, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE {_PFX_TAU_NUM + _PFX_TAU_DEN} * p.n_common
          >= {_PFX_TAU_NUM} * (sa.n_sh + sb.n_sh)
    """,
)
def jaccard_prefix_join_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of :func:`jaccard_prefix_join` (r9 verdict
    task 1): identical symmetric prefix-filter + PPJoin tightening +
    exact-verify plan, with a DF-CEILING of {ceil} documents on the
    prefix postings entering the candidate join — completing the
    bounded-form story for BOTH exact prefix joins (the containment
    twin shipped in r9 as :func:`containment_prefix_join_bounded`).

    Why the exact form needs this knob in-family: SCALE.md round 9
    measured `jaccard_prefix_join` at 249 s / 62x on the sf1 decade —
    on a vocabulary-saturated corpus every shingle's df grows with the
    corpus, so "rare" prefix shingles stop being rare and candidate
    volume goes quadratic. The ceiling caps each prefix shingle's
    contribution at C(ceiling, 2) pairs while the verify still counts
    the FULL sets, so every emitted pair's jaccard is exact; what's
    traded is recall, and only in one measurable way: a true pair is
    missed iff its RAREST shared shingle is hotter than the ceiling
    (hot shingles sort last in the global df-ASC order, so the ceiling
    truncates the prefix tail — if the rarest common shingle is over
    the ceiling, every common shingle is). The
    ``jaccard_bounded`` arm of :func:`neardup_recall_audit` measures
    that trade against the exact form's truth every round, same
    discipline as the containment twin.

    The semantics stay exactly SQL-expressible: the oracle rebuilds the
    ranked table, applies the same prefix + ceiling filters, and hash
    equality proves the Spark plan implements the stated bounded
    semantics (the PPJoin length/positional candidate filters prune
    only pairs the verify gate would reject, by the same first-common-
    occurrence theorem as the exact form — under the ceiling the first
    SURVIVING common shingle is the globally first, since the df-ASC
    order sorts every over-ceiling shingle after every survivor).

    Scale: candidate volume <= sum over surviving prefix shingles of
    C(min(df, ceiling), 2) — linear in surviving postings with a
    constant-bounded quadratic factor; all joins keyed on hash-uniform
    shingle/doc ids. The routing story at 100 TB: this bounded form for
    standing ingest on rare-tail corpora, the exact form for
    contractual-recall passes, band/SNM families on saturated slices —
    with the recall arm making the choice a measured number per corpus.
    """
    return _jaccard_join(spark, sf_dir, df_ceil=_JAC_DF_CEIL)


jaccard_prefix_join_bounded.__doc__ = jaccard_prefix_join_bounded.__doc__.replace(
    "{ceil}", str(_JAC_DF_CEIL)
)


# --- corpus-shape family routing (r10 verdict task 1) -----------------------


@query(
    "neardup_family_audit",
    oracle=f"""
    WITH {_DUCK_PREF_CTES}, hist AS (
      SELECT df, CAST(COUNT(*) AS BIGINT) AS c FROM pref GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CASE WHEN df > {_JAC_DF_CEIL} THEN c END), 0)
                  AS BIGINT) AS over_c
      FROM hist
    ), cum AS (
      SELECT df, SUM(c) OVER (ORDER BY df) AS acc FROM hist
    ), med AS (
      SELECT df FROM cum, tot WHERE acc >= (n + 1) // 2 ORDER BY df LIMIT 1
    )
    SELECT t.n AS n_prefix_postings,
           t.over_c AS over_ceiling,
           CAST((t.over_c * 1000000) // greatest(t.n, 1) AS BIGINT) AS over_ppm,
           CAST(m.df AS BIGINT) AS median_df,
           CAST({_JAC_DF_CEIL} AS BIGINT) AS ceiling,
           CASE WHEN (t.over_c * 1000000) // greatest(t.n, 1)
                     <= {NEARDUP_OVER_PPM_MAX}
                THEN 'bounded_prefix' ELSE 'band' END AS family
    FROM tot t, med m
    """,
)
def neardup_family_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup family router's decision, as an oracle-checked row
    (r10 verdict task 1 — the ``events_join_estimate_driven`` /
    ``choose_agg_salting`` discipline applied to the two-corpus routing
    matrix): profile the tau-prefix postings' df distribution and emit
    the integer arithmetic :func:`imdbmapreduce_spark.stats.
    choose_neardup_family` decides from, plus the decision itself. The
    DuckDB oracle rebuilds the SAME ranked-prefix table and replays the
    arithmetic — truncating divisions, lower median via row position —
    so hash equality proves the routing numbers, not just the row count.

    Why this exists: SCALE.md's round-10 two-corpus matrix measured the
    decision (bounded prefix join = fastest AND recall 1.000 on
    rare-tail corpora; recall 0.068 on vocabulary-saturated ones where
    the band families stay recall-stable) but left a human to read it.
    The profile turns corpus shape into two numbers — the share of
    prefix postings over the df-ceiling (the DIRECT proxy for the
    bounded form's recall loss: a true pair is missed iff its rarest
    shared shingle is over the ceiling) and the lower-median df (the
    reported diagnostic) — and the threshold sits 3+ orders of
    magnitude from both measured regimes (200 ppm zipf vs ~10^6 ppm
    saturated against a 50,000 ppm cut).

    Scale: one groupBy-df histogram over the session-cached ranked
    artifact's prefix; distinct df values number <= sqrt(2·postings)
    (values 1..m alone sum to m(m+1)/2), so the cumulative-sum window
    below runs over an ANALYZE-sized frame, never the corpus.
    Reference analog: the df-ordered generalization of R7's
    set-intersection join (/root/reference/Code/mapReduce.erl:150-153).
    """
    pref = _prefix_postings(spark, sf_dir)
    hist = pref.groupBy(F.col("df").cast("long").alias("df")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = hist.agg(
        F.sum("c").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("df") > _JAC_DF_CEIL, F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("over_c"),
    )
    # Global cumulative window: single-partition by construction, but
    # over the sqrt-bounded histogram, not the postings (see docstring).
    w = Window.orderBy("df").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("acc", F.sum("c").over(w))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("acc") >= F.expr("(n + 1) div 2"))
        .orderBy("df")
        .limit(1)
    )
    ppm = F.expr("(over_c * 1000000) div greatest(n, 1)")
    return med.select(
        F.col("n").alias("n_prefix_postings"),
        F.col("over_c").alias("over_ceiling"),
        ppm.cast("long").alias("over_ppm"),
        F.col("df").cast("long").alias("median_df"),
        F.lit(_JAC_DF_CEIL).cast("long").alias("ceiling"),
        F.when(ppm <= NEARDUP_OVER_PPM_MAX, F.lit("bounded_prefix"))
        .otherwise(F.lit("band"))
        .alias("family"),
    )


def _neardup_routed(spark: SparkSession, sf_dir: str, family: str) -> DataFrame:
    """The dispatch behind :func:`neardup_pairs_routed`, factored over
    the decision so the flip test can force each branch on the same
    corpus. Both branches answer the SAME question — near-dup pairs
    with exact 3-gram Jaccard >= {num}/{den}, gated by the integer
    cross-multiplication (never a float) — they differ only in
    candidate generation: the df-ceiling prefix join vs the MinHash
    band-bucket join (:func:`_minhash_pairs`, the plan
    :func:`minhash_lsh_pairs` runs at its own 1/2)."""
    if family == "bounded_prefix":
        return _jaccard_join(spark, sf_dir, df_ceil=_JAC_DF_CEIL).select(
            "doc_a", "doc_b", "jaccard"
        )
    return _minhash_pairs(spark, sf_dir, _PFX_TAU_NUM, _PFX_TAU_DEN)


_neardup_routed.__doc__ = _neardup_routed.__doc__.format(
    num=_PFX_TAU_NUM, den=_PFX_TAU_DEN
)


@query(
    "neardup_pairs_routed",
    oracle=f"""
    WITH {_DUCK_JAC_BOUNDED_CTES}
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE {_PFX_TAU_NUM + _PFX_TAU_DEN} * p.n_common
          >= {_PFX_TAU_NUM} * (sa.n_sh + sb.n_sh)
    """,
)
def neardup_pairs_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with the candidate FAMILY CHOSEN BY STATISTICS —
    the standing consumer of :func:`imdbmapreduce_spark.stats.
    choose_neardup_family` (r10 verdict task 1): profile the tau-prefix
    postings' df distribution (one ANALYZE-sized histogram over the
    session-cached ranked artifact) and run the bounded prefix join on
    rare-tail corpora, the MinHash band family on saturated ones. The
    same pattern as ``events_salted_type_stats``'s stats-driven
    aggregation shape, applied to the engine's heaviest routing
    decision — three rounds of SCALE.md measurement turned into code.

    The driver's corpora are rare-tail at every sf (over-ceiling share
    = 0 ppm, measured at sf0.001/0.01/0.1), so the oracle replays the
    bounded-prefix branch; the band branch is pinned by the flip test
    (tests/test_dedup.py) which forces both branches on fixture shapes
    and checks the decision flips on a saturated frame. A corpus whose
    statistics route to "band" fails LOUDLY with the profile numbers
    (``stats.assert_routed_family`` — ADVICE r11: a route flip must be
    a diagnosable contract error, never a bare hash mismatch against
    the one registered oracle); the band family stays runnable on such
    corpora through the forced-branch helper and its own registered
    gates.

    Scale: the profile costs one histogram agg per session; both
    branches are the already-measured sub-quadratic plans (SCALE.md
    two-corpus matrix). The decision is made BEFORE either candidate
    join runs — pick the shape from statistics, not by materializing
    the blowup first.
    """
    from imdbmapreduce_spark.stats import (
        assert_routed_family,
        choose_neardup_family,
        df_profile,
    )

    profile = df_profile(_prefix_postings(spark, sf_dir), _JAC_DF_CEIL)
    family = choose_neardup_family(profile)
    assert_routed_family("neardup_pairs_routed", family, "bounded_prefix", profile)
    return _neardup_routed(spark, sf_dir, family)


# --- routed ARRIVAL gate (r11 verdict task 3) -------------------------------


def _jaccard_ingest_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-prefix Jaccard ARRIVAL gate plan: the shared
    :func:`_jaccard_join` with the df-ceiling and the shard/base side
    predicates (candidate generation, PPJoin tightening, and the exact
    full-set verify are ONE definition — the round-12 review folded the
    previous copy back in, so batch and arrival semantics cannot
    fork). df/ranks come from the shared full-corpus ranked artifact —
    the index-snapshot convention every arrival gate here follows.
    Fresh candidate work is proportional to the SHARD's surviving
    prefix postings; output is (new_doc, matched_doc, jaccard) at the
    prefix families' tau."""
    return _jaccard_join(
        spark,
        sf_dir,
        df_ceil=_JAC_DF_CEIL,
        side_a=_is_shard("doc_id"),
        side_b=~_is_shard("doc_id"),
    ).select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("matched_doc"),
        "jaccard",
    )


def _neardup_ingest_by_family(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    """The dispatch behind :func:`neardup_ingest_routed`, factored over
    the decision so the flip test can force each branch. Both branches
    answer the SAME question — arriving-shard documents' near-dup
    matches against the standing base at exact Jaccard >=
    {num}/{den}, integer-gated — differing only in candidate
    generation: the df-ceiling prefix probe vs the MinHash band-bucket
    lookup against the persisted index."""
    if family == "bounded_prefix":
        return _jaccard_ingest_bounded(spark, sf_dir)
    shard = (
        table(spark, sf_dir, "documents")
        .filter(_is_shard("doc_id"))
        .select("doc_id", "text")
    )
    return shard_neardup_lookup(
        spark, sf_dir, shard, tau_num=_PFX_TAU_NUM, tau_den=_PFX_TAU_DEN
    )


_neardup_ingest_by_family.__doc__ = _neardup_ingest_by_family.__doc__.format(
    num=_PFX_TAU_NUM, den=_PFX_TAU_DEN
)


@query(
    "neardup_ingest_routed",
    oracle=f"""
    WITH {_DUCK_PREF_CTES}, prefc AS (
      SELECT * FROM pref WHERE df <= {_JAC_DF_CEIL}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS matched_doc
      FROM prefc a JOIN prefc b ON a.shingle = b.shingle
      WHERE a.doc_id % {_SHARD_MOD} = {_SHARD_RESIDUE}
        AND b.doc_id % {_SHARD_MOD} <> {_SHARD_RESIDUE}
    ), pairs AS (
      SELECT c.new_doc, c.matched_doc, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.new_doc
      JOIN ex eb ON eb.doc_id = c.matched_doc AND eb.shingle = ea.shingle
      GROUP BY 1, 2
    )
    SELECT p.new_doc, p.matched_doc,
           CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.new_doc = sa.doc_id
    JOIN sizes sb ON p.matched_doc = sb.doc_id
    WHERE {_PFX_TAU_NUM + _PFX_TAU_DEN} * p.n_common
          >= {_PFX_TAU_NUM} * (sa.n_sh + sb.n_sh)
    """,
)
def neardup_ingest_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ARRIVAL twin of :func:`neardup_pairs_routed` (r11 verdict
    task 3 — the router pushed one seam deeper): a production ingest
    loop should not hard-code WHICH family's gate screens today's
    delivery; it should consult the standing corpus's statistics. This
    query profiles the BASE corpus's tau-prefix postings (the arriving
    shard is excluded — the routing decision must depend only on what
    the deployment already knows before the delivery lands; df values
    are the shared index snapshot's, like every gate here) and
    dispatches: bounded-prefix probe on rare-tail corpora, MinHash
    band-bucket lookup (verified at the same integer tau) on saturated
    ones.

    The driver's corpora are rare-tail at every sf, so the registered
    oracle replays the bounded-prefix probe — the EXACT batch bounded
    semantics restricted to shard-vs-base pairs; a corpus routing to
    "band" fails loudly with the profile numbers
    (``stats.assert_routed_family``), same contract as the batch
    router. The flip test forces both branches and pins the decision
    flip on a saturated frame.

    Scale: the profile is one ANALYZE-sized histogram over the base
    postings of the session-cached ranked artifact; fresh per-delivery
    work in the routed branch is shard-proportional either way
    (surviving shard prefix postings, or shard shingle + 64-min
    aggregation). Reference analog: the arrival-time ingest path,
    /root/reference/Code/dataToServers.erl:28-53, with the family
    choice made by statistics instead of configuration.
    """
    from imdbmapreduce_spark.stats import (
        assert_routed_family,
        choose_neardup_family,
        df_profile,
    )

    base_pref = _prefix_postings(spark, sf_dir).filter(~_is_shard("doc_id"))
    profile = df_profile(base_pref, _JAC_DF_CEIL)
    family = choose_neardup_family(profile)
    assert_routed_family("neardup_ingest_routed", family, "bounded_prefix", profile)
    return _neardup_ingest_by_family(spark, sf_dir, family)


# --- near-dup gate recall scoreboard ---------------------------------------


def _hamming_truth_chunk16(members: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Independent exact-Hamming ground truth for the recall audit: 4
    disjoint 16-bit chunks of the 64-bit fingerprint; a pair within
    Hamming distance 3 leaves >= 1 chunk intact (pigeonhole over 4
    chunks), so joining on equal (chunk, value) is COMPLETE for d <= 3.
    Same theorem as :func:`hamming_pairs`' 20-table 3-of-6 scheme but
    over a different decomposition sharing none of its constants
    (``_simhash_tables`` / ``_BLOCK_WIDTHS``), so a bug there cannot
    also hide in the truth side. Returns ordered (doc_a, doc_b).
    """
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y, (F.col("x.fp") == F.col("y.fp")) & (F.col("x.doc_id") < F.col("y.doc_id"))
    ).select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    dfp = members.select("fp").distinct()
    chunks = dfp.select(
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("tbl"),
                        F.shiftright("fp", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .cast("long")
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("fp", F.col("c.tbl").alias("tbl"), F.col("c.key").alias("key"))
    a, b = chunks.alias("a"), chunks.alias("b")
    fp_pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.fp") < F.col("b.fp")),
        )
        .select(
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["fp_a", "fp_b"])
    )
    cross = (
        fp_pairs.join(
            members.select(F.col("fp").alias("fp_a"), F.col("doc_id").alias("id_a")),
            "fp_a",
        )
        .join(
            members.select(F.col("fp").alias("fp_b"), F.col("doc_id").alias("id_b")),
            "fp_b",
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
    )
    return intra.unionByName(cross)


# Recall floors the scoreboard asserts per family (and pytest pins —
# tests/test_dedup.py::test_neardup_recall_audit_floors). The SimHash
# arms audit against the pigeonhole-COMPLETE chunk16 truth, so any
# recall below 1.0 is an implementation bug, not tuning drift; the
# MinHash arms are probabilistic (16 bands x 4 rows: a J=0.6 pair
# misses all bands with p ~= 0.11), so their floor carries margin
# below the currently-measured 1.0. The embedding arms are
# OBSERVABILITY rows tracking the SemDeDup cluster-recall boundary vs
# the exact all-pairs cosine truth: on this synthetic corpus (random
# unit vectors, theta=0.45 — the distribution tail) near-dup pairs
# barely co-locate under ANY Voronoi layout, so measured recall is
# structurally low (0.18-0.57 across sfs; a real corpus dedups at
# cos 0.9+, where near-identical vectors share a cell with
# probability -> 1). Their CORRECTNESS contract is the same-cell-subset
# identity / batch-restriction pin in tests, not these floors.
_NEARDUP_RECALL_FLOORS = {
    "minhash_lsh": 0.9,
    "minhash_incremental": 0.9,
    "simhash_hamming": 1.0,
    "simhash_incremental": 1.0,
    "embedding_cells": 0.1,
    "embedding_incremental": 0.0,
    # bounded containment (df-ceiling on candidate postings) vs the
    # exact containment join's truth: measured 1.0 at sf0.001/0.01/0.1
    # (every true pair's rarest shared shingle sits under the ceiling),
    # floor carries margin for corpus drift. The sf1 decade (SCALE.md
    # round 9) measured the saturation pathology directly: at 10x this
    # corpus every shingle's df is ~90±spread, the ceiling prunes 99.8%
    # of postings, cost goes flat (455 s -> 3.7 s) and recall collapses
    # to 0.07 — on a slice that saturated, the band-family gates (flat
    # AND recall-stable, same table) are the right tool; the ceiling is
    # for corpora with a genuine rare tail. The audit row is what makes
    # that decision a measured number per corpus.
    "containment_bounded": 0.9,
    # bounded Jaccard prefix join (df-ceiling on prefix postings) vs
    # the exact prefix join's truth — same knob, same discipline as
    # containment_bounded: measured 1.0 at sf0.001/0.01/0.1 (every true
    # pair's rarest shared shingle sits under the ceiling on the
    # rare-tail end of this corpus); expected to collapse with the
    # containment arm on vocabulary-saturated slices, which is what the
    # row is FOR (routing is a per-corpus measured number).
    "jaccard_bounded": 0.9,
    # bounded containment arrival gate (ceiling + shard predicates) vs
    # the exact containment truth restricted to one-endpoint-in-shard
    # pairs — the production ingest loop's recall number (r9 verdict
    # task 2): the unbounded gate measured 21.7x at sf1, so the
    # standing loop runs THIS form, and this row prices it.
    "containment_bounded_incremental": 0.9,
    # multi-pass SNM window (w=8, canonical-key sort + its reverse) vs
    # the exact shingle-Jaccard truth — blocking recall, see the arm
    # comment. Measured 0.964 / 0.960 / 0.812 at sf0.001/0.01/0.1
    # (single-pass was 0.75/0.56/0.23 — the second key is what holds
    # recall up as the corpus grows); floor carries margin under 0.81.
    "snm_window": 0.75,
    # the SNM arrival gate's blocking window vs the exact-Jaccard truth
    # restricted to one-endpoint-in-shard pairs (same floor family as
    # snm_window — the gate IS the batch restriction, pinned in tests,
    # so its blocking recall tracks the batch arm's).
    "snm_incremental": 0.75,
    # embedding SNM window vs the exact all-pairs cosine truth — a REAL
    # floor since the r10 retune (8 passes x w=16; the r9 2x8 point
    # measured 0.0): 0.571 / 0.786 measured at sf0.001 / sf0.01. The
    # same sweep measured fixed-window recall DECAYING with corpus size
    # (0.153 at sf0.1's 2000 vectors — a theta=0.45 pair's rank gap
    # grows with n on random vectors), so the floor is pinned at the
    # fixture sfs and SCALE.md carries the decay curve as the family's
    # documented boundary: embedding-cells is the tool past ~1k
    # tail-distribution vectors.
    "snm_embedding_window": 0.5,
}


@query("neardup_recall_audit", bench=False)  # rows-only (xxhash band
# families on every gate side); bench=False: the audit re-executes four
# queries the sweep already times — keeping it in would double-count
def neardup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall scoreboard for the band-family near-dup gates — the
    text-dedup twin of :func:`~imdbmapreduce_spark.operators.similarity.
    ann_recall_audit`: every gate re-scored against an EXACT truth each
    round, so band-family drift lands in the driver row instead of only
    in frozen pytest pins.

    One row per family: MinHash LSH (batch + incremental arrival gate)
    vs the cap-free exact-Jaccard>=0.6 pair set from
    :func:`jaccard_prefix_join` (the in-Spark equivalent of the DuckDB
    ``_DUCK_JAC_CTES`` truth), and SimHash (batch + incremental) vs an
    INDEPENDENT pigeonhole-complete Hamming<=3 truth
    (:func:`_hamming_truth_chunk16` — different block decomposition, no
    shared constants). Incremental arms restrict the truth to pairs with
    exactly one endpoint in the standing shard (their reachable set).
    The two embedding arms track the SemDeDup cluster-recall boundary
    vs the exact all-pairs cosine truth (see the floors comment — on
    this corpus that recall is structurally low; the rows exist so the
    boundary is a measured per-round number, not prose). The
    containment_bounded arm (r9) scores the df-ceiling variant
    :func:`containment_prefix_join_bounded` against the exact
    :func:`containment_prefix_join` truth — the bounded-recall knob's
    cost, measured per round.
    Columns: family, n_true, n_gate, n_hits, recall, floor, floor_ok —
    floor_ok is deterministic (fixed hashes + fixed data), so a band
    regression flips a committed boolean.

    Scale: each arm is its own query's cost (all index-served after
    persist); truth/gate sets are near-dup-volume-sized, checkpointed
    once so the per-arm tagged union never replays their lineage.
    """
    from imdbmapreduce_spark.operators.similarity import (
        embedding_incremental_ingest,
        neardup_embedding_cells,
        neardup_embedding_cosine,
        snm_embedding_candidates,
    )

    jac_truth = stable_checkpoint(
        jaccard_prefix_join(spark, sf_dir).select("doc_a", "doc_b")
    )
    ham_truth = stable_checkpoint(
        _hamming_truth_chunk16(_simhash_fp_cached(spark, sf_dir))
    )
    cnt_truth = stable_checkpoint(
        containment_prefix_join(spark, sf_dir).select("doc_a", "doc_b")
    )
    emb_truth = stable_checkpoint(
        neardup_embedding_cosine(spark, sf_dir).select(
            F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
        )
    )
    one_end_shard = _is_shard("doc_a") != _is_shard("doc_b")  # boolean XOR

    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least("new_doc", "matched_doc").alias("doc_a"),
            F.greatest("new_doc", "matched_doc").alias("doc_b"),
        )

    arms = [
        (
            "minhash_lsh",
            minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"),
            jac_truth,
        ),
        (
            "minhash_incremental",
            norm(neardup_incremental_ingest(spark, sf_dir)),
            jac_truth.filter(one_end_shard),
        ),
        (
            "simhash_hamming",
            simhash_pairs(spark, sf_dir).select("doc_a", "doc_b"),
            ham_truth,
        ),
        (
            "simhash_incremental",
            norm(simhash_incremental_ingest(spark, sf_dir)),
            ham_truth.filter(one_end_shard),
        ),
        (
            "embedding_cells",
            neardup_embedding_cells(spark, sf_dir).select(
                F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
            ),
            emb_truth,
        ),
        (
            "embedding_incremental",
            embedding_incremental_ingest(spark, sf_dir).select(
                F.least("new_vec", "matched_vec").alias("doc_a"),
                F.greatest("new_vec", "matched_vec").alias("doc_b"),
            ),
            emb_truth.filter(one_end_shard),
        ),
        # Bounded-form arms: df-ceiling variants scored against their
        # exact twins' truth. Jaccard pairs are id-normalized on both
        # sides; containment pairs are ORDERED (doc_a = contained).
        (
            "jaccard_bounded",
            jaccard_prefix_join_bounded(spark, sf_dir).select("doc_a", "doc_b"),
            jac_truth,
        ),
        (
            "containment_bounded",
            containment_prefix_join_bounded(spark, sf_dir).select("doc_a", "doc_b"),
            cnt_truth,
        ),
        # The bounded arrival gate vs the exact containment truth
        # restricted to its reachable set (one endpoint in the shard) —
        # prices the production ingest loop's recall, not just the
        # batch form's.
        (
            "containment_bounded_incremental",
            containment_incremental_ingest_bounded(spark, sf_dir).select(
                "doc_a", "doc_b"
            ),
            cnt_truth.filter(one_end_shard),
        ),
        # Blocking recall of the multi-pass SNM window (r9): fraction of
        # the exact shingle-Jaccard truth that lands within w ranks of
        # EITHER sort key — the classic sorted-neighborhood evaluation
        # (truth defined independently of the blocker). Scores the
        # CANDIDATE window, not the verified output: the question is
        # "does sort order co-locate true matches", the verify threshold
        # is a separate (exact) stage. Candidates are already
        # id-normalized (doc_a < doc_b), matching the truth's order.
        (
            "snm_window",
            _snm_candidates(spark, sf_dir).select("doc_a", "doc_b"),
            jac_truth,
        ),
        # the arrival gate's reachable slice of the same window
        (
            "snm_incremental",
            _snm_candidates(spark, sf_dir)
            .select("doc_a", "doc_b")
            .filter(one_end_shard),
            jac_truth.filter(one_end_shard),
        ),
        # Blocking recall of the embedding SNM window vs the exact
        # all-pairs cosine truth (same truth as the embedding_cells
        # arm): like those arms, structurally low on this random-vector
        # corpus — the row exists so the projection-adjacency boundary
        # is a measured per-round number, not prose.
        (
            "snm_embedding_window",
            snm_embedding_candidates(spark, sf_dir),
            emb_truth,
        ),
    ]
    parts = []
    for name, gate, truth in arms:
        gate = stable_checkpoint(gate.dropDuplicates(["doc_a", "doc_b"]))
        hits = truth.join(gate, ["doc_a", "doc_b"]).select("doc_a", "doc_b")
        for kind, df in (("n_true", truth), ("n_gate", gate), ("n_hits", hits)):
            parts.append(
                df.select(F.lit(name).alias("family"), F.lit(kind).alias("kind"))
            )
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    counts = tagged.groupBy("family").agg(
        *[
            F.sum(F.when(F.col("kind") == k, 1).otherwise(0))
            .cast("long")
            .alias(k)
            for k in ("n_true", "n_gate", "n_hits")
        ]
    )
    floors = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(_NEARDUP_RECALL_FLOORS.items())],
        "family string, floor double",
    )
    recall = F.col("n_hits").cast("double") / F.greatest(F.col("n_true"), F.lit(1))
    return (
        counts.join(F.broadcast(floors), "family")
        .select(
            "family",
            "n_true",
            "n_gate",
            "n_hits",
            recall.alias("recall"),
            "floor",
            ((F.col("n_true") == 0) | (recall >= F.col("floor"))).alias("floor_ok"),
        )
        .orderBy("family")
    )


# --- exact-substring duplicate spans (ExactSubstr-style dedup) -------------

# Window width in tokens: any W-token sequence occurring more than once
# in the corpus marks its covering tokens as duplicated (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better" — the
# suffix-array ExactSubstr criterion, realized at token-window
# granularity so it distributes).
_XS_W = 10


# The span derivation as a reusable DuckDB CTE chain — consumed by the
# span view's oracle AND the scrub transform's oracle below. Ends at
# `spans` (doc_id, span_start, span_end, n_windows, span_tokens).
_XS_SPAN_CTES = f"""toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), wins AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(t[i:i+{_XS_W - 1}], ' ')) AS h
      FROM (SELECT doc_id, t,
                   unnest(range(1, len(t) - {_XS_W} + 2)) AS i
            FROM toks)
    ), dup_h AS (
      SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2
    ), dupw AS (
      SELECT w.doc_id, w.pos FROM wins w JOIN dup_h USING (h)
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_XS_W} THEN 0 ELSE 1 END AS new_island
      FROM dupw
    ), islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), spans AS (
      SELECT doc_id,
             CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) + {_XS_W} - 1 AS BIGINT) AS span_end,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(MAX(pos) + {_XS_W} - MIN(pos) AS BIGINT) AS span_tokens
      FROM islands
      GROUP BY doc_id, island
    )"""


@query(
    "exact_substr_spans",
    oracle=f"""
    WITH {_XS_SPAN_CTES}
    SELECT doc_id, span_start, span_end, n_windows, span_tokens FROM spans
    """,
)
def exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans: every maximal token range covered
    by a {_XS_W}-token window that occurs MORE THAN ONCE in the corpus —
    the distributable form of Lee et al. 2022's ExactSubstr dedup (their
    suffix array finds repeated substrings; a rolling window of width W
    finds every repeat of length >= W, at the cost of W-1 boundary
    tokens). Downstream curation CUTS these spans (not whole documents)
    — the surgical counterpart to the document-level dedup family above.

    Pipeline: rolling windows via per-doc ``lead`` (the codegen shingle
    shape of :func:`_shingle_rows` — NOT a higher-order transform, which
    evaluates interpreted per element); md5 per window so the repeat
    join shuffles 16-byte digests, never text; repeated digests =
    global count >= 2 (catches within-doc repeats too); per-doc
    gaps-and-islands merge (windows whose starts differ by <= W overlap
    or touch) yields maximal spans.

    Determinism: positions are exact integers; island boundaries are
    integer comparisons; md5 is bit-identical in both engines. (The
    md5-collision false-positive probability at 100 TB window counts is
    ~2^-70 — the standard fingerprint-dedup trade, stated not hidden.)

    Scale: windows are |tokens| slim rows; the digest count is one
    map-side-combinable aggregation; the dup join keys on the digest
    (uniform); island merging shuffles only DUPLICATED window positions
    on doc_id. No step holds a document's text after the digest pass.
    Next to the suffix array a single box would build, every stage here
    is an exchange Spark already load-balances.
    """
    return _xs_span_rows(spark, sf_dir)


def _xs_windows_of(docs: DataFrame) -> DataFrame:
    """Rolling {_XS_W}-token window digests for any (doc_id, text) frame
    — (doc_id, pos, h) rows. Factored so the arrival gate fingerprints
    ONLY the arriving shard (windowing is per-doc, so it composes over
    any row subset)."""
    pos_toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos0")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, _XS_W)]
    return (
        pos_toks.select(
            "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok", *leads
        )
        .filter(F.col(f"t{_XS_W - 1}").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, _XS_W)])
            ).alias("h"),
        )
    )


def _xs_islands_to_spans(dupw: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of flagged window positions into maximal
    spans — the shared tail of the batch span pipeline and the arrival
    gate (windows whose starts differ by <= W overlap or touch)."""
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dupw.withColumn(
        "new_island",
        F.when(F.col("pos") - F.lag("pos").over(wlag) <= _XS_W, 0).otherwise(1),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + _XS_W - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            (F.max("pos") + _XS_W - F.min("pos")).cast("long").alias("span_tokens"),
        )
        .drop("island")
    )


def _xs_span_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maximal duplicate-span rows (doc_id, span_start, span_end,
    n_windows, span_tokens) — session-shared: the span view above and
    the scrub transform below both consume it in one sweep, and the
    windows/digest-count/island pipeline is the expensive part."""

    def build() -> DataFrame:
        docs = parallelize_scan(table(spark, sf_dir, "documents"))
        wins = _xs_windows_of(docs)
        dup_h = (
            wins.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
        )
        dupw = wins.join(dup_h.select("h"), "h", "left_semi").select("doc_id", "pos")
        return _xs_islands_to_spans(dupw)

    return shared_cache(spark, ("xs_spans", sf_dir, _XS_W), build)


@query(
    "exact_substr_scrub",
    oracle=f"""
    WITH {_XS_SPAN_CTES}, covered AS (
      SELECT DISTINCT doc_id, CAST(unnest(range(span_start, span_end + 1))
                                   AS BIGINT) AS pos
      FROM spans
    ), postoks AS (
      SELECT doc_id, CAST(generate_subscripts(t, 1) AS BIGINT) AS pos,
             unnest(t) AS tok
      FROM toks
    ), kept AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM postoks p LEFT JOIN covered c
        ON p.doc_id = c.doc_id AND p.pos = c.pos
      WHERE c.pos IS NULL
    ), cleaned AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS txt
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           COALESCE(c.n_kept, 0) AS n_kept,
           CAST(len(t.t) AS BIGINT) - COALESCE(c.n_kept, 0) AS n_cut,
           CAST(length(COALESCE(c.txt, '')) AS BIGINT) AS cleaned_len,
           md5(COALESCE(c.txt, '')) AS cleaned_md5
    FROM toks t LEFT JOIN cleaned c USING (doc_id)
    """,
)
def exact_substr_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup's actual deliverable (Lee et al. 2022): REMOVE
    the duplicate spans :func:`exact_substr_spans` finds and re-emit the
    cleaned corpus — per document, the kept-token count, the cut-token
    count, and the cleaned text certified as (length, md5) so the oracle
    hash check covers the full reconstruction, not just bookkeeping.

    Policy: every flagged occurrence is cut (the conservative variant —
    boilerplate and licence blocks should vanish everywhere); a
    keep-first-occurrence variant is a policy choice on top of the same
    span set, not a different algorithm.

    Plan: span rows come from the shared session artifact (one
    windows/digest/island pipeline per sweep, amortized with the span
    view); covered positions explode via ``sequence`` (bounded by total
    duplicated tokens, o(corpus)); the cut is one left-anti join on
    (doc_id, pos); reconstruction sorts each doc's kept (pos, tok)
    structs map-side — no window, no second shuffle beyond the doc_id
    agg. Docs with nothing kept (or no tokens) surface with empty text,
    never dropped.

    Scale: at 100 TB the anti-join keys on (doc_id, pos) — perfectly
    uniform; reconstruction state per doc is its own kept tokens
    (bounded by doc length, the same bound any per-doc op has). The
    text round-trips through exactly one groupBy — the corpus is
    re-emitted, not re-scanned per span.
    """
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    spans = _xs_span_rows(spark, sf_dir)
    covered = spans.select(
        "doc_id", F.explode(F.sequence("span_start", "span_end")).alias("pos")
    ).distinct()
    pos_toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    kept = pos_toks.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("txt"),
    )
    base = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    txt = F.coalesce(F.col("txt"), F.lit(""))
    return base.join(cleaned, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_cut"),
        F.length(txt).cast("long").alias("cleaned_len"),
        F.md5(txt).alias("cleaned_md5"),
    )


# --- corpus-growth novelty rate --------------------------------------------


@query(
    "doc_novelty_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t)-1),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
      FROM toks WHERE len(t) >= 3
    ), firsts AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sh,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty
    FROM sh s JOIN firsts f USING (shingle)
    GROUP BY s.doc_id
    """,
)
def doc_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty under ingestion order: the fraction of a
    document's 3-gram shingles whose FIRST corpus occurrence (min
    doc_id — doc_id is ingestion order in this corpus) is the document
    itself. The curve of this rate over doc_id is how a growing corpus
    measures diminishing returns — when marginal novelty decays, new
    data is mostly re-crawl, and dedup/acquisition budgets should move
    (the corpus-growth twin of :func:`exact_substr_spans`' span view).

    Determinism: counts are exact integers over the distinct-shingle
    set; novelty is one exact-int division.

    Scale: one shuffle keys shingle occurrences by shingle for the
    min-doc aggregate (map-side combinable), one join carries
    (shingle -> first_doc) back to occurrences on the same key — no
    re-shuffle under AQE — and the per-doc rollup shuffles slim
    (doc_id, flags) rows. Nothing is quadratic; hot shingles cost their
    occurrence count, never pairs.
    """
    ex = _shingle_rows_cached(spark, sf_dir)
    firsts = ex.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    joined = ex.join(firsts, "shingle")
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh"),
        F.sum(novel).cast("long").alias("n_novel"),
        (F.sum(novel).cast("double") / F.count(F.lit(1))).alias("novelty"),
    )


# --- cross-source overlap matrix -------------------------------------------


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(t)-1),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
      FROM toks WHERE len(t) >= 3
    ), per_src AS (
      SELECT shingle, source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM sh GROUP BY 1, 2
    ), pairs AS (
      SELECT a.shingle, a.source AS source_a, b.source AS source_b,
             CASE WHEN a.source = b.source
                  THEN a.n_docs * (a.n_docs - 1) / 2
                  ELSE a.n_docs * b.n_docs END AS doc_pairs
      FROM per_src a JOIN per_src b
        ON a.shingle = b.shingle AND a.source <= b.source
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles,
           CAST(SUM(doc_pairs) AS BIGINT) AS n_doc_pairs
    FROM pairs
    WHERE doc_pairs > 0
    GROUP BY 1, 2
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every (ordered) source
    pair, how many distinct 3-gram shingles both sources contain, and
    how many cross-source document pairs share one — the audit a
    multi-source corpus runs BEFORE mixing (a hot off-diagonal cell
    means two "independent" sources are re-crawls of each other, and
    the mixture's effective diversity is lower than its weights claim).
    The diagonal counts within-source duplication pressure
    (C(n_docs, 2) per shingle).

    Scale shape — the matrix comes from a SUFFICIENT STATISTIC, not a
    document join: one aggregate reduces occurrences to (shingle,
    source, n_docs) — at most |sources| rows per shingle — and the
    pair step self-joins THAT table on the shingle key with fan-out
    <= |sources|^2 (here <= 25), never C(docs, 2). Hot shingles cost
    |sources|^2 rows regardless of how many documents carry them.

    Determinism: pure integer counts; n_docs*(n_docs-1)/2 is exact
    (the product of consecutive integers is even).
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    ex = _shingle_rows_cached(spark, sf_dir).join(docs, "doc_id")
    per_src = ex.groupBy("shingle", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    # r13 (guide §2.4, the adamic_adar_parts shape): ONE
    # groupBy(shingle) collects the per-shingle (source, n_docs) rows —
    # at most |sources| structs per shingle — as a sorted array; the
    # ordered source pairs (diagonal included: slice starts AT i, so
    # a <= b) then explode map-side from that array. Removes the
    # shingle-keyed self-join and its duplicated per_src lineage
    # (plans/r13/source_overlap_matrix_{before,after}.txt); fan-out per
    # shingle stays <= |sources|², never C(docs, 2).
    per_sh = per_src.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("source"), F.col("n_docs")))
        ).alias("ss")
    )
    pairs = (
        per_sh.select(F.posexplode("ss").alias("i", "a"), F.col("ss"))
        .select(
            "a",
            F.explode(F.slice("ss", F.col("i") + F.lit(1), F.size("ss"))).alias(
                "b"
            ),
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.when(
                F.col("a.source") == F.col("b.source"),
                (F.col("a.n_docs") * (F.col("a.n_docs") - 1)).cast("long") / 2,
            )
            .otherwise(F.col("a.n_docs") * F.col("b.n_docs"))
            .cast("long")
            .alias("doc_pairs"),
        )
        .filter(F.col("doc_pairs") > 0)
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_shingles"),
        F.sum("doc_pairs").cast("long").alias("n_doc_pairs"),
    )


# --- asymmetric containment join (near-subset detection) -------------------

# Containment threshold as an exact rational: C(a→b) = o/|a| >= 4/5
# <=> 5*o >= 4*n_a. Containment catches what Jaccard can't: a short doc
# quoted inside a long one has high containment but low Jaccard (the
# union is dominated by the long side).
_CNT_TAU_NUM, _CNT_TAU_DEN = 4, 5


@query(
    "containment_prefix_join",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {{toks}} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-1),
                                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ex GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(p.n_common AS DOUBLE) / sa.n_sh AS containment
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE {_CNT_TAU_DEN} * p.n_common >= {_CNT_TAU_NUM} * sa.n_sh
    """.format(toks=_DUCK_TOKS),
)
def containment_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT join: ordered pairs (a, b) where
    C(a→b) = |shingles(a) ∩ shingles(b)| / |shingles(a)| >= 0.8 — the
    near-SUBSET detector (SSJoin family, Chaudhuri et al. 2006).
    Jaccard misses exactly these: a paragraph quoted inside a 100×
    longer page has containment ≈ 1 but Jaccard ≈ |a|/|b| ≈ 0.01, and
    quote-inclusion is a dominant duplication mode in web corpora. The
    set-level cousin of :func:`exact_substr_spans` (which needs
    verbatim runs; containment survives light edits).

    Candidate generation is an ASYMMETRIC prefix filter: the overlap
    bound o >= tau·|a| constrains only the CONTAINED side, so a's
    prefix (rarest |a| − ceil(tau·|a|) + 1 shingles in the global
    df-ASC order) joins the FULL ranked shingle table on the container
    side; completeness needs no b-side prefix. Both sides come from
    :func:`_shingle_ranked_cached` — the SAME session-cached ranked
    artifact :func:`jaccard_prefix_join` filters its symmetric prefix
    from, so the df count and windows are paid once per session.
    Verification counts the exact overlap over full sets and gates on
    integers (5·o >= 4·n_a) — the oracle is the naive all-shingle
    theta join, so hash equality IS the asymmetric filter's
    completeness theorem under test.

    Scale: candidate volume = Σ over a-prefix shingles of their df —
    linear in the full posting lists of RARE shingles only (hot
    boilerplate sorts out of every prefix); the verify join keys on doc
    ids. The b-side has no prefix to save it, which is the known cost
    of containment joins: on vocabulary-saturated corpora (logs,
    licenses — and this synthetic one) every "rare" shingle's df grows
    with the corpus and candidates blow up (SCALE.md r8: 340 candidates
    per true pair at sf0.1). The production knob is
    :func:`containment_prefix_join_bounded` — a df-ceiling on the
    postings entering the candidate join, recall scored every round by
    :func:`neardup_recall_audit`; this exact form is the backstop and
    the truth the bounded one is measured against.
    """
    return _containment_join(spark, sf_dir)


def _containment_join(
    spark: SparkSession,
    sf_dir: str,
    df_ceil: int | None = None,
    contained_where=None,
    container_where=None,
) -> DataFrame:
    """Shared containment-join plan behind :func:`containment_prefix_join`
    (df_ceil=None — exact), :func:`containment_prefix_join_bounded`
    (df_ceil set — posting-list ceiling, bounded recall), and
    :func:`shard_containment_lookup` (side predicates — arrival gate).
    ``contained_where``/``container_where`` are optional Column
    predicates over doc_id restricting the respective join sides."""
    ex = _shingle_rows_cached(spark, sf_dir)  # distinct (doc_id, shingle)
    # The shared ranked artifact: every shingle with its per-doc rank in
    # the global (df, shingle) order + the doc's set size — the
    # container side indexes all of it (no b-prefix exists for
    # containment), the contained side filters its prefix from it.
    ranked = _shingle_ranked_cached(spark, sf_dir)
    if df_ceil is not None:
        # df-ceiling on the posting lists entering the candidate join
        # (BOTH sides — same shingle, same df; the prefix below derives
        # from the ceiled frame, so the optimizer prunes each scan).
        # rn/n_sh stay as computed over the FULL order, so a pair is
        # detected iff its RAREST shared shingle has df <= ceiling — the
        # bounded-recall semantics the oracle reproduces and
        # neardup_recall_audit scores.
        ranked = ranked.filter(F.col("df") <= df_ceil)
    pref = ranked.filter(
        F.col("rn")
        <= F.col("n_sh")
        - F.expr(f"({_CNT_TAU_NUM}*n_sh + {_CNT_TAU_DEN - 1}) div {_CNT_TAU_DEN}")
        + 1
    ).select("doc_id", "shingle", "n_sh", "rn")
    ranked = ranked.select("doc_id", "shingle", "n_sh", "rn")
    if contained_where is not None:
        pref = pref.filter(contained_where)
    if container_where is not None:
        ranked = ranked.filter(container_where)
    # Candidate-time tightening (exact, zero recall loss — hash equality
    # vs the naive oracle is the proof). At the FIRST common shingle in
    # the global order (guaranteed inside a's prefix), the remaining
    # overlap is bounded on BOTH sides, and o <= n_b outright:
    # - length filter: o >= ceil(tau*n_a) needs 5*n_b >= 4*n_a;
    # - positional filter: o <= 1 + least(n_a - rn_a, n_b - rn_b), so
    #   5*(1 + least(...)) >= 4*n_a must hold at that occurrence.
    # Non-first occurrences may be pruned freely — distinct() keeps any
    # pair whose first-common occurrence survives.
    _ub = 1 + F.least(
        F.col("a.n_sh") - F.col("a.rn"), F.col("b.n_sh") - F.col("b.rn")
    )
    on = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") != F.col("b.doc_id"))
        & (_CNT_TAU_DEN * F.col("b.n_sh") >= _CNT_TAU_NUM * F.col("a.n_sh"))
        & (_CNT_TAU_DEN * _ub >= _CNT_TAU_NUM * F.col("a.n_sh"))
    )
    return (
        _overlap_counts(ex, pref, ranked, on)
        .filter(_CNT_TAU_DEN * F.col("n_common") >= _CNT_TAU_NUM * F.col("n_a"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            (F.col("n_common").cast("double") / F.col("n_a")).alias("containment"),
        )
    )


# Posting-list ceiling for the bounded containment join: shingles seen in
# more than this many documents are dropped from the CANDIDATE join's
# posting lists (never from the exact verify). Semantics: a pair is
# detected iff its RAREST shared shingle has df <= ceiling — bounded
# recall, scored every round by neardup_recall_audit's
# containment_bounded arm against the exact form's truth.
_CNT_DF_CEIL = 64


@query(
    "containment_prefix_join_bounded",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-1),
                                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ex GROUP BY 1
    ), dfreq AS (
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1
    ), ranked AS (
      SELECT e.doc_id, e.shingle, s.n_sh, d.df,
             row_number() OVER (PARTITION BY e.doc_id
                                ORDER BY d.df, e.shingle) AS rn
      FROM ex e JOIN sizes s USING (doc_id) JOIN dfreq d USING (shingle)
    ), pref AS (
      SELECT * FROM ranked
      WHERE rn <= n_sh
               - ({_CNT_TAU_NUM}*n_sh + {_CNT_TAU_DEN - 1}) // {_CNT_TAU_DEN}
               + 1
        AND df <= {_CNT_DF_CEIL}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN ranked b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
           AND b.df <= {_CNT_DF_CEIL}
    ), pairs AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.doc_a
      JOIN ex eb ON eb.doc_id = c.doc_b AND eb.shingle = ea.shingle
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(p.n_common AS DOUBLE) / sa.n_sh AS containment
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE {_CNT_TAU_DEN} * p.n_common >= {_CNT_TAU_NUM} * sa.n_sh
    """,
)
def containment_prefix_join_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of :func:`containment_prefix_join`: identical
    asymmetric prefix-filter + exact-verify plan, with a DF-CEILING of
    {ceil} documents on every posting list entering the candidate join —
    the bounded-recall knob the exact form's docstring names, now
    implemented (r8 verdict task 1).

    Why a ceiling works: posting lists longer than the ceiling belong to
    boilerplate shingles, and the candidate volume a shingle contributes
    is |prefix postings| x |full postings| — superlinear in df. Dropping
    hot shingles from the CANDIDATE join (the verify still counts them
    in the exact overlap) caps each shingle's contribution at ceiling²
    while losing exactly the pairs whose RAREST shared shingle is hot —
    on a real web corpus, pairs sharing only boilerplate, i.e. mostly
    false positives anyway. On this vocabulary-saturated synthetic
    corpus the ceiling is a real recall trade (the rare tail is thin),
    which is precisely what the containment_bounded arm of
    :func:`neardup_recall_audit` measures every round instead of
    asserting away.

    The semantics stay exactly SQL-expressible (no hash family): the
    oracle rebuilds the same ranked table, applies the same ceiling, and
    hash equality proves the Spark plan implements the stated bounded
    semantics — detected iff containment >= 0.8 AND the pair's rarest
    shared shingle has df <= {ceil}. (Completeness of the length +
    positional candidate filters under the ceiling: the rarest SURVIVING
    shared shingle of a detected pair IS its globally rarest shared
    shingle — hot shingles sort last in the df-ASC order, so the
    ceiling only truncates the tail — and at that first-common
    occurrence the PPJoin bounds hold by the same theorem as the exact
    form.)

    Scale, measured across three decades (SCALE.md round 9, sf0.01 →
    sf0.1 → sf1): warm wall 0.56 → 3.19 → 3.68 s — NEAR-FLAT on the
    last 10x where the exact form hits 455 s (131x) — because the
    ceiling caps candidate volume at ceiling x |surviving prefix
    postings|. The recall trade is equally measured: 1.0 / 1.0 / 0.07
    — at sf1 this corpus's 31-token vocabulary saturates (every
    shingle's df ~90, so the ceiling keeps only 0.2% of postings and
    near-copies share no rare shingle). That collapse is a CORPUS
    diagnosis, not a knob failure: a slice where no shared shingle is
    rare has no containment-join signal at any ceiling (keeping
    everything = the 455 s exact join), and the band-family gates —
    flat AND recall-stable in the same table — are the right tool
    there. The 100 TB shape: exact form for contractual-recall passes,
    bounded form for standing ingest on rare-tail corpora, MinHash
    gates on saturated slices, with `neardup_recall_audit` making the
    choice a per-corpus measured number.
    """
    return _containment_join(spark, sf_dir, df_ceil=_CNT_DF_CEIL)


containment_prefix_join_bounded.__doc__ = containment_prefix_join_bounded.__doc__.replace(
    "{ceil}", str(_CNT_DF_CEIL)
)


def shard_containment_lookup(
    spark: SparkSession, sf_dir: str, df_ceil: int | None = None
) -> DataFrame:
    """Arrival-time containment gate — the fourth near-dup family's
    entry in the production ingest loop (MinHash:
    :func:`shard_neardup_lookup`, SimHash: ``simhash_incremental_ingest``,
    embedding: ``embedding_incremental_ingest``): check the ARRIVING
    shard (doc_id % {_SHARD_MOD} == {_SHARD_RESIDUE}) against the
    standing corpus for near-subset relations in BOTH directions —
    a new doc quoted inside an existing page, and an existing doc
    quoted inside a new page — without re-running the corpus-side
    candidate join.

    Both orientations derive from the SAME session-cached/persisted
    ranked-shingle artifact (:func:`_shingle_ranked_cached` — df and
    ranks as of the artifact snapshot, the production index-build
    analog; generalizes the reference's arrival path,
    /root/reference/Code/dataToServers.erl:28-53):

    - shard-as-contained: the shard docs' prefixes (shard-proportional)
      probe the full base posting lists;
    - shard-as-container: the cached base prefix joins only shingles
      present in shard docs — one hash join against a shard-sized
      build side, output proportional to shard postings.

    Exact verify + integer gate as in the batch form, so the union is
    pinned HASH-EQUAL to :func:`containment_prefix_join` restricted to
    pairs with exactly one endpoint in the shard (with ``df_ceil`` set,
    to :func:`containment_prefix_join_bounded`'s; the ceiling applies to
    both orientations)
    (tests/test_dedup.py::test_containment_ingest_equals_batch_restriction),
    and the registered query carries the same restriction as a DuckDB
    oracle — the only arrival gate whose semantics are fully
    SQL-expressible (no hash family anywhere).
    """
    shard_contained = _containment_join(
        spark,
        sf_dir,
        df_ceil=df_ceil,
        contained_where=_is_shard("doc_id"),
        container_where=~_is_shard("doc_id"),
    )
    shard_container = _containment_join(
        spark,
        sf_dir,
        df_ceil=df_ceil,
        contained_where=~_is_shard("doc_id"),
        container_where=_is_shard("doc_id"),
    )
    return shard_contained.unionByName(shard_container)


@query(
    "containment_incremental_ingest",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-1),
                                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ex GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(p.n_common AS DOUBLE) / sa.n_sh AS containment
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE {_CNT_TAU_DEN} * p.n_common >= {_CNT_TAU_NUM} * sa.n_sh
      AND ((p.doc_a % {_SHARD_MOD} = {_SHARD_RESIDUE})
           <> (p.doc_b % {_SHARD_MOD} = {_SHARD_RESIDUE}))
    """,
)
def containment_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered arrival-gate query over :func:`shard_containment_lookup`
    — completing incremental coverage across all four near-dup families
    (r8 verdict task 4). The oracle is the EXACT batch containment truth
    restricted to pairs with exactly one endpoint in the standing shard,
    so the sweep hash-checks the arrival gate end to end (the other
    three families' gates are rows-only by their hash families; this one
    has no hash family to hide behind).

    Scale: see :func:`shard_containment_lookup` — fresh candidate work
    is proportional to the SHARD's postings in both orientations. BUT
    the candidate join inherits the exact form's saturation cost:
    SCALE.md round 9 measured 60 s / 21.7x on the sf1 decade while the
    other families' gates held 1.2-2.5x. The standing ingest loop runs
    :func:`containment_incremental_ingest_bounded`; this exact gate is
    the contractual-recall form and the truth the bounded one is
    measured against.
    """
    return shard_containment_lookup(spark, sf_dir)


@query(
    "containment_incremental_ingest_bounded",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)-1),
                                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ex GROUP BY 1
    ), dfreq AS (
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1
    ), ranked AS (
      SELECT e.doc_id, e.shingle, s.n_sh, d.df,
             row_number() OVER (PARTITION BY e.doc_id
                                ORDER BY d.df, e.shingle) AS rn
      FROM ex e JOIN sizes s USING (doc_id) JOIN dfreq d USING (shingle)
    ), pref AS (
      SELECT * FROM ranked
      WHERE rn <= n_sh
               - ({_CNT_TAU_NUM}*n_sh + {_CNT_TAU_DEN - 1}) // {_CNT_TAU_DEN}
               + 1
        AND df <= {_CNT_DF_CEIL}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN ranked b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
           AND b.df <= {_CNT_DF_CEIL}
    ), pairs AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.doc_a
      JOIN ex eb ON eb.doc_id = c.doc_b AND eb.shingle = ea.shingle
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(p.n_common AS DOUBLE) / sa.n_sh AS containment
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE {_CNT_TAU_DEN} * p.n_common >= {_CNT_TAU_NUM} * sa.n_sh
      AND ((p.doc_a % {_SHARD_MOD} = {_SHARD_RESIDUE})
           <> (p.doc_b % {_SHARD_MOD} = {_SHARD_RESIDUE}))
    """,
)
def containment_incremental_ingest_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION containment arrival gate (r9 verdict task 2): the
    df-ceiling of :func:`containment_prefix_join_bounded` passed to
    :func:`shard_containment_lookup`, whose shard predicates and ceiling
    are both parameters of the shared :func:`_containment_join` plan;
    this query registers, oracles, benches, and recall-scores the
    composition the r9 docstrings only described.

    Semantics (fully SQL-expressible, hash-checked): the BOUNDED batch
    truth — pair detected iff containment >= 0.8 AND its rarest shared
    shingle has df <= {_CNT_DF_CEIL} — restricted to pairs with exactly
    one endpoint in the arriving shard. Both orientations (shard doc
    quoted in a standing page, standing doc quoted in an arriving page)
    run the same ceiling; the union is the gate.

    Why this closes the loop: the exact gate
    (:func:`containment_incremental_ingest`) measured 21.7x on the sf1
    decade — quadratic exactly where near-dup pressure is highest —
    while this form's candidate volume is capped at ceiling x surviving
    shard-prefix postings, shard-proportional by construction. The
    recall price is the ``containment_bounded_incremental`` row of
    :func:`neardup_recall_audit`, scored against the EXACT containment
    truth restricted to the gate's reachable set every round.
    """
    return shard_containment_lookup(spark, sf_dir, df_ceil=_CNT_DF_CEIL)


# --- sorted-neighborhood (SNM) --------------------------------------------

# Window size w: each record is compared to its w successors in the global
# sort order — the candidate budget per record is <= 2w PER PASS
# regardless of how the corpus is distributed (SNM's defining property,
# and why it survives the vocabulary-saturated regimes that blow up
# df-based prefix joins: candidate volume is passes*w*n by construction,
# never C(df,2)).
_SNM_WINDOW = 8
_SNM_TAU_NUM, _SNM_TAU_DEN = 7, 10  # token-set Jaccard threshold 0.7
# Range partitions of the text window's grouped rank (thousands at 100 TB;
# the embedding window sizes its own count to its projection table).
_RANK_PARTS = 32


def _grouped_global_rank(
    df: DataFrame, group_col: str, order_cols: list[str], parts: int
) -> DataFrame:
    """Attach ``rk``, every row's 1-based position in the total order of
    ITS group — WITHOUT the single-partition window Spark plans for an
    unpartitioned ``row_number`` (one task sorting the world). One
    ranged exchange serves all groups instead of one rank job per group
    (the multi-pass SNM shape: 8 projection keys = 8 groups; the per-job
    fixed cost of 8 separate ranks was the embedding family's wall at
    bench SFs).

    Distributed two-pass rank: range-partition on (group, order) —
    partition id is then monotone in each group's order — rank locally,
    and correct with per-(partition, group) counts: within-pid start of
    the group (rows of smaller groups in the same partition) and the
    group's global offset (its rows in earlier partitions). The rank is
    a row's position in its group's order, independent of where the
    sampled range boundaries fall, so ``parts`` is a pure plan knob and
    the result is AQE-coalesce-safe (merging contiguous ranges keeps
    pids monotone). The offsets frame is ``parts x |groups|`` rows —
    bounded by construction; both correction windows run over it,
    never over data.
    """
    ranged = df.repartitionByRange(parts, group_col, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # Checkpoint after the local rank: the offsets build and the output
    # join both consume it, and recomputed separately they could see
    # DIFFERENT sampled range boundaries (offsets desynchronized from
    # local ranks — a run-to-run pair-set variance at sf1, SCALE.md);
    # one materialization also saves the ~3x upstream recompute. LAZY
    # (r13): the offsets broadcast build is the first consumer and
    # materializes the blocks inside its own job.
    local = stable_checkpoint_lazy(
        ranged.withColumn(
            "_lrk",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(group_col, *order_cols)
            ),
        )
    )
    cnt = local.groupBy("_pid", group_col).agg(F.count(F.lit(1)).alias("_n"))
    offs = cnt.select(
        "_pid",
        group_col,
        F.coalesce(
            F.sum("_n").over(
                Window.partitionBy("_pid")
                .orderBy(group_col)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_start"),
        F.coalesce(
            F.sum("_n").over(
                Window.partitionBy(group_col)
                .orderBy("_pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_goff"),
    )
    return (
        local.join(F.broadcast(offs), ["_pid", group_col])
        .withColumn(
            "rk", (F.col("_lrk") - F.col("_start") + F.col("_goff")).cast("long")
        )
        .drop("_pid", "_lrk", "_start", "_goff")
    )


def _snm_window(keyed: DataFrame, w: int, parts: int) -> DataFrame:
    """The sorted-neighborhood candidate window of every SNM family:
    over one ``(k, id, key)`` row per record per pass ``k``, the
    distinct id-normalized ``(doc_a < doc_b)`` pairs whose ranks in the
    ``(key, id)`` order of some pass differ by 1..``w``.

    All passes rank in ONE :func:`_grouped_global_rank` (range partition
    on (k, key) once, per-(partition, k) offsets), and the window
    pairing is ONE uniform equi-join on (k, rank cell ``floor((rk-1)/w)``):
    each left row probes its own cell and the next, since pairs within
    ``w`` ranks never span more than two cells. No shuffle is keyed on
    anything data-dependent, so the plan is immune to key skew, and the
    candidate volume is at most ``passes * w * n`` by construction."""
    ranked = _grouped_global_rank(keyed, "k", ["key", "id"], parts)
    cells = ranked.select(
        "k", "id", "rk", F.floor((F.col("rk") - 1) / w).alias("cell")
    )
    left = cells.select(
        "k",
        F.col("id").alias("id_a"),
        F.col("rk").alias("rk_a"),
        F.explode(F.array(F.col("cell"), F.col("cell") + 1)).alias("cand_cell"),
    )
    # The right side renames every column, ``k`` included: both sides
    # project the same ``cells`` frame, so ``left.k == right.k`` would
    # compare one attribute with itself (a trivially true predicate).
    right = cells.select(
        F.col("k").alias("k_b"),
        F.col("id").alias("id_b"),
        F.col("rk").alias("rk_b"),
        F.col("cell").alias("cell_b"),
    )
    diff = F.col("rk_b") - F.col("rk_a")
    return (
        left.join(
            right, (F.col("cand_cell") == F.col("cell_b")) & (F.col("k") == F.col("k_b"))
        )
        .filter((diff >= 1) & (diff <= w))
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


# Sort-key cap (ADVICE r9): the r9 form shipped the FULL sorted-token
# string (and its reverse) as the range-sort key — O(document) bytes of
# key material per row, twice per query, a real shuffle-byte cost at the
# 100 TB scale this family targets. The key is now the first
# _SNM_KEY_TOKENS tokens plus an md5 tail of the full string: the prefix
# preserves the lexicographic neighborhood SNM relies on, the hash tail
# keeps a deterministic total order among same-prefix keys at 32 fixed
# hex bytes (same-prefix docs are already co-located, so hash-random
# adjacency inside that group costs no designed recall; at fixture doc
# sizes the md5 is pure overhead — measured +0.4 s at sf0.1 — the cap
# pays at real document sizes where the full key is O(KB)). Mirrored
# verbatim in the oracle; blocking recall is re-scored every round by
# neardup_recall_audit's snm_window arm against the same floor.
_SNM_KEY_TOKENS = 24


def _snm_key(st) -> Column:
    """Bounded SNM sort key over a sorted-token array column: first
    _SNM_KEY_TOKENS tokens joined, ``' #'``, md5 of the full joined
    string ('#' sorts below 'a'-'z', so a doc whose whole key fits the
    prefix still sorts adjacent to its extensions)."""
    return F.concat(
        F.array_join(F.slice(st, 1, _SNM_KEY_TOKENS), " "),
        F.lit(" #"),
        F.md5(F.array_join(st, " ")),
    )


def _snm_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-PASS SNM candidate window — every (doc_a, doc_b, st_a,
    st_b) pair within ``_SNM_WINDOW`` ranks of EITHER sort order, BEFORE
    similarity verification. Two passes, per SNM practice (one key misses
    matches the sort happens to separate; independent keys multiply the
    miss probabilities): the canonical sorted-token key, and its reverse
    (descending tokens — adjacency driven by the key's suffix instead of
    its prefix). Factored out so the recall audit can score the blocking
    scheme itself (the classic SNM evaluation: fraction of
    independently-defined true matches landing inside the window)
    separately from the verify threshold. Session-cached (round 10):
    four consumers run it per bench/audit session — the batch query,
    the arrival gate, and the scoreboard's two SNM arms — and the
    window is the family's whole cost.

    The window pairs ids only (:func:`_snm_window`, pass ``k`` 0 =
    forward key, 1 = reversed); the token sets join back on the
    distinct pairs for the verify."""

    def build() -> DataFrame:
        docs = table(spark, sf_dir, "documents")
        st = F.array_sort(F.array_distinct(tokens("text")))
        base = docs.select("doc_id", st.alias("st")).filter(F.size("st") > 0)
        keyed = base.select(
            F.col("doc_id").alias("id"),
            F.posexplode(
                F.array(_snm_key(F.col("st")), _snm_key(F.reverse("st")))
            ).alias("k", "key"),
        )
        return (
            _snm_window(keyed, _SNM_WINDOW, _RANK_PARTS)
            .join(
                base.select(F.col("doc_id").alias("doc_a"), F.col("st").alias("st_a")),
                "doc_a",
            )
            .join(
                base.select(F.col("doc_id").alias("doc_b"), F.col("st").alias("st_b")),
                "doc_b",
            )
            .select("doc_a", "doc_b", "st_a", "st_b")
        )

    return shared_cache(
        spark,
        ("snm_candidates", sf_dir, _SNM_WINDOW, _SNM_KEY_TOKENS),
        build,
    )


# Shared SNM oracle body: the batch query runs it verbatim; the arrival
# gate appends the one-endpoint-in-shard restriction (see
# snm_incremental_ingest). {AND_SHARD} is the splice point.
_SNM_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, list_sort(list_distinct({_DUCK_TOKS})) AS st FROM documents
    ), k AS (
      SELECT doc_id, st,
             array_to_string(st[1:{_SNM_KEY_TOKENS}], ' ')
               || ' #' || md5(array_to_string(st, ' ')) AS key_f,
             array_to_string(list_reverse(st)[1:{_SNM_KEY_TOKENS}], ' ')
               || ' #' || md5(array_to_string(list_reverse(st), ' ')) AS key_r
      FROM t WHERE len(st) > 0
    ), rf AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key_f, doc_id) AS rk FROM k
    ), rr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key_r, doc_id) AS rk FROM k
    ), cand AS (
      SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
             GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM rf a JOIN rf b ON b.rk - a.rk BETWEEN 1 AND {_SNM_WINDOW}
      UNION
      SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
             GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM rr a JOIN rr b ON b.rk - a.rk BETWEEN 1 AND {_SNM_WINDOW}
    ), v AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(x.st, y.st)) AS BIGINT) AS n_common,
             CAST(len(x.st) AS BIGINT) AS n_a,
             CAST(len(y.st) AS BIGINT) AS n_b
      FROM cand c JOIN k x ON c.doc_a = x.doc_id JOIN k y ON c.doc_b = y.doc_id
    )
    SELECT doc_a, doc_b, n_common, n_a, n_b,
           CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
    FROM v
    WHERE {_SNM_TAU_DEN} * n_common >= {_SNM_TAU_NUM} * (n_a + n_b - n_common)
      {{AND_SHARD}}
    """


@query("snm_neardup_pairs", oracle=_SNM_ORACLE.replace("{AND_SHARD}", ""))
def snm_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernandez & Stolfo's SNM, the
    fifth candidate-generation family beside the exact prefix join,
    MinHash/LSH, SimHash and embedding cells): sort every document by a
    blocking key, compare each doc only to its ``w`` successors in that
    global order, verify with exact token-set Jaccard >=
    {_SNM_TAU_NUM}/{_SNM_TAU_DEN}. Registered in the standard MULTI-PASS
    form — two independent keys (canonical sorted-token string, and its
    reverse), windows unioned before verification; the per-pass and
    combined blocking recall is scoreboard-measured against the exact
    shingle-Jaccard truth in :func:`neardup_recall_audit`.

    Why this family earns a slot: its candidate volume is ``passes * w *
    n`` BY CONSTRUCTION — unlike df-based prefix filters it cannot blow
    up on vocabulary-saturated corpora (the containment join's measured
    sf1 failure mode), at the price of bounded recall (more passes buy
    recall linearly in cost).

    Scale shape: both passes rank in one range-partitioned sort and pair
    in one uniform equi-join on (pass, rank cell) — :func:`_snm_window`,
    no single-partition window — then the token sets join back on the
    distinct pairs for the exact verify. No shuffle is keyed on anything
    data-dependent, so the plan is immune to key skew end to end.

    Reference analog: the reference dedups by exact key adjacency in its
    sorted ETS table (/root/reference/Code/csv_to_ets.erl:27-53); SNM is
    that idea generalized to near-equality at corpus scale.
    """
    return _snm_verified(spark, sf_dir)


@query(
    "snm_incremental_ingest",
    oracle=_SNM_ORACLE.replace(
        "{AND_SHARD}",
        f"AND ((doc_a % {_SHARD_MOD} = {_SHARD_RESIDUE})"
        f" <> (doc_b % {_SHARD_MOD} = {_SHARD_RESIDUE}))",
    ),
)
def snm_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SNM family's arrival gate — the SIXTH and last
    candidate-generation family to get one (MinHash, SimHash,
    embedding, containment and ExactSubstr gates already ship; round
    10): near-dup verdicts for an arriving shard (doc_id ≡
    {_SHARD_RESIDUE} mod {_SHARD_MOD}) against the standing corpus,
    in MERGED-ORDER semantics — a pair qualifies iff the two docs land
    within the window in the sort order of the COMBINED corpus (either
    pass) and pass the exact Jaccard verify, restricted to pairs with
    exactly one endpoint in the shard. Fully SQL-expressible (the batch
    oracle + the shard restriction), so like the containment gate this
    one is hash-checked end to end — no hash family to hide behind.

    Spark expression vs production shape: this plan re-ranks the merged
    corpus (LINEAR work, skew-free by the family's contract — compare
    the df-join families, whose arrival gates probe posting lists). In
    a deployed ingest loop the standing sort order is a persisted
    sorted index; each arriving record binary-searches its insertion
    slot and compares only within ±w of it, making fresh comparisons
    ∝ shard·passes·w. The merged-order semantics here are exactly what
    that index maintenance computes, which is why the gate is pinned
    equal to the batch restriction
    (tests/test_dedup.py::test_snm_ingest_equals_batch_restriction)
    rather than defined by its own window arithmetic.
    """
    return _snm_verified(spark, sf_dir).filter(
        _is_shard("doc_a") != _is_shard("doc_b")
    )


snm_incremental_ingest.__doc__ = (
    snm_incremental_ingest.__doc__
    .replace("{_SHARD_RESIDUE}", str(_SHARD_RESIDUE))
    .replace("{_SHARD_MOD}", str(_SHARD_MOD))
)


def _snm_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SNM pipeline (multi-pass window + exact token-set
    Jaccard verify) — shared by :func:`snm_neardup_pairs` (batch) and
    :func:`snm_incremental_ingest` (the arrival restriction)."""
    verified = _snm_candidates(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("st_a", "st_b")).cast("long").alias("n_common"),
        F.size("st_a").cast("long").alias("n_a"),
        F.size("st_b").cast("long").alias("n_b"),
    )
    union_sz = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return verified.filter(
        F.lit(_SNM_TAU_DEN) * F.col("n_common") >= F.lit(_SNM_TAU_NUM) * union_sz
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        (F.col("n_common").cast("double") / union_sz).alias("jaccard"),
    )


# --- record linkage (blocked fuzzy matching) -------------------------------

_LINK_MAX_DIST = 1  # match threshold: Levenshtein edit distance

# The ER oracle's match-pair expression is the UNBLOCKED quadratic truth:
# every a<b pair within full-name Levenshtein distance _LINK_MAX_DIST.
# The Spark side generates candidates from the deletion-neighborhood
# blocking (:func:`_link_postings`) — complete for distance <= 1 by the
# FastSS theorem — so hash equality against this exact oracle PROVES the
# blocking's completeness on the checked corpus, not merely that both
# engines replay the same (possibly lossy) blocks. (The r11 verdict found
# exactly that failure in the previous prefix/suffix two-pass scheme: the
# oracle replayed the blocks, so a recall hole on 18-char names stayed
# hash-green.) Callers provide the `b` CTE with (c_custkey, c_name) and
# splice extra predicates via {{and_a}}.
_DUCK_LINK_PAIRS = f"""
      SELECT a.c_custkey AS ka, x.c_custkey AS kb,
             levenshtein(a.c_name, x.c_name) AS d
      FROM b a JOIN b x ON a.c_custkey < x.c_custkey
      WHERE levenshtein(a.c_name, x.c_name) <= {_LINK_MAX_DIST}{{and_a}}
"""

_DUCK_LINK_B_CTE = """
      SELECT c_custkey, c_name FROM customer
"""


@query(
    "customer_fuzzy_matches",
    oracle=f"""
    WITH b AS ({_DUCK_LINK_B_CTE})
    SELECT ka AS custkey_a, kb AS custkey_b, CAST(d AS BIGINT) AS lev_dist
    FROM ({_DUCK_LINK_PAIRS.format(and_a="")})
    """,
)
def customer_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs over ``customer``: DELETION-
    NEIGHBORHOOD blocked fuzzy matching (the FastSS / symmetric-delete
    scheme, Bocek et al., "Fast Similarity Search in Large Dictionaries",
    2007 — round 12, closing the r11 verdict's recall hole): each record
    posts its name plus every single-character-deletion variant as
    blocking keys; candidates are pairs sharing ANY variant, verified
    with full-name Levenshtein and emitted once within distance
    {_LINK_MAX_DIST}.

    COMPLETENESS (the property the r11 scheme lacked): two names within
    edit distance 1 always share a deletion variant — a substitution at
    position i leaves both i-deletions equal; an insertion's deletion IS
    the shorter name (its own 0-deletion variant); equal names share
    themselves. So the candidate set provably covers every true pair at
    ANY name length. The previous prefix + reversed-prefix two-pass
    blocking required names >= 2x16 chars for that coverage — on TPC-H's
    18-char names a substitution at positions 3..16 (7 of the 9 digits)
    changed BOTH keys and the pair was unreachable; a third middle-band
    pass would in turn leave the band's own positions uncovered, which is
    why the fix is a different blocking family, not another pass. The
    oracle is now the UNBLOCKED exact all-pairs truth, so hash equality
    proves completeness instead of replaying the blocks
    (tests/test_dedup.py plants a typo at EVERY name position and pins
    all of them found).

    Generalizes the reference's exact keyed-table lookup
    (/root/reference/Code/server.erl:118-135) to approximate identity.

    Scale shape: one equi-join keyed on the variant strings. Postings are
    (len+1) per record — linear in data with a ~19x constant on these
    names — and a variant block contains only records whose names
    coincide after one deletion, so blocks are near-singleton wherever
    names are distinct (vs the 16-char prefix blocks, whose size was a
    corpus property). Sharing a variant bounds the pair's distance by 2,
    so the Levenshtein verify (JVM built-in, codegen) runs on a
    candidate set within 2x of the true pair set — the full-name DP that
    cost ~42 s/sf1 under prefix blocking is cheap here because the
    CANDIDATES are few, not because the strings got shorter.
    """
    return _er_match_pairs(spark, sf_dir)


def _er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-cached ER MATCH-PAIR artifact: every a < b customer
    pair within ``_LINK_MAX_DIST`` full-name edit distance, deduped on
    the pair key — the "match table" an MDM deployment maintains beside
    its source records, and the ER analog of the shared ranked-shingle /
    minhash-signature artifacts the document families already cache.
    Built once per (session, corpus) by the deletion-neighborhood
    blocked join; consumed by :func:`customer_fuzzy_matches` (verbatim),
    :func:`customer_entity_groups` (as the closure's edge list) and
    :func:`_customer_base_entities` (filtered to base-base pairs — valid
    because the blocking is COMPLETE, so the base restriction of the
    full match set equals matching the base alone)."""

    def build() -> DataFrame:
        cust = _link_postings(table(spark, sf_dir, "customer"))
        return (
            _blocked_fuzzy_pairs(cust, cust)
            .filter(F.col("custkey_a") < F.col("custkey_b"))
            .dropDuplicates(["custkey_a", "custkey_b"])
            .select("custkey_a", "custkey_b", "lev_dist")
        )

    return indexstore.artifact(
        spark, sf_dir, "er", "er_match_pairs", _er_params(), build
    )


def _link_postings(cust: DataFrame) -> DataFrame:
    """The deletion-neighborhood POSTING frame: one row per (record,
    blocking key), where the keys are the name itself (``pos`` 0) plus
    every single-character-deletion variant (``pos`` = the deleted
    1-indexed position — FastSS / SymSpell's symmetric delete, with
    the position kept for the join's positional refinement). All
    generated expressions — transform over an index sequence,
    substring splice — stay in whole-stage codegen; no Python touches
    a name."""
    deletions = F.expr(
        "transform(sequence(1, length(c_name)), i -> struct("
        "i AS pos, "
        "concat(substring(c_name, 1, i-1), substring(c_name, i+1)) AS blk))"
    )
    variants = F.concat(
        F.array(F.struct(F.lit(0).alias("pos"), F.col("c_name").alias("blk"))),
        F.when(F.length("c_name") > 0, deletions).otherwise(
            F.expr("CAST(array() AS array<struct<pos:int,blk:string>>)")
        ),
    )
    return cust.select(
        "c_custkey", "c_name", F.explode(variants).alias("v")
    ).select("c_custkey", "c_name", F.col("v.pos").alias("pos"), F.col("v.blk").alias("blk"))


def _blocked_fuzzy_pairs(
    left: DataFrame, right: DataFrame, right_materialized: bool = False
) -> DataFrame:
    """Blocked Levenshtein match candidates between two deletion-
    neighborhood POSTING frames (:func:`_link_postings` — same
    block-then-verify shape for the batch self-join and the arrival
    gate's shard-vs-base probe). Joins on the variant key with the
    POSITIONAL refinement ``pos_a = pos_b OR pos_a = 0 OR pos_b = 0``,
    which is still complete for distance <= 1: a substitution pair of
    equal-length names differs at exactly one position p (Levenshtein 1
    at equal length forces Hamming 1) and collides at i = j = p; an
    insertion pair collides at (0, inserted position); equal names
    collide at (0, 0). What the refinement prunes is exactly the
    cross-position bulk — two names whose variants coincide after
    deleting DIFFERENT positions sit at distance 2; on TPC-H's
    repeated-zero digit runs that bulk is ~10x the true pair volume.
    The surviving candidates are verified on FULL-name edit distance
    <= ``_LINK_MAX_DIST`` (the verify stays load-bearing: same-position
    deletion collisions of distance-2 pairs exist — any pair whose
    aligned remainder differs). Every emitted pair is intra-block BY
    CONSTRUCTION. A pair sharing several qualifying blocks appears once
    per block; callers needing set semantics dedupe on the pair key."""
    # Materialize each posting frame once: three join arms below would
    # otherwise re-run the variant explode six times for a self-join
    # (measured ~3 s of the 4 s warm match join at sf0.1). The `is`
    # check keeps the self-join case to ONE materialization;
    # ``right_materialized`` lets a caller that probes the SAME standing
    # frame repeatedly (the streaming gate: one base, many micro-
    # batches) checkpoint it once outside and skip the per-call copy —
    # without it every micro-batch re-ran the full base variant explode,
    # violating the arrival-cost-proportional-to-delivery contract.
    lp = stable_checkpoint(left.select("c_custkey", "c_name", "pos", "blk"))
    if right is left:
        rp = lp
    elif right_materialized:
        rp = right.select("c_custkey", "c_name", "pos", "blk")
    else:
        rp = stable_checkpoint(right.select("c_custkey", "c_name", "pos", "blk"))
    a = lp.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        "pos",
        "blk",
    )
    b = rp.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        "pos",
        "blk",
    )
    # Three EQUI-join arms, so the positional refinement lives in the
    # hash key, never in a residual predicate (a residual form measured
    # 9.5 s warm at sf0.1: Catalyst ordered the Levenshtein ahead of the
    # cheap position check inside the join condition, so every repeated-
    # character cross-position collision paid a DP; as key columns those
    # collisions never leave the hash table):
    #   - same-pos: (blk, pos) — substitution pairs at the differing
    #     position, plus equal names at (self, self);
    #   - indel, both orientations: a self-variant (pos 0) against the
    #     other side's deletions (pos > 0) on blk alone — an 18-char
    #     self key only collides with a 19-char name's deletion, so the
    #     arm is true-insert-pairs-sized by construction.
    same = a.join(b, ["blk", "pos"])
    ins_a = a.filter(F.col("pos") == 0).join(
        b.filter(F.col("pos") > 0).drop("pos"), ["blk"]
    )
    ins_b = a.filter(F.col("pos") > 0).join(
        b.filter(F.col("pos") == 0).drop("pos"), ["blk"]
    )
    cols = ["custkey_a", "name_a", "custkey_b", "name_b", "blk"]
    cand = (
        same.select(*cols)
        .unionByName(ins_a.select(*cols))
        .unionByName(ins_b.select(*cols))
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.filter(
            (F.col("custkey_a") != F.col("custkey_b")) & (dist <= _LINK_MAX_DIST)
        )
        .select(
            "custkey_a", "custkey_b", dist.cast("long").alias("lev_dist"), "blk"
        )
    )


def _entity_components(pairs: DataFrame) -> DataFrame:
    """Components of the blocked match graph: dedupe the per-block match
    edges to one (src < dst) edge per record pair and run the
    pointer-jumping min-label closure (:func:`connected_components`)
    directly. Returns (node, cluster_id = min reachable key) for every
    matched node.

    Design note (round 12): the r9-r11 shape here was a block-LOCAL
    union-find followed by a star merge — a win when blocking produced
    ~100-record prefix blocks (few groups, real contraction per group).
    Deletion-neighborhood blocking inverts that geometry: hundreds of
    thousands of near-singleton variant blocks, so the grouped
    applyInPandas paid Arrow per-group overhead to contract nothing
    (measured 15.5 s of a 22 s plan at sf0.1) while the deduped edge
    list (262k edges over 15k matched customers) feeds the iterative
    closure in ~3 s. The closure itself stays O(log diameter) rounds
    over |matched| edges — the 100 TB shape is unchanged; only the
    pointless contraction level is gone."""
    # The match-pair artifact is deduped on the pair key upstream
    # (_er_match_pairs.dropDuplicates), so the closure's symmetrized
    # edge frame is distinct by construction — edges_unique skips the
    # dedup exchange connected_components would otherwise pay (r13;
    # duplicates would be harmless for the min-label math either way).
    # nodes=None: the universe IS the matched set, so the closure skips
    # its singleton rejoin and returns the assignment broadcast-hinted
    # when it measured the label frame broadcast-sized.
    edges = pairs.select(
        F.least("custkey_a", "custkey_b").alias("src"),
        F.greatest("custkey_a", "custkey_b").alias("dst"),
    )
    return connected_components(None, edges, edges_unique=True)


@query(
    "customer_entity_groups",
    oracle=f"""
    WITH RECURSIVE b AS ({_DUCK_LINK_B_CTE}), m AS (
      SELECT ka, kb FROM ({_DUCK_LINK_PAIRS.format(and_a="")})
    ), edges AS (
      SELECT ka AS s, kb AS d FROM m UNION ALL SELECT kb AS s, ka AS d FROM m
    ), walk(node, r) AS (
      SELECT c_custkey, c_custkey FROM customer
      UNION
      SELECT w.node, e.d FROM walk w JOIN edges e ON e.s = w.r
    ), assign AS (
      SELECT node AS c_custkey, MIN(r) AS entity_id FROM walk GROUP BY node
    ), j AS (
      SELECT a.entity_id, c.c_custkey, c.c_acctbal
      FROM assign a JOIN customer c USING (c_custkey)
    ), golden AS (
      SELECT entity_id, c_custkey AS golden_custkey FROM j
      QUALIFY ROW_NUMBER() OVER (PARTITION BY entity_id
                                 ORDER BY c_acctbal DESC, c_custkey) = 1
    )
    SELECT j.entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_acctbal,
           g.golden_custkey
    FROM j JOIN golden g USING (entity_id)
    GROUP BY 1, 4
    """,
)
def customer_entity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over ``customer``: the blocked fuzzy
    matches (:func:`customer_fuzzy_matches`'s plan, block key kept)
    become an identity graph, connected components assign every record
    an entity id (min reachable key — same contract as
    :func:`dedup_clusters`), and a survivorship rule picks each
    entity's golden record (max account balance, ties to the lowest
    key) with the entity's member count and pooled balance — the
    master-data-management pipeline in one composed plan.

    The closure runs the pointer-jumping min-label loop directly over
    the DEDUPED pair edges (:func:`_entity_components` — see its design
    note: deletion-neighborhood blocks are near-singletons, so the
    r9-r11 block-local union-find level contracted nothing and was
    dropped in round 12), converging in O(log diameter) rounds over
    |matched pairs| edges.

    Scale shape: one variant-keyed match join (near-singleton blocks),
    one pair-key dedupe, the iterative closure over o(corpus) match
    edges, and the golden pick is a struct-argmax folded into the
    single membership aggregation (no second window pass). Nothing
    driver-sized; the oracle runs the closure over the EXACT unblocked
    pair set as a recursive CTE — hash equality proves the blocking
    lost no edge (see :func:`customer_fuzzy_matches`).
    """
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    pairs = _er_match_pairs(spark, sf_dir)
    linked = _entity_components(pairs)
    # MATCHED/SINGLETON SPLIT (r13, guide §8 — aggregate only the rows
    # whose group is in question): the closure assignment covers only
    # MATCHED customers, o(corpus) by the ER design, and rides in
    # broadcast-hinted when the closure measured it broadcast-sized.
    # Matched members flow through the membership join + entity
    # aggregation as before; every OTHER customer is a complete
    # single-member entity whose output row is a map-only projection —
    # no join, no aggregation. vs the r12 shape this shrinks the
    # membership join and the entity exchange from |customers| rows to
    # |matched| rows and drops the corpus-wide SortMergeJoin/
    # SortAggregate pass
    # (plans/r13/customer_entity_groups_{before,after}.txt).
    matched = cust.join(linked, cust.c_custkey == linked.node).select(
        F.col("cluster_id").alias("entity_id"), "c_custkey", "c_acctbal"
    )
    # Survivorship as a struct-argmax INSIDE the one aggregation (the
    # events_first_touch pattern): max over (c_acctbal, -c_custkey) is
    # lexicographic, so ties on balance resolve to the LOWEST key —
    # exactly the oracle's ROW_NUMBER ordering — without a second
    # window pass over the membership.
    agg = matched.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        cents_sum("c_acctbal", "total_acctbal"),
        F.max(
            F.struct(
                F.col("c_acctbal").alias("bal"),
                (-F.col("c_custkey")).alias("negkey"),
            )
        ).alias("_g"),
    )
    grouped = agg.select(
        "entity_id",
        "n_members",
        "total_acctbal",
        (-F.col("_g.negkey")).cast("long").alias("golden_custkey"),
    )
    singles = cust.join(
        linked.select(F.col("node").alias("c_custkey")), "c_custkey", "left_anti"
    ).select(
        F.col("c_custkey").alias("entity_id"),
        F.lit(1).cast("long").alias("n_members"),
        (cents("c_acctbal").cast("double") / F.lit(100.0)).alias("total_acctbal"),
        F.col("c_custkey").alias("golden_custkey"),
    )
    return grouped.unionByName(singles)


# The arriving-record split for the ER arrival gate: customers with
# c_custkey % 10 == 7 play the newly-delivered batch; the rest are the
# standing base (same convention as the document shard split above).
_CUST_SHARD_MOD = 10
_CUST_SHARD_RESIDUE = 7


def _customer_base_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-only entity assignment ``(node, cluster_id)``, session-cached
    — the artifact an MDM deployment persists between deliveries. Both
    the batch arrival gate and its streaming twin resolve against this
    one frame, so micro-batches never recompute (or drift from) the
    standing identities. Resolved like every index artifact by
    :func:`indexstore.artifact`: shared cache → persisted "er" index
    group (source-stamp + params checked) → build."""

    def build() -> DataFrame:
        is_base = lambda c: (F.col(c) % _CUST_SHARD_MOD) != _CUST_SHARD_RESIDUE  # noqa: E731
        # base-base restriction of the shared match artifact — equal to
        # matching the base alone because the blocking is complete
        pairs = _er_match_pairs(spark, sf_dir).filter(
            is_base("custkey_a") & is_base("custkey_b")
        )
        nodes = (
            table(spark, sf_dir, "customer")
            .filter(is_base("c_custkey"))
            .select(F.col("c_custkey").alias("node"))
        )
        return connected_components(
            nodes,
            pairs.select(
                F.col("custkey_a").alias("src"), F.col("custkey_b").alias("dst")
            ),
            edges_unique=True,
        )

    return indexstore.artifact(
        spark, sf_dir, "er", "er_base_entities", _er_params(), build
    )


def _er_params() -> dict:
    """Build parameters recorded in (and checked against) the persisted
    ER-index manifest — the text/vector params-guard discipline applied
    to the MDM artifacts: editing the match threshold, the blocking
    family, or the arrival-shard split refuses a stale on-disk index."""
    return {
        "max_dist": _LINK_MAX_DIST,
        "blocking": "fastss_del1",
        "shard_mod": _CUST_SHARD_MOD,
        "shard_residue": _CUST_SHARD_RESIDUE,
    }


def build_er_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The "er" index group's artifacts — exactly what a production MDM
    deployment persists between deliveries (round 12): the deletion-
    blocked MATCH TABLE over the full customer corpus (consumed verbatim
    by :func:`customer_fuzzy_matches`, as the closure edge list by
    :func:`customer_entity_groups`) and the STANDING BASE ENTITY
    assignment every arrival — batch gate and streaming micro-batch
    alike — resolves against."""
    return {
        "er_match_pairs": _er_match_pairs(spark, sf_dir),
        "er_base_entities": _customer_base_entities(spark, sf_dir),
    }


def persist_er_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the ER artifacts and write them as the on-disk
    "er" index group; later sessions' ER queries then skip the match
    join and the base closure entirely — the `ets:tab2file` analog
    (/root/reference/Code/csv_to_ets.erl:63-74) for approximate
    identity, same lifecycle as :func:`persist_text_index`."""
    return indexstore.persist_group(
        spark,
        sf_dir,
        "er",
        lambda: build_er_index(spark, sf_dir),
        params=_er_params(),
    )


def entity_arrival_verdicts(
    new: DataFrame,
    base: DataFrame,
    assign: DataFrame,
    base_materialized: bool = False,
) -> DataFrame:
    """The arrival-gate plan over ANY batch of arriving keyed customers
    (posting frames from :func:`_link_postings`): deletion-neighborhood
    blocked fuzzy probe vs the standing base (deduped on the record
    pair — a base record reached via several variants is one link),
    then per arriving
    record the entity verdict (min matched base entity / own key, link
    counts). Factored so the streaming twin's micro-batches run the
    identical plan — each record lives in exactly one micro-batch, so
    per-batch verdicts are complete and the union over batches equals
    the batch query."""
    links = (
        _blocked_fuzzy_pairs(new, base, right_materialized=base_materialized)
        .dropDuplicates(["custkey_a", "custkey_b"])
        .join(assign, F.col("custkey_b") == F.col("node"))
        .select(F.col("custkey_a").alias("new_custkey"), "cluster_id")
    )
    return (
        new.select(F.col("c_custkey").alias("new_custkey"))
        .distinct()
        .join(links, "new_custkey", "left")
        .groupBy("new_custkey")
        .agg(
            F.coalesce(F.min("cluster_id"), F.first("new_custkey")).alias(
                "entity_id"
            ),
            F.count("cluster_id").cast("long").alias("n_links"),
            F.countDistinct("cluster_id").cast("long").alias("n_entities_linked"),
        )
    )


_ENTITY_ARRIVAL_ORACLE = f"""
    WITH RECURSIVE b AS (
      SELECT c_custkey, c_name,
             c_custkey % {_CUST_SHARD_MOD} = {_CUST_SHARD_RESIDUE} AS is_new
      FROM customer
    ), m AS (
      SELECT ka, kb
      FROM ({_DUCK_LINK_PAIRS.format(and_a=" AND NOT a.is_new AND NOT x.is_new")})
    ), edges AS (
      SELECT ka AS s, kb AS d FROM m UNION ALL SELECT kb AS s, ka AS d FROM m
    ), walk(node, r) AS (
      SELECT c_custkey, c_custkey FROM b WHERE NOT is_new
      UNION
      SELECT w.node, e.d FROM walk w JOIN edges e ON e.s = w.r
    ), assign AS (
      SELECT node AS c_custkey, MIN(r) AS entity_id FROM walk GROUP BY node
    ), probe AS (
      SELECT DISTINCT n.c_custkey AS new_custkey, o.c_custkey AS old_custkey
      FROM b n JOIN b o
        ON n.is_new AND NOT o.is_new
           AND levenshtein(n.c_name, o.c_name) <= {_LINK_MAX_DIST}
    ), links AS (
      SELECT p.new_custkey, a.entity_id
      FROM probe p JOIN assign a ON p.old_custkey = a.c_custkey
    )
    SELECT n.c_custkey AS new_custkey,
           COALESCE(MIN(l.entity_id), n.c_custkey) AS entity_id,
           CAST(COUNT(l.entity_id) AS BIGINT) AS n_links,
           CAST(COUNT(DISTINCT l.entity_id) AS BIGINT) AS n_entities_linked
    FROM b n LEFT JOIN links l ON n.c_custkey = l.new_custkey
    WHERE n.is_new
    GROUP BY n.c_custkey
    """


@query("customer_entity_arrival", oracle=_ENTITY_ARRIVAL_ORACLE)
def customer_entity_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental entity resolution — the ER family's arrival gate,
    completing the pattern the four near-dup families already follow
    (MinHash / SimHash / embedding / containment ingest gates): a
    newly-delivered batch of records (custkey ≡ {_CUST_SHARD_RESIDUE}
    mod {_CUST_SHARD_MOD}) is matched against the STANDING base only —
    blocked Levenshtein probe, never arriving-vs-arriving, never
    base-vs-base recomputation — and each arrival gets its entity
    verdict: the minimum matched base entity id (an existing identity),
    or its own key (a new entity), with link count and the
    n_entities_linked > 1 merge signal (same contract as
    :func:`incremental_cluster_assign`).

    Fresh work per delivery is proportional to the ARRIVING batch's
    blocks (each block bounded by the key), not the base; the base
    entity assignment is the amortized artifact a production MDM system
    persists between deliveries. Full DuckDB oracle: base-only closure
    as a recursive CTE + the arrival probe join (like the containment
    gate, this family has no hash machinery to hide behind, so the gate
    is hash-checked end to end).
    """
    cust = _link_postings(table(spark, sf_dir, "customer"))
    is_new = (F.col("c_custkey") % _CUST_SHARD_MOD) == _CUST_SHARD_RESIDUE
    return entity_arrival_verdicts(
        cust.filter(is_new),
        cust.filter(~is_new),
        _customer_base_entities(spark, sf_dir),
    )


def _xs_base_hashes_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct window digests of the STANDING base corpus — the
    persisted artifact the ExactSubstr arrival gate probes (16 bytes per
    distinct window; the amortized index an ingest deployment keeps
    beside the MinHash/SimHash/codebook/ranked-shingle artifacts)."""
    return shared_cache(
        spark,
        ("xs_base_hashes", sf_dir, _XS_W, _SHARD_MOD, _SHARD_RESIDUE),
        lambda: _xs_windows_of(
            parallelize_scan(table(spark, sf_dir, "documents")).filter(
                ~_is_shard("doc_id")
            )
        )
        .select("h")
        .distinct(),
    )


@query(
    "exact_substr_incremental_ingest",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), wins AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(t[i:i+{_XS_W - 1}], ' ')) AS h
      FROM (SELECT doc_id, t,
                   unnest(range(1, len(t) - {_XS_W} + 2)) AS i
            FROM toks)
    ), base_h AS (
      SELECT DISTINCT h FROM wins
      WHERE doc_id % {_SHARD_MOD} <> {_SHARD_RESIDUE}
    ), dupw AS (
      SELECT w.doc_id, w.pos FROM wins w JOIN base_h USING (h)
      WHERE w.doc_id % {_SHARD_MOD} = {_SHARD_RESIDUE}
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_XS_W} THEN 0 ELSE 1 END AS new_island
      FROM dupw
    ), islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {_XS_W} - 1 AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(MAX(pos) + {_XS_W} - MIN(pos) AS BIGINT) AS span_tokens
    FROM islands
    GROUP BY doc_id, island
    """,
)
def exact_substr_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr's arrival gate — the FIFTH dup family to get one
    (after MinHash, SimHash, embedding and containment): arriving docs
    (the standing doc_id % {_SHARD_MOD} == {_SHARD_RESIDUE} shard) are
    windowed FRESH and probed against the persisted base window-digest
    set; any arriving window already present in the base marks a span to
    cut before the shard joins the corpus. Within-shard repeats are
    deliberately out of scope here (they surface when the grown corpus's
    batch spans re-run) — the gate's contract is fresh work ∝ shard.

    Note the semantic difference from the batch form: batch spans flag
    windows repeated ANYWHERE (count >= 2, within-doc repeats included);
    the gate flags arriving windows that duplicate the BASE — exactly
    the containment question live ingest asks ("is this text already in
    my corpus"), and the restriction makes per-shard results independent
    of shard batching (each arriving doc's verdict depends only on the
    base).

    Scale: shard windowing is per-doc narrow work; the probe is one
    left-semi join of |shard windows| 16-byte digests against the base
    digest artifact (uniform key); islands shuffle only HIT positions on
    doc_id. Full DuckDB oracle — like the containment gate, no hash
    family to hide behind.
    """
    shard = parallelize_scan(table(spark, sf_dir, "documents")).filter(
        _is_shard("doc_id")
    )
    hits = (
        _xs_windows_of(shard)
        .join(_xs_base_hashes_cached(spark, sf_dir), "h", "left_semi")
        .select("doc_id", "pos")
    )
    return _xs_islands_to_spans(hits)
