"""Semantics tests for the LM vertical (tokenizer induction + unigram
scoring) — pure-Python replays of both operators' exact-integer math,
plus shape invariants. The driver oracle covers both queries externally;
these lock the math at sf0.001 against an independent implementation.
"""

from __future__ import annotations

import math
from collections import Counter

from imdbmapreduce_spark import registry
from imdbmapreduce_spark.catalog import table

_LP_SCALE = 1_000_000


def _toks(text: str) -> list[str]:
    return [t for t in text.strip().split() if t]


def test_bpe_first_merge_stats_matches_python_replay(spark, sf_dir):
    docs = [r.text for r in table(spark, sf_dir, "documents").select("text").collect()]
    vocab = Counter(t for d in docs for t in _toks(d))
    pairs: Counter = Counter()
    for tok, n in vocab.items():
        for a, b in zip(tok, tok[1:]):
            pairs[(a, b)] += n
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:100]

    got = registry.get("bpe_first_merge_stats").fn(spark, sf_dir).collect()
    assert [(r.c1, r.c2) for r in sorted(got, key=lambda r: r.rnk)] == [
        p for p, _ in want
    ]
    assert {(r.c1, r.c2): r.pair_count for r in got} == dict(want)
    assert [r.rnk for r in sorted(got, key=lambda r: r.rnk)] == list(
        range(1, len(want) + 1)
    )


def test_bpe_merge_sequence_matches_python_replay(spark, sf_dir):
    """Classic textbook BPE (greedy left-to-right merge application,
    count-desc/lexicographic argmax) replayed in pure Python must produce
    the identical merge table."""
    docs = [r.text for r in table(spark, sf_dir, "documents").select("text").collect()]
    vocab: dict[tuple[str, ...], int] = {}
    for tok, n in Counter(t for d in docs for t in _toks(d)).items():
        vocab[tuple(tok)] = n

    def apply(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    want: list[tuple[int, str, str, str, int]] = []
    for r in range(1, 11):
        pairs: Counter = Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((r, a, b, a + b, cnt))
        merged: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            key = apply(syms, a, b)
            merged[key] = merged.get(key, 0) + n
        vocab = merged

    got = registry.get("bpe_merge_sequence").fn(spark, sf_dir).collect()
    assert [(r.rnk, r.c1, r.c2, r.merged, r.pair_count) for r in got] == want


def test_bpe_encode_stats_matches_python_replay(spark, sf_dir):
    """Encode side: replay the merge loop in pure Python, apply all
    learned merges, and compare the resulting frequency-weighted symbol
    distribution (top-100, count-desc/lexicographic)."""
    docs = [r.text for r in table(spark, sf_dir, "documents").select("text").collect()]
    vocab: dict[tuple[str, ...], int] = {}
    for tok, n in Counter(t for d in docs for t in _toks(d)).items():
        vocab[tuple(tok)] = n

    def apply(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    for _ in range(10):
        pairs: Counter = Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (a, b), _cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merged: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            key = apply(syms, a, b)
            merged[key] = merged.get(key, 0) + n
        vocab = merged

    sym_counts: Counter = Counter()
    for syms, n in vocab.items():
        for s in syms:
            sym_counts[s] += n
    want = sorted(sym_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:100]

    got = registry.get("bpe_encode_stats").fn(spark, sf_dir).collect()
    got_sorted = sorted(got, key=lambda r: r.rnk)
    assert [(r.symbol, r.n_occ) for r in got_sorted] == want
    assert [r.rnk for r in got_sorted] == list(range(1, len(want) + 1))


def test_doc_unigram_logprob_matches_python_replay(spark, sf_dir):
    rows = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    vocab: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for r in rows:
        c = Counter(_toks(r.text))
        if c:
            per_doc[r.doc_id] = c
            vocab.update(c)
    total = float(sum(vocab.values()))

    def q(v: float) -> int:  # Spark round(): half away from zero
        s = v * _LP_SCALE
        return int(math.floor(s + 0.5)) if s >= 0 else -int(math.floor(-s + 0.5))

    lp_q = {t: q(math.log(n / total)) for t, n in vocab.items()}
    got = {
        r.doc_id: r
        for r in registry.get("doc_unigram_logprob").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, c in per_doc.items():
        n_tokens = sum(c.values())
        logprob_q = sum(k * lp_q[t] for t, k in c.items())
        r = got[doc_id]
        assert (r.n_tokens, r.logprob_q) == (n_tokens, logprob_q), doc_id
        assert r.avg_logprob == logprob_q / n_tokens / _LP_SCALE
        assert r.avg_logprob < 0  # probabilities < 1 -> negative log-prob


def test_doc_bigram_logprob_matches_python_replay(spark, sf_dir):
    """Interpolated bigram model (0.7·c12/n1 + 0.3·c1/T), log-prob
    quantized at the model level, exact integer sums per doc."""
    rows = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    uni: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for r in rows:
        ts = _toks(r.text)
        uni.update(ts)
        if len(ts) >= 2:
            per_doc[r.doc_id] = Counter(zip(ts, ts[1:]))
    total = float(sum(uni.values()))
    big: Counter = Counter()
    for c in per_doc.values():
        big.update(c)
    pre: Counter = Counter()
    for (w1, _), n in big.items():
        pre[w1] += n

    def q(v: float) -> int:  # Spark round(): half away from zero
        s = v * _LP_SCALE
        return int(math.floor(s + 0.5)) if s >= 0 else -int(math.floor(-s + 0.5))

    lp_q = {
        (w1, w2): q(math.log(0.7 * (n / pre[w1]) + 0.3 * (uni[w2] / total)))
        for (w1, w2), n in big.items()
    }
    got = {
        r.doc_id: r
        for r in registry.get("doc_bigram_logprob").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, c in per_doc.items():
        n_bigrams = sum(c.values())
        logprob_q = sum(k * lp_q[p] for p, k in c.items())
        r = got[doc_id]
        assert (r.n_bigrams, r.logprob_q) == (n_bigrams, logprob_q), doc_id
        assert r.avg_logprob == logprob_q / n_bigrams / _LP_SCALE
        # interpolated probs < 1 -> negative mean log-prob; and the bigram
        # model (knowing the previous word) should beat the unigram model
        # on average for at least most docs -- spot-check sign only here.
        assert r.avg_logprob < 0


def test_doc_bpe_token_budget_matches_python_replay(spark, sf_dir):
    """Replay the merge loop, then per doc: words and post-merge symbol
    counts summed exactly."""
    rows = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    word_counts: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for r in rows:
        c = Counter(_toks(r.text))
        if c:
            per_doc[r.doc_id] = c
            word_counts.update(c)
    vocab: dict[str, tuple[str, ...]] = {w: tuple(w) for w in word_counts}

    def apply(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    for _ in range(10):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += word_counts[w]
        if not pairs:
            break
        (a, b), _cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        vocab = {w: apply(s, a, b) for w, s in vocab.items()}

    got = {
        r.doc_id: r
        for r in registry.get("doc_bpe_token_budget").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, c in per_doc.items():
        n_words = sum(c.values())
        n_bpe = sum(k * len(vocab[w]) for w, k in c.items())
        r = got[doc_id]
        assert (r.n_words, r.n_bpe_tokens) == (n_words, n_bpe), doc_id
        assert r.tokens_per_word == n_bpe / n_words
        assert 1.0 <= r.tokens_per_word  # merges never split below 1/word


def test_bpe_merge_venues_identical(spark, sf_dir, monkeypatch):
    """The driver-local and distributed merge venues must produce the
    SAME merge table and the SAME post-merge vocabulary — the local fast
    path may never drift from the 100 TB path."""
    from imdbmapreduce_spark.operators import lm

    vocab_l, rows_l = lm._bpe_learn_uncached(spark, sf_dir, 6)
    monkeypatch.setattr(lm, "_BPE_LOCAL_VOCAB_CAP", 0)
    vocab_d, rows_d = lm._bpe_learn_uncached(spark, sf_dir, 6)
    assert rows_l == rows_d
    as_set = lambda df: {
        (r["tok"], r["seq"], r["n"]) for r in df.select("tok", "seq", "n").collect()
    }
    assert as_set(vocab_l) == as_set(vocab_d)


def test_bpe_persisted_tokenizer_cold_session_roundtrip(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Tokenizer lifecycle (round 7): train once, persist with the text
    index, and prove a cold session serves the IDENTICAL tokenizer from
    disk — the trainer is poisoned after the cache flush, so any
    retraining attempt fails loudly. Also pins the params guard: a
    different merge count refuses the stale artifact."""
    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.operators import lm
    from imdbmapreduce_spark.operators.dedup import _text_params, persist_text_index

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    release_shared_caches()
    try:
        vocab0, rows0 = lm._bpe_learn(spark, sf_dir)
        want_vocab = sorted(map(tuple, vocab0.select("tok", "seq", "n").collect()))
        persist_text_index(spark, sf_dir)
        m = indexstore.group_manifest(sf_dir, "text", _text_params())
        assert m is not None and "bpe_vocab" in m["artifacts"], m

        release_shared_caches()  # cold session: memo gone

        def _boom(*a, **k):
            raise AssertionError("BPE retrain attempted despite persisted tokenizer")

        monkeypatch.setattr(lm, "_bpe_learn_uncached", _boom)
        vocab1, rows1 = lm._bpe_learn(spark, sf_dir)
        assert rows1 == rows0
        assert sorted(map(tuple, vocab1.select("tok", "seq", "n").collect())) == want_vocab

        # params guard: a non-default merge count never serves the disk copy
        assert lm._bpe_load_persisted(spark, sf_dir, lm._BPE_MERGES + 1) is None
    finally:
        monkeypatch.undo()
        release_shared_caches()


def test_doc_trigram_logprob_matches_python_replay(spark, sf_dir):
    """3-way Jelinek-Mercer trigram model (0.6·c123/n12 + 0.3·c23/n2 +
    0.1·c3/T), log-prob quantized at the model level, exact integer
    sums per doc."""
    rows = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    uni: Counter = Counter()
    big: Counter = Counter()
    tri: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for r in rows:
        ts = _toks(r.text)
        uni.update(ts)
        big.update(zip(ts, ts[1:]))
        if len(ts) >= 3:
            per_doc[r.doc_id] = Counter(zip(ts, ts[1:], ts[2:]))
            tri.update(zip(ts, ts[1:], ts[2:]))
    total = float(sum(uni.values()))
    pre12: Counter = Counter()
    for (w1, w2, _), n in tri.items():
        pre12[(w1, w2)] += n
    pre1: Counter = Counter()
    for (w1, _), n in big.items():
        pre1[w1] += n

    def q(v: float) -> int:  # Spark round(): half away from zero
        s = v * _LP_SCALE
        return int(math.floor(s + 0.5)) if s >= 0 else -int(math.floor(-s + 0.5))

    lp_q = {
        (w1, w2, w3): q(
            math.log(
                0.6 * (n / pre12[(w1, w2)])
                + 0.3 * (big[(w2, w3)] / pre1[w2])
                + 0.1 * (uni[w3] / total)
            )
        )
        for (w1, w2, w3), n in tri.items()
    }
    got = {
        r.doc_id: r
        for r in registry.get("doc_trigram_logprob").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, c in per_doc.items():
        n_trigrams = sum(c.values())
        logprob_q = sum(k * lp_q[p] for p, k in c.items())
        r = got[doc_id]
        assert (r.n_trigrams, r.logprob_q) == (n_trigrams, logprob_q), doc_id
        assert r.avg_logprob == logprob_q / n_trigrams / _LP_SCALE
        assert r.avg_logprob < 0


def test_doc_5gram_logprob_matches_python_replay(spark, sf_dir):
    """5-way Jelinek-Mercer 5-gram model (0.4/0.25/0.2/0.1/0.05 across
    the five conditionals, each normalized by its true prefix count),
    log-prob quantized at the model level, exact integer sums per doc —
    the CCNet deployment order."""
    from imdbmapreduce_spark.operators.lm import _MIX5

    rows = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    counts = [Counter() for _ in range(6)]  # index n = corpus n-gram counts
    per_doc: dict[int, Counter] = {}
    for r in rows:
        ts = _toks(r.text)
        for n in range(1, 6):
            counts[n].update(zip(*[ts[i:] for i in range(n)]))
        if len(ts) >= 5:
            per_doc[r.doc_id] = Counter(zip(*[ts[i:] for i in range(5)]))
    total = float(sum(counts[1].values()))
    pre = [Counter() for _ in range(6)]  # prefix counts of the n-gram tables
    for n in range(2, 6):
        for g, k in counts[n].items():
            pre[n][g[:-1]] += k

    def q(v: float) -> int:  # Spark round(): half away from zero
        s = v * _LP_SCALE
        return int(math.floor(s + 0.5)) if s >= 0 else -int(math.floor(-s + 0.5))

    l5, l4, l3, l2, l1 = _MIX5
    lp_q = {
        g: q(
            math.log(
                l5 * (k / pre[5][g[:4]])
                + l4 * (counts[4][g[1:]] / pre[4][g[1:4]])
                + l3 * (counts[3][g[2:]] / pre[3][g[2:4]])
                + l2 * (counts[2][g[3:]] / pre[2][g[3:4]])
                + l1 * (counts[1][g[4:]] / total)
            )
        )
        for g, k in counts[5].items()
    }
    got = {
        r.doc_id: r
        for r in registry.get("doc_5gram_logprob").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, c in per_doc.items():
        n_5grams = sum(c.values())
        logprob_q = sum(k * lp_q[g] for g, k in c.items())
        r = got[doc_id]
        assert (r.n_5grams, r.logprob_q) == (n_5grams, logprob_q), doc_id
        assert r.avg_logprob == logprob_q / n_5grams / _LP_SCALE
        assert r.avg_logprob < 0


def test_doc_kn_bigram_logprob_matches_python_replay(spark, sf_dir):
    """Kneser-Ney bigram model: absolute discount D=0.75, continuation
    probability over distinct left contexts, quantized at the model
    level, exact integer sums per doc."""
    rows = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    big: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for r in rows:
        ts = _toks(r.text)
        if len(ts) >= 2:
            per_doc[r.doc_id] = Counter(zip(ts, ts[1:]))
            big.update(zip(ts, ts[1:]))
    n1: Counter = Counter()
    r1: Counter = Counter()
    l2: Counter = Counter()
    for (w1, w2), n in big.items():
        n1[w1] += n
        r1[w1] += 1
        l2[w2] += 1
    n_types = float(len(big))

    def q(v: float) -> int:
        s = v * _LP_SCALE
        return int(math.floor(s + 0.5)) if s >= 0 else -int(math.floor(-s + 0.5))

    D = 0.75
    lp_q = {
        (w1, w2): q(
            math.log(
                (n - D) / n1[w1] + (D * r1[w1] / n1[w1]) * (l2[w2] / n_types)
            )
        )
        for (w1, w2), n in big.items()
    }
    got = {
        r.doc_id: r
        for r in registry.get("doc_kn_bigram_logprob").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, c in per_doc.items():
        n_bigrams = sum(c.values())
        logprob_q = sum(k * lp_q[p] for p, k in c.items())
        r = got[doc_id]
        assert (r.n_bigrams, r.logprob_q) == (n_bigrams, logprob_q), doc_id
        assert r.avg_logprob == logprob_q / n_bigrams / _LP_SCALE
        assert r.avg_logprob < 0


def test_ccnet_perplexity_buckets_matches_python_replay(spark, sf_dir):
    """Bucket labels replayed in pure Python from the registered bigram
    scores: floor-divide to the integer score, take the order statistics
    at ranks ceil(n/3) / ceil(2n/3), label by value comparison."""
    import math as _m

    scores = {
        r.doc_id: (r.logprob_q, r.n_bigrams)
        for r in registry.get("doc_bigram_logprob").fn(spark, sf_dir).collect()
    }
    avg_q = {d: _m.floor(lp / n) for d, (lp, n) in scores.items()}
    ordered = sorted(avg_q.values())
    n = len(ordered)
    c1 = ordered[_m.ceil(0.3333333333333333 * n) - 1]
    c2 = ordered[_m.ceil(0.6666666666666666 * n) - 1]
    want = {
        d: ("tail" if q <= c1 else "middle" if q <= c2 else "head")
        for d, q in avg_q.items()
    }

    got = registry.get("ccnet_perplexity_buckets").fn(spark, sf_dir).collect()
    assert {r.doc_id: r.avg_q for r in got} == avg_q
    assert {r.doc_id: r.ppl_bucket for r in got} == want
    # every bucket is populated and head scores strictly beat tail scores
    by_bucket: dict[str, list[int]] = {}
    for r in got:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.avg_q)
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert min(by_bucket["head"]) > max(by_bucket["tail"])


_LM_LADDER = {
    "doc_unigram_logprob": "n_tokens",
    "doc_bigram_logprob": "n_bigrams",
    "doc_trigram_logprob": "n_trigrams",
    "doc_5gram_logprob": "n_5grams",
    "doc_kn_bigram_logprob": "n_bigrams",
    "ccnet_perplexity_buckets": None,
}


def _ladder_dtypes(name: str) -> list[tuple[str, str]]:
    n_col = _LM_LADDER[name]
    if n_col is None:
        return [("doc_id", "bigint"), ("avg_q", "bigint"), ("ppl_bucket", "string")]
    return [
        ("doc_id", "bigint"),
        (n_col, "bigint"),
        ("logprob_q", "bigint"),
        ("avg_logprob", "double"),
    ]


def test_lm_ladder_plans_build_without_jobs(spark, sf_dir):
    """Once its session caches exist, building an LM query's plan runs
    no Spark job: the corpus totals, Kneser-Ney's type count and the
    CCNet cutoffs are broadcast one-row aggregates inside the plan, not
    scalars fetched to the driver."""
    sc = spark.sparkContext
    fired = {}
    for name in _LM_LADDER:
        fn = registry.get(name).fn
        fn(spark, sf_dir).collect()  # warm: builds the shared count tables
        group = f"lm-plan-build:{name}"
        sc.setJobGroup(group, "LM plan build")
        try:
            df = fn(spark, sf_dir)
        finally:
            fired[name] = list(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup(None, None)
        assert df.dtypes == _ladder_dtypes(name), name
    assert fired == {name: [] for name in _LM_LADDER}


def test_lm_ladder_on_an_all_empty_corpus(spark, tmp_path):
    """Documents that all tokenize empty give every LM query zero rows
    with its usual columns and types (no early return needed: the empty
    per-document count tables carry the empty result through)."""
    from imdbmapreduce_spark.cache import release_shared_caches

    spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "")], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    try:
        for name in _LM_LADDER:
            df = registry.get(name).fn(spark, str(tmp_path))
            assert df.dtypes == _ladder_dtypes(name), name
            assert df.collect() == [], name
    finally:
        release_shared_caches()


def test_unigram_tokenizer_encode_matches_python_viterbi(spark, sf_dir):
    """Full pure-Python replay of the unigram tokenizer: substring-count
    vocabulary seeding, 1e-6-quantized piece log-probs, and per-word
    Viterbi (max score, ties to fewest pieces) — the packed-int64 DP in
    the engine must reproduce the explicit tuple DP exactly."""
    from collections import Counter

    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.operators.lm import (
        _UNI_MAXP,
        _UNI_MAXW,
        _UNI_V,
    )

    docs = [
        (r.doc_id, r.text)
        for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    ]
    dt: dict[int, Counter] = {}
    words: Counter = Counter()
    for did, text in docs:
        toks = _toks(text)
        assert all(len(t) <= _UNI_MAXW for t in toks)  # the DP-horizon contract
        c = Counter(toks)
        if c:
            dt[did] = c
            words.update(c)

    pcnt: Counter = Counter()
    for w, wc in words.items():
        for i in range(len(w)):
            for ln in range(1, min(_UNI_MAXP, len(w) - i) + 1):
                pcnt[w[i : i + ln]] += wc
    chars = {p: c for p, c in pcnt.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in pcnt.items() if len(p) >= 2),
        key=lambda pc: (-pc[1], pc[0]),
    )[: _UNI_V - len(chars)]
    vocab = dict(chars)
    vocab.update(dict(multis))
    total = float(sum(vocab.values()))

    def q(v: float) -> int:
        s = v * _LP_SCALE
        return int(math.floor(s + 0.5)) if s >= 0 else -int(math.floor(-s + 0.5))

    lp = {p: q(math.log(c / total)) for p, c in vocab.items()}

    def viterbi(w: str) -> tuple[int, int]:
        best: list[tuple[int, int] | None] = [None] * (len(w) + 1)
        best[0] = (0, 0)
        for j in range(1, len(w) + 1):
            cand = [
                (best[i][0] + lp[w[i:j]], best[i][1] + 1)
                for i in range(max(0, j - _UNI_MAXP), j)
                if best[i] is not None and w[i:j] in lp
            ]
            best[j] = max(cand, key=lambda sn: (sn[0], -sn[1]))
        return best[len(w)]  # type: ignore[return-value]

    want = {}
    for did, c in dt.items():
        nt = np_ = sq = 0
        for w, k in c.items():
            s, n = viterbi(w)
            nt += k
            np_ += k * n
            sq += k * s
        want[did] = (nt, np_, sq)

    got = {
        r.doc_id: (r.n_tokens, r.n_pieces, r.score_q)
        for r in registry.get("unigram_tokenizer_encode").fn(spark, sf_dir).collect()
    }
    assert got == want
    # the tokenizer actually merges: strictly fewer pieces than chars
    n_chars_total = sum(k * len(w) for c in dt.values() for w, k in c.items())
    assert sum(v[1] for v in got.values()) < n_chars_total
