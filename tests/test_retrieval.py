"""BM25 retrieval: crafted-corpus score values (independent Python
reference), ranking order, absence semantics, and NULL-text robustness."""

import math

import pytest

from temporalvault_spark.operators.retrieval import bm25_topk


def _bm25_ref(corpus, terms, k1=1.2, b=0.75):
    """Independent plain-Python BM25 (no micro-unit trick) for comparison."""
    toks = {d: t.strip().lower().split(" ") for d, t in corpus if t is not None}
    n = len(corpus)
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / len(dls)
    out = {}
    for d, t in toks.items():
        score, hits = 0.0, 0
        for term in terms:
            tf = t.count(term)
            if tf == 0:
                continue
            df = sum(1 for tt in toks.values() if term in tt)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[d] / avgdl))
            hits += 1
        if hits:
            out[d] = (score, hits)
    return out


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, "apple banana apple", "en", "s", 18),
        (2, "banana", "en", "s", 6),
        (3, "cherry cherry", "en", "s", 13),
        (4, None, "en", "s", 0),  # NULL text: no hits, and must not skew avgdl
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_bm25_scores_match_reference(spark, corpus):
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms_hit"])
        for r in bm25_topk(corpus, terms=("apple", "banana"), k=10).collect()
    }
    ref = _bm25_ref(
        [(1, "apple banana apple"), (2, "banana"), (3, "cherry cherry"), (4, None)],
        ("apple", "banana"),
    )
    assert set(got) == set(ref) == {1, 2}  # cherry-only and NULL docs absent
    for d in ref:
        assert got[d][0] == pytest.approx(ref[d][0], abs=3e-6)
        assert got[d][1] == ref[d][1]


def test_bm25_rank_and_k(spark, corpus):
    rows = bm25_topk(corpus, terms=("apple", "banana"), k=1).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 1  # two terms + higher tf beats one term


def test_bm25_length_normalization(spark):
    """Same tf, shorter doc scores higher (that's the b term working)."""
    rows = [
        (1, "hash " + "pad " * 20 + "end", "en", "s", 1),
        (2, "hash end", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, terms=("hash",)).collect()}
    assert got[2] > got[1]


def test_rrf_fuse_matches_hand_computation(spark):
    """Crafted lists: fusion scores equal Σ 1/(K + rank) computed by hand,
    including a doc present in only one list."""
    from pyspark.sql import functions as F

    from temporalvault_spark.operators.retrieval import RRF_K, rrf_fuse

    lex = spark.createDataFrame(
        [(10, 3.0), (20, 2.0), (30, 1.0)], "doc_id bigint, bm25 double"
    )
    den = spark.createDataFrame(
        [(20, 0.9), (40, 0.8)], "doc_id bigint, cosine double"
    )
    got = {
        r["doc_id"]: (r["r_lex"], r["r_dense"], r["rrf"])
        for r in rrf_fuse(lex, den, k=10).collect()
    }
    exp = {
        10: (1, None, round(1.0 / (RRF_K + 1), 6)),
        20: (2, 1, round(1.0 / (RRF_K + 2) + 1.0 / (RRF_K + 1), 6)),
        30: (3, None, round(1.0 / (RRF_K + 3), 6)),
        40: (None, 2, round(1.0 / (RRF_K + 2), 6)),
    }
    assert got == exp
    # doc 20 (in both lists) must outrank every single-list doc
    top = max(got, key=lambda d: got[d][2])
    assert top == 20


def test_rrf_rank_ties_break_on_doc_id(spark):
    """Equal scores rank by doc_id ascending — the oracle's convention."""
    from temporalvault_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(5, 1.0), (3, 1.0)], "doc_id bigint, bm25 double"
    )
    den = spark.createDataFrame([], "doc_id bigint, cosine double")
    got = {r["doc_id"]: r["r_lex"] for r in rrf_fuse(lex, den).collect()}
    assert got == {3: 1, 5: 2}


def test_bm25_base_cache_tracks_corpus_rewrites(spark, tmp_path):
    """The session-staged BM25 base must restage when the documents source
    is rewritten (the staging.fingerprint freshness contract shared with
    every staged artifact)."""
    import os
    import shutil

    from temporalvault_spark.staging import fingerprint

    d = str(tmp_path)
    shutil.copy("/root/testdata/sf0.001/documents.parquet", f"{d}/documents.parquet")
    k1 = (*fingerprint(spark, d, ("documents",)), ("a", "b"))
    os.utime(f"{d}/documents.parquet", ns=(1, 1))  # simulate rewrite
    k2 = (*fingerprint(spark, d, ("documents",)), ("a", "b"))
    assert k1 != k2
    # and distinct term tuples never share an entry
    k3 = (*fingerprint(spark, d, ("documents",)), ("a", "c"))
    assert k2 != k3


def test_rrf_fuse_matches_python_replay_randomized(spark):
    """Randomized differential: fusion of arbitrary score lists (ties,
    disjoint/overlapping ids, unequal lengths) must equal a pure-Python
    replay of the RRF recurrence, trial after trial."""
    import random

    from temporalvault_spark.operators.retrieval import RRF_K, rrf_fuse

    rng = random.Random(42)
    for trial in range(5):
        n_lex, n_den = rng.randint(0, 12), rng.randint(0, 12)
        lex = [(rng.randint(0, 15), round(rng.choice([1.0, 2.0, 3.5]), 2))
               for _ in range(n_lex)]
        lex = list({d: s for d, s in lex}.items())  # unique doc ids
        den = [(rng.randint(0, 15), round(rng.random(), 3)) for _ in range(n_den)]
        den = list({d: s for d, s in den}.items())

        def ranks(lst):
            orderd = sorted(lst, key=lambda t: (-t[1], t[0]))
            return {d: i + 1 for i, (d, _s) in enumerate(orderd)}

        rl, rd = ranks(lex), ranks(den)
        want = {}
        for d in set(rl) | set(rd):
            s = (1.0 / (RRF_K + rl[d]) if d in rl else 0.0) + (
                1.0 / (RRF_K + rd[d]) if d in rd else 0.0
            )
            want[d] = (rl.get(d), rd.get(d), round(s, 6))
        want_top = dict(sorted(want.items(), key=lambda kv: (-kv[1][2], kv[0]))[:20])

        ldf = spark.createDataFrame(lex or [(None, None)], "doc_id bigint, bm25 double")
        if not lex:
            ldf = ldf.filter("doc_id IS NOT NULL")
        ddf = spark.createDataFrame(den or [(None, None)], "doc_id bigint, cosine double")
        if not den:
            ddf = ddf.filter("doc_id IS NOT NULL")
        got = {
            r["doc_id"]: (r["r_lex"], r["r_dense"], r["rrf"])
            for r in rrf_fuse(ldf, ddf).collect()
        }
        assert got == want_top, (trial, lex, den, got, want_top)


def test_idf_literals_match_in_engine_scores(spark, corpus, sf_dir):
    """The driver-precomputed idf literal path must score EXACTLY like the
    in-engine ln path (same micro-unit quantization) — on a crafted corpus
    and on the real documents table — and every literal must clear the .5
    rounding-boundary margin that makes the parity libm-proof."""
    import math

    from temporalvault_spark.operators.retrieval import (
        BM25_IDF_BOUNDARY_MARGIN,
        BM25_QUERY_TERMS,
        _bm25_idf_literals,
        bm25_base,
        bm25_scores,
    )

    for docs, terms in (
        (corpus, ("apple", "banana")),
        (
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            BM25_QUERY_TERMS,
        ),
    ):
        base = bm25_base(docs, terms)
        lits = _bm25_idf_literals(base, terms)
        for t, v in lits.items():
            y = v * 1e6
            assert y == round(y), (t, v)  # exact micro-unit multiple
        in_engine = {
            r["doc_id"]: (r["bm25"], r["n_terms_hit"])
            for r in bm25_scores(docs, terms, base=base).collect()
        }
        literal = {
            r["doc_id"]: (r["bm25"], r["n_terms_hit"])
            for r in bm25_scores(docs, terms, base=base, idf=lits).collect()
        }
        assert literal == in_engine  # exact equality, not approx
        # and the boundary margin actually holds on this data
        n = base.count()
        for t in lits:
            # re-derive df the way the builder does and check the margin
            df = (
                base.selectExpr("doc_id", "explode(qtoks) AS term")
                .filter(f"term = '{t}'")
                .select("doc_id")
                .distinct()
                .count()
            )
            y = math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 1e6
            assert abs((y - math.floor(y)) - 0.5) > BM25_IDF_BOUNDARY_MARGIN


def test_idf_boundary_guard_raises(monkeypatch, spark, corpus):
    """A ln value landing on the .5 micro-unit boundary must fail loudly,
    never hash silently differently."""
    import math

    import temporalvault_spark.operators.retrieval as retrieval

    real_log = math.log
    real_floor = math.floor

    def poisoned(x, *a):
        # force the scaled value onto an exact .5 boundary
        return (real_floor(real_log(x) * 1e6) + 0.5) / 1e6 if not a else real_log(x, *a)

    monkeypatch.setattr(math, "log", poisoned)
    base = retrieval.bm25_base(corpus, ("apple",))
    with pytest.raises(ValueError, match="rounding"):
        retrieval._bm25_idf_literals(base, ("apple",))
