"""Retrieval scoring over the documents corpus: Okapi BM25 top-k and
hybrid (lexical + dense) reciprocal-rank fusion.

The reference exposes no search endpoint, but a training-data engine needs
ranked retrieval for decontamination triage and eval-set mining (the same
role TF-IDF plays in llm.py:1560 — BM25 adds document-length normalization
and saturating term frequency, the standard lexical-ranking baseline).
``retrieval_rrf_topk`` then fuses the BM25 ranking with the dense cosine
ranking (similarity.py) by reciprocal-rank fusion — the standard hybrid
composition (score = Σ 1/(K + rank), Cormack et al.'s RRF) a miner actually
runs, robust to the two scores living on incomparable scales.

Scale shape (100 TB corpus, |Q| query terms):
  - the exploded token stream is filtered to the |Q| query terms BEFORE any
    aggregation, so every shuffle downstream carries at most |Q| rows per
    document, never per token;
  - corpus statistics (N, avgdl) are a one-row frame cross-joined as a
    broadcast — no ``.collect()`` round trip, the plan stays declarative;
  - per-term document frequencies (≤ |Q| rows) broadcast-join onto the
    term-frequency frame;
  - every top-k plans as TakeOrderedAndProject (no total sort); the RRF
    rank windows run AFTER the top-DEPTH cut, so the single-partition
    row_number touches ≤ DEPTH rows by construction.

Oracle parity: per-term contributions are scaled to integer micro-units
(ROUND(x * 1e6) AS BIGINT) before the per-document sum, so the sum is exact
and ASSOCIATIVE — Spark's and DuckDB's different aggregation orders cannot
produce last-ulp drift. The one transcendental (idf's ln) never runs on the
JVM in the registered queries: df takes ≤|Q| distinct values, so the
engine reads the (term, df) rows once driver-side (a bounded ≤|Q|-row
collect — the PageRank n_nodes precedent), computes the quantized idf in
PYTHON (math.log — the EWMA precedent of precomputing transcendentals,
hypertable.py), and embeds the exact doubles as constant-folded literals
in the Spark plan. The oracle's in-engine ln then compares against
CPython's — BOTH bind the same system libm, eliminating the JVM
Math.log/StrictMath unknown entirely — and `_bm25_idf_literals` ASSERTS
that each ln(x)·1e6 sits further than BM25_IDF_BOUNDARY_MARGIN from a .5
rounding boundary (vs ≤ a-few-ulp ≈ 1e-8 cross-libm drift at this
magnitude), so on data where any conforming libm could disagree the build
fails loudly instead of hashing differently. The in-engine idf path
remains for ad-hoc frames; tests pin literal == in-engine score equality.
Downstream ops are correctly-rounded IEEE arithmetic on identical doubles.
Ranking ties break on doc_id in both engines; RRF's 1/(K+rank) terms are
exact-integer-input divisions summed in a fixed written order, so the
fusion adds no float risk of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.constants import SIM_PROBE_VEC_ID
from temporalvault_spark.registry import query

# Fixed query — part of the operator contract (the registered query must be
# deterministic; callers use bm25_topk() below with their own terms).
BM25_QUERY_TERMS = ("hash", "join", "spark", "window", "scan")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20

RRF_K = 60  # the standard RRF constant
RRF_DEPTH = 50  # per-retriever list depth fed into the fusion
RRF_TOPK = 20


def bm25_base(docs: DataFrame, terms: tuple[str, ...] = BM25_QUERY_TERMS) -> DataFrame:
    """(doc_id, dl, qtoks): per-doc token length + the query-term-filtered
    token list, checkpointed from ONE fanned-out corpus pass.

    Why it exists: the scored frame reuses doc lengths twice (corpus
    stats, length norm) and the hit stream twice (tf, df), and two of
    those uses are BROADCAST subtrees that execute as their own jobs —
    without materialization the corpus tokenize re-ran FOUR times
    sequentially (measured 15s cold at sf0.1, where the single-file corpus
    scans on one thread). The checkpointed frame is tiny: (int, int,
    ≤|Q|-term array) per doc. The repartition is the module-wide
    single-file-testdata rule (as in shingle_signatures); at 100 TB
    splittable input makes it an ordinary read-parallelism choice.
    Registered consumers cache this per (appId, corpus signature, terms) —
    the llm.py staging contract — so bm25_topk and the RRF fusion share
    one corpus pass per session."""
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(n_parts)
        .select(
            "doc_id",
            # NULL text yields NULL (size() would give -1) so the corpus
            # average skips it, matching SQL semantics
            F.when(F.col("text").isNull(), F.lit(None))
            .otherwise(F.size(toks))
            .alias("dl"),
            F.filter(toks, lambda t: t.isin(*terms)).alias("qtoks"),
        )
        .localCheckpoint(eager=True)
    )


_BM25_BASE_CACHE: dict[tuple, DataFrame] = {}
_BM25_IDF_CACHE: dict[tuple, dict[str, float]] = {}

# ln(x)·1e6 must sit at least this far from a .5 rounding boundary for the
# driver-side literal idf to be provably round-identical to ANY conforming
# libm's in-engine evaluation (cross-libm drift at this magnitude is ≤ a few
# ulps ≈ 1e-8; the margin is 100x that)
BM25_IDF_BOUNDARY_MARGIN = 1e-6


def _bm25_base_cached(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...] = BM25_QUERY_TERMS
) -> DataFrame:
    """Session-staged bm25_base over the documents table, keyed on
    (staging.fingerprint of the corpus, terms), so an in-process corpus
    rewrite restages."""
    from temporalvault_spark.staging import fingerprint

    key = (*fingerprint(spark, sf_dir, ("documents",)), terms)
    base = _BM25_BASE_CACHE.get(key)
    if base is None:
        base = bm25_base(load_catalog(spark, sf_dir).table("documents"), terms)
        _BM25_BASE_CACHE[key] = base
    return base


def _bm25_idf_literals(base: DataFrame, terms: tuple[str, ...]) -> dict[str, float]:
    """term -> quantized idf double, computed DRIVER-SIDE from one bounded
    read of the checkpointed base: n_docs plus the ≤|terms| (term, df) rows.
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (Robertson-Sparck Jones,
    always > 0 here since the argument > 1), half-up-quantized to integer
    micro-units exactly as the in-engine path and the oracle do.

    Raises if any ln(x)·1e6 lands within BM25_IDF_BOUNDARY_MARGIN of a .5
    rounding boundary — the one spot where two conforming libms could
    round to different micro-units (module docstring). Terms absent from
    the corpus produce no tf rows downstream, so they need no entry."""
    import math

    # df per term from the base's qtoks: explode, count distinct docs
    dfs = {
        r["term"]: r["df"]
        for r in base.select(F.explode("qtoks").alias("term"), "doc_id")
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .collect()  # bounded: ≤|terms| rows
    }
    n = base.count()  # the checkpointed slim frame: a metadata-cheap count
    out: dict[str, float] = {}
    for t, df in dfs.items():
        y = math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 1e6
        frac = y - math.floor(y)
        if abs(frac - 0.5) <= BM25_IDF_BOUNDARY_MARGIN:
            raise ValueError(
                f"BM25 idf for term {t!r} (N={n}, df={df}) lands within "
                f"{BM25_IDF_BOUNDARY_MARGIN} of a .5 micro-unit rounding "
                "boundary — cross-libm parity cannot be guaranteed; "
                "adjust the quantization scale for this corpus"
            )
        out[t] = math.floor(y + 0.5) / 1e6  # HALF_UP, matching both engines
    return out


def _bm25_idf_cached(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...] = BM25_QUERY_TERMS
) -> dict[str, float]:
    """Session-cached idf literal map, derived from the cached base under
    the same freshness key."""
    from temporalvault_spark.staging import fingerprint

    key = (*fingerprint(spark, sf_dir, ("documents",)), terms)
    idf = _BM25_IDF_CACHE.get(key)
    if idf is None:
        idf = _bm25_idf_literals(_bm25_base_cached(spark, sf_dir, terms), terms)
        _BM25_IDF_CACHE[key] = idf
    return idf


def bm25_scores(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    base: DataFrame | None = None,
    idf: dict[str, float] | None = None,
) -> DataFrame:
    """(doc_id, bm25, n_terms_hit) for every document matching ≥1 query
    term — the unlimited scored frame bm25_topk and the RRF fusion rank.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))  (Robertson-Sparck Jones,
    guarded positive), tf saturation k1, length normalization b.
    ``base``: a prebuilt bm25_base frame (registered queries pass the
    session-cached one; ad-hoc callers let it build inline).
    ``idf``: precomputed quantized idf literals from ``_bm25_idf_literals``
    (MUST derive from the same base frame — the registered path); ``None``
    computes idf in-engine from the same frame. Both paths quantize to the
    same micro-units; tests pin their score equality."""
    if base is None:
        base = bm25_base(docs, terms)
    dl = base.select("doc_id", "dl")
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )  # one row, broadcast below
    hits = base.select("doc_id", F.explode("qtoks").alias("term"))
    tf = hits.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    if idf is not None:
        # driver-precomputed literal map: term -> exact quantized double
        # (constant-folded; no df join, no in-engine transcendental)
        idf_map = F.create_map(
            *[F.lit(x) for t, v in sorted(idf.items()) for x in (t, v)]
        )
        scored_in = tf.join(dl, "doc_id").crossJoin(F.broadcast(stats))
        idf_q = F.element_at(idf_map, F.col("term"))
    else:
        # tf has exactly one row per (doc, term), so document frequency is a
        # plain count over tf — no second pass over the hit stream
        df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
        scored_in = (
            tf.join(F.broadcast(df_), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
        )
        # idf quantized to micro-units — identical quantization to the
        # literal path (module docstring has the parity contract)
        idf_q = (
            F.round(
                F.log(
                    1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * 1e6
            ).cast("bigint")
            / 1e6
        )
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib = scored_in.select(
        "doc_id",
        F.round(idf_q * tf_norm * 1e6).cast("bigint").alias("contrib_u"),
    )
    return contrib.groupBy("doc_id").agg(
        F.round(F.sum("contrib_u") / 1e6, 6).alias("bm25"),
        F.count("*").alias("n_terms_hit"),
    )


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
    base: DataFrame | None = None,
    idf: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k documents by Okapi BM25 for a bag-of-terms query. Documents
    containing none of the query terms are absent from the ranking."""
    scored = bm25_scores(docs, terms, k1, b, base=base, idf=idf)
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)


def _bm25_scored_sql(terms: tuple[str, ...] = BM25_QUERY_TERMS) -> str:
    """DuckDB CTE chain ending in ``scored(doc_id, bm25, n_terms_hit)`` —
    shared verbatim by the bm25_topk and retrieval_rrf_topk oracles so the
    scoring formula cannot drift between them."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""dl AS (
        SELECT doc_id, len(string_split(lower(trim(text)), ' ')) AS dl
        FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    hits AS (
        SELECT doc_id, term
        FROM (SELECT doc_id,
                     unnest(string_split(lower(trim(text)), ' ')) AS term
              FROM documents)
        WHERE term IN ({term_list})),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
    contrib AS (
        SELECT tf.doc_id,
               CAST(ROUND(
                   (CAST(ROUND(ln(1.0 + (stats.n_docs - df.df + 0.5)
                                   / (df.df + 0.5)) * 1e6) AS BIGINT) / 1e6)
                   * (tf.tf * ({BM25_K1} + 1.0))
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * dl.dl / stats.avgdl))
                   * 1e6) AS BIGINT) AS contrib_u
        FROM tf
        JOIN df USING (term)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats),
    scored AS (
        SELECT doc_id,
               ROUND(SUM(contrib_u) / 1e6, 6) AS bm25,
               COUNT(*) AS n_terms_hit
        FROM contrib GROUP BY doc_id)"""


@query(
    "bm25_topk",
    f"""WITH {_bm25_scored_sql()}
    SELECT doc_id, bm25, n_terms_hit FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}""",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered BM25 ranking with the fixed 5-term query (module
    constant); consumes the session-staged corpus pass and the
    driver-precomputed idf literals (module docstring's parity contract)."""
    return bm25_topk(
        load_catalog(spark, sf_dir).table("documents"),
        base=_bm25_base_cached(spark, sf_dir),
        idf=_bm25_idf_cached(spark, sf_dir),
    )


def rrf_fuse(
    lex_topk: DataFrame,
    dense_topk: DataFrame,
    rrf_k: int = RRF_K,
    k: int = RRF_TOPK,
) -> DataFrame:
    """Reciprocal-rank fusion of two already-cut ranked lists.

    ``lex_topk``: (doc_id, bm25-ordered rows, ≤ DEPTH); ``dense_topk``:
    (doc_id, cosine-ordered rows, ≤ DEPTH). Each list is ranked by a
    row_number window over its own ordering — single-partition, but over a
    frame bounded at DEPTH rows by construction (the scalable
    TakeOrderedAndProject cut already happened upstream), so the
    "global window" anti-pattern does not apply. Fusion is a full outer
    join on doc_id; a doc missing from one list simply contributes no term.
    """
    lex_r = lex_topk.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("bigint")
        .alias("r_lex"),
    )
    den_r = dense_topk.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("doc_id")))
        .cast("bigint")
        .alias("r_dense"),
    )
    rrf = F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("r_lex")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("r_dense")), F.lit(0.0)
    )
    return (
        lex_r.join(den_r, "doc_id", "full_outer")
        .select("doc_id", "r_lex", "r_dense", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(k)
    )


@query(
    "retrieval_rrf_topk",
    f"""WITH {_bm25_scored_sql()},
    lex AS (SELECT doc_id, bm25 FROM scored
            ORDER BY bm25 DESC, doc_id LIMIT {RRF_DEPTH}),
    lexr AS (SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
             FROM lex),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
          WHERE embedding IS NOT NULL
            AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    p AS (SELECT e FROM e WHERE vec_id = {SIM_PROBE_VEC_ID}),
    den AS (SELECT a.vec_id AS doc_id,
                   list_dot_product(a.e, p.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(p.e, p.e))) AS cosine
            FROM e a CROSS JOIN p
            ORDER BY cosine DESC, a.vec_id LIMIT {RRF_DEPTH}),
    denr AS (SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS r_dense
             FROM den)
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.r_lex), 0.0)
                 + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + d.r_dense), 0.0),
                 6) AS rrf
    FROM lexr l FULL OUTER JOIN denr d ON l.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}""",
)
def q_retrieval_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF fusion of the BM25 lexical ranking (fixed
    5-term query over documents) and the dense cosine ranking (fixed probe
    vector over embeddings — the two tables share the 0-based id space, so
    vec_id IS the doc_id). Each retriever contributes its top-{RRF_DEPTH};
    fusion scores are Σ 1/({RRF_K} + rank) over the lists containing the
    doc. Both inputs are deterministic and oracle-checked on their own
    (bm25_topk, sim_topk_cosine); the fusion adds only integer-rank
    arithmetic, so the whole composition carries a full value-hash oracle."""
    from temporalvault_spark.operators.similarity import _emb, cosine_scores

    docs = load_catalog(spark, sf_dir).table("documents")
    lex = (
        bm25_scores(
            docs,
            base=_bm25_base_cached(spark, sf_dir),
            idf=_bm25_idf_cached(spark, sf_dir),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
    )
    emb = _emb(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == SIM_PROBE_VEC_ID)
    den = (
        cosine_scores(emb, probe)
        .select(F.col("vec_id").alias("doc_id"), "cosine")
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
    )
    return rrf_fuse(lex, den)
