"""Corpus-preparation operators for LLM training-data pipelines:
document chunking and Gopher-style repetition/quality rules.

These extend the reference surface (which has none of this — it is a
temporal KV API, /root/reference/app/main.py) with the operations a
large-scale pretraining pipeline runs over a document corpus before
tokenization: split documents into overlapping token windows, and score/
filter them with the repetition heuristics of Gopher (Rae et al. 2021,
arXiv:2112.11446 §A1.1) / C4 (Raffel et al. 2020).

Scale notes (the design constraint, per BASELINE.json's 100 TB north star):
  * Chunking is embarrassingly parallel — a generate+explode per row, no
    shuffle at all; output partitioning inherits the scan.
  * The repetition scores need per-(doc, token) counts. That is expressed as
    explode → two-level aggregation, NOT as a per-doc UDF: the first
    aggregation (doc_id, token) map-side combines inside each scan
    partition, so the shuffle carries counts, never token lists; the
    second (doc_id) reduces ≤ |vocab-per-doc| rows per doc. Both stages are
    whole-stage-codegen'd JVM builtins; Python never touches the tokens.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.operators.index_common import quant6_sql
from temporalvault_spark.registry import query

CHUNK_TOKENS = 32
CHUNK_STRIDE = 16

# Gopher-style keep thresholds, tuned so the synthetic corpus splits
# (each rule individually rejects a nontrivial slice at sf0.01).
MIN_TOKENS = 30
MAX_TOKENS = 100_000
MEAN_LEN_LO = 3.0
MEAN_LEN_HI = 10.0
TOP_TOKEN_FRAC_MAX = 0.12
TOP_BIGRAM_FRAC_MAX = 0.10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_catalog(spark, sf_dir).table("documents")


def _tokens():
    return F.split(F.lower(F.trim(F.col("text"))), " ")


# --- chunking --------------------------------------------------------------


def chunk_documents(
    docs: DataFrame, window: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each document into overlapping ``window``-token chunks every
    ``stride`` tokens (the standard pretraining-window slicer). Start offsets
    are 0, stride, 2*stride, … < n_tokens; the last chunk may be short.

    Pure generate/explode: zero shuffles, zero Python. At 100 TB this runs
    at scan speed and the ~window/stride× row fan-out streams straight into
    the next stage (tokenizer) without materializing.

    NULL-text documents produce NO chunks (filtered at the scan) — the
    semantics the DuckDB ground truth has by construction (range(0, NULL)
    unnests to zero rows); the previous behavior emitted one all-NULL
    chunk row, which would diverge from the oracle on the first NULL text.
    """
    t = docs.filter(F.col("text").isNotNull()).select("doc_id", _tokens().alias("t"))
    starts = F.sequence(F.lit(0), F.greatest(F.size("t") - 1, F.lit(0)), F.lit(stride))
    chunk = F.slice(F.col("t"), F.col("start") + 1, window)
    return (
        t.select("doc_id", "t", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / stride).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


# Shared by text_chunking and its UDTF twin (operators/udx.py): both engines
# must be graded against the identical ground truth.
CHUNK_ORACLE_SQL = f"""WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
    st AS (
        SELECT doc_id, t, unnest(range(0, len(t), {CHUNK_STRIDE})) AS start
        FROM toks)
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           len(t[start + 1 : start + {CHUNK_TOKENS}]) AS n_chunk_tokens,
           array_to_string(t[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text
    FROM st"""


@query("text_chunking", CHUNK_ORACLE_SQL)
def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(_docs(spark, sf_dir))


def temperature_sample_by_lang(docs: DataFrame) -> DataFrame:
    """Temperature-balanced language sampling (the XLM-R/mBERT exponential
    smoothing, T=2): sample language l at a rate ∝ sqrt(p_l)/p_l, so
    low-resource languages are upweighted relative to their corpus share,
    with a total budget of ~N/2 documents.

    Determinism engineering (what makes this oracle-able): the smoothing
    weight uses floor(sqrt(n_l)) — an INTEGER — so the cross-language
    normalizer S = Σ floor(sqrt(n_l)) is an exact sum whose value cannot
    depend on aggregation order (float sqrt sums would differ in the last
    ulp between engines/partitionings). The per-language rate
    0.5·N·isq/S/n_l is then a fixed sequence of IEEE ops on integers —
    bit-identical in Spark and DuckDB — and the keep decision compares it
    to the salted-md5 uniform, as in corpus_mix_sample.

    Scale shape: the per-language stats are a two-level aggregate (5 rows);
    the rate table broadcasts back onto the corpus, so the only full-data
    pass is a scan + broadcast-join + filter at scan speed."""
    c = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    stats = c.agg(
        F.sum("n_l").alias("n_total"),
        F.sum(F.floor(F.sqrt(F.col("n_l")))).alias("s_total"),
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(0.5)
        * F.col("n_total")
        * F.floor(F.sqrt(F.col("n_l")))
        / F.col("s_total")
        / F.col("n_l"),
    )
    rates = c.crossJoin(F.broadcast(stats)).select("lang", rate.alias("rate"))
    u = F.conv(_u32_hex("temp"), 16, 10).cast("long") / F.lit(4294967296.0)
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(u < F.col("rate"))
        .select("doc_id", "lang", F.round("rate", 6).alias("rate"))
    )


@query(
    "temperature_sample_by_lang",
    """WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    s AS (SELECT SUM(n_l) AS n_total,
                 SUM(CAST(floor(sqrt(n_l)) AS BIGINT)) AS s_total FROM c),
    r AS (SELECT lang,
                 least(1.0, 0.5 * n_total * floor(sqrt(n_l)) / s_total / n_l)
                     AS rate
          FROM c CROSS JOIN s)
    SELECT d.doc_id, d.lang, ROUND(r.rate, 6) AS rate
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE CAST(('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS UBIGINT) / 4294967296.0 < r.rate""",
)
def q_temperature_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_sample_by_lang(_docs(spark, sf_dir))


@query("source_length_quantiles_approx")  # sketch tier: rows-only by design
def q_source_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of source_length_quantiles: ``approx_percentile``
    (Greenwald-Khanna sketch) is map-side combinable — each task folds its
    partition into a bounded sketch and the shuffle carries one sketch per
    (source, task) instead of every value, so the aggregation cost is
    O(groups), not O(rows). Returns actual data values (no interpolation),
    hence no DuckDB value-hash oracle; the unit test pins it against the
    exact quantiles within sketch tolerance."""
    pct = F.expr(
        "approx_percentile(n_chars, array(0.25, 0.50, 0.75, 0.95), 10000)"
    )
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), pct.alias("pct"))
        .select(
            "source",
            "n_docs",
            F.element_at("pct", 1).alias("p25"),
            F.element_at("pct", 2).alias("p50"),
            F.element_at("pct", 3).alias("p75"),
            F.element_at("pct", 4).alias("p95"),
        )
    )


# --- Gopher repetition / quality rules -------------------------------------


def gopher_quality(docs: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Per-document repetition metrics + keep flag (Gopher §A1.1 family):
    token count, mean token length, duplicate-token fraction, most-frequent
    token fraction, most-frequent bigram fraction.

    Two aggregations, both map-side combined (see module docstring); the
    per-doc scalars (n_tokens, mean length, distinct fraction) ride along
    from a single array projection so the corpus is scanned once.
    ``passthrough`` columns of ``docs`` ride the base side unchanged (they
    never touch the token aggregations) — the composition hook that lets
    e.g. the end-to-end pipeline carry (fp, source, lang) without a second
    corpus scan or a join back to the table.
    """
    t = docs.select("doc_id", *passthrough, _tokens().alias("t"))
    base = t.select(
        "doc_id",
        *passthrough,
        "t",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
        (
            F.aggregate(
                F.transform("t", lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            / F.size("t")
        ).alias("mean_tok_len"),
    )

    top_tok = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_tok_cnt"))
    )
    from temporalvault_spark.operators.llm import bigram_pairs

    top_bg = (
        base.select("doc_id", F.explode(bigram_pairs()).alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bg_cnt"))
    )

    m = (
        base.drop("t")
        .join(top_tok, "doc_id")
        .join(top_bg, "doc_id")
        .select(
            "doc_id",
            *passthrough,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("mean_tok_len", 6).alias("mean_tok_len"),
            F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6).alias("dup_tok_frac"),
            F.round(F.col("top_tok_cnt") / F.col("n_tokens"), 6).alias("top_tok_frac"),
            F.round(F.col("top_bg_cnt") / (F.col("n_tokens") - 1), 6).alias("top_bg_frac"),
        )
    )
    keep = (
        F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
        & F.col("mean_tok_len").between(MEAN_LEN_LO, MEAN_LEN_HI)
        & (F.col("top_tok_frac") < TOP_TOKEN_FRAC_MAX)
        & (F.col("top_bg_frac") < TOP_BIGRAM_FRAC_MAX)
    )
    return m.withColumn("keep", keep)


# --- deterministic sampling: domain mixing + train/val/test split ---------
#
# Both use the salted-md5-prefix trick already proven portable in llm.py's
# minhash bands: the first 8 hex chars of md5(salt || doc_id) are a uniform
# draw in [0, 2^32), and FIXED-WIDTH LOWERCASE hex compares lexically ==
# numerically, so "keep iff prefix < threshold_hex" is an exact, seedable
# Bernoulli that DuckDB replays verbatim. No rand() (non-deterministic, not
# oracle-able), no shuffle — the filter is a scan-level projection, and at
# 100 TB sampling runs at scan speed with the predicate's selectivity
# reported to AQE downstream.


def _hex_thr(p: float) -> str:
    """8-hex-char threshold such that P(md5_prefix < thr) == p."""
    return format(int(p * 0xFFFFFFFF), "08x")


def _u32_hex(salt: str):
    return F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))), 1, 8
    )


# per-source mixing weights, derived from the source's numeric suffix so the
# rule is scale-factor-independent: src0,3,6,... -> 0.25x, src1,4,... ->
# 0.5x, src2,5,... -> 1.0x (the Pile/Dolma-style domain reweighting shape)
MIX_WEIGHTS = (0.25, 0.5, 1.0)


def corpus_mix_sample(docs: DataFrame) -> DataFrame:
    """Weighted domain mixing: keep each document with its source's sampling
    weight, deterministically (salted md5 Bernoulli, see module comment).
    Sources with no numeric suffix fall into group 0 via try_cast — under
    ANSI mode a plain cast of the empty extract would abort the job on the
    first unconventional source name."""
    grp = (
        F.coalesce(
            F.regexp_extract("source", r"(\d+)$", 1).try_cast("int"), F.lit(0)
        )
        % len(MIX_WEIGHTS)
    )
    thr = F.when(grp == 0, F.lit(_hex_thr(MIX_WEIGHTS[0]))).when(
        grp == 1, F.lit(_hex_thr(MIX_WEIGHTS[1]))
    ).otherwise(F.lit(_hex_thr(MIX_WEIGHTS[2])))
    weight = F.when(grp == 0, F.lit(MIX_WEIGHTS[0])).when(
        grp == 1, F.lit(MIX_WEIGHTS[1])
    ).otherwise(F.lit(MIX_WEIGHTS[2]))
    return (
        docs.filter(_u32_hex("mix") < thr)
        .select("doc_id", "source", "lang", weight.alias("weight"))
    )


@query(
    "corpus_mix_sample",
    f"""SELECT doc_id, source, lang,
           CAST(CASE grp WHEN 0 THEN {MIX_WEIGHTS[0]} WHEN 1 THEN {MIX_WEIGHTS[1]}
                ELSE {MIX_WEIGHTS[2]} END AS DOUBLE) AS weight
    FROM (
      SELECT doc_id, source, lang,
             substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS u,
             COALESCE(TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INT), 0) % 3 AS grp
      FROM documents) t
    WHERE u < CASE grp WHEN 0 THEN '{_hex_thr(MIX_WEIGHTS[0])}'
                       WHEN 1 THEN '{_hex_thr(MIX_WEIGHTS[1])}'
                       ELSE '{_hex_thr(MIX_WEIGHTS[2])}' END""",
)
def q_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_mix_sample(_docs(spark, sf_dir))


SPLIT_TRAIN = 0.8
SPLIT_VAL = 0.9  # cumulative: [0.8, 0.9) val, rest test


def split_train_val_test(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) keyed by salted
    doc_id hash — stable across runs, cluster sizes, and partitionings, which
    is the property a training pipeline needs (a doc never migrates between
    splits when the corpus is re-partitioned or appended to)."""
    u = _u32_hex("split")
    split = (
        F.when(u < F.lit(_hex_thr(SPLIT_TRAIN)), F.lit("train"))
        .when(u < F.lit(_hex_thr(SPLIT_VAL)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", "source", split.alias("split"))


# the one rendering of the salted-hash split rule — the registered oracle
# and the leakage check's twin BOTH interpolate these fragments, so an edit
# to the rule (salt, thresholds, extra split) cannot desynchronize them
_SPLIT_CASE_SQL = f"""CASE WHEN u < '{_hex_thr(SPLIT_TRAIN)}' THEN 'train'
                WHEN u < '{_hex_thr(SPLIT_VAL)}' THEN 'val'
                ELSE 'test' END AS split"""
_SPLIT_U_SQL = "substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS u"


@query(
    "split_train_val_test",
    f"""SELECT doc_id, source, {_SPLIT_CASE_SQL}
    FROM (SELECT doc_id, source, {_SPLIT_U_SQL} FROM documents) t""",
)
def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return split_train_val_test(_docs(spark, sf_dir))


# rendered DuckDB twin of split_train_val_test's assignment (reused by the
# leakage check below)
_SPLIT_DUCK = f"""SELECT doc_id, {_SPLIT_CASE_SQL}
    FROM (SELECT doc_id, {_SPLIT_U_SQL} FROM documents) ts"""


def _split_leakage_oracle() -> str:
    from temporalvault_spark.operators.llm import NGRAM_PAIRS_SQL

    return f"""WITH pairs AS ({NGRAM_PAIRS_SQL}),
    sp AS ({_SPLIT_DUCK})
    SELECT LEAST(a.split, b.split) AS split_lo,
           GREATEST(a.split, b.split) AS split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           LEAST(a.split, b.split) != GREATEST(a.split, b.split) AS is_cross_split
    FROM pairs p
    JOIN sp a ON p.doc_a = a.doc_id
    JOIN sp b ON p.doc_b = b.doc_id
    GROUP BY 1, 2"""


@query("split_leakage_check", _split_leakage_oracle())
def q_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination check — the audit every train/val/test
    split needs AFTER near-dup detection: a val/test document with a
    near-duplicate in train silently inflates eval scores, the
    within-corpus twin of benchmark decontamination
    (llm.decontaminate_ngram_overlap). Counts near-dup pairs per unordered
    split-label pair; any row with is_cross_split=true and n_pairs > 0 is
    leakage to fix (re-split by dup-cluster, or drop the eval member).

    Scale shape: the near-dup pair frame is the small side by LSH
    construction; split assignment is a salted-md5 projection (no shuffle);
    the two label joins are id-keyed equi-joins on slim frames and the
    final rollup has at most 6 groups."""
    from temporalvault_spark.operators.llm import staged_ngram_pairs

    docs = _docs(spark, sf_dir)
    # read the staged pair artifact (llm.stage_ngram_pairs): the LSH
    # pipeline runs once per session, not once per consumer
    pairs = staged_ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sp = split_train_val_test(docs).select("doc_id", "split")
    a = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    lo, hi = F.least("sa", "sb"), F.greatest("sa", "sb")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
        .agg(F.count("*").alias("n_pairs"))
        .withColumn("is_cross_split", F.col("split_lo") != F.col("split_hi"))
    )


# --- sequence packing ------------------------------------------------------

PACK_BUDGET = 64


def pack_sequences(
    docs: DataFrame, window: int = CHUNK_TOKENS, budget: int = PACK_BUDGET
) -> DataFrame:
    """Pack each document's NON-overlapping chunks (stride == window) into
    training sequences of ~``budget`` tokens: a chunk joins the sequence its
    exclusive running token sum falls in (band ``cum // budget``), so a
    straddling chunk goes with the band of its start offset and a sequence
    can exceed budget by < window tokens — the GPT-style concat-and-cut
    packing at chunk granularity, precisely specified so the oracle can
    replay it.

    Scale: the running sum windows per doc_id (no global order, no single
    partition); the groupBy reuses the same key so at 100 TB both stages
    hash-partition on doc_id once."""
    from pyspark.sql import Window

    ch = chunk_documents(docs, window=window, stride=window)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0))
    return (
        ch.withColumn("seq_id", F.floor(cum / budget).cast("long"))
        .groupBy("doc_id", "seq_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("n_tokens"),
            F.min("chunk_id").alias("first_chunk"),
            F.max("chunk_id").alias("last_chunk"),
        )
    )


@query(
    "pack_sequences",
    f"""WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
    ch AS (
        SELECT doc_id, CAST(start // {CHUNK_TOKENS} AS BIGINT) AS chunk_id,
               len(t[start + 1 : start + {CHUNK_TOKENS}]) AS n
        FROM (SELECT doc_id, t, unnest(range(0, len(t), {CHUNK_TOKENS})) AS start
              FROM toks)),
    cum AS (
        SELECT doc_id, chunk_id, n,
               COALESCE(SUM(n) OVER (PARTITION BY doc_id ORDER BY chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        FROM ch)
    SELECT doc_id, CAST(c // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           MIN(chunk_id) AS first_chunk, MAX(chunk_id) AS last_chunk
    FROM cum GROUP BY 1, 2""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(_docs(spark, sf_dir))


# --- dedup apply + deterministic corpus shuffle ----------------------------


def dedup_apply(docs: DataFrame) -> DataFrame:
    """The APPLY step of exact dedup (llm.dedup_exact is the report): keep
    the lowest-doc_id copy of every distinct normalized text, dropping the
    rest — the corpus a downstream pipeline actually trains on.

    Shuffle discipline: the window sees only (fingerprint, doc_id, source,
    lang) — the text never rides the exchange, and rank<=1 plans as
    WindowGroupLimit so each map task forwards one candidate row per
    fingerprint (plan-asserted)."""
    from pyspark.sql import Window

    d = docs.select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"), "doc_id", "source", "lang"
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "lang")
    )


@query(
    "dedup_apply",
    """SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                  ORDER BY doc_id) AS rn
        FROM documents) t
    WHERE rn = 1""",
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_apply(_docs(spark, sf_dir))


SHUFFLE_SALT = "shuffle"  # 2 hex chars of the salted digest -> 256 shards


def corpus_shuffle_shards(docs: DataFrame) -> DataFrame:
    """Deterministic global corpus shuffle for training order: each doc's
    salted md5 digest gives (a) its shard — first digest byte, 256 shards —
    and (b) its position within the shard (rank of the full digest). The
    result is a reproducible random permutation addressed as (shard, pos),
    with no global sort: shards sort independently in parallel, so at
    100 TB this is 256 concurrent ~400 GB sorts instead of one total
    order — the standard shuffled-shard export every training run reads."""
    from pyspark.sql import Window

    u = F.md5(F.concat(F.lit(SHUFFLE_SALT + ":"), F.col("doc_id").cast("string")))
    d = docs.select(
        "doc_id", u.alias("u"), F.conv(F.substring(u, 1, 2), 16, 10).cast("long").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("u", "doc_id")
    return d.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


@query(
    "corpus_shuffle_shards",
    f"""SELECT doc_id,
           CAST(('0x' || substr(md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 2))
                AS BIGINT) AS shard,
           ROW_NUMBER() OVER (
               PARTITION BY substr(md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 2)
               ORDER BY md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
    FROM documents""",
)
def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_shuffle_shards(_docs(spark, sf_dir))


# --- per-source corpus profiling -------------------------------------------


@query(
    "source_length_quantiles",
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
           ROUND(quantile_cont(n_chars, 0.50), 6) AS p50,
           ROUND(quantile_cont(n_chars, 0.75), 6) AS p75,
           ROUND(quantile_cont(n_chars, 0.95), 6) AS p95
    FROM documents GROUP BY source""",
)
def q_source_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length profile: exact interpolated quantiles
    (Spark ``percentile`` ≡ DuckDB/Postgres ``quantile_cont``, both type-7
    linear interpolation at p·(n−1)). Exact percentile shuffles each group's
    values once; at 100 TB swap in ``approx_percentile`` (t-digest, map-side
    combinable) — the sketch twin of the same shape exists for distincts in
    functions/approx.py."""
    pct = F.expr("percentile(n_chars, array(0.25, 0.50, 0.75, 0.95))")
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            pct.alias("pct"),
        )
        .select(
            "source",
            "n_docs",
            "avg_chars",
            F.round(F.element_at("pct", 1), 6).alias("p25"),
            F.round(F.element_at("pct", 2), 6).alias("p50"),
            F.round(F.element_at("pct", 3), 6).alias("p75"),
            F.round(F.element_at("pct", 4), 6).alias("p95"),
        )
    )


# The gopher metric chain as namespaced (gq_*) CTEs — ONE rendering shared
# by the registered query below and the corpus_curate_end_to_end capstone
# (operators/curation.py), so the replayed keep rule cannot drift.
GOPHER_CTES = f"""gq_toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
    gq_base AS (
        SELECT doc_id, t, len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct,
               CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
                   / len(t) AS mean_tok_len
        FROM gq_toks),
    gq_tf AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM gq_toks) GROUP BY 1, 2),
    gq_top_tok AS (SELECT doc_id, MAX(c) AS top_tok_cnt FROM gq_tf GROUP BY 1),
    gq_bf AS (
        SELECT doc_id, bg, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
              FROM gq_toks) GROUP BY 1, 2),
    gq_top_bg AS (SELECT doc_id, MAX(c) AS top_bg_cnt FROM gq_bf GROUP BY 1),
    gq_metrics AS (
        SELECT b.doc_id, b.n_tokens,
               ROUND(b.mean_tok_len, 6) AS mean_tok_len,
               ROUND(1 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6) AS dup_tok_frac,
               ROUND(CAST(tt.top_tok_cnt AS DOUBLE) / b.n_tokens, 6) AS top_tok_frac,
               ROUND(CAST(tb.top_bg_cnt AS DOUBLE) / (b.n_tokens - 1), 6) AS top_bg_frac,
               (b.n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                AND ROUND(b.mean_tok_len, 6) BETWEEN {MEAN_LEN_LO} AND {MEAN_LEN_HI}
                AND ROUND(CAST(tt.top_tok_cnt AS DOUBLE) / b.n_tokens, 6) < {TOP_TOKEN_FRAC_MAX}
                AND ROUND(CAST(tb.top_bg_cnt AS DOUBLE) / (b.n_tokens - 1), 6) < {TOP_BIGRAM_FRAC_MAX}
               ) AS keep
        FROM gq_base b
        JOIN gq_top_tok tt ON tt.doc_id = b.doc_id
        JOIN gq_top_bg tb ON tb.doc_id = b.doc_id)"""


@query(
    "gopher_quality_rules",
    f"""WITH {GOPHER_CTES}
    SELECT doc_id, n_tokens, mean_tok_len, dup_tok_frac, top_tok_frac,
           top_bg_frac, keep
    FROM gq_metrics""",
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_quality(_docs(spark, sf_dir))


SAMPLE_K = 200


def sample_fixed_k(docs: DataFrame, k: int = SAMPLE_K) -> DataFrame:
    """Fixed-size uniform sample WITHOUT replacement: the k documents with
    the smallest salted-md5 draw — the distributed reservoir. Spark plans
    orderBy+limit as TakeOrderedAndProject (plan-asserted): each partition
    keeps its local top-k and only k·partitions slim rows merge at the
    driver side of the exchange — no global sort, no full-data shuffle,
    and the chosen set is a pure function of doc_id (stable across runs
    and partitionings, unlike df.sample)."""
    u = F.md5(F.concat(F.lit("fix:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "source", "lang", u.alias("u"))
        .orderBy("u")
        .limit(k)
        .select("doc_id", "source", "lang")
    )


@query(
    "sample_fixed_k",
    f"""SELECT doc_id, source, lang FROM documents
    ORDER BY md5('fix:' || CAST(doc_id AS VARCHAR)) LIMIT {SAMPLE_K}""",
)
def q_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_fixed_k(_docs(spark, sf_dir))


STRATA_K = 10


@query(
    "sample_fixed_k_per_group",
    f"""SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR))) AS rn
        FROM documents) x
    WHERE rn <= {STRATA_K}""",
)
def q_sample_fixed_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-k sampling: exactly {STRATA_K} uniform draws per
    source (fewer if the stratum is smaller) — the per-domain eval-set /
    inspection-sample primitive. Same salted-md5 determinism as
    sample_fixed_k, but the rank runs per stratum, so Spark plans a
    WindowGroupLimit: each partition keeps only its local top-k per source
    BEFORE the exchange — the shuffle is bounded by k x strata x
    partitions slim rows, independent of corpus size."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    u = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "source", "lang", u.alias("u"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("source").orderBy("u")))
        .filter(F.col("rn") <= STRATA_K)
        .select("doc_id", "source", "lang")
    )


WEIGHTED_K = 100
WEIGHT_CHARS_PER_UNIT = 500  # +1 weight unit per 500 chars, capped at 8
WEIGHT_MAX = 8


def weight_duck(col: str = "n_chars") -> str:
    """THE DuckDB rendering of _weight_col — one fragment interpolated by
    every oracle that weights documents (the two weighted samplers, the
    budget selection, the DSIR mix draw, the curation capstone), so the
    replayed weight rule cannot drift between them (the GOPHER_CTES
    contract; a review pass found four hand-copies)."""
    return (
        f"1 + LEAST(COALESCE({col}, 0) // {WEIGHT_CHARS_PER_UNIT}, "
        f"{WEIGHT_MAX - 1})"
    )


def _weight_col():
    """Integer document weight 1..WEIGHT_MAX derived from length — the
    quality-weight stand-in for the registered query (a deployment plugs in
    any positive-integer weight column)."""
    return F.lit(1) + F.least(
        F.expr(f"coalesce(n_chars, 0) DIV {WEIGHT_CHARS_PER_UNIT}"),
        F.lit(WEIGHT_MAX - 1).cast("bigint"),
    )


def _weighted_ticket_key():
    """The Efraimidis–Spirakis min-of-w-tickets key over columns (doc_id, w):
    MIN over t in 1..w of md5('wk:<doc_id>:<t>') — integer/string md5
    arithmetic only (no u^(1/w) pow, no libm), ROW-LOCAL (transform over
    sequence + array_min: no explode, no shuffle). ONE definition shared by
    the global and stratified weighted samplers so their draws cannot drift
    (the _argmax_scored precedent): a doc's ticket is identical whether it
    competes globally or within its stratum."""
    return F.array_min(
        F.transform(
            F.sequence(F.lit(1).cast("bigint"), F.col("w")),
            lambda t: F.md5(
                F.concat(
                    F.lit("wk:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    t.cast("string"),
                )
            ),
        )
    )


def sample_weighted_k(docs: DataFrame, k: int = WEIGHTED_K) -> DataFrame:
    """Weighted fixed-k sample WITHOUT replacement: inclusion odds
    proportional to remaining integer weights — the quality-weighted
    corpus-selection form (Efraimidis–Spirakis semantics).

    Construction: each document holds ``w`` tickets; its key is the MIN of
    w salted-md5 draws, and the k smallest keys win. A uniform random
    permutation of the ticket multiset visits distinct documents in
    exactly the successive weighted-without-replacement order
    (P(first = i) = w_i/Σw, then renormalized on the remainder — the
    classic ticket argument), and taking each document's min ticket then
    the k smallest IS that first-occurrence order. Integer/string md5
    arithmetic only — no u^(1/w) pow, no libm, so the oracle replays the
    selection bit-for-bit (the exponential-race form of E–S would put a
    transcendental inside a cross-engine comparison; this form doesn't).

    Scale shape: the key is ROW-LOCAL (transform over sequence(1, w) +
    array_min — no explode, no shuffle); top-k plans as
    TakeOrderedAndProject, so each partition forwards only k slim rows.
    Weights are small integers by contract (ticket count = w); huge or
    real-valued weights belong to the u^(1/w) form a deployment would
    quantize onto this one."""
    ukey = _weighted_ticket_key()
    return (
        docs.select("doc_id", "source", "lang", _weight_col().alias("w"))
        .select("doc_id", "source", "lang", "w", ukey.alias("ukey"))
        .orderBy("ukey", "doc_id")
        .limit(k)
        .select("doc_id", "source", "lang", "w")
    )


@query(
    "sample_weighted_k",
    f"""SELECT doc_id, source, lang, w FROM (
        SELECT doc_id, source, lang, w,
               list_min(list_transform(range(1, w + 1),
                   t -> md5('wk:' || CAST(doc_id AS VARCHAR)
                            || ':' || CAST(t AS VARCHAR)))) AS ukey
        FROM (SELECT doc_id, source, lang,
                     {weight_duck()} AS w
              FROM documents) ww) x
    ORDER BY ukey, doc_id LIMIT {WEIGHTED_K}""",
)
def q_sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_weighted_k(_docs(spark, sf_dir))


WEIGHTED_STRATA_K = 10


@query(
    "sample_weighted_k_per_group",
    f"""SELECT doc_id, source, lang, w FROM (
        SELECT doc_id, source, lang, w,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY list_min(list_transform(range(1, w + 1),
                       t -> md5('wk:' || CAST(doc_id AS VARCHAR)
                                || ':' || CAST(t AS VARCHAR)))), doc_id) AS rn
        FROM (SELECT doc_id, source, lang,
                     {weight_duck()} AS w
              FROM documents) ww) x
    WHERE rn <= {WEIGHTED_STRATA_K}""",
)
def q_sample_weighted_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified WEIGHTED sampling: the WEIGHTED_STRATA_K (= 10)
    weighted-draw winners per source (fewer if the stratum is smaller) —
    per-domain quality-weighted selection, the composition of
    sample_weighted_k's min-of-w-tickets key (exact E-S semantics for
    integer weights, zero libm — _weighted_ticket_key, one shared
    definition) with sample_fixed_k_per_group's per-stratum rank.

    Scale shape: the key stays ROW-LOCAL; the per-source rank plans as
    WindowGroupLimit — each partition keeps only its local top-k per
    source BEFORE the exchange, so the shuffle is bounded by
    k x strata x partitions slim rows, independent of corpus size."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    ukey = _weighted_ticket_key()
    return (
        docs.select("doc_id", "source", "lang", _weight_col().alias("w"))
        .select("doc_id", "source", "lang", "w", ukey.alias("ukey"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy("ukey", "doc_id")
            ),
        )
        .filter(F.col("rn") <= WEIGHTED_STRATA_K)
        .select("doc_id", "source", "lang", "w")
    )


TOKEN_BUDGET = 20_000  # fixed training-token budget for the registered query
BUDGET_TARGET_BUCKETS = 4096  # id-blocks per stratum for the prefix cut
# Rows above which the exact window inside a boundary bucket recurses the
# prefix-cut again instead of single-partition-sorting the bucket: 100k slim
# (doc_id, w, n_tok) rows sort in-memory in well under a second; each
# recursion level divides the bucket by BUDGET_TARGET_BUCKETS, so depth is
# log_4096(N) — 3 levels clear a 10^12-doc corpus.
BUDGET_EDGE_ROWS = 100_000


def _edge_select(inside: DataFrame, remaining: int, edge_rows: int) -> DataFrame:
    """Exact budget prefix inside ONE boundary bucket (uniform weight, so
    the order is doc_id ASC and the cut point is a pure doc_id prefix).

    At extreme N the boundary bucket (~N/4096 rows) is itself too large for
    a single-partition cumulative window, so recurse the SAME prefix-cut on
    finer doc_id sub-blocks: one slim aggregate sizes the bucket (count +
    id range — column-pruned, no tokenization), per-sub-block token sums
    collect (≤ BUDGET_TARGET_BUCKETS rows, bounded by construction), the
    driver prefix finds the one boundary sub-block, fully-included
    sub-blocks pass by PREDICATE, and only the boundary sub-block recurses.
    The window runs only once the bucket fits ``edge_rows``."""
    from pyspark.sql import Window

    stat = inside.agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).first()
    if stat["n"] <= edge_rows or stat["lo"] == stat["hi"]:
        cum = F.sum("n_tok").over(
            Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            inside.withColumn("cum", cum)
            .filter(F.col("cum") <= F.lit(remaining))
            .drop("cum")
        )
    sub_sz = (stat["hi"] - stat["lo"]) // BUDGET_TARGET_BUCKETS + 1
    sb = inside.withColumn("sblk", F.expr(f"(doc_id - {stat['lo']}) DIV {sub_sz}"))
    sums = sb.groupBy("sblk").agg(F.sum("n_tok").alias("s")).collect()
    running = 0
    boundary = None
    for r in sorted(sums, key=lambda r: r["sblk"]):
        if running + r["s"] > remaining:
            boundary = (r["sblk"], running)
            break
        running += r["s"]
    if boundary is None:  # defensive: the parent guaranteed an overflow here
        return inside
    sblk_b, off = boundary
    full = sb.filter(F.col("sblk") < sblk_b).drop("sblk")
    sub_inside = sb.filter(F.col("sblk") == sblk_b).drop("sblk")
    return full.unionByName(_edge_select(sub_inside, remaining - off, edge_rows))


def select_to_token_budget(
    docs: DataFrame, budget: int = TOKEN_BUDGET, edge_rows: int = BUDGET_EDGE_ROWS
) -> DataFrame:
    """Token-budget-constrained corpus selection: take documents in
    quality order (weight DESC, doc_id ASC — the same 1..8 length-derived
    weight as the weighted sampler) until the running token total would
    exceed ``budget`` — "fill a fixed training budget with the best data
    first", the selection step between scoring and training.

    Scale shape — the naive form is a cumulative SUM window over a GLOBAL
    order (one partition sorts and scans the whole corpus); this is the
    distributed prefix-cut instead:
      1. one bounded driver long (max doc_id) sizes id-blocks so each
         stratum splits into ≤ BUDGET_TARGET_BUCKETS blocks;
      2. per-(weight, block) token sums aggregate map-side-combined and
         collect — ≤ 8·4096 slim rows, bounded by CONSTRUCTION (the
         repo's 1-row-collect rule, catalogued in VERDICT r7);
      3. the driver prefix-sums the ordered buckets to find the single
         boundary bucket; everything strictly before it is included by a
         PREDICATE (no window at all — the common case covers ~all rows),
         and ONLY the boundary bucket (~N/4096 rows) goes to _edge_select,
         which recurses the same prefix-cut on finer doc_id sub-blocks
         while the bucket exceeds ``edge_rows`` and runs the exact
         cumulative window only once it fits.
    The selected set is identical to the naive global window's — the
    oracle replays exactly that naive form, value-hashing the equivalence.

    Tokens = whitespace tokens of lower(trim(text)) (the bm25 dl
    definition); NULL-text docs are excluded (no tokens to contribute)."""
    base = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            _weight_col().alias("w"),
            F.size(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("n_tok"),
        )
        # Materialize the slim (doc_id, w, n_tok) frame ONCE: the prefix-cut
        # drives 3-4 actions over it (the sizing agg, the bucket sums, the
        # edge stats, the final consumption), and without the checkpoint
        # each re-pays the upstream scan + tokenization + whatever join fed
        # `docs` (the capstone feeds a survivor semi-join). Three longs per
        # doc at MEMORY_AND_DISK — ~24 B/doc cluster-wide, fine at any
        # corpus the budget cut itself can address.
        .localCheckpoint(eager=True)
    )
    m = base.agg(F.max("doc_id").alias("m")).first()["m"]  # one bounded long
    if m is None:
        return base  # empty corpus: empty selection, same schema
    blk_sz = m // BUDGET_TARGET_BUCKETS + 1
    b = base.withColumn("blk", F.expr(f"doc_id DIV {blk_sz}"))
    sums = b.groupBy("w", "blk").agg(F.sum("n_tok").alias("s")).collect()
    # driver prefix over ordered buckets: (w DESC, blk ASC)
    running = 0
    boundary = None  # (w, blk, offset): the single bucket the cut lands in
    for r in sorted(sums, key=lambda r: (-r["w"], r["blk"])):
        if running + r["s"] > budget:
            boundary = (r["w"], r["blk"], running)
            break
        running += r["s"]
    if boundary is None:
        return b.select("doc_id", "w", "n_tok")  # whole corpus fits
    w_b, blk_b, offset = boundary
    full_pred = (F.col("w") > w_b) | (
        (F.col("w") == w_b) & (F.col("blk") < blk_b)
    )
    # the predicate region includes every bucket ordered before the
    # boundary ACROSS strata boundaries too: for w > w_b all blocks
    # qualify, within w_b only blocks before blk_b — exactly the buckets
    # the driver prefix marked fully-included
    full = b.filter(full_pred).select("doc_id", "w", "n_tok")
    inside = b.filter((F.col("w") == w_b) & (F.col("blk") == blk_b)).select(
        "doc_id", "w", "n_tok"
    )
    edge = _edge_select(inside, budget - offset, edge_rows)
    return full.unionByName(edge.select("doc_id", "w", "n_tok"))


@query(
    "corpus_select_token_budget",
    f"""WITH base AS (
        SELECT doc_id,
               {weight_duck()} AS w,
               len(string_split(lower(trim(text)), ' ')) AS n_tok
        FROM documents WHERE text IS NOT NULL),
    sel AS (
        SELECT doc_id, w, n_tok,
               SUM(n_tok) OVER (ORDER BY w DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM base)
    SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(n_tok AS BIGINT) AS n_tok
    FROM sel WHERE cum <= {TOKEN_BUDGET}""",
)
def q_corpus_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered budget selection at the fixed TOKEN_BUDGET (= 20,000
    tokens). The oracle replays the NAIVE global-window form — the
    value-hash match proves the distributed prefix-cut selects the
    identical set."""
    df = select_to_token_budget(_docs(spark, sf_dir))
    return df.select(
        "doc_id", F.col("w").cast("bigint").alias("w"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
    )


OVERLAP_NGRAM = 5


@query(
    "source_overlap_matrix",
    f"""WITH toks AS (
        SELECT doc_id, source, string_split(lower(trim(text)), ' ') AS t
        FROM documents),
    grams AS (
        SELECT DISTINCT source,
               unnest(list_transform(range(0, len(t) - {OVERLAP_NGRAM} + 1),
                   i -> md5(array_to_string(t[i+1:i+{OVERLAP_NGRAM}], ' ')))) AS g
        FROM toks WHERE len(t) >= {OVERLAP_NGRAM}),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS shared_ngrams
        FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
    SELECT source_a, source_b, shared_ngrams FROM pairs
    WHERE shared_ngrams > 0""",
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    distinct {OVERLAP_NGRAM}-gram fingerprints they share — the
    boilerplate/mirror-detection analysis that tells a pipeline which
    domains are republishing each other's content.

    Scale shape: the corpus collapses to DISTINCT (source, gram-digest)
    rows first (map-side combine; per-source vocabularies, not
    per-occurrence streams), the pair join is an equi-join on the 16-byte
    digest, and the matrix aggregate is |sources|^2-bounded output. Nothing
    text-sized crosses an exchange."""
    docs = _docs(spark, sf_dir)
    n = OVERLAP_NGRAM
    toks = docs.select("source", _tokens().alias("t")).filter(F.size("t") >= n)
    grams = toks.select(
        "source",
        F.explode(
            # per-doc distinct on the joined gram STRINGS before md5: hash
            # each distinct gram once (md5 dominates; boilerplate repeats)
            F.expr(
                f"transform(array_distinct(transform(sequence(0, size(t) - {n}), "
                f"i -> array_join(slice(t, i + 1, {n}), ' '))), s -> md5(s))"
            )
        ).alias("g"),
        # Both self-join sides reference this frame: without the (lazy)
        # checkpoint the tokenize+md5+distinct pipeline re-expands into each
        # side and runs twice per query (guide §2.4 — the trade_edges /
        # signature-checkpoint pattern; r14 A/B min 1.86s → 1.75s at sf0.1
        # where the idle-core slack still absorbs most of the double md5
        # pass — at scale the saving is the full second tokenize+md5+distinct
        # pass; identical rows).
    ).distinct().localCheckpoint(eager=False)
    a = grams.select(F.col("source").alias("source_a"), "g")
    b = grams.select(F.col("source").alias("source_b"), "g")
    return (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") > 0)
    )


# --- end-to-end pipeline composition ---------------------------------------


def corpus_pipeline_stats(docs: DataFrame) -> DataFrame:
    """The whole pre-training data pipeline as ONE declarative plan:
    Gopher quality filter → exact-dedup keep-min → deterministic
    train/val/test split → per-(split, source) corpus accounting. This is
    the composition every real run executes stage-by-stage with staging
    tables; expressed as a single DataFrame, Catalyst pipelines it — the
    fingerprint and (source, lang) ride the gopher base projection via
    ``passthrough`` so there is NO join back to the table, the dedup
    window sees only slim (fp, doc_id, meta) rows (plans as
    WindowGroupLimit), and the split is a pure doc_id-hash projection.
    The corpus is scanned once per gopher metric branch (3 column-pruned
    scans — the deliberate trade of re-reading cheap columnar inputs over
    staging wide token arrays; see gopher_quality). Output is the
    token-accounting table a training run budgets from.
    """
    from pyspark.sql import Window

    d = docs.withColumn("fp", F.md5(F.lower(F.trim(F.col("text")))))
    g = gopher_quality(d, passthrough=("fp", "source"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        g.filter("keep")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    u = _u32_hex("split")
    split = (
        F.when(u < F.lit(_hex_thr(SPLIT_TRAIN)), F.lit("train"))
        .when(u < F.lit(_hex_thr(SPLIT_VAL)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        deduped.select("source", "n_tokens", split.alias("split"))
        .groupBy("split", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )
    )


@query(
    "corpus_pipeline_stats",
    f"""WITH toks AS (
        SELECT doc_id, source, md5(lower(trim(text))) AS fp,
               string_split(lower(trim(text)), ' ') AS t
        FROM documents),
    base AS (
        SELECT doc_id, source, fp, t, len(t) AS n_tokens,
               CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
                   / len(t) AS mean_tok_len
        FROM toks),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
    top_tok AS (SELECT doc_id, MAX(c) AS top_tok_cnt FROM tf GROUP BY 1),
    bf AS (
        SELECT doc_id, bg, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
              FROM toks) GROUP BY 1, 2),
    top_bg AS (SELECT doc_id, MAX(c) AS top_bg_cnt FROM bf GROUP BY 1),
    kept AS (
        SELECT b.doc_id, b.source, b.fp, b.n_tokens
        FROM base b
        JOIN top_tok tt ON tt.doc_id = b.doc_id
        JOIN top_bg tb ON tb.doc_id = b.doc_id
        WHERE b.n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
          AND ROUND(b.mean_tok_len, 6) BETWEEN {MEAN_LEN_LO} AND {MEAN_LEN_HI}
          AND ROUND(CAST(tt.top_tok_cnt AS DOUBLE) / b.n_tokens, 6) < {TOP_TOKEN_FRAC_MAX}
          AND ROUND(CAST(tb.top_bg_cnt AS DOUBLE) / (b.n_tokens - 1), 6) < {TOP_BIGRAM_FRAC_MAX}),
    dd AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM kept),
    sp AS (
        SELECT source, n_tokens,
               CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                         < '{{thr_train}}' THEN 'train'
                    WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                         < '{{thr_val}}' THEN 'val'
                    ELSE 'test' END AS split
        FROM dd WHERE rn = 1)
    SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 6) AS avg_tokens
    FROM sp GROUP BY split, source""".replace("{thr_train}", _hex_thr(SPLIT_TRAIN)).replace(
        "{thr_val}", _hex_thr(SPLIT_VAL)
    ),
)
def q_corpus_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_pipeline_stats(_docs(spark, sf_dir))


# --- negative sampling (contrastive training prep) --------------------------

NEG_ANCHORS = 10  # fixed anchor subset for the registered query
NEG_K = 4  # negatives drawn per anchor


@query(
    "contrastive_negatives",
    f"""WITH m AS (SELECT MAX(doc_id) AS m FROM documents),
    anchors AS (SELECT doc_id AS anchor_id FROM documents
                WHERE doc_id < {NEG_ANCHORS}),
    draws AS (
        SELECT a.anchor_id, j.j,
               CAST(('0x' || substr(md5('neg:' || CAST(a.anchor_id AS VARCHAR)
                                 || ':' || CAST(j.j AS VARCHAR)), 1, 8))::UBIGINT
                % GREATEST(m.m, 1) AS BIGINT) AS praw
        FROM anchors a
        CROSS JOIN (SELECT unnest(range(1, {NEG_K} + 1)) AS j) j
        CROSS JOIN m),
    negs AS (
        SELECT anchor_id, j,
               praw + CASE WHEN praw >= anchor_id THEN 1 ELSE 0 END AS neg_id
        FROM draws)
    SELECT n.anchor_id, CAST(n.j AS BIGINT) AS j, n.neg_id, d.source AS neg_source
    FROM negs n JOIN documents d ON d.doc_id = n.neg_id""",
)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RANDOM negative sampling for contrastive-pair /
    triplet training prep: each anchor draws {NEG_K} pseudo-random partner
    ids from the id domain, self-collision-free by construction (the
    classic draw-from-[0, m) then shift-past-self trick — uniform over
    all-other-ids when ids are dense; under sparse ids the inner join
    keeps only existing partners, giving up-to-k semantics). The HARD
    negative twin is the existing ANN tier (knn_join / knn_join_ivf —
    similarity.py): random negatives anchor the loss, mined hard
    negatives sharpen it; this op is the missing random half.

    Determinism/parity: draws are u32(md5('neg:anchor:j')) % MAX(doc_id) —
    exact integer arithmetic replayed verbatim by the oracle (same md5
    derivation contract as the RP-LSH planes); no rand(), no seed state.
    The modulus is guarded GREATEST(m, 1): a single-doc corpus (max doc_id
    0) would otherwise divide by zero — guarded, it yields praw=0 →
    neg_id=1, which the inner join drops, so a 1-doc corpus returns zero
    draws instead of erroring. The u32 % m draw carries the usual modulo
    bias, at most m/2^32 ≈ 2e-10·m relative — negligible against the id
    domain and identical in both dialects, so parity is unaffected.

    Scale shape: the draw frame is |anchors|·k slim rows built from a
    1-row broadcast MAX aggregate — the corpus contributes one
    partial-combined scan for the max and one equi-join probe; with the
    tiny negatives side broadcast, the corpus never shuffles."""
    return contrastive_negatives(load_catalog(spark, sf_dir).table("documents"))


def contrastive_negatives(docs: DataFrame) -> DataFrame:
    """Core of ``contrastive_negatives`` over an arbitrary documents frame
    (semantics and parity notes on the registered query above)."""
    m = docs.agg(F.max("doc_id").alias("m"))  # 1 row, broadcast below
    anchors = docs.filter(F.col("doc_id") < NEG_ANCHORS).select(
        F.col("doc_id").alias("anchor_id")
    )
    h = F.expr(
        "CAST(conv(substring(md5(concat('neg:', CAST(anchor_id AS STRING), "
        "':', CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    draws = (
        anchors.select(
            "anchor_id", F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("j")
        )
        .crossJoin(F.broadcast(m))
        .select("anchor_id", "j", (h % F.greatest(F.col("m"), F.lit(1))).alias("praw"))
    )
    negs = draws.select(
        "anchor_id",
        F.col("j").cast("bigint").alias("j"),
        (
            F.col("praw")
            + F.when(F.col("praw") >= F.col("anchor_id"), 1).otherwise(0)
        ).alias("neg_id"),
    )
    return docs.select(F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")).join(
        F.broadcast(negs), "neg_id"
    ).select("anchor_id", "j", "neg_id", "neg_source")


# --- DSIR-style importance selection (Xie et al. 2023, public) ---------------
#
# Data Selection via Importance Resampling, the hashed-n-gram form: bucket
# every token into B hash buckets, estimate the target-domain and raw-corpus
# bucket distributions (add-1 smoothed), score each document by the sum of
# per-token log importance ratios, keep the top K. The one transcendental
# (ln) follows the BM25 idf contract exactly: the B ratios are computed
# DRIVER-SIDE from one bounded aggregate as half-up micro-unit-quantized
# literal doubles, with an asserted distance from every .5 rounding
# boundary, so a conforming libm on either engine provably rounds to the
# same micro-unit; the oracle computes the same quantization in-engine on
# bit-identical double inputs (exact integer counts < 2^53). Document
# scores are then integer-weighted sums of the same quantized values —
# ROUND(·, 6)-stable because true scores sit on micro-unit multiples, 5e5
# fp-ulps away from any rounding boundary.

DSIR_BUCKETS = 64
DSIR_TARGET_SOURCE = "src0"  # registered-scenario target-domain proxy
DSIR_TOP_K = 100
DSIR_BOUNDARY_MARGIN = 1e-6

# token -> bucket, stated once per engine (the simhash md5-slice idiom)
_DSIR_BKT_SPARK = (
    "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % " f"{DSIR_BUCKETS}"
)
_DSIR_BKT_DUCK = (
    f"CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {DSIR_BUCKETS}"
)

_DSIR_RATIO_CACHE: dict[tuple, list] = {}


def _dsir_ratio_literals(spark: SparkSession, sf_dir: str) -> list[float]:
    """bucket -> quantized log importance ratio, computed driver-side from
    ONE bounded aggregate (B raw counts + B target counts + two totals).
    ratio_b = ln( ((tgt_b + 1) * (raw_tot + B)) / ((tgt_tot + B) * (raw_b + 1)) )
    — exact integer numerator/denominator (< 2^53), so both engines feed
    ln the SAME double; half-up micro-unit quantization with the BM25
    boundary-margin assertion."""
    import math

    from temporalvault_spark.staging import fingerprint

    key = fingerprint(spark, sf_dir, ("documents",))
    cached = _DSIR_RATIO_CACHE.get(key)
    if cached is not None:
        return cached
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = docs.select(
        "source", F.explode(_tokens()).alias("t")
    ).select("source", F.expr(_DSIR_BKT_SPARK).alias("bkt"))
    rows = (
        toks.groupBy("bkt")
        .agg(
            F.count("*").alias("raw"),
            F.count(F.when(F.col("source") == DSIR_TARGET_SOURCE, 1)).alias("tgt"),
        )
        .collect()  # bounded: <= DSIR_BUCKETS rows
    )
    raw = {int(r["bkt"]): int(r["raw"]) for r in rows}
    tgt = {int(r["bkt"]): int(r["tgt"]) for r in rows}
    raw_tot = sum(raw.values())
    tgt_tot = sum(tgt.values())
    out = []
    for b in range(DSIR_BUCKETS):
        num = (tgt.get(b, 0) + 1) * (raw_tot + DSIR_BUCKETS)
        den = (tgt_tot + DSIR_BUCKETS) * (raw.get(b, 0) + 1)
        y = math.log(num / den) * 1e6
        frac = y - math.floor(y)
        if abs(frac - 0.5) <= DSIR_BOUNDARY_MARGIN:
            raise ValueError(
                f"DSIR ratio for bucket {b} lands within "
                f"{DSIR_BOUNDARY_MARGIN} of a .5 micro-unit boundary — "
                "cross-libm parity cannot be guaranteed for this corpus"
            )
        out.append(math.floor(y + 0.5) / 1e6)
    _DSIR_RATIO_CACHE[key] = out
    return out


# the shared DSIR scoring pipeline (tokenize -> bucket -> smoothed
# distributions -> quantized log ratios -> per-doc scores), used by the
# top-K selection and the per-source affinity summary — one statement
_DSIR_CTES = f"""toks AS (
        SELECT doc_id, source, unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, source, {_DSIR_BKT_DUCK} AS bkt FROM toks),
    raw AS (SELECT bkt, COUNT(*) AS c FROM b GROUP BY bkt),
    tgt AS (SELECT bkt, COUNT(*) AS c FROM b
            WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bkt),
    tots AS (SELECT (SELECT COUNT(*) FROM b) AS rawt,
                    (SELECT COUNT(*) FROM b WHERE source = '{DSIR_TARGET_SOURCE}') AS tgtt),
    ratios AS (
        SELECT r.bkt,
               FLOOR(ln(CAST((COALESCE(t.c, 0) + 1) * (tots.rawt + {DSIR_BUCKETS}) AS DOUBLE)
                        / CAST((tots.tgtt + {DSIR_BUCKETS}) * (r.c + 1) AS DOUBLE)) * 1e6
                     + 0.5) / 1e6 AS r
        FROM raw r LEFT JOIN tgt t ON r.bkt = t.bkt CROSS JOIN tots),
    scores AS (
        SELECT b.doc_id, ROUND(SUM(ratios.r), 6) AS score
        FROM b JOIN ratios ON b.bkt = ratios.bkt
        GROUP BY b.doc_id)"""


@query(
    "dsir_select_topk",
    f"""WITH {_DSIR_CTES}
    SELECT s.doc_id, d.source, s.score
    FROM scores s JOIN documents d ON s.doc_id = d.doc_id
    ORDER BY s.score DESC, s.doc_id LIMIT {DSIR_TOP_K}""",
)
def q_dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection: keep the {DSIR_TOP_K} documents whose
    hashed-token distribution looks most like the target domain
    ('{DSIR_TARGET_SOURCE}' — a registered-scenario proxy; a deployment
    points the target estimator at its curated seed corpus). The whole
    scoring pass is ONE codegen'd projection — a higher-order fold over
    the token array against the {DSIR_BUCKETS} literal quantized ratios
    (no explode, no shuffle until the slim per-doc score aggregate) —
    and the top-K plans as TakeOrderedAndProject. The oracle recomputes
    the bucket distributions, the quantized log ratios (in-engine ln on
    bit-identical integer-derived doubles, half-up micro-units — the
    BM25 idf contract), and the ranked cut end-to-end."""
    ratios = _dsir_ratio_literals(spark, sf_dir)
    arr_sql = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in ratios)
    score = F.expr(
        f"aggregate(split(lower(trim(text)), ' '), CAST(0.0 AS DOUBLE), "
        f"(acc, t) -> acc + element_at(array({arr_sql}), "
        f"CAST({_DSIR_BKT_SPARK} AS INT) + 1))"
    )
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return (
        docs.select("doc_id", "source", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
    )


@query(
    "dsir_source_affinity",
    f"""WITH {_DSIR_CTES}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(s.score), 6) AS total_score
    FROM scores s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY d.source""",
)
def q_dsir_source_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DSIR affinity — the MIXTURE-WEIGHTING view of the same
    importance scores dsir_select_topk cuts on: summed (not averaged —
    sums of micro-unit-quantized values stay on exact 1e-6 multiples, so
    the ROUND is boundary-safe; an average could land exactly between
    micro-units) log importance ratio per source, plus the doc count. A
    deployment normalizes these into sampling weights per domain (the
    DoReMi-shaped use). Same one-pass fold, same literal ratios, one
    extra map-side-combined aggregate; the oracle replays the shared
    _DSIR_CTES chain plus the per-source rollup."""
    ratios = _dsir_ratio_literals(spark, sf_dir)
    arr_sql = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in ratios)
    score = F.expr(
        f"aggregate(split(lower(trim(text)), ' '), CAST(0.0 AS DOUBLE), "
        f"(acc, t) -> acc + element_at(array({arr_sql}), "
        f"CAST({_DSIR_BKT_SPARK} AS INT) + 1))"
    )
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return (
        docs.select("source", F.round(score, 6).alias("score"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("score"), 6).alias("total_score"),
        )
    )


# --- DSIR mixture resampling (DoReMi-shaped: affinity -> weights -> draw) ----
#
# Closes the DSIR tier into the actual data-mixing loop a training pipeline
# runs (round-11 verdict #4): dsir_source_affinity computed the mixture-
# weighting view but nothing consumed it. This composition turns the
# per-source affinities into integer per-source sampling quotas (largest-
# remainder apportionment — EXACT integer arithmetic end-to-end, no libm,
# no float division, so the allocation replays bit-for-bit cross-engine)
# and draws each source's quota with the shared Efraimidis–Spirakis
# min-of-w-tickets key (_weighted_ticket_key — the same draw
# sample_weighted_k_per_group hash-checks). The full chain — token fold ->
# quantized ratios -> per-source affinity -> shift-positive weights ->
# quota apportionment -> stratified weighted draw — sits under ONE value
# hash.

DSIR_MIX_K = 120  # total resampled docs across all sources


def _dsir_mix_takes(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """source -> sampling quota. Affinity totals collapse to EXACT integers
    (micro-unit scores sum to integer micro-units; ROUND(x*1e6) recovers
    them loss-free), shift-positive (+1.0 floor so every source keeps a
    nonzero chance — DoReMi never zeroes a domain), then largest-remainder
    apportionment of DSIR_MIX_K seats proportional to the shifted weights.
    All arithmetic is arbitrary-precision Python int; the oracle replays it
    in BIGINT/HUGEINT. One bounded collect (n_sources rows). NULL-source
    docs are excluded from the whole pipeline on BOTH engines (a document
    with no domain attribution has no mixture bucket — and SQL's equi-join
    on source would silently drop it from the draw while still counting it
    in the quota arithmetic, a cross-engine hazard the null-robustness
    sweep caught)."""
    ratios = _dsir_ratio_literals(spark, sf_dir)
    arr_sql = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in ratios)
    score = F.expr(
        f"aggregate(split(lower(trim(text)), ' '), CAST(0.0 AS DOUBLE), "
        f"(acc, t) -> acc + element_at(array({arr_sql}), "
        f"CAST({_DSIR_BKT_SPARK} AS INT) + 1))"
    )
    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    rows = (
        docs.select("source", F.round(score, 6).alias("score"))
        .groupBy("source")
        .agg(F.round(F.sum("score"), 6).alias("total_score"))
        .collect()  # bounded: one row per source
    )
    a = {r["source"]: micro_units(float(r["total_score"])) for r in rows}
    return largest_remainder_quotas(a, DSIR_MIX_K)


# THE shared half-up quantizer (constants.micro_units — one definition for
# corpus and similarity; see its docstring for the parity scope). Re-exported
# here because the DSIR callers and tests reach it as corpus.micro_units.
from temporalvault_spark.constants import micro_units  # noqa: E402, F401


def largest_remainder_quotas(a: dict, k: int) -> dict:
    """Pure-integer largest-remainder apportionment of ``k`` seats over
    shift-positive weights derived from (possibly negative) integer
    affinities ``a`` — the allocation arm of corpus_mix_resample_dsir,
    separated so its invariants are property-testable without Spark:
    quotas sum to exactly k, each quota is floor(exact share) or
    floor + 1 (the classic quota property), no source is zeroed by the
    +1.0 shift floor, and an empty ``a`` yields empty quotas (matching
    the oracle's empty result — min() over {} crashed before the
    null-robustness sweep caught it)."""
    if not a:
        return {}
    shift = min(a.values())
    w = {s: v - shift + 1_000_000 for s, v in a.items()}  # >= 1.0 in micro-units
    tw = sum(w.values())
    base = {s: k * w[s] // tw for s in w}
    rem = {s: k * w[s] % tw for s in w}
    leftover = k - sum(base.values())
    for s in sorted(w, key=lambda s: (-rem[s], s))[:leftover]:
        base[s] += 1
    return base


@query(
    "corpus_mix_resample_dsir",
    f"""WITH {_DSIR_CTES},
    agg AS (SELECT d.source,
                   CAST(ROUND(ROUND(SUM(s.score), 6) * 1e6, 0) AS BIGINT) AS a
            FROM scores s JOIN documents d ON s.doc_id = d.doc_id
            WHERE d.source IS NOT NULL
            GROUP BY d.source),
    shiftw AS (SELECT source, a - (SELECT MIN(a) FROM agg) + 1000000 AS w
               FROM agg),
    tot AS (SELECT SUM(w) AS tw FROM shiftw),
    alloc AS (SELECT source, {DSIR_MIX_K} * w // tw AS base,
                     {DSIR_MIX_K} * w % tw AS rem
              FROM shiftw, tot),
    extra AS (SELECT source, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
              FROM alloc),
    takes AS (SELECT a.source,
                     CAST(a.base + CASE WHEN e.rk <= {DSIR_MIX_K} -
                              (SELECT SUM(base) FROM alloc)
                          THEN 1 ELSE 0 END AS BIGINT) AS take
              FROM alloc a JOIN extra e ON a.source = e.source),
    ww AS (SELECT doc_id, source,
                  {weight_duck()} AS w
           FROM documents WHERE source IS NOT NULL),
    ranked AS (
        SELECT doc_id, source, w,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY list_min(list_transform(range(1, w + 1),
                       t -> md5('wk:' || CAST(doc_id AS VARCHAR)
                                || ':' || CAST(t AS VARCHAR)))), doc_id) AS rn
        FROM ww)
    SELECT r.doc_id, r.source, CAST(r.w AS BIGINT) AS w
    FROM ranked r JOIN takes t ON r.source = t.source
    WHERE r.rn <= t.take""",
)
def q_corpus_mix_resample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR mixing loop end-to-end: per-source importance affinities
    become integer sampling quotas (largest-remainder apportionment over
    shift-positive micro-unit weights — exact integer arithmetic, zero
    libm in the allocation), each source's quota drawn by the shared E-S
    weighted ticket (quality-weighted WITHIN the domain, DoReMi-weighted
    ACROSS domains). Sources richer in target-domain n-grams get more
    seats; no domain is zeroed. Quotas above a stratum's size return the
    whole stratum (both engines see the same rows).

    Scale shape: the affinity aggregate is one token-fold pass + a
    20-row collect; the draw's ticket key is ROW-LOCAL and the per-source
    rank filters to a LITERAL max-quota bound first (WindowGroupLimit —
    partitions forward at most max_take rows per source before the
    exchange), then the exact per-source quota."""
    takes = _dsir_mix_takes(spark, sf_dir)
    from pyspark.sql import Window

    # NULL-source docs are outside the mixture (see _dsir_mix_takes)
    docs = _docs(spark, sf_dir).filter(F.col("source").isNotNull())
    take_expr = F.when(F.lit(False), F.lit(0))
    for s, t in sorted(takes.items()):
        take_expr = take_expr.when(F.col("source") == s, F.lit(t))
    take_expr = take_expr.otherwise(F.lit(0))
    max_take = max(takes.values()) if takes else 0
    ukey = _weighted_ticket_key()
    return (
        docs.select("doc_id", "source", _weight_col().alias("w"))
        .select("doc_id", "source", "w", ukey.alias("ukey"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy("ukey", "doc_id")
            ),
        )
        .filter((F.col("rn") <= F.lit(max_take)) & (F.col("rn") <= take_expr))
        .select("doc_id", "source", F.col("w").cast("long").alias("w"))
    )


# --- learned quality scorer (fastText-shaped; round-13 verdict #4) ------------
#
# The curation suite had three quality tiers — rule-based (Gopher), LM-based
# (CCNet perplexity), importance-based (DSIR) — but not the standard LEARNED
# stage: a linear classifier over hashed n-gram buckets (the fastText
# supervised shape: Joulin et al. 2016, public). This is that stage, trained
# IN-REPO with naive-Bayes log-odds (the closed-form linear fit — computable
# from ONE bounded per-bucket aggregate, so training replays exactly in SQL;
# an SGD logistic fit would need per-doc feature vectors driver-side and
# could never sit under a value hash). Labels come from the Gopher keep rule
# (the registered scenario's labeled slice — a deployment swaps in its human
# labels), features are hashed unigram+bigram buckets, and a document's
# score is the length-normalized sum of its grams' log-odds weights —
# exactly a linear scorer over mean-pooled hashed-gram features.
#
# Float contract (the DSIR/BM25 idiom end-to-end): the QC_BUCKETS weights
# are ln() of exact-integer ratios (< 2^53, asserted), half-up micro-unit
# quantized with the boundary-margin assertion; per-doc sums of quantized
# weights ROUND(·, 6)-stably sit on micro-unit multiples; the final
# length normalization is quantized with the FLOOR(x*1e6+0.5)/1e6 form
# (bit-exact cross-engine — no tie surface, so no assertion needed).

QC_BUCKETS = 128
QC_BOUNDARY_MARGIN = 1e-6

# gram -> bucket, stated once per engine (the DSIR md5-slice idiom; `g` is
# the gram column / lambda parameter on both sides)
_QC_BKT_SPARK = (
    "CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT) % " f"{QC_BUCKETS}"
)
_QC_BKT_DUCK = f"CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {QC_BUCKETS}"

_QC_WEIGHT_CACHE: dict[tuple, list] = {}


def _qc_grams(col: str = "t"):
    """Unigrams ++ bigrams of a token-array column — the classifier's
    feature stream. Bigrams ride llm.bigram_pairs (THE one bigram
    rendering, shared with the Gopher rules), so a 1-token document
    contributes just its unigram and an empty bigram tail."""
    from temporalvault_spark.operators.llm import bigram_pairs

    return F.concat(F.col(col), bigram_pairs(col))


def quality_classifier_weights(docs: DataFrame) -> list[float]:
    """Train the scorer on ``docs`` (doc_id, text): bucket -> quantized
    naive-Bayes log-odds weight,

        w_b = ln( ((pos_b + 1) * (neg_tot + B)) /
                  ((pos_tot + B) * (neg_b + 1)) )

    where pos_b / neg_b count grams landing in bucket b inside
    Gopher-keep / Gopher-reject documents (add-1 smoothed, so buckets the
    labeled slice never saw get a finite weight). The label join runs at
    DOC level (slim doc_id/keep frame) BEFORE the gram explode, so the
    per-bucket aggregate map-side-combines and nothing gram-scale ever
    shuffles; the collect is <= QC_BUCKETS rows. Documents the Gopher
    chain drops (under 2 tokens) are outside the labeled slice — scored
    later, just never trained on."""
    import math

    labels = gopher_quality(docs).select("doc_id", "keep")
    rows = (
        docs.select("doc_id", _tokens().alias("t"))
        .join(labels, "doc_id")
        .select(F.explode(_qc_grams()).alias("g"), "keep")
        .select(F.expr(_QC_BKT_SPARK).alias("bkt"), "keep")
        .groupBy("bkt")
        .agg(
            F.count(F.when(F.col("keep"), 1)).alias("pos"),
            F.count(F.when(~F.col("keep"), 1)).alias("neg"),
        )
        .collect()  # bounded: <= QC_BUCKETS rows
    )
    pos = {int(r["bkt"]): int(r["pos"]) for r in rows}
    neg = {int(r["bkt"]): int(r["neg"]) for r in rows}
    pos_tot = sum(pos.values())
    neg_tot = sum(neg.values())
    out = []
    for b in range(QC_BUCKETS):
        num = (pos.get(b, 0) + 1) * (neg_tot + QC_BUCKETS)
        den = (pos_tot + QC_BUCKETS) * (neg.get(b, 0) + 1)
        # the oracle divides CAST(num AS DOUBLE) by CAST(den AS DOUBLE);
        # Python's int/int true division only equals that while both sides
        # convert to double exactly
        if num >= 2**53 or den >= 2**53:
            raise ValueError(
                f"quality classifier bucket {b}: count product {num}/{den} "
                "exceeds 2^53 — the exact-double training contract needs "
                "more buckets or a sampled training slice at this corpus size"
            )
        y = math.log(num / den) * 1e6
        frac = y - math.floor(y)
        if abs(frac - 0.5) <= QC_BOUNDARY_MARGIN:
            raise ValueError(
                f"quality classifier weight for bucket {b} lands within "
                f"{QC_BOUNDARY_MARGIN} of a .5 micro-unit boundary — "
                "cross-libm parity cannot be guaranteed for this corpus"
            )
        out.append(math.floor(y + 0.5) / 1e6)
    return out


def _qc_weight_literals(spark: SparkSession, sf_dir: str) -> list[float]:
    """Per-corpus cached training pass (the _dsir_ratio_literals cadence)."""
    from temporalvault_spark.staging import fingerprint

    key = fingerprint(spark, sf_dir, ("documents",))
    cached = _QC_WEIGHT_CACHE.get(key)
    if cached is not None:
        return cached
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    out = quality_classifier_weights(docs)
    _QC_WEIGHT_CACHE[key] = out
    return out


def quality_classifier_score(docs: DataFrame, weights: list[float]) -> DataFrame:
    """Score ``docs`` with trained ``weights``: one codegen'd projection —
    a higher-order fold over the gram array against the QC_BUCKETS literal
    weights (no explode, no shuffle, no UDF; the DSIR scoring shape), then
    the length-normalized mean. Passthrough of every non-text column."""
    arr_sql = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in weights)
    fold = F.expr(
        f"aggregate(gs, CAST(0.0 AS DOUBLE), (acc, g) -> acc + "
        f"element_at(array({arr_sql}), CAST({_QC_BKT_SPARK} AS INT) + 1))"
    )
    from temporalvault_spark.operators.index_common import quant6_col

    other = [c for c in docs.columns if c != "text"]
    return (
        docs.select(*other, _tokens().alias("t"))
        .select(*other, _qc_grams().alias("gs"))
        .select(
            *other,
            F.size("gs").cast("long").alias("n_grams"),
            # ROUND(sum, 6) first: quantized-weight sums sit on micro-unit
            # multiples (the DSIR stability argument), so both engines
            # recover the identical double before the exact division
            F.round(fold, 6).alias("s"),
        )
        .select(
            *other,
            "n_grams",
            quant6_col(F.col("s") / F.col("n_grams")).alias("score"),
        )
    )


@query(
    "quality_classifier_score",
    f"""WITH {GOPHER_CTES},
    qc_g AS (
        SELECT doc_id,
               unnest(list_concat(t, list_transform(range(1, len(t)),
                   i -> t[i] || ' ' || t[i+1]))) AS g
        FROM gq_toks WHERE t IS NOT NULL),
    qc_b AS (SELECT doc_id, {_QC_BKT_DUCK} AS bkt FROM qc_g),
    qc_counts AS (
        SELECT b.bkt,
               COUNT(CASE WHEN m.keep THEN 1 END) AS pos,
               COUNT(CASE WHEN NOT m.keep THEN 1 END) AS neg
        FROM qc_b b JOIN gq_metrics m ON b.doc_id = m.doc_id
        GROUP BY b.bkt),
    qc_tots AS (SELECT CAST(SUM(pos) AS BIGINT) AS post,
                       CAST(SUM(neg) AS BIGINT) AS negt FROM qc_counts),
    qc_w AS (
        SELECT s.bkt,
               {quant6_sql(f'''ln(CAST((COALESCE(c.pos, 0) + 1) * (t.negt + {QC_BUCKETS}) AS DOUBLE)
                        / CAST((t.post + {QC_BUCKETS}) * (COALESCE(c.neg, 0) + 1) AS DOUBLE))''')} AS w
        FROM (SELECT unnest(range(0, {QC_BUCKETS})) AS bkt) s
        LEFT JOIN qc_counts c ON s.bkt = c.bkt
        CROSS JOIN qc_tots t),
    qc_s AS (
        SELECT b.doc_id, ROUND(SUM(w.w), 6) AS s,
               CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM qc_b b JOIN qc_w w ON b.bkt = w.bkt
        GROUP BY b.doc_id)
    SELECT s.doc_id, d.source, s.n_grams,
           {quant6_sql("s.s / s.n_grams")} AS score
    FROM qc_s s JOIN documents d ON s.doc_id = d.doc_id""",
)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned quality stage over the documents table: train the
    hashed-gram NB-log-odds scorer on the corpus's own Gopher labels (one
    bounded aggregate, cached per corpus), then score EVERY document in
    one fold projection. The oracle replays the whole chain — Gopher
    labels (the shared GOPHER_CTES rendering), per-bucket counts, the
    quantized ln log-odds (in-engine ln on bit-identical integer-derived
    doubles), and the length-normalized scores — end-to-end under one
    value hash.

    Scale shape: training is one gram-fold aggregate with a <= QC_BUCKETS
    collect, once per corpus; scoring is scan-speed whole-stage codegen
    with the {QC_BUCKETS} weights as a literal array — at 100 TB nothing
    shuffles except the training pass's 128-row partial aggregates."""
    weights = _qc_weight_literals(spark, sf_dir)
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return quality_classifier_score(docs.select("doc_id", "source", "text"), weights)
