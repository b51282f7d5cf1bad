"""LLM training-data pipeline operators over documents/embeddings
(SURVEY.md §2.11-2.12; north-star extensions beyond the reference surface).

Design rules for 100 TB corpora:
  - everything runs as JVM builtins (split/array/map/md5) — no Python on the
    per-token hot path; the only Pandas UDF lives in similarity.py where
    vectorized NumPy genuinely wins;
  - near-dup never goes all-pairs: candidate generation is blocked (here) or
    LSH-bucketed (dedup_minhash in similarity.py), so the join key bounds the
    comparison fan-out;
  - fingerprints use md5 (bit-identical in every engine) rather than
    engine-local hash functions, so results are portable and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Fixed constants — part of the operator's contract.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_catalog(spark, sf_dir).table("documents")


def _tokens(col: str = "text"):
    return F.split(F.lower(F.trim(F.col(col))), " ")


def bigram_pairs(col: str = "t"):
    """w_i||' '||w_{i+1} pairs of a token-array column; empty for <2 tokens.
    THE one rendering of the bigram expression (gopher repetition rules and
    the bigram LM both consume it). The CASE guard is load-bearing: Spark's
    sequence(1, 0) DESCENDS instead of being empty, so a 1-token doc must
    short-circuit to an empty list."""
    return F.expr(
        f"CASE WHEN size({col}) < 2 THEN array() "
        f"ELSE transform(sequence(1, size({col}) - 1), "
        f"i -> concat({col}[i-1], ' ', {col}[i])) END"
    )


# --- deduplication ---------------------------------------------------------


@query(
    "dedup_exact",
    """SELECT md5(lower(trim(text))) AS fingerprint,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized text's md5. At 100 TB you
    group on the 16-byte digest, never the text itself — the shuffle carries
    fingerprints + ids only (the projection below is what guarantees that)."""
    return (
        _docs(spark, sf_dir)
        .select(F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


_SHINGLE_DUCK = (
    "list_distinct(list_transform(range(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)

NGRAM_BANDS = 4

# DuckDB replay of ngram_jaccard_pairs (shared: the dedup_ngram_jaccard
# oracle below, and dedup_cluster's recursive-CTE components oracle embeds it
# as the edge set).
# the tokenise -> shingle -> md5 -> banded-sketch prefix, shared by the
# self-join pair oracle below and minhash_index's incremental cross-batch
# oracle (one rendering — the two cannot drift)
NGRAM_SKETCH_CTES = f"""toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
        ),
    sh AS (
        SELECT doc_id, {_SHINGLE_DUCK} AS shingles,
               len({_SHINGLE_DUCK}) AS n_sh
        FROM toks WHERE len(t) >= 3),
    shh AS (
        SELECT doc_id, n_sh, list_transform(shingles, x -> md5(x)) AS hs
        FROM sh),
    banded AS (
        SELECT doc_id, n_sh, band,
               list_sort(list_transform(hs,
                   h -> substring(h, band * 8 + 1, 8)))[1] AS min_h
        FROM shh CROSS JOIN (SELECT unnest(range({NGRAM_BANDS})) AS band))"""

NGRAM_PAIRS_SQL = f"""WITH {NGRAM_SKETCH_CTES},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.min_h = b.min_h
         AND a.doc_id < b.doc_id
         AND LEAST(a.n_sh, b.n_sh) * 5 >= GREATEST(a.n_sh, b.n_sh) * 3)
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.6"""


@query("dedup_ngram_jaccard", NGRAM_PAIRS_SQL)
def _q_dedup_ngram_jaccard_decorated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return staged_ngram_pairs(spark, sf_dir)


# --- staged signature + pair frames ----------------------------------------
# The MinHash family has TWO natural staging tables, mirroring a production
# 100 TB pipeline:
#   1. the SIGNATURE frame (doc_id, hs[], n_sh) — one tokenize→shingle→md5
#      pass over the corpus text, the expensive CPU stage. Every consumer
#      (in-memory pair join, persisted band index build, index probe)
#      derives band sketches from it; staging it once means ONE md5 pass
#      per session across the whole family.
#   2. the PAIR frame (doc_a, doc_b, jaccard) — the LSH candidate-join +
#      exact-verify output, feeding four consumers (dedup_ngram_jaccard,
#      dedup_components, dedup_near_apply, split_leakage_check). Pairs ≪
#      docs by construction, so the artifact is tiny relative to the corpus.
# Both are staging.artifact()s keyed on the corpus fingerprint, so
# rewriting documents.parquet within one application re-stages instead of
# serving stale artifacts. Consumers read the parquet artifacts, so the
# corpus is tokenized/hashed exactly once per session no matter how many
# downstream queries run; everything is md5-deterministic, so each
# consumer's self-contained DuckDB oracle still replays the staged values
# bit-for-bit.


def stage_shingle_signatures(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Materialize the per-doc shingle-signature frame (the corpus md5 pass)
    to a parquet staging artifact — once per application + corpus
    fingerprint. ``force`` re-runs the pass, which the bench uses so the
    stage cost stays measured instead of hidden. Returns the artifact
    path."""
    return artifact(
        spark, "sig_stage", sf_dir, ("documents",),
        lambda tmp: shingle_signatures(_docs(spark, sf_dir)).write.parquet(tmp),
        force,
    )


def staged_shingle_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs, n_sh) from the staging artifact — stages on first use.
    Parquet-backed, so downstream band/verify frames re-scan the artifact
    (cheap, size-statted) instead of re-running the md5 pass."""
    return spark.read.parquet(stage_shingle_signatures(spark, sf_dir))


@query(
    "minhash_sig_stage",
    f"""WITH {NGRAM_SKETCH_CTES}
    SELECT doc_id, CAST(n_sh AS INTEGER) AS n_sh FROM sh""",
)
def q_minhash_sig_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature-staging job itself, as a benchable query: ALWAYS
    re-runs the corpus md5 pass (force=True) and returns the artifact's
    (doc_id, n_sh) slice. bench.py places this before every minhash-family
    consumer so the one-time md5 cost is measured explicitly; the hs
    digests themselves are value-checked through every pair-frame
    consumer's oracle."""
    return spark.read.parquet(stage_shingle_signatures(spark, sf_dir, force=True)).select(
        "doc_id", "n_sh"
    )


def stage_ngram_pairs(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Materialize the near-dup pair frame to a parquet staging artifact
    (once per Spark application + corpus fingerprint; ``force`` re-runs the
    band/join/verify pipeline — from the staged signature artifact, NOT a
    fresh md5 pass — which the bench uses so the stage cost stays measured
    instead of hidden). Returns the artifact path."""

    def build(tmp: str) -> None:
        ngram_jaccard_pairs(
            _docs(spark, sf_dir),
            signatures=staged_shingle_signatures(spark, sf_dir),
        ).write.parquet(tmp)

    return artifact(spark, "pairs_stage", sf_dir, ("documents",), build, force)


def staged_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) from the staging artifact — stages on first
    use. Deterministic md5 pipeline + round(6): the parquet round-trip is
    value-identical to the self-contained form, so every consumer's oracle
    still replays it bit-for-bit."""
    return spark.read.parquet(stage_ngram_pairs(spark, sf_dir))


@query("ngram_pairs_stage", NGRAM_PAIRS_SQL)
def q_ngram_pairs_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair-staging job itself, as a benchable query: ALWAYS re-runs the
    band-join + exact-verify pipeline (force=True, reading the staged
    signature artifact) and returns the artifact's content. bench.py places
    this after minhash_sig_stage and before the four pair consumers, so
    each pipeline stage's cost is measured exactly once and explicitly."""
    return spark.read.parquet(stage_ngram_pairs(spark, sf_dir, force=True))


def jaccard_sets(a: str, b: str):
    """Exact Jaccard of two DISTINCT-element array columns (every signature
    frame here is array_distinct-produced): |a∩b| / (|a|+|b|−|a∩b|). One
    array_intersect per row — the naive form also built array_union, a
    second per-row hash-set pass whose size is arithmetically determined
    (r15, guide §1.2 per-task work; interleaved A/B on the pair verify at
    sf0.1: 1.06 → 0.87s, rows identical). Integer identity, so the DuckDB
    oracles' len(list_distinct(list_concat(...))) replay is unchanged
    bit-for-bit; THE one rendering for the in-memory pair verify and the
    persisted-index probe verify."""
    i = F.size(F.array_intersect(F.col(a), F.col(b)))
    return i.cast("double") / (F.size(a) + F.size(b) - i).cast("double")


def shingle_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, hs, n_sh): each doc's distinct word-3-gram shingle set as md5
    digests — the signature frame every minhash consumer (in-memory pair
    join, persisted band index) derives from. The explicit numbered
    repartition spreads the CPU-bound md5 pass across cores (the testdata
    corpus arrives as one file = one partition; AQE won't coalesce a
    user-numbered repartition)."""
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        docs.repartition(n_parts)
        .select("doc_id", _tokens().alias("t"))
        .filter(F.size("t") >= 3)
    )
    shingles = F.array_distinct(
        F.expr("transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")
    )
    return toks.select(
        "doc_id", F.transform(shingles, lambda x: F.md5(x)).alias("hs")
    ).withColumn("n_sh", F.size("hs"))


def band_sketch(sh: DataFrame, n_bands: int = NGRAM_BANDS) -> DataFrame:
    """Slim banded sketch from a signature frame: per (doc, band) the min of
    the band's 8-hex digest slice (one-permutation hashing — the b families
    cost ONE md5 per shingle, band b reads the b-th 32-bit slice).
    coalesce() keeps min_h non-nullable (no inferred isnotnull pushdown)."""
    return sh.select(
        "doc_id",
        "n_sh",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> struct("
                "b AS band, "
                "coalesce(array_min(transform(hs, "
                "h -> substring(h, b * 8 + 1, 8))), '') AS min_h))"
            )
        ).alias("bh"),
    ).select("doc_id", "n_sh", F.col("bh.band").alias("band"), F.col("bh.min_h").alias("min_h"))


NGRAM_BROADCAST_MAX_DOCS = 200_000


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n_bands: int = NGRAM_BANDS,
    broadcast_max_docs: int = NGRAM_BROADCAST_MAX_DOCS,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup detection: word-3-gram shingle Jaccard, MinHash-banded.

    Candidate pairs = documents sharing the band-b minimum hash for any of
    ``n_bands`` hash families — b bands of r=1 rows, so a jaccard-j pair is
    a candidate with probability ~1-(1-j)^b (b=4, j=0.6: 97% vs 60%
    single-band; the crafted-recall unit test pins a pair only multi-band
    finds). Exact Jaccard then verifies candidates, so precision is exact
    and only recall is probabilistic.

    The b families cost ONE md5 per shingle, not b: family b is the b-th
    8-hex-char (32-bit) slice of the single digest — one-permutation-hashing
    style — so adding bands adds only substring+min work, never more md5
    passes (the md5 over every shingle is the dominant CPU cost here).

    Scale shape — the corpus is parsed and hashed EXACTLY ONCE:
      1. the tokenize→shingle→md5 pass materializes the per-doc SIGNATURE
         SET (doc_id, hs[], n_sh) via localCheckpoint — the standard
         signature-materialization trade of production MinHash pipelines
         (at cluster scale this frame is a parquet staging table). Every
         downstream frame — band sketch, candidate join, exact verify —
         derives from the checkpoint, so there is never a second scan of
         the text (the previous 3-pass form re-ran the md5 pass for the
         verify sides; measured ~2x slower at sf0.1);
      2. candidate generation is an equi-join on (band, 32-bit min-slice)
         whose shuffle carries ONLY (doc_id, n_sh, band, min_h) — the
         signature arrays never ride that exchange;
      3. exact Jaccard verifies candidates on the md5 sets themselves —
         identical values to shingle-set Jaccard (md5 is injective here),
         which is why the DuckDB oracle over raw shingles still matches
         bit-for-bit — and runs on ~|candidate| rows: the signature side is
         first semi-reduced to candidate docs, and candidates ≪ corpus by
         construction, so broadcasting the reduced arrays is bounded.
    Everything is md5-deterministic, so the DuckDB oracle replays it exactly.
    """
    # THE one corpus pass: signature set per doc (md5 per distinct shingle).
    # Checkpoint = by-result reuse; by-lineage reuse would re-expand this
    # subtree into every downstream reference (observed: 8 FileScans,
    # 8 passes over the text at corpus scale). LAZY (eager=False): the first
    # job that touches the RDD materializes it and every later job reuses
    # the blocks — same single compute, but no separate up-front
    # materialization job (measured: removes the worst-case bench tail,
    # 4.6s -> 2.5s cold, identical results). When a pre-staged signature
    # frame is supplied (stage_shingle_signatures' parquet artifact) the
    # md5 pass is skipped entirely — the artifact is already a
    # materialized, re-scannable source, so no checkpoint is needed.
    if signatures is not None:
        sh = signatures
    else:
        sh = shingle_signatures(docs).localCheckpoint(eager=False)
    banded = band_sketch(sh, n_bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.min_h") == F.col("b.min_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # lossless prefilter: jaccard >= 0.6 bounds the set-size ratio
            & (F.least("a.n_sh", "b.n_sh") * 5 >= F.greatest("a.n_sh", "b.n_sh") * 3),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()  # a pair may collide in several bands
    )
    # semi-join-reduce the signature side to candidate docs BEFORE the pair
    # join: cand_docs is the slimmest possible frame (distinct ids), and the
    # reduced arrays are |candidate docs|-bounded. The broadcast hints are
    # load-bearing on the common path: everything here derives from a
    # localCheckpoint (LogicalRDD, no size stats), so an unhinted planner
    # assumes huge and sort-merge-joins — measured ~40% slower even at
    # sf0.1. But "candidates ≪ corpus" is probabilistic, not guaranteed: on
    # a high-duplication corpus the candidate signature frame is NOT small
    # and a forced broadcast OOMs the driver. So the hint is SIZE-GATED:
    # the candidate-doc count (one count over the checkpointed slim id
    # frame — the pair pipeline is materialized exactly once and every
    # downstream join reuses the blocks) decides broadcast vs plain
    # shuffle join; above the gate AQE still may convert at runtime from
    # ACTUAL sizes, which is the safe direction.
    cand = cand.localCheckpoint(eager=False)
    cand_docs = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_cand_docs = cand_docs.count()
    hint = F.broadcast if n_cand_docs <= broadcast_max_docs else (lambda d: d)
    sh_red = sh.join(hint(cand_docs), "doc_id", "semi")
    sa = hint(sh_red.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("a_hs")))
    sb = hint(sh_red.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("b_hs")))
    jac = jaccard_sets("a_hs", "b_hs")
    return (
        cand.join(sa, F.col("doc_a") == F.col("a_id"))
        .join(sb, F.col("doc_b") == F.col("b_id"))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(jac >= threshold)
    )


_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "token_count_bpe",
    f"""SELECT doc_id,
           len(string_split(lower(trim(text)), ' ')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens,
           ROUND(CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS DOUBLE)
                 / len(string_split(lower(trim(text)), ' ')), 6) AS bpe_per_word
    FROM documents""",
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish regex
    segmentation (letter runs / digit runs / single symbols — the shape of a
    GPT-style pre-tokenizer). The ratio approximates tokens-per-word, the
    number every training-data budget is priced in. Pure regexp builtins —
    codegen'd, no Python."""
    d = _docs(spark, sf_dir)
    # idx=0 = whole match (Spark defaults to capture group 1; pattern has none)
    bpe = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), 0)
    ws = _tokens()
    return d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.round(F.size(bpe).cast("double") / F.size(ws), 6).alias("bpe_per_word"),
    )


# --- true BPE (merge-table) token counting ---------------------------------
#
# token_count_bpe above is the cheap regex tier; this is the REAL
# merges-table tier: a BPE merge table TRAINED ON THE CORPUS, applied with
# genuine cascading merge semantics ('t h'->'th' in round 1 makes 'th e'
# learnable in round 2). Trainer variant: BATCH BPE — instead of one merge
# per iteration (Sennrich), each round counts all adjacent token pairs over
# the current segmentation (weighted by word frequency, learned on the
# top-VOCAB words) and adopts the top MERGES_PER_ROUND pairs at once, for
# ROUNDS rounds. Within a round, merges apply greedily left-to-right with
# no re-merge (a token created this round can only merge again in a LATER
# round) — that rule is what makes the whole computation a deterministic,
# engine-portable expression: both the trainer and the tokenizer are plain
# SQL over arrays, so the DuckDB oracle replays training AND application
# bit-for-bit.
#
# Scale shape: word counting is one map-side-combined shuffle; training
# runs over the top-VOCAB word rows only (bounded); APPLICATION runs once
# per DISTINCT word (never per occurrence) and rejoins docs on the word —
# the classic word-level BPE cache. Greedy LTR without re-merge is
# vectorized via the parity-of-run trick: a pair merges iff it is mergeable
# and an EVEN number of consecutive mergeable pairs immediately precede it
# (run-local positions 0, 2, 4 … merge — exactly the left-to-right result).

BPE_VOCAB = 10_000
BPE_MERGES_PER_ROUND = 64
BPE_ROUNDS = 3


# Dialect fragments for the BPE pipeline, module-level so the property test
# (tests/test_bpe.py) can evaluate the EXACT production merge-step text
# against a Python reference implementation — no drift-prone copies.
BPE_DIALECT = {
    "spark": {
        "split_words": "explode(split(lower(trim(text)), ' '))",
        "chars": "transform(sequence(1, length(word)), i -> substring(word, i, 1))",
        "length_fn": "length",
        "pairs_of": (
            "CASE WHEN size(toks) < 2 THEN array() "
            "ELSE transform(sequence(1, size(toks) - 1), "
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) END"
        ),
        "explode_p": "explode",
        "listagg": "collect_list",
        "m_expr": (
            "CASE WHEN size(toks) < 2 THEN cast(array() as array<boolean>) "
            "ELSE transform(sequence(1, size(toks) - 1), "
            "i -> array_contains(ml, concat(element_at(toks, i), ' ', element_at(toks, i + 1)))) END"
        ),
        "ma_expr": (
            "CASE WHEN size(m) = 0 THEN cast(array() as array<boolean>) "
            "ELSE transform(sequence(1, size(m)), i -> element_at(m, i) AND "
            "((i - array_max(concat(array(0), filter(slice(sequence(1, size(m)), 1, i - 1), "
            "j -> NOT element_at(m, j)))) - 1) % 2 = 0)) END"
        ),
        "out_expr": (
            "transform(filter(sequence(1, size(toks)), k -> k = 1 OR NOT element_at(ma, k - 1)), "
            "k -> CASE WHEN k <= size(ma) THEN (CASE WHEN element_at(ma, k) "
            "THEN concat(element_at(toks, k), element_at(toks, k + 1)) "
            "ELSE element_at(toks, k) END) ELSE element_at(toks, k) END)"
        ),
    },
    "duck": {
        "split_words": "unnest(string_split(lower(trim(text)), ' '))",
        "chars": "list_transform(range(1, len(word) + 1), i -> word[i])",
        "length_fn": "len",
        "pairs_of": (
            "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"
        ),
        "explode_p": "unnest",
        "listagg": "list",
        "m_expr": (
            "list_transform(range(1, len(toks)), "
            "i -> list_contains(ml, toks[i] || ' ' || toks[i+1]))"
        ),
        "ma_expr": (
            "list_transform(range(1, len(m) + 1), i -> m[i] AND "
            "((i - list_max(list_concat([0], list_filter(range(1, i), j -> NOT m[j]))) - 1) % 2 = 0))"
        ),
        "out_expr": (
            "list_transform(list_filter(range(1, len(toks) + 1), k -> k = 1 OR NOT ma[k - 1]), "
            "k -> CASE WHEN k <= len(ma) THEN (CASE WHEN ma[k] "
            "THEN toks[k] || toks[k+1] ELSE toks[k] END) ELSE toks[k] END)"
        ),
    },
}


def _bpe_cte_chain(
    dialect: str, rounds: int = BPE_ROUNDS, merges_per_round: int = BPE_MERGES_PER_ROUND
) -> str:
    """The shared CTE chain (words → vocab → seg0 → ``rounds`` training
    rounds), emitted for either SQL dialect ('spark' | 'duck'). Both texts
    compute the identical result; only the array-function vocabulary
    differs."""
    d = BPE_DIALECT[dialect if dialect == "spark" else "duck"]
    split_words = d["split_words"]
    chars = d["chars"]
    length_fn = d["length_fn"]
    pairs_of = d["pairs_of"]
    explode_p = d["explode_p"]
    listagg = d["listagg"]
    m_expr = d["m_expr"]
    ma_expr = d["ma_expr"]
    out_expr = d["out_expr"]
    ctes = f"""words AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT {split_words} AS w FROM documents WHERE text IS NOT NULL) tw
        WHERE {length_fn}(w) > 0 GROUP BY w),
    vocab AS (SELECT word FROM words ORDER BY cnt DESC, word ASC LIMIT {BPE_VOCAB}),
    seg0 AS (SELECT word, cnt, {chars} AS toks FROM words)"""
    prev = "seg0"
    for r in range(1, rounds + 1):
        ctes += f""",
    pc{r} AS (SELECT p AS pair, CAST(SUM(cnt) AS BIGINT) AS c FROM (
            SELECT cnt, {explode_p}({pairs_of}) AS p FROM (
                SELECT s.cnt AS cnt, s.toks AS toks
                FROM {prev} s JOIN vocab v ON s.word = v.word) tv) tp
        GROUP BY p),
    topk{r} AS (SELECT pair, c FROM pc{r}
                ORDER BY c DESC, pair ASC LIMIT {merges_per_round}),
    top{r} AS (SELECT pair, c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, pair ASC) AS BIGINT) AS merge_rank
               FROM topk{r}),
    ml{r} AS (SELECT {listagg}(pair) AS ml FROM top{r}),
    sa{r} AS (SELECT s.word AS word, s.cnt AS cnt, s.toks AS toks, {m_expr} AS m
              FROM {prev} s CROSS JOIN ml{r}),
    sb{r} AS (SELECT word, cnt, toks, {ma_expr} AS ma FROM sa{r}),
    seg{r} AS (SELECT word, cnt, {out_expr} AS toks FROM sb{r})"""
        prev = f"seg{r}"
    return ctes


def _bpe_count_sql(
    dialect: str, rounds: int = BPE_ROUNDS, merges_per_round: int = BPE_MERGES_PER_ROUND
) -> str:
    split_words = (
        "explode(split(lower(trim(text)), ' '))"
        if dialect == "spark"
        else "unnest(string_split(lower(trim(text)), ' '))"
    )
    length_fn = "length" if dialect == "spark" else "len"
    size_fn = "size" if dialect == "spark" else "len"
    last = f"seg{rounds}"
    return f"""WITH {_bpe_cte_chain(dialect, rounds, merges_per_round)},
    wt AS (SELECT word, CAST({size_fn}(toks) AS BIGINT) AS n_tok FROM {last}),
    dw AS (SELECT doc_id, w FROM (
            SELECT doc_id, {split_words} AS w FROM documents WHERE text IS NOT NULL) td
           WHERE {length_fn}(w) > 0),
    per AS (SELECT dw.doc_id AS did, wt.n_tok AS n_tok
            FROM dw JOIN wt ON dw.w = wt.word)
    SELECT d.doc_id, CAST(COALESCE(SUM(per.n_tok), 0) AS BIGINT) AS n_bpe2_tokens
    FROM documents d LEFT JOIN per ON per.did = d.doc_id
    GROUP BY d.doc_id"""


def _bpe_merges_sql(
    dialect: str, rounds: int = BPE_ROUNDS, merges_per_round: int = BPE_MERGES_PER_ROUND
) -> str:
    tails = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, merge_rank, pair, c AS weight FROM top{r}"
        for r in range(1, rounds + 1)
    )
    return f"WITH {_bpe_cte_chain(dialect, rounds, merges_per_round)} {tails}"


# Production scale tier: the unrolled CTE chain above proves the algorithm
# and gives bit-for-bit cross-engine replay, but it cannot express a real
# merge table (~1k+ entries): measured on DuckDB at sf0.01, 8 unrolled
# rounds take 42s and 16 rounds exhaust file handles. So the ENGINE side is
# an ITERATIVE DRIVER LOOP (the connected_components shape: data stays
# distributed, only the round's top-k merge pairs — 64 slim rows — come
# back per round; lazy localCheckpoint keeps lineage O(1) deep). Round r
# depends only on rounds < r, so a k-round train is a PREFIX of any deeper
# train — which is what lets a bounded-round DuckDB oracle hash-check the
# production-depth trainer (bpe_train_merges_1k below), with
# tests/test_bpe.py's sequential-reference property test covering the
# beyond-prefix rounds.

BPE_ROUNDS_FULL = 16  # x64 merges/round = 1024 merges — production shape


def bpe_train_segment(
    docs: DataFrame,
    rounds: int = BPE_ROUNDS,
    merges_per_round: int = BPE_MERGES_PER_ROUND,
    vocab_limit: int = BPE_VOCAB,
) -> tuple[list[tuple[int, int, str, int]], DataFrame]:
    """Iterative batch-BPE trainer: returns (merge_rows, seg) where
    merge_rows is the learned table [(round, merge_rank, pair, weight)] and
    seg is the final (word, cnt, toks) segmentation of EVERY distinct
    corpus word. Semantics are identical to the unrolled CTE chain round
    for round (same dialect fragments, BPE_DIALECT['spark'] — one rendering,
    cannot drift); the loop form just removes the depth limit. Per round:
    one map-side-combined pair-count aggregate over the vocab words, a
    64-row collect, and a codegen'd re-segmentation projection."""
    d = BPE_DIALECT["spark"]
    words = (
        docs.filter(F.col("text").isNotNull())
        .select(F.expr(d["split_words"]).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        words.orderBy(F.desc("cnt"), F.asc("word"))
        .limit(vocab_limit)
        .select("word")
        .localCheckpoint(eager=False)
    )
    seg = words.select("word", "cnt", F.expr(d["chars"]).alias("toks")).localCheckpoint(
        eager=False
    )
    merge_rows: list[tuple[int, int, str, int]] = []
    for r in range(1, rounds + 1):
        top = (
            seg.join(vocab, "word")
            .select("cnt", F.explode(F.expr(d["pairs_of"])).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("c"))
            .orderBy(F.desc("c"), F.asc("pair"))
            .limit(merges_per_round)
            .collect()  # bounded: merges_per_round slim rows per round
        )
        if not top:
            break
        merge_rows += [(r, i + 1, row["pair"], row["c"]) for i, row in enumerate(top)]
        ml_lit = F.array(*[F.lit(row["pair"]) for row in top])
        seg = (
            seg.withColumn("ml", ml_lit)
            .withColumn("m", F.expr(d["m_expr"]))
            .withColumn("ma", F.expr(d["ma_expr"]))
            .select("word", "cnt", F.expr(d["out_expr"]).alias("toks"))
            # lazy: next round's top-k collect (or the caller's first action)
            # materializes it; lineage never deepens past one round
            .localCheckpoint(eager=False)
        )
    return merge_rows, seg


def bpe_token_counts(docs: DataFrame, seg: DataFrame) -> DataFrame:
    """(doc_id, n_bpe2_tokens): per-document token counts under a trained
    segmentation — the word-level BPE cache: tokens counted once per
    DISTINCT word, rejoined to docs on the word."""
    d = BPE_DIALECT["spark"]
    wt = seg.select("word", F.size("toks").cast("bigint").alias("n_tok"))
    dw = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(d["split_words"]).alias("word"))
        .filter(F.length("word") > 0)
    )
    per = dw.join(wt, "word").select("doc_id", "n_tok")
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("n_tok"), F.lit(0)).cast("bigint").alias("n_bpe2_tokens"))
    )


def _merge_table_df(spark: SparkSession, merge_rows) -> DataFrame:
    return spark.createDataFrame(
        merge_rows, "round bigint, merge_rank bigint, pair string, weight bigint"
    )


@query("token_count_bpe2", _bpe_count_sql("duck"))
def q_token_count_bpe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the corpus-trained BPE merge table
    (see the module block above) — engine side runs the ITERATIVE trainer
    (bpe_train_segment, same per-round semantics as the unrolled chain);
    the oracle replays the full train+apply pipeline in DuckDB — trainer
    determinism is part of the contract."""
    docs = _docs(spark, sf_dir)
    _, seg = bpe_train_segment(docs, BPE_ROUNDS, BPE_MERGES_PER_ROUND)
    return bpe_token_counts(docs, seg)


@query("bpe_train_merges", _bpe_merges_sql("duck"))
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table itself: (round, merge_rank, pair, weight) —
    the broadcastable artifact a production tokenizer would persist."""
    merge_rows, _ = bpe_train_segment(
        _docs(spark, sf_dir), BPE_ROUNDS, BPE_MERGES_PER_ROUND
    )
    return _merge_table_df(spark, merge_rows)


# The 1k-merge tier stages its trained artifacts per (application, corpus
# fingerprint) — same contract as the signature/pair stages: a production
# tokenizer trains ONCE, persists the merge table + word segmentation, and
# every apply pass reads the artifact. bpe_train_merges_1k (force=True)
# benches the full 16-round train explicitly; token_count_bpe_1k benches
# the APPLY cost that actually recurs.


def stage_bpe_1k(spark: SparkSession, sf_dir: str, force: bool = False) -> tuple[str, str]:
    """Run the BPE_ROUNDS_FULL x 64 = 1024-merge iterative trainer once per
    application + corpus fingerprint; persist (merge table, word
    segmentation) as ONE artifact of two parquet tables, swapped in
    together. Returns (merges_path, seg_path)."""

    def build(tmp: str) -> None:
        merge_rows, seg = bpe_train_segment(
            _docs(spark, sf_dir), BPE_ROUNDS_FULL, BPE_MERGES_PER_ROUND
        )
        _merge_table_df(spark, merge_rows).write.parquet(f"{tmp}/merges")
        seg.write.parquet(f"{tmp}/seg")

    root = artifact(spark, "bpe_stage", sf_dir, ("documents",), build, force)
    return f"{root}/merges", f"{root}/seg"


@query("bpe_train_merges_1k", _bpe_merges_sql("duck"))
def q_bpe_train_merges_1k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-DEPTH train: runs the full BPE_ROUNDS_FULL x 64 = 1024-merge
    iterative trainer end-to-end (force-restaging the session's trained
    artifacts), then returns only the rounds <= BPE_ROUNDS prefix of the
    learned table. Round r depends only on rounds < r, so that prefix is
    IDENTICAL to the bounded train by construction — the hash-green oracle
    therefore value-checks the first rounds of the real 1k-merge run, and
    tests/test_bpe.py's 16-round sequential-reference differential pins the
    beyond-prefix rounds (DuckDB cannot replay them: 42s at 8 unrolled
    rounds, file-handle exhaustion at 16 — measured, see module block)."""
    merges_path, _ = stage_bpe_1k(spark, sf_dir, force=True)
    m = spark.read.parquet(merges_path).filter(F.col("round") <= BPE_ROUNDS)
    return m.select("round", "merge_rank", "pair", "weight")


@query("token_count_bpe_1k")  # rows-only: no engine can replay 16 rounds in SQL
def q_token_count_bpe_1k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the FULL 1024-merge table — the
    production tokenization pass, applying the session's staged trained
    segmentation (train benched separately by bpe_train_merges_1k, the
    same train-once/apply-many split a real tokenizer deploys). Rows-only
    in the registry (the oracle depth limit is DuckDB's, measured above,
    not ours); correctness comes from bpe_train_merges_1k's prefix hash
    plus the 16-round differential test, and bench.py tracks both queries
    so train and apply costs are visible round-over-round."""
    docs = _docs(spark, sf_dir)
    _, seg_path = stage_bpe_1k(spark, sf_dir)
    return bpe_token_counts(docs, spark.read.parquet(seg_path))


# --- fingerprinting --------------------------------------------------------


@query(
    "doc_fingerprint",
    """WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
        WHERE text IS NOT NULL)
    SELECT doc_id,
           md5(array_to_string(t, ' ')) AS md5_full,
           md5(COALESCE(array_to_string(
               list_sort(list_distinct(CASE WHEN len(t) >= 3 THEN
                   list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                   ELSE [] END)), chr(10)), '')) AS shingle_fingerprint,
           CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS n_shingles
    FROM toks""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text plus an md5 over
    the sorted distinct word-3-gram shingle set (the input MinHash/SimHash
    sketches start from). Engine-portable by construction (md5, not
    xxhash/murmur). NULL-text docs have no fingerprint (filtered on both
    sides — md5(NULL) propagation differs between engines)."""
    toks = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", _tokens().alias("t"))
    )
    shingles = F.when(
        F.size("t") >= 3,
        F.expr("transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        "doc_id",
        F.md5(F.array_join("t", " ")).alias("md5_full"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(shingles)), "\n")).alias(
            "shingle_fingerprint"
        ),
        (F.when(F.size("t") >= 3, F.size("t") - 2).otherwise(F.lit(0))).cast("long").alias("n_shingles"),
    )


SPAN_TOKENS = 10


@query(
    "dedup_substring_spans",
    f"""WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
    sp AS (
        SELECT doc_id,
               unnest(list_transform(range(0, len(t) - {SPAN_TOKENS} + 1),
                   i -> md5(array_to_string(t[i+1:i+{SPAN_TOKENS}], ' ')))) AS span_h
        FROM toks WHERE len(t) >= {SPAN_TOKENS})
    SELECT span_h,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM sp GROUP BY span_h
    HAVING COUNT(DISTINCT doc_id) > 1""",
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_spans(_docs(spark, sf_dir))


def substring_spans(docs: DataFrame, k: int = SPAN_TOKENS) -> DataFrame:
    """Exact-substring dedup (the Lee et al. 2021 "Deduplicating Training
    Data" operator, hash-blocked): every {SPAN_TOKENS}-token rolling window
    is fingerprinted, and spans occurring in more than one document are the
    repeated passages a pipeline trims (boilerplate, licenses, templated
    intros). The suffix-array formulation of the paper is a single-machine
    design; the distributed equivalent is exactly this — roll a window,
    hash it, group by the digest.

    Scale shape: the md5 pass is a zero-shuffle projection (per-partition
    CPU); the groupBy shuffles (span_h, doc_id) digest pairs only — 16-byte
    keys, never token arrays — with map-side combine collapsing within-doc
    and within-partition repeats before the exchange. Output is bounded by
    the number of DISTINCT repeated spans, which at corpus scale is the
    dedup candidate list you join back against documents to splice spans
    out (same apply pattern as dedup_apply, corpus.py)."""
    spark_n = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        docs
        .repartition(spark_n)  # md5-per-span is CPU-bound; spread the 1-file scan
        .select("doc_id", _tokens().alias("t"))
        .filter(F.size("t") >= k)
    )
    spans = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}), "
                f"i -> md5(array_join(slice(t, i + 1, {k}), ' ')))"
            )
        ).alias("span_h"),
    )
    return (
        spans.groupBy("span_h")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "dedup_substring_apply",
    f"""WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
    sp AS (
        SELECT doc_id, i,
               md5(array_to_string(t[i+1:i+{SPAN_TOKENS}], ' ')) AS span_h
        FROM toks, (SELECT unnest(range(0, 10000)) AS i) ix
        WHERE len(t) >= {SPAN_TOKENS} AND i <= len(t) - {SPAN_TOKENS}),
    rep AS (
        SELECT span_h, MIN(doc_id) AS first_doc
        FROM sp GROUP BY span_h HAVING COUNT(DISTINCT doc_id) > 1),
    bad AS (
        SELECT s.doc_id, s.i FROM sp s JOIN rep r ON s.span_h = r.span_h
        WHERE s.doc_id != r.first_doc),
    cov AS (
        SELECT DISTINCT doc_id, unnest(range(i, i + {SPAN_TOKENS})) AS idx
        FROM bad),
    pos AS (
        SELECT doc_id, i AS idx, t[i+1] AS tok
        FROM toks, (SELECT unnest(range(0, 10000)) AS i) ix
        WHERE i < len(t)),
    kept AS (
        SELECT p.doc_id, p.idx, p.tok
        FROM pos p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.idx = c.idx
        WHERE c.doc_id IS NULL)
    SELECT tk.doc_id,
           COALESCE(k.clean_text, '') AS clean_text,
           CAST(len(tk.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_tokens_removed
    FROM toks tk LEFT JOIN (
        SELECT doc_id,
               array_to_string(list(tok ORDER BY idx), ' ') AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id) k
      ON tk.doc_id = k.doc_id""",
)
def q_dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_spans_apply(_docs(spark, sf_dir))


def substring_spans_apply(
    docs: DataFrame, k: int = SPAN_TOKENS, broadcast_max_docs: int = 2_000_000
) -> DataFrame:
    """The APPLY stage of exact-substring dedup (Lee et al. 2021 §3: cut the
    repeated span from all but one occurrence): every {SPAN_TOKENS}-token
    window that also appears in an earlier document (first_doc = MIN doc_id
    keeps its copy) marks its token range; marked ranges are spliced out and
    the surviving tokens rejoined. Overlapping repeated spans merge by
    construction (coverage is a set of token indexes, not intervals).

    Scale shape, stage by stage: span fingerprints and the repeated-span
    list are digest-only (16-byte hashes) — same as dedup_substring_spans;
    the bad-window join is an equi-join on span_h whose build side (repeated
    spans) is the small side by construction. The token-level REBUILD —
    the only stage that carries tokens across an exchange — runs ONLY for
    AFFECTED docs (those containing a later-occurrence repeated window):
    their ids semi-join-reduce the corpus before the posexplode, so at
    100 TB the per-token shuffle is O(affected docs), not O(corpus), and
    affected ≪ corpus by construction. Untouched docs never explode — the
    final projection rejoins their token array directly."""
    toks = (
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", _tokens().alias("t"))
    )
    spans = toks.filter(F.size("t") >= k).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}), "
                f"i -> md5(array_join(slice(t, i + 1, {k}), ' ')))"
            )
        ).alias("i", "span_h"),
    )
    rep = (
        spans.groupBy("span_h")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .select("span_h", "first_doc")
    )
    # slim (doc_id, i) checkpoint: `bad` feeds three consumers (coverage,
    # affected ids, final flag join) — materialize the digest pipeline once
    bad = (
        spans.join(rep, "span_h")
        .filter(F.col("doc_id") != F.col("first_doc"))
        .select("doc_id", "i")
        .localCheckpoint(eager=False)
    )
    cov = (
        bad.select("doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + (k - 1))).alias("idx"))
        .distinct()
    )
    affected = bad.select("doc_id").distinct().localCheckpoint(eager=False)
    # 'affected ≪ corpus' is data-dependent, not structural: on a
    # boilerplate-heavy corpus MOST documents contain a repeated window and
    # an unconditional broadcast of the id frame would OOM. Size-gate the
    # hint on the actual count (the count also materializes the checkpoint
    # the three consumers share); above the gate the semi/left joins
    # shuffle, and AQE may still broadcast from runtime stats.
    n_affected = affected.count()
    hint = F.broadcast if n_affected <= broadcast_max_docs else (lambda d: d)
    pos = (
        toks.join(hint(affected), "doc_id", "semi")
        .select("doc_id", F.posexplode("t").alias("idx", "tok"))
    )
    kept = pos.join(cov, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    # affected docs take the rebuilt text ('' if fully spliced — rebuilt has
    # no row when every token was cut); untouched docs rejoin their array.
    # NULL-text parity with the oracle: array_join(NULL) is NULL, so
    # clean_text coalesces to '' (the oracle's COALESCE(clean_text, '')),
    # while n_tokens_removed stays size(t) - size(t) = NULL for a NULL
    # array (the oracle's len(t) - 0 = NULL) — NOT a hardcoded 0
    spliced = F.col("is_affected").isNotNull()
    return (
        toks.join(
            hint(affected.withColumn("is_affected", F.lit(True))), "doc_id", "left"
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.when(spliced, F.coalesce("clean_text", F.lit(""))).otherwise(
                    F.array_join("t", " ")
                ),
                F.lit(""),
            ).alias("clean_text"),
            F.when(spliced, F.size("t") - F.coalesce("n_kept", F.lit(0)))
            .otherwise(F.size("t") - F.size("t"))
            .cast("bigint")
            .alias("n_tokens_removed"),
        )
    )


@query(
    "text_normalize",
    """SELECT doc_id,
           regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
                          ' +', ' ', 'g') AS norm_text,
           CAST(length(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
                          ' +', ' ', 'g')) AS BIGINT) AS n_chars_norm,
           regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
                          ' +', ' ', 'g') <> text AS changed
    FROM documents""",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (the cleaning stage every corpus passes through
    before dedup/tokenization): lowercase, strip non-alphanumerics to
    spaces, collapse runs of whitespace, trim. Pure regexp builtins — one
    codegen'd projection at scan speed, no shuffle, no Python. Downstream
    fingerprints (dedup_exact, doc_fingerprint) assume exactly this
    canonical form."""
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " ")), " +", " "
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        (norm != F.col("text")).alias("changed"),
    )


# --- HTML stripping --------------------------------------------------------
# The extraction stage upstream of normalization for web-crawled corpora:
# drop markup, decode the common entities, collapse whitespace. Tags and
# entities are handled with builtins only (regexp_replace + nested replace)
# so the pass runs at scan speed, and the entity chain is rendered ONCE and
# interpolated into both engines' SQL — no twin to drift. '&amp;' decodes
# LAST so '&amp;lt;' yields '&lt;' (one level, the HTML-correct reading),
# never double-decodes to '<'.

HTML_TAG_RE = "<[^>]*>"
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "''"),  # SQL-escaped single quote
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def _html_clean_sql(gflag: str) -> str:
    """Rendered clean-text expression; ``gflag`` is '' for Spark (global
    replace is the default) and \", 'g'\" for DuckDB (first-match default)."""
    s = f"regexp_replace(text, '{HTML_TAG_RE}', ' '{gflag})"
    for ent, ch in HTML_ENTITIES:
        s = f"replace({s}, '{ent}', '{ch}')"
    return f"trim(regexp_replace({s}, ' +', ' '{gflag}))"


@query(
    "html_strip",
    f"""SELECT doc_id,
           {_html_clean_sql(", 'g'")} AS clean_text,
           CAST(len(regexp_extract_all(text, '{HTML_TAG_RE}')) AS BIGINT) AS n_tags,
           {_html_clean_sql(", 'g'")} <> text AS changed
    FROM documents""",
)
def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return html_strip(_docs(spark, sf_dir))


def html_strip(docs: DataFrame) -> DataFrame:
    """Markup removal for web-derived text: strip tags, decode the six
    common entities, collapse spaces. One codegen'd projection — no
    shuffle, no Python — so it composes with text_normalize/dedup at scan
    speed. Crafted-corpus test (tests/test_llm_text.py) pins real HTML;
    the registry oracle pins NULL/clean-text parity on the testdata."""
    clean = F.expr(_html_clean_sql(""))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.expr(f"regexp_count(text, '{HTML_TAG_RE}')").cast("bigint").alias("n_tags"),
        (clean != F.col("text")).alias("changed"),
    )


# --- PII scrubbing ---------------------------------------------------------
# The redaction pass every training corpus goes through before release.
# Patterns are deliberately lookaround-free so Java regex (Spark) and RE2
# (DuckDB) agree byte-for-byte; categories apply in fixed order (emails →
# IPv4 → phone-like digit runs) and each category is COUNTED on the text as
# it looked after the previous category's redaction, so a digit run inside
# an already-redacted IP is never double-counted as a phone.

PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d -]{7,}\d"


@query(
    "pii_scrub",
    f"""WITH s AS (
        SELECT doc_id, text,
               regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1
        FROM documents),
    s2 AS (SELECT doc_id, text, t1,
               regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2 FROM s)
    SELECT doc_id,
           regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t1, '{PII_IPV4}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t2, '{PII_PHONE}')) AS BIGINT) AS n_phones,
           (len(regexp_extract_all(text, '{PII_EMAIL}'))
            + len(regexp_extract_all(t1, '{PII_IPV4}'))
            + len(regexp_extract_all(t2, '{PII_PHONE}'))) > 0 AS has_pii
    FROM s2""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-category counts. Pure regexp builtins — one
    codegen'd projection at scan speed, no shuffle, no Python; at 100 TB
    this runs as a map-only pass fused into whatever scan feeds it."""
    d = _docs(spark, sf_dir)
    t1 = F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    n_emails = F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0))
    n_ips = F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4), 0))
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE), 0))
    return d.select(
        "doc_id",
        t3.alias("clean_text"),
        n_emails.cast("bigint").alias("n_emails"),
        n_ips.cast("bigint").alias("n_ips"),
        n_phones.cast("bigint").alias("n_phones"),
        ((n_emails + n_ips + n_phones) > 0).alias("has_pii"),
    )


BLOCKED_SOURCES = ("src3", "src7", "src13")  # fixed stand-in for a blocklist table


@query(
    "source_blocklist_filter",
    f"""SELECT d.doc_id, d.source, d.lang
    FROM documents d
    WHERE d.source NOT IN ({", ".join(f"'{s}'" for s in BLOCKED_SOURCES)})""",
)
def q_source_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/domain blocklist filtering — the provenance gate every corpus
    passes before content-level stages (licensing takedowns, spam domains,
    opt-outs). Here the blocklist is a fixed constant so the oracle replays
    it; in production it is a table, and the plan is the same shape: a
    broadcast anti-join (or an IN filter pushed to the scan, as this
    constant form plans — PushedFilters carries the NOT IN)."""
    d = _docs(spark, sf_dir)
    return d.filter(~F.col("source").isin(*BLOCKED_SOURCES)).select(
        "doc_id", "source", "lang"
    )


@query(
    "token_entropy",
    """WITH terms AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS c,
               SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS n
        FROM terms GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(-SUM((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))), 6)
               AS entropy,
           CASE WHEN COUNT(*) > 1
                THEN ROUND(-SUM((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)))
                           / ln(CAST(COUNT(*) AS DOUBLE)), 6)
                ELSE 0.0 END AS norm_entropy
    FROM tf GROUP BY doc_id""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram (Shannon) entropy per document plus the [0,1] normalized form
    (entropy / ln(vocab)) — the information-density quality signal that
    catches both keyword-stuffing (low) and random-token noise (high ~1).

    Scale shape: one exploded (doc, token) aggregate with map-side combine
    (the shuffle carries distinct (doc, token) counts, never tokens
    per-occurrence), one per-doc window for the length, one final per-doc
    aggregate. Entropy terms sum as doubles in arbitrary order in both
    engines; values are rounded to 6 before comparison, the repo-wide
    float-determinism contract."""
    terms = _docs(spark, sf_dir).select("doc_id", F.explode(_tokens()).alias("tok"))
    w = Window.partitionBy("doc_id")
    tf = (
        terms.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .withColumn("n", F.sum("c").over(w))
    )
    p = F.col("c") / F.col("n").cast("double")
    ent = -F.sum(p * F.log(p))
    return tf.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.round(ent, 6).alias("entropy"),
        F.when(
            F.count("*") > 1, F.round(ent / F.log(F.count("*").cast("double")), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


@query(
    "doc_unigram_logprob",
    """WITH terms AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents),
    cnt AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM terms GROUP BY doc_id, tok),
    vocab AS (
        SELECT tok, CAST(SUM(c) AS DOUBLE) AS tf FROM cnt GROUP BY tok),
    tot AS (SELECT SUM(tf) AS n FROM vocab)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(SUM(c * -ln(tf / n)) / SUM(c), 6) AS avg_neg_logprob
    FROM cnt JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id""",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM score per document: average -ln p(token)
    under the corpus's own token distribution — the CCNet-style (Wenzek et
    al. 2020, arXiv:1911.00359) perplexity proxy that separates fluent text
    (common-word mass, low score) from noise/gibberish (rare-token mass,
    high score) without any external model. The LM *is* the corpus, so the
    operator is self-contained and exactly replayable by the oracle.

    Scale shape: (1) per-(doc, token) counts with map-side combine — the
    shuffle carries distinct counts, never token occurrences; (2) the vocab
    aggregate reduces those counts again by token; (3) the score join is a
    token-keyed equi-join of two already-aggregated frames (AQE handles hot
    stopword keys via skew split); (4) the corpus total rides a 1-row
    cross-join broadcast. No Python anywhere; log terms sum as doubles and
    round to 6 — the repo-wide float contract."""
    return unigram_logprob(_docs(spark, sf_dir))


def unigram_logprob(docs: DataFrame) -> DataFrame:
    terms = docs.select("doc_id", F.explode(_tokens()).alias("tok"))
    # The (doc, token) count frame feeds the vocab aggregate AND the score
    # join; by lineage each reference would re-run the tokenize+explode
    # pass (plan audit showed 3 FileScans of documents). Checkpoint = the
    # same materialize-the-signature trade the minhash pipeline documents;
    # at cluster scale this frame is the parquet staging table every
    # LM-scoring pipeline writes anyway.
    cnt = (
        terms.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = cnt.groupBy("tok").agg(F.sum("c").cast("double").alias("tf"))
    tot = vocab.agg(F.sum("tf").alias("n"))
    return (
        cnt.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("c") * -F.log(F.col("tf") / F.col("n"))) / F.sum("c"), 6
            ).alias("avg_neg_logprob"),
        )
    )


@query(
    "doc_bigram_logprob",
    """WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
        FROM documents WHERE text IS NOT NULL),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS pair
        FROM toks WHERE len(t) >= 2),
    cnt AS (SELECT doc_id, pair, string_split(pair, ' ')[1] AS w1,
                   COUNT(*) AS c
            FROM bg GROUP BY 1, 2),
    joint AS (SELECT pair, CAST(SUM(c) AS DOUBLE) AS cj FROM cnt GROUP BY 1),
    lft AS (SELECT w1, CAST(SUM(c) AS DOUBLE) AS cl FROM cnt GROUP BY 1)
    SELECT cnt.doc_id, CAST(SUM(cnt.c) AS BIGINT) AS n_bigrams,
           ROUND(SUM(cnt.c * -ln(joint.cj / lft.cl)) / SUM(cnt.c), 6)
               AS avg_neg_logprob2
    FROM cnt JOIN joint ON cnt.pair = joint.pair
             JOIN lft ON cnt.w1 = lft.w1
    GROUP BY cnt.doc_id""",
)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score, conditional tier: average -ln
    P(w2|w1) under the corpus's own UNSMOOTHED bigram MLE (every scored
    bigram exists in the corpus, so probabilities are never zero). The
    bigram conditional is the honest SQL-expressible step toward the
     5-gram KenLM filter real pipelines use; fluent boilerplate scores low,
    unusual token transitions score high — sharper than doc_unigram_
    logprob, which cannot see word ORDER at all.

    Scale shape (same as the unigram form): one tokenize+explode pass
    materialized via localCheckpoint; the (doc, bigram) count frame feeds
    the joint-count aggregate, the left-count aggregate, AND the score
    join, so the corpus text is parsed once; everything that shuffles is
    (doc_id, pair, count) rows, map-side combined. The bigram key is
    w1||' '||w2 — a space separator cannot appear inside whitespace
    tokens, so the pairing is unambiguous (the same trick the BPE trainer
    uses for merge pairs).

    Documents with fewer than two tokens have no bigrams and emit no row
    (the same convention as the unigram form for empty docs)."""
    return bigram_logprob(_docs(spark, sf_dir))


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Core of ``doc_bigram_logprob`` on an arbitrary documents frame —
    crafted-corpus testable (tests/test_llm_text.py pins hand-computed
    conditional probabilities and the order-sensitivity the unigram score
    lacks)."""
    d = docs.filter(F.col("text").isNotNull())
    t = d.select("doc_id", _tokens().alias("t")).filter(F.size("t") >= 2)
    bg = t.select("doc_id", F.explode(bigram_pairs()).alias("pair"))
    cnt = (
        bg.groupBy("doc_id", "pair")
        .agg(F.count("*").alias("c"))
        .withColumn("w1", F.split("pair", " ").getItem(0))
        .localCheckpoint(eager=False)
    )
    joint = cnt.groupBy("pair").agg(F.sum("c").cast("double").alias("cj"))
    lft = cnt.groupBy("w1").agg(F.sum("c").cast("double").alias("cl"))
    return (
        cnt.join(joint, "pair")
        .join(lft, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("c") * -F.log(F.col("cj") / F.col("cl"))) / F.sum("c"), 6
            ).alias("avg_neg_logprob2"),
        )
    )


# --- text analysis ---------------------------------------------------------


@query(
    "text_stats",
    """WITH toks AS (
        SELECT doc_id, lang, source, n_chars,
               string_split(lower(trim(text)), ' ') AS t,
               length(replace(text, ' ', '')) AS nonspace_chars
        FROM documents)
    SELECT doc_id, lang, source, n_chars,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_distinct_tokens,
           ROUND(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS type_token_ratio,
           ROUND(CAST(nonspace_chars AS DOUBLE) / len(t), 6) AS avg_token_len
    FROM toks""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (token counting + quality inputs):
    whitespace tokenization, type/token ratio, mean token length — one
    codegen'd projection, no shuffle."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        _tokens().alias("t"),
        F.length(F.regexp_replace("text", " ", "")).alias("nonspace_chars"),
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct_tokens"),
        F.round(F.size(F.array_distinct("t")).cast("double") / F.size("t"), 6).alias(
            "type_token_ratio"
        ),
        F.round(F.col("nonspace_chars").cast("double") / F.size("t"), 6).alias("avg_token_len"),
    )


@query(
    "corpus_stats",
    """WITH toks AS (
        SELECT lang, source, n_chars, len(string_split(lower(trim(text)), ' ')) AS n_tokens
        FROM documents)
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM toks GROUP BY lang, source""",
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup per (lang, source): the dataset-card numbers.
    Partial aggregation means the per-doc token counts never cross the
    shuffle — only (lang, source) partials do."""
    d = _docs(spark, sf_dir).select("lang", "source", "n_chars", F.size(_tokens()).alias("n_tokens"))
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def _hits_sql(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(t, x -> x IN ({inlist})))"


@query(
    "lang_id_heuristic",
    f"""WITH toks AS (
        SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS t FROM documents),
    hits AS (
        SELECT doc_id, lang AS lang_label, len(t) AS n_tokens,
               {_hits_sql('en')} AS en_hits,
               {_hits_sql('es')} AS es_hits,
               {_hits_sql('de')} AS de_hits,
               {_hits_sql('fr')} AS fr_hits
        FROM toks)
    SELECT doc_id, lang_label, en_hits, es_hits, de_hits, fr_hits,
           CASE
             WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
             WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
             WHEN de_hits >= fr_hits THEN 'de'
             ELSE 'fr' END AS pred_lang
    FROM hits""",
)
def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram heuristic tier): per-language
    hit counts + a fixed-priority argmax so prediction is deterministic in
    both engines. All array builtins — the stopword sets live in the closure,
    not in a UDF."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("lang_label"), _tokens().alias("t")
    )
    def hit_count(lang: str):
        words = STOPWORDS[lang]
        return F.size(F.filter("t", lambda x: x.isin(*words))).cast("long").alias(f"{lang}_hits")

    hits = toks.select(
        "doc_id", "lang_label", *[hit_count(lang) for lang in ("en", "es", "de", "fr")]
    )
    pred = (
        F.when(
            (F.col("en_hits") >= F.col("es_hits"))
            & (F.col("en_hits") >= F.col("de_hits"))
            & (F.col("en_hits") >= F.col("fr_hits")),
            "en",
        )
        .when((F.col("es_hits") >= F.col("de_hits")) & (F.col("es_hits") >= F.col("fr_hits")), "es")
        .when(F.col("de_hits") >= F.col("fr_hits"), "de")
        .otherwise("fr")
    )
    return hits.select("doc_id", "lang_label", "en_hits", "es_hits", "de_hits", "fr_hits",
                       pred.alias("pred_lang"))


@query(
    "quality_score",
    f"""WITH toks AS (
        SELECT doc_id, n_chars, string_split(lower(trim(text)), ' ') AS t FROM documents),
    feat AS (
        SELECT doc_id, n_chars, len(t) AS n_tokens,
               CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
               CAST({_hits_sql('en')} AS DOUBLE) / len(t) AS stop_ratio
        FROM toks)
    SELECT doc_id, n_tokens,
           ROUND(ttr, 6) AS type_token_ratio,
           ROUND(stop_ratio, 6) AS stopword_ratio,
           ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0) + 0.4 * ttr + 0.2 * LEAST(stop_ratio * 5, 1.0), 6)
               AS quality,
           CASE WHEN n_tokens >= 20 AND ttr >= 0.3 THEN 'keep' ELSE 'drop' END AS verdict
    FROM feat""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length saturation, lexical diversity,
    stopword plausibility → a composite in [0,1] plus a keep/drop verdict
    (the filter stage of a data pipeline)."""
    toks = _docs(spark, sf_dir).select("doc_id", "n_chars", _tokens().alias("t"))
    en = STOPWORDS["en"]
    feat = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        (F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias("ttr"),
        (F.size(F.filter("t", lambda x: x.isin(*en))).cast("double") / F.size("t")).alias(
            "stop_ratio"
        ),
    )
    quality = F.round(
        0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.4 * F.col("ttr")
        + 0.2 * F.least(F.col("stop_ratio") * 5, F.lit(1.0)),
        6,
    )
    return feat.select(
        "doc_id",
        "n_tokens",
        F.round("ttr", 6).alias("type_token_ratio"),
        F.round("stop_ratio", 6).alias("stopword_ratio"),
        quality.alias("quality"),
        F.when((F.col("n_tokens") >= 20) & (F.col("ttr") >= 0.3), "keep")
        .otherwise("drop")
        .alias("verdict"),
    )


@query(
    "text_tfidf_topk",
    """WITH terms AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
        FROM documents),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS doc_len
        FROM terms GROUP BY doc_id, term),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS n_docs_with
        FROM terms GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(CAST(tf.cnt AS DOUBLE) / tf.doc_len
                     * ln((n.n_docs + 1.0) / (df.n_docs_with + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tfidf FROM (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM scored) x
    WHERE rn <= 3""",
)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF — the classic relevance /
    keyword-extraction primitive of a text pipeline.

    Scale shape: term frequencies and document frequencies are two partial
    aggregates over the exploded (doc_id, term) stream (map-side combine does
    the heavy lifting — the shuffle carries one row per DISTINCT (doc, term)
    / term, never per token); the corpus size joins in as a broadcast 1-row
    frame (no .collect() round-trip, the plan stays fully declarative); the
    per-doc top-3 is a WindowGroupLimit, pruned before the final sort-free
    projection. Ties rank deterministically: rounded score desc, then term —
    matching the oracle's ROW_NUMBER exactly."""
    docs = _docs(spark, sf_dir)
    terms = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    w_doc = Window.partitionBy("doc_id")
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count("*").alias("cnt"))
        .withColumn("doc_len", F.sum("cnt").over(w_doc))
    )
    df_ = terms.groupBy("term").agg(F.count_distinct("doc_id").alias("n_docs_with"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("cnt").cast("double")
                / F.col("doc_len")
                * F.log((F.col("n_docs") + 1.0) / (F.col("n_docs_with") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "heavy_hitters_tokens",
    """SELECT term, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS term
          FROM documents)
    GROUP BY term ORDER BY n DESC, term LIMIT 20""",
)
def q_heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level frequent terms (boilerplate / template detection): exact
    top-20 by global count. Map-side combine collapses each partition to its
    distinct terms before the shuffle, and the limit plans as
    TakeOrderedAndProject — no total sort of the vocabulary. For the
    sketch-tier scale twin (single pass, no exact counts) see
    ``heavy_hitters_sketch``; this exact form IS the oracle."""
    terms = _docs(spark, sf_dir).select(F.explode(_tokens()).alias("term"))
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


def heavy_hitters_sketch(docs: DataFrame, support: float = 0.01) -> list[str]:
    """Sketch-tier heavy hitters: Spark's single-pass lossy-count
    (``df.stat.freqItems``) over the exploded token stream. Returns a
    SUPERSET of the true >support-frequency terms with no exact counts —
    the right tool when the vocabulary itself doesn't fit anywhere and one
    pass is all you get; re-count just the candidates for exact figures."""
    terms = docs.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"))
    return terms.stat.freqItems(["term"], support).first()[0]


# pii_scan is deliberately NOT registered (round-12 verdict #2): the clean
# synthetic corpus matches zero rows at every SF, so its driver-ledger row
# was a vacuous 0 = 0 hash match. The registered, value-checked form is
# pii_scan_dense below (same scan, injected spans — fires at 300 rows);
# this plain form and its oracle stay pytest-pinned on a crafted corpus
# where matches fire AND on the clean corpus's zero-row sweep
# (tests/test_llm_text.py).
PII_SCAN_ORACLE = r"""SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text,
               '\b\d{3}[- .]\d{3}[- .]\d{4}\b')) AS BIGINT) AS n_phoneish
    FROM documents
    WHERE len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) > 0
       OR len(regexp_extract_all(text, 'https?://[^ ]+')) > 0
       OR len(regexp_extract_all(text, '\b\d{3}[- .]\d{3}[- .]\d{4}\b')) > 0"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII surface scan (the redaction-triage stage of a data pipeline):
    per-doc counts of email-, URL- and phone-shaped spans, docs with any hit
    only. Pure JVM regexp on the scan — one pass, no shuffle at all until
    whatever aggregates downstream; the WHERE prunes the (usually vast)
    clean majority before anything else sees the rows. The patterns are
    deliberately simple/shared with the oracle — a production deployment
    swaps in its compliance pack here."""
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    url = r"https?://[^ ]+"
    phone = r"\b\d{3}[- .]\d{3}[- .]\d{4}\b"
    # idx=0 (the whole match): the patterns carry NO capture groups, and
    # regexp_extract_all's default idx=1 raises the moment a match actually
    # fires — invisible on the PII-free testdata, caught by the crafted
    # corpus in tests/test_llm_text.py
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(email), 0)).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(url), 0)).cast("bigint").alias("n_urls"),
        F.size(F.regexp_extract_all("text", F.lit(phone), 0)).cast("bigint").alias("n_phoneish"),
    )
    return d.filter((F.col("n_emails") > 0) | (F.col("n_urls") > 0) | (F.col("n_phoneish") > 0))


# pii_scan's hard signal on NONZERO rows (r10 verdict #6): the testdata
# corpus is digit-free word soup, so the selective scan matches zero rows at
# every SF and the driver's hash check was trivially green (0 = 0) — the
# exact trap that hid a crash for five rounds. This twin injects
# deterministic md5-derived PII spans into the text BEFORE the same scan,
# in both dialects identically, so the driver value-checks real matching
# rows: emails on doc_id % 3 == 0, URLs on % 4 == 0, phone-shaped digit
# runs on % 5 == 0 (a production corpus, simulated — the crafted-corpus
# pytest tier still covers exotic span shapes).


def _pii_dense_text_spark():
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" ping "),
                F.substring(F.md5(F.concat(F.lit("e"), did)), 1, 6),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" see https://ex.org/"),
                F.substring(F.md5(F.concat(F.lit("u"), did)), 1, 5),
            ),
        ).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-123-4567")).otherwise(""),
    )


_PII_DENSE_TEXT_DUCK = """text
    || CASE WHEN doc_id % 3 = 0 THEN ' ping '
            || substr(md5('e' || CAST(doc_id AS VARCHAR)), 1, 6)
            || '@mail.example.com' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN ' see https://ex.org/'
            || substr(md5('u' || CAST(doc_id AS VARCHAR)), 1, 5) ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END"""


@query(
    "pii_scan_dense",
    rf"""WITH dense AS (SELECT doc_id, {_PII_DENSE_TEXT_DUCK} AS text
                       FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text,
               '\b\d{{3}}[- .]\d{{3}}[- .]\d{{4}}\b')) AS BIGINT) AS n_phoneish
    FROM dense
    WHERE len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}')) > 0
       OR len(regexp_extract_all(text, 'https?://[^ ]+')) > 0
       OR len(regexp_extract_all(text,
               '\b\d{{3}}[- .]\d{{3}}[- .]\d{{4}}\b')) > 0""",
)
def q_pii_scan_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pii_scan over a pattern-DENSE corpus: the identical scan (same
    regexes, same WHERE prune) run after deterministically injecting
    md5-derived email/URL/phone spans — so the driver's value-hash gate
    exercises rows where the patterns actually FIRE (see the module note:
    the clean corpus matches zero rows and 0 = 0 verifies nothing). Still
    a pure JVM regexp projection at scan speed; the injection is one
    concat of constant-folded md5 slices."""
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    url = r"https?://[^ ]+"
    phone = r"\b\d{3}[- .]\d{3}[- .]\d{4}\b"
    d = _docs(spark, sf_dir).select("doc_id", _pii_dense_text_spark().alias("text"))
    d = d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(email), 0)).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(url), 0)).cast("bigint").alias("n_urls"),
        F.size(F.regexp_extract_all("text", F.lit(phone), 0)).cast("bigint").alias("n_phoneish"),
    )
    return d.filter(
        (F.col("n_emails") > 0) | (F.col("n_urls") > 0) | (F.col("n_phoneish") > 0)
    )


DECONTAM_NGRAM = 13
DECONTAM_BENCH_DOCS = 50


# The decontamination chain as namespaced (dc_*) CTEs — ONE rendering
# shared by the registered query below and the corpus_curate_end_to_end
# capstone (operators/curation.py), so the replayed leak scan cannot drift.
DECONTAM_CTES = f"""dc_toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
    dc_grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - {DECONTAM_NGRAM - 2}),
                   i -> md5(list_aggregate(t[i:i+{DECONTAM_NGRAM - 1}], 'string_agg', ' '))
               ))) AS g
        FROM dc_toks WHERE len(t) >= {DECONTAM_NGRAM}),
    dc_bench AS (SELECT DISTINCT g FROM dc_grams WHERE doc_id < {DECONTAM_BENCH_DOCS}),
    dc_hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
        FROM dc_grams JOIN dc_bench USING (g)
        WHERE doc_id >= {DECONTAM_BENCH_DOCS}
        GROUP BY doc_id)"""


@query(
    "decontaminate_ngram_overlap",
    f"""WITH {DECONTAM_CTES}
    SELECT doc_id, n_shared_ngrams FROM dc_hits""",
)
def q_decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any 13-gram with
    the benchmark set (here: doc_id < 50 stands in for the eval suite) — the
    standard train/test-leak scan.

    Scale shape: both sides reduce to md5 DIGESTS of their 13-grams before
    the join — the shuffle carries (doc_id, 16-byte hash), never token
    arrays; the benchmark side (eval suites are small: thousands of docs)
    collapses to a distinct-hash set that broadcasts, so the corpus-side
    gram stream joins map-side and aggregates per doc with combine. A
    production run points ``bench`` at the real benchmark table; everything
    else is unchanged."""
    return decontaminate_hits(spark, sf_dir)


def decontaminate_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shared_ngrams) for corpus docs (doc_id >= the benchmark
    cut) sharing any {DECONTAM_NGRAM}-gram with the benchmark set — the
    one implementation behind the registered query AND the
    corpus_curate_end_to_end capstone (curation.py)."""
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens().alias("t"))
        .filter(F.size("t") >= DECONTAM_NGRAM)
    )
    n = DECONTAM_NGRAM
    grams = toks.select(
        "doc_id",
        F.explode(
            # dedupe the JOINED GRAM STRINGS per doc before hashing —
            # md5 is the dominant CPU cost and repeated grams (boilerplate,
            # refrains) are common, so hash each distinct gram once
            F.expr(
                f"transform(array_distinct(transform(sequence(0, size(t) - {n}), "
                f"i -> array_join(slice(t, i + 1, {n}), ' '))), s -> md5(s))"
            )
        ).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") < DECONTAM_BENCH_DOCS).select("g").distinct()
    return (
        grams.filter(F.col("doc_id") >= DECONTAM_BENCH_DOCS)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared_ngrams"))
    )


BLOOM_M_BITS = 1 << 20  # 128 KiB bitset — sized for ~50k distinct grams at k=7
BLOOM_K = 7


def _bloom_positions_col(gram_hash_col):
    """k=7 bit positions from one md5: double hashing g_i = (h1 + i*h2) mod m
    (Kirsch-Mitzenmacher), h1/h2 = the digest's two 32-bit halves, h2 forced
    odd. Pure JVM arithmetic — the same expression computes build-side and
    probe-side positions, so the two can never drift."""
    h1 = F.conv(F.substring(gram_hash_col, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(gram_hash_col, 9, 8), 16, 10).cast("long")
    h2_odd = h2 - (h2 % 2) + 1
    return F.transform(
        F.sequence(F.lit(0), F.lit(BLOOM_K - 1)),
        lambda i: (h1 + i * h2_odd) % BLOOM_M_BITS,
    )


@query("bloom_decontaminate")  # rows-only: a Bloom sketch has no SQL oracle
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-sketch twin of decontaminate_ngram_overlap: instead of
    shuffling corpus grams into a join against the benchmark gram set, the
    benchmark set is folded into a {BLOOM_M_BITS}-bit Bloom filter that
    broadcasts to every executor, and the corpus side probes it at scan
    speed — zero shuffle on the data-sized path. The price is one-sided
    error: flagged docs are a SUPERSET of the exact operator's (false
    positives possible, false negatives impossible — the containment
    guarantee tests/test_llm_dedup.py pins against the exact op), so the
    flagged set is re-verified exactly, which is how decontamination runs
    at 100 TB: cheap sketch pass over everything, exact join only for the
    tiny flagged slice.

    Build side here collects the benchmark set's distinct bit positions to
    the driver (eval suites are small — thousands of docs); at larger bench
    sets the same positions frame OR-reduces into per-partition bitsets via
    treeAggregate instead, and the probe side is unchanged. Membership runs
    as an Arrow-batched pandas UDF over the k-position arrays — one
    vectorized NumPy gather per batch, no per-row Python. (A pure-JVM
    variant broadcasting the bitset as an array<int> column was measured
    SLOWER: the joined array column is copied per gram row — 128 KiB × rows
    — where the Python-worker broadcast ships the bitset once per core.)"""
    import numpy as np
    import pandas as pd

    n = DECONTAM_NGRAM
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens().alias("t"))
        .filter(F.size("t") >= n)
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            # dedupe the JOINED GRAM STRINGS per doc before hashing —
            # md5 is the dominant CPU cost and repeated grams (boilerplate,
            # refrains) are common, so hash each distinct gram once
            F.expr(
                f"transform(array_distinct(transform(sequence(0, size(t) - {n}), "
                f"i -> array_join(slice(t, i + 1, {n}), ' '))), s -> md5(s))"
            )
        ).alias("g"),
    )
    bench_pos = (
        grams.filter(F.col("doc_id") < DECONTAM_BENCH_DOCS)
        .withColumn("pos", _bloom_positions_col(F.col("g")))
        .select(F.explode("pos").alias("p"))
        .distinct()
    )
    bits = np.zeros(BLOOM_M_BITS // 8, dtype=np.uint8)
    for (p,) in bench_pos.collect():  # |distinct positions| <= k * |bench grams| — small
        bits[p >> 3] |= 1 << (p & 7)
    bc = spark.sparkContext.broadcast(bits)

    # Probe side ships ONLY the digest's two 32-bit halves (2 longs/gram)
    # across Arrow; the k=7 Kirsch-Mitzenmacher positions are recomputed
    # vectorized in NumPy. Measured vs shipping the materialized
    # array<long> of 7 positions per row: ~2x faster end-to-end at sf0.1 —
    # the position arithmetic is trivially cheap on either side, the Arrow
    # column width is not. Same h1 + i*h2_odd (h2 forced odd) mod m math as
    # `_bloom_positions_col`, which the build side above uses, so the two
    # sides cannot drift (int64 never overflows: h1,h2 < 2^32, i < 7).
    #
    # note: no type hints on the UDF body — this module's
    # `from __future__ import annotations` would stringify them and
    # pandas_udf cannot resolve string hints for a locally-imported pd
    def _might_contain(h1, h2):
        b = bc.value
        a1 = h1.to_numpy(dtype=np.int64)
        a2 = h2.to_numpy(dtype=np.int64)
        a2 = a2 - (a2 % 2) + 1
        acc = np.ones(len(a1), dtype=bool)
        for i in range(BLOOM_K):
            p = (a1 + i * a2) % BLOOM_M_BITS
            acc &= (b[p >> 3] & (1 << (p & 7)).astype(np.uint8)) != 0
        return pd.Series(acc)

    might_contain = F.pandas_udf(_might_contain, "boolean")
    h1 = F.conv(F.substring("g", 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring("g", 9, 8), 16, 10).cast("long")

    return (
        grams.filter(F.col("doc_id") >= DECONTAM_BENCH_DOCS)
        .filter(might_contain(h1, h2))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_bloom_hits"))
    )


@query(
    "profile_documents",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(text) AS BIGINT) AS text_nulls,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS source_distinct,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS lang_distinct,
           CAST(MIN(n_chars) AS BIGINT) AS n_chars_min,
           CAST(MAX(n_chars) AS BIGINT) AS n_chars_max,
           ROUND(AVG(n_chars), 4) AS n_chars_avg,
           CAST(MIN(doc_id) AS BIGINT) AS doc_id_min,
           CAST(MAX(doc_id) AS BIGINT) AS doc_id_max
    FROM documents""",
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (the sanity stage every pipeline run starts
    with): row count, null counts, per-column distincts and numeric
    extremes, as a SINGLE aggregate — one scan, one 1-row result; the two
    COUNT(DISTINCT)s expand per-distinct-value but still shuffle only
    (value) pairs, and everything else is a plain partial aggregate. At
    100 TB swap the exact distincts for approx_count_distinct and this is
    exactly the profile job you'd run — kept exact here so DuckDB can
    replay it bit-for-bit."""
    d = _docs(spark, sf_dir)
    return d.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.count("*") - F.count("text")).cast("bigint").alias("text_nulls"),
        F.count_distinct("source").cast("bigint").alias("source_distinct"),
        F.count_distinct("lang").cast("bigint").alias("lang_distinct"),
        F.min("n_chars").cast("bigint").alias("n_chars_min"),
        F.max("n_chars").cast("bigint").alias("n_chars_max"),
        F.round(F.avg("n_chars"), 4).alias("n_chars_avg"),
        F.min("doc_id").cast("bigint").alias("doc_id_min"),
        F.max("doc_id").cast("bigint").alias("doc_id_max"),
    )
