"""Text analysis over the documents table (SURVEY.md §2.7 X26 + the
training-data-pipeline text suite): token counting, quality scoring,
language-ID heuristic, document fingerprinting.

Everything is built-in column expressions (split / higher-order array
fns / hashes) — the whole suite runs inside WholeStageCodegen at scan
speed, no Python in the row path. Ratios are double divisions of exact
integers → bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from master_airflow_spark.catalog import load_table
from master_airflow_spark.functions.hashing import portable_hash60, sql_portable_hash60
from master_airflow_spark.registry import register, track_cache

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

_SQL_TOKS = "string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')"


def tokens(text_col: str = "text") -> Column:
    return F.split(F.trim(F.regexp_replace(text_col, r"\s+", " ")), " ")


@register(
    "text_stats",
    oracle=f"""
SELECT doc_id, lang, source,
       length(text) AS n_chars_obs,
       len({_SQL_TOKS}) AS n_tokens,
       len(list_distinct({_SQL_TOKS})) AS n_unique_tokens,
       CAST(len(list_distinct({_SQL_TOKS})) AS DOUBLE)
           / len({_SQL_TOKS}) AS type_token_ratio
FROM documents
""",
    tags=("X26",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics: counts, vocabulary size, type-token ratio."""
    t = tokens()
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars_obs"),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias(
            "type_token_ratio"
        ),
    )


_SQL_STOP = "('" + "', '".join(STOPWORDS) + "')"


@register(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       len({_SQL_TOKS}) AS n_tokens,
       CAST(len(list_filter({_SQL_TOKS}, t -> t IN {_SQL_STOP})) AS DOUBLE)
           / len({_SQL_TOKS}) AS stopword_ratio,
       CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
       CAST(length(text) AS DOUBLE) / len({_SQL_TOKS}) AS chars_per_token,
       (len({_SQL_TOKS}) BETWEEN 5 AND 1000
        AND CAST(len(list_filter({_SQL_TOKS}, t -> t IN {_SQL_STOP})) AS DOUBLE)
            / len({_SQL_TOKS}) >= 0.05) AS passes_quality
FROM documents
""",
    tags=("X26",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, punctuation density, mean token
    length, and a composite keep/drop gate — the C4-style filter shape
    a pretraining pipeline applies per document."""
    t = tokens()
    n_tok = F.size(t)
    stop_ratio = (
        F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("double") / n_tok
    )
    punct_ratio = (
        F.length(F.regexp_replace("text", r"[^.!?,;]", "")).cast("double")
        / F.length("text")
    )
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        (F.length("text").cast("double") / n_tok).alias("chars_per_token"),
        (n_tok.between(5, 1000) & (stop_ratio >= 0.05)).alias("passes_quality"),
    )


@register(
    "lang_id_heuristic",
    oracle=f"""
SELECT doc_id, lang AS labeled_lang,
       CAST(len(list_filter({_SQL_TOKS}, t -> t IN {_SQL_STOP})) AS DOUBLE)
           / len({_SQL_TOKS}) AS en_stopword_ratio,
       CASE WHEN CAST(len(list_filter({_SQL_TOKS}, t -> t IN {_SQL_STOP})) AS DOUBLE)
                 / len({_SQL_TOKS}) >= 0.08
            THEN 'en' ELSE 'unk' END AS guessed_lang
FROM documents
""",
    tags=("X26",),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-hit-rate (the classic cheap n-gram
    heuristic, stopword-unigram form): English function words above a
    threshold → 'en'. A production system extends the token→language
    table; the plan shape (array filter + ratio + CASE) is identical."""
    t = tokens()
    ratio = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("double") / F.size(t)
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        ratio.alias("en_stopword_ratio"),
        F.when(ratio >= 0.08, "en").otherwise("unk").alias("guessed_lang"),
    )


@register(
    "token_count_bpe",
    oracle=rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_ish,
       len({_SQL_TOKS}) AS n_ws
FROM documents
""",
    tags=("X26",),
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    segmentation (letter runs / digit runs / punctuation singletons) —
    the cheap pre-tokenizer count used for data budgeting."""
    bpe_pat = r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]"
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(bpe_pat), 0)).alias("n_bpe_ish"),
        F.size(tokens()).alias("n_ws"),
    )


@register(
    "doc_fingerprint",
    oracle=r"""
SELECT doc_id,
       md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_md5,
       substr(md5(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 8) AS fp_short
FROM documents
""",
    tags=("X23", "X26"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of the whitespace-normalized text (md5 —
    stable across engines; the rolling-hash variant lives in
    rolling_hash_fingerprint)."""
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.md5(norm).substr(1, 8).alias("fp_short"),
    )


@register(
    "rolling_hash_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform({_SQL_TOKS},
                   t -> {sql_portable_hash60("t")} % 1000000007)),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp
FROM documents
""",
    tags=("X26",),
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over token hashes: acc = (acc*31 +
    h_tok) mod (1e9+7), folded left-to-right with aggregate(). Exact
    modular integer arithmetic (no overflow under ANSI mode: operands
    stay < 2^63); the portable 60-bit md5 token hash makes the value
    engine-checkable (xxhash64 is Spark-private). Order-sensitive by
    design — permuted documents get different fingerprints, unlike
    bag-of-words hashes."""
    P = 1_000_000_007
    t = tokens()
    fp = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * 31 + portable_hash60(tok) % F.lit(P)) % F.lit(P),
    )
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", fp.alias("rolling_fp")
    )


@register(
    "term_frequencies",
    oracle=rf"""
SELECT tok, count(*) AS n
FROM (SELECT unnest({_SQL_TOKS}) AS tok
      FROM documents)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
    tags=("X26", "X5"),
)
def term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: top-20 tokens by frequency —
    explode → count → TakeOrderedAndProject. Map-side partial counts
    collapse the token stream before the exchange; at 100 TB the same
    query with a count-min/approx variant bounds memory, but exact
    heavy hitters stay feasible because token cardinality, not corpus
    size, drives state."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens()).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


_JACCARD_BLOCK_ORACLE = r"""
WITH sh AS (
    SELECT doc_id, source,
           list_distinct(list_transform(range(1, greatest(length(text) - 1, 1)),
                                        i -> substr(text, i, 3))) AS s
    FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       len(list_intersect(a.s, b.s)) AS n_common,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
"""


@register("jaccard_block_pairs", oracle=_JACCARD_BLOCK_ORACLE, tags=("X24", "X26"))
def jaccard_block_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-3-gram Jaccard ≥ 0.6 over pairs sharing a
    blocking key (source), via LOSSLESS candidate pruning: Bayardo
    prefix filtering (WWW'07 "Scaling Up All Pairs Similarity Search")
    plus PPJoin's length and positional filters (Xiao et al., WWW'08)
    — order every document's gram set by global rarity, explode only
    the first ``len − ⌈t·len⌉ + 1`` grams, generate candidates from
    pairs sharing a prefix gram (any pair with J ≥ t provably shares
    one), and prune candidates whose size ratio or position-derived
    overlap upper bound already rules out J ≥ t. Every rule is a
    theorem about the sorted-set representation, so the exact verify
    over candidates returns the identical result to the quadratic
    all-pairs join (the oracle's formulation) at a fraction of the
    comparisons. Grams are replaced by their global-rarity ranks
    (ints, assigned by the X32 two-phase distributed ranking — no
    single-reducer window) before the verify, so the intersect
    compares ints, not strings. The rank table is gram-cardinality-
    bounded (≤ charset³), independent of corpus size → broadcastable
    at 100 TB; the unblocked approximate variant is
    ngram_jaccard_pairs over LSH candidates.

    History (round-14 verdict #2): the PPJoin kernel was certified in
    round 13 as the twin ``jaccard_block_pairs_ppjoin`` against this
    same oracle (identical output, 2.25× faster at x50, 37× vs the
    prefix-only leg's superlinear 69× growth at 50× rows); it is now
    THE registered implementation under the primary name, and the
    prefix-only Bayardo leg survives unregistered as
    jaccard_block_pairs_prefix_only — the measured A/B lives in
    tests/test_dedup.py and SCALE.md round 13."""
    ranked = _ranked_gram_sets(spark, sf_dir)
    return _prefix_filter_verify(ranked, positional=True)


def jaccard_block_pairs_prefix_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNREGISTERED test-level A/B twin: the Bayardo prefix filter
    WITHOUT PPJoin's length/positional pruning. Same exact verify,
    same oracle-identical output (tests/test_dedup.py pins equality) —
    kept so the candidate-cut measurement (SCALE.md round 13: 69× vs
    37× growth at x50) stays reproducible, but retired from the
    registry because a query superlinear at x50 with a certified-equal
    faster twin has no deployment reason to exist (round-14 verdict
    #2)."""
    ranked = _ranked_gram_sets(spark, sf_dir)
    return _prefix_filter_verify(ranked, positional=False)


def _ranked_gram_sets(spark: SparkSession, sf_dir: str):
    """(doc_id, source, rs sorted-rank-array, n) — each document's
    distinct char-3-gram set as ascending global-rarity ranks. The
    shared front half of jaccard_block_pairs and its PPJoin twin."""
    t = 0.6
    # the documents scan arrives as ONE split at bench SF — spread the
    # gram extraction across the cluster before the compute-heavy
    # Generate (explicit count: a count-less repartition is an AQE-
    # coalescible exchange that would collapse back to one partition)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # 3-gram rows via position explode + plain substring: a Generate
    # plus ordinary codegen'd expressions. (The array formulation —
    # transform/filter/array_distinct — runs every element through
    # Spark's INTERPRETED higher-order-function path, ~10× slower; the
    # per-doc distinct becomes one dropDuplicates shuffle of 8-byte-ish
    # rows instead.) sequence(1, 0) would generate a DESCENDING range,
    # so clamp to 1; short docs' partial grams drop via the length
    # filter — same gram sets as the oracle's list_distinct form.
    g_rows = track_cache(
        docs.select(
            "doc_id",
            "source",
            F.explode(
                F.expr("sequence(1, greatest(length(text) - 2, 1))")
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id", "source", F.expr("substring(text, i, 3)").alias("g")
        )
        .where(F.length("g") == 3)
        .dropDuplicates(["doc_id", "g"])
        # feeds BOTH the rarity-rank aggregate and the ranked rebuild
    )
    # global rarity rank per gram: cardinality-bounded dim (≤ charset³,
    # independent of corpus size), broadcast back. Ranks are assigned
    # with the X32 two-phase distributed total-order ranking (same
    # shape as surrogate_keys / equi_depth_price_buckets), NOT a
    # global Window.orderBy — that was a single-reducer stage over the
    # whole gram dictionary (round-13 verdict #5): bucket on
    # floor(log2(df)) (monotone in df, so bucket order respects the
    # global (df, g) order; ≤ ~40 buckets whatever the corpus),
    # row_number within each bucket in parallel, then add the
    # broadcast bucket-size prefix offsets. The only single-partition
    # window left runs over the ≤ ~40 bucket-size rows. Correctness
    # needs only a CONSISTENT total order shared by both sides of the
    # prefix join (rarity order is the pruning-effectiveness choice),
    # and two-phase row numbers reproduce the exact (df, g) order the
    # old window produced.
    dfreq = g_rows.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    bucketed = dfreq.withColumn(
        "bkt", F.floor(F.log2(F.col("df").cast("double"))).cast("int")
    )
    local_w = Window.partitionBy("bkt").orderBy(F.col("df").asc(), F.col("g").asc())
    offsets_w = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = (
        bucketed.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("offset", F.coalesce(F.sum("cnt").over(offsets_w), F.lit(0)))
        .select("bkt", "offset")
    )
    ranks = (
        bucketed.withColumn("prn", F.row_number().over(local_w))
        .join(F.broadcast(offsets), "bkt")
        .select("g", (F.col("offset") + F.col("prn")).cast("int").alias("r"))
    )
    ranked = (
        g_rows.join(F.broadcast(ranks), "g")
        .groupBy("doc_id", "source")
        .agg(F.sort_array(F.collect_list("r")).alias("rs"))
        .withColumn("n", F.size("rs"))
    )
    return track_cache(ranked)


def _candidate_pairs(ranked, positional: bool, t: float) -> DataFrame:
    """(a_id, b_id) candidate pairs from the prefix equi-join — the
    production candidate builder, shared by _prefix_filter_verify and
    the candidate-count A/B in tests/test_dedup.py (round-13 ADVICE:
    the test previously re-implemented these join conditions inline,
    so a filter change here would have left it validating a stale
    copy). See _prefix_filter_verify for the pruning-rule proofs."""
    prefix = ranked.select(
        "doc_id",
        "source",
        "n",
        F.posexplode(
            F.slice("rs", 1, (F.col("n") - F.ceil(t * F.col("n")) + 1).cast("int"))
        ).alias("pos0", "r"),
    )
    cond = (
        (F.col("pa.source") == F.col("pb.source"))
        & (F.col("pa.r") == F.col("pb.r"))
        & (F.col("pa.doc_id") < F.col("pb.doc_id"))
    )
    if positional:
        na, nb = F.col("pa.n"), F.col("pb.n")
        # length filter: the smaller set must be ≥ t × the larger
        cond = cond & (F.least(na, nb) >= F.ceil(t * F.greatest(na, nb)))
        # positional filter: overlap ≤ 1 + min(remaining grams after
        # the match on each side); J ≥ t ⇔ overlap ≥ t/(1+t)·(na+nb)
        ubound = 1 + F.least(na - (F.col("pa.pos0") + 1), nb - (F.col("pb.pos0") + 1))
        alpha = F.ceil((t / (1 + t)) * (na + nb))
        cond = cond & (ubound >= alpha)
    return (
        prefix.alias("pa")
        .join(prefix.alias("pb"), cond)
        .select(
            F.col("pa.doc_id").alias("a_id"), F.col("pb.doc_id").alias("b_id")
        )
        .dropDuplicates(["a_id", "b_id"])
    )


def _prefix_filter_verify(ranked, positional: bool) -> DataFrame:
    """Candidate generation + exact verify over rank-set documents.

    positional=False — Bayardo prefix filter only: pairs at J ≥ t must
    share a gram in the first n − ⌈t·n⌉ + 1 rarest grams of BOTH sets.

    positional=True — PPJoin (Xiao et al., WWW'08 "Efficient Similarity
    Joins for Near Duplicate Detection"): two additional LOSSLESS
    pruning rules on top of the same prefix:
      * length filter: J(a,b) ≥ t ⇒ t·|a| ≤ |b| (with a the smaller
        side; applied symmetrically around the a_id < b_id order);
      * positional filter: a shared prefix gram at 1-based sorted
        positions (ia, ib) bounds the overlap by
        min(ia, ib) − 1 common grams at most before it... tighter: the
        achievable overlap is ≤ (ia∧ib matched so far = 1) +
        min(|a| − ia, |b| − ib), and J ≥ t needs overlap ≥
        ⌈t·(|a|+|b|)/(1+t)⌉; candidates whose best case falls short
        are dropped BEFORE the verify join ships any rank array.
    Both rules are theorems about the sorted-set representation, so
    the candidate set remains a superset of the true result and the
    exact verify returns the identical rows — same oracle, no
    probability involved (the round-12 verdict asked for an
    LSH-sketch twin here, but the measured corpus makes LSH banding
    unusable at t = 0.6: the background char-3-gram Jaccard is
    unimodal at median 0.459 with ~7% of in-block pairs inside
    [0.6, 0.7), so any banding sharp enough to prune the bulk also
    misses edge pairs at certification-visible rates — see
    SCALE.md round 13; PPJoin gives the asked-for candidate cut with
    recall exactly 1 by construction)."""
    t = 0.6
    cand = _candidate_pairs(ranked, positional, t)
    a = ranked.select(F.col("doc_id").alias("a_id"), F.col("rs").alias("sa"))
    b = ranked.select(F.col("doc_id").alias("b_id"), F.col("rs").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", inter.alias("n_common"), jac.alias("jaccard"))
        .where(F.col("jaccard") >= t)
    )


# jaccard_block_pairs_ppjoin (registered r13) merged into
# jaccard_block_pairs above in round 14 — the PPJoin kernel IS the
# registered implementation now; keeping two registered names with
# identical plans would be padding. The prefix-only leg lives on as
# jaccard_block_pairs_prefix_only (unregistered, test-level A/B).


# --- n-gram pipelines (exploded form: linear at any document length) --------


def exploded_ngrams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram): one row per *full* word-k-gram.

    Built as posexplode → lead() windows rather than array lambdas:
    outer-scope arrays referenced inside transform() lambdas are
    re-evaluated per element (quadratic in document length), while this
    form is one linear pass plus a single doc_id-partitioned sort —
    the same shape that scales the MinHash pipeline. Partial trailing
    grams (where lead(k-1) runs off the end) are dropped.
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    tok = docs.select("doc_id", F.posexplode(tokens()).alias("pos", "tok"))
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    return (
        tok.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("tok", k - 1).over(w).isNotNull().alias("_full"),
        )
        .where("_full")
        .drop("_full")
    )


def _sql_ngram_cte(k: int) -> str:
    """DuckDB CTE body producing the same (doc_id, gram) stream."""
    return (
        f"t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents), "
        f"g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - {k} + 2), "
        f"i -> array_to_string(toks[i:i + {k} - 1], ' '))) AS gram "
        f"FROM t WHERE len(toks) >= {k})"
    )


@register(
    "top_bigram_repetition",
    oracle=f"""
WITH {_sql_ngram_cte(2)},
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
r AS (SELECT doc_id, gram, cnt,
             row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn,
             sum(cnt) OVER (PARTITION BY doc_id) AS total
      FROM c)
SELECT doc_id, gram AS top_bigram, cnt AS top_bigram_count,
       CAST(cnt AS DOUBLE) / total AS top_bigram_frac
FROM r WHERE rn = 1
""",
    tags=("X26", "quality"),
)
def top_bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-style): the most frequent
    word bigram per document and the fraction of all bigrams it
    covers. Deterministic tie-break (count desc, then bigram asc).
    Scale: groupBy(doc_id, gram) partial-aggregates map-side; the
    window pass shuffles once on doc_id."""
    c = exploded_ngrams(load_table(spark, sf_dir, "documents"), 2).groupBy(
        "doc_id", "gram"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    byid = Window.partitionBy("doc_id")
    r = c.select(
        "doc_id",
        "gram",
        "cnt",
        F.row_number()
        .over(byid.orderBy(F.desc("cnt"), F.asc("gram")))
        .alias("rn"),
        F.sum("cnt").over(byid).alias("total"),
    )
    return r.where(F.col("rn") == 1).select(
        "doc_id",
        F.col("gram").alias("top_bigram"),
        F.col("cnt").alias("top_bigram_count"),
        (F.col("cnt").cast("double") / F.col("total")).alias("top_bigram_frac"),
    )


@register(
    "ngram_contamination",
    oracle=f"""
WITH {_sql_ngram_cte(8)},
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0)
SELECT g.doc_id, count(DISTINCT g.gram) AS n_hit_grams
FROM g JOIN bench ON g.gram = bench.gram
WHERE g.doc_id % 7 <> 0
GROUP BY g.doc_id
""",
    tags=("X26", "quality"),
)
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing any
    word-8-gram with a held-out benchmark set (here the deterministic
    pseudo-benchmark doc_id % 7 == 0), with the count of distinct
    shared 8-grams. The benchmark gram set is tiny relative to the
    corpus → broadcast semi-structure: the 100 TB side streams past it
    with no shuffle before the final doc_id aggregate."""
    g = exploded_ngrams(load_table(spark, sf_dir, "documents"), 8)
    bench = (
        g.where(F.col("doc_id") % 7 == 0).select("gram").distinct()
    )
    return (
        g.where(F.col("doc_id") % 7 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hit_grams"))
    )


@register(
    "doc_chunks",
    oracle=f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
c AS (SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, len(toks), 24)) AS s
      FROM t)
SELECT doc_id,
       CAST(s // 24 AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(least(32, n - s) AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[s + 1:s + 32], ' ') AS chunk_text
FROM c
""",
    tags=("X26", "sampling"),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence chunking: split each document into 32-token
    windows on a 24-token stride (8-token overlap), the standard
    prep step before tokenize-and-pack. One narrow pass — sequence +
    posexplode + slice, all codegen'd, no shuffle, linear at 100 TB."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    n = F.size("toks")
    exploded = d.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.posexplode(F.sequence(F.lit(0), n - 1, F.lit(24))).alias(
            "chunk_idx", "chunk_start"
        ),
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.least(F.lit(32), F.col("n") - F.col("chunk_start"))
        .cast("long")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice("toks", F.col("chunk_start") + 1, F.lit(32)), " "
        ).alias("chunk_text"),
    )


@register(
    "training_corpus_pipeline",
    oracle=f"""
WITH t AS (
    SELECT doc_id, source, {_SQL_TOKS} AS toks,
           md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
    FROM documents
),
q AS (
    SELECT * FROM t
    WHERE len(toks) BETWEEN 20 AND 1000
      AND CAST(len(list_filter(toks, x -> x IN {_SQL_STOP})) AS DOUBLE)
          / len(toks) >= 0.05
),
d AS (
    SELECT * FROM q
    QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
),
c AS (
    SELECT doc_id, source, len(toks) AS n,
           unnest(range(0, len(toks), 24)) AS s
    FROM d
)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_chunks,
       CAST(sum(least(32, n - s)) AS BIGINT) AS n_tokens_packed
FROM c GROUP BY source
""",
    tags=("quality", "X23", "X26", "sampling"),
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data funnel in one declarative plan:
    quality gate (20≤tokens≤1000, stopword ratio ≥0.05) → exact dedup
    on the normalized-content fingerprint (keep lowest doc_id) →
    32/24-stride chunking → per-source packing stats. Each stage is
    the single-purpose operator elsewhere in the registry
    (text_quality, dedup_exact, doc_chunks); this shows they compose
    into one Catalyst plan: the gate's filter runs at the scan, the
    only shuffles are the fp-dedup window and the final source
    aggregate — the same two a 100 TB run needs.

    r15 (guide §2.3, project before the exchange): everything past
    the quality gate needs only the token COUNT, never the tokens —
    so the array is reduced to ``n = size(toks)`` at the scan and the
    fp-window exchange carries (doc_id, source, fp, n) instead of
    every surviving document's token array. At 100 TB the dedup
    shuffle moves per-doc metadata, not the corpus. Identical output
    (n is computed before the projection; chunking/packing were
    already pure functions of n)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        tokens().alias("toks"),
        F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("fp"),
    )
    n = F.size("toks")
    stop_ratio = (
        F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS))).cast("double") / n
    )
    gated = docs.where(n.between(20, 1000) & (stop_ratio >= 0.05)).select(
        "doc_id", "source", "fp", n.alias("n")
    )
    deduped = (
        gated.withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    nn = F.col("n")
    chunks = deduped.select(
        "doc_id",
        "source",
        "n",
        F.posexplode(F.sequence(F.lit(0), nn - 1, F.lit(24))).alias("ci", "s"),
    )
    return chunks.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.least(F.lit(32), F.col("n") - F.col("s"))).cast("long").alias(
            "n_tokens_packed"
        ),
    )


@register(
    "collapse_repeated_tokens",
    oracle=rf"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
cleaned AS (
    SELECT doc_id, len(t) AS n_tokens,
           list_filter(t, (x, i) -> i = 1 OR x <> t[i - 1]) AS kept
    FROM toks
)
SELECT doc_id, n_tokens,
       len(kept) AS n_after,
       md5(array_to_string(kept, ' ')) AS cleaned_md5
FROM cleaned
""",
    tags=("X26", "X16"),
)
def collapse_repeated_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate token collapse ('a a the' -> 'a the') —
    the stutter-removal normalization step of a text-cleaning
    pipeline, as a pure column expression: an indexed array filter
    keeping positions whose token differs from its predecessor. The
    cleaned text is emitted as an md5 (the driver needs scalar
    outputs); Spark's filter lambda index is 0-based, DuckDB's
    1-based — the predecessor test is offset accordingly."""
    t = tokens()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", t.alias("t"))
    kept = F.filter("t", lambda x, i: (i == 0) | (x != F.element_at("t", i)))
    cleaned = docs.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        kept.alias("kept"),
    )
    return cleaned.select(
        "doc_id",
        "n_tokens",
        F.size("kept").alias("n_after"),
        F.md5(F.encode(F.concat_ws(" ", F.col("kept")), "utf-8")).alias(
            "cleaned_md5"
        ),
    )


# -- shared char-8-gram shingle expansion -------------------------------------
#
# One definition for the three shingle-based operators (containment,
# internal repetition, split leakage) and their oracles: a semantic
# change to gram width or unicode handling edits exactly these two
# definitions, not six call sites.

from master_airflow_spark.operators.sampling import _sql_bucket as _sampling_sql_bucket

#: the train/test split rule as its DuckDB fragment — single source
#: shared with operators/sampling.py (train_test_split)
_sql_split_bucket = _sampling_sql_bucket("CAST(doc_id AS VARCHAR)")

#: DuckDB fragment: the DISTINCT 8-gram list of `text` (1-based substr).
_SQL_SHINGLES8 = (
    "list_distinct(list_transform(range(1, greatest(length(text) - 6, 1)),"
    " i -> substr(text, i, 8)))"
)


def _char_shingle_rows(df: DataFrame, *extra_cols: str) -> DataFrame:
    """One row per (doc_id, *extra_cols, g): the document's DISTINCT
    8-char shingles via position explode + substring (codegen-friendly;
    the array higher-order form runs interpreted). Docs shorter than 8
    chars produce no rows — the oracle's empty-list case."""
    return (
        df.select(
            "doc_id",
            *extra_cols,
            F.explode(
                F.expr("sequence(1, greatest(length(text) - 7, 1))")
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id", *extra_cols, F.expr("substring(text, i, 8)").alias("g")
        )
        .where(F.length("g") == 8)
        .dropDuplicates(["doc_id", "g"])
    )


@register(
    "containment_pairs",
    oracle=f"""
WITH sh AS (
    SELECT doc_id, source, {_SQL_SHINGLES8} AS s
    FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       len(list_intersect(a.s, b.s)) AS n_common,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id <> b.doc_id
WHERE len(a.s) > 0
  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.5
""",
    tags=("X24", "X26"),
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 8-gram containment C(A→B) = |A∩B| / |A| ≥ 0.5 over
    same-source pairs — the sub-document-duplication signal Jaccard
    misses (a paragraph wholly lifted into a longer doc scores low
    Jaccard but high containment; see Broder '97 resemblance vs
    containment). Directional: both (a,b) and (b,a) can appear with
    different scores. 8-char shingles are rare enough that the
    inverted-index equi-join on (gram, source) emits only truly
    overlapping candidate pairs — no all-pairs product. The join key
    is the raw 8-char gram (8 bytes, no wider than a hashed id would
    be): the oracle intersects exact strings, so hashing the gram
    first would open a silent collision divergence channel for zero
    shuffle savings. Exactly the oracle's quadratic all-pairs result,
    at index-join cost.

    Measured dense-corpus boundary (round-12 x50 probe, SCALE.md):
    on a templated small-vocabulary corpus nearly every same-source
    pair shares SOME gram, so the index join's output is Σ df² rows
    into a pair-keyed aggregate and the x50 cell runs ~2× over linear
    (spilling partials). Two exact alternatives were implemented and
    MEASURED SLOWER on this corpus before being rejected: dictionary-
    encoding the gram key (210s vs 201s at x50 — the key width was
    not the driver) and a lossless containment prefix filter (the
    ⌊(1−t)|A|⌋+1-rarest-grams theorem; 353s — rare grams are not rare
    in a dense gram space, and the candidate-then-verify form pays
    its array joins on ~every pair anyway). The structure is
    candidate-volume-bound, which is inherent to EXACT containment on
    dense text; the 100 TB scale path for that regime is the sparser
    winnowing index (winnowing_shared_pairs) or LSH candidates
    (ngram_jaccard_pairs), both measured sublinear at x50."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    g_rows = track_cache(_char_shingle_rows(docs, "source"))
    sizes = g_rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    b = g_rows.select(
        F.col("doc_id").alias("b_id"),
        F.col("source").alias("b_source"),
        F.col("g").alias("b_g"),
    )
    common = (
        g_rows.join(
            b,
            (F.col("g") == F.col("b_g"))
            & (F.col("source") == F.col("b_source"))
            & (F.col("doc_id") != F.col("b_id")),
        )
        .groupBy(F.col("doc_id").alias("a_id"), "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes, sizes.doc_id == common.a_id)
        .withColumn(
            "containment", F.col("n_common").cast("double") / F.col("n_grams")
        )
        .where(F.col("containment") >= 0.5)
        .select("a_id", "b_id", "n_common", "containment")
    )


@register(
    "zipf_quality_score",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
),
freq AS (
    SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
)
SELECT t.doc_id,
       count(*) AS n_toks,
       CAST(SUM(CAST(f.cnt AS DECIMAL(28,4))) AS DOUBLE) / count(*)
           AS mean_tok_freq,
       CAST(count_if(f.cnt <= 2) AS DOUBLE) / count(*) AS rare_frac
FROM tok t JOIN freq f ON f.tok = t.tok
GROUP BY t.doc_id
""",
    tags=("X26", "quality"),
)
def zipf_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency document scoring — the deterministic stand-in
    for unigram-LM log-probability filtering (CCNet-style): per doc,
    the mean corpus frequency of its tokens (high = boilerplate /
    templated, low = rare-token noise) and the fraction of
    near-hapax tokens (corpus count ≤ 2, the OOV-ish tail). Engine
    log() implementations differ in the last ulp, so the score is
    kept in exact integer/decimal space — same ranking signal,
    bit-identical across engines. Two hash aggregates plus one
    equi-join on the token, all map-side combinable; the frequency
    table is vocabulary-sized (Zipf-bounded ≪ corpus) and would
    broadcast at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    # cached: the tokenize/explode scan feeds both the vocabulary
    # aggregate and the join probe side — without the cache the regex
    # split over the whole corpus runs twice
    tok = track_cache(docs.select("doc_id", F.explode(tokens()).alias("tok")))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        tok.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            (
                F.sum(F.col("cnt").cast("decimal(28,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_tok_freq"),
            (
                F.count_if(F.col("cnt") <= 2).cast("double") / F.count(F.lit(1))
            ).alias("rare_frac"),
        )
    )


@register(
    "repeated_shingle_ratio",
    oracle=r"""
WITH g AS (
    SELECT doc_id,
           list_transform(range(1, greatest(length(text) - 6, 1)),
                          i -> substr(text, i, 8)) AS grams
    FROM documents
)
SELECT doc_id,
       len(grams) AS n_shingles,
       len(list_distinct(grams)) AS n_distinct,
       CASE WHEN len(grams) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
       END AS dup_shingle_ratio
FROM g
""",
    tags=("X26", "quality"),
)
def repeated_shingle_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal-repetition quality signal (the Gopher/MassiveText
    "repetition" filter family): the fraction of a document's 8-char
    shingles that are duplicates of an earlier shingle in the SAME
    document — boilerplate, chorus-like spam, and template pages score
    high while natural prose stays low. Pure per-row column
    expressions (position explode → count vs count-distinct), no
    shuffle beyond the per-doc aggregate, so the filter runs at scan
    speed in the quality-gate stage of the corpus funnel. Ratios are
    one IEEE division of exact integers.

    Expands shingles inline rather than via _char_shingle_rows: this
    operator needs shingle MULTIPLICITY (total vs distinct counts),
    while the shared helper deduplicates per doc."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr("sequence(1, greatest(length(text) - 7, 1))")
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.expr("substring(text, i, 8)").alias("g"))
        .where(F.length("g") == 8)
    )
    agg = g.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count_distinct("g").alias("n_distinct"),
    )
    # docs shorter than 8 chars generate no shingle rows: restore them
    # with zero counts so every document keeps a quality row (the
    # oracle's len(grams)=0 branch)
    all_docs = docs.select("doc_id")
    return (
        all_docs.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.when(F.coalesce("n_shingles", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                1.0
                - F.col("n_distinct").cast("double") / F.col("n_shingles")
            )
            .alias("dup_shingle_ratio"),
        )
    )


@register(
    "split_leakage_audit",
    oracle=f"""
WITH split AS (
    SELECT doc_id, text,
           CASE WHEN {_sql_split_bucket} < 80
                THEN 'train' ELSE 'eval' END AS split
    FROM documents
),
grams AS (
    SELECT doc_id, split, unnest({_SQL_SHINGLES8}) AS g
    FROM split
),
train_grams AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
eval_grams AS (SELECT doc_id, g FROM grams WHERE split = 'eval')
SELECT e.doc_id,
       count(*) AS n_grams,
       count(*) FILTER (WHERE tg.g IS NOT NULL) AS n_shared,
       CAST(count(*) FILTER (WHERE tg.g IS NOT NULL) AS DOUBLE) / count(*)
           AS leak_ratio
FROM eval_grams e LEFT JOIN train_grams tg ON tg.g = e.g
GROUP BY e.doc_id
HAVING CAST(count(*) FILTER (WHERE tg.g IS NOT NULL) AS DOUBLE) / count(*) >= 0.2
""",
    tags=("X26", "X2", "sampling"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval split-leakage audit: for every document hashed into
    the eval split (same doc_id-hash rule as train_test_split), the
    fraction of its distinct 8-gram shingles that also occur anywhere
    in the train split; docs over 20% shared content are flagged —
    near-duplicates straddling the split boundary, which silently
    inflate eval scores. The train side reduces to a DISTINCT gram set
    (vocabulary-bounded, ≪ corpus); the check is one equi-join on the
    gram — an inverted-index probe, no pairwise comparison, so it runs
    at the same cost as the dedup passes at 100 TB. Counting uses a
    LEFT join + null-flag so n_grams and n_shared come from ONE join
    pass, and the ratio is a single division of exact integers."""
    from master_airflow_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    # the SAME doc_id-hash rule train_test_split uses (sampling.hash_bucket)
    # — the audit must not drift from the split it audits
    split = F.when(hash_bucket("doc_id") < 80, "train").otherwise("eval")
    grams = _char_shingle_rows(
        docs.select("doc_id", split.alias("split"), "text"), "split"
    )
    train_grams = (
        grams.where(F.col("split") == "train").select("g").distinct()
        .withColumn("hit", F.lit(1))
    )
    ev = grams.where(F.col("split") == "eval").select("doc_id", "g")
    return (
        ev.join(train_grams, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_shared"),
        )
        .withColumn(
            "leak_ratio", F.col("n_shared").cast("double") / F.col("n_grams")
        )
        .where(F.col("leak_ratio") >= 0.2)
    )


# winnowing parameters: k-token shingles, window of w consecutive
# shingle hashes (guarantee: any shared run of >= w+k-1 tokens yields
# at least one shared fingerprint — Schleimer/Wilkerson/Aiken, MOSS)
WINNOW_K = 3
WINNOW_W = 4


# shared winnowing CTE chain: documents → shingle hashes → per-doc
# DISTINCT window-min fingerprint lists. Mirrors winnow_fingerprint_rows
# value-for-value; reused by the pair query below.
_SQL_WINNOW_CTES = f"""
t AS (
    SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
),
h AS (
    SELECT doc_id,
           list_transform(
               range(1, greatest(len(toks) - {WINNOW_K - 1}, 0) + 1),
               i -> {sql_portable_hash60(
                   "concat_ws('|', toks[i], toks[i+1], toks[i+2])")}
           ) AS hashes
    FROM t
),
fp AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(hashes) - {WINNOW_W - 1}, 0) + 1),
               w -> list_aggregate(hashes[w:w+{WINNOW_W - 1}], 'min')
           )) AS fps
    FROM h
)
"""


@register(
    "winnowing_fingerprints",
    oracle=f"""
WITH {_SQL_WINNOW_CTES}
SELECT doc_id,
       len(fps) AS n_fingerprints,
       CAST(coalesce(list_aggregate(fps, 'bit_xor'), 0) AS BIGINT) AS fp_digest
FROM fp
""",
    tags=("X24", "X26"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken '03,
    the MOSS scheme): hash every 3-token shingle (WINNOW_K), slide a
    window of 4 consecutive hashes (WINNOW_W), keep each window's minimum — a robust
    LOCAL fingerprint set guaranteeing any shared token run of length
    ≥ WINNOW_W+WINNOW_K−1 leaves at least one common fingerprint, which is what
    partial-overlap detection needs and global schemes (MinHash:
    whole-doc similarity; doc_fingerprint: exact content) can't give.
    Judged output is the per-doc fingerprint count plus an
    order-independent XOR digest of the distinct fingerprint set (the
    engines enumerate windows in different orders; XOR folds the SET,
    so values still hash-match). All built-in expressions: one
    posexplode, two windows keyed by doc — scan-speed, corpus-linear;
    pair generation over shared fingerprints would reuse the
    containment_pairs inverted-index join."""
    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprint_rows(docs)
    per_doc = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.bit_xor("fp").alias("fp_digest"),
    )
    # docs too short for any window keep a zero row (oracle's len=0 branch)
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            F.coalesce("fp_digest", F.lit(0)).cast("long").alias("fp_digest"),
        )
    )


def winnow_fingerprint_rows(docs: DataFrame) -> DataFrame:
    """The winnowing kernel: (doc_id, fp) rows — each doc's DISTINCT
    window-min fingerprints, pre-digest. Shared by the judged query
    (which folds to count + XOR digest) and by tests that need the
    actual sets to assert the shared-run guarantee as a real set
    intersection."""
    from master_airflow_spark.functions.hashing import portable_hash60 as ph

    t = docs.select("doc_id", tokens().alias("toks"))
    # shingle hashes, one row per position (posexplode keeps the plan
    # in codegen; array higher-order fns would interpret)
    n_sh = F.greatest(F.size("toks") - (WINNOW_K - 1), F.lit(0))
    h = (
        t.select(
            "doc_id",
            "toks",
            F.explode(F.expr(f"sequence(1, greatest(size(toks) - {WINNOW_K - 1}, 1))")).alias("i"),
            n_sh.alias("n_sh"),
        )
        .where(F.col("i") <= F.col("n_sh"))
        .select(
            "doc_id",
            F.col("i").alias("pos"),
            ph(
                F.concat_ws(
                    "|",
                    F.expr("toks[i-1]"),
                    F.expr("toks[i]"),
                    F.expr("toks[i+1]"),
                )
            ).alias("h"),
        )
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    n_windows = Window.partitionBy("doc_id")
    return (
        # window min FIRST (each window needs its full W-hash span),
        # THEN drop the trailing positions whose window would run past
        # the end of the document
        h.withColumn("fp", F.min("h").over(win))
        .withColumn("n_pos", F.max("pos").over(n_windows))
        .where(F.col("pos") <= F.col("n_pos") - (WINNOW_W - 1))
        .select("doc_id", "fp")
        .distinct()
    )


@register(
    "winnowing_shared_pairs",
    oracle=f"""
WITH {_SQL_WINNOW_CTES},
rows_fp AS (SELECT doc_id, unnest(fps) AS fp FROM fp)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       count(*) AS n_shared
FROM rows_fp a JOIN rows_fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
""",
    tags=("X24", "X26"),
)
def winnowing_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidate pairs from winnowing fingerprints —
    the pair half of the MOSS scheme: documents sharing ≥2 window-min
    fingerprints share at least one token run of ≥ WINNOW_W+WINNOW_K−1
    (per fingerprint, by the winnowing guarantee), which catches
    copied PASSAGES that whole-document MinHash dilutes below its
    Jaccard threshold. Same inverted-index shape as containment_pairs:
    equi-join on the fingerprint value — candidates only where an
    actual fingerprint collides, never all-pairs; fingerprint density
    is ~2/(WINNOW_W+1) of shingles, so the index is sparser than a
    shingle index at the same recall target. The ≥2 cutoff is the
    standard MOSS noise floor for isolated hash collisions."""
    fps = winnow_fingerprint_rows(
        load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
    )
    b = fps.select(F.col("doc_id").alias("b_id"), F.col("fp").alias("b_fp"))
    return (
        fps.join(b, (F.col("fp") == F.col("b_fp")) & (F.col("doc_id") < F.col("b_id")))
        .groupBy(F.col("doc_id").alias("a_id"), "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


@register(
    "token_simpson_diversity",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
),
cnt AS (
    SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_toks,
       count(*) AS n_distinct_toks,
       CAST(SUM(c * c) AS DOUBLE)
           / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
           AS simpson_index
FROM cnt
GROUP BY doc_id
""",
    tags=("X26", "quality"),
)
def token_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signal: the Simpson concentration
    index sum(p_i^2) per document — the exact-arithmetic stand-in for
    token entropy (both rank repetitive/boilerplate docs high; Simpson
    needs no log(), so Spark's parallel partial sums and DuckDB's
    serial fold agree bit-for-bit: integer sums, then ONE IEEE double
    division of exactly-represented integers). A doc of one repeated
    token scores 1.0; all-distinct tokens score 1/n. Two map-side
    combinable hash aggregates keyed by (doc_id, tok) then doc_id —
    no join, no window; partitions by doc hash, so 100 TB scales
    linearly with zero skew (a doc's token set is bounded)."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return cnt.groupBy("doc_id").agg(
        n.alias("n_toks"),
        F.count(F.lit(1)).alias("n_distinct_toks"),
        (
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (n.cast("double") * n.cast("double"))
        ).alias("simpson_index"),
    )


@register(
    "source_token_divergence",
    oracle=f"""
WITH tok AS (
    SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
),
per_src AS (
    SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok
),
corpus AS (
    SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM per_src GROUP BY tok
),
totals AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM per_src GROUP BY source
),
n_all AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM corpus),
-- |p_t - q_t| summed over the FULL vocabulary: tokens absent from a
-- source still contribute q_t, handled by summing the present-token
-- part and adding the missing-token mass analytically:
-- sum_absent q_t = 1 - sum_present q_t.
present AS (
    -- products in DECIMAL(38,0): c·N and C_t·n_s stay exact far past
    -- BIGINT range (c·N ~ 1e22 at 100 TB corpora)
    SELECT t.source,
           SUM(abs(CAST(p.c AS DECIMAL(38,0)) * n.n
                   - CAST(c2.ct AS DECIMAL(38,0)) * t.ns)) AS num_present,
           CAST(SUM(c2.ct) AS BIGINT) AS ct_present
    FROM per_src p
    JOIN totals t ON t.source = p.source
    JOIN corpus c2 ON c2.tok = p.tok
    CROSS JOIN n_all n
    GROUP BY t.source, t.ns
)
SELECT p.source,
       t.ns AS n_tokens,
       CAST(p.num_present + (CAST(n.n AS DECIMAL(38,0)) - p.ct_present) * t.ns
            AS DOUBLE)
           / (2.0 * t.ns * n.n) AS tv_divergence
FROM present p JOIN totals t ON t.source = p.source CROSS JOIN n_all n
""",
    tags=("X26", "X5", "quality"),
)
def source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: total-variation distance between
    each source's token distribution and the whole-corpus distribution
    — the deterministic stand-in for the KL-divergence drift monitors
    a training-mix pipeline runs per source/shard. TV = ½·Σ|p_t−q_t|
    over the full vocabulary; tokens a source never emits contribute
    their corpus mass, folded in analytically (Σ_absent q = 1 −
    Σ_present q) so no vocab×source dense join is needed. Exactness:
    everything stays in integer space over the common denominator
    n_source·n_corpus (|c_ts·N − C_t·n_s| in DECIMAL(38,0) — exact
    far beyond BIGINT, c·N reaches ~1e22 at 100 TB corpora), and the ONE
    double division at the end is correctly rounded — Spark's partial
    sums and DuckDB agree bit-for-bit. Two hash aggregates plus a
    vocabulary-sized broadcast join; at 100 TB the corpus-frequency
    table is Zipf-bounded ≪ corpus and broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.explode(tokens()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_src = track_cache(per_src)
    corpus = per_src.groupBy("tok").agg(F.sum("c").alias("ct"))
    totals = per_src.groupBy("source").agg(F.sum("c").alias("ns"))
    n_all = corpus.agg(F.sum("ct").alias("n"))
    present = (
        per_src.join(F.broadcast(corpus), "tok")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(n_all))
        .groupBy("source", "ns")
        .agg(
            F.sum(
                F.abs(
                    F.col("c").cast("decimal(38,0)") * F.col("n")
                    - F.col("ct").cast("decimal(38,0)") * F.col("ns")
                )
            ).alias("num_present"),
            F.sum("ct").alias("ct_present"),
        )
    )
    return (
        present.crossJoin(F.broadcast(n_all))
        .select(
            "source",
            F.col("ns").alias("n_tokens"),
            (
                (
                    F.col("num_present")
                    + (F.col("n").cast("decimal(38,0)") - F.col("ct_present"))
                    * F.col("ns")
                ).cast("double")
                / (F.lit(2.0) * F.col("ns") * F.col("n"))
            ).alias("tv_divergence"),
        )
    )


@register(
    "sentence_segmentation",
    oracle=r"""
WITH sents AS (
    SELECT doc_id,
           generate_subscripts(ss, 1) - 1 AS pos,
           unnest(ss) AS sentence
    FROM (SELECT doc_id, string_split_regex(text, '[.!?]\s+') AS ss
          FROM documents)
)
SELECT doc_id, pos, sentence,
       length(sentence) AS n_chars,
       len(string_split(trim(sentence), ' ')) AS n_words
FROM sents
WHERE length(trim(sentence)) > 0
""",
    tags=("X26", "X16"),
)
def sentence_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation with stable ordinals — the unit-of-work
    split for sentence-level dedup, quality scoring, and parallel-
    corpus alignment. posexplode keeps each sentence's ORIGINAL index
    (empties filtered after numbering, so positions don't shift), the
    property downstream reassembly depends on. Pure column expressions
    (regex split + posexplode) — scan-speed, no Python; at 100 TB the
    explode multiplies rows ~30× but carries no shuffle: sentence rows
    stay in their document's partition until something keys them
    elsewhere. (The synthetic corpus carries no sentence punctuation,
    so on the driver tables this yields one segment per document; the
    multi-sentence path is pinned by
    tests/test_round4b_ops.py::test_sentence_segmentation_crafted.)"""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", r"[.!?]\s+")).alias("pos", "sentence"),
        )
        .where(F.length(F.trim(F.col("sentence"))) > 0)
        .select(
            "doc_id",
            "pos",
            "sentence",
            F.length("sentence").alias("n_chars"),
            F.size(F.split(F.trim(F.col("sentence")), " ")).alias("n_words"),
        )
    )
