"""Deduplication operators.

Reference parity: W4's keyed last-write-wins upsert — the MinIO sink
names each object ``date + station`` so re-runs overwrite
(dags/get_prices_load_minio.py:80) — plus the LLM-data-pipeline dedup
suite (SURVEY.md §2.7 X22-X24): exact content-hash dedup, MinHash-LSH
near-dup, SimHash, and n-gram Jaccard verification.

Scale posture: every dedup here is a keyed shuffle (groupBy / window
over the dedup key) — the key is chosen so the shuffle is on a
high-cardinality hash (uniform, no skew). MinHash banding turns the
O(n²) all-pairs problem into an equi-join on band signatures, which
Spark executes as a shuffled hash join; candidate verification runs
only within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from master_airflow_spark.catalog import load_table
from master_airflow_spark.operators.text import _SQL_TOKS, tokens
from master_airflow_spark.registry import register, track_cache


@register(
    "keyed_upsert_latest",
    oracle="""
SELECT user_id, event_type, ts, event_id, value
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id, event_type
    ORDER BY ts DESC, event_id DESC) = 1
""",
    tags=("W4", "X8", "X22"),
)
def keyed_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: last-write-wins upsert on a composite natural key — batch
    form of the MinIO object-key overwrite. One row per
    (user_id, event_type): the latest by (ts, event_id)."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "event_id", "value")
    )


@register(
    "dedup_exact",
    oracle="""
SELECT sha256(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""",
    tags=("X23",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23: exact dedup by content hash — ``sha2(text, 256)`` group-by,
    keeping the smallest doc_id per hash. At 100 TB the 32-byte hash
    (not the document body) is the shuffle key and the map-side partial
    aggregation collapses duplicates before the exchange."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection (X24) — deterministic, pure
# DataFrame ops, no pyspark.ml dependency (ml's MinHashLSH seeds its
# hash family via JVM RNG; re-implementing with explicit mixed hashes
# keeps signatures reproducible across runs and engines).
#
# The hash family is ENGINE-PORTABLE (see functions/hashing.py): token
# base hash = md5-derived 60-bit int reduced mod P_MIN (prime < 2^30),
# shingle hash = base-31 polynomial fold of k consecutive token hashes
# mod P_MIN, lane i = (Aᵢ·sh + Bᵢ) mod P_MIN with fixed md5-derived
# constants, band hash = base-31 fold of the band's lanes. Every value
# stays < 2^30 so all intermediates fit comfortably in int64 under ANSI
# mode — and DuckDB can compute the identical signature with list
# functions, which upgrades the whole LSH pipeline from rows-only to an
# exact differential oracle.
# --------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # 4 rows per band; P(candidate) = 1-(1-s^4)^4
SHINGLE_K = 5
P_MIN = 1073741789  # largest prime below 2^30


def _const(tag: str, i: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}-{i}".encode()).hexdigest()[:8], 16) % P_MIN


LANE_A = tuple(_const("minhash-a", i) | 1 for i in range(N_HASHES))
LANE_B = tuple(_const("minhash-b", i) for i in range(N_HASHES))


def shingles(text_col: str, k: int = 5) -> Column:
    """Word-k-gram shingle array (string form — used where the actual
    shingle sets are needed, e.g. exact Jaccard verification)."""
    toks = tokens(text_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def _tok_hash(c: Column) -> Column:
    from master_airflow_spark.functions.hashing import portable_hash60

    return F.pmod(portable_hash60(c), F.lit(P_MIN))


def _fold(parts: list[Column]) -> Column:
    """Base-31 polynomial fold mod P_MIN — operands < 2^30, so every
    intermediate < 2^35: exact long arithmetic in any engine."""
    acc = parts[0]
    for p in parts[1:]:
        acc = F.pmod(acc * 31 + p, F.lit(P_MIN))
    return acc


def minhash_signature(hash_col: Column) -> Column:
    """N_HASHES-wide MinHash signature over pre-hashed shingles: lane i
    re-mixes each shingle hash with the fixed affine map (Aᵢ·h + Bᵢ)
    mod P_MIN and takes the min. Deterministic, seedless; identical
    documents → identical signatures (pinned by the semantic tests and
    the differential oracle)."""
    def lane(i: int):
        # NB: a `lambda h, i=i:` default would be misread by transform()
        # as a two-arg (element, index) lambda
        return lambda h: F.pmod(F.lit(LANE_A[i]) * h + F.lit(LANE_B[i]), F.lit(P_MIN))

    return F.array(
        *[F.array_min(F.transform(hash_col, lane(i))) for i in range(N_HASHES)]
    )


def with_bands(df: DataFrame, sig: str = "sig") -> DataFrame:
    """Explode the signature into (band_id, band_hash) rows — the LSH
    bucket key. Equal band_hash within a band ⇒ candidate pair."""
    rows_per_band = N_HASHES // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                _fold(
                    [F.col(sig)[b * rows_per_band + r] for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(N_BANDS)
        ]
    )
    return df.withColumn("band", F.explode(bands)).select(
        *df.columns, F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    )


def doc_shingle_arrays(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, sh: array<long>) — each document's full shingle-hash
    stream as a per-row array, LINEAR in document length: token hashes
    materialize as a real column first (an attribute reference inside
    transform() is read per element, whereas an inline outer array
    EXPRESSION would re-evaluate per element — the quadratic lambda
    trap), then the k-gram fold runs inside WholeStageCodegen at scan
    speed. The single source of the sentinel-pad shingle rule for the
    array-form pipelines: minhash_signatures and the exact-Jaccard
    side of minhash_estimate_error both derive from it, so the rule
    cannot desync between the estimate and its audit."""
    toks = tokens()
    d1 = docs.select("doc_id", F.transform(toks, _tok_hash).alias("th"))
    sh = F.transform(
        F.sequence(F.lit(1), F.size("th")),
        lambda i: _fold(
            [F.coalesce(F.try_element_at(F.col("th"), i + j), F.lit(j)) for j in range(k)]
        ),
    )
    return d1.select("doc_id", sh.alias("sh"))


def minhash_signatures(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, sig) via per-row array expressions — ZERO shuffle: the
    shingle arrays come from doc_shingle_arrays (linear form), then the
    16 affine-min lanes run inside WholeStageCodegen at scan speed."""
    return doc_shingle_arrays(docs, k).select(
        "doc_id", minhash_signature(F.col("sh")).alias("sig")
    )


def _sql_fold(parts: list[str]) -> str:
    acc = parts[0]
    for p in parts[1:]:
        acc = f"(({acc}) * 31 + {p}) % {P_MIN}"
    return acc


_SQL_TH = (
    f"list_transform({_SQL_TOKS}, "
    f"t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {P_MIN})"
)

_SQL_SHINGLE = _sql_fold(
    ["th[p]"] + [f"coalesce(th[p+{j}], {j})" for j in range(1, SHINGLE_K)]
)

_ROWS_PER_BAND = N_HASHES // N_BANDS

# shared CTE chain: documents → token hashes → shingle hashes →
# 16-lane signature → 4 LSH bands → distinct candidate pairs.
# Mirrors minhash_signatures + with_bands value-for-value.
SQL_MINHASH_CTES = f"""
d AS (SELECT doc_id, {_SQL_TH} AS th FROM documents),
shs AS (SELECT doc_id,
               list_transform(range(1, len(th) + 1), p -> {_SQL_SHINGLE}) AS s
        FROM d),
sig AS (SELECT doc_id,
               {", ".join(f"list_min(list_transform(s, x -> ({LANE_A[i]} * x + {LANE_B[i]}) % {P_MIN})) AS m{i}" for i in range(N_HASHES))}
        FROM shs),
bands AS ({" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, {_sql_fold([f'm{b * _ROWS_PER_BAND + r}' for r in range(_ROWS_PER_BAND)])} AS band_hash FROM sig" for b in range(N_BANDS))}),
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM bands a
         JOIN bands b
           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
          AND a.doc_id < b.doc_id)
"""

_SQL_EST = (
    "CAST(("
    + " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))
    + f") AS DOUBLE) / {N_HASHES}"
)

SQL_MINHASH_PAIRS = f"""
SELECT * FROM (
    SELECT c.a_id, c.b_id, {_SQL_EST} AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
) WHERE est_jaccard >= 0.5
"""

_MINHASH_NEAR_DUP_ORACLE = f"WITH {SQL_MINHASH_CTES} {SQL_MINHASH_PAIRS}"


@register("minhash_near_dup", oracle=_MINHASH_NEAR_DUP_ORACLE, tags=("X24",))
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: MinHash-LSH near-duplicate candidate pairs, verified by
    exact signature-overlap estimate. Pipeline: shingle → 16-hash
    MinHash signature → 4 LSH bands → self-join on (band_id,
    band_hash) → estimated Jaccard = matching signature positions / 16,
    thresholded at 0.5. The portable hash family (md5 token base +
    affine lane maps mod P_MIN) means the ENTIRE pipeline — signatures,
    banding, candidate generation, estimate — is replayed by the DuckDB
    oracle and diff-checked exactly.

    Scale: the self-join key (band_id, band_hash) is uniform by
    construction; no document body crosses the band-join shuffle —
    only doc_id + 16×int64 signature. The up-front repartition on
    doc_id spreads signature hashing across the cluster even when the
    source arrives as few large splits; both self-join sides recompute
    the signatures rather than caching them — per-row codegen hashing
    is cheaper than a persist round-trip, and it keeps executor
    storage memory free at corpus scale."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # explicit partition count: a count-less repartition(col) is an
        # AQE-coalescible exchange, and this tiny-bytes/heavy-compute
        # shuffle coalesces to ONE partition — serializing the hashing
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )
    sigs = minhash_signatures(docs)
    banded = with_bands(sigs)
    left = banded.select(
        F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig"), "band_id", "band_hash"
    )
    right = banded.select(
        F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig"), "band_id", "band_hash"
    )
    pairs = (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sig", "b_sig")
        .dropDuplicates(["a_id", "b_id"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("a_sig", "b_sig", lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.lit(N_HASHES)
    )
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= 0.5)
        .select("a_id", "b_id", "est_jaccard")
    )


def _ngram_jaccard_oracle(k: int = 5) -> str:
    return f"""
WITH {SQL_MINHASH_CTES},
tk AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
shg AS (SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= {k}
                   THEN list_transform(range(1, len(toks) - {k - 2}),
                                       i -> array_to_string(list_slice(toks, i, i + {k - 1}), ' '))
                   ELSE [array_to_string(toks, ' ')] END) AS sh
        FROM tk)
SELECT * FROM (
    SELECT c.a_id, c.b_id,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(list_cat(a.sh, b.sh))) AS jaccard
    FROM cand c
    JOIN shg a ON a.doc_id = c.a_id
    JOIN shg b ON b.doc_id = c.b_id
) WHERE jaccard >= 0.3
"""


@register(
    "ngram_jaccard_pairs",
    oracle=_ngram_jaccard_oracle(),
    tags=("X24", "X26"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over MinHash-LSH candidate pairs: the
    verify stage of the near-dup pipeline. Candidates come from the
    per-row array signature pipeline (minhash_signatures, with a
    doc_id repartition for scan parallelism); exact Jaccard
    (array_intersect / array_union over distinct string shingles,
    joined back by doc_id) runs only on candidates."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # explicit count — see minhash_near_dup: AQE would
        # coalesce a count-less column repartition to one partition
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )
    sigs = minhash_signatures(docs)
    banded = with_bands(sigs)
    left = banded.select(F.col("doc_id").alias("a_id"), "band_id", "band_hash")
    right = banded.select(F.col("doc_id").alias("b_id"), "band_id", "band_hash")
    pairs = (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    # compute the (expensive) string-shingle arrays ONLY for documents
    # that appear in some candidate pair — a semi join first, then the
    # array build over the tiny candidate set
    cand_ids = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", F.array_distinct(shingles("text")).alias("sh"))
    )
    sh = track_cache(sh)
    joined = (
        pairs.join(sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh")), "a_id")
        .join(sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh")), "b_id")
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size(F.array_union("a_sh", "b_sh"))
    return joined.select(
        "a_id",
        "b_id",
        (inter.cast("double") / union).alias("jaccard"),
    ).where(F.col("jaccard") >= 0.3)


_INCREMENTAL_MINHASH_ORACLE = f"""
WITH {SQL_MINHASH_CTES},
xc AS (SELECT DISTINCT a.doc_id AS index_id, b.doc_id AS new_id
       FROM bands a
       JOIN bands b
         ON a.band_id = b.band_id AND a.band_hash = b.band_hash
        AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
SELECT * FROM (
    SELECT x.index_id, x.new_id, {_SQL_EST} AS est_jaccard
    FROM xc x
    JOIN sig sa ON sa.doc_id = x.index_id
    JOIN sig sb ON sb.doc_id = x.new_id
) WHERE est_jaccard >= 0.5
"""


@register("incremental_minhash_dedup", oracle=_INCREMENTAL_MINHASH_ORACLE, tags=("X24",))
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: today's incoming documents (odd doc_id)
    checked against the standing corpus index (even doc_id — same
    split convention as incremental_corpus_dedup, which is this
    operator's EXACT-dup sibling). Only cross-side candidate pairs
    are generated: the band join is index-side × incoming-side, never
    incoming × incoming or a full self-join — the daily-ingest shape
    where the index's band table is precomputed and persisted, so each
    day re-hashes only the new partition and probes the (band_id,
    band_hash) index. Same portable MinHash family as
    minhash_near_dup, so the whole pipeline replays exactly in
    DuckDB."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )
    banded = with_bands(minhash_signatures(docs))
    index_side = banded.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("index_id"),
        F.col("sig").alias("a_sig"),
        "band_id",
        "band_hash",
    )
    new_side = banded.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("new_id"),
        F.col("sig").alias("b_sig"),
        "band_id",
        "band_hash",
    )
    pairs = (
        index_side.join(new_side, ["band_id", "band_hash"])
        .select("index_id", "new_id", "a_sig", "b_sig")
        .dropDuplicates(["index_id", "new_id"])
    )
    est = (
        F.size(
            F.filter(F.zip_with("a_sig", "b_sig", lambda a, b: a == b), lambda x: x)
        )
        / F.lit(N_HASHES)
    )
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= 0.5)
        .select("index_id", "new_id", "est_jaccard")
    )


_SIMHASH_BITS = 60

_SIMHASH_CTES = f"""
stoks AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
    FROM (SELECT doc_id,
                 unnest({_SQL_TOKS}) AS tok
          FROM documents)
), ssums AS (
    SELECT doc_id,
           {", ".join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(_SIMHASH_BITS))}
    FROM stoks GROUP BY doc_id
), sfp AS (
    SELECT doc_id,
           {" + ".join(f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(_SIMHASH_BITS))}
               AS simhash
    FROM ssums
)"""

_SIMHASH_ORACLE = f"WITH {_SIMHASH_CTES} SELECT doc_id, simhash FROM sfp"


_SIMHASH_NEAR_DUP_ORACLE = f"""
WITH {_SIMHASH_CTES},
sbands AS ({" UNION ALL ".join(f"SELECT doc_id, simhash, {b} AS band_id, (simhash >> {16 * b}) & 65535 AS band_value FROM sfp" for b in range(4))})
SELECT a_id, b_id, hamming FROM (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sbands a
    JOIN sbands b
      ON a.band_id = b.band_id AND a.band_value = b.band_value
     AND a.doc_id < b.doc_id
) WHERE hamming <= 3
"""


@register("simhash_near_dup", oracle=_SIMHASH_NEAR_DUP_ORACLE, tags=("X24",))
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: SimHash near-dup candidate pairs via the banding trick on
    the fingerprint: split into 4×16-bit bands (the top band covers the
    60-bit fingerprint's high 12 live bits); two docs within Hamming
    distance 3 must share at least one full band (pigeonhole), so the
    self-join on (band_id, band_value) finds every such pair; exact
    Hamming distance then filters candidates. Same scale shape as
    MinHash banding — only (doc_id, fingerprint) crosses the shuffle;
    the portable fingerprint makes the pair set exactly
    oracle-checkable."""
    fp = simhash_fingerprint(spark, sf_dir)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_value"),
            )
            for b in range(4)
        ]
    )
    banded = fp.withColumn("band", F.explode(bands)).select(
        "doc_id",
        "simhash",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_value").alias("band_value"),
    )
    banded = track_cache(banded)
    left = banded.select(
        F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_fp"), "band_id", "band_value"
    )
    right = banded.select(
        F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_fp"), "band_id", "band_value"
    )
    pairs = (
        left.join(right, ["band_id", "band_value"])
        .where(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    hamming = F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= 3)
        .select("a_id", "b_id", "hamming")
    )


@register("simhash_fingerprint", oracle=_SIMHASH_ORACLE, tags=("X24",))
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: 60-bit SimHash per document — sign-sum of token-hash bits,
    computed entirely with built-in array/bitwise expressions (no UDF):
    explode tokens → portable md5-derived hash → per-bit ±1
    contributions → sign. 60 bits (one md5 15-hex-char parse) keeps the
    hash engine-portable, so the fingerprint values themselves are
    oracle-checked; near-dup = small Hamming distance between
    fingerprints. Two map-side-combinable exchanges: a narrow
    (doc_id, token-hash) term-frequency count over the occurrence
    stream, then the 60 weighted sign-sums over the much smaller tf
    frame — no corpus-sized wide rows cross either."""
    from master_airflow_spark.functions.hashing import portable_hash60

    # spread the token hash + 60-bit contribution math across cores —
    # the documents scan is one split at bench SF (explicit count: a
    # count-less repartition is an AQE-coalescible exchange)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    toks = docs.select(
        "doc_id",
        F.explode(tokens()).alias("tok"),
    ).withColumn("h", portable_hash60("tok"))
    # Per-bit sign-sums are weighted sums over DISTINCT token hashes
    # (weight = term frequency): sum over occurrences of ±1 equals
    # sum over distinct hashes of tf·(±1). Aggregate the narrow
    # (doc_id, h) → tf frame FIRST (one count column, map-side
    # combinable), then run the 60-column bit math on the term
    # frequency frame — Zipf repetition makes that frame a fraction
    # of the occurrence count, so the wide aggregate touches far
    # fewer rows (x50 probe: 22.3s → the tf pre-agg cut below).
    tf = toks.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("w"))
    # bit b of h as ±1: shiftright then &1 → {0,1} → 2x-1, weighted by tf
    contribs = tf.select(
        "doc_id",
        *[
            ((F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1) * F.col("w")).alias(
                f"b{b}"
            )
            for b in range(_SIMHASH_BITS)
        ],
    )
    sums = contribs.groupBy("doc_id").agg(
        *[F.sum(f"b{b}").alias(f"b{b}") for b in range(_SIMHASH_BITS)]
    )
    fp = sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
                for b in range(_SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return fp


@register(
    "incremental_corpus_dedup",
    oracle=r"""
WITH yesterday AS (
    SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id % 2 = 0
),
today AS (
    SELECT doc_id, source,
           md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id % 2 = 1
)
SELECT t.doc_id, t.source, t.fp
FROM today t
WHERE NOT EXISTS (SELECT 1 FROM yesterday y WHERE y.fp = t.fp)
""",
    tags=("X23", "X2"),
)
def incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup — the daily-ingest question
    "which of today's documents are genuinely new?": today's batch
    anti-joins yesterday's corpus on the normalized-content
    fingerprint, so re-crawled bytes never re-enter the corpus. Here
    the two snapshots are the doc_id parity classes of the documents
    table (deterministic stand-ins for date partitions). One shuffle
    on the 16-byte fingerprint; at 100 TB yesterday's side is a
    fingerprint-only scan (ReadSchema prunes text after the hash) and
    the anti join is the same plan a Bloom-filter pre-pass would
    shortcut."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("fp")
    yesterday = docs.where(F.col("doc_id") % 2 == 0).select(fp)
    today = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "source", fp)
    return today.join(yesterday, "fp", "left_anti").select("doc_id", "source", "fp")


# state = purchases before Jan-10; changes = final week. The gap plus
# the decile value bucket make all three MERGE branches non-empty on
# the synthetic data (users first seen late -> INSERT; same decile ->
# NOOP).
_MERGE_STATE_END = "TIMESTAMP '2024-01-10 00:00:00'"
_MERGE_CHANGES_START = "TIMESTAMP '2024-01-24 00:00:00'"

_MERGE_ORACLE = f"""
WITH state AS (
    SELECT user_id, value
    FROM events WHERE event_type = 'purchase' AND ts < {_MERGE_STATE_END}
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
),
changes AS (
    SELECT user_id, value
    FROM events WHERE event_type = 'purchase' AND ts >= {_MERGE_CHANGES_START}
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
)
SELECT
    CASE WHEN s.user_id IS NULL THEN 'INSERT'
         WHEN CAST(floor(c.value / 10) AS BIGINT)
              <> CAST(floor(s.value / 10) AS BIGINT) THEN 'UPDATE'
         ELSE 'NOOP' END AS action,
    count(*) AS n_keys,
    {{dsum_c}} AS sum_new_value
FROM changes c LEFT JOIN state s ON s.user_id = c.user_id
GROUP BY action
""".format(dsum_c="CAST(SUM(CAST(c.value AS DECIMAL(28,4))) AS DOUBLE)")


@register("merge_changes_classify", oracle=_MERGE_ORACLE, tags=("X33", "W4", "X1", "X5"))
def merge_changes_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (SCD-1 upsert) classification — the change-data-
    capture shape: a per-key LWW state table (purchases before the
    state cutoff) merged with a per-key LWW changes batch (final-week
    purchases), each incoming key classified as INSERT (new key),
    UPDATE (value decile moved) or NOOP (same decile) with per-action
    counts and exact value sums — exactly the matched/not-matched
    branches of SQL MERGE, audited rather than applied so the result
    is a verifiable DataFrame. Plan: two pre-aggregations (map-side
    combinable LWW argmax per key) then ONE equi-join on the key —
    both sides shuffle-partition on user_id, and at 100 TB the state
    side would be the bucketed table so the join is exchange-free."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    state_end = F.lit("2024-01-10 00:00:00").cast("timestamp_ntz")
    changes_start = F.lit("2024-01-24 00:00:00").cast("timestamp_ntz")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))

    def lww(df):
        return df.groupBy("user_id").agg(F.max_by("value", ord_key).alias("value"))

    state = (
        lww(e.where(F.col("ts") < state_end))
        .withColumnRenamed("value", "old_value")
        .withColumn("in_state", F.lit(True))
    )
    changes = lww(e.where(F.col("ts") >= changes_start))
    action = (
        F.when(F.col("in_state").isNull(), F.lit("INSERT"))
        .when(
            F.floor(F.col("value") / 10).cast("bigint")
            != F.floor(F.col("old_value") / 10).cast("bigint"),
            F.lit("UPDATE"),
        )
        .otherwise(F.lit("NOOP"))
    )
    return (
        changes.join(state, "user_id", "left")
        .select(action.alias("action"), "value")
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias(
                "sum_new_value"
            ),
        )
    )


_PREFIX_PROBE = 64  # candidate bucket: first K chars must match exactly


_PREFIX_ORACLE = f"""
WITH d AS (
    SELECT doc_id, text, n_chars,
           substr(text, 1, {_PREFIX_PROBE}) AS probe
    FROM documents
    WHERE n_chars >= {_PREFIX_PROBE}
)
SELECT a.doc_id AS short_id, b.doc_id AS long_id,
       a.n_chars AS short_chars, b.n_chars AS long_chars
FROM d a JOIN d b
  ON b.probe = a.probe
 AND a.n_chars < b.n_chars
 AND substr(b.text, 1, a.n_chars) = a.text
"""


@register("prefix_containment_pairs", oracle=_PREFIX_ORACLE, tags=("X24", "X23"))
def prefix_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate detection: document A is a strict PREFIX
    of document B (the crawl-era failure mode exact hashing misses —
    re-crawls cut at different byte limits — and whole-document
    MinHash under-scores when the length ratio is large). Candidate
    generation is an equi-join on the first {_PREFIX_PROBE} characters
    (any true prefix pair shares them, since shorter docs below the
    probe length are either boilerplate or dropped upstream), so the
    corpus never all-pairs: the probe is the shuffle key, and the full
    prefix check runs only inside a bucket. At 100 TB the probe key
    is as selective as a hash bucket; skew (many docs sharing one
    boilerplate head) is the salted-hot-key situation AQE splits.
    Documents shorter than the probe are EXCLUDED by contract (their
    probe would be their whole text and could never equal a longer
    doc's fixed-width head, so reporting them would need a per-length
    key — the standard trade: near-empty docs are dropped upstream by
    the quality gate anyway)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= _PREFIX_PROBE)
        .select(
            "doc_id",
            "text",
            "n_chars",
            F.substring("text", 1, _PREFIX_PROBE).alias("probe"),
        )
    )
    a = d.select(
        F.col("doc_id").alias("short_id"),
        F.col("text").alias("a_text"),
        F.col("n_chars").alias("short_chars"),
        "probe",
    )
    b = d.select(
        F.col("doc_id").alias("long_id"),
        F.col("text").alias("b_text"),
        F.col("n_chars").alias("long_chars"),
        F.col("probe").alias("b_probe"),
    )
    return (
        a.join(b, (F.col("probe") == F.col("b_probe")))
        .where(
            (F.col("short_chars") < F.col("long_chars"))
            & (
                F.expr("substring(b_text, 1, CAST(short_chars AS INT))")
                == F.col("a_text")
            )
        )
        .select("short_id", "long_id", "short_chars", "long_chars")
    )


@register(
    "dedup_rate_by_source",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT sha256(text)) AS n_distinct,
       CAST(count(*) - count(DISTINCT sha256(text)) AS DOUBLE) / count(*)
           AS dup_rate
FROM documents
GROUP BY source
""",
    tags=("X23", "X6", "quality"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate — the dedup dashboard number
    that decides which crawl/source needs upstream fixing. Content
    hash (sha2-256) as the distinct key: COUNT(DISTINCT hash) per
    source is a two-phase exact distinct aggregate (partial sets
    map-side, merged on the source key); the rate is one double
    division of exact counts. At 100 TB the hash makes the distinct
    key fixed-width regardless of document size."""
    d = load_table(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_distinct"),
        (
            (F.count(F.lit(1)) - F.countDistinct(h)).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


_MINHASH_EST_ERR_ORACLE = f"""
WITH {SQL_MINHASH_CTES},
shd AS (SELECT DISTINCT doc_id, unnest(s) AS sh FROM shs),
sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (SELECT c.a_id, c.b_id, count(*) AS n_inter
          FROM cand c
          JOIN shd a ON a.doc_id = c.a_id
          JOIN shd b ON b.doc_id = c.b_id AND b.sh = a.sh
          GROUP BY 1, 2),
paired AS (
    SELECT c.a_id, c.b_id,
           {_SQL_EST} AS est_jaccard,
           CAST(coalesce(i.n_inter, 0) AS DOUBLE)
               / (za.n + zb.n - coalesce(i.n_inter, 0)) AS exact_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
    JOIN sz za ON za.doc_id = c.a_id
    JOIN sz zb ON zb.doc_id = c.b_id
    LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
)
SELECT a_id, b_id, est_jaccard, exact_jaccard,
       abs(est_jaccard - exact_jaccard) AS abs_err
FROM paired
"""


@register("minhash_estimate_error", oracle=_MINHASH_EST_ERR_ORACLE, tags=("X24", "quality"))
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the MinHash index: for every LSH
    candidate pair, the 16-lane signature estimate side-by-side with
    the EXACT distinct-shingle Jaccard and the absolute error — the
    dashboard a dedup deployment watches to decide whether its lane
    count / band shape still fits the corpus (drift in abs_err = time
    to re-tune, same role ann_recall_eval plays for the ANN index).

    The exact side never goes all-pairs: distinct (doc_id, shingle)
    rows join only THROUGH the bounded candidate set (candidate join →
    per-pair intersection counts), so the extra cost over
    minhash_near_dup is proportional to candidate volume, not corpus
    size², and every exchange keys on doc or shingle hashes. Both
    estimate and exact value are integer-counting ratios — bit-exact
    in any engine — so even the ERROR of an approximate operator
    carries an exact oracle.

    The shingle rows come from doc_shingle_arrays — the SAME builder
    minhash_signatures derives the signatures from, so the estimate
    and its audit can't disagree about the shingle rule."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )
    sigs = minhash_signatures(docs)
    banded = with_bands(sigs)
    left = banded.select(
        F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig"), "band_id", "band_hash"
    )
    right = banded.select(
        F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig"), "band_id", "band_hash"
    )
    cand = (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sig", "b_sig")
        .dropDuplicates(["a_id", "b_id"])
    )
    est = (
        F.size(
            F.filter(F.zip_with("a_sig", "b_sig", lambda a, b: a == b), lambda x: x)
        )
        / F.lit(N_HASHES)
    ).alias("est_jaccard")
    shd = doc_shingle_arrays(docs).select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("sh")
    )
    sz = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.select("a_id", "b_id")
        .join(shd.select(F.col("doc_id").alias("a_id"), "sh"), "a_id")
        .join(shd.select(F.col("doc_id").alias("b_id"), "sh"), ["b_id", "sh"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        cand.select("a_id", "b_id", est)
        .join(sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a")), "a_id")
        .join(sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("n_b")), "b_id")
        .join(inter, ["a_id", "b_id"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .withColumn(
            "exact_jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return scored.select(
        "a_id",
        "b_id",
        "est_jaccard",
        "exact_jaccard",
        F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).alias("abs_err"),
    )
