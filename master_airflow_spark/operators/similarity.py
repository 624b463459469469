"""Similarity search over embeddings (SURVEY.md §2.7 X25).

Three families answer the same top-k question for one bounded query
set (_query_subset):
- exact: ``cosine_topk`` — brute force. The query matrix ships as a
  broadcast and the corpus streams through a numpy kernel; cost is
  |Q|×|corpus|.
- LSH: ``lsh_bucketed_ann`` — random-hyperplane buckets (SimHash for
  vectors); only pairs that share a bucket in some table are scored.
  The hyperplanes are hash-derived constants, so the whole chain
  replays in DuckDB and carries an exact oracle.
- filter-and-refine ANN: ``_ann_topk`` — one streaming pass behind IVF,
  PQ and IVF-PQ. Coarse cells filter which (query, row) pairs are
  scored; the score is exact (IVF) or product-quantized ADC lookups
  (PQ, IVF-PQ), and PQ candidates are refined by an exact re-rank.
  Each configuration has an ``*_ann_exhaustive`` twin that provably
  equals cosine_topk and carries its oracle; ``*_recall_eval`` measure
  the approximate ones.
The module also holds the near-duplicate pair searches (exact
all-pairs and LSH-verified) and SemDeDup.

Float determinism: elements are cast float→double (exact) before
multiply; both Spark's ``aggregate`` fold and DuckDB's ``list_sum``
reduce left-to-right, verified bit-identical — so the oracle hash
matches without any rounding fudge.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from master_airflow_spark.catalog import load_table, table_fingerprint, table_path
from master_airflow_spark.registry import register, track_broadcast

QUERY_STRIDE = 50  # vec_id % 50 == 0 → deterministic query subset
MAX_QUERIES = 1024  # hard cap on the broadcast query side (bounds driver memory)
TOP_K = 5
NEAR_DUP_BLOCKS = 8  # block count for the all-pairs self-join
# all-pairs strategy pick: corpora whose packed f64 matrix fits this
# budget take the broadcast-kernel plan (one scan, no shuffle); larger
# corpora take the blocked cogroup plan. 32 MiB ≈ 64k rows at dim 64 —
# the x50 replica (100k rows) already exceeds it, so the scale probe
# exercises the blocked plan while the bench SF runs broadcast.
NEAR_DUP_BROADCAST_MAX_BYTES = 32 << 20
# sf_dir -> (corpus fingerprint, row count, dim) probe results — the
# probe is two driver-blocking jobs, so repeated invocations on the
# same corpus (bench reps, certification loops) reuse the first
# answer. dim may be None (never probed because the count already
# ruled broadcasting out). The fingerprint (embeddings parquet part
# stats, computed driver-side from os.stat — no Spark job) keys out
# regenerated corpora at a stable path (round-10 ADVICE): a replaced
# /tmp replica REPLACES the entry — bounded dict, one entry per
# sf_dir — instead of steering a now-too-large corpus onto the
# driver-collect broadcast plan.
_NEAR_DUP_PROBE_CACHE: dict[str, tuple[tuple, int, int | None]] = {}


DIM = 64  # embedding dimensionality of the driver tables


def dot(a: str | Column, b: str | Column) -> Column:
    """Exact double-precision dot product of two float-array columns:
    sequential left-to-right fold, bit-identical to DuckDB's
    list_sum(list_transform(...)). Column-expression form — used where
    the pair count is already pruned (LSH candidates); the brute-force
    all-pairs queries use the numpy kernel below instead."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


_SQL_NORM = (
    "sqrt(list_sum(list_transform({e}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


# -- numpy block kernel ------------------------------------------------------
#
# Brute-force similarity is dot-product bound: 2M pairs × 64 dims at
# sf0.1. Spark's higher-order fold is interpreted per element (~12 µs/
# pair); the kernel below streams corpus partitions through an Arrow
# batch and accumulates the dot products dimension-by-dimension with
# numpy:   acc += C[:, i] * q[i]   for i = 0..dim-1
# Each per-pair value is produced by the IDENTICAL left-to-right
# IEEE-754 reduction as the sequential fold (numpy mul/add ufuncs are
# elementwise, unfused), so results remain bit-identical to the DuckDB
# oracle while running at C speed, vectorized across pairs.


def _to_matrix(series) -> "np.ndarray":
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float32) for v in series]).astype(
        np.float64  # float32→float64 widening is exact
    )


def _seq_norms(M: "np.ndarray") -> "np.ndarray":
    """sqrt of the dim-ordered self-dot — same fold order as _SQL_NORM.
    Iterates contiguous transposed rows (r15): identical per-element
    op order, ~2× fewer cache misses than strided column slices."""
    import numpy as np

    Mt = np.ascontiguousarray(M.T)
    acc = np.zeros(M.shape[0])
    for i in range(Mt.shape[0]):
        acc += Mt[i] * Mt[i]
    return np.sqrt(acc)


def _pairs_kernel(
    corpus: DataFrame,
    bc_queries,  # SparkContext.broadcast of (q_ids ndarray, Q ndarray)
    *,
    top_k: int | None,
    threshold: float | None,
    upper_triangle: bool,
) -> DataFrame:
    """Stream corpus batches × broadcast query matrix → (q_id, n_id,
    cosine) pairs. The query matrix ships as a SparkContext broadcast
    (one torrent transfer per executor, NOT per-task closure
    serialization) and is hard-capped at MAX_QUERIES rows, so driver
    and executor memory stay bounded no matter the corpus size.
    Per-batch pruning keeps only the top_k best neighbors per query (a
    superset of the global top-k) and/or rows above the threshold, so
    the shuffle after the kernel carries O(k·|Q|·partitions) rows, not
    |corpus|·|Q|."""
    import numpy as np
    import pandas as pd

    def run(batches):
        q_ids, Q = bc_queries.value
        qn = _seq_norms(Q)
        dim = Q.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            C = _to_matrix(pdf["embedding"])
            ids = pdf["vec_id"].to_numpy()
            acc = np.zeros((C.shape[0], Q.shape[0]))
            # r15: iterate transposed CONTIGUOUS rows with a reused
            # out-buffer — per element still (product, then +=) in the
            # same sequential-over-dim order, so the sum stays bit-exact
            # vs the oracle's list fold (validated strictly equal);
            # the old strided column slices cost ~15% more wall.
            tmp = np.empty_like(acc)
            Ct = np.ascontiguousarray(C.T)
            Qt = np.ascontiguousarray(Q.T)
            for i in range(dim):
                np.multiply.outer(Ct[i], Qt[i], out=tmp)
                np.add(acc, tmp, out=acc)
            cos = acc / (_seq_norms(C)[:, None] * qn[None, :])
            if top_k is not None and threshold is None and not upper_triangle:
                # r15 fast path (the cosine_topk config): per-query
                # top-k row SELECTION via lexsort — identical ordering
                # rule to the sort_values path below ((cosine desc,
                # n_id asc), self-pairs dropped before the cut), no
                # dense |batch|×|Q| pair frame, no corpus-sized pandas
                # sort. Values are copied, never recomputed. Measured:
                # offline batch body 36ms → 4ms (sf0.1 batch); end to
                # end the cosine_topk kernel's summed job time drops
                # 451 → 404 ms/rep (wall stays driver-gap-dominated
                # at bench SF; the win scales with corpus size).
                sel_n, sel_q = [], []
                for qi in range(Q.shape[0]):
                    order = np.lexsort((ids, -cos[:, qi]))
                    keep = order[ids[order] != q_ids[qi]][:top_k]
                    sel_n.append(keep)
                    sel_q.append(np.full(len(keep), qi, dtype=np.int64))
                n_idx = np.concatenate(sel_n) if sel_n else np.empty(0, np.int64)
                q_idx = np.concatenate(sel_q) if sel_q else np.empty(0, np.int64)
                yield pd.DataFrame(
                    {
                        "q_id": q_ids[q_idx],
                        "n_id": ids[n_idx],
                        "cosine": cos[n_idx, q_idx],
                    }
                )
                continue
            n_idx, q_idx = np.nonzero(np.ones_like(cos, dtype=bool))
            out = pd.DataFrame(
                {
                    "q_id": q_ids[q_idx],
                    "n_id": ids[n_idx],
                    "cosine": cos[n_idx, q_idx],
                }
            )
            out = out[out.q_id != out.n_id]
            if upper_triangle:
                out = out[out.q_id < out.n_id]
            if threshold is not None:
                out = out[out.cosine >= threshold]
            if top_k is not None and len(out):
                out = (
                    out.sort_values(
                        ["q_id", "cosine", "n_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("q_id", sort=False)
                    .head(top_k)
                )
            yield out

    return corpus.select("vec_id", "embedding").mapInPandas(
        run, "q_id long, n_id long, cosine double"
    )


# Brute-force cosine top-k ground truth over the bounded query set —
# the oracle for cosine_topk AND for the three *_ann_exhaustive
# configurations of _ann_topk (which provably degenerate to the same
# result).
_COSINE_TOPK_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding, {_SQL_NORM.format(e='embedding')} AS nrm
    FROM embeddings
),
q AS (SELECT * FROM e WHERE vec_id % {QUERY_STRIDE} = 0
      ORDER BY vec_id LIMIT {MAX_QUERIES}),
pairs AS (
    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
           {_SQL_DOT.format(a='q.embedding', b='e.embedding')} / (q.nrm * e.nrm)
               AS cosine
    FROM q, e
    WHERE e.vec_id <> q.vec_id
)
SELECT q_id, n_id, cosine, rn
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, n_id) AS rn
      FROM pairs)
WHERE rn <= {TOP_K}
"""


@register(
    "cosine_topk",
    oracle=_COSINE_TOPK_ORACLE,
    tags=("X25",),
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: the query set (vec_id % 50 == 0, first
    MAX_QUERIES by vec_id — a hard bound, so the driver never holds
    data that scales with the corpus) against the full corpus. The
    query matrix ships as an executor broadcast; the corpus streams
    through in Arrow batches with per-batch top-k pruning, so the
    post-kernel shuffle carries only k·|Q| rows per partition; a
    window then takes the global top-k. The corpus itself never
    shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    bc = _broadcast_queries(spark, _query_subset(e))
    pairs = _pairs_kernel(e, bc, top_k=TOP_K, threshold=None, upper_triangle=False)
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= TOP_K)


def _collect_queries(q_df: DataFrame):
    """Materialize a BOUNDED query DataFrame (caller must cap it, e.g.
    ``.limit(MAX_QUERIES)``) into (q_ids, Q-matrix) numpy form. The
    only driver-side materialization in this module —
    O(MAX_QUERIES·dim), independent of corpus size."""
    import numpy as np

    rows = q_df.collect()
    q_ids = np.array([r[0] for r in rows])
    Q = np.stack([np.asarray(r[1], dtype=np.float32) for r in rows]).astype(np.float64)
    return q_ids, Q


def _broadcast_queries(spark: SparkSession, q_df: DataFrame):
    """_collect_queries as a SparkContext broadcast. Tracked so
    release_caches() frees it once the query result is consumed —
    repeated runs in a long-lived session would otherwise accumulate
    broadcast blocks on the executors."""
    return track_broadcast(spark.sparkContext.broadcast(_collect_queries(q_df)))


def _query_subset(e: DataFrame) -> DataFrame:
    """The bounded deterministic query side every ANN plan shares:
    vec_id % QUERY_STRIDE == 0, first MAX_QUERIES by vec_id — a hard
    cap, so the driver never holds data that scales with the corpus.
    ONE definition (round-14 review: five hand-copied filter blocks)
    keeps the ground truth and every index answering the same
    queries."""
    return (
        e.where(F.col("vec_id") % QUERY_STRIDE == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(MAX_QUERIES)
    )


def _cell_to_queries(Q, C, n_probe: int) -> dict[int, "np.ndarray"]:
    """Each query probes its n_probe nearest coarse cells (stable
    argsort, deterministic); this is that assignment INVERTED: cell id
    → ascending int array of the query POSITIONS probing it. Shipped
    in the _ann_topk broadcast so probe pruning happens INSIDE the
    scoring kernel — no (query, cell-member) row explosion ever
    materializes."""
    import numpy as np

    qd2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(qd2, axis=1, kind="stable")[:, :n_probe]
    return {
        int(c): np.nonzero((probes == c).any(axis=1))[0] for c in np.unique(probes)
    }


def _exact_rerank(e: DataFrame, cand: DataFrame, q_ids, Q) -> DataFrame:
    """Exact cosine re-rank of (q_id, n_id) candidates to the global
    top-TOP_K: join candidates back to corpus embeddings and a
    broadcast query-matrix frame, score with _pair_cosine_kernel (the
    oracle-bit-identical fold), total-order window (cosine desc, n_id).
    The refine step of every PQ-coded configuration of _ann_topk;
    exact-scored IVF needs no re-rank join."""
    spark = e.sparkSession
    qmat = F.broadcast(
        spark.createDataFrame(
            [(int(i), [float(x) for x in Q[n]]) for n, i in enumerate(q_ids)],
            "q_id long, q_emb array<double>",
        )
    )
    pairs = (
        cand.select("q_id", "n_id")
        .join(
            e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("b_emb")),
            "n_id",
        )
        .join(qmat, "q_id")
        .select("q_id", "n_id", F.col("q_emb").alias("a_emb"), "b_emb")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        _pair_cosine_kernel(pairs)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
    )


# -- LSH-bucketed ANN (scale path) ------------------------------------------

# Index strength (round-11 retune, driven by the measured corpus): the
# synthetic embeddings are near-isotropic — true top-5 neighbors sit at
# cosine ≈ 0.27-0.44 while random pairs sit at 0 ± 0.12 — so per-table
# collision probability for a true neighbor (p = 1-θ/π ≈ 0.61 at
# cosine 0.35) barely beats random (0.5). More, narrower tables buy
# recall without widening the candidate set: 6 planes × 40 tables
# measures recall@5 = 0.88 at sf0.01 / 0.94 at sf0.1 (vs 0.82 / 0.705
# under the old 4×8) at a near-identical candidate fraction (0.47 vs
# 0.41 of the corpus). Banding cost is a numpy matmul (dim × T·P), and
# the oracle replays the same planes, so both engines pay the same
# index build.
N_PLANES = 6  # bits per table (64 buckets/table)
N_TABLES = 40  # candidate = same bucket in ANY table


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-gaussian hyperplane: component j derives
    from a 64-bit integer mix (splitmix64) of (table, plane, j) →
    uniform in [-1,1). Python-side constants — shipped into the plan
    as literals, no RNG."""
    comps = []
    for j in range(dim):
        z = ((table * 7_368_787 + plane) * 1_000_003 + j) & 0xFFFFFFFFFFFFFFFF
        z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        z = (z ^ (z >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        comps.append(z / 2**63 - 1.0)
    return comps


def lsh_bucket(emb: str | Column, dim: int, table: int) -> Column:
    """Sign pattern of N_PLANES hyperplane projections → int bucket."""
    bits = []
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(c) for c in _hyperplane(dim, table, p)])
        proj = F.aggregate(
            F.zip_with(emb, plane, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


@functools.lru_cache(maxsize=None)
def _plane_matrix(dim: int, tables: int, planes: int, ns: int) -> "np.ndarray":
    """(dim, tables*planes) hyperplane matrix of one LSH index, built
    once per process: table t of the index is _hyperplane table ns + t,
    so indexes in disjoint namespaces stay decorrelated."""
    import numpy as np

    H = np.array(
        [_hyperplane(dim, ns + t, p) for t in range(tables) for p in range(planes)]
    ).T
    H.flags.writeable = False
    return H


def _bucket_matrix(
    A: "np.ndarray", tables: int = N_TABLES, planes: int = N_PLANES, ns: int = 0
) -> "np.ndarray":
    """(n, dim) float64 matrix → (n, tables) int bucket ids of the LSH
    index (tables, planes, ns), folding projections dimension-by-
    dimension (acc += A[:,i] * H[i,:]) — the same left-to-right
    reduction as lsh_bucket / the DuckDB oracle, so driver-side and
    executor-side callers produce identical buckets. The defaults are
    the ANN index; the near-dup bands pass their own (tables, planes,
    ns)."""
    import numpy as np

    H = _plane_matrix(A.shape[1], tables, planes, ns)
    weights = np.array([1 << p for p in range(planes)])
    acc = np.zeros((A.shape[0], H.shape[1]))
    for i in range(A.shape[1]):
        acc += A[:, i][:, None] * H[i, :][None, :]
    bits = (acc >= 0).reshape(A.shape[0], tables, planes)
    return (bits * weights[None, None, :]).sum(axis=2)


def _sql_proj(table: int, plane: int) -> str:
    """DuckDB projection of `embedding` onto one deterministic
    hyperplane — literal components, same left-to-right fold as
    lsh_bucket's aggregate, so the sign (= the bucket bit) matches
    Spark bit-for-bit."""
    comps = ", ".join(repr(c) for c in _hyperplane(DIM, table, plane))
    return (
        f"list_sum(list_transform(list_zip(embedding, [{comps}]), "
        "p -> CAST(p[1] AS DOUBLE) * p[2]))"
    )


def _sql_bucket(table: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_sql_proj(table, p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"({bits})"


def _lsh_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id, {_sql_bucket(t)} AS bucket FROM embeddings"
        for t in range(N_TABLES)
    )
    return f"""
WITH e AS (
    SELECT vec_id, embedding, {_SQL_NORM.format(e='embedding')} AS nrm
    FROM embeddings
),
q AS (SELECT vec_id FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
      ORDER BY vec_id LIMIT {MAX_QUERIES}),
b AS ({bands}),
qb AS (SELECT b.vec_id AS q_id, b.table_id, b.bucket
       FROM b JOIN q ON q.vec_id = b.vec_id),
cand AS (SELECT DISTINCT qb.q_id, b.vec_id AS n_id
         FROM qb JOIN b ON b.table_id = qb.table_id AND b.bucket = qb.bucket
         WHERE b.vec_id <> qb.q_id),
scored AS (
    SELECT c.q_id, c.n_id,
           {_SQL_DOT.format(a='qe.embedding', b='ne.embedding')}
               / (qe.nrm * ne.nrm) AS cosine
    FROM cand c
    JOIN e qe ON qe.vec_id = c.q_id
    JOIN e ne ON ne.vec_id = c.n_id
)
SELECT q_id, n_id, cosine, rn
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, n_id) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


def _pair_cosine_kernel(pairs: DataFrame) -> DataFrame:
    """Row-aligned cosine over candidate PAIRS: input rows carry both
    embeddings (columns a_emb, b_emb); the kernel stacks each Arrow
    batch into matrices and folds dimension-by-dimension
    (acc += A[:,i]*B[:,i]) — the same left-to-right reduction as the
    column-expression dot()/_SQL_DOT, so oracle values stay
    bit-identical — at numpy speed instead of the interpreted
    per-element fold (~100× on re-rank-heavy ANN plans)."""
    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _to_matrix(pdf["a_emb"])
            B = _to_matrix(pdf["b_emb"])
            acc = np.zeros(A.shape[0])
            for i in range(A.shape[1]):
                acc += A[:, i] * B[:, i]
            cos = acc / (_seq_norms(A) * _seq_norms(B))
            yield pd.DataFrame(
                {"q_id": pdf["q_id"], "n_id": pdf["n_id"], "cosine": cos}
            )

    return pairs.select("q_id", "n_id", "a_emb", "b_emb").mapInPandas(
        run, "q_id long, n_id long, cosine double"
    )


@register("lsh_bucketed_ann", oracle=_lsh_oracle(), tags=("X25",))
def lsh_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH: queries join
    candidates sharing a (table_id, bucket) in any of N_TABLES tables,
    candidates dedup, then exact cosine re-rank. Recall < 1 vs the
    exact ground truth by design (tests/test_similarity.py pins it
    against cosine_topk), but the pipeline itself is deterministic —
    the hyperplanes are hash-derived constants — so the ENTIRE
    bucket → candidate → re-rank chain replays exactly in DuckDB and
    carries an exact oracle. At 100 TB (table_id, bucket) becomes the
    partition key so candidate generation is a co-located join.

    One corpus pass, one tiny shuffle, zero joins. The bounded query
    set ships to executors as a broadcast (ids, embedding matrix,
    per-table bucket row — buckets computed driver-side with the same
    numpy fold the kernel uses, so they agree bit-for-bit). The
    corpus then streams through a single Arrow kernel that (a) bands
    each row, (b) masks which queries it collides with in ANY table —
    multi-table dedup is a boolean any(), so no dropDuplicates
    exchange — and (c) folds the exact cosine for COLLIDING pairs
    only (the LSH advantage: non-candidates never pay the dim-length
    dot product), pruning to the per-query top-k within each batch.
    The final window merges ≤ k·|Q| rows per batch — the only shuffle
    in the plan, and its volume is bounded by the query cap, not the
    corpus. Same scale shape as cosine_topk, minus the all-pairs
    scoring."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_ids_v, Q = _collect_queries(_query_subset(e))
    bcq = track_broadcast(
        spark.sparkContext.broadcast((q_ids_v, Q, _bucket_matrix(Q)))
    )

    def scan(batches):
        q_ids, Qm, qb = bcq.value
        qn = _seq_norms(Qm)
        for pdf in batches:
            if not len(pdf):
                continue
            A = _to_matrix(pdf["embedding"])
            vid = pdf["vec_id"].to_numpy()
            bk = _bucket_matrix(A)
            collide = np.zeros((len(pdf), len(q_ids)), dtype=bool)
            for t in range(N_TABLES):
                collide |= bk[:, t, None] == qb[None, :, t]
            collide &= vid[:, None] != q_ids[None, :]
            ii, jj = np.nonzero(collide)
            if not len(ii):
                continue
            acc = np.zeros(len(ii))
            for i in range(A.shape[1]):  # dim-ordered fold == _SQL_DOT
                acc += A[ii, i] * Qm[jj, i]
            cos = acc / (_seq_norms(A)[ii] * qn[jj])
            out = pd.DataFrame(
                {"q_id": q_ids[jj], "n_id": vid[ii], "cosine": cos}
            ).sort_values(
                ["q_id", "cosine", "n_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            yield out.groupby("q_id", sort=False).head(TOP_K)

    pairs = e.mapInPandas(scan, "q_id long, n_id long, cosine double")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= TOP_K)


# -- Filter-and-refine ANN: IVF, PQ and IVF-PQ ------------------------------
#
# One pipeline, three configurations of _ann_topk (REPOSE's filter then
# refine; one index whose probe width varies, not one index per
# configuration):
# - FILTER: a deterministic k-means coarse quantizer splits the corpus
#   into cells and each query scores only the members of its n_probe
#   nearest cells — the searched fraction. At 100 TB the cell id is the
#   partition key, so the probed-cell union partition-prunes the scan.
# - SCORE: either the exact dimension-ordered fold (IVF, bit-identical
#   to cosine_topk) or ADC over product-quantized residual codes (PQ,
#   IVF-PQ; Jegou et al., TPAMI'11): each vector is stored as PQ_M
#   small ints (4-bit codes at PQ_K = 16, a 64x cut vs float32 dim 64),
#   and its approximate cosine is PQ_M table lookups per query.
# - REFINE: ADC scores are approximate, so the top PQ_RERANK candidates
#   per query are re-scored exactly (_exact_rerank).
#
# ADC algebra: with x̂ = c + r̂ (cell centroid plus quantized residual)
# and subspaces partitioning the dims exactly,
#   <q, x̂>   = <q, c>                       (per (query, cell) scalar)
#            + Σ_m T[q, m, code_m]          (query-residual tables)
#   ||x̂||²  = ||c||²                       (per-cell scalar)
#            + 2·Σ_m CC[cell, m, code_m]    (centroid-residual tables)
#            + Σ_m cn2[m, code_m]           (residual-norm tables)
# so the approximate cosine of the RECONSTRUCTED vector is exact in the
# lookups. Flat PQ is the one-cell case with a ZERO centroid: x - 0.0
# is x exactly, and <q, c>, CC and ||c||² are exact zeros in the sums.

N_CELLS = 16
KMEANS_ITERS = 3
# Probe width (round-11 retune): on the near-isotropic synthetic
# embeddings the coarse cells carry weak signal — recall tracks the
# probed corpus fraction (measured at sf0.01: n_probe 2/3/4/6/8 →
# recall@5 0.42/0.52/0.56/0.74/0.82). 6 of 16 cells (37.5% of the
# corpus) lands recall ≈ 0.74, about 2× better than a random scan of
# the same fraction — the honest ceiling for IVF on clusterless data;
# real embedding corpora (which cluster) probe far fewer cells for the
# same recall. The LSH index (above) is the stronger ANN path here.
N_PROBE = 6
IVF_SAMPLE = 4096  # k-means training sample cap — bounds driver memory
PQ_M = 8  # subspaces (dim 64 -> 8 dims each)
PQ_K = 16  # centroids per subspace -> 4-bit codes
# Re-rank width (measured sweep, round 14, flat PQ): recall@5 vs R on
# the near-isotropic synthetic corpus —
#   sf0.01: R=32/64/128/256 -> 0.64/0.76/0.92/1.00
#   sf0.1:  R=32/64/128/256 -> 0.47/0.58/0.705/0.835
# R=128 lands IVF-grade recall (0.92/0.705 vs IVF's 0.74/0.775 at
# N_PROBE=6) while paying the exact dot product on 6.4% of the sf0.1
# corpus vs IVF's 37.5% probed fraction — the ADC table lookups do
# the other 93.6%. Same caveat as IVF: clusterless synthetic vectors
# are ANN's worst case; clustered real corpora need smaller R.
PQ_RERANK = 128  # ADC candidates per query kept for the exact re-rank


def _nearest(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Row index of each row of X's nearest row of C (squared L2,
    first index on ties): coarse-cell assignment and PQ encoding."""
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _lloyd(X: "np.ndarray", k: int) -> "np.ndarray":
    """Deterministic sampled Lloyd's k-means: fixed seeding (every
    (n/k)-th sample row), fixed KMEANS_ITERS iteration count, no RNG —
    same centroids every run. Degrades gracefully on tiny inputs
    (fewer rows than k → fewer centroids), so callers must size
    downstream structures from the RETURNED shape, not from k. ONE
    implementation behind the coarse quantizer, the PQ subspace
    quantizers and SemDeDup's cells."""
    import numpy as np

    stride = max(1, len(X) // k)
    cents = [X[i] for i in range(0, len(X), stride)[:k]][:k]
    for _ in range(KMEANS_ITERS):
        C = np.stack(cents)
        assign = _nearest(X, C)
        cents = [
            X[assign == c].mean(axis=0) if (assign == c).any() else C[c]
            for c in range(len(cents))
        ]
    return np.stack(cents)


def _quantizer_sample(e: DataFrame) -> "np.ndarray":
    """The bounded deterministic training sample every quantizer draws
    from: first IVF_SAMPLE vectors by vec_id — at most
    O(IVF_SAMPLE·dim) on the driver no matter the corpus size. A
    quantizer trained on a few thousand points is the standard recipe
    (FAISS trains on a sample too); the full corpus is only ever
    touched by the distributed assignment/encode pass."""
    import numpy as np

    rows = (
        e.select("vec_id", "embedding").orderBy("vec_id").limit(IVF_SAMPLE).collect()
    )
    return np.stack(
        [np.asarray(r.embedding, dtype=np.float32) for r in rows]
    ).astype(np.float64)


def _quantizers(X: "np.ndarray", n_cells: int, pq: bool):
    """(C, books) trained by _lloyd on the sample X: coarse centroids C
    (n_cells_eff, dim) and, when pq, residual codebooks
    (PQ_M, k_eff, dim // PQ_M) — None otherwise. n_cells == 1 is flat
    PQ: one zero centroid, so the residuals are X itself. k_eff ==
    PQ_K except on corpora smaller than PQ_K, where every consumer
    sizes itself from the returned shape (tiny corpora degrade to
    coarser codes instead of crashing)."""
    import numpy as np

    dim = X.shape[1]
    C = _lloyd(X, n_cells) if n_cells > 1 else np.zeros((1, dim))
    if not pq:
        return C, None
    if dim % PQ_M:
        raise ValueError(f"embedding dim {dim} not divisible by PQ_M={PQ_M}")
    dsub = dim // PQ_M
    R = X - C[_nearest(X, C)]
    return C, np.stack(
        [_lloyd(R[:, m * dsub : (m + 1) * dsub], PQ_K) for m in range(PQ_M)]
    )


def _ann_topk(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int,
    n_probe: int,
    pq: bool,
    rerank: int | None,
) -> DataFrame:
    """The ANN pipeline (see the section comment). One streaming
    mapInPandas pass over the corpus; per Arrow batch it
    1. assigns each row to its nearest coarse cell,
    2. when pq, encodes the row's residual inline (no encode pass),
    3. scores each cell group against only the queries probing it (the
       inverted _cell_to_queries map, shipped in the one broadcast):
       the exact fold for IVF, the ADC lookup algebra for PQ codes,
    4. self-excludes and cuts each query to its top W under the total
       order (score desc, n_id asc), then cuts the whole batch again.
    W is TOP_K for IVF (its scores are already exact) and rerank for
    PQ; rerank=None keeps every candidate. A global window then takes
    the top W — valid because any global top-W row is in its batch's
    top W — and PQ candidates go to _exact_rerank. The corpus never
    shuffles; the exchange carries at most W·|Q| rows per batch.

    Exhaustive anchors: with n_probe = n_cells every query scores every
    row, so IVF computes brute-force cosine top-k with cosine_topk's
    exact arithmetic, and PQ with rerank=None re-ranks every row
    exactly — either way the result PROVABLY equals cosine_topk."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    C, books = _quantizers(_quantizer_sample(e), n_cells, pq)
    q_ids, Q = _collect_queries(_query_subset(e))
    width = rerank if pq else TOP_K
    tables = None
    if pq:
        dsub = books.shape[2]
        tables = (
            np.einsum("qmd,mkd->qmk", Q.reshape(len(Q), PQ_M, dsub), books),  # T
            Q @ C.T,  # <q, c>
            np.einsum("cmd,mkd->cmk", C.reshape(len(C), PQ_M, dsub), books),  # CC
            (books**2).sum(axis=2),  # cn2
            (C**2).sum(axis=1),  # ||c||²
        )
        qn = np.sqrt((Q**2).sum(axis=1))
    else:
        qn = _seq_norms(Q)
    bc = track_broadcast(
        spark.sparkContext.broadcast(
            (q_ids, Q, qn, C, books, tables, _cell_to_queries(Q, C, n_probe))
        )
    )

    def run(batches):
        q_ids, Q, qn, C, books, tables, cell_to_q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _to_matrix(pdf["embedding"])
            ids = pdf["vec_id"].to_numpy()
            cell = _nearest(X, C)
            if pq:
                T, qc, CC, cn2, c2 = tables
                R = X - C[cell]
                codes = np.stack(
                    [
                        _nearest(R[:, m * dsub : (m + 1) * dsub], books[m])
                        for m in range(PQ_M)
                    ],
                    axis=1,
                )
            else:
                xn = _seq_norms(X)
            qs, ns, ss = [], [], []
            for cv in np.unique(cell):
                qidx = cell_to_q.get(int(cv))
                if qidx is None:  # cell probed by no query
                    continue
                rows = np.nonzero(cell == cv)[0]
                if pq:
                    # (probing queries × rows) dot block; the norm
                    # terms are per row (query-independent)
                    S = np.repeat(qc[qidx, cv][:, None], len(rows), axis=1)
                    n2 = np.full(len(rows), c2[cv])
                    for m in range(PQ_M):
                        code = codes[rows, m]
                        S += T[qidx[:, None], m, code[None, :]]
                        n2 += 2.0 * CC[cv, m, code] + cn2[m, code]
                    S /= np.sqrt(np.maximum(n2, 1e-30))[None, :] * qn[qidx][:, None]
                else:
                    Qp, Xr = Q[qidx], X[rows]
                    S = np.zeros((len(qidx), len(rows)))
                    for i in range(Q.shape[1]):
                        # in-place += keeps the sequential-over-dim order
                        # (bit-exact vs the oracle's list fold)
                        S += Qp[:, i : i + 1] * Xr[:, i][None, :]
                    S /= qn[qidx][:, None] * xn[rows][None, :]
                v = ids[rows]
                self_q = q_ids[qidx][:, None]
                if width is None:
                    qi, ni = np.nonzero(v[None, :] != self_q)
                else:
                    # per-query (score desc, n_id asc); one extra slot
                    # covers the dropped self-pair
                    order = np.lexsort((np.broadcast_to(v, S.shape), -S))
                    order = order[:, : width + 1]
                    keep = v[order] != self_q
                    keep &= np.cumsum(keep, axis=1) <= width
                    qi, pos = np.nonzero(keep)
                    ni = order[qi, pos]
                qs.append(qidx[qi])
                ns.append(v[ni])
                ss.append(S[qi, ni])
            if not qs:
                continue
            q, n, s = (np.concatenate(a) for a in (qs, ns, ss))
            if width is not None:
                # per-batch cut across cell groups, same total order
                o = np.lexsort((n, -s, q))
                q, n, s = q[o], n[o], s[o]
                keep = np.arange(len(q)) - np.searchsorted(q, q) < width
                q, n, s = q[keep], n[keep], s[keep]
            yield pd.DataFrame({"q_id": q_ids[q], "n_id": n, "cosine": s})

    pairs = e.select("vec_id", "embedding").mapInPandas(
        run, "q_id long, n_id long, cosine double"
    )
    if width is not None:
        w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
        pairs = pairs.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= width
        )
    return _exact_rerank(e, pairs, q_ids, Q) if pq else pairs


@register("ivf_ann_topk", oracle=None, tags=("X25",))
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF: each query is scored EXACTLY against the members of its
    N_PROBE nearest of N_CELLS cells (~N_PROBE/N_CELLS of the corpus).
    Rows-only (recall < 1 by design); ivf_recall_eval measures it and
    ivf_ann_exhaustive certifies the same machinery."""
    return _ann_topk(spark, sf_dir, N_CELLS, N_PROBE, False, None)


@register("ivf_ann_exhaustive", oracle=_COSINE_TOPK_ORACLE, tags=("X25",))
def ivf_ann_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with every cell probed: provably brute-force cosine top-k,
    so it carries cosine_topk's oracle and certifies the quantizer,
    cell assignment, probe map and exact-scoring fold under the
    oracle hash-diff."""
    return _ann_topk(spark, sf_dir, N_CELLS, N_CELLS, False, None)


@register("ivf_recall_eval", oracle=None, tags=("X25", "quality"))
def ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of ivf_ann_topk vs the exact ground truth
    (_recall_eval). Deterministic end to end, but the quantizer is
    iterative (not ANSI-SQL-expressible), so rows-only; the floors live
    in tests/test_similarity.py and SCALE.md."""
    return _recall_eval(cosine_topk(spark, sf_dir), ivf_ann_topk(spark, sf_dir))


@register("pq_ann_topk", oracle=None, tags=("X25",))
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat PQ: ADC top-PQ_RERANK candidates per query over the whole
    corpus, exact re-rank to top-k. Rows-only (recall < 1 by design);
    pq_recall_eval measures it and pq_ann_exhaustive certifies the same
    machinery."""
    return _ann_topk(spark, sf_dir, 1, 1, True, PQ_RERANK)


@register("pq_ann_exhaustive", oracle=_COSINE_TOPK_ORACLE, tags=("X25",))
def pq_ann_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat PQ with every row kept as a candidate: the exact re-rank
    provably returns brute-force cosine top-k, certifying codebooks,
    encoding, ADC lookups and the re-rank under the oracle
    hash-diff."""
    return _ann_topk(spark, sf_dir, 1, 1, True, None)


@register("pq_recall_eval", oracle=None, tags=("X25", "quality"))
def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of pq_ann_topk vs the exact ground truth
    (_recall_eval; rows-only, pytest floor in tests/test_similarity.py)."""
    return _recall_eval(cosine_topk(spark, sf_dir), pq_ann_topk(spark, sf_dir))


@register("ivfpq_ann_topk", oracle=None, tags=("X25",))
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the FAISS-style composed index: probe N_PROBE cells,
    ADC-score their members' residual codes, exact re-rank of the top
    PQ_RERANK. Rows-only; ivfpq_recall_eval measures it and
    ivfpq_ann_exhaustive certifies the same machinery."""
    return _ann_topk(spark, sf_dir, N_CELLS, N_PROBE, True, PQ_RERANK)


@register("ivfpq_ann_exhaustive", oracle=_COSINE_TOPK_ORACLE, tags=("X25",))
def ivfpq_ann_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with every cell probed and every candidate re-ranked:
    provably brute-force cosine top-k, certifying the composed
    machinery (coarse assign, residual encode, probe map, per-cell
    ADC algebra, re-rank)."""
    return _ann_topk(spark, sf_dir, N_CELLS, N_CELLS, True, None)


@register("ivfpq_recall_eval", oracle=None, tags=("X25", "quality"))
def ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of ivfpq_ann_topk vs the exact ground truth
    (_recall_eval; rows-only, pytest floor in tests/test_similarity.py)."""
    return _recall_eval(cosine_topk(spark, sf_dir), ivfpq_ann_topk(spark, sf_dir))


def _threshold_pair_chunks(pdf, Bm, b_norms, b_ids):
    """Yield (a_id, b_id, cosine) frames for pdf's vectors × matrix Bm,
    keeping pairs with cosine ≥ 0.95. ONE implementation shared by
    both embedding_near_dup plans (r9 review: the broadcast and
    blocked kernels had hand-duplicated copies of this block, and the
    cross-plan bit-equality contract rested on them staying in
    lockstep). Rows are chunked so each dim-iteration temp
    (rows×|B| doubles) stays bounded/cache-resident (~16 MB at the
    2M-element cap — an unchunked x50 block would be ~1.25 GB per
    task). The acc loop is the module's standard left-to-right
    dimension fold — bit-identical to the DuckDB oracle's list_sum."""
    import numpy as np
    import pandas as pd

    step = max(1, 2_000_000 // max(1, Bm.shape[0]))
    for lo in range(0, len(pdf), step):
        chunk = pdf.iloc[lo : lo + step]
        if not len(chunk):
            continue
        A = _to_matrix(chunk["embedding"])
        acc = np.zeros((A.shape[0], Bm.shape[0]))
        for i in range(A.shape[1]):
            acc += A[:, i : i + 1] * Bm[:, i][None, :]
        cos = acc / (_seq_norms(A)[:, None] * b_norms[None, :])
        ai, bi_ = np.nonzero(cos >= 0.95)
        yield pd.DataFrame(
            {
                "a_id": chunk["vec_id"].to_numpy()[ai],
                "b_id": b_ids[bi_],
                "cosine": cos[ai, bi_],
            }
        )


@register(
    "embedding_near_dup",
    oracle=f"""
WITH e AS (
    SELECT vec_id, embedding, {_SQL_NORM.format(e='embedding')} AS nrm
    FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       {_SQL_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
           AS cosine
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND {_SQL_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm) >= 0.95
""",
    tags=("X24", "X25"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.95) — the
    all-pairs form, exact, with a size-based physical strategy pick
    (the same stats-driven broadcast-vs-shuffle decision Catalyst
    makes for joins):

    - corpus matrix ≤ NEAR_DUP_BROADCAST_MAX_BYTES → BROADCAST plan:
      collect the (bounded) corpus to one matrix, broadcast it, and
      stream the corpus once through a mapInPandas kernel — each row
      block cosines against the broadcast matrix, keeping a<b pairs
      only (each unordered pair is emitted exactly once, from the
      min-id side's batch). One scan plus a round-robin exchange that
      spreads the kernel across all threads (corpus-sized rows moved
      once — tiny next to the N×N pair work); no join shuffle, no
      replication.
    - larger → BLOCKED plan, fully distributed: each vector hashes to
      one of NEAR_DUP_BLOCKS blocks; the (bi ≤ bj) block-pair grid
      replicates each side ~B times (the Afrati-Ullman blocked
      all-pairs layout: N·B communication for N²/B-per-reducer work —
      B tunes to sqrt(#reducers) at scale), and a cogrouped numpy
      kernel computes the block×block cosines. Nothing is collected
      to the driver — in this regime the probe is the footer-count
      job alone (the LIMIT-1 dim read, which does fetch one vector
      row, only fires when the count leaves broadcasting in play).

    Both plans run the SAME chunked fold kernel
    (_threshold_pair_chunks), so values stay bit-identical regardless
    of which plan fires — pinned on pair-bearing data in
    tests/test_similarity.py::test_embedding_near_dup_broadcast_vs_
    blocked; threshold filtering happens inside the kernel so almost
    nothing crosses the post-kernel boundary."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")

    # Size probe: a column-pruned count (parquet footers) plus a
    # LIMIT-1 dim read. The count never touches the vector column; the
    # dim probe DOES read one row (one row-group of the embedding
    # column) — but only when the row count alone hasn't already ruled
    # broadcasting out, so the too-big-to-broadcast corpora the probe
    # protects never scan vectors (r9 review: a fused agg with
    # max(size(embedding)) would read the ENTIRE column cluster-side
    # just to learn one integer). The (n, dim) result is cached per
    # sf_dir (r9 ADVICE): repeated invocations — the bench sampling
    # loop, the certification loop — skip both driver-blocking jobs.
    fp = table_fingerprint(table_path(sf_dir, "embeddings"))
    cached = _NEAR_DUP_PROBE_CACHE.get(sf_dir)
    n, dim = (cached[1], cached[2]) if cached and cached[0] == fp else (None, None)
    if n is None:
        n = e.count()
        _NEAR_DUP_PROBE_CACHE[sf_dir] = (fp, n, dim)
    if dim is None and n and n * 8 <= NEAR_DUP_BROADCAST_MAX_BYTES:
        # dim is probed (and cached) only when the row count leaves
        # broadcasting in play under the CURRENT threshold, so a call
        # under a tighter threshold never caches a misleading dim=0.
        first = e.select("embedding").first()
        dim = len(first[0]) if first is not None and first[0] is not None else 0
        _NEAR_DUP_PROBE_CACHE[sf_dir] = (fp, n, dim)
    dim = dim or 0
    if n and dim and n * dim * 8 <= NEAR_DUP_BROADCAST_MAX_BYTES:
        rows = e.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        M = _to_matrix([r["embedding"] for r in rows])
        m_norms = _seq_norms(M)
        bc = track_broadcast(spark.sparkContext.broadcast((ids, M, m_norms)))

        def gen(batches):
            b_ids, Bm, b_norms = bc.value
            for pdf in batches:
                for out in _threshold_pair_chunks(pdf, Bm, b_norms, b_ids):
                    # emit each unordered pair once, from the min-id
                    # side's batch (also drops the self-pair diagonal)
                    yield out[out["a_id"] < out["b_id"]]

        return e.select("vec_id", "embedding").repartition(
            spark.sparkContext.defaultParallelism
        ).mapInPandas(gen, "a_id long, b_id long, cosine double")

    B = NEAR_DUP_BLOCKS
    grid = spark.createDataFrame(
        [(i, j) for i in range(B) for j in range(i, B)], "bi int, bj int"
    )
    blk = F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int")
    e2 = e.select("vec_id", "embedding", blk.alias("blk"))

    def side(bound_col: str) -> DataFrame:
        s, g = e2.alias("s"), grid.alias("g")
        return s.join(
            F.broadcast(g), F.col("s.blk") == F.col(f"g.{bound_col}")
        ).select(
            F.col("g.bi").alias("bi"),
            F.col("g.bj").alias("bj"),
            F.col("s.vec_id").alias("vec_id"),
            F.col("s.embedding").alias("embedding"),
        )

    left, right = side("bi"), side("bj")

    def kern(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": [], "b_id": [], "cosine": []})
        if not len(lpdf) or not len(rpdf):
            return empty
        Bm = _to_matrix(rpdf["embedding"])
        frames = list(
            _threshold_pair_chunks(
                lpdf, Bm, _seq_norms(Bm), rpdf["vec_id"].to_numpy()
            )
        )
        out = pd.concat(frames, ignore_index=True) if frames else empty
        if key[0] == key[1]:
            # intra-block: both orderings of each pair are present —
            # keep the a < b one (also drops the self-pair diagonal)
            return out[out["a_id"] < out["b_id"]]
        # cross-block: each unordered pair appears exactly once (left
        # is always the bi side); normalize to a < b by swapping —
        # cosine is symmetric bitwise (per-dim products and the norm
        # product commute), so the oracle's value is preserved
        swap = out["a_id"] > out["b_id"]
        out.loc[swap, ["a_id", "b_id"]] = out.loc[swap, ["b_id", "a_id"]].to_numpy()
        return out

    return (
        left.groupby("bi", "bj")
        .cogroup(right.groupby("bi", "bj"))
        .applyInPandas(kern, "a_id long, b_id long, cosine double")
    )


def _recall_oracle() -> str:
    return f"""
WITH exact AS ({_COSINE_TOPK_ORACLE}),
lsh AS ({_lsh_oracle()}),
hits AS (
    SELECT l.q_id, count(*) AS n_hits
    FROM lsh l JOIN exact e ON e.q_id = l.q_id AND e.n_id = l.n_id
    GROUP BY l.q_id
),
qs AS (SELECT q_id, count(*) AS n_true FROM exact GROUP BY q_id)
SELECT qs.q_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / qs.n_true AS recall_at_k
FROM qs LEFT JOIN hits h ON h.q_id = qs.q_id
"""


@register("ann_recall_eval", oracle=_recall_oracle(), tags=("X25", "quality"))
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH ANN index against the exact cosine ground
    truth, per query — the evaluation harness an ANN deployment runs
    after every index build (recall drift = rebuild signal). Both
    sides are deterministic (hash-derived hyperplanes; total-ordered
    top-k), so even this quality METRIC carries an exact oracle —
    recall is reproducible, not a point estimate."""
    return _recall_eval(cosine_topk(spark, sf_dir), lsh_bucketed_ann(spark, sf_dir))


def _recall_eval(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """Per-query recall@k of ``ann`` against ``exact`` ground truth:
    one (q_id, n_id) equi-join + a query-sized aggregate, so the eval
    costs one extra join over the index queries themselves. Divides
    by the PER-QUERY ground-truth size: a TOP_K-literal denominator
    understates recall when the exact side returns fewer than k
    neighbors (a corpus smaller than TOP_K). The one evaluator behind
    every *_recall_eval query."""
    exact = exact.select("q_id", "n_id")
    ann = ann.select("q_id", "n_id")
    hits = ann.join(exact, ["q_id", "n_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    qs = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_true"))
    return qs.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("n_true")
        ).alias("recall_at_k"),
    )


# -- LSH-verified all-pairs near-dup (the 100 TB dedup path) -----------------
#
# embedding_near_dup is the EXACT all-pairs baseline — Θ(N²) by
# problem statement, fine at bench SF, 307s at the x50 replica, dead
# at 100 TB. The production path is candidate-generate-then-verify:
# random-hyperplane LSH bands each vector into ND_TABLES buckets, the
# self-join only pairs vectors sharing a (table, bucket), and an exact
# cosine pass keeps pairs ≥ the threshold. Precision is exactly 1 by
# construction (every emitted pair is exactly verified); recall is
# tunable via (planes, tables): with 16 planes/table a pair AT the
# 0.95 threshold collides per table with p = (1-θ/π)^16 ≈ 0.163, so 40
# tables give miss ≤ (1-0.163)^40 ≈ 8e-4 at the edge, ≈ 1e-8 at
# cosine 0.99, and 0 for exact duplicates (identical vectors share
# every bucket). A random pair (cosine ≈ 0) collides with ≈ 2^-16 per
# table, so candidates ≈ 40/65536 ≈ 1/1600 of all pairs — the LSH
# theory knobs (b ≈ log2 N planes, T ≈ N^ρ tables, ρ ≈ 0.15 here).

ND_LSH_PLANES = 16  # bits per band table (2^16 buckets)
ND_LSH_TABLES = 40
_ND_LSH_NS = 1000  # hyperplane namespace offset (disjoint from the ANN tables)


def _nd_band_rows(e: DataFrame) -> DataFrame:
    """embeddings → exploded (vec_id, table, bucket) band rows, one
    Arrow kernel pass: _bucket_matrix bands each batch into the
    near-dup index (ND_LSH_TABLES × ND_LSH_PLANES, namespace
    _ND_LSH_NS) and the kernel emits ND_LSH_TABLES rows per vector.
    Band rows are 3 ints — the ONLY thing that crosses the candidate
    shuffle; vectors themselves never ride the self-join."""
    import numpy as np
    import pandas as pd

    def run(batches):
        tables = np.arange(ND_LSH_TABLES)
        for pdf in batches:
            if not len(pdf):
                continue
            buckets = _bucket_matrix(
                _to_matrix(pdf["embedding"]), ND_LSH_TABLES, ND_LSH_PLANES, _ND_LSH_NS
            )
            vid = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vid, ND_LSH_TABLES),
                    "table": np.tile(tables, len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        run, "vec_id long, table int, bucket int"
    )


def _nd_candidates(bands: DataFrame) -> DataFrame:
    """(table, bucket) self-join of band rows → deduped candidate id
    pairs (a_id < b_id). Shared by the operator and its pruning test
    so the candidate definition cannot drift between them."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.table") == F.col("b.table"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.vec_id") < F.col("b.vec_id"),
            ],
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )


@register(
    "embedding_near_dup_lsh_verified",
    # The oracle is the exact N² join — identical to embedding_near_dup's.
    # That is the point (round-9 verdict #5): candidate generation is
    # approximate, verification is exact, and on corpora whose
    # above-threshold pairs sit away from the 0.95 edge (every driver
    # table and the planted test fixture) recall is 1, so the verified
    # pipeline's OUTPUT equals the exact baseline and certifies against
    # the same ground truth.
    #
    # CAVEAT (round-10 ADVICE, expected-approximation triage note):
    # candidate recall for a pair sitting exactly AT the 0.95 cosine
    # edge is 1 − (1 − p^P)^T with p = 1 − arccos(0.95)/π ≈ 0.899,
    # P=16 planes, T=40 tables → a per-pair miss probability of
    # ~8e-4. On a FUTURE corpus dense in edge pairs, a certification
    # mismatch of a few pairs against this exact oracle is the
    # documented approximation bound at work, NOT a code regression —
    # triage by checking the missing pairs' cosines against 0.95
    # before suspecting the operator. Precision is always exact (every
    # emitted pair is verified); only recall carries the bound.
    oracle=f"""
WITH e AS (
    SELECT vec_id, embedding, {_SQL_NORM.format(e='embedding')} AS nrm
    FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       {_SQL_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
           AS cosine
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND {_SQL_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm) >= 0.95
""",
    tags=("X24", "X25"),
)
def embedding_near_dup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.95) via LSH candidates +
    exact verification — the plan that survives 100 TB, certified
    against the SAME exact oracle as the Θ(N²) baseline:

    1. one corpus scan bands every vector into ND_LSH_TABLES
       (table, bucket) rows (Arrow kernel; band rows are 3 ints);
    2. self-join on (table, bucket) with a_id < b_id → candidate
       pairs; a dropDuplicates exchange collapses multi-table
       collisions (exact duplicates collide in ALL tables);
    3. join the two embedding sides back by id and run the exact
       pair-cosine kernel, keeping pairs ≥ 0.95.

    Shuffle volume: band rows (3 ints × T per vector) + candidate ids
    (2 longs each, ≈ pairs/1600 of the quadratic space) + the verified
    join (candidates × vector width) — nothing quadratic ever
    materializes. At 100 TB (table, bucket) is the natural partition
    key (same co-located layout as minhash LSH over documents,
    dedup.minhash_near_dup); bucket granularity (ND_LSH_PLANES bits)
    bounds per-reducer skew. The exact kernel reuses
    _pair_cosine_kernel's dimension-ordered fold, so emitted cosines
    are bit-identical to the oracle (and to embedding_near_dup —
    cross-plan equality pinned in tests/test_similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Persist the band rows: both sides of the self-join read them, and
    # without the persist each side re-runs the signature kernel (the
    # T×P hyperplane projection pass over the whole corpus — measured
    # as the dominant non-join cost at x50). Tracked, so the harness
    # frees it after the result is materialized; correctness never
    # depends on the persist sticking (registry.queries contract).
    from master_airflow_spark.registry import track_cache

    bands = track_cache(_nd_band_rows(e))
    cand = _nd_candidates(bands)
    pairs = (
        cand.join(e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb")), "a_id")
        .join(e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb")), "b_id")
        .select(
            F.col("a_id").alias("q_id"),
            F.col("b_id").alias("n_id"),
            "a_emb",
            "b_emb",
        )
    )
    scored = _pair_cosine_kernel(pairs)
    return scored.where(F.col("cosine") >= 0.95).select(
        F.col("q_id").alias("a_id"), F.col("n_id").alias("b_id"), "cosine"
    )


# -- SemDeDup: embedding-space semantic dedup (round 15) ---------------------
#
# The embedding-native member of the dedup family (Abbas et al., 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication"): cluster the corpus with the coarse quantizer, then
# WITHIN each cell drop every vector that has a semantic near-duplicate
# (cosine >= SEM_TAU) among its same-cell predecessors. The kept set is
# the training corpus after semantic dedup. Representative rule here is
# min-vec_id (drop i iff SOME j < i in the cell has cosine(i, j) >=
# SEM_TAU) — deterministic and ORDER-FREE (j ranges over all smaller-id
# cell members, kept or not), which is what makes the single-cell
# configuration exactly SQL-expressible: the paper's closest-to-
# centroid representative differs only in WHICH member of each dup
# group survives, not in how many.
#
# 100 TB shape: cell assignment in one streaming kernel pass (broadcast
# centroids), then ONE exchange keyed by cell — the corpus's only
# shuffle, co-located/free when the corpus is stored cell-partitioned —
# and an in-cell chunked pairwise kernel (same dimension-ordered fold
# as every cosine in this module, so the exhaustive twin is bit-exact
# vs the oracle). Per-cell work is quadratic in CELL size, which is
# the SemDeDup deal: N_CELLS grows with the corpus to hold cell
# population bounded (the paper runs 50k cells on web scale).

SEM_TAU = 0.4  # sf-corpus-calibrated: ~59 qualifying pairs at sf0.01
SEM_CELLS = 16  # cell-count floor (the sf-corpus configuration)
# Cells scale WITH the corpus (the paper's recipe — 50k cells at web
# scale) so per-cell population, and with it the quadratic in-cell
# pair work, stays bounded: n_cells = max(SEM_CELLS, count /
# SEM_TARGET_CELL). Without this the x50 probe grew 53× over 50×
# rows (in-cell pairs grow quadratically at fixed n_cells); with it
# total pair work is linear in rows. Cell count is capped by the
# Lloyd sample size (a centroid needs at least one training point).
SEM_TARGET_CELL = 512


def _sem_n_cells(floor: int, count: int) -> int:
    """Adaptive SemDeDup cell count: corpus rows / SEM_TARGET_CELL,
    floored at the registered sf-configuration and capped at
    IVF_SAMPLE // 4 so every Lloyd centroid sees ≥4 training points
    from the bounded quantizer sample (pinned in tests/test_similarity
    .py::test_sem_n_cells_formula)."""
    return min(max(floor, count // SEM_TARGET_CELL), IVF_SAMPLE // 4)


def _semdedup(spark: SparkSession, sf_dir: str, n_cells: int) -> DataFrame:
    """Shared SemDeDup pipeline. n_cells=1 puts the whole corpus in
    one cell, so the drop rule provably equals the global NOT EXISTS
    the semdedup_exhaustive oracle states — certifying the in-cell
    pairwise kernel, the fold arithmetic, and the predecessor rule
    under the driver's hash-diff; semdedup_keep keeps the celled
    configuration (drops a SUBSET of the exhaustive drops — same-cell
    near-dups are a subset of all near-dups; pinned in
    tests/test_similarity.py)."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    if n_cells == 1:
        cells = e.select("vec_id", "embedding", F.lit(0).alias("cell"))
    else:
        # adaptive cell count (metadata-cheap count job); bounded by
        # the quantizer sample so every centroid has training data
        n_cells = _sem_n_cells(n_cells, e.count())
        C = _lloyd(_quantizer_sample(e), n_cells)
        bc = track_broadcast(spark.sparkContext.broadcast(C))

        def assign(batches):
            Cv = bc.value
            c2 = (Cv**2).sum(axis=1)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _to_matrix(pdf["embedding"])
                # expanded form ||x-c||² = ||x||² - 2<x,c> + ||c||²:
                # the (batch × cells) temp stays MB-scale where the
                # (batch × cells × dim) broadcast temp of the 16-cell
                # IVF assign would hit ~1 GB/batch at adaptive cell
                # counts (||x||² is argmin-constant and omitted)
                d2 = -2.0 * (X @ Cv.T) + c2[None, :]
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "embedding": pdf["embedding"],
                        "cell": d2.argmin(axis=1).astype(np.int32),
                    }
                )

        cells = e.select("vec_id", "embedding").mapInPandas(
            assign, "vec_id long, embedding array<float>, cell int"
        )

    def keep_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        X = _to_matrix(pdf["embedding"])
        ids = pdf["vec_id"].to_numpy()
        norms = _seq_norms(X)
        n = len(pdf)
        dropped = np.zeros(n, dtype=bool)
        # chunked rows × full cell matrix, the _threshold_pair_chunks
        # sizing rule: each dim-iteration temp stays cache-resident
        step = max(1, 2_000_000 // max(1, n))
        for lo in range(0, n, step):
            hi = min(lo + step, n)
            acc = np.zeros((hi - lo, n))
            for i in range(X.shape[1]):
                acc += X[lo:hi, i : i + 1] * X[:, i][None, :]
            cos = acc / (norms[lo:hi][:, None] * norms[None, :])
            # predecessor mask: j < i in vec_id order (rows sorted)
            for r in range(hi - lo):
                i = lo + r
                if i and (cos[r, :i] >= SEM_TAU).any():
                    dropped[i] = True
        return pd.DataFrame(
            {"vec_id": ids, "cell": pdf["cell"], "kept": ~dropped}
        )

    return (
        cells.groupBy("cell")
        .applyInPandas(keep_group, "vec_id long, cell int, kept boolean")
        .orderBy("vec_id")
    )


@register("semdedup_keep", oracle=None, tags=("X24", "X25", "llm"))
def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop labels over SEM_CELLS coarse cells — the
    registered production configuration. Rows-only (the quantizer is
    iterative); the SAME kernel with n_cells=1 is exactly certified
    by semdedup_exhaustive, and the celled-drops ⊆ exhaustive-drops
    containment is pinned in tests."""
    return _semdedup(spark, sf_dir, SEM_CELLS)


@register(
    "semdedup_exhaustive",
    oracle=f"""
WITH e AS (
    SELECT vec_id, embedding, {_SQL_NORM.format(e='embedding')} AS nrm
    FROM embeddings
)
SELECT a.vec_id, 0 AS cell,
       NOT EXISTS (
           SELECT 1 FROM e b
           WHERE b.vec_id < a.vec_id
             AND {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
                     / (a.nrm * b.nrm) >= {SEM_TAU}
       ) AS kept
FROM e a
""",
    tags=("X24", "X25", "llm"),
)
def semdedup_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup kernel with every vector in ONE cell: the drop
    rule degenerates to the global predecessor rule the oracle states
    (drop i iff some j < i anywhere has cosine >= SEM_TAU) — the
    exact certification anchor for the in-cell pairwise machinery.
    Deliberately quadratic (like containment_pairs and the
    *_ann_exhaustive anchors): the bounded ground-truth config, not
    the scale path — semdedup_keep is the scale path."""
    return _semdedup(spark, sf_dir, 1)
