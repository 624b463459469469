"""ANN quality gates: approximate paths must track the exact ground
truth (cosine_topk) within pinned recall bounds at sf0.001."""

from __future__ import annotations

import pytest

from master_airflow_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    return {(r.q_id, r.n_id) for r in REGISTRY["cosine_topk"].fn(spark, sf_dir).collect()}


def _recall(spark, sf_dir, name, exact):
    approx = {(r.q_id, r.n_id) for r in REGISTRY[name].fn(spark, sf_dir).collect()}
    return len(exact & approx) / len(exact)


def test_lsh_recall(spark, sf_dir, exact_pairs):
    assert _recall(spark, sf_dir, "lsh_bucketed_ann", exact_pairs) >= 0.6


def test_ivf_recall(spark, sf_dir, exact_pairs):
    assert _recall(spark, sf_dir, "ivf_ann_topk", exact_pairs) >= 0.3


def test_lsh_recall_floor_sf001(spark):
    """Round-10 verdict #4: the LSH ANN index must hold recall@5 ≥ 0.8
    against the exact brute-force ground truth. Deterministic
    (hash-derived hyperplanes, total-ordered top-k), so the floor is a
    fixed property of the (N_PLANES, N_TABLES) configuration — the
    round-11 6×40 retune measures 0.88 at sf0.01 (and 0.94 at sf0.1)."""
    from pyspark.sql import functions as F

    sfd = "/root/testdata/sf0.01"
    avg = (
        REGISTRY["ann_recall_eval"]
        .fn(spark, sfd)
        .agg(F.avg("recall_at_k"))
        .first()[0]
    )
    assert avg >= 0.8, f"lsh recall@5 regressed: {avg}"


def test_exact_topk_is_k_per_query(spark, sf_dir):
    import collections

    rows = REGISTRY["cosine_topk"].fn(spark, sf_dir).collect()
    per_q = collections.Counter(r.q_id for r in rows)
    assert all(v == 5 for v in per_q.values())
    assert all(1 <= r.rn <= 5 for r in rows)
    assert all(-1.0 <= r.cosine <= 1.0 for r in rows)

def test_bucket_matrix_matches_column_form(spark, sf_dir):
    """The numpy banding fold (_bucket_matrix, used by the ANN kernel
    and the driver-side query banding) must agree bit-for-bit with the
    interpreted column-expression form (lsh_bucket) that defines the
    operator's semantics and the DuckDB oracle."""
    import numpy as np
    from pyspark.sql import functions as F

    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.similarity import (
        DIM,
        N_TABLES,
        _bucket_matrix,
        _to_matrix,
        lsh_bucket,
    )

    e = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(64)
    rows = e.select(
        "vec_id",
        "embedding",
        *[lsh_bucket("embedding", DIM, t).alias(f"b{t}") for t in range(N_TABLES)],
    ).collect()
    A = _to_matrix([r.embedding for r in rows])
    kernel = _bucket_matrix(A)
    column = np.array([[r[f"b{t}"] for t in range(N_TABLES)] for r in rows])
    assert (kernel == column).all()


def _write_neardup_fixture(spark, tmp_path, n_base=40, dim=8):
    """Synthetic embeddings dir with REAL ≥0.95 near-dup pairs: each
    base vector gets a slightly-perturbed twin (cosine ≈ 0.999), and
    distinct bases are near-orthogonal random vectors (cosine ≪ 0.95).
    The sf* embeddings tables have ZERO pairs above the threshold, so
    without this fixture the pair-emission logic (a<b dedup, the
    intra-/cross-block normalization, the broadcast-path keep mask)
    would only ever be exercised on empty outputs."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(n_base, dim).astype(np.float32)
    twin = (base + 0.01 * rng.randn(n_base, dim).astype(np.float32)).astype(
        np.float32
    )
    rows = []
    for i in range(n_base):
        rows.append((i, [float(x) for x in base[i]], 0))
        rows.append((1000 + i, [float(x) for x in twin[i]], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = str(tmp_path / "neardup_sf")
    df.coalesce(1).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    return out


def test_embedding_near_dup_broadcast_vs_blocked(spark, tmp_path):
    """The size-based strategy pick (broadcast kernel vs Afrati-Ullman
    blocked cogroup) must be invisible in values: both plans produce
    the identical non-empty pair set, each unordered pair exactly
    once, a_id < b_id, bit-identical cosines."""
    from master_airflow_spark.operators import similarity as sim

    sfd = _write_neardup_fixture(spark, tmp_path)
    fn = REGISTRY["embedding_near_dup"].fn
    broad = {tuple(r) for r in fn(spark, sfd).collect()}
    orig = sim.NEAR_DUP_BROADCAST_MAX_BYTES
    try:
        sim.NEAR_DUP_BROADCAST_MAX_BYTES = 0  # force the blocked plan
        blocked = {tuple(r) for r in fn(spark, sfd).collect()}
    finally:
        sim.NEAR_DUP_BROADCAST_MAX_BYTES = orig
    assert broad == blocked
    assert len(broad) >= 40  # every base/twin pair found
    assert all(a < b for a, b, _ in broad)
    assert len({(a, b) for a, b, _ in broad}) == len(broad)


def test_embedding_near_dup_matches_duckdb_on_pairful_data(spark, tmp_path):
    """Same fixture, diffed against the registered DuckDB oracle — the
    sf-table certification only ever hash-compares empty outputs for
    this query, so this is the value-level gate for real pairs."""
    import duckdb

    sfd = _write_neardup_fixture(spark, tmp_path)
    got = {tuple(r) for r in REGISTRY["embedding_near_dup"].fn(spark, sfd).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sfd}/embeddings.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(REGISTRY["embedding_near_dup"].oracle).fetchall()}
    assert got == want and len(want) >= 40


def test_lsh_verified_equals_exact_on_pairful_data(spark, tmp_path):
    """The scale path (LSH candidates → exact verify) must reproduce
    the exact Θ(N²) baseline's pair set bit-for-bit on data with real
    ≥0.95 pairs: same pairs, same cosines (both funnels end in the
    same dimension-ordered fold). The fixture's twins sit at ~0.999
    where the per-pair miss probability is ≈1e-8 across 40 tables —
    and the hyperplanes are deterministic, so this equality is a fixed
    property of the code, not a draw."""
    sfd = _write_neardup_fixture(spark, tmp_path)
    exact = {tuple(r) for r in REGISTRY["embedding_near_dup"].fn(spark, sfd).collect()}
    lsh = {
        tuple(r)
        for r in REGISTRY["embedding_near_dup_lsh_verified"].fn(spark, sfd).collect()
    }
    assert lsh == exact and len(exact) >= 40


def test_lsh_verified_matches_duckdb_on_pairful_data(spark, tmp_path):
    """Same fixture, diffed against the registered oracle (the exact
    N² join) — the sf-table certification only hash-compares empty
    outputs for this query, so this is the value-level gate."""
    import duckdb

    sfd = _write_neardup_fixture(spark, tmp_path)
    spec = REGISTRY["embedding_near_dup_lsh_verified"]
    got = {tuple(r) for r in spec.fn(spark, sfd).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sfd}/embeddings.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want and len(want) >= 40


def test_lsh_verified_candidate_pruning(spark, sf_dir):
    """Candidate generation must actually prune: on the sf corpus
    (no qualifying pairs, near-orthogonal vectors) the deduped
    candidate count stays well under the quadratic pair space —
    otherwise the 'beats Θ(N²)' claim is vacuous."""
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.similarity import (
        _nd_band_rows,
        _nd_candidates,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    cand = _nd_candidates(_nd_band_rows(e)).count()
    assert cand < 0.05 * n * (n - 1) / 2


def test_nd_band_rows_deterministic_and_duplicate_complete(spark, sf_dir):
    """Two invariants the verified near-dup pipeline's recall story
    rests on: (a) banding is deterministic — two independent runs over
    the same corpus produce the identical (vec_id, table, bucket) set
    (hash-derived hyperplanes, no RNG); (b) byte-identical vectors get
    identical bucket rows in EVERY table, which is why candidate
    recall on exact duplicates is exactly 1 (the x50 equal-output
    claim in SCALE.md)."""
    from pyspark.sql import functions as F

    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.similarity import (
        ND_LSH_TABLES,
        _nd_band_rows,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").limit(64)
    r1 = {tuple(r) for r in _nd_band_rows(e).collect()}
    r2 = {tuple(r) for r in _nd_band_rows(e).collect()}
    assert r1 == r2 and len(r1) == 64 * ND_LSH_TABLES
    # duplicate completeness: clone each vector under a shifted id —
    # the clone's (table, bucket) rows must equal the original's.
    twin = e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    rt = {(v - 1_000_000, t, b) for v, t, b in _nd_band_rows(twin).collect()}
    assert rt == r1


def test_ivf_recall_floor_vs_exhaustive_sf001(spark):
    """Round-9 verdict #6: ivf_ann_topk is rows-only by design, so a
    quantizer regression would ship green without a pinned recall
    bound. Recall@5 vs ivf_ann_exhaustive (the certified exact
    equivalent of the same machinery) at sf0.01 is deterministic —
    sampled k-means quantizer, hash-derived everything — so the floor
    is a fixed property of the code, not a statistical draw."""
    sfd = "/root/testdata/sf0.01"
    exact = {
        (r.q_id, r.n_id)
        for r in REGISTRY["ivf_ann_exhaustive"].fn(spark, sfd).collect()
    }
    approx = {
        (r.q_id, r.n_id) for r in REGISTRY["ivf_ann_topk"].fn(spark, sfd).collect()
    }
    # measured 0.74 exactly under the round-11 N_PROBE=6 retune
    # (deterministic); floor pinned just below — a quantizer/probe
    # regression that costs even one more hit fails.
    assert len(exact & approx) / len(exact) >= 0.7


def test_embedding_near_dup_empty_corpus(spark, tmp_path):
    """Zero-row corpus: the strategy probe must fall through to the
    blocked plan (no broadcast of an empty matrix) and return an
    empty, correctly-typed frame."""
    out = str(tmp_path / "empty_sf")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    df = REGISTRY["embedding_near_dup"].fn(spark, out)
    assert df.columns == ["a_id", "b_id", "cosine"]
    assert df.count() == 0


def test_ivf_recall_eval_query(spark):
    """The registered ivf_recall_eval query (round-12 verdict #5): its
    per-query recall@5 must reproduce the set arithmetic over the two
    certified operators, with the measured deterministic floor (mean
    0.74 at sf0.01 under N_PROBE=6) pinned just below."""
    import collections

    from pyspark.sql import functions as F

    sfd = "/root/testdata/sf0.01"
    rows = REGISTRY["ivf_recall_eval"].fn(spark, sfd).collect()
    got = {r.q_id: (r.n_hits, r.recall_at_k) for r in rows}

    exact = collections.defaultdict(set)
    for r in REGISTRY["cosine_topk"].fn(spark, sfd).collect():
        exact[r.q_id].add(r.n_id)
    ivf = collections.defaultdict(set)
    for r in REGISTRY["ivf_ann_topk"].fn(spark, sfd).collect():
        ivf[r.q_id].add(r.n_id)

    assert set(got) == set(exact)  # one row per ground-truth query
    for q, members in exact.items():
        hits = len(members & ivf[q])
        assert got[q] == (hits, hits / 5)
    mean = sum(v[1] for v in got.values()) / len(got)
    assert mean >= 0.7, f"ivf recall@5 regressed: {mean}"


@pytest.mark.parametrize(
    "anchor", ["ivf_ann_exhaustive", "pq_ann_exhaustive", "ivfpq_ann_exhaustive"]
)
def test_ann_exhaustive_equals_cosine_topk(spark, anchor):
    """Each exhaustive configuration of the filter-and-refine pipeline
    (every cell probed; PQ candidates all kept for the exact re-rank)
    must equal the certified brute-force cosine_topk row-for-row,
    cosine doubles included — the provable-equality anchor for the
    IVF, PQ and composed IVF-PQ machinery."""
    sfd = "/root/testdata/sf0.01"

    def rows(name):
        from master_airflow_spark.registry import release_caches

        out = sorted(
            (r.q_id, r.n_id, r.cosine, r.rn)
            for r in REGISTRY[name].fn(spark, sfd).collect()
        )
        release_caches()
        return out

    assert rows(anchor) == rows("cosine_topk")


def test_pq_recall_eval_query(spark):
    """The registered pq_recall_eval query: per-query recall@5 must
    reproduce the set arithmetic over the two operators, with the
    measured deterministic floor (0.92 at sf0.01 under PQ_RERANK=128,
    sweep in similarity.py) pinned just below at 0.7 — the same floor
    the IVF path carries."""
    import collections

    sfd = "/root/testdata/sf0.01"
    rows = REGISTRY["pq_recall_eval"].fn(spark, sfd).collect()
    got = {r.q_id: (r.n_hits, r.recall_at_k) for r in rows}

    exact = collections.defaultdict(set)
    for r in REGISTRY["cosine_topk"].fn(spark, sfd).collect():
        exact[r.q_id].add(r.n_id)
    pq = collections.defaultdict(set)
    for r in REGISTRY["pq_ann_topk"].fn(spark, sfd).collect():
        pq[r.q_id].add(r.n_id)

    assert set(got) == set(exact)  # one row per ground-truth query
    for q, members in exact.items():
        hits = len(members & pq[q])
        assert got[q] == (hits, hits / len(members))
    mean = sum(v[1] for v in got.values()) / len(got)
    assert mean >= 0.7, f"pq recall@5 regressed: {mean}"


def test_pq_codebooks_deterministic_and_shaped(spark):
    """The sampled subspace Lloyd's quantizer is seedless-deterministic:
    two independent flat-PQ builds (one zero-centroid cell) on the same
    corpus produce bit-identical codebooks of shape
    (PQ_M, PQ_K, dim/PQ_M)."""
    import numpy as np

    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.similarity import (
        DIM,
        PQ_K,
        PQ_M,
        _quantizer_sample,
        _quantizers,
    )

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    _, b1 = _quantizers(_quantizer_sample(e), 1, True)
    _, b2 = _quantizers(_quantizer_sample(e), 1, True)
    assert b1.shape == (PQ_M, PQ_K, DIM // PQ_M)
    assert np.array_equal(b1, b2)


def test_ivfpq_recall_floor(spark):
    """ivfpq_ann_topk recall@5 vs exact ground truth at sf0.01:
    measured 0.74 mean (bounded above by the IVF probe's candidate
    recall — the re-rank can only recover what probed cells contain);
    floor pinned at 0.65 to leave compounding-quantizer headroom."""
    from master_airflow_spark.registry import release_caches

    sfd = "/root/testdata/sf0.01"
    rows = REGISTRY["ivfpq_recall_eval"].fn(spark, sfd).collect()
    release_caches()
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    assert mean >= 0.65, f"ivfpq recall@5 regressed: {mean}"


def test_semdedup_celled_drops_subset_of_exhaustive(spark, sf_dir):
    """Same-cell near-dups are a subset of all near-dups, so the
    celled configuration can only drop a SUBSET of what the certified
    exhaustive rule drops — the containment that makes the anchor
    meaningful for the production config."""
    from master_airflow_spark.operators.similarity import (
        semdedup_exhaustive,
        semdedup_keep,
    )

    celled = {r.vec_id: r.kept for r in semdedup_keep(spark, sf_dir).collect()}
    exh = {r.vec_id: r.kept for r in semdedup_exhaustive(spark, sf_dir).collect()}
    assert celled.keys() == exh.keys()
    dropped_celled = {v for v, k in celled.items() if not k}
    dropped_exh = {v for v, k in exh.items() if not k}
    assert dropped_celled <= dropped_exh
    # the rule fires on this corpus, and cells genuinely mask some
    # cross-cell near-dup pairs (strict subset)
    assert dropped_celled and dropped_celled < dropped_exh


def test_semdedup_min_id_rule_keeps_first_of_pair(spark, sf_dir):
    """In every dropped/kept pair the SMALLER vec_id survives: kept
    vectors are exactly those with no smaller-id near-dup."""
    from master_airflow_spark.operators.similarity import semdedup_exhaustive

    rows = semdedup_exhaustive(spark, sf_dir).collect()
    kept = [r.vec_id for r in rows if r.kept]
    # vec_id 0 can have no predecessor: always kept
    assert min(r.vec_id for r in rows) in kept


def test_sem_n_cells_formula():
    """Adaptive cell-count clamp: floors at the registered sf config,
    tracks rows/SEM_TARGET_CELL between the bounds, and caps at
    IVF_SAMPLE//4 (each Lloyd centroid needs training points from the
    bounded quantizer sample). The cap binding at x50-replica scale is
    measured in SCALE.md — this pins the arithmetic itself."""
    from master_airflow_spark.operators.similarity import (
        IVF_SAMPLE,
        SEM_CELLS,
        SEM_TARGET_CELL,
        _sem_n_cells,
    )

    cap = IVF_SAMPLE // 4
    # tiny corpus: floor wins
    assert _sem_n_cells(SEM_CELLS, 0) == SEM_CELLS
    assert _sem_n_cells(SEM_CELLS, SEM_CELLS * SEM_TARGET_CELL - 1) == SEM_CELLS
    # linear regime: rows / target
    assert _sem_n_cells(SEM_CELLS, 100 * SEM_TARGET_CELL) == 100
    # huge corpus: Lloyd-sample cap wins
    assert _sem_n_cells(SEM_CELLS, 10**9) == cap
    # the registered floor stays below the cap (otherwise the floor
    # could silently exceed what the quantizer sample can train)
    assert SEM_CELLS <= cap
