"""Near-duplicate clustering — connected components over the MinHash
candidate graph, and canonical-document selection.

The dedup endgame for a training-data pipeline: near-dup PAIRS aren't
actionable until they're grouped into clusters with one kept document
per cluster. Components are computed with iterative label propagation
(hash-min): every doc starts labeled with its own id; each round every
doc takes the min label among itself and its neighbors; converged when
no label changes. Purely DataFrame joins + aggregations — the shape
that scales (each round is one join + one agg on the edge list) — with
``localCheckpoint`` each round to cut the growing lineage (the classic
iterative-algorithm failure mode on Spark).

Iteration count is O(log diameter) — hash-min one-hop rounds for the
common tiny-clique case, pointer jumping from round 4 for deep
chains. The loop is driver-side CONTROL only — data never leaves
executors.

Lineage/memory management: each round's label generation is
``localCheckpoint(eager=True)``-truncated (nested per-round plans
otherwise grow analyzer cost exponentially with round count) and the
superseded generation's RDD blocks are freed at RDD level each round
(checkpoint blocks never register with the SQL CacheManager, so
DataFrame.unpersist can't reach them — the leak that got an earlier
localCheckpoint variant removed is closed by freeing each
generation's checkpoint RDD id, read straight off its LogicalRDD
plan); the final labels return as a registry-tracked scratch-parquet
scan, so the result frame stays recomputable until release_caches(). See connected_components' docstring for the
measured history behind each decision.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from master_airflow_spark.catalog import load_table
from master_airflow_spark.registry import register, track_cache, track_scratch_dir

MAX_ITERATIONS = 20


def _checkpoint_rdd_id(df: DataFrame) -> int:
    """The persisted RDD id behind a ``localCheckpoint(eager=True)``
    frame — its analyzed plan is a LogicalRDD leaf wrapping exactly
    that RDD. Extracting the id directly (instead of diffing
    getPersistentRDDs snapshots around the checkpoint) matters for
    correctness: a snapshot diff sweeps up any OTHER cache that
    happens to materialize lazily inside the window — e.g. the
    track_cache'd pair/sym frames, whose blocks register during the
    first jobs — and freeing those forces every later round to
    re-derive the full MinHash pipeline (a round-12 review catch).

    Returns -1 (freeing becomes a no-op) if the analyzed plan is not
    the LogicalRDD leaf this assumes — a future Spark could wrap the
    checkpoint differently, and skipping the free (a bounded leak for
    the run) beats unpersisting a wrong id or an opaque Py4JError
    (round-12 ADVICE)."""
    plan = df._jdf.queryExecution().analyzed()
    if "LogicalRDD" not in plan.getClass().getName():
        return -1
    return int(plan.rdd().id())


def _free_rdd_ids(sc, ids: set[int]) -> None:
    """RDD-level unpersist for the given ids (non-blocking) — the only
    way to reach localCheckpoint blocks, which never register with the
    SQL CacheManager and are invisible to DataFrame.unpersist."""
    if not ids:
        return
    it = sc._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        if int(e.getKey()) in ids:
            e.getValue().unpersist(False)


def _is_ram_backed(path: str) -> bool:
    """True when ``path``'s filesystem is RAM-backed (tmpfs/ramfs),
    decided by longest-mount-point-prefix match against /proc/mounts
    — NOT by comparing path strings (round-14 ADVICE: with TMPDIR
    pointed at /dev/shm, ``root == tempfile.gettempdir()`` is a
    string coincidence that silently disables the size gate while
    both roots are tmpfs). Returns False when /proc/mounts is
    unreadable (non-Linux): assuming disk-backed there keeps the old
    ungated behavior rather than forcing every spill off a root we
    can't classify."""
    try:
        real = os.path.realpath(path)
        best_mnt, best_type = "", None
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) < 3:
                    continue
                # /proc/mounts octal-escapes whitespace in mount points
                mnt = parts[1].replace("\\040", " ").replace("\\011", "\t")
                # >= so among equal-length matches the LAST /proc/mounts
                # entry wins: on an overmounted path (e.g. a tmpfs over
                # a disk-backed /tmp) the kernel's effective filesystem
                # is the most recent mount, and keeping the first entry
                # would misclassify RAM as disk and skip the size gate.
                if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(
                    mnt
                ) >= len(best_mnt):
                    best_mnt, best_type = mnt, parts[2]
        return best_type in ("tmpfs", "ramfs")
    except OSError:
        return False


def _labels_scratch_root(spark, est_bytes_fn) -> str:
    """Scratch root for the final-labels spill. MAS_STREAM_SCRATCH_DIR,
    the one driver-local scratch override (streaming/events.py), is
    honoured as given with no size gate: _checkpoint_root validates it
    eagerly, so a bad path fails HERE naming the env var, not as an
    opaque write error deep in connected_components (round-14
    ADVICE). Otherwise the shared-drain root is kept only while (a) it
    is not RAM-backed, or (b) the estimated spill leaves at least half
    the free tmpfs bytes untouched — the gate keys on actual mount type
    (_is_ram_backed), so a TMPDIR pointed at /dev/shm is gated too. The
    fallback walk prefers the first DISK-backed writable candidate
    (tempfile.gettempdir(), then /var/tmp — the FHS disk-backed temp
    root) and only lands back on a RAM-backed gettempdir() when no
    disk root exists, in which case MAS_STREAM_SCRATCH_DIR is the
    escape hatch. ``est_bytes_fn`` is a thunk (it costs a Spark count
    job), invoked only on the RAM-backed branch where the estimate is
    actually consulted (round-14 review: an eager count ran even under
    the override and the no-tmpfs fallback)."""
    import tempfile

    from master_airflow_spark.streaming.events import (
        _assert_local_scratch,
        _checkpoint_root,
    )

    # Without the override the roots below are all driver-local, so
    # this refuses a non-local master (round-14 verdict #7) — a cluster
    # run must point MAS_STREAM_SCRATCH_DIR at shared storage.
    _assert_local_scratch(spark, "the connected-components labels spill")
    root = _checkpoint_root()
    if os.environ.get("MAS_STREAM_SCRATCH_DIR") or not _is_ram_backed(root):
        return root
    try:
        st = os.statvfs(root)
        if est_bytes_fn() * 2 <= st.f_bavail * st.f_frsize:
            return root
    except OSError:
        pass
    for cand in (tempfile.gettempdir(), "/var/tmp"):
        if (
            not _is_ram_backed(cand)
            and os.path.isdir(cand)
            and os.access(cand, os.W_OK)
        ):
            return cand
    return tempfile.gettempdir()


def connected_components(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """(src, dst) undirected edges + (id) vertices → (id, component)
    where component = min vertex id reachable.

    Three scale lessons from the round-12 x50 probes are baked in:

    1. LINEAGE TRUNCATION per round (``localCheckpoint(eager=True)``):
       each generation's logical plan would otherwise NEST the previous
       generation's plan, so analyzer/optimizer cost grows ~2^round —
       persisted data hides the execution cost but not the planning
       cost (measured: 4s → 13s → 75s per round once a third
       label reference per round pushed growth to ~3^round). A
       checkpointed generation is a flat LogicalRDD leaf: planning is
       O(1) per round at any iteration count. Each generation's
       checkpoint RDD id is read straight off its LogicalRDD plan and
       the superseded generation freed at RDD level every round, so
       nothing accumulates across invocations (the leak that got an
       earlier localCheckpoint variant removed). The FINAL labels are
       spilled to a registry-tracked scratch parquet dir and returned
       as a plain file-scan plan — a checkpoint-backed frame would
       THROW after release_caches() (truncated lineage cannot
       recompute), violating the registry rule that no query's
       correctness may depend on a persist sticking; the scratch-dir
       lifecycle (materialize before the next registered query) is
       the established shared-drain contract.
    2. Persist/checkpoint EVERY frame the loop re-reads: the initial
       labels frame used to re-derive the caller's full MinHash pair
       pipeline once per reference (~60s of the old ~50s x50 wall).
    3. Convergence = exact label-sum aggregate, not a labels⋈labels
       join: hash-min labels are monotone non-increasing, so an
       unchanged DECIMAL(38) sum ⟺ fixpoint; one cheap agg job/round.

    Pointer jumping from round 4 (adopt the label OF your label, read
    from the previous checkpointed generation) keeps deep components
    correct: plain hash-min propagates one hop per round, so a
    component with diameter > MAX_ITERATIONS would return silently
    un-converged labels — long near-dup CHAINS make that a real shape
    at corpus scale. Clique-shaped clusters converge in 2-3 rounds and
    never pay for the jump; once jumping starts reach ~doubles per
    round, so 20 rounds cover diameter ~4 + 2^16."""
    sc = edges.sparkSession.sparkContext
    sym = track_cache(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )

    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).first()[0]

    labels = vertices.select(F.col("id"), F.col("id").alias("component")).localCheckpoint(
        eager=True
    )
    gen_id = _checkpoint_rdd_id(labels)
    prev_sum = _label_sum(labels)
    for rnd in range(MAX_ITERATIONS):
        neighbor_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.a, "left"
        ).select(
            "id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        if rnd >= 4:
            jumped = labels.select(
                F.col("id").alias("jid"), F.col("component").alias("jcomp")
            )
            stepped = stepped.join(
                jumped, stepped.component == jumped.jid, "left"
            ).select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("jcomp"), F.col("component")),
                ).alias("component"),
            )
        new_labels = stepped.localCheckpoint(eager=True)
        new_id = _checkpoint_rdd_id(new_labels)
        new_sum = _label_sum(new_labels)
        _free_rdd_ids(sc, {gen_id})  # superseded generation
        gen_id = new_id
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    # Spill the final labels to scratch parquet and return a plain
    # file-scan plan: valid (and RE-computable from the files) until
    # release_caches() deletes the dir — unlike the checkpoint-backed
    # frame, whose truncated lineage cannot recompute once its blocks
    # are freed. All loop storage is released right here.
    # Scratch root is SIZE-GATED (round-13 ADVICE): tmpfs (the
    # shared-drain root, streaming/events._checkpoint_root) only when
    # the estimated spill fits in half the free tmpfs bytes — at the
    # x50/x100 replica factors a RAM-backed spill could ENOSPC or add
    # memory pressure the disk-backed default never had; larger spills
    # land on disk-backed tmp; a MAS_STREAM_SCRATCH_DIR override is
    # used as given. Driver-local by design: in local[...] mode
    # executors share the driver's filesystem. A multi-node deployment
    # must point MAS_STREAM_SCRATCH_DIR at a shared store — the dir is
    # named as the shared drain names its run root (root plus a uuid)
    # and created by Spark's write, so a storage URI (hdfs://, s3a://)
    # works, and _labels_scratch_root REFUSES the automatic
    # driver-local roots on a non-local master instead of silently
    # spilling to per-node filesystems.
    out_dir = os.path.join(
        # labels is a flat checkpointed generation, so the count is a
        # cheap single-stage job; ~32 bytes/row covers two int64
        # parquet columns plus metadata with slack. Thunked: only the
        # tmpfs branch pays the count.
        _labels_scratch_root(edges.sparkSession, lambda: labels.count() * 32),
        f"mas_cc_labels_{uuid.uuid4().hex[:10]}",
    )
    labels.write.mode("overwrite").parquet(out_dir)
    _free_rdd_ids(sc, {gen_id})
    track_scratch_dir(out_dir)
    return edges.sparkSession.read.parquet(out_dir)


def _sql_components_ctes() -> str:
    """Shared recursive-CTE transitive closure over the MinHash pair
    graph: defines pairs/sym/verts/reach/comp (comp = doc_id →
    cluster_id) for every cluster-level oracle, so the labeling rule
    lives in exactly one place (mirrors _doc_components below)."""
    from master_airflow_spark.operators.dedup import (
        SQL_MINHASH_CTES,
        SQL_MINHASH_PAIRS,
    )

    return f"""{SQL_MINHASH_CTES},
pairs AS (SELECT a_id, b_id FROM ({SQL_MINHASH_PAIRS})),
sym AS (SELECT a_id AS a, b_id AS b FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
verts AS (SELECT DISTINCT a AS id FROM sym),
reach AS (SELECT id AS a, id AS b FROM verts
          UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)"""


def _doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Spark twin of _sql_components_ctes: MinHash pairs →
    hash-min connected components as (id, component)."""
    from master_airflow_spark.operators.dedup import minhash_near_dup

    # Persist the pair frame: sym (inside connected_components) and the
    # initial labels both materialize from it, and without the cache
    # each would re-run the whole MinHash pipeline over the corpus —
    # the dominant cost at scale (x50 probe: ~9s per re-derivation vs
    # a pairs-count-sized cache).
    pairs = track_cache(minhash_near_dup(spark, sf_dir).select("a_id", "b_id"))
    vertices = (
        pairs.select(F.col("a_id").alias("id"))
        .unionByName(pairs.select(F.col("b_id").alias("id")))
        .distinct()
    )
    return connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst")), vertices
    )


def _clusters_oracle() -> str:
    return f"""
WITH RECURSIVE {_sql_components_ctes()},
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT comp.doc_id, comp.cluster_id,
       comp.doc_id = comp.cluster_id AS is_canonical,
       sizes.cluster_size
FROM comp JOIN sizes USING (cluster_id)
"""


@register("dedup_clusters", oracle=_clusters_oracle(), tags=("X24", "iterative"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the MinHash candidate pairs: connected
    components + canonical doc per cluster (min doc_id — the same
    keep-rule as dedup_exact). Output: one row per clustered document
    with its cluster id, canonical flag, and cluster size. Singleton
    documents (no near-dup) are excluded. The Spark side iterates
    hash-min label propagation to a fixpoint; the oracle replays the
    same semantics as a recursive-CTE transitive closure (feasible at
    oracle scale, where cluster diameters are tiny) — so even the
    iterative algorithm is exactly diff-checked, not just row-counted."""
    comp = _doc_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            (F.col("id") == F.col("component")).alias("is_canonical"),
            "cluster_size",
        )
    )


def _keep_longest_oracle() -> str:
    return f"""
WITH RECURSIVE {_sql_components_ctes()},
members AS (
    SELECT comp.cluster_id, d.doc_id, d.n_chars
    FROM comp JOIN documents d ON d.doc_id = comp.doc_id
),
winner AS (
    SELECT cluster_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars
    FROM members
    QUALIFY row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n_chars DESC, doc_id ASC) = 1
),
sizes AS (SELECT cluster_id, count(*) AS n FROM members GROUP BY cluster_id)
SELECT w.cluster_id, w.kept_doc_id, w.kept_n_chars, s.n - 1 AS n_dropped
FROM winner w JOIN sizes s USING (cluster_id)
"""


@register("cluster_keep_longest", oracle=_keep_longest_oracle(), tags=("X24", "iterative"))
def cluster_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based cluster representative selection — the keep-rule
    real dedup pipelines apply (keep the LONGEST member of each
    near-dup cluster, the one most likely to be the complete
    document, rather than an arbitrary min-id): per cluster, the
    argmax document by (n_chars, −doc_id) plus how many members get
    dropped. Composes the certified connected-components labels with
    one broadcast-size join back to the documents table and a single
    max_by aggregate — cluster count ≪ corpus, so at 100 TB the
    label table is the small side everywhere. The (n_chars, −doc_id)
    struct ordering makes the winner total-ordered (no length-tie
    nondeterminism)."""
    comp = _doc_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = comp.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    ).join(docs, "doc_id")
    # struct argmax: lexicographic (n_chars DESC via max, -doc_id for
    # the ASC tiebreak) — a true composite ordering with no numeric
    # packing, so no doc_id magnitude bound
    return members.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
        .getField("neg_id")
        .alias("_neg"),
        F.max("n_chars").alias("kept_n_chars"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    ).select(
        "cluster_id",
        (-F.col("_neg")).alias("kept_doc_id"),
        "kept_n_chars",
        "n_dropped",
    )
