"""Connected-components semantics on known graphs."""

from __future__ import annotations

from master_airflow_spark.operators.clusters import connected_components


def _cc(spark, edge_list, vertex_ids):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    vertices = spark.createDataFrame([(v,) for v in vertex_ids], "id long")
    return {
        r.id: r.component for r in connected_components(edges, vertices).collect()
    }


def test_two_components(spark):
    comp = _cc(spark, [(1, 2), (2, 3), (10, 11)], [1, 2, 3, 10, 11, 99])
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_chain_converges_past_one_hop(spark):
    # a 6-node path: min label must propagate the full diameter
    edges = [(i, i + 1) for i in range(1, 6)]
    comp = _cc(spark, edges, list(range(1, 7)))
    assert set(comp.values()) == {1}


def test_cycle(spark):
    comp = _cc(spark, [(5, 6), (6, 7), (7, 5)], [5, 6, 7])
    assert set(comp.values()) == {5}


def test_deep_chain_beyond_max_iterations(spark):
    # a 40-node path has diameter 39 > MAX_ITERATIONS=20: plain
    # one-hop hash-min would return silently un-converged labels
    # (node 40 stuck at label 20 after 20 rounds). Pointer jumping
    # must converge it in O(log diameter) rounds.
    edges = [(i, i + 1) for i in range(1, 40)]
    comp = _cc(spark, edges, list(range(1, 41)))
    assert set(comp.values()) == {1}


def test_dedup_clusters_canonicals(spark, sf_dir):
    from master_airflow_spark.operators.clusters import dedup_clusters

    out = dedup_clusters(spark, sf_dir).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, rows in by_cluster.items():
        canon = [r for r in rows if r.is_canonical]
        assert len(canon) == 1, f"cluster {cid}: exactly one canonical"
        assert canon[0].doc_id == min(r.doc_id for r in rows)
        assert all(r.cluster_size == len(rows) for r in rows)
        assert len(rows) >= 2  # singletons excluded

def test_labels_scratch_root_override_validated(spark, monkeypatch):
    """A bad MAS_STREAM_SCRATCH_DIR fails HERE, naming the env var, not
    as an opaque mkdtemp error deep in connected_components (round-14
    ADVICE)."""
    import pytest

    from master_airflow_spark.operators.clusters import _labels_scratch_root

    monkeypatch.setenv("MAS_STREAM_SCRATCH_DIR", "/nonexistent/mas_cc_xyz")
    with pytest.raises(RuntimeError, match="MAS_STREAM_SCRATCH_DIR"):
        _labels_scratch_root(spark, lambda: 0)


def test_labels_scratch_root_gates_on_mount_type(spark, monkeypatch, tmp_path):
    """The tmpfs size gate keys on the ACTUAL mount type of the chosen
    root (round-14 ADVICE: `root == gettempdir()` is a string
    coincidence — with TMPDIR pointed at /dev/shm both roots are
    tmpfs and a large spill would land on RAM ungated)."""
    from master_airflow_spark.operators import clusters as C

    monkeypatch.delenv("MAS_STREAM_SCRATCH_DIR", raising=False)
    # Force the drain root to a RAM-backed path and the estimate huge:
    # the gate must reject it even though nothing matches gettempdir().
    monkeypatch.setattr(
        "master_airflow_spark.streaming.events._checkpoint_root",
        lambda: "/dev/shm",
    )
    if not C._is_ram_backed("/dev/shm"):  # container without tmpfs
        import pytest

        pytest.skip("/dev/shm not tmpfs here")
    huge = 1 << 60
    root = C._labels_scratch_root(spark, lambda: huge)
    assert not C._is_ram_backed(root), root
    # and a tiny spill keeps the RAM-backed fast path
    assert C._labels_scratch_root(spark, lambda: 1024) == "/dev/shm"
    # disk-backed paths are classified as such
    assert not C._is_ram_backed(str(tmp_path))


def test_driver_local_scratch_refused_off_local_master(spark, monkeypatch):
    """Every consumer of the driver-local scratch root must refuse a
    non-local master instead of silently writing per-node files
    (round-14 verdict #7)."""
    import pytest

    from master_airflow_spark.operators.clusters import _labels_scratch_root
    from master_airflow_spark.streaming.events import _assert_local_scratch

    class FakeSC:
        master = "spark://cluster:7077"

    class FakeSpark:
        sparkContext = FakeSC()

    with pytest.raises(RuntimeError, match="driver-local scratch"):
        _assert_local_scratch(FakeSpark(), "a test consumer")
    monkeypatch.delenv("MAS_STREAM_SCRATCH_DIR", raising=False)
    with pytest.raises(RuntimeError, match="labels spill"):
        _labels_scratch_root(FakeSpark(), lambda: 0)
    # the real local[...] session passes
    _assert_local_scratch(spark, "a test consumer")


def test_storage_uri_scratch_root(spark, sf_dir, monkeypatch, tmp_path):
    """With MAS_STREAM_SCRATCH_DIR a storage URI (file:// standing in
    for hdfs:// or s3a://), the labels spill and both drain forms give
    the rows they give at the default root, and the drain checkpoints,
    the shared-drain spool, the labels spill and the parents they were
    made under are all deleted: a URI cannot go through shutil.rmtree
    or os.rmdir."""
    from master_airflow_spark import registry

    registry._ensure_loaded()
    edges, vertices = [(1, 2), (2, 3), (10, 11)], [1, 2, 3, 10, 11, 99]
    drains = ("stream_tumbling_agg", "stream_session_window")

    def run_all():
        out = [sorted(_cc(spark, edges, vertices).items())]
        for name in drains:
            out.append(sorted(registry.REGISTRY[name].fn(spark, sf_dir).collect()))
            registry.release_caches()
        registry.release_caches()
        return out

    monkeypatch.delenv("MAS_STREAM_SCRATCH_DIR", raising=False)
    want = run_all()
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setenv("MAS_STREAM_SCRATCH_DIR", root.as_uri())
    assert run_all() == want
    # every dir a run made is gone, and with them the emptied shared
    # parents (mas_ckpt/, mas_shared_drain/)
    left = sorted(str(p.relative_to(root)) for p in root.rglob("*"))
    assert left == [], left


def test_release_removes_only_empty_scratch_parents(monkeypatch, tmp_path):
    """At a local root, releasing a drain's scratch dir removes the
    shared parents that are then empty, and keeps one another drain
    still has a dir under."""
    from master_airflow_spark import registry

    monkeypatch.setenv("MAS_STREAM_SCRATCH_DIR", str(tmp_path))
    (tmp_path / "mas_ckpt").mkdir()
    run = tmp_path / "mas_shared_drain" / "run1" / "spool"
    run.mkdir(parents=True)
    registry.track_scratch_dir(str(run.parent))
    registry.release_caches()
    assert list(tmp_path.iterdir()) == []
    (tmp_path / "mas_ckpt" / "q_busy").mkdir(parents=True)
    run.mkdir(parents=True)
    registry.track_scratch_dir(str(run.parent))
    registry.release_caches()
    assert sorted(str(p.relative_to(tmp_path)) for p in tmp_path.rglob("*")) == [
        "mas_ckpt", "mas_ckpt/q_busy"]
