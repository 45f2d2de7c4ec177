"""Engine command-surface tests: the reference's 11 verbs (builder.rs:29-80)
plus the lifecycle semantics it only sketches (COW atomicity, dimension
enforcement, WAL maintenance)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vrod_spark.engine import Engine
from vrod_spark.errors import (
    CollectionNotFoundError,
    CommandArgError,
    DatabaseExistsError,
    DatabaseNotFoundError,
    DimensionMismatchError,
    UnrecognizedCommandError,
)
from vrod_spark.operators.ann import recall_at_k
from vrod_spark.operators.knn import knn_exact
from vrod_spark.sources.tables import load_table


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine.create(spark, str(tmp_path), "testdb")


def records_df(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select(
            F.col("vec_id").alias("id"),
            "embedding",
            F.col("text").alias("payload"),
            F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")).alias(
                "meta"
            ),
        )
    )


# -- lifecycle (setup.rs:3-26, main.rs:51-62) ------------------------------
def test_create_database_fails_if_exists(spark, tmp_path):
    Engine.create(spark, str(tmp_path), "db1")
    with pytest.raises(DatabaseExistsError):
        Engine.create(spark, str(tmp_path), "db1")


def test_create_writes_config_and_wal(spark, tmp_path):
    eng = Engine.create(spark, str(tmp_path), "db2")
    assert os.path.isfile(os.path.join(eng.db.path, "vr_config"))
    assert os.path.isfile(os.path.join(eng.db.path, "vr_wal"))


def test_load_database_roundtrip(spark, tmp_path):
    eng = Engine.create(spark, str(tmp_path), "db3")
    eng2 = Engine.load(spark, eng.db.path)
    assert eng2.db.config["name"] == "db3"
    with pytest.raises(DatabaseNotFoundError):
        Engine.load(spark, str(tmp_path / "nope"))


def test_unrecognized_command(engine):
    with pytest.raises(UnrecognizedCommandError):
        engine.execute("FROBNICATE")


# -- DDL -------------------------------------------------------------------
def test_create_list_drop_collection(engine):
    engine.execute("CREATE", collection="c1")
    engine.execute("CREATE", collection="c2")
    res = engine.execute("LISTCOLLECTIONS")
    assert res.info["collections"] == ["c1", "c2"]
    assert [r["collection"] for r in res.df.collect()] == ["c1", "c2"]
    engine.execute("DROP", collection="c1")
    assert engine.execute("LISTCOLLECTIONS").info["collections"] == ["c2"]
    with pytest.raises(CollectionNotFoundError):
        engine.execute("DROP", collection="c1")


# -- ingest ----------------------------------------------------------------
def test_insert_and_search(engine):
    engine.execute("CREATE", collection="vec")
    rows = [
        {"id": 1, "embedding": [1.0, 0.0], "payload": "alpha", "meta": {"k": "a"}},
        {"id": 2, "embedding": [0.0, 1.0], "payload": "beta", "meta": {"k": "b"}},
    ]
    res = engine.execute("INSERT", collection="vec", arg=rows)
    assert res.info["rows"] == 2
    hits = engine.execute("SEARCH", collection="vec", arg="payload like 'al%'").df.collect()
    assert [r["id"] for r in hits] == [1]
    # meta-map predicate
    hits = engine.execute("SEARCH", collection="vec", arg="meta['k'] = 'b'").df.collect()
    assert [r["id"] for r in hits] == [2]


def test_dimension_enforced(engine):
    engine.execute("CREATE", collection="vec")
    engine.execute(
        "INSERT", collection="vec", arg=[{"id": 1, "embedding": [1.0, 2.0], "payload": "x"}]
    )
    with pytest.raises(DimensionMismatchError):
        engine.execute(
            "INSERT",
            collection="vec",
            arg=[{"id": 2, "embedding": [1.0, 2.0, 3.0], "payload": "y"}],
        )
    with pytest.raises(DimensionMismatchError):
        engine.execute("SEARCHSIMILAR", collection="vec", arg={"vector": [1.0], "k": 1})


def test_bulkinsert_parquet(engine, spark, sf_dir):
    engine.execute("CREATE", collection="emb")
    df = records_df(spark, sf_dir)
    res = engine.execute("BULKINSERT", collection="emb", arg=df)
    assert res.info["rows"] == 500
    col = engine.db.collection("emb")
    assert col.meta["dimension"] == 64
    assert col.read().count() == 500


def test_insert_is_incremental_not_rewrite(engine, spark):
    """Append commits hard-link prior files — O(delta), not O(table)."""
    engine.execute("CREATE", collection="vec")
    engine.execute("INSERT", collection="vec", arg=[{"id": 1, "embedding": [1.0], "payload": "a"}])
    col = engine.db.collection("vec")
    v1_files = set(os.listdir(col.version_dir(1)))
    engine.execute("INSERT", collection="vec", arg=[{"id": 2, "embedding": [2.0], "payload": "b"}])
    v2_files = set(os.listdir(col.version_dir(2)))
    data_v1 = {f for f in v1_files if f.endswith(".parquet")}
    assert data_v1 <= v2_files  # prior data files reused (linked), not rewritten
    assert col.read().count() == 2


# -- COW update/delete -----------------------------------------------------
def test_update_cow(engine):
    engine.execute("CREATE", collection="vec")
    engine.execute(
        "INSERT",
        collection="vec",
        arg=[
            {"id": 1, "embedding": [1.0], "payload": "old"},
            {"id": 2, "embedding": [2.0], "payload": "keep"},
        ],
    )
    col = engine.db.collection("vec")
    v_before = col.version
    res = engine.execute(
        "UPDATE", collection="vec", arg={"where": "id = 1", "set": {"payload": "'new'"}}
    )
    assert res.info["matched"] == 1
    assert col.version == v_before + 1
    rows = {r["id"]: r["payload"] for r in col.read().collect()}
    assert rows == {1: "new", 2: "keep"}
    # old snapshot still intact on disk until TRUNCATEWAL (reader isolation)
    old = engine.spark.read.schema(col.meta["schema"]).parquet(col.version_dir(v_before))
    assert {r["payload"] for r in old.collect()} == {"old", "keep"}


def test_delete_and_truncatewal(engine):
    engine.execute("CREATE", collection="vec")
    engine.execute(
        "INSERT",
        collection="vec",
        arg=[{"id": i, "embedding": [float(i)], "payload": f"p{i}"} for i in range(10)],
    )
    res = engine.execute("DELETE", collection="vec", arg="id >= 5")
    assert res.info["deleted"] == 5
    col = engine.db.collection("vec")
    assert sorted(r["id"] for r in col.read().collect()) == [0, 1, 2, 3, 4]
    assert len(col.wal_entries()) >= 2
    n_versions_before = len([d for d in os.listdir(col.path) if d.startswith("v")])
    assert n_versions_before > 1
    info = engine.execute("TRUNCATEWAL", collection="vec").info
    assert info["removed_versions"]
    # the log restarts from a CHECKPOINT naming the surviving snapshot
    # (an empty log would leave it with no commit record — invisible to
    # HISTORY and un-RESTORE-able once the next commit lands)
    entries = col.wal_entries()
    assert [e["op"] for e in entries] == ["CHECKPOINT"]
    assert entries[0]["version"] == col.version
    assert sorted(r["id"] for r in col.read().collect()) == [0, 1, 2, 3, 4]
    # the checkpoint stays restorable across later commits
    engine.execute("INSERT", collection="vec", arg=[{"id": 99, "payload": "x"}])
    assert (
        engine.execute(
            "RESTORE", collection="vec", arg=entries[0]["version"]
        ).info["rows"]
        == 5
    )


def test_delete_by_id_list(engine):
    engine.execute("CREATE", collection="vec")
    engine.execute(
        "INSERT",
        collection="vec",
        arg=[{"id": i, "embedding": [float(i)], "payload": "x"} for i in range(4)],
    )
    engine.execute("DELETE", collection="vec", arg=[1, 3])
    col = engine.db.collection("vec")
    assert sorted(r["id"] for r in col.read().collect()) == [0, 2]


# -- SEARCHSIMILAR / REINDEX ----------------------------------------------
def test_searchsimilar_exact_matches_knn(engine, spark, sf_dir):
    engine.execute("CREATE", collection="emb")
    engine.execute("BULKINSERT", collection="emb", arg=records_df(spark, sf_dir))
    col = engine.db.collection("emb")
    qv = [float(x) for x in col.read().filter("id = 0").first()["embedding"]]
    res = engine.execute("SEARCHSIMILAR", collection="emb", arg={"vector": qv, "k": 5}).df
    expect = knn_exact(col.read(), qv, 5, vec_col="embedding", id_col="id", payload_cols=("payload",))
    assert [r["id"] for r in res.collect()] == [r["id"] for r in expect.collect()]
    assert res.first()["id"] == 0  # query vector finds itself


def test_searchsimilar_string_arg(engine):
    engine.execute("CREATE", collection="vec")
    engine.execute(
        "INSERT",
        collection="vec",
        arg=[
            {"id": 1, "embedding": [1.0, 0.0], "payload": "a"},
            {"id": 2, "embedding": [0.0, 1.0], "payload": "b"},
            {"id": 3, "embedding": [0.9, 0.1], "payload": "c"},
        ],
    )
    res = engine.execute("SEARCHSIMILAR", collection="vec", arg="1.0,0.0;k=2").df
    assert [r["id"] for r in res.collect()] == [1, 3]


def test_reindex_and_ann_search(engine, spark, sf_dir):
    engine.execute("CREATE", collection="emb")
    engine.execute("BULKINSERT", collection="emb", arg=records_df(spark, sf_dir))
    info = engine.execute("REINDEX", collection="emb").info
    assert info["indexed"] and info["buckets"] > 1
    col = engine.db.collection("emb")
    assert col.meta["index"]["kind"] == "sign_lsh"
    assert col.read().count() == 500  # logical schema unchanged

    # NOTE: the driver embeddings are uniform on the unit sphere (verified:
    # same-label and cross-label mean distances are identical), so ANY ANN
    # index's recall ≈ scanned fraction here. The bounds below are
    # calibrated to that worst case; on real clustered embeddings the same
    # index concentrates neighbors into few buckets.
    qv = [float(x) for x in col.read().filter("id = 7").first()["embedding"]]
    exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
    approx = engine.execute("SEARCHSIMILAR", collection="emb", arg={"vector": qv, "k": 10}).df
    r = recall_at_k(approx, exact)
    assert r >= 0.2, f"LSH recall too low: {r}"

    def search(candidate_factor):
        arg = {"vector": qv, "k": 10, "candidate_factor": candidate_factor}
        return engine.execute("SEARCHSIMILAR", collection="emb", arg=arg).df

    # larger candidate budget → higher recall (monotone knob)
    wide = search(40)
    assert recall_at_k(wide, exact) >= r

    # probing every bucket must reproduce the exact result (ANN → exact limit)
    full = search(10**6)
    assert recall_at_k(full, exact) == 1.0


def _small_lsh_collection(engine):
    """Collection "emb": 200 seeded 8-dim Gaussian vectors, sign-LSH
    REINDEXed; returns the vectors (row ``i`` has id ``i``)."""
    import numpy as np

    x = np.random.default_rng(5).normal(size=(200, 8))
    engine.execute("CREATE", collection="emb")
    engine.execute(
        "INSERT",
        collection="emb",
        arg=[{"id": i, "embedding": [float(v) for v in row], "payload": "p"} for i, row in enumerate(x)],
    )
    assert engine.execute("REINDEX", collection="emb").info["indexed"]
    return x


def test_indexed_search_reads_the_snapshot_it_resolved(engine, monkeypatch):
    """SEARCHSIMILAR resolves its snapshot once. A DELETE that commits
    while the index search is choosing buckets drops the index and
    rewrites the snapshot flat; the search must still answer, from the
    bucketed version it resolved (the deleted row is its top hit)."""
    import vrod_spark.operators.ann as ann

    x = _small_lsh_collection(engine)
    col = engine.db.collection("emb")
    resolved = col.version
    real = ann.candidate_buckets

    def racing(*args, **kwargs):
        engine.execute("DELETE", collection="emb", arg="id = 7")
        return real(*args, **kwargs)

    monkeypatch.setattr(ann, "candidate_buckets", racing)
    rows = engine.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": list(x[7]), "k": 10}
    ).df.collect()
    assert col.version == resolved + 1 and col.live_index() is None
    assert len(rows) == 10
    assert rows[0]["id"] == 7


def test_indexed_search_builds_no_exact_read(engine, monkeypatch):
    """The indexed path scans only the probed buckets: it never builds
    the exact path's ``Collection.read`` (a listing of every bucket
    directory)."""
    from vrod_spark.catalog import Collection

    x = _small_lsh_collection(engine)

    def boom(*args, **kwargs):
        raise AssertionError("indexed SEARCHSIMILAR called Collection.read")

    monkeypatch.setattr(Collection, "read", boom)
    rows = engine.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": list(x[3]), "k": 10}
    ).df.collect()
    assert len(rows) == 10 and rows[0]["id"] == 3


def test_indexed_insert_is_odelta_and_keeps_index(engine, spark, sf_dir):
    """INSERT into an indexed collection must NOT rewrite the snapshot or
    invalidate the index (VERDICT r1 #5): the delta is bucket-assigned with
    the index's own hash and appended into the existing bucket= dirs; prior
    data files are hard-linked (same inode), and the histogram grows by the
    delta count so SEARCHSIMILAR keeps pruning correctly."""
    engine.execute("CREATE", collection="emb")
    engine.execute("BULKINSERT", collection="emb", arg=records_df(spark, sf_dir))
    engine.execute("REINDEX", collection="emb")
    col = engine.db.collection("emb")
    idx_before = col.meta["index"]
    assert idx_before
    before_dir = col.version_dir()
    inodes = {}
    for root, _dirs, files in os.walk(before_dir):
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, f), before_dir)
                inodes[rel] = os.stat(os.path.join(root, f)).st_ino

    query_vec = [0.25] * 64
    engine.execute(
        "INSERT",
        collection="emb",
        arg=[{"id": 10_000, "embedding": query_vec, "payload": "new"}],
    )
    meta = col.meta
    assert meta["index"] is not None  # index SURVIVES the append
    assert meta["index"]["kind"] == idx_before.get("kind", "sign_lsh")
    after_dir = col.version_dir()
    assert after_dir != before_dir
    # Every prior data file is the SAME inode (hard-linked, not rewritten).
    for rel, ino in inodes.items():
        assert os.stat(os.path.join(after_dir, rel)).st_ino == ino
    # Histogram accounts for exactly the delta.
    assert sum(meta["index"]["histogram"].values()) == sum(
        idx_before["histogram"].values()
    ) + 1
    assert col.read().count() == 501
    # The freshly appended vector is findable through the pruned ANN path
    # (its own bucket is always probed first; distance 0 wins).
    hit = engine.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": query_vec, "k": 1}
    ).df.collect()
    assert [r["id"] for r in hit] == [10_000]


# -- arg validation --------------------------------------------------------
def test_missing_args(engine):
    engine.execute("CREATE", collection="c")
    with pytest.raises(CommandArgError):
        engine.execute("INSERT", collection="c")
    with pytest.raises(CommandArgError):
        engine.execute("SEARCH")
    with pytest.raises(CommandArgError):
        engine.execute("UPDATE", collection="c", arg={"where": "id=1"})


def test_reindex_ivf_and_search(engine, spark, sf_dir):
    engine.execute("CREATE", collection="emb")
    engine.execute("BULKINSERT", collection="emb", arg=records_df(spark, sf_dir))
    info = engine.execute("REINDEX", collection="emb", arg={"kind": "ivf", "n_centroids": 16}).info
    assert info["indexed"] and info["kind"] == "ivf" and info["buckets"] > 1
    col = engine.db.collection("emb")
    assert col.meta["index"]["kind"] == "ivf"
    assert col.read().count() == 500

    qv = [float(x) for x in col.read().filter("id = 11").first()["embedding"]]
    exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
    approx = engine.execute("SEARCHSIMILAR", collection="emb", arg={"vector": qv, "k": 10}).df
    r = recall_at_k(approx, exact)
    assert r >= 0.2, f"IVF recall too low: {r}"
    assert approx.first()["id"] == 11  # query vector's own row is found

    def search(candidate_factor):
        arg = {"vector": qv, "k": 10, "candidate_factor": candidate_factor}
        return engine.execute("SEARCHSIMILAR", collection="emb", arg=arg).df

    # recall is monotone in candidate budget and exact in the limit
    wide = search(40)
    assert recall_at_k(wide, exact) >= r
    full = search(10**6)
    assert recall_at_k(full, exact) == 1.0

    # mutations invalidate IVF like any index
    engine.execute("DELETE", collection="emb", arg="id = 499")
    assert col.meta["index"] is None


def test_reindex_unknown_kind_rejected(engine):
    engine.execute("CREATE", collection="c")
    with pytest.raises(CommandArgError):
        engine.execute("REINDEX", collection="c", arg={"kind": "hnsw"})


def test_reindex_pq_and_search(engine, spark, sf_dir):
    """REINDEX {"kind": "pq"} through the verb surface (VERDICT r7 #1):
    the snapshot is rewritten FLAT with an m-byte pq_code column, the
    logical schema is unchanged, and SEARCHSIMILAR routes through the
    ADC-scan → bounded-exact-rescore path with the same result schema as
    exact kNN."""
    engine.execute("CREATE", collection="emb")
    engine.execute("BULKINSERT", collection="emb", arg=records_df(spark, sf_dir))
    info = engine.execute("REINDEX", collection="emb", arg={"kind": "pq"}).info
    assert info["indexed"] and info["kind"] == "pq"
    col = engine.db.collection("emb")
    assert col.meta["index"]["kind"] == "pq"
    assert col.meta["index"]["m"] == 8
    assert col.read().count() == 500
    assert "pq_code" not in col.read().columns  # logical schema unchanged
    raw = spark.read.parquet(col.version_dir())
    assert "pq_code" in raw.columns
    assert len(bytes(raw.first()["pq_code"])) == 8  # 256 B float32 → 8 B

    qv = [float(x) for x in col.read().filter("id = 3").first()["embedding"]]
    approx = engine.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": qv, "k": 10}
    ).df
    rows = approx.collect()
    assert rows[0]["id"] == 3 and rows[0]["dist"] == 0.0  # exact rescore
    exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
    r = recall_at_k(approx, exact)
    assert r >= 0.5, f"PQ recall too low: {r}"

    # prefilter applies BEFORE candidate selection: every hit satisfies it
    filt = engine.execute(
        "SEARCHSIMILAR",
        collection="emb",
        arg={"vector": qv, "k": 5, "where": "id % 2 = 0"},
    ).df.collect()
    assert len(filt) == 5 and all(r["id"] % 2 == 0 for r in filt)

    # mutations invalidate PQ like any index
    engine.execute("DELETE", collection="emb", arg="id = 499")
    assert col.meta["index"] is None


def test_reindex_ivfpq_delta_insert_and_search(engine, spark, sf_dir):
    """REINDEX {"kind": "ivfpq"}: bucket-partitioned layout × pq_code
    column; O(delta) INSERT survives (bucket-assigned AND pq-encoded with
    the stored codebooks, histogram grows by the delta) and the appended
    vector is findable through the pruned ADC path."""
    engine.execute("CREATE", collection="emb")
    engine.execute("BULKINSERT", collection="emb", arg=records_df(spark, sf_dir))
    info = engine.execute(
        "REINDEX", collection="emb", arg={"kind": "ivfpq", "n_centroids": 16}
    ).info
    assert info["indexed"] and info["kind"] == "ivfpq" and info["buckets"] > 1
    col = engine.db.collection("emb")
    idx_before = col.meta["index"]
    assert idx_before["kind"] == "ivfpq" and "codebooks" in idx_before

    dim = int(col.meta["dimension"])
    delta_vec = [1.0 / (dim ** 0.5)] * dim
    engine.execute(
        "INSERT",
        collection="emb",
        arg=[{"id": 77_000, "embedding": delta_vec, "payload": "delta"}],
    )
    meta = col.meta
    assert meta["index"] is not None and meta["index"]["kind"] == "ivfpq"
    assert sum(meta["index"]["histogram"].values()) == sum(
        idx_before["histogram"].values()
    ) + 1
    # the delta row carries a code encoded with the SAME codebooks
    raw = spark.read.parquet(col.version_dir())
    drow = raw.filter("id = 77000").first()
    assert len(bytes(drow["pq_code"])) == 8
    hit = engine.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": delta_vec, "k": 1}
    ).df.collect()
    assert [r["id"] for r in hit] == [77_000] and hit[0]["dist"] == 0.0

    qv = [float(x) for x in col.read().filter("id = 11").first()["embedding"]]
    approx = engine.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": qv, "k": 10}
    ).df
    assert approx.first()["id"] == 11
    exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
    r = recall_at_k(approx, exact)
    assert r >= 0.2, f"IVF-PQ recall too low: {r}"


def test_searchsimilar_recall_knobs_exact_in_the_limit(engine, spark, sf_dir):
    """The verb surface exposes the monotone recall knobs: SEARCHSIMILAR
    arg {"candidate_factor"} (sign-LSH/IVF bucket probing) and
    {"rescore_factor"} (PQ ADC survivor budget). Pushed to the limit,
    every index kind must reproduce EXACT kNN through the verb."""
    engine.execute("CREATE", collection="emb")
    engine.execute("BULKINSERT", collection="emb", arg=records_df(spark, sf_dir))
    col = engine.db.collection("emb")
    qv = [float(x) for x in col.read().filter("id = 5").first()["embedding"]]
    exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")

    engine.execute("REINDEX", collection="emb", arg={"kind": "ivf", "n_centroids": 16})
    full_ivf = engine.execute(
        "SEARCHSIMILAR",
        collection="emb",
        arg={"vector": qv, "k": 10, "candidate_factor": 10**6},
    ).df
    assert recall_at_k(full_ivf, exact) == 1.0

    engine.execute("REINDEX", collection="emb", arg={"kind": "ivfpq", "n_centroids": 16})
    # rescore budget >= corpus: ADC passes everything to the exact rescore
    full_pq = engine.execute(
        "SEARCHSIMILAR",
        collection="emb",
        arg={"vector": qv, "k": 10, "rescore_factor": 1000},
    ).df
    assert recall_at_k(full_pq, exact) == 1.0


def test_compact_preserves_pq_layout(engine, spark, sf_dir):
    """Compaction of a pq-indexed (flat + code column) snapshot keeps the
    stored codes — maintenance must never degrade the search path."""
    engine.execute("CREATE", collection="emb")
    engine.execute("BULKINSERT", collection="emb", arg=records_df(spark, sf_dir))
    engine.execute("REINDEX", collection="emb", arg={"kind": "pq"})
    col = engine.db.collection("emb")
    codes_before = {
        r["id"]: bytes(r["pq_code"])
        for r in spark.read.parquet(col.version_dir()).select("id", "pq_code").collect()
    }
    out = col.compact(target_partitions=1)
    assert out["rows"] == 500
    after = spark.read.parquet(col.version_dir())
    codes_after = {
        r["id"]: bytes(r["pq_code"]) for r in after.select("id", "pq_code").collect()
    }
    assert codes_after == codes_before
    qv = [float(x) for x in col.read().filter("id = 0").first()["embedding"]]
    hit = engine.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": qv, "k": 1}
    ).df.first()
    assert hit["id"] == 0


def test_single_job_per_mutation_commit(engine, spark):
    """Each INSERT/UPDATE/DELETE commit runs exactly ONE Spark job: counts
    and dimension checks ride the write via df.observe (VERDICT r1 #4) —
    no validation pre-pass, no post-write re-read."""
    engine.execute("CREATE", collection="vec")
    sc = spark.sparkContext

    def jobs_for(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("outside", "outside")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_for(
        "g-ins",
        lambda: engine.execute(
            "INSERT",
            collection="vec",
            arg=[{"id": 1, "embedding": [1.0, 0.0], "payload": "a"}],
        ),
    ) == 1
    assert jobs_for(
        "g-upd",
        lambda: engine.execute(
            "UPDATE", collection="vec", arg={"where": "id = 1", "set": {"payload": "'b'"}}
        ),
    ) == 1
    assert jobs_for(
        "g-del", lambda: engine.execute("DELETE", collection="vec", arg="id = 1")
    ) == 1


def test_partitioned_collection_layout_and_pruning(engine, spark):
    """Meta-key-partitioned collection: inserts land in pk=<val>/ dirs,
    SEARCH on that key partition-prunes the scan, UPDATE moves rows across
    partitions, and OR-predicates are never (unsoundly) pruned."""
    from vrod_spark.plans.inspect import explain_str

    engine.execute("CREATE", collection="parts", arg={"partition_by": "region"})
    regions = ["EU", "US", "APAC"]
    rows = [
        {
            "id": i,
            "embedding": [float(i), 1.0],
            "payload": f"p{i}",
            "meta": {"region": regions[i % 3]},
        }
        for i in range(30)
    ]
    engine.execute("INSERT", collection="parts", arg=rows)
    col = engine.db.collection("parts")
    assert {e for e in os.listdir(col.version_dir()) if e.startswith("pk=")} == {
        "pk=EU",
        "pk=US",
        "pk=APAC",
    }

    res = engine.execute("SEARCH", collection="parts", arg="meta['region'] = 'EU'")
    assert [r["id"] for r in res.df.collect()] == [i for i in range(30) if i % 3 == 0]
    plan = explain_str(res.df, "formatted")
    assert "PartitionFilters" in plan and "pk" in plan.split("PartitionFilters")[1][:120]

    # UPDATE that changes the partition key physically moves the row.
    engine.execute(
        "UPDATE",
        collection="parts",
        arg={"where": "id = 0", "set": {"meta": "map('region', 'US')"}},
    )
    ids_eu = {r["id"] for r in
              engine.execute("SEARCH", collection="parts", arg="meta['region'] = 'EU'").df.collect()}
    assert 0 not in ids_eu

    # OR predicate: pruning conjunction would be unsound — must NOT apply.
    ids_or = {r["id"] for r in
              engine.execute("SEARCH", collection="parts",
                             arg="meta['region'] = 'EU' OR id = 1").df.collect()}
    assert 1 in ids_or and ids_eu <= ids_or

    # REINDEX must refuse (one physical clustering per collection).
    with pytest.raises(CommandArgError):
        engine.execute("REINDEX", collection="parts")


def test_partitioned_read_raw_survives_stale_index_debris(engine, spark):
    """ADVICE r14: stale index meta (a killed REINDEX's never-committed
    version stamp) on a partition_by collection must NOT push read_raw()
    onto the flat read() path — that projects ``pk`` away and SEARCH's
    pk-pruned scan then dies on the missing column. read_raw gates on
    live_index(), so debris keeps the pk-bearing partitioned read and
    pruned SEARCH degrades to nothing worse than the exact path."""
    engine.execute("CREATE", collection="pdbg", arg={"partition_by": "region"})
    rows = [
        {
            "id": i,
            "embedding": [float(i)],
            "payload": f"p{i}",
            "meta": {"region": "EU" if i % 2 == 0 else "US"},
        }
        for i in range(10)
    ]
    engine.execute("INSERT", collection="pdbg", arg=rows)
    col = engine.db.collection("pdbg")
    # Inject debris: an index stamped with a version that never committed
    # (exactly what a REINDEX killed between meta-write and pointer-swap
    # leaves behind). live_index() must read it as no-index.
    col.update_meta(index={"kind": "lsh", "planes": 4, "version": 9999})
    assert col.meta.get("index") is not None
    assert col.live_index() is None
    assert "pk" in col.read_raw().columns
    res = engine.execute("SEARCH", collection="pdbg", arg="meta['region'] = 'EU'")
    assert [r["id"] for r in res.df.collect()] == [0, 2, 4, 6, 8]


def test_failed_ingest_leaves_no_residue(engine, spark):
    """A dimension-violating ingest must abort WITHOUT committing: version
    pointer unchanged, no staging directory left behind, collection still
    readable with the old contents."""
    engine.execute("CREATE", collection="vec")
    engine.execute(
        "INSERT", collection="vec", arg=[{"id": 1, "embedding": [1.0, 0.0], "payload": "a"}]
    )
    col = engine.db.collection("vec")
    v_before = col.version
    with pytest.raises(DimensionMismatchError):
        engine.execute(
            "INSERT",
            collection="vec",
            arg=[{"id": 2, "embedding": [1.0, 2.0, 3.0], "payload": "bad"}],
        )
    assert col.version == v_before
    assert not [e for e in os.listdir(col.path) if e.startswith(".staging-")]
    assert [r["id"] for r in col.read().collect()] == [1]


def test_dedup_verb_exact_and_minhash(engine):
    """DEDUP verb: exact strategy removes byte-identical payloads
    keep-first; minhash strategy removes planted near-duplicates. Both are
    COW commits (version bumps, old snapshot intact)."""
    engine.execute("CREATE", collection="docs")
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        {"id": 1, "embedding": [1.0], "payload": base},
        {"id": 2, "embedding": [1.0], "payload": base},            # exact dup of 1
        {"id": 3, "embedding": [1.0], "payload": base + " extra"}, # near-dup of 1
        {"id": 4, "embedding": [1.0], "payload": "completely different text entirely here"},
    ]
    engine.execute("INSERT", collection="docs", arg=rows)

    info = engine.execute("DEDUP", collection="docs").info
    assert info["strategy"] == "exact" and info["removed"] == 1
    col = engine.db.collection("docs")
    assert sorted(r["id"] for r in col.read().collect()) == [1, 3, 4]

    info = engine.execute(
        "DEDUP", collection="docs", arg={"strategy": "minhash", "threshold": 0.5}
    ).info
    assert info["removed"] == 1  # id 3 (near-dup of 1) dropped, 4 kept
    assert sorted(r["id"] for r in col.read().collect()) == [1, 4]


def test_dedup_verb_incremental_since_version(engine):
    """DEDUP {"since_version": V} is MONOTONE: rows in snapshot V are
    established and NEVER drop — even when a later row has a smaller id
    (global keep-first would flip the old survivor); delta rows drop
    when they duplicate established content or an earlier delta row.
    Holds for the exact digest path and the near-dup closure path, and
    composes with dry_run."""
    import pytest

    from vrod_spark.errors import CommandArgError

    engine.execute("CREATE", collection="docs")
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    other = "completely different text entirely here with many more words"
    engine.execute(
        "INSERT",
        collection="docs",
        arg=[
            {"id": 10, "embedding": [1.0], "payload": base},
            {"id": 11, "embedding": [1.0], "payload": other},
        ],
    )
    col = engine.db.collection("docs")
    v_est = col.version
    # Delta: id 0 duplicates established 10 (smaller id — the monotone
    # trap); 20/21 duplicate each other; 22 is novel.
    engine.execute(
        "INSERT",
        collection="docs",
        arg=[
            {"id": 0, "embedding": [1.0], "payload": base},
            {"id": 20, "embedding": [1.0], "payload": "novel delta text one two"},
            {"id": 21, "embedding": [1.0], "payload": "novel delta text one two"},
            {"id": 22, "embedding": [1.0], "payload": "another novel delta body"},
        ],
    )
    # dry_run first: reports {0, 21}, no rewrite.
    res = engine.execute(
        "DEDUP",
        collection="docs",
        arg={"strategy": "exact", "since_version": v_est, "dry_run": True},
    )
    assert sorted(r["id"] for r in res.df.collect()) == [0, 21]
    v_before = col.version
    info = engine.execute(
        "DEDUP", collection="docs", arg={"strategy": "exact", "since_version": v_est}
    ).info
    assert info["removed"] == 2 and info["since_version"] == v_est
    assert col.version == v_before + 1
    assert sorted(r["id"] for r in col.read().collect()) == [10, 11, 20, 22]
    # Global exact dedup on the same corpus WOULD have kept 0 over 10.

    # Near-dup closure path (minhash): established near-dup target keeps
    # winning against a smaller-id delta; delta-delta pair keeps first.
    engine.execute("CREATE", collection="nd")
    engine.execute(
        "INSERT",
        collection="nd",
        arg=[{"id": 10, "embedding": [1.0], "payload": base}],
    )
    ncol = engine.db.collection("nd")
    v_est2 = ncol.version
    engine.execute(
        "INSERT",
        collection="nd",
        arg=[
            {"id": 0, "embedding": [1.0], "payload": base + " extra"},
            {"id": 20, "embedding": [1.0], "payload": other},
            {"id": 21, "embedding": [1.0], "payload": other + " more"},
        ],
    )
    info = engine.execute(
        "DEDUP",
        collection="nd",
        arg={"strategy": "minhash", "threshold": 0.5, "since_version": v_est2},
    ).info
    assert info["removed"] == 2
    assert sorted(r["id"] for r in ncol.read().collect()) == [10, 20]

    # Corpus-global strategies reject since_version loudly.
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP",
            collection="nd",
            arg={"strategy": "semdedup", "since_version": v_est2},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP",
            collection="nd",
            arg={"strategy": "spans", "since_version": v_est2},
        )


def test_dedup_verb_incremental_string_ids(engine):
    """since_version composes with the hashed-id mapping: string-id
    collections run the closure on xxhash64 longs but the established
    flag and the min-delta keep decision use ORIGINAL ids."""
    engine.db.create_collection(
        "sdocs",
        schema="id string, embedding array<float>, payload string, meta map<string,string>",
    )
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    engine.execute(
        "INSERT",
        collection="sdocs",
        arg=[{"id": "zzz", "embedding": [1.0], "payload": base, "meta": None}],
    )
    col = engine.db.collection("sdocs")
    v_est = col.version
    engine.execute(
        "INSERT",
        collection="sdocs",
        arg=[
            # 'aaa' sorts before the established 'zzz' — must still drop.
            {"id": "aaa", "embedding": [1.0], "payload": base + " tail", "meta": None},
            {"id": "mmm", "embedding": [1.0], "payload": "unrelated fresh words here", "meta": None},
        ],
    )
    info = engine.execute(
        "DEDUP",
        collection="sdocs",
        arg={"strategy": "minhash", "threshold": 0.5, "since_version": v_est},
    ).info
    assert info["removed"] == 1
    assert sorted(r["id"] for r in col.read().collect()) == ["mmm", "zzz"]


def test_dedup_verb_is_transitive(engine):
    """The near-dup keep-rule closes pairs into components: a chain
    1 ~ 3 ~ 2 (bridge doc 3 has the LARGEST id; 1 and 2 are NOT a pair
    themselves) must collapse to just {1}. The old pairwise rule "drop
    the larger id of each pair" would only drop 3 and leave both 1 and 2
    alive — the transitivity gap this test pins shut."""
    import math

    engine.execute("CREATE", collection="vecs")
    a = math.radians(2.5)   # cos(a) ≈ 0.99905 ≥ 0.999; cos(2a) ≈ 0.99619 < 0.999
    rows = [
        {"id": 1, "embedding": [1.0, 0.0, 0.0], "payload": "a"},
        {"id": 2, "embedding": [math.cos(2 * a), math.sin(2 * a), 0.0], "payload": "b"},
        {"id": 3, "embedding": [math.cos(a), math.sin(a), 0.0], "payload": "bridge"},
        {"id": 4, "embedding": [0.0, 0.0, 1.0], "payload": "far"},
    ]
    engine.execute("INSERT", collection="vecs", arg=rows)
    info = engine.execute(
        "DEDUP", collection="vecs", arg={"strategy": "embedding", "threshold": 0.999}
    ).info
    assert info["removed"] == 2
    col = engine.db.collection("vecs")
    assert sorted(r["id"] for r in col.read().collect()) == [1, 4]


def test_dedup_verb_keep_best(engine):
    """DEDUP keep="best": the highest-scoring member of each near-dup
    component survives instead of the smallest id — with an explicit
    score column, with the derived quality_score fallback, and with the
    deterministic min-id tie-break. Invalid combinations error loudly."""
    import math

    from vrod_spark.errors import CommandArgError

    engine.db.create_collection(
        "scored",
        schema="id bigint, embedding array<float>, payload string, score double",
    )
    a = math.radians(1.0)
    near = lambda k: [math.cos(k * a), math.sin(k * a), 0.0]  # noqa: E731
    rows = [
        {"id": 1, "embedding": near(0), "payload": "a", "score": 0.2},
        {"id": 2, "embedding": near(1), "payload": "b", "score": 0.9},
        {"id": 3, "embedding": near(2), "payload": "c", "score": 0.5},
        {"id": 4, "embedding": [0.0, 0.0, 1.0], "payload": "far", "score": 0.1},
    ]
    engine.execute("INSERT", collection="scored", arg=rows)
    info = engine.execute(
        "DEDUP",
        collection="scored",
        arg={
            "strategy": "embedding",
            "threshold": 0.999,
            "keep": "best",
            "score": "score",
        },
    ).info
    assert info["removed"] == 2
    col = engine.db.collection("scored")
    assert sorted(r["id"] for r in col.read().collect()) == [2, 4]

    # Tie on score -> smallest id survives.
    engine.db.create_collection(
        "tied",
        schema="id bigint, embedding array<float>, payload string, score double",
    )
    engine.execute(
        "INSERT",
        collection="tied",
        arg=[
            {"id": 7, "embedding": near(0), "payload": "x", "score": 0.5},
            {"id": 5, "embedding": near(1), "payload": "y", "score": 0.5},
        ],
    )
    engine.execute(
        "DEDUP",
        collection="tied",
        arg={"strategy": "embedding", "threshold": 0.999, "keep": "best",
             "score": "score"},
    )
    assert [r["id"] for r in engine.db.collection("tied").read().collect()] == [5]

    # Derived quality fallback: no score column named -> quality_score of
    # the text column picks the long clean page over the symbol junk.
    engine.execute("CREATE", collection="qdocs")
    clean = " ".join(f"plain word number {i} in a long clean sentence" for i in range(12))
    engine.execute(
        "INSERT",
        collection="qdocs",
        arg=[
            {"id": 1, "embedding": near(0), "payload": "#$% ^&* !!! ???"},
            {"id": 2, "embedding": near(1), "payload": clean},
        ],
    )
    engine.execute(
        "DEDUP",
        collection="qdocs",
        arg={"strategy": "embedding", "threshold": 0.999, "keep": "best"},
    )
    assert [r["id"] for r in engine.db.collection("qdocs").read().collect()] == [2]

    # Loud rejections: unknown keep rule, missing score column, and the
    # incremental combination (corpus-global rank breaks monotonicity).
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="qdocs",
            arg={"strategy": "embedding", "keep": "bogus"},
        )
    # keep/score on a non-component strategy must error, not silently
    # run keep-first (exact returns before the component machinery).
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="qdocs",
            arg={"strategy": "exact", "keep": "best"},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="qdocs",
            arg={"strategy": "exact", "score": "payload"},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="qdocs",
            arg={"strategy": "embedding", "keep": "best", "score": "nope"},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="qdocs",
            arg={"strategy": "embedding", "keep": "best", "since_version": 1},
        )


def test_dedup_verb_string_ids_transitive(engine):
    """Near-dup DEDUP on a custom string-id schema (ADVICE r7): component
    closure runs on hashed longs, but the keep-rule stays min ORIGINAL id
    (lexicographic) per component — a chain doc-a ~ doc-m ~ doc-z must
    collapse to just doc-a regardless of hash order."""
    import math

    engine.db.create_collection(
        "svecs",
        schema="id string, embedding array<float>, payload string, meta map<string,string>",
    )
    a = math.radians(2.5)
    rows = [
        {"id": "doc-z", "embedding": [1.0, 0.0, 0.0], "payload": "z"},
        {"id": "doc-a", "embedding": [math.cos(2 * a), math.sin(2 * a), 0.0], "payload": "a"},
        {"id": "doc-m", "embedding": [math.cos(a), math.sin(a), 0.0], "payload": "bridge"},
        {"id": "doc-q", "embedding": [0.0, 0.0, 1.0], "payload": "far"},
    ]
    engine.execute("INSERT", collection="svecs", arg=rows)
    info = engine.execute(
        "DEDUP", collection="svecs", arg={"strategy": "embedding", "threshold": 0.999}
    ).info
    assert info["removed"] == 2
    col = engine.db.collection("svecs")
    assert sorted(r["id"] for r in col.read().collect()) == ["doc-a", "doc-q"]


def test_dedup_verb_embedding(engine):
    engine.execute("CREATE", collection="vecs")
    rows = [
        {"id": 1, "embedding": [1.0, 0.0, 0.0], "payload": "a"},
        {"id": 2, "embedding": [1.0, 0.0, 0.0], "payload": "b"},   # exact vector dup
        {"id": 3, "embedding": [0.0, 1.0, 0.0], "payload": "c"},
    ]
    engine.execute("INSERT", collection="vecs", arg=rows)
    info = engine.execute(
        "DEDUP", collection="vecs", arg={"strategy": "embedding", "threshold": 0.999}
    ).info
    assert info["removed"] == 1
    col = engine.db.collection("vecs")
    assert sorted(r["id"] for r in col.read().collect()) == [1, 3]


def test_concurrent_inserts_lose_nothing(engine, spark):
    """8 threads × 3 appends race on one collection: the commit lock
    re-resolves CURRENT per commit, so every delta survives (the unlocked
    design loses whichever linked a stale base)."""
    from concurrent.futures import ThreadPoolExecutor

    engine.execute("CREATE", collection="race")
    col = engine.db.collection("race")

    def worker(t):
        for i in range(3):
            col.insert(
                spark.createDataFrame(
                    [(t * 100 + i, [float(t)], f"w{t}", None)], col.meta["schema"]
                )
            )

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(worker, range(8)))
    assert col.read().count() == 24
    ids = sorted(r["id"] for r in col.read().collect())
    assert ids == sorted(t * 100 + i for t in range(8) for i in range(3))


def test_rewrite_conflict_detected(engine, spark):
    """A rewrite derived from a superseded snapshot must refuse to commit
    (CommitConflictError) instead of silently dropping the concurrent
    append."""
    from vrod_spark.errors import CommitConflictError

    engine.execute("CREATE", collection="cc")
    col = engine.db.collection("cc")
    col.insert(spark.createDataFrame([(1, [1.0], "a", None)], col.meta["schema"]))
    stale_base = col.version
    df = col.read()
    # A concurrent append commits between the read and the rewrite:
    col.insert(spark.createDataFrame([(2, [2.0], "b", None)], col.meta["schema"]))
    with pytest.raises(CommitConflictError):
        col._rewrite(df, "UPDATE", base_version=stale_base)
    # Nothing lost, no pointer moved by the failed rewrite:
    assert sorted(r["id"] for r in col.read().collect()) == [1, 2]


def test_update_retries_through_conflict(engine, spark, monkeypatch):
    """An UPDATE that loses the race retries from the NEW snapshot: inject
    a conflicting append into the first rewrite attempt and assert the
    update both succeeds and sees the appended row untouched."""
    from vrod_spark.catalog import Collection

    engine.execute("CREATE", collection="ret")
    col = engine.db.collection("ret")
    col.insert(spark.createDataFrame([(1, [1.0], "old", None)], col.meta["schema"]))

    real_rewrite = Collection._rewrite
    state = {"injected": False}

    def racing_rewrite(self, df, op, detail=None, observation=None, base_version=None):
        if op == "UPDATE" and not state["injected"]:
            state["injected"] = True
            # A concurrent append commits AFTER this update read its base.
            self.insert(
                spark.createDataFrame([(2, [2.0], "new", None)], self.meta["schema"])
            )
        return real_rewrite(self, df, op, detail=detail, observation=observation,
                            base_version=base_version)

    monkeypatch.setattr(Collection, "_rewrite", racing_rewrite)
    n = col.update("id = 1", {"payload": "'patched'"})
    assert n == 1
    rows = {r["id"]: r["payload"] for r in col.read().collect()}
    assert rows == {1: "patched", 2: "new"}  # neither side lost


def test_partition_pruning_rejects_negated_and_conditional_predicates(engine, spark):
    """ADVICE r2: a pk-equality embedded under NOT / CASE must NOT trigger
    partition pruning — conjoining `pk = lit` there silently flips the
    result. The scan stays unpruned and the predicate evaluates as-is."""
    engine.execute("CREATE", collection="npr", arg={"partition_by": "region"})
    rows = [
        {"id": i, "embedding": [float(i)], "payload": f"p{i}",
         "meta": {"region": "us" if i % 2 == 0 else "eu"}}
        for i in range(10)
    ]
    engine.execute("INSERT", collection="npr", arg=rows)
    col = engine.db.collection("npr")

    # Unit: the literal extractor refuses any negated/conditional context.
    assert col.partition_literal("meta['region'] = 'us'") == "us"
    assert col.partition_literal("NOT meta['region'] = 'us'") is None
    assert col.partition_literal("!(meta['region'] = 'us')") is None
    assert col.partition_literal(
        "CASE WHEN meta['region'] = 'us' THEN id > 0 ELSE false END"
    ) is None
    assert col.partition_literal("if(meta['region'] = 'us', true, false)") is None

    # End-to-end: the NOT query returns the eu rows (the pruned-conjoined
    # plan would return the empty set).
    res = engine.execute("SEARCH", collection="npr", arg="NOT meta['region'] = 'us'")
    assert [r["id"] for r in res.df.collect()] == [1, 3, 5, 7, 9]


def test_insert_conflicts_with_concurrent_reindex(engine, spark, sf_dir, monkeypatch):
    """ADVICE r2: an INSERT staged against one index identity must refuse
    to commit after a concurrent REINDEX replaced the planes/centroids —
    its bucket= delta dirs are hashed with the WRONG function. The guard
    re-reads meta under the commit lock and raises CommitConflictError."""
    from vrod_spark.catalog import Collection
    from vrod_spark.errors import CommitConflictError

    engine.execute("CREATE", collection="rix")
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    records = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        F.lit("x").alias("payload"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    engine.execute("BULKINSERT", collection="rix", arg=records)
    engine.execute("REINDEX", collection="rix")

    real_lock = Collection._commit_lock
    state = {"fired": False}

    def racing_lock(self, timeout: float = 30.0):
        # Before the INSERT acquires the lock, a concurrent REINDEX swaps
        # in a different index identity (different planes).
        if not state["fired"] and self.name == "rix":
            state["fired"] = True
            engine.execute("REINDEX", collection="rix", arg={"n_planes": 3})
        return real_lock(self, timeout)

    monkeypatch.setattr(Collection, "_commit_lock", racing_lock)
    with pytest.raises(CommitConflictError):
        engine.execute(
            "INSERT",
            collection="rix",
            arg=[{"id": 10_000, "embedding": [0.1] * 64, "payload": "late"}],
        )
    monkeypatch.setattr(Collection, "_commit_lock", real_lock)
    # The collection is intact under the NEW index; a retried insert lands.
    engine.execute(
        "INSERT",
        collection="rix",
        arg=[{"id": 10_000, "embedding": [0.1] * 64, "payload": "late"}],
    )
    col = engine.db.collection("rix")
    assert col.read().filter("id = 10000").count() == 1
    assert col.meta["index"] is not None


def test_engine_sql_interleaved_isolation(spark, tmp_path):
    """Two engines each holding a collection named `t` with different
    contents: interleaved sql() calls must resolve their OWN snapshot —
    per-call child sessions mean bare names can never clobber across
    tenants (VERDICT r2 item 5)."""
    eng_a = Engine.create(spark, str(tmp_path), "tenant_a")
    eng_b = Engine.create(spark, str(tmp_path), "tenant_b")
    for eng, tag in ((eng_a, "a"), (eng_b, "b")):
        eng.db.create_collection("t", schema="id bigint, who string")
        eng.execute(
            "BULKINSERT", collection="t",
            arg=spark.createDataFrame([(1, tag), (2, tag)], "id bigint, who string"),
        )
    df_a = eng_a.sql("SELECT who, count(*) AS n FROM t GROUP BY who", "t")
    df_b = eng_b.sql("SELECT who, count(*) AS n FROM t GROUP BY who", "t")
    # Interleaved collection: a's result must be all-'a', b's all-'b'.
    rows_a, rows_b = df_a.collect(), df_b.collect()
    assert [(r["who"], r["n"]) for r in rows_a] == [("a", 2)]
    assert [(r["who"], r["n"]) for r in rows_b] == [("b", 2)]


def test_compact_reports_per_partition_file_counts(engine, spark):
    """Compaction of a pk=-partitioned snapshot reports a per-partition
    file-count map (VERDICT r2 item 7) and preserves the layout."""
    engine.execute("CREATE", collection="cpp", arg={"partition_by": "region"})
    for batch in range(3):  # 3 inserts → 3 delta files per partition
        rows = [
            {"id": batch * 10 + i, "embedding": [1.0], "payload": "x",
             "meta": {"region": reg}}
            for i, reg in enumerate(["us", "eu"])
        ]
        engine.execute("INSERT", collection="cpp", arg=rows)
    col = engine.db.collection("cpp")
    report = col.compact(target_partitions=1)
    per_part = report["files_per_partition"]
    assert set(per_part) == {"pk=us", "pk=eu"}
    assert all(v >= 1 for v in per_part.values())
    assert sum(per_part.values()) == report["files_after"]
    assert col.read().count() == 6


def test_ivfpq_residual_beats_raw_on_clustered_data(spark, tmp_path):
    """Residual IVF-PQ (the IVFADC design, default) vs raw-vector codes
    at identical (m, nbits): on clustered data the codebook models only
    the within-bucket displacement, so pure-ADC ranking (rescore_factor
    pinned to 1 so the exact rescore cannot repair the candidate set)
    recalls strictly more of the true neighbors."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, ncl, per = 16, 8, 50
    centers = rng.normal(size=(ncl, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for c in range(ncl):
        p = centers[c] + 0.12 * rng.normal(size=(per, dim))
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        pts.append(p)
    x = np.vstack(pts)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]], "p", None) for i in range(len(x))],
        "id bigint, embedding array<float>, payload string, meta map<string,string>",
    )

    def build(residual, sub):
        eng = Engine.create(spark, str(tmp_path / sub), "resdb")
        eng.execute("CREATE", collection="emb")
        eng.execute("BULKINSERT", collection="emb", arg=df)
        eng.execute(
            "REINDEX",
            collection="emb",
            arg={
                "kind": "ivfpq", "n_centroids": 8, "m": 4, "nbits": 4,
                "sample_size": 400, "residual": residual,
            },
        )
        return eng

    def mean_recall(eng):
        col = eng.db.collection("emb")
        recs = []
        for qid in (0, 57, 123, 222, 333):
            qv = [float(v) for v in x[qid]]
            approx = eng.execute(
                "SEARCHSIMILAR",
                collection="emb",
                arg={"vector": qv, "k": 10, "rescore_factor": 1},
            ).df
            exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
            recs.append(recall_at_k(approx, exact, id_col="id"))
        return sum(recs) / len(recs)

    res_eng = build(True, "res")
    assert res_eng.db.collection("emb").meta["index"]["residual"] is True
    raw_eng = build(False, "raw")
    assert raw_eng.db.collection("emb").meta["index"]["residual"] is False
    r_res, r_raw = mean_recall(res_eng), mean_recall(raw_eng)
    assert r_res > r_raw, (r_res, r_raw)
    assert r_res >= 0.6

    # O(delta) append into the RESIDUAL index: the delta is encoded
    # against its own bucket centroid and stays findable.
    dvec = [float(v) for v in (centers[3] + 0.05)]
    res_eng.execute(
        "INSERT",
        collection="emb",
        arg=[{"id": 9_999, "embedding": dvec, "payload": "delta"}],
    )
    hit = res_eng.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": dvec, "k": 1}
    ).df.first()
    # dist is float32-storage epsilon, not exactly 0 (the raw components
    # are not float32-representable, unlike the 1/8-valued delta above).
    assert hit["id"] == 9_999 and hit["dist"] < 1e-5


def test_lsh_margin_probing_beats_hamming_at_equal_budget(spark, tmp_path, monkeypatch):
    """Query-directed multi-probe (margin-ordered bucket probing) vs
    plain Hamming shells at the IDENTICAL candidate budget: on clustered
    data the barely-decided hyperplane flips recall more true neighbors
    per scanned row. Also pins that the exact-in-the-limit contract
    survived the reorder."""
    import numpy as np

    import vrod_spark.operators.ann as ann

    rng = np.random.default_rng(3)
    dim, ncl, per = 16, 10, 60
    centers = rng.normal(size=(ncl, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for c in range(ncl):
        p = centers[c] + 0.25 * rng.normal(size=(per, dim))
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        pts.append(p)
    x = np.vstack(pts)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]], "p", None) for i in range(len(x))],
        "id bigint, embedding array<float>, payload string, meta map<string,string>",
    )
    eng = Engine.create(spark, str(tmp_path), "mprobe")
    eng.execute("CREATE", collection="emb")
    eng.execute("BULKINSERT", collection="emb", arg=df)
    eng.execute("REINDEX", collection="emb")
    col = eng.db.collection("emb")

    def search(qv, candidate_factor):
        arg = {"vector": qv, "k": 10, "candidate_factor": candidate_factor}
        return eng.execute("SEARCHSIMILAR", collection="emb", arg=arg).df

    def mean_recall():
        recs = []
        for qid in (0, 111, 222, 333, 444, 555):
            qv = [float(v) for v in x[qid]]
            approx = search(qv, 3)
            exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
            recs.append(recall_at_k(approx, exact, id_col="id"))
        return sum(recs) / len(recs)

    margin = mean_recall()
    monkeypatch.setattr(
        ann,
        "_buckets_by_margin",
        lambda center, margins: (
            b for b, _d in ann._buckets_by_hamming(center, len(margins))
        ),
    )
    hamming = mean_recall()
    assert margin > hamming, (margin, hamming)
    monkeypatch.undo()

    # exact in the limit: probing everything reproduces brute force
    qv = [float(v) for v in x[42]]
    full = search(qv, 10**6)
    exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
    assert recall_at_k(full, exact, id_col="id") == 1.0


def test_dedup_verb_winnow_strategy(engine):
    """DEDUP strategy "winnow": documents sharing a contiguous passage
    (low set-Jaccard — invisible to the minhash strategy at its default
    threshold) collapse keep-first through the MOSS fingerprint-overlap
    candidates + transitive component closure."""
    passage = "the quick brown fox jumps over the lazy dog by the river"
    rows = [
        {"id": 1, "embedding": [1.0], "payload": "alpha beta gamma delta " + passage},
        {"id": 2, "embedding": [1.0], "payload": "one two three four five " + passage},
        {"id": 3, "embedding": [1.0], "payload": "completely different text with no overlap whatsoever"},
    ]
    engine.execute("CREATE", collection="docs")
    engine.execute("INSERT", collection="docs", arg=rows)
    info = engine.execute(
        "DEDUP", collection="docs", arg={"strategy": "winnow", "threshold": 0.3}
    ).info
    assert info["strategy"] == "winnow" and info["removed"] == 1
    col = engine.db.collection("docs")
    assert sorted(r["id"] for r in col.read().collect()) == [1, 3]


def test_opq_rotation_improves_anisotropic_recall(spark, tmp_path):
    """REINDEX {"kind": "pq", "opq": true}: the variance-sum-balanced
    PCA rotation must beat plain PQ at identical (m, nbits) on BOTH
    axis-aligned and randomly-mixed anisotropic data (rescore pinned off
    so the exact pass cannot repair the ADC candidate set), and an
    O(delta) append into the rotated index must encode through the
    stored rotation and stay findable."""
    import numpy as np

    n, d = 600, 16
    scales = np.array([3.0 ** (-i / 3) for i in range(d)])
    q_mix, _ = np.linalg.qr(np.random.default_rng(1).normal(size=(d, d)))
    datasets = {
        "axis": np.random.default_rng(5).normal(size=(n, d)) * scales,
        "mixed": (np.random.default_rng(6).normal(size=(n, d)) * scales) @ q_mix.T,
    }

    for name, x in datasets.items():
        df = spark.createDataFrame(
            [(i, [float(v) for v in x[i]], "p", None) for i in range(n)],
            "id bigint, embedding array<float>, payload string, meta map<string,string>",
        )
        res = {}
        for opq in (True, False):
            eng = Engine.create(spark, str(tmp_path / f"{name}{opq}"), "opqdb")
            eng.execute("CREATE", collection="emb")
            eng.execute("BULKINSERT", collection="emb", arg=df)
            eng.execute(
                "REINDEX",
                collection="emb",
                arg={"kind": "pq", "m": 4, "nbits": 4, "opq": opq},
            )
            col = eng.db.collection("emb")
            assert ("rotation" in col.meta["index"]) is opq
            recs = []
            for qid in (0, 100, 200, 300, 400, 500):
                qv = [float(v) for v in x[qid]]
                approx = eng.execute(
                    "SEARCHSIMILAR",
                    collection="emb",
                    arg={"vector": qv, "k": 10, "rescore_factor": 1},
                ).df
                exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
                recs.append(recall_at_k(approx, exact, id_col="id"))
            res[opq] = sum(recs) / len(recs)
        assert res[True] > res[False], (name, res)
        assert res[True] >= 0.6, (name, res)

    # delta append through the stored rotation (last engine: mixed/plain
    # is gone; rebuild a rotated one and append)
    eng = Engine.create(spark, str(tmp_path / "delta"), "opqdelta")
    eng.execute("CREATE", collection="emb")
    eng.execute("BULKINSERT", collection="emb", arg=df)
    eng.execute(
        "REINDEX", collection="emb", arg={"kind": "pq", "m": 4, "nbits": 4, "opq": True}
    )
    dvec = [float(v) for v in datasets["mixed"][0] + 0.01]
    eng.execute(
        "INSERT",
        collection="emb",
        arg=[{"id": 7_777, "embedding": dvec, "payload": "delta"}],
    )
    hit = eng.execute(
        "SEARCHSIMILAR", collection="emb", arg={"vector": dvec, "k": 1}
    ).df.first()
    assert hit["id"] == 7_777 and hit["dist"] < 1e-5


def test_dedup_verb_semdedup_strategy(engine):
    """DEDUP strategy "semdedup": k-means cluster + within-cluster
    semantic pruning. Exact vector copies are dropped keeping the
    smallest id; orthogonal vectors survive; works without an integral
    id hash mapping."""
    engine.execute("CREATE", collection="vecs")
    rows = [
        {"id": 1, "embedding": [1.0, 0.0, 0.0, 0.0], "payload": "a"},
        {"id": 2, "embedding": [1.0, 0.0, 0.0, 0.0], "payload": "b"},  # dup of 1
        {"id": 3, "embedding": [0.0, 1.0, 0.0, 0.0], "payload": "c"},
        {"id": 4, "embedding": [0.0, 0.0, 1.0, 0.0], "payload": "d"},
        {"id": 5, "embedding": [0.0, 0.0, 1.0, 0.0], "payload": "e"},  # dup of 4
        {"id": 6, "embedding": [0.0, 0.0, 0.0, 1.0], "payload": "f"},
    ]
    engine.execute("INSERT", collection="vecs", arg=rows)
    info = engine.execute(
        "DEDUP",
        collection="vecs",
        arg={"strategy": "semdedup", "threshold": 0.99, "k": 3},
    ).info
    assert info["removed"] == 2
    assert info["clusters"] == 3
    col = engine.db.collection("vecs")
    assert sorted(r["id"] for r in col.read().collect()) == [1, 3, 4, 6]


def test_dedup_verb_semdedup_string_ids(engine):
    """semdedup on a string-id collection (ADVICE r8): the applyInPandas
    schema must carry the id's real type — a hard-coded `id long` dies
    with an Arrow type error. Keep-rule stays min ORIGINAL id
    (lexicographic) among within-threshold clustermates."""
    engine.db.create_collection(
        "ssem",
        schema="id string, embedding array<float>, payload string, meta map<string,string>",
    )
    rows = [
        {"id": "doc-z", "embedding": [1.0, 0.0, 0.0, 0.0], "payload": "z"},
        {"id": "doc-a", "embedding": [1.0, 0.0, 0.0, 0.0], "payload": "a"},  # dup, kept (min id)
        {"id": "doc-b", "embedding": [0.0, 1.0, 0.0, 0.0], "payload": "b"},
        {"id": "doc-c", "embedding": [0.0, 0.0, 1.0, 0.0], "payload": "c"},
    ]
    engine.execute("INSERT", collection="ssem", arg=rows)
    info = engine.execute(
        "DEDUP",
        collection="ssem",
        arg={"strategy": "semdedup", "threshold": 0.99, "k": 3},
    ).info
    assert info["removed"] == 1
    col = engine.db.collection("ssem")
    assert sorted(r["id"] for r in col.read().collect()) == ["doc-a", "doc-b", "doc-c"]


def test_dedup_verb_spans_strategy(engine):
    """DEDUP strategy "spans" (Lee et al. exact-substring apply phase
    through the verb surface): a boilerplate passage planted in two
    otherwise-unique documents is cut from BOTH by the COW rewrite; no
    rows are removed and n_cut_tokens is accounted."""
    engine.execute("CREATE", collection="docs")
    boiler = "this license text is identical boilerplate repeated verbatim across documents"
    uniq_a = "alpha bravo charlie delta echo foxtrot golf hotel"
    uniq_b = "india juliett kilo lima mike november oscar papa"
    rows = [
        {"id": 1, "payload": f"{uniq_a} {boiler}"},
        {"id": 2, "payload": f"{boiler} {uniq_b}"},
        {"id": 3, "payload": "quebec romeo sierra tango uniform victor whiskey xray"},
    ]
    engine.execute("INSERT", collection="docs", arg=rows)
    info = engine.execute(
        "DEDUP", collection="docs", arg={"strategy": "spans", "min_tokens": 8}
    ).info
    assert info["removed"] == 0 and info["rows"] == 3
    assert info["n_cut_tokens"] == 2 * len(boiler.split())
    got = {r["id"]: r["payload"] for r in engine.db.collection("docs").read().collect()}
    assert got[1] == uniq_a
    assert got[2] == uniq_b
    assert got[3] == rows[2]["payload"]


def test_dedup_verb_lines_strategy(engine):
    """DEDUP {"strategy": "lines"}: the shared boilerplate line survives
    only in the first doc, n_cut_lines accounted, COW commit; dry_run
    reports without rewriting; since_version rejected."""
    engine.execute("CREATE", collection="pages")
    bp = "Subscribe to our newsletter for more updates."
    engine.execute(
        "INSERT",
        collection="pages",
        arg=[
            {"id": 1, "embedding": [1.0], "payload": f"First article body.\n{bp}"},
            {"id": 2, "embedding": [1.0], "payload": f"Second article body.\n{bp}"},
            {"id": 3, "embedding": [1.0], "payload": f"{bp}\nThird article body."},
        ],
    )
    dry = engine.execute(
        "DEDUP", collection="pages", arg={"strategy": "lines", "dry_run": True}
    )
    assert [(r["id"], r["n_cut_lines"]) for r in dry.df.collect()] == [(2, 1), (3, 1)]
    col = engine.db.collection("pages")
    v_before = col.version
    info = engine.execute(
        "DEDUP", collection="pages", arg={"strategy": "lines"}
    ).info
    assert info["n_cut_lines"] == 2 and info["removed"] == 0
    texts = {r["id"]: r["payload"] for r in col.read().collect()}
    assert texts[1] == f"First article body.\n{bp}"
    assert texts[2] == "Second article body."
    assert texts[3] == "Third article body."
    assert col.version > v_before
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="pages",
            arg={"strategy": "lines", "since_version": v_before},
        )


def test_dedup_verb_decontaminate_embedding(engine):
    """DEDUP decontaminate method=embedding: rows within threshold cosine
    of ANY eval vector drop (paraphrase-robust scrub); dry_run reports
    scores; unknown method and empty eval error loudly."""
    import math

    engine.execute("CREATE", collection="train")
    engine.execute("CREATE", collection="evalset")
    a = math.radians(2.0)
    rows = [
        # ~cos(2deg) = 0.99939 to eval[0] -> contaminated at 0.99
        {"id": 1, "embedding": [math.cos(a), math.sin(a), 0.0], "payload": "near eval"},
        {"id": 2, "embedding": [0.0, 0.0, 1.0], "payload": "clean"},
        {"id": 3, "embedding": [0.0, 1.0, 0.0], "payload": "near eval two"},
    ]
    engine.execute("INSERT", collection="train", arg=rows)
    engine.execute(
        "INSERT",
        collection="evalset",
        arg=[
            {"id": 10, "embedding": [1.0, 0.0, 0.0], "payload": "eval q1"},
            {"id": 11, "embedding": [0.0, 1.0, 0.0], "payload": "eval q2"},
        ],
    )
    dry = engine.execute(
        "DEDUP",
        collection="train",
        arg={
            "strategy": "decontaminate",
            "against": "evalset",
            "method": "embedding",
            "threshold": 0.99,
            "dry_run": True,
        },
    )
    assert [r["id"] for r in dry.df.collect()] == [1, 3]
    info = engine.execute(
        "DEDUP",
        collection="train",
        arg={
            "strategy": "decontaminate",
            "against": "evalset",
            "method": "embedding",
            "threshold": 0.99,
        },
    ).info
    assert info["removed"] == 2 and info["method"] == "embedding"
    col = engine.db.collection("train")
    assert [r["id"] for r in col.read().collect()] == [2]
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="train",
            arg={"strategy": "decontaminate", "against": "evalset",
                 "method": "bogus"},
        )


def test_dedup_verb_dry_run(engine):
    """dry_run=True reports would-be removals WITHOUT committing: the
    drop-id set matches what a real run then removes, the spans report
    carries ranges, and the collection is untouched until the real run."""
    engine.execute("CREATE", collection="vecs")
    rows = [
        {"id": 1, "embedding": [1.0, 0.0, 0.0], "payload": "a"},
        {"id": 2, "embedding": [1.0, 0.0, 0.0], "payload": "b"},  # dup of 1
        {"id": 3, "embedding": [0.0, 1.0, 0.0], "payload": "c"},
    ]
    engine.execute("INSERT", collection="vecs", arg=rows)
    res = engine.execute(
        "DEDUP",
        collection="vecs",
        arg={"strategy": "embedding", "threshold": 0.999, "dry_run": True},
    )
    assert res.info["dry_run"] is True and res.info["rows"] == 3
    assert [r["id"] for r in res.df.collect()] == [2]
    col = engine.db.collection("vecs")
    assert col.read().count() == 3  # untouched
    info = engine.execute(
        "DEDUP", collection="vecs", arg={"strategy": "embedding", "threshold": 0.999}
    ).info
    assert info["removed"] == 1
    assert sorted(r["id"] for r in col.read().collect()) == [1, 3]

    # spans dry run: the report carries ranges, text is not rewritten.
    engine.execute("CREATE", collection="docs")
    boiler = "one two three four five six seven eight nine"
    engine.execute(
        "INSERT",
        collection="docs",
        arg=[
            {"id": 1, "payload": f"alpha beta {boiler}"},
            {"id": 2, "payload": f"{boiler} gamma delta"},
        ],
    )
    res2 = engine.execute(
        "DEDUP",
        collection="docs",
        arg={"strategy": "spans", "min_tokens": 8, "dry_run": True},
    )
    got = sorted(
        (r["id"], r["span_start"], r["span_end"]) for r in res2.df.collect()
    )
    assert got == [(1, 2, 10), (2, 0, 8)]
    texts = {r["id"]: r["payload"] for r in engine.db.collection("docs").read().collect()}
    assert boiler in texts[1] and boiler in texts[2]  # untouched


def test_search_verb_bm25_ranking(engine, spark, sf_dir):
    """SEARCH with rank={"bm25": ...}: returns the BM25-ranked row set
    (rank 1..limit, matched-term counts, payload) and composes with a
    WHERE prefilter. Scores agree with the library operator run on the
    same slice."""
    from vrod_spark.operators.retrieval import bm25_rank

    engine.execute("CREATE", collection="docs")
    engine.execute("BULKINSERT", collection="docs", arg=records_df(spark, sf_dir))
    res = engine.execute(
        "SEARCH",
        collection="docs",
        arg={"rank": {"bm25": "hash join"}, "limit": 5},
    )
    rows = res.df.collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["n_matched"] >= 1 and r["payload"] for r in rows)
    assert all(rows[i]["score"] >= rows[i + 1]["score"] for i in range(4))

    base = engine.db.collection("docs").read()
    expect = {
        r["id"]: (r["rank"], r["score"])
        for r in bm25_rank(
            base, ["hash", "join"], text_col="payload", id_col="id", top_k=5
        ).collect()
    }
    assert {r["id"]: (r["rank"], r["score"]) for r in rows} == expect

    # Prefilter composes: restrict to even ids, ranking reflows.
    res2 = engine.execute(
        "SEARCH",
        collection="docs",
        arg={"where": "id % 2 = 0", "rank": {"bm25": "hash join"}, "limit": 3},
    )
    rows2 = res2.df.collect()
    assert all(r["id"] % 2 == 0 for r in rows2)
    assert [r["rank"] for r in rows2] == [1, 2, 3]

    import pytest as _pytest

    from vrod_spark.errors import CommandArgError

    with _pytest.raises(CommandArgError):
        engine.execute("SEARCH", collection="docs", arg={"rank": {"bm25": "  "}})

    # ADVICE r8: explicit limit 0 must error, not silently become 10.
    with _pytest.raises(CommandArgError):
        engine.execute(
            "SEARCH",
            collection="docs",
            arg={"rank": {"bm25": "hash join"}, "limit": 0},
        )

    # ADVICE r8: bm25_rank is case-safe standalone — uppercase query
    # terms rank identically to the engine's pre-lowered path.
    upper = {
        r["id"]: (r["rank"], r["score"])
        for r in bm25_rank(
            base, ["Hash", "JOIN"], text_col="payload", id_col="id", top_k=5
        ).collect()
    }
    assert upper == expect


def test_explain_verb(engine):
    """EXPLAIN returns the Catalyst plan of a read command without
    executing it: SEARCH plans show the pushed filter; SEARCHSIMILAR
    plans show the top-k TakeOrderedAndProject; mutation verbs and
    missing specs are rejected with CommandArgError."""
    engine.execute("CREATE", collection="exp")
    engine.execute(
        "INSERT",
        collection="exp",
        arg=[
            {"id": i, "embedding": [float(i), 1.0], "payload": f"p{i}"}
            for i in range(20)
        ],
    )
    res = engine.execute(
        "EXPLAIN",
        collection="exp",
        arg={"command": "SEARCH", "arg": {"where": "id > 5", "limit": 3}},
    )
    assert res.info["command"] == "SEARCH" and res.info["mode"] == "formatted"
    assert "PushedFilters" in res.info["plan"]
    assert "GreaterThan(id,5)" in res.info["plan"].replace(" ", "")

    res = engine.execute(
        "EXPLAIN",
        collection="exp",
        arg={
            "command": "SEARCHSIMILAR",
            "arg": {"vector": [1.0, 1.0], "k": 5},
            "mode": "simple",
        },
    )
    assert "TakeOrderedAndProject" in res.info["plan"]

    import pytest as _pytest

    from vrod_spark.errors import CommandArgError

    with _pytest.raises(CommandArgError, match="read commands"):
        engine.execute(
            "EXPLAIN", collection="exp", arg={"command": "DELETE", "arg": "id = 1"}
        )
    with _pytest.raises(CommandArgError):
        engine.execute("EXPLAIN", collection="exp", arg="SEARCH")


def test_reindex_ivf_with_jl_projection(engine, spark, sf_dir):
    """REINDEX {"kind": "ivf", "project_dim": 16}: centroids live in JL
    space (16-dim), probes project the query, rescoring stays exact
    full-dim; recall matches the unprojected-index contract, is monotone
    in the candidate budget and exact in the limit; a delta INSERT
    assigns into the existing projected buckets (O(delta) append)."""
    engine.execute("CREATE", collection="embp")
    engine.execute("BULKINSERT", collection="embp", arg=records_df(spark, sf_dir))
    info = engine.execute(
        "REINDEX",
        collection="embp",
        arg={"kind": "ivf", "n_centroids": 16, "project_dim": 16},
    ).info
    assert info["indexed"] and info["kind"] == "ivf"
    col = engine.db.collection("embp")
    idx = col.meta["index"]
    assert idx["project_dim"] == 16 and len(idx["centroids"][0]) == 16

    qv = [float(x) for x in col.read().filter("id = 11").first()["embedding"]]
    exact = knn_exact(col.read(), qv, 10, vec_col="embedding", id_col="id")
    approx = engine.execute(
        "SEARCHSIMILAR", collection="embp", arg={"vector": qv, "k": 10}
    ).df
    assert approx.first()["id"] == 11  # own row found, dist exact
    assert recall_at_k(approx, exact) >= 0.2
    full = engine.execute(
        "SEARCHSIMILAR",
        collection="embp",
        arg={"vector": qv, "k": 10, "candidate_factor": 10**6},
    ).df
    assert recall_at_k(full, exact) == 1.0

    # O(delta) append: a near-copy of id 11 lands in 11's bucket and is
    # immediately searchable without a REINDEX
    engine.execute(
        "INSERT",
        collection="embp",
        arg=[{"id": 9011, "embedding": [v + 1e-6 for v in qv], "payload": "near"}],
    )
    assert col.meta["index"] is not None  # indexed append kept the index
    hits = engine.execute(
        "SEARCHSIMILAR", collection="embp", arg={"vector": qv, "k": 2}
    ).df.collect()
    assert {r["id"] for r in hits} == {11, 9011}


def test_search_similar_within_radius(engine):
    """SEARCHSIMILAR {"within": r}: complete radius search — every row at
    distance <= r and nothing else, ordered (dist, id); k caps; the exact
    path is used even on an indexed collection (completeness contract)."""
    engine.execute("CREATE", collection="rng")
    rows = [
        {"id": i, "embedding": [float(i), 0.0], "payload": f"p{i}"}
        for i in range(10)
    ]
    engine.execute("INSERT", collection="rng", arg=rows)

    hits = engine.execute(
        "SEARCHSIMILAR", collection="rng", arg={"vector": [3.0, 0.0], "within": 2.0}
    ).df.collect()
    assert [r["id"] for r in hits] == [3, 2, 4, 1, 5]  # dist 0,1,1,2,2 (id ties)
    assert hits[0]["dist"] == 0.0 and hits[-1]["dist"] == 2.0

    capped = engine.execute(
        "SEARCHSIMILAR",
        collection="rng",
        arg={"vector": [3.0, 0.0], "within": 2.0, "k": 3},
    ).df.collect()
    assert [r["id"] for r in capped] == [3, 2, 4]

    engine.execute("REINDEX", collection="rng", arg={"kind": "ivf", "n_centroids": 2})
    idx_hits = engine.execute(
        "SEARCHSIMILAR", collection="rng", arg={"vector": [3.0, 0.0], "within": 2.0}
    ).df.collect()
    assert [r["id"] for r in idx_hits] == [3, 2, 4, 1, 5]  # complete despite index


def test_insert_on_conflict_modes(engine):
    """INSERT on_conflict: error rejects id collisions (batch-internal or
    vs the collection) without committing; ignore appends only novel ids;
    replace upserts via a COW rewrite (and, like UPDATE, invalidates an
    index); default append stays blind."""
    engine.execute("CREATE", collection="oc")
    base = [
        {"id": 1, "embedding": [1.0], "payload": "one"},
        {"id": 2, "embedding": [2.0], "payload": "two"},
    ]
    engine.execute("INSERT", collection="oc", arg=base)
    col = engine.db.collection("oc")

    with pytest.raises(CommandArgError, match="already in the collection"):
        engine.execute(
            "INSERT",
            collection="oc",
            arg={"rows": [{"id": 2, "embedding": [9.0], "payload": "dup"}],
                 "on_conflict": "error"},
        )
    with pytest.raises(CommandArgError, match="within the batch"):
        engine.execute(
            "INSERT",
            collection="oc",
            arg={"rows": [{"id": 7, "embedding": [7.0], "payload": "a"},
                          {"id": 7, "embedding": [7.0], "payload": "b"}],
                 "on_conflict": "error"},
        )
    assert col.read().count() == 2  # nothing committed by the failures

    res = engine.execute(
        "INSERT",
        collection="oc",
        arg={"rows": [{"id": 2, "embedding": [9.0], "payload": "dup"},
                      {"id": 3, "embedding": [3.0], "payload": "three"}],
             "on_conflict": "ignore"},
    )
    assert res.info["skipped"] == 1
    got = {r["id"]: r["payload"] for r in col.read().collect()}
    assert got == {1: "one", 2: "two", 3: "three"}  # id 2 untouched

    with pytest.raises(CommandArgError, match="one row per id"):
        engine.execute(
            "INSERT",
            collection="oc",
            arg={"rows": [{"id": 8, "embedding": [8.0], "payload": "a"},
                          {"id": 8, "embedding": [8.0], "payload": "b"}],
                 "on_conflict": "replace"},
        )

    res = engine.execute(
        "INSERT",
        collection="oc",
        arg={"rows": [{"id": 2, "embedding": [9.0], "payload": "TWO"},
                      {"id": 4, "embedding": [4.0], "payload": "four"}],
             "on_conflict": "replace"},
    )
    assert res.info["on_conflict"] == "replace"
    got = {r["id"]: r["payload"] for r in col.read().collect()}
    assert got == {1: "one", 2: "TWO", 3: "three", 4: "four"}


def test_search_version_time_travel(engine):
    """SEARCH {"version": V}: query a past committed snapshot — deleted
    rows are visible at the old version, absent at CURRENT."""
    engine.execute("CREATE", collection="tt")
    engine.execute(
        "INSERT",
        collection="tt",
        arg=[{"id": i, "embedding": [float(i)], "payload": f"p{i}"} for i in range(6)],
    )
    col = engine.db.collection("tt")
    v_before = col.version
    engine.execute("DELETE", collection="tt", arg="id >= 3")

    now = engine.execute("SEARCH", collection="tt", arg={"where": "true"}).df
    assert [r["id"] for r in now.collect()] == [0, 1, 2]
    past = engine.execute(
        "SEARCH", collection="tt", arg={"where": "id >= 2", "version": v_before, "limit": 3}
    ).df
    assert [r["id"] for r in past.collect()] == [2, 3, 4]


def test_search_similar_batch_vectors(engine):
    """SEARCHSIMILAR {"vectors": [...]}: per-query top-k in ONE plan,
    results tagged by query_idx, same per-query answers as the singular
    form; dimension mismatch inside the batch is rejected."""
    engine.execute("CREATE", collection="bat")
    engine.execute(
        "INSERT",
        collection="bat",
        arg=[{"id": i, "embedding": [float(i), 0.0], "payload": f"p{i}"} for i in range(12)],
    )
    res = engine.execute(
        "SEARCHSIMILAR",
        collection="bat",
        arg={"vectors": [[0.0, 0.0], [11.0, 0.0]], "k": 3},
    ).df.collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_idx"], []).append(r["id"])
    assert by_q == {0: [0, 1, 2], 1: [11, 10, 9]}
    for qi, vec in ((0, [0.0, 0.0]), (1, [11.0, 0.0])):
        single = engine.execute(
            "SEARCHSIMILAR", collection="bat", arg={"vector": vec, "k": 3}
        ).df.collect()
        assert [r["id"] for r in single] == by_q[qi]

    from vrod_spark.errors import DimensionMismatchError

    with pytest.raises(DimensionMismatchError):
        engine.execute(
            "SEARCHSIMILAR",
            collection="bat",
            arg={"vectors": [[0.0, 0.0], [1.0]], "k": 2},
        )


def test_dedup_verb_decontaminate_strategy(engine):
    """DEDUP {"strategy": "decontaminate", "against": evalcol}: spans of
    the train collection's payloads whose k-grams occur in the eval
    collection are cut in a COW commit; dry_run reports the ranges; a
    missing `against` errors; since_version is rejected (text rewrite
    breaks monotonicity)."""
    passage = " ".join(f"ev{i}" for i in range(13))
    engine.execute("CREATE", collection="train")
    engine.execute("CREATE", collection="evalset")
    engine.execute(
        "INSERT",
        collection="evalset",
        arg=[{"id": 1, "embedding": [1.0], "payload": f"before {passage} after"}],
    )
    engine.execute(
        "INSERT",
        collection="train",
        arg=[
            {"id": 1, "embedding": [1.0], "payload": f"aaa bbb {passage} ccc"},
            {"id": 2, "embedding": [1.0], "payload": "totally clean text here"},
        ],
    )

    with pytest.raises(CommandArgError, match="against"):
        engine.execute("DEDUP", collection="train", arg={"strategy": "decontaminate"})
    with pytest.raises(CommandArgError, match="since_version"):
        engine.execute(
            "DEDUP",
            collection="train",
            arg={"strategy": "decontaminate", "against": "evalset", "since_version": 1},
        )

    dry = engine.execute(
        "DEDUP",
        collection="train",
        arg={"strategy": "decontaminate", "against": "evalset", "dry_run": True},
    )
    spans = dry.df.collect()
    assert len(spans) == 1 and spans[0]["id"] == 1 and spans[0]["n_tokens"] == 13
    col = engine.db.collection("train")
    assert "ev0" in col.read().filter("id = 1").first()["payload"]  # no rewrite

    info = engine.execute(
        "DEDUP",
        collection="train",
        arg={"strategy": "decontaminate", "against": "evalset"},
    ).info
    assert info["n_cut_tokens"] == 13 and info["against"] == "evalset"
    got = {r["id"]: r["payload"] for r in col.read().collect()}
    assert got[1] == "aaa bbb ccc" and got[2] == "totally clean text here"


def test_reindex_ivfpq_rejects_project_dim(engine, spark, sf_dir):
    engine.execute("CREATE", collection="nopd")
    engine.execute("BULKINSERT", collection="nopd", arg=records_df(spark, sf_dir))
    with pytest.raises(CommandArgError, match="project_dim"):
        engine.execute(
            "REINDEX",
            collection="nopd",
            arg={"kind": "ivfpq", "project_dim": 16},
        )


def test_dedup_verb_imagehash_strategy(engine):
    """DEDUP {"strategy": "imagehash"}: perceptual near-dup removal over
    a binary blob column — the PNG re-encode and the brightness-shifted
    copy of the same picture collapse onto the keep-first original, the
    distinct picture survives, keep="best" picks the scored member."""
    import numpy as np

    from vrod_spark.operators.multimodal import make_png_bytes

    rng = np.random.default_rng(11)
    base = rng.integers(0, 200, size=(24, 36, 3)).astype(np.uint8)
    bright = np.clip(base.astype(np.int32) + 20, 0, 255).astype(np.uint8)
    other = rng.integers(0, 255, size=(24, 36, 3)).astype(np.uint8)

    def ppm(px):
        return bytearray(
            f"P6\n{px.shape[1]} {px.shape[0]}\n255\n".encode() + px.tobytes()
        )

    engine.db.create_collection(
        "imgs", schema="id bigint, content binary, score double"
    )
    engine.execute(
        "INSERT",
        collection="imgs",
        arg=[
            {"id": 1, "content": ppm(base), "score": 0.1},
            {"id": 2, "content": bytearray(make_png_bytes(0, 0, pixels=base)),
             "score": 0.9},
            {"id": 3, "content": bytearray(make_png_bytes(0, 0, pixels=bright)),
             "score": 0.5},
            {"id": 4, "content": bytearray(make_png_bytes(0, 0, pixels=other)),
             "score": 0.2},
        ],
    )
    info = engine.execute(
        "DEDUP",
        collection="imgs",
        arg={"strategy": "imagehash", "column": "content", "threshold": 8,
             "dry_run": True},
    )
    assert [r["id"] for r in info.df.collect()] == [2, 3]
    info = engine.execute(
        "DEDUP",
        collection="imgs",
        arg={"strategy": "imagehash", "column": "content", "threshold": 8,
             "keep": "best", "score": "score"},
    ).info
    assert info["removed"] == 2
    col = engine.db.collection("imgs")
    assert sorted(r["id"] for r in col.read().collect()) == [2, 4]


def test_dedup_verb_audiohash_strategy(engine):
    """DEDUP {"strategy": "audiohash"}: the 8-bit re-encode of the same
    broadband recording collapses onto the original; the different
    recording survives."""
    import io
    import wave

    import numpy as np

    def wav_bytes(sig, bits):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(bits // 8)
            w.setframerate(8000)
            if bits == 16:
                w.writeframes((sig * 32000).astype("<i2").tobytes())
            else:
                w.writeframes(((sig * 120) + 128).astype("u1").tobytes())
        return bytearray(buf.getvalue())

    t = np.arange(4000) / 8000.0
    mix_a = sum(
        (0.5 / (k + 1)) * np.sin(2 * np.pi * f * t)
        for k, f in enumerate([180, 440, 700, 1200, 2100, 3300])
    )
    mix_b = sum(
        (0.5 / (6 - k)) * np.sin(2 * np.pi * f * t)
        for k, f in enumerate([150, 390, 820, 1500, 2500, 3600])
    )
    engine.db.create_collection("clips", schema="id bigint, content binary")
    engine.execute(
        "INSERT",
        collection="clips",
        arg=[
            {"id": 1, "content": wav_bytes(mix_a, 16)},
            {"id": 2, "content": wav_bytes(mix_a, 8)},
            {"id": 3, "content": wav_bytes(mix_b, 16)},
        ],
    )
    info = engine.execute(
        "DEDUP",
        collection="clips",
        arg={"strategy": "audiohash", "column": "content", "threshold": 8},
    ).info
    assert info["removed"] == 1
    col = engine.db.collection("clips")
    assert sorted(r["id"] for r in col.read().collect()) == [1, 3]


def test_dedup_verb_mediahash_validation(engine):
    """imagehash/audiohash arg validation: threshold >= 16 exceeds the
    16-band pigeonhole guarantee -> CommandArgError (not a bare
    AssertionError); keep="best" without an explicit score column on a
    binary-media strategy is rejected (the text-quality fallback would
    rank blobs by mojibake)."""
    from vrod_spark.operators.multimodal import make_ppm_bytes

    engine.db.create_collection("mh", schema="id bigint, content binary")
    engine.execute(
        "INSERT",
        collection="mh",
        arg=[{"id": 1, "content": bytearray(make_ppm_bytes(4, 4, (9, 9, 9)))}],
    )
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="mh",
            arg={"strategy": "imagehash", "column": "content", "threshold": 16},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="mh",
            arg={"strategy": "audiohash", "column": "content", "threshold": 20},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="mh",
            arg={"strategy": "imagehash", "column": "content", "keep": "best"},
        )


def test_dedup_verb_imagehash_incremental(engine):
    """imagehash + since_version: established images are immune; a delta
    re-encode of an established picture drops; a novel delta picture
    survives."""
    import numpy as np

    from vrod_spark.operators.multimodal import make_png_bytes

    rng = np.random.default_rng(23)
    base = rng.integers(0, 200, size=(24, 36, 3)).astype(np.uint8)
    other = rng.integers(0, 255, size=(24, 36, 3)).astype(np.uint8)

    engine.db.create_collection("incimgs", schema="id bigint, content binary")
    engine.execute(
        "INSERT",
        collection="incimgs",
        arg=[{"id": 5, "content": bytearray(make_png_bytes(0, 0, pixels=base))}],
    )
    v_est = engine.db.collection("incimgs").version
    engine.execute(
        "INSERT",
        collection="incimgs",
        arg=[
            # delta: smaller id than the established row — global
            # keep-first would flip the old survivor; incremental must not
            {"id": 1, "content": bytearray(make_png_bytes(0, 0, pixels=base))},
            {"id": 2, "content": bytearray(make_png_bytes(0, 0, pixels=other))},
        ],
    )
    info = engine.execute(
        "DEDUP",
        collection="incimgs",
        arg={"strategy": "imagehash", "column": "content", "threshold": 6,
             "since_version": v_est},
    ).info
    assert info["removed"] == 1
    col = engine.db.collection("incimgs")
    assert sorted(r["id"] for r in col.read().collect()) == [2, 5]


def test_export_jsonl_roundtrip(engine, spark, sf_dir, tmp_path):
    """EXPORT jsonl shards read straight back through BULKINSERT: row
    count, ids, and payloads survive; where/columns are honored; the
    observe-metric row count matches without a second scan."""
    engine.execute("CREATE", collection="src")
    engine.execute("BULKINSERT", collection="src", arg=records_df(spark, sf_dir))
    n_src = engine.db.collection("src").read().count()
    out = str(tmp_path / "export_jsonl")
    info = engine.execute(
        "EXPORT",
        collection="src",
        arg={"path": out, "columns": ["id", "payload"], "shards": 2},
    ).info
    assert info["rows"] == n_src and info["format"] == "jsonl"
    back = spark.read.json(out)
    assert back.count() == n_src
    assert sorted(back.columns) == ["id", "payload"]
    src_rows = {
        r["id"]: r["payload"]
        for r in engine.db.collection("src").read().select("id", "payload").collect()
    }
    assert {r["id"]: r["payload"] for r in back.collect()} == src_rows
    # gzip shards really are gzip, and BULKINSERT ingests them directly
    import glob

    files = glob.glob(out + "/part-*.json.gz")
    assert files, "expected gzipped jsonl shard files"
    engine.execute("CREATE", collection="dst")
    engine.execute("BULKINSERT", collection="dst", arg=out + "/" + "*.json.gz")
    assert engine.db.collection("dst").read().count() == n_src


def test_export_filtered_parquet_and_errors(engine, spark, sf_dir, tmp_path):
    from vrod_spark.errors import CommandArgError

    engine.execute("CREATE", collection="src2")
    engine.execute("BULKINSERT", collection="src2", arg=records_df(spark, sf_dir))
    out = str(tmp_path / "export_pq")
    info = engine.execute(
        "EXPORT",
        collection="src2",
        arg={"path": out, "format": "parquet", "where": "id < 10"},
    ).info
    assert info["rows"] == engine.db.collection("src2").read().filter("id < 10").count()
    assert spark.read.parquet(out).count() == info["rows"]
    import pytest

    with pytest.raises(CommandArgError):
        engine.execute("EXPORT", collection="src2", arg={"format": "jsonl"})
    with pytest.raises(CommandArgError):
        engine.execute(
            "EXPORT", collection="src2", arg={"path": out, "format": "csvish"}
        )


def test_export_jsonl_rejects_binary_columns(spark, tmp_path):
    import pytest

    from vrod_spark.sources.export import export_jsonl_shards

    df = spark.createDataFrame([(1, bytearray(b"x"))], "id long, blob binary")
    with pytest.raises(ValueError, match="binary"):
        export_jsonl_shards(df, str(tmp_path / "nope"))


def test_dedup_verb_lines_paragraph_unit(engine, spark):
    """DEDUP strategy=lines unit=paragraph: a paragraph repeated across
    pages survives only on the smallest-(id, position) page; single
    newlines INSIDE a paragraph do not split the unit."""
    boiler = "Subscribe to our newsletter.\nAll rights reserved."
    rows = [
        (1, f"unique first page body\n\n{boiler}"),
        (2, f"{boiler}\n\nsecond page unique content"),
        (3, "third page with nothing repeated\n\nentirely its own text"),
    ]
    from vrod_spark.queries import _local_df

    df = _local_df(spark, rows, "id long, payload string").select(
        "id",
        F.lit(None).cast("array<float>").alias("embedding"),
        "payload",
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    engine.execute("CREATE", collection="paras")
    engine.execute("BULKINSERT", collection="paras", arg=df)
    info = engine.execute(
        "DEDUP",
        collection="paras",
        arg={"strategy": "lines", "unit": "paragraph"},
    ).info
    assert info["n_cut_lines"] == 1  # page 2's copy of the boilerplate
    texts = {
        r["id"]: r["payload"]
        for r in engine.db.collection("paras").read().collect()
    }
    assert boiler in texts[1]
    assert boiler not in texts[2] and "second page unique content" in texts[2]
    assert texts[3].count("\n\n") == 1  # untouched page, separator normalized
    import pytest

    from vrod_spark.errors import CommandArgError

    with pytest.raises(CommandArgError):
        engine.execute(
            "DEDUP", collection="paras", arg={"strategy": "lines", "unit": "word"}
        )


def test_search_hybrid_rrf(engine, spark, sf_dir):
    """Hybrid SEARCH: BM25 + vector candidate lists fused by RRF.
    The fused score must equal 1/(k+r_bm25) + 1/(k+r_vec) computed from
    the two single-modality rankings (the vector list under the
    COLLECTION's declared metric — l2 here, like SEARCHSIMILAR), docs
    surfaced by only one list carry n_lists=1, and validation rejects
    half-specified hybrids and time travel."""
    import pytest

    from vrod_spark.errors import CommandArgError
    from vrod_spark.operators.knn import knn_exact
    from vrod_spark.operators.retrieval import bm25_rank

    engine.execute("CREATE", collection="hyb")
    engine.execute("BULKINSERT", collection="hyb", arg=records_df(spark, sf_dir))
    qvec = [
        float(x)
        for x in engine.db.collection("hyb")
        .read()
        .filter("id = 3")
        .select("embedding")
        .first()[0]
    ]
    res = engine.execute(
        "SEARCH",
        collection="hyb",
        arg={
            "where": "true",
            "rank": {"bm25": "the and of", "vector": qvec, "candidates": 15},
            "limit": 8,
        },
    ).df.collect()
    assert len(res) == 8
    assert [r["fused_rank"] for r in res] == list(range(1, 9))
    assert all(r["n_lists"] in (1, 2) for r in res)
    # reference recompute from the two single lists
    base = engine.db.collection("hyb").read()
    bm = {
        r["id"]: r["rank"]
        for r in bm25_rank(
            base, ["the", "and", "of"], text_col="payload", id_col="id", top_k=15
        ).collect()
    }
    vr = {
        r["id"]: i + 1
        for i, r in enumerate(
            knn_exact(
                base.filter("embedding is not null"), qvec, k=15,
                vec_col="embedding", id_col="id", metric="l2",
            ).collect()
        )
    }
    def rrf(i):
        return (1.0 / (60 + bm[i]) if i in bm else 0.0) + (
            1.0 / (60 + vr[i]) if i in vr else 0.0
        )

    want = sorted(set(bm) | set(vr), key=lambda i: (-rrf(i), i))[:8]
    assert [r["id"] for r in res] == want
    for r in res:
        assert abs(r["rrf_score"] - rrf(r["id"])) < 1e-12
    # the vector query's own doc must surface via the vector list
    assert 3 in {r["id"] for r in res}
    with pytest.raises(CommandArgError):
        engine.execute(
            "SEARCH", collection="hyb", arg={"rank": {"vector": qvec}}
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "SEARCH",
            collection="hyb",
            arg={"rank": {"bm25": "x", "vector": []}},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "SEARCH",
            collection="hyb",
            arg={"rank": {"bm25": "x", "vector": qvec}, "version": 1},
        )


def test_search_hybrid_rides_ann_index(engine, spark, sf_dir):
    """Hybrid over a REINDEXed collection: the vector list comes from
    the index probe (SEARCHSIMILAR routing), so the fused output must
    match an RRF recompute whose vector list is the INDEX's own
    SEARCHSIMILAR result — and the query's own doc still surfaces
    (identical vectors share every bucket)."""
    from vrod_spark.operators.retrieval import bm25_rank

    engine.execute("CREATE", collection="hybix")
    engine.execute("BULKINSERT", collection="hybix", arg=records_df(spark, sf_dir))
    engine.execute("REINDEX", collection="hybix", arg={"kind": "ivf"})
    qvec = [
        float(x)
        for x in engine.db.collection("hybix")
        .read()
        .filter("id = 7")
        .select("embedding")
        .first()[0]
    ]
    res = engine.execute(
        "SEARCH",
        collection="hybix",
        arg={"rank": {"bm25": "the and of", "vector": qvec, "candidates": 12},
             "limit": 6},
    ).df.collect()
    assert len(res) == 6 and 7 in {r["id"] for r in res}
    vlist = engine.execute(
        "SEARCHSIMILAR",
        collection="hybix",
        arg={"vector": qvec, "k": 12, "where": "embedding IS NOT NULL"},
    ).df.collect()
    vr = {r["id"]: i + 1 for i, r in enumerate(vlist)}
    bm = {
        r["id"]: r["rank"]
        for r in bm25_rank(
            engine.db.collection("hybix").read(),
            ["the", "and", "of"], text_col="payload", id_col="id", top_k=12,
        ).collect()
    }

    def rrf(i):
        return (1.0 / (60 + bm[i]) if i in bm else 0.0) + (
            1.0 / (60 + vr[i]) if i in vr else 0.0
        )

    want = sorted(set(bm) | set(vr), key=lambda i: (-rrf(i), i))[:6]
    assert [r["id"] for r in res] == want


def test_searchsimilar_diversify_mmr(engine, spark, sf_dir):
    """SEARCHSIMILAR diversify: the MMR selection over the routed pool —
    planted exact duplicates of the query doc stop crowding the top-k,
    lambda=1 reproduces the plain top-k order, and validation rejects
    bad lambdas / range-search composition."""
    import pytest

    from vrod_spark.errors import CommandArgError

    engine.execute("CREATE", collection="mmr")
    base = records_df(spark, sf_dir)
    clones = base.filter("id = 4").select(
        (F.col("id") + 1000).alias("id"), "embedding", "payload", "meta"
    ).union(
        base.filter("id = 4").select(
            (F.col("id") + 2000).alias("id"), "embedding", "payload", "meta"
        )
    )
    engine.execute("BULKINSERT", collection="mmr", arg=base.unionByName(clones))
    qvec = [float(x) for x in base.filter("id = 4").select("embedding").first()[0]]
    plain = engine.execute(
        "SEARCHSIMILAR", collection="mmr", arg={"vector": qvec, "k": 5}
    ).df.collect()
    # the three identical vectors own the top of the plain list
    assert {r["id"] for r in plain[:3]} == {4, 1004, 2004}
    div = engine.execute(
        "SEARCHSIMILAR",
        collection="mmr",
        arg={"vector": qvec, "k": 5, "diversify": {"lambda": 0.5, "pool": 12}},
    ).df.collect()
    assert [r["mmr_rank"] for r in div] == [1, 2, 3, 4, 5]
    # only ONE of the identical trio survives the diversified top-3
    assert len({r["id"] for r in div[:3]} & {4, 1004, 2004}) == 1
    # lambda=1 == plain relevance order over the same pool
    pure = engine.execute(
        "SEARCHSIMILAR",
        collection="mmr",
        arg={"vector": qvec, "k": 5, "diversify": {"lambda": 1.0, "pool": 12}},
    ).df.collect()
    assert [r["id"] for r in pure] == [r["id"] for r in plain]
    with pytest.raises(CommandArgError):
        engine.execute(
            "SEARCHSIMILAR", collection="mmr",
            arg={"vector": qvec, "k": 5, "diversify": {"lambda": 2.0}},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "SEARCHSIMILAR", collection="mmr",
            arg={"vector": qvec, "within": 1.0, "diversify": 0.5},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "SEARCHSIMILAR", collection="mmr",
            arg={"vector": qvec, "k": 5, "diversify": {"pool": 2}},
        )


def test_searchsimilar_batch_rejects_diversify(engine, spark, sf_dir):
    import pytest

    from vrod_spark.errors import CommandArgError

    engine.execute("CREATE", collection="bdv")
    engine.execute("BULKINSERT", collection="bdv", arg=records_df(spark, sf_dir))
    qvec = [0.0] * 64
    with pytest.raises(CommandArgError):
        engine.execute(
            "SEARCHSIMILAR",
            collection="bdv",
            arg={"vectors": [qvec], "k": 3, "diversify": 0.5},
        )


def test_searchsimilar_diversify_respects_l2_metric(engine, spark):
    """ADVICE r10 end-to-end: on an (default) l2 collection whose vector
    NORMS differ, diversify with lambda=1 must reproduce the plain
    first-stage l2 order. The planted geometry makes cosine and l2
    disagree: id 1 is euclidean-closest to the query but off-angle,
    id 2 is exactly parallel (cosine 1.0) but euclidean-far — the old
    cosine-only rerank put id 2 first."""
    from vrod_spark.localdf import local_df

    engine.execute("CREATE", collection="mmrl2")
    rows = [
        (1, [10.0, 10.5], "near", None),
        (2, [0.1, 0.1], "parallel", None),
        (3, [-10.0, -10.0], "far", None),
    ]
    engine.execute(
        "BULKINSERT",
        collection="mmrl2",
        arg=local_df(
            spark,
            rows,
            "id long, embedding array<float>, payload string, "
            "meta map<string,string>",
        ),
    )
    q = [10.0, 10.0]
    plain = engine.execute(
        "SEARCHSIMILAR", collection="mmrl2", arg={"vector": q, "k": 3}
    ).df.collect()
    assert [r["id"] for r in plain] == [1, 2, 3]
    pure = engine.execute(
        "SEARCHSIMILAR",
        collection="mmrl2",
        arg={"vector": q, "k": 3, "diversify": {"lambda": 1.0, "pool": 3}},
    ).df.collect()
    assert [r["id"] for r in pure] == [1, 2, 3]


def test_engine_create_pyarrow_v0_schema(engine, spark):
    """The pyarrow-written empty v0 snapshot must read back with EXACTLY
    the schema the Spark writer would have produced, and union cleanly
    with insert frames (r11: CREATE no longer pays a Spark write job)."""
    from vrod_spark.catalog import RECORD_SCHEMA

    engine.execute("CREATE", collection="v0check")
    col = engine.db.collection("v0check")
    back = col.read()
    assert back.schema == spark.createDataFrame([], RECORD_SCHEMA).schema
    assert back.count() == 0
    engine.execute(
        "INSERT",
        collection="v0check",
        arg=[{"id": 1, "embedding": [1.0, 2.0], "payload": "x",
              "meta": {"a": "b"}}],
    )
    assert engine.db.collection("v0check").read().count() == 1


def test_export_since_version_incremental(engine, spark, sf_dir, tmp_path):
    """Incremental EXPORT (r11): only rows added after since_version ship.

    Covers both read_delta paths: (a) append-only history -> the
    file-level O(delta) fast path (new files only, no snapshot scan);
    (b) a DEDUP rewrite in between -> the anti-join fallback (ids absent
    at the old snapshot). Also the validation: version + since_version
    together are rejected."""
    import pytest

    from vrod_spark.errors import CommandArgError

    engine.execute("CREATE", collection="inc")
    engine.execute(
        "INSERT",
        collection="inc",
        arg=[{"id": i, "payload": f"base{i}"} for i in range(5)],
    )
    v_base = engine.db.collection("inc").version
    engine.execute(
        "INSERT",
        collection="inc",
        arg=[{"id": 100 + i, "payload": f"new{i}"} for i in range(3)],
    )
    # (a) append-only fast path
    out = str(tmp_path / "inc1")
    info = engine.execute(
        "EXPORT",
        collection="inc",
        arg={"path": out, "columns": ["id", "payload"],
             "since_version": v_base},
    ).info
    assert info["rows"] == 3
    back = {r["id"]: r["payload"] for r in spark.read.json(out).collect()}
    assert back == {100: "new0", 101: "new1", 102: "new2"}
    # the append-only delta must be the FILE-LEVEL fast path: a plain
    # scan of the new files, no anti-join against the old snapshot
    from vrod_spark.plans.inspect import explain_str

    plan_a = explain_str(engine.db.collection("inc").read_delta(v_base))
    assert "Join" not in plan_a
    # (b) rewrite in between -> anti-join fallback, same answer
    engine.execute(
        "INSERT",
        collection="inc",
        arg={"rows": [{"id": 0, "payload": "base0"}], "on_conflict": "ignore"},
    )
    engine.execute("DEDUP", collection="inc")  # rewrite: renames all files
    engine.execute(
        "INSERT", collection="inc", arg=[{"id": 200, "payload": "late"}]
    )
    out2 = str(tmp_path / "inc2")
    info2 = engine.execute(
        "EXPORT",
        collection="inc",
        arg={"path": out2, "columns": ["id", "payload"],
             "since_version": v_base},
    ).info
    got2 = {r["id"] for r in spark.read.json(out2).collect()}
    assert got2 == {100, 101, 102, 200}
    assert info2["rows"] == 4
    # after the rewrite the WAL shows a non-append commit -> anti-join
    plan_b = explain_str(engine.db.collection("inc").read_delta(v_base))
    assert "LeftAnti" in plan_b
    # empty delta: since the current version
    out3 = str(tmp_path / "inc3")
    cur = engine.db.collection("inc").version
    assert (
        engine.execute(
            "EXPORT", collection="inc",
            arg={"path": out3, "since_version": cur, "columns": ["id"]},
        ).info["rows"]
        == 0
    )
    with pytest.raises(CommandArgError):
        engine.execute(
            "EXPORT", collection="inc",
            arg={"path": str(tmp_path / "x"), "version": 1,
                 "since_version": 0},
        )


def test_delete_null_predicate_keeps_rows(engine, spark):
    """SQL DELETE removes only rows where the predicate is TRUE; rows
    where it evaluates NULL (e.g. payload IS NULL under an equality)
    must survive, and the matched count must agree (r11 review: a bare
    ~pred filter silently dropped NULL-evaluating rows)."""
    from vrod_spark.localdf import local_df

    engine.execute("CREATE", collection="delnull")
    engine.execute(
        "BULKINSERT",
        collection="delnull",
        arg=local_df(
            spark,
            [(1, None, "x", None), (2, None, None, None), (3, None, "y", None)],
            "id bigint, embedding array<float>, payload string, "
            "meta map<string,string>",
        ),
    )
    info = engine.execute(
        "DELETE", collection="delnull", arg="payload = 'x'"
    ).info
    assert info["deleted"] == 1
    left = {
        r["id"]: r["payload"]
        for r in engine.db.collection("delnull").read().collect()
    }
    # id 2 (NULL payload -> predicate NULL) must still be present
    assert left == {2: None, 3: "y"}


def test_update_all_assignments_see_old_values(engine, spark):
    """SQL UPDATE semantics: every assignment's RHS (and the predicate)
    evaluates against the ORIGINAL row (r11 review: sequential
    withColumn let a self-referential id update hide the row from the
    payload assignment that followed)."""
    import pytest

    from vrod_spark.errors import CommandArgError

    engine.execute("CREATE", collection="updsem")
    engine.execute(
        "INSERT",
        collection="updsem",
        arg=[{"id": 1, "payload": "a"}, {"id": 2, "payload": "b"}],
    )
    info = engine.execute(
        "UPDATE",
        collection="updsem",
        arg={"where": "id = 1",
             "set": {"id": "id + 100", "payload": "'updated'"}},
    ).info
    assert info["matched"] == 1
    rows = {
        r["id"]: r["payload"]
        for r in engine.db.collection("updsem").read().collect()
    }
    # BOTH assignments applied to the matched row
    assert rows == {101: "updated", 2: "b"}
    with pytest.raises(CommandArgError, match="unknown column"):
        engine.execute(
            "UPDATE",
            collection="updsem",
            arg={"where": "id = 2", "set": {"nonexistent": "1"}},
        )


# -- RESTORE (time-travel write; r11) ---------------------------------------
def test_restore_fast_path_flat(engine, spark):
    """Rolling a flat collection back to a pre-mutation snapshot is
    metadata-only: the new version dir hard-links the historical files
    (same inodes, zero bytes copied, zero Spark jobs), history stays
    append-only, and the WAL records the commit."""
    engine.execute("CREATE", collection="r")
    engine.execute(
        "INSERT",
        collection="r",
        arg=[{"id": i, "payload": f"p{i}"} for i in range(5)],
    )
    col = engine.db.collection("r")
    v_good = col.version
    engine.execute("DELETE", collection="r", arg="id >= 2")
    assert col.read().count() == 2
    info = engine.execute("RESTORE", collection="r", arg=v_good).info
    assert info["rows"] == 5
    assert info["restored_from"] == v_good
    assert col.version > v_good + 1  # new commit, not a pointer rewind
    assert {r["id"] for r in col.read().collect()} == set(range(5))
    # the delete's snapshot is still readable (append-only history)
    assert col.read(version=v_good + 1).count() == 2
    # fast path: every restored data file is a hard link of the source
    src, dst = col.version_dir(v_good), col.version_dir()
    for fname in os.listdir(dst):
        if not fname.startswith(("_", ".")):
            assert os.path.samefile(
                os.path.join(src, fname), os.path.join(dst, fname)
            )
    assert col.wal_entries()[-1]["op"] == "RESTORE"


def test_restore_validation(engine, spark):
    engine.execute("CREATE", collection="rv")
    engine.execute("INSERT", collection="rv", arg=[{"id": 1, "payload": "a"}])
    col = engine.db.collection("rv")
    with pytest.raises(CollectionNotFoundError):
        engine.execute("RESTORE", collection="rv", arg=99)
    with pytest.raises(CommandArgError):
        engine.execute("RESTORE", collection="rv", arg=col.version)
    with pytest.raises(CommandArgError):
        engine.execute("RESTORE", collection="rv", arg={"wrong": 0})
    with pytest.raises(CommandArgError):
        engine.execute("RESTORE", collection="rv", arg="not-a-version")
    # dict + JSON-string forms both resolve (the generic CLI arg path)
    engine.execute("RESTORE", collection="rv", arg={"version": 0})
    assert col.read().count() == 0
    engine.execute("RESTORE", collection="rv", arg="1")
    assert col.read().count() == 1


def test_restore_indexed_history_rematerializes(engine, spark, sf_dir):
    """A bucket-partitioned (indexed) historical snapshot cannot be
    trusted file-level — RESTORE re-materializes its logical rows
    through the current conventions and clears the index, the same
    contract as UPDATE/DELETE."""
    engine.execute("CREATE", collection="ri", arg={"dimension": 8})
    rows = [
        {"id": i, "embedding": [float(i)] * 8, "payload": f"d{i}"}
        for i in range(40)
    ]
    engine.execute("INSERT", collection="ri", arg=rows)
    engine.execute(
        "REINDEX", collection="ri", arg={"kind": "sign_lsh", "n_planes": 4}
    )
    col = engine.db.collection("ri")
    v_indexed = col.version
    assert col.meta["index"] is not None
    engine.execute("DELETE", collection="ri", arg="id >= 20")
    n = engine.execute("RESTORE", collection="ri", arg=v_indexed).info["rows"]
    assert n == 40
    assert col.meta["index"] is None  # cleared: REINDEX re-derives
    assert {r["id"] for r in col.read().collect()} == set(range(40))
    # and the collection is still fully searchable on the exact path
    out = engine.execute(
        "SEARCHSIMILAR", collection="ri", arg={"vector": [3.0] * 8, "k": 1}
    ).df
    assert out.first()["id"] == 3


def test_restore_partitioned_fast_path(engine, spark):
    """pk=-partitioned history matches a partition_by collection's
    conventions, so the rollback stays metadata-only and partition
    pruning still works afterwards."""
    engine.execute(
        "CREATE", collection="rp", arg={"partition_by": "region"}
    )
    engine.execute(
        "INSERT",
        collection="rp",
        arg=[
            {"id": i, "payload": f"p{i}", "meta": {"region": ["eu", "us"][i % 2]}}
            for i in range(6)
        ],
    )
    col = engine.db.collection("rp")
    v_good = col.version
    engine.execute(
        "UPDATE",
        collection="rp",
        arg={"where": "id < 3", "set": {"payload": "'clobbered'"}},
    )
    assert engine.execute("RESTORE", collection="rp", arg=v_good).info["rows"] == 6
    got = {r["id"]: r["payload"] for r in col.read().collect()}
    assert got == {i: f"p{i}" for i in range(6)}
    # fast path: restored pk= partition files are hard links
    src, dst = col.version_dir(v_good), col.version_dir()
    linked = 0
    for part in os.listdir(dst):
        if part.startswith("pk="):
            for fname in os.listdir(os.path.join(dst, part)):
                if not fname.startswith(("_", ".")):
                    assert os.path.samefile(
                        os.path.join(src, part, fname),
                        os.path.join(dst, part, fname),
                    )
                    linked += 1
    assert linked > 0
    # pruning survives: the pk layout is intact under the new version
    pruned = engine.execute(
        "SEARCH", collection="rp", arg={"where": "meta['region'] = 'eu'"}
    ).df
    assert {r["id"] for r in pruned.collect()} == {0, 2, 4}


def test_export_writes_manifest(engine, spark, tmp_path):
    """EXPORT leaves a _manifest.json shard inventory: names + sizes
    (+ per-shard rows for parquet), row count, and snapshot provenance.
    The underscore name keeps it out of Spark listings and the
    BULKINSERT re-ingest glob."""
    import json

    engine.execute("CREATE", collection="man")
    engine.execute(
        "INSERT",
        collection="man",
        arg=[{"id": i, "payload": f"p{i}"} for i in range(10)],
    )
    # jsonl: files + bytes, no per-file rows (would need a re-read)
    out = str(tmp_path / "mj")
    info = engine.execute(
        "EXPORT",
        collection="man",
        arg={"path": out, "columns": ["id", "payload"], "shards": 2},
    ).info
    m = json.load(open(info["manifest"]))
    assert m["rows"] == 10 and m["format"] == "jsonl"
    assert m["collection"] == "man" and m["version"] == 1
    assert m["columns"] == ["id", "payload"]
    assert m["n_files"] == len(m["files"]) > 0
    assert all(f["bytes"] > 0 for f in m["files"])
    assert sorted(f["name"] for f in m["files"]) == sorted(
        f for f in os.listdir(out)
        if not f.startswith(("_", "."))
    )
    # the manifest must not leak into a re-ingest
    engine.execute("CREATE", collection="man_back")
    engine.execute(
        "BULKINSERT", collection="man_back", arg=out + "/*.json.gz"
    )
    assert engine.db.collection("man_back").read().count() == 10
    # parquet: per-shard rows from footers sum to the export count
    outp = str(tmp_path / "mp")
    infop = engine.execute(
        "EXPORT",
        collection="man",
        arg={"path": outp, "format": "parquet", "where": "id < 7"},
    ).info
    mp = json.load(open(infop["manifest"]))
    assert mp["rows"] == 7 and mp["where"] == "id < 7"
    assert sum(f["rows"] for f in mp["files"]) == 7
    # incremental export records since_version, not version
    engine.execute(
        "INSERT", collection="man", arg=[{"id": 100, "payload": "new"}]
    )
    outd = str(tmp_path / "md")
    infod = engine.execute(
        "EXPORT",
        collection="man",
        arg={"path": outd, "columns": ["id"], "since_version": 1},
    ).info
    md = json.load(open(infod["manifest"]))
    assert md["since_version"] == 1 and md["version"] is None
    assert md["rows"] == 1


def test_restore_rejects_orphans_and_float_versions(engine, spark):
    """r11 review: (a) a crashed writer's orphaned v{N} dir (on disk but
    never pointed to by _CURRENT) must not be restorable — its link set
    may be partial; (b) non-integer versions are rejected, never
    silently truncated to a different snapshot."""
    engine.execute("CREATE", collection="ro")
    engine.execute("INSERT", collection="ro", arg=[{"id": 1, "payload": "a"}])
    engine.execute("INSERT", collection="ro", arg=[{"id": 2, "payload": "b"}])
    col = engine.db.collection("ro")
    # fabricate an orphan: a version dir with data but no commit record
    orphan = col.version_dir(col.version + 7)
    os.makedirs(orphan)
    import shutil as _sh

    for f in os.listdir(col.version_dir(1)):
        if not f.startswith(("_", ".")):
            _sh.copy(os.path.join(col.version_dir(1), f), orphan)
    with pytest.raises(CommandArgError, match="no.*commit record|orphan"):
        engine.execute("RESTORE", collection="ro", arg=col.version + 7)
    # committed targets still work
    assert engine.execute("RESTORE", collection="ro", arg=1).info["rows"] == 1
    # numeric fidelity: floats and bools are not versions
    for bad in (1.0, 2.9, True, {"version": 2.9}, "2.9"):
        with pytest.raises(CommandArgError):
            engine.execute("RESTORE", collection="ro", arg=bad)


def test_history_verb(engine, spark):
    """HISTORY: one row per commit with retained/current flags —
    the introspection face of RESTORE (pick a rollback target)."""
    engine.execute("CREATE", collection="h")
    engine.execute("INSERT", collection="h", arg=[{"id": 1, "payload": "a"}])
    engine.execute("INSERT", collection="h", arg=[{"id": 2, "payload": "b"}])
    engine.execute("DELETE", collection="h", arg="id = 1")
    engine.execute("RESTORE", collection="h", arg=2)
    hist = engine.execute("HISTORY", collection="h").df.orderBy("version").collect()
    assert [r["op"] for r in hist] == [
        "CREATE", "INSERT", "INSERT", "DELETE", "RESTORE"
    ]
    assert [r["version"] for r in hist] == [0, 1, 2, 3, 4]
    assert all(r["retained"] for r in hist)
    assert [r["current"] for r in hist] == [False, False, False, False, True]
    assert hist[-1]["restored_from"] == 2 and hist[-1]["rows"] == 2
    # TRUNCATEWAL: log restarts; reclaimed dirs drop out of `retained`,
    # the surviving checkpoint snapshot is synthesized into the history
    engine.execute("TRUNCATEWAL", collection="h")
    hist2 = engine.execute("HISTORY", collection="h").df.orderBy("version").collect()
    ops2 = {r["version"]: r for r in hist2}
    assert not ops2[0]["retained"]  # v0 reclaimed
    assert ops2[4]["op"] == "CHECKPOINT" and ops2[4]["current"]
    assert ops2[4]["retained"]
    # and new commits log on top of the checkpoint
    engine.execute("INSERT", collection="h", arg=[{"id": 9, "payload": "z"}])
    hist3 = engine.execute("HISTORY", collection="h").df.orderBy("version").collect()
    assert hist3[-1]["op"] == "INSERT" and hist3[-1]["version"] == 5
    with pytest.raises(CommandArgError):
        engine.execute("HISTORY", collection=None)


def test_restore_as_of_timestamp(engine, spark):
    """RESTORE {"ts": T}: latest retained commit at-or-before T,
    resolved from the WAL's commit timestamps (HISTORY's ts column)."""
    engine.execute("CREATE", collection="rt")
    engine.execute("INSERT", collection="rt", arg=[{"id": 1, "payload": "a"}])
    engine.execute("INSERT", collection="rt", arg=[{"id": 2, "payload": "b"}])
    engine.execute("DELETE", collection="rt", arg="id = 1")
    col = engine.db.collection("rt")
    ts_by_version = {e["version"]: e["ts"] for e in col.wal_entries()}
    # between the two inserts -> v1's content (only id 1)
    mid = (ts_by_version[1] + ts_by_version[2]) / 2
    info = engine.execute("RESTORE", collection="rt", arg={"ts": mid}).info
    assert info["restored_from"] == 1 and info["rows"] == 1
    assert {r["id"] for r in col.read().collect()} == {1}
    # far future resolves to CURRENT -> rejected as a no-op restore
    with pytest.raises(CommandArgError, match="already at version"):
        engine.execute("RESTORE", collection="rt", arg={"ts": mid + 1e9})
    # before creation -> nothing to restore
    with pytest.raises(CommandArgError, match="no retained commit"):
        engine.execute("RESTORE", collection="rt", arg={"ts": 0.0})
    # ts and version together, and non-numeric ts, are rejected
    with pytest.raises(CommandArgError):
        engine.execute("RESTORE", collection="rt", arg={"ts": mid, "version": 1})
    with pytest.raises(CommandArgError):
        engine.execute("RESTORE", collection="rt", arg={"ts": "noon"})


def test_restore_detects_racing_commit_under_lock(engine, spark, monkeypatch):
    """The fast path re-checks CURRENT under the commit lock: a racing
    commit that lands the collection ON the restore target between the
    outer validation and lock acquisition must surface as a conflict,
    not a silent duplicate commit. Simulated by a lock wrapper that
    moves the pointer at the exact pre-lock instant."""
    from contextlib import contextmanager

    from vrod_spark.catalog import CURRENT, _atomic_write
    from vrod_spark.errors import CommitConflictError

    engine.execute("CREATE", collection="rc")
    engine.execute("INSERT", collection="rc", arg=[{"id": 1, "payload": "a"}])
    engine.execute("INSERT", collection="rc", arg=[{"id": 2, "payload": "b"}])
    col = engine.db.collection("rc")
    real_lock = col._commit_lock

    @contextmanager
    def racing_lock(timeout=30.0):
        _atomic_write(os.path.join(col.path, CURRENT), "1")
        with real_lock(timeout):
            yield

    monkeypatch.setattr(col, "_commit_lock", racing_lock)
    with pytest.raises(CommitConflictError):
        col.restore(1)
    # nothing was committed: CURRENT is the racer's v1, no v3 dir exists
    assert col.version == 1
    assert not os.path.isdir(col.version_dir(3))


def test_restore_layout_race_falls_back_to_rematerialize(
    engine, spark, monkeypatch
):
    """r11 advice: linkability is decided from meta BEFORE the commit
    lock; a racing commit that changes the layout conventions (e.g.
    pinning partition_by) between that check and lock acquisition must
    NOT hard-link a flat snapshot under a now-partitioned meta — the
    under-lock re-check falls back to re-materializing through the
    CURRENT conventions. Simulated by a lock wrapper that rewrites meta
    at the exact pre-lock instant."""
    from contextlib import contextmanager

    engine.execute("CREATE", collection="lr")
    engine.execute(
        "INSERT",
        collection="lr",
        arg=[
            {"id": i, "payload": f"p{i}", "meta": {"region": ["eu", "us"][i % 2]}}
            for i in range(4)
        ],
    )
    engine.execute("DELETE", collection="lr", arg="id = 0")
    col = engine.db.collection("lr")
    real_lock = col._commit_lock

    @contextmanager
    def convention_flipping_lock(timeout=30.0):
        col.update_meta(partition_by="region")
        with real_lock(timeout):
            yield

    monkeypatch.setattr(col, "_commit_lock", convention_flipping_lock)
    n = col.restore(1)
    assert n == 4
    # The restored snapshot was WRITTEN under the new conventions
    # (pk= dirs), not hard-linked flat from the v1 source dir.
    dst = col.version_dir()
    assert any(e.startswith("pk=") for e in os.listdir(dst)), os.listdir(dst)
    got = {r["id"]: r["payload"] for r in col.read().collect()}
    assert got == {i: f"p{i}" for i in range(4)}


def test_export_since_version_after_replace_upsert(engine, spark, tmp_path):
    """r11 review: INSERT on_conflict=replace is a full REWRITE (every
    file renamed) committed with op UPSERT — read_delta must NOT take
    the file-level append fast path after one, or the incremental
    export ships the whole snapshot as 'new files'."""
    from vrod_spark.plans.inspect import explain_str

    engine.execute("CREATE", collection="up")
    engine.execute(
        "INSERT",
        collection="up",
        arg=[{"id": i, "payload": f"base{i}"} for i in range(5)],
    )
    col = engine.db.collection("up")
    v_base = col.version
    engine.execute(
        "INSERT",
        collection="up",
        arg={"rows": [{"id": 1, "payload": "REPLACED"}],
             "on_conflict": "replace"},
    )
    assert col.wal_entries()[-1]["op"] == "UPSERT"
    # semantic delta since v_base: no NEW ids were added — zero rows
    out = str(tmp_path / "up1")
    info = engine.execute(
        "EXPORT",
        collection="up",
        arg={"path": out, "columns": ["id", "payload"],
             "since_version": v_base},
    ).info
    assert info["rows"] == 0
    assert "LeftAnti" in explain_str(col.read_delta(v_base))
    # EXPORT rejects non-integer snapshot identities instead of
    # silently truncating them (same rule as RESTORE)
    with pytest.raises(CommandArgError):
        engine.execute(
            "EXPORT", collection="up",
            arg={"path": str(tmp_path / "x"), "since_version": 1.9},
        )
    with pytest.raises(CommandArgError):
        engine.execute(
            "EXPORT", collection="up",
            arg={"path": str(tmp_path / "y"), "version": True},
        )


def test_collection_name_path_traversal_rejected(engine, spark, tmp_path):
    """r11 review: every verb maps the collection name through
    Database.collection_path — '..', separators, and empty names are
    rejected there, so DROP '..' can never rmtree the database's
    parent."""
    for bad in ("..", ".", "", "a/b", "a\\b", "../../etc"):
        with pytest.raises(CommandArgError):
            engine.execute("DROP", collection=bad)
        with pytest.raises(CommandArgError):
            engine.execute("CREATE", collection=bad)
    # the database dir itself is untouched
    assert os.path.isdir(engine.db.path)


def test_commit_lock_stale_break_and_inode_guarded_release(engine):
    """r11 review lock semantics, directly: an abandoned (old-mtime)
    lock is stolen atomically; a FRESH lock is honored until timeout;
    and release never unlinks a lock file it no longer owns (inode
    guard), so a mistaken steal can't cascade."""
    import time as _t

    engine.execute("CREATE", collection="lk")
    col = engine.db.collection("lk")
    lock_path = os.path.join(col.path, ".commit-lock")
    # abandoned lock (mtime far past the timeout) -> stolen, acquired
    with open(lock_path, "w") as f:
        f.write("dead\n")
    old = _t.time() - 120
    os.utime(lock_path, (old, old))
    with col._commit_lock(timeout=2.0):
        assert os.path.exists(lock_path)
    assert not os.path.exists(lock_path)  # released by owner
    # live lock -> acquire honors it and times out. The staleness
    # threshold equals the acquire timeout, so emulate a HEARTBEATING
    # holder (whose mtime keeps moving) with a future mtime.
    with open(lock_path, "w") as f:
        f.write("alive\n")
    fut = _t.time() + 300
    os.utime(lock_path, (fut, fut))
    t0 = _t.time()
    with pytest.raises(TimeoutError):
        with col._commit_lock(timeout=0.3):
            pass
    assert _t.time() - t0 >= 0.3
    os.unlink(lock_path)
    # inode guard: if the lock is stolen and re-created by another
    # writer mid-section, release must NOT unlink the foreign lock
    with col._commit_lock(timeout=2.0):
        os.unlink(lock_path)
        with open(lock_path, "w") as f:
            f.write("other-writer\n")
    assert os.path.exists(lock_path)
    assert open(lock_path).read().startswith("other-writer")
    os.unlink(lock_path)


def test_concurrent_mixed_verbs_invariants(engine, spark):
    """r12 stress: 6 threads race MIXED verbs (append, upsert-replace,
    delete, restore, truncatewal, dedup) on one collection. Individual
    outcomes are racy by design — the invariants are not:

    - no committed APPEND is ever lost (every id inserted by the append
      threads is present unless a delete/dedup/restore legitimately
      removed it — appends use disjoint id ranges and the destructive
      verbs here only target the seed range, so append ids must all
      survive);
    - the collection always reads consistently (no torn snapshot: ids
      are unique, schema intact);
    - HISTORY ends coherent (exactly one CURRENT row == max retained
      version);
    - every raised error is a DECLARED engine error (CommandArgError /
      CommitConflictError), never a raw filesystem/Spark exception."""
    import random
    from concurrent.futures import ThreadPoolExecutor

    from vrod_spark.errors import (
        CollectionNotFoundError,
        CommandArgError,
        CommitConflictError,
    )

    engine.execute("CREATE", collection="mix")
    col = engine.db.collection("mix")
    # seed range 0..9: the only ids destructive verbs touch
    engine.execute(
        "INSERT",
        collection="mix",
        arg=[{"id": i, "payload": f"seed{i % 3}"} for i in range(10)],
    )
    errors: list[Exception] = []
    # Committed RESTOREs are tracked HERE, not via HISTORY: a later
    # TRUNCATEWAL clears the WAL, so HISTORY legally forgets a RESTORE
    # that rolled appends back (r12 review). list.append is atomic.
    restores: list[int] = []

    def appender(t):
        for i in range(3):
            rid = 1000 * (t + 1) + i
            try:
                # Unique payloads: a corpus-global DEDUP must never have
                # grounds to remove an append row (r12 review — shared
                # f"app{t}" payloads made thread-local appends exact
                # duplicates of each other).
                engine.execute(
                    "INSERT", collection="mix",
                    arg=[{"id": rid, "payload": f"app{t}-{i}"}],
                )
            except (CommandArgError, CommitConflictError):
                raise AssertionError("append must never conflict")

    def destroyer(t):
        rng = random.Random(t)
        for _ in range(3):
            verb = rng.choice(["delete", "replace", "restore", "truncate", "dedup"])
            try:
                if verb == "delete":
                    engine.execute("DELETE", collection="mix",
                                   arg=f"id = {rng.randrange(10)}")
                elif verb == "replace":
                    engine.execute(
                        "INSERT", collection="mix",
                        arg={"rows": [{"id": rng.randrange(10),
                                       "payload": "repl"}],
                             "on_conflict": "replace"},
                    )
                elif verb == "restore":
                    vs = sorted(col.committed_versions())
                    engine.execute("RESTORE", collection="mix",
                                   arg=vs[rng.randrange(len(vs))])
                    restores.append(1)
                elif verb == "truncate":
                    engine.execute("TRUNCATEWAL", collection="mix")
                else:
                    engine.execute("DEDUP", collection="mix")
            except (CommandArgError, CommitConflictError,
                    CollectionNotFoundError):
                # Legal race outcomes: stale target, conflict, or a
                # committed_versions() snapshot naming a version whose
                # dir a racing TRUNCATEWAL just reclaimed (v0 included:
                # committed_versions always contains 0, and truncation
                # removes its dir) -> CollectionNotFoundError (r12
                # review; all three are declared engine errors).
                pass
            except Exception as e:  # noqa: BLE001 — the invariant under test
                errors.append(e)

    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = [pool.submit(appender, t) for t in range(3)]
        futs += [pool.submit(destroyer, t) for t in range(3)]
        for f in futs:
            f.result()

    assert not errors, f"undeclared exceptions escaped: {errors[:3]}"
    rows = col.read().select("id", "payload").collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids)), "torn snapshot: duplicate ids"
    # RESTORE can roll back past an append's commit: an append id may
    # legally be absent ONLY if some restore committed after it targeted
    # an earlier snapshot. Detect via history: if no RESTORE ever
    # committed, every append id must be present.
    hist = engine.execute("HISTORY", collection="mix").df.collect()
    if not restores:
        expected = {1000 * (t + 1) + i for t in range(3) for i in range(3)}
        assert expected <= set(ids), sorted(expected - set(ids))
    cur_rows = [r for r in hist if r["current"]]
    assert len(cur_rows) == 1
    assert cur_rows[0]["version"] == max(r["version"] for r in hist)
    assert cur_rows[0]["retained"]
