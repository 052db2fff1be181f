"""Persisted IVF index (lakehouse/vector_index.py): load-without-corpus-IO,
manifest-level cell pruning, and parity with the in-memory search path."""

from __future__ import annotations

import numpy as np
import pytest

from octocode_spark.lakehouse.vector_index import (
    ivf_search_persisted,
    load_ivf_index,
    persist_ivf_index,
    probe_files,
)
from octocode_spark.operators.ann import (
    brute_force_topk,
    build_ivf_index,
    ivf_search,
    rank_cells,
)

N_CLUSTERS = 4


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.RandomState(11)
    base = rng.randn(N_CLUSTERS, 16) * 4
    rows = []
    vid = 0
    for c in range(N_CLUSTERS):
        for _ in range(60):
            v = base[c] + rng.randn(16) * 0.1
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>").cache()
    yield vecs, base
    vecs.unpersist()


def test_persisted_search_matches_in_memory(spark, clustered, tmp_path):
    vecs, base = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "ivf"))
    loaded = load_ivf_index(str(tmp_path / "ivf"))
    for c in range(3):
        q = [float(x) for x in base[c]]
        mem = [(r["vec_id"], r["cosine"]) for r in ivf_search(index, q, k=10, n_probe=2).collect()]
        per = [(r["vec_id"], r["cosine"]) for r in ivf_search_persisted(spark, loaded, q, k=10, n_probe=2).collect()]
        assert mem == per


def test_probe_plans_only_probed_cells_files(spark, clustered, tmp_path):
    """The scale claim: probing must be manifest-level file skipping — every
    planned file sits inside a probed cell's partition, and non-probed
    cells' files are never part of the scan."""
    vecs, base = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "ivf2"))
    all_files = t.files()
    cells_present = {f.partition["_cell"] for f in all_files}
    assert len(cells_present) == N_CLUSTERS  # one partition dir per cell
    q = [float(x) for x in base[0]]
    probe = rank_cells(
        index.centroids, q, index.normalized
    )[:2]
    planned = probe_files(t, probe)
    assert planned  # something to scan
    assert {f.partition["_cell"] for f in planned} <= {str(c) for c in probe}
    assert len(planned) < len(all_files)  # files outside the probe are skipped
    # row accounting: scan reads exactly the probed cells' records
    assert sum(f.records for f in planned) == (
        index.assigned.filter(f"_cell in ({probe[0]}, {probe[1]})").count()
    )


def test_persisted_recall_gate(spark, clustered, tmp_path):
    vecs, base = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "ivf3"))
    hits = 0
    for c in range(3):
        q = [float(x) for x in base[c]]
        exact = {r["vec_id"] for r in brute_force_topk(vecs, q, k=10).collect()}
        approx = {r["vec_id"] for r in ivf_search_persisted(spark, t, q, k=10, n_probe=2).collect()}
        hits += len(exact & approx)
    assert hits / 30 >= 0.9


def test_load_rejects_non_index_table(spark, tmp_path, clustered):
    vecs, _ = clustered
    from octocode_spark.lakehouse.table import LakeTable

    plain = LakeTable.create(str(tmp_path / "plain"), vecs.schema)
    plain.append(vecs)
    with pytest.raises(ValueError, match="not a persisted IVF index"):
        load_ivf_index(str(tmp_path / "plain"))


def test_ivf_append_assigns_to_existing_centroids(spark, clustered, tmp_path):
    """Incremental append: new vectors join the persisted index via a pure
    JVM centroid-assignment expression; each lands in the numpy-argmin cell
    and becomes findable by the persisted search path."""
    import json

    vecs, base = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "ivf_app"))
    pre_rows = sum(f.records for f in t.files())

    from octocode_spark.lakehouse.vector_index import ivf_append

    rng = np.random.RandomState(99)
    newbies = [
        (1000 + c, [float(x) for x in base[c] + rng.randn(16) * 0.05])
        for c in range(N_CLUSTERS)
    ]
    new_df = spark.createDataFrame(newbies, "vec_id: long, embedding: array<double>")
    ivf_append(t, new_df)
    t.refresh()
    assert sum(f.records for f in t.files()) == pre_rows + N_CLUSTERS

    # each appended vector sits in its numpy-argmin cell
    cents = [np.asarray(c) for c in json.loads(t.meta.properties["ivf.centroids"])]
    rows = {r["vec_id"]: r["_cell"] for r in t.read(spark).filter("vec_id >= 1000").collect()}
    for vid, v in newbies:
        q = np.asarray(v)
        q = q / np.linalg.norm(q)  # spherical index
        want = int(np.argmin([np.linalg.norm(c - q) for c in cents]))
        assert rows[vid] == want
    # and the persisted search path can find an appended vector
    got = ivf_search_persisted(spark, t, newbies[0][1], k=1, n_probe=1).collect()
    assert got[0]["vec_id"] == 1000


def test_sq8_quantized_index_recall_and_size(spark, clustered, tmp_path):
    """SQ8 storage: the quantized index is materially smaller on disk, the
    search path dequantizes JVM-side, retrieval stays in the right
    cluster with recall@10 >= 0.8 vs the exact baseline (this fixture's
    intra-cluster spacing is AT the SQ8 noise floor, so exact top-10 order
    inside the epsilon-ball is noise — the semantic guarantees are cluster
    membership and the reference's published SQ recall trade-off), and the
    decode error is bounded by scale/2 per component."""
    vecs, base = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    full = persist_ivf_index(index, str(tmp_path / "ivf_full"))
    sq8 = persist_ivf_index(index, str(tmp_path / "ivf_sq8"), quantize="sq8")
    bytes_full = sum(f.bytes for f in full.files())
    bytes_sq8 = sum(f.bytes for f in sq8.files())
    assert bytes_sq8 < bytes_full * 0.6, (bytes_sq8, bytes_full)

    hits = 0
    for c in range(3):
        q = [float(x) for x in base[c]]
        exact = {r["vec_id"] for r in brute_force_topk(vecs, q, k=10).collect()}
        approx = {r["vec_id"] for r in ivf_search_persisted(spark, sq8, q, k=10, n_probe=2).collect()}
        hits += len(exact & approx)
        # every result sits in the query's true cluster (ids c*60..c*60+59)
        assert all(c * 60 <= vid < (c + 1) * 60 for vid in approx)
    assert hits / 30 >= 0.8

    # decode error bound: |q*scale - v| <= scale/2 per component
    row = sq8.read(spark).filter("vec_id = 0").collect()[0]
    orig = dict((r["vec_id"], r["embedding"]) for r in vecs.collect())[0]
    dec = [q * row["_scale"] for q in row["embedding"]]
    assert max(abs(a - b) for a, b in zip(dec, orig)) <= row["_scale"] / 2 + 1e-12

    with pytest.raises(ValueError, match="unknown quantize"):
        persist_ivf_index(index, str(tmp_path / "bad"), quantize="pq")


@pytest.fixture(scope="module")
def clustered64(spark):
    """4 clusters × 100 vectors at dim 64 — wide enough for sign codes to
    separate clusters (16-bit codes would alias)."""
    rng = np.random.RandomState(11)
    base = rng.randn(N_CLUSTERS, 64) * 4
    rows = []
    vid = 0
    for c in range(N_CLUSTERS):
        for _ in range(100):
            v = base[c] + rng.randn(64) * 0.5
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>").cache()
    yield vecs, base
    vecs.unpersist()


def _vec_col_bytes(table) -> int:
    """Parquet-footer compressed bytes of the embedding column only — the
    honest measure of the quantizer tier itself (id/_scale/file overhead
    excluded)."""
    import glob

    import pyarrow.parquet as pq

    tot = 0
    for f in glob.glob(table.root + "/data/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema.startswith("embedding"):
                    tot += col.total_compressed_size
    return tot


def test_rq1_code_twin_and_hamming(spark, clustered64):
    """The JVM sign-code expression and the driver-side python twin agree
    bit-for-bit, and the Hamming expression matches python popcount."""
    from pyspark.sql import functions as F

    from octocode_spark.operators.ann import rq1_code_col, rq1_hamming, rq1_query_code

    vecs, base = clustered64
    sample = vecs.limit(20).collect()
    coded = {
        r["vec_id"]: r["code"]
        for r in vecs.limit(20).select("vec_id", rq1_code_col("embedding", 64).alias("code")).collect()
    }
    for r in sample:
        assert coded[r["vec_id"]] == rq1_query_code(r["embedding"])
    q = [float(x) for x in base[0]]
    qw = rq1_query_code(q)

    def pop_hamming(words):
        return sum(bin((a ^ b) & ((1 << 64) - 1)).count("1") for a, b in zip(words, qw))

    got = {
        r["vec_id"]: r["h"]
        for r in vecs.limit(20)
        .select("vec_id", rq1_hamming(rq1_code_col("embedding", 64), qw).alias("h"))
        .collect()
    }
    for vid, words in coded.items():
        assert got[vid] == pop_hamming(words)


def test_rq1_recall_with_rerank_and_storage(spark, clustered64, tmp_path):
    """The RaBitQ-analog gate (round-3 verdict ask #6): Hamming pre-rank +
    exact re-rank on the shortlist reaches recall@10 >= 0.9 vs brute force,
    and the quantized vector column stores >= 8x smaller than sq8
    (1 bit/dim vs ~1 byte/dim)."""
    vecs, base = clustered64
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    rq1 = persist_ivf_index(index, str(tmp_path / "rq1"), quantize="rq1")
    sq8 = persist_ivf_index(index, str(tmp_path / "sq8"), quantize="sq8")

    hits = 0
    for c in range(N_CLUSTERS):
        q = [float(x) for x in base[c]]
        exact = {r["vec_id"] for r in brute_force_topk(vecs, q, k=10).collect()}
        approx = {
            r["vec_id"]
            for r in ivf_search_persisted(
                spark, rq1, q, k=10, n_probe=2, rerank_vectors=vecs
            ).collect()
        }
        hits += len(exact & approx)
    assert hits / (10 * N_CLUSTERS) >= 0.9

    b_rq1, b_sq8 = _vec_col_bytes(rq1), _vec_col_bytes(sq8)
    assert b_sq8 >= 8 * b_rq1, (b_rq1, b_sq8)

    # hamming-only mode returns the cos(pi*h/dim) estimate, bounded [-1, 1]
    est = ivf_search_persisted(spark, rq1, [float(x) for x in base[0]], k=5, n_probe=2).collect()
    assert len(est) == 5 and all(-1.0 <= r["cosine"] <= 1.0 for r in est)


def test_rq1_append_and_recluster(spark, clustered64, tmp_path):
    """Appends into an rq1 index quantize like the build (schema-uniform,
    findable), and the drift recluster retrains from sign reconstructions."""
    from octocode_spark.lakehouse.vector_index import ivf_append, ivf_recluster

    vecs, base = clustered64
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "rq1_app"), quantize="rq1")
    new_df = spark.createDataFrame(
        [(9000, [float(x) for x in base[2]])], "vec_id: long, embedding: array<double>"
    )
    ivf_append(t, new_df, recluster_on_drift=False)
    t.refresh()
    got = ivf_search_persisted(spark, t, [float(x) for x in base[2]], k=1, n_probe=1,
                               rerank_vectors=vecs.unionByName(new_df)).collect()
    assert got[0]["vec_id"] == 9000  # exact centroid vector wins after re-rank

    ivf_recluster(spark, t)
    assert t.meta.properties["ivf.quantize"] == "rq1"
    assert t.meta.properties["ivf.indexed_rows"] == "401"
    got = ivf_search_persisted(spark, t, [float(x) for x in base[2]], k=1, n_probe=2,
                               rerank_vectors=vecs.unionByName(new_df)).collect()
    assert got[0]["vec_id"] == 9000


def test_adaptive_ivf_sizing_formula():
    """Mirror of the reference's property tests (vector_optimizer.rs:261-345)
    for the transplanted sizing formula."""
    from octocode_spark.operators.ann import (
        IvfParams,
        calculate_ivf_params,
        needs_reindex,
        should_recreate_index,
    )

    assert not calculate_ivf_params(500).should_create_index   # small → brute force
    p5k = calculate_ivf_params(5000)
    assert p5k.should_create_index and p5k.n_clusters >= 2     # medium → index
    assert calculate_ivf_params(50000).n_clusters > p5k.n_clusters  # grows with rows
    assert calculate_ivf_params(2_000_000).n_clusters == 2     # 2M // 2^20 ≈ 1.9 → 2 (clamped from 1)
    assert calculate_ivf_params(1000).n_clusters >= 2          # minimum partitions
    optimal = IvfParams(True, 100)
    assert not should_recreate_index(80, optimal)              # <50% drift
    assert should_recreate_index(10, optimal)                  # >50% drift
    assert not needs_reindex(1500, 1000)                       # 50% growth — at the bar
    assert needs_reindex(2000, 1000)                           # 100% growth
    assert not needs_reindex(1000, 1000)
    assert not needs_reindex(1000, 0)                          # never-indexed guard


def test_adaptive_ivf_sizing_bounds_property():
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from octocode_spark.operators.ann import calculate_ivf_params

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=0, max_value=10**13))
    def check(rows):
        p = calculate_ivf_params(rows)
        if rows < 1000:
            assert not p.should_create_index
        else:
            assert p.should_create_index
            assert 2 <= p.n_clusters <= 1024
            if rows >= 1_048_576:
                assert p.n_clusters == min(max(rows // 1_048_576, 2), 1024)
            else:
                assert p.n_clusters == max(math.isqrt(rows), 2)

    check()
    # 10^9 vectors → ~954 cells, NOT the old fixed 16
    assert calculate_ivf_params(10**9).n_clusters == 953


def test_build_ivf_index_adaptive_default_refuses_tiny_corpus(spark, clustered):
    vecs, _ = clustered  # 240 rows < 1000
    with pytest.raises(ValueError, match="brute_force_topk"):
        build_ivf_index(vecs, cache=False)


def test_ivf_append_drift_triggers_recluster(spark, clustered, tmp_path):
    """>50% growth through ivf_append re-trains the quantizer: centroids and
    indexed_rows update, the table is rewritten in one snapshot, and search
    still finds both old and new vectors."""
    import json

    from octocode_spark.lakehouse.vector_index import (
        ivf_append,
        ivf_needs_recluster,
        ivf_recluster,
    )

    vecs, base = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "ivf_drift"))
    assert t.meta.properties["ivf.indexed_rows"] == "240"
    assert not ivf_needs_recluster(t)
    old_centroids = t.meta.properties["ivf.centroids"]

    rng = np.random.RandomState(7)
    grown = [
        (2000 + i, [float(x) for x in base[i % N_CLUSTERS] + rng.randn(16) * 0.1])
        for i in range(150)  # 240 → 390 rows: 62% growth > the 50% gate
    ]
    new_df = spark.createDataFrame(grown, "vec_id: long, embedding: array<double>")

    # deferred mode: append only, drift reported but not acted on
    ivf_append(t, new_df.limit(0), recluster_on_drift=False)
    assert not ivf_needs_recluster(t)
    ivf_append(t, new_df, recluster_on_drift=False)
    assert ivf_needs_recluster(t)

    ivf_recluster(spark, t)
    assert t.meta.properties["ivf.indexed_rows"] == "390"
    assert not ivf_needs_recluster(t)
    assert t.meta.properties["ivf.centroids"] != old_centroids
    got = ivf_search_persisted(spark, t, grown[0][1], k=1, n_probe=2).collect()
    assert got[0]["vec_id"] == 2000
    got_old = ivf_search_persisted(spark, t, [float(x) for x in base[0]], k=10, n_probe=2).collect()
    assert got_old  # pre-growth vectors still reachable


def test_ivf_append_into_sq8_index(spark, clustered, tmp_path):
    """Incremental append must honor the stored quantize mode: appended
    vectors are SQ8-quantized like the build, stay schema-uniform, and are
    findable through the dequantizing search path."""
    vecs, base = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "ivf_sq8_app"), quantize="sq8")

    from octocode_spark.lakehouse.vector_index import ivf_append

    new_df = spark.createDataFrame(
        [(5000, [float(x) for x in base[1]])], "vec_id: long, embedding: array<double>"
    )
    ivf_append(t, new_df)
    t.refresh()
    got = ivf_search_persisted(spark, t, [float(x) for x in base[1]], k=1, n_probe=1).collect()
    assert got[0]["vec_id"] == 5000  # the exact centroid vector wins top-1


def test_rq1c_centered_codes_discriminate_within_cell(spark, tmp_path):
    """The centered tier (quantize='rq1c', the actual RaBitQ shape: bits
    quantize the residual against the cell centroid, vector_optimizer.rs:
    26-54). On a corpus that is ONE tight cluster, every vector shares the
    centroid's sign pattern, so global-sign rq1 codes are all near-identical
    and the Hamming shortlist is blind; centered codes rank by the residual
    and recover the true neighbors. Same index layout, same query, same
    tight shortlist — only the code space differs."""
    rng = np.random.RandomState(7)
    center = rng.randn(64) * 4
    vecs_np = center + rng.randn(300, 64) * 0.5
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in vecs_np[i]]) for i in range(300)],
        "vec_id: long, embedding: array<double>",
    ).cache()
    q = [float(x) for x in vecs_np[17]]
    exact = {r["vec_id"] for r in brute_force_topk(vecs, q, k=10).collect()}

    index = build_ivf_index(vecs, n_clusters=2, cache=False)
    recalls = {}
    for mode in ("rq1", "rq1c"):
        t = persist_ivf_index(index, str(tmp_path / mode), quantize=mode)
        got = {
            r["vec_id"]
            for r in ivf_search_persisted(
                spark, t, q, k=10, n_probe=2, rerank_vectors=vecs, shortlist=100
            ).collect()
        }
        recalls[mode] = len(exact & got) / 10
    # measured on this seed: rq1c 0.7 vs rq1 0.5 at shortlist=100 (0.4 vs
    # 0.1 at 30) — centered codes discriminate where global signs are blind
    assert recalls["rq1c"] >= 0.6, recalls
    assert recalls["rq1c"] > recalls["rq1"], recalls
    vecs.unpersist()


def test_rq1c_append_and_recluster_lifecycle(spark, clustered64, tmp_path):
    """rq1c appends code the residual against the STORED centroids and the
    drift recluster re-centers against the retrained ones — the index stays
    schema- and semantics-uniform through its whole lifecycle."""
    from octocode_spark.lakehouse.vector_index import ivf_append, ivf_recluster

    vecs, base = clustered64
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "rq1c_app"), quantize="rq1c")
    new_df = spark.createDataFrame(
        [(9100, [float(x) for x in base[1]])], "vec_id: long, embedding: array<double>"
    )
    ivf_append(t, new_df, recluster_on_drift=False)
    t.refresh()
    got = ivf_search_persisted(spark, t, [float(x) for x in base[1]], k=1, n_probe=1,
                               rerank_vectors=vecs.unionByName(new_df)).collect()
    assert got[0]["vec_id"] == 9100

    ivf_recluster(spark, t)
    assert t.meta.properties["ivf.quantize"] == "rq1c"
    got = ivf_search_persisted(spark, t, [float(x) for x in base[1]], k=1, n_probe=2,
                               rerank_vectors=vecs.unionByName(new_df)).collect()
    assert got[0]["vec_id"] == 9100


def test_rq1c_refuses_hamming_only_estimate(spark, clustered64, tmp_path):
    """Centered codes measure the residual angle — cos(pi*h/dim) over them
    is NOT a cosine approximation of the stored vectors, so the no-rerank
    path must refuse loudly instead of returning a misleading score."""
    vecs, base = clustered64
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "rq1c_ref"), quantize="rq1c")
    with pytest.raises(ValueError, match="rerank_vectors"):
        ivf_search_persisted(spark, t, [float(x) for x in base[0]], k=5, n_probe=2)


@pytest.mark.parametrize("mode", ["none", "sq8", "rq1", "rq1c"])
def test_stored_columns_match_numpy(spark, clustered64, tmp_path, mode):
    """Build and append rows of a spherical index store what numpy computes:
    each appended copy of a build vector lands in its source's cell, and
    `_scale` is max|v|/127 (sq8), ‖v‖ (rq1) or ‖unit(v) − centroid[_cell]‖
    (rq1c) on every row."""
    import json

    from octocode_spark.lakehouse.vector_index import ivf_append

    vecs, _ = clustered64
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / mode), quantize=None if mode == "none" else mode)
    src = {r["vec_id"]: np.asarray(r["embedding"]) for r in vecs.collect()}
    copies = {100_000 + vid: vid for vid in sorted(src)[::7]}
    new_df = spark.createDataFrame(
        [(nid, [float(x) for x in src[vid]]) for nid, vid in copies.items()],
        "vec_id: long, embedding: array<double>",
    )
    ivf_append(t, new_df, recluster_on_drift=False)
    t.refresh()
    rows = {r["vec_id"]: r for r in t.read(spark).collect()}
    assert len(rows) == len(src) + len(copies)
    assert {nid: rows[nid]["_cell"] for nid in copies} == {
        nid: rows[vid]["_cell"] for nid, vid in copies.items()
    }
    if mode == "none":
        return
    cents = [np.asarray(c) for c in json.loads(t.meta.properties["ivf.centroids"])]
    for vid, r in rows.items():
        v = src[copies.get(vid, vid)]
        if mode == "sq8":
            want = max(np.abs(v).max() / 127.0, 1e-30)
        elif mode == "rq1":
            want = np.linalg.norm(v)
        else:
            want = np.linalg.norm(v / np.linalg.norm(v) - cents[r["_cell"]])
        assert r["_scale"] == pytest.approx(want, rel=1e-9), (vid, r["_cell"])


def test_ivf_recluster_keeps_sq8(spark, clustered, tmp_path):
    """An sq8 index stays sq8 through a recluster: int codes, and an
    appended vector is still found top-1."""
    from pyspark.sql import types as T

    from octocode_spark.lakehouse.vector_index import ivf_append, ivf_recluster

    vecs, base = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "sq8_rc"), quantize="sq8")
    new_df = spark.createDataFrame(
        [(5100, [float(x) for x in base[1]])], "vec_id: long, embedding: array<double>"
    )
    ivf_append(t, new_df, recluster_on_drift=False)
    ivf_recluster(spark, t)
    assert t.meta.properties["ivf.quantize"] == "sq8"
    assert t.read(spark).schema["embedding"].dataType == T.ArrayType(T.IntegerType())
    got = ivf_search_persisted(spark, t, [float(x) for x in base[1]], k=1, n_probe=2).collect()
    assert got[0]["vec_id"] == 5100


def test_ivf_recluster_rejects_unknown_mode(spark, clustered, tmp_path):
    """An unknown stored quantize mode makes ivf_recluster raise before it
    commits, instead of rewriting the index as raw vectors."""
    from octocode_spark.lakehouse.vector_index import ivf_recluster

    vecs, _ = clustered
    index = build_ivf_index(vecs, n_clusters=N_CLUSTERS, cache=False)
    t = persist_ivf_index(index, str(tmp_path / "pq"))
    t.update_properties({"ivf.quantize": "pq"})
    before = t.meta.current_snapshot_id
    with pytest.raises(ValueError, match="unknown quantize"):
        ivf_recluster(spark, t)
    t.refresh()
    assert t.meta.current_snapshot_id == before
