"""Similarity search over an embedding column (`embeddings` table:
vec_id, embedding array<float>, label).

- brute-force cosine top-k: `F.zip_with` dot product + TakeOrderedAndProject —
  the correctness baseline (reference ANN analog, src/store/mod.rs:817-878).
- LSH-bucketed variant: random-hyperplane signs → bucket equi-join → exact
  re-rank inside buckets. The scale path: candidate set is per-bucket, never
  the full corpus.
- all-pairs near-dup by cosine ≥ τ, bucket-blocked.

The hyperplanes are derived from xxhash64 with literal seeds, so results are
deterministic at any parallelism.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _unit(a: Column) -> Column:
    """a / ‖a‖; the zero vector stays as it is."""
    nrm = _norm(a)
    return F.when(nrm > 0, F.transform(a, lambda x: x / nrm)).otherwise(a)


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    vectors: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: one scan, per-partition partial top-k
    (TakeOrderedAndProject — no full sort, no full shuffle)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = sum(x * x for x in query) ** 0.5
    sim = _dot(F.col(vec_col).cast("array<double>"), q) / (_norm(F.col(vec_col).cast("array<double>")) * F.lit(qn))
    return (
        vectors.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplane_sign(vec: Column, plane_seed: int, dim: int) -> Column:
    """Sign of <v, r> where r is a deterministic ±1 hyperplane from xxhash of
    (seed, position). ±1 planes make the signature SQL-expressible."""
    signs = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(F.pmod(F.xxhash64(F.lit(plane_seed), i), F.lit(2)) == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    return (F.aggregate(F.zip_with(vec, signs, lambda x, s: x * s), F.lit(0.0), lambda a, v: a + v) >= 0)


def lsh_signature(vec_col: str, dim: int, num_planes: int = 16) -> Column:
    """num_planes-bit random-hyperplane signature packed into a long."""
    v = F.col(vec_col).cast("array<double>")
    bits = [
        F.when(_hyperplane_sign(v, p, dim), F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        for p in range(num_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_query_signature(query: list[float], num_planes: int) -> int:
    """The query vector's hyperplane signature, computed ENTIRELY on the
    driver (no 1-row Spark job): the pure-Python xxhash64 twin reproduces the
    JVM plane derivation bit-for-bit, and the dot product follows the same
    left-to-right IEEE accumulation order as ``F.aggregate``."""
    from octocode_spark.functions.xxh import xxhash64_ints

    sig = 0
    for p in range(num_planes):
        acc = 0.0
        for i, x in enumerate(query):
            s = 1.0 if xxhash64_ints(p, i) % 2 == 0 else -1.0
            acc = acc + float(x) * s
        if acc >= 0:
            sig |= 1 << p
    return sig


def lsh_topk(
    vectors: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    probe_hamming: int = 2,
) -> DataFrame:
    """ANN: restrict the exact re-rank to vectors whose signature is within
    ``probe_hamming`` bits of the query's (multi-probe LSH)."""
    dim = len(query)
    sigged = vectors.withColumn("_sig", lsh_signature(vec_col, dim, num_planes))
    qsig = lsh_query_signature(query, num_planes)
    cand = sigged.filter(F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= probe_hamming)
    return brute_force_topk(cand, query, k, id_col, vec_col)


def lsh_signature_literal(vec: list[float], num_planes: int) -> Column:
    """JVM-side signature of a literal vector (kept as the equivalence-test
    twin of lsh_query_signature)."""
    arr = F.array(*[F.lit(float(x)) for x in vec])
    sig = F.lit(0).cast("long")
    for p in range(num_planes):
        sig = sig + F.when(_hyperplane_sign(arr, p, len(vec)), F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


# ---------------------------------------------------------------- rq1 sign codes
# 1-bit-per-dimension binary quantization — the RaBitQ 32×-compression tier
# the reference ships beside SQ (IVF_RQ, src/store/vector_optimizer.rs:26-36,
# 52-54). Code = sign bits packed into ceil(dim/64) longs; distance proxy =
# Hamming via xor + bit_count (the simhash_near_pairs trick); per-vector L2
# norm rides along as `_scale` so a dot-product estimate stays available.


def rq1_code_col(vec_col: str | Column, dim: int) -> Column:
    """array<bigint> of ceil(dim/64) words: bit j of word w = 1 iff
    v[64w+j] >= 0. Pure JVM (shiftleft/bitwiseOR) — bit 63 lands on the
    sign bit exactly like the python twin's signed conversion."""
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast("array<double>")
    words = []
    for w in range((dim + 63) // 64):
        acc = F.lit(0).cast("long")
        for j in range(min(64, dim - 64 * w)):
            bit = F.when(
                F.element_at(v, 64 * w + j + 1) >= 0,
                F.shiftleft(F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long"))
            acc = acc.bitwiseOR(bit)
        words.append(acc)
    return F.array(*words)


def rq1_query_code(query: list[float]) -> list[int]:
    """The query's sign code, computed on the driver (no Spark job) —
    signed-64 words bit-identical to rq1_code_col."""
    words = []
    for w in range((len(query) + 63) // 64):
        acc = 0
        for j in range(min(64, len(query) - 64 * w)):
            if float(query[64 * w + j]) >= 0:
                acc |= 1 << j
        if acc >= 1 << 63:  # two's-complement into a signed long
            acc -= 1 << 64
        words.append(acc)
    return words


def rq1_hamming(code_col: str | Column, query_words: list[int]) -> Column:
    """Hamming distance between a stored code and the query's words:
    Σ bit_count(word ⊕ qword) — whole-stage-codegen, no UDF."""
    c = F.col(code_col) if isinstance(code_col, str) else code_col
    total = None
    for i, qw in enumerate(query_words):
        t = F.bit_count(F.element_at(c, i + 1).bitwiseXOR(F.lit(qw).cast("long")))
        total = t if total is None else total + t
    return total.cast("int")


def rq1_hamming_cols(code_col: str | Column, qcode_col: str | Column, n_words: int) -> Column:
    """Hamming distance between TWO code columns (the centered-rq1 search
    shape, where the query's code differs per probed cell and rides in a
    broadcast-joined column) — same codegen xor/bit_count, no UDF."""
    a = F.col(code_col) if isinstance(code_col, str) else code_col
    b = F.col(qcode_col) if isinstance(qcode_col, str) else qcode_col
    total = None
    for i in range(n_words):
        t = F.bit_count(F.element_at(a, i + 1).bitwiseXOR(F.element_at(b, i + 1)))
        total = t if total is None else total + t
    return total.cast("int")


# ---------------------------------------------------------------- adaptive sizing
# The reference derives the IVF partition count from the corpus size instead
# of taking a fixed parameter (src/store/vector_optimizer.rs:130-197):
# rows//2^20 for large corpora, trunc(sqrt(rows)) small, clamped [2, 1024],
# and no index at all below 1k rows (brute force wins there).
IVF_MIN_INDEX_ROWS = 1000
IVF_LARGE_ROWS = 1_048_576
IVF_MIN_PARTITIONS = 2
IVF_MAX_PARTITIONS = 1024


class IvfParams(NamedTuple):
    should_create_index: bool
    n_clusters: int


def calculate_ivf_params(row_count: int) -> IvfParams:
    """Adaptive IVF sizing (reference calculate_index_params,
    src/store/vector_optimizer.rs:130-197): at 10^9 vectors this yields ~954
    cells — a fixed n_clusters=16 default would be no index at that scale."""
    if row_count < IVF_MIN_INDEX_ROWS:
        return IvfParams(False, 0)
    if row_count >= IVF_LARGE_ROWS:
        n = row_count // IVF_LARGE_ROWS
    else:
        n = max(math.isqrt(row_count), IVF_MIN_PARTITIONS)  # trunc(sqrt), as the reference casts
    return IvfParams(True, min(max(n, IVF_MIN_PARTITIONS), IVF_MAX_PARTITIONS))


def should_recreate_index(current_partitions: int, optimal: IvfParams) -> bool:
    """Partition-count drift gate (vector_optimizer.rs:226-239): recreate
    when the current cell count is >50% off the optimum for today's rows."""
    if not optimal.should_create_index:
        return False
    return abs(current_partitions - optimal.n_clusters) / optimal.n_clusters > 0.5


def needs_reindex(current_rows: int, indexed_rows: int) -> bool:
    """Growth drift gate (vector_optimizer.rs:241-258): re-train after the
    corpus grew >50% past what the index was built on."""
    if indexed_rows == 0:
        return False
    return (current_rows - indexed_rows) / indexed_rows > 0.5


class IvfIndex:
    """A built IVF index: coarse-quantizer centroids (driver-side, tiny) +
    the cell-assigned corpus (distributed). ``assigned`` is what
    lakehouse.vector_index persists as a LakeTable partitioned by ``_cell``
    so the search path prunes to n_probe/n_clusters of the corpus via
    manifest-level file skipping."""

    def __init__(self, centroids, assigned: DataFrame, id_col: str, vec_col: str,
                 normalized: bool = False):
        self.centroids = centroids    # list[np.ndarray]
        self.assigned = assigned      # (id_col, vec_col, _cell)
        self.id_col = id_col
        self.vec_col = vec_col
        self.normalized = normalized  # centroids live on the unit sphere


def build_ivf_index(
    vectors: DataFrame,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    cache: bool = True,
    normalize: bool = True,
) -> IvfIndex:
    """INDEX BUILD (run once, reuse for every query): k-means coarse
    quantizer trained on the corpus (or a deterministic md5-bucket sample at
    scale via ``train_fraction``), then one transform pass assigns every
    vector to its cell.

    ``n_clusters=None`` (default) sizes the index ADAPTIVELY from the row
    count via calculate_ivf_params — rows//2^20 large, trunc(sqrt) small,
    clamp [2, 1024] — and raises below 1000 rows, where the reference skips
    indexing because brute_force_topk wins. The count is one column-pruned
    count(*) (parquet answers it from footers). Pass an explicit n_clusters
    to pin the layout instead.

    With ``normalize`` (default) training/assignment run on L2-normalized
    copies (spherical k-means), making the probe step's L2 centroid ranking
    consistent with the cosine re-rank — for unnormalized embeddings the
    nearest-L2 cells could otherwise exclude top-cosine neighbors. The
    stored corpus vectors stay untouched.

    The reference builds its vector index once at ingest and reuses it per
    query (src/store/vector_optimizer.rs); the round-1 shape — KMeans.fit
    inside the query path — is exactly what this split removes.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_clusters is None:
        params = calculate_ivf_params(vectors.count())
        if not params.should_create_index:
            raise ValueError(
                f"corpus below {IVF_MIN_INDEX_ROWS} rows: skip the index and use "
                "brute_force_topk (reference vector_optimizer.rs:137-155), or pin "
                "n_clusters explicitly"
            )
        n_clusters = params.n_clusters

    v = F.col(vec_col).cast("array<double>")
    feat = vectors.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(_unit(v) if normalize else v).alias("_feat"),
    )
    train = feat
    if train_fraction is not None and train_fraction < 1.0:
        # deterministic, engine-portable sample (same trick as q39)
        bucket = F.pmod(
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long"),
            F.lit(1_000_000),
        )
        train = feat.filter(bucket < int(train_fraction * 1_000_000))
    km = KMeans(k=n_clusters, seed=42, featuresCol="_feat", predictionCol="_cell")
    model = km.fit(train)
    assigned = model.transform(feat).select(id_col, vec_col, "_cell")
    if cache:
        assigned = assigned.cache()
    return IvfIndex(model.clusterCenters(), assigned, id_col, vec_col,
                    normalized=normalize)


def ivf_search(
    index: IvfIndex,
    query: list[float],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """QUERY PATH: rank centroids against the query in numpy (driver-side,
    n_clusters·dim flops — no Spark job), then exact cosine re-rank inside
    the n_probe nearest cells only. No fitting, no full-corpus scan when
    ``index.assigned`` is persisted partitioned by cell."""
    probe_cells = rank_cells(index.centroids, query, index.normalized)[:n_probe]
    cand = index.assigned.filter(F.col("_cell").isin(probe_cells)).drop("_cell")
    return brute_force_topk(cand, query, k, index.id_col, index.vec_col)


def rank_cells(centroids, query: list[float], normalized: bool) -> list[int]:
    """Cells by rising L2 distance to the (unit-normalized, when the index
    is spherical) query — driver-side numpy, n_clusters·dim flops."""
    import numpy as np

    q = np.asarray(query, dtype=float)
    if normalized:
        n = float(np.linalg.norm(q))
        if n > 0:
            q = q / n
    dists = [float(np.linalg.norm(np.asarray(c) - q)) for c in centroids]
    return sorted(range(len(dists)), key=lambda i: dists[i])


def ivf_topk(
    vectors: DataFrame,
    query: list[float],
    k: int = 10,
    n_clusters: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-shot convenience: build_ivf_index + ivf_search. Demo/battery use
    only — amortize the build across queries via build_ivf_index."""
    index = build_ivf_index(vectors, n_clusters, id_col, vec_col, cache=False)
    return ivf_search(index, query, k, n_probe)


def cosine_near_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucket equi-join (same signature) →
    exact cosine ≥ threshold. At 8 planes, vectors above ~0.95 cosine share
    a bucket with high probability; raise recall with fewer planes.

    Pass ``dim`` to keep the plan fully lazy — without it, a driver-side
    first() probes one row for the vector length before planning."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[vec_col])
    sigged = vectors.select(
        F.col(id_col), F.col(vec_col), lsh_signature(vec_col, dim, num_planes).alias("_sig")
    )
    a = sigged.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"), "_sig")
    b = sigged.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), "_sig")
    return (
        a.join(b, "_sig")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(cosine_sim(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
