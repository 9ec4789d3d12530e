"""Similarity search over embedding columns (SURVEY.md §7 step 9).

The embedding column is a plain ``array<float>`` — SQL-queryable, Arrow-
friendly, no VectorUDT (SURVEY §7 "what's hard": keep features as arrays,
convert only at MLlib boundaries).

Three tiers, matching how ANN actually scales:
1. ``knn_bruteforce`` — exact cosine top-k as pure SQL array expressions
   (zip_with/aggregate): the correctness baseline, oracle-checkable.
2. ``knn_pandas``    — same exact semantics through an Arrow-batched pandas
   UDF doing one BLAS matmul per batch: the single-node throughput path
   (~10-100× over per-element expression eval at wide batch sizes).
3. ``ivf_assign`` / ``knn_ivf`` — inverted-file partitioning: assign every
   vector to its nearest centroid (one broadcast join), search only the
   probed cluster. This is the 100 TB path: the full cross product never
   materializes; each query touches 1/n_clusters of the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from dataquality_ml_spark.operators.relational import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_sim(a, b):
    """Cosine similarity between two array<float> columns — JVM-side."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def knn_bruteforce(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``query_df`` is broadcast (queries are few); the corpus side streams —
    the join is a broadcast nested loop producing |corpus|×|queries| rows
    but never shuffling the corpus. Rank window partitions by query id.

    Ranking uses the ROUNDED similarity (4 dp) with the neighbor id as
    tie-break so the result is bit-stable across engines and runs.
    """
    q = F.broadcast(
        query_df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    c = emb_df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(q, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine_sim(F.col("q_vec"), F.col("c_vec")), 4) + F.lit(0.0))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def knn_pandas(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Same exact semantics as :func:`knn_bruteforce`, executed as one
    numpy matmul per Arrow batch against the driver-broadcast, L2-normalized
    query matrix. Scale shape: corpus streams through executors in batches;
    only (batch × k) candidate rows survive per batch before the global
    top-k reduction."""
    import numpy as np
    import pandas as pd

    spark = emb_df.sparkSession
    qrows = query_df.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in qrows])
    q_mat = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        ids, mat = bc.value
        for pdf in batches:
            c = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ mat.T  # (batch, n_queries)
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(ids, n),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), len(ids)),
                    "sim": np.round(sims.T.ravel(), 4) + 0.0,
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = emb_df.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def centroids_by_label(
    emb_df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean vector per label — a k-means-style centroid table
    computed as posexplode → groupBy(label, pos) → avg → re-assemble.
    Two shuffles over (rows × dim) scalars; linear and skew-free."""
    return (
        emb_df.select(F.col(label_col), F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(label_col, "pos")
        # rounded so the centroid is bit-identical across engines
        # (summation order differs between Spark partitions and the oracle)
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col(label_col).alias("centroid_id"),
            F.transform("pm", lambda s: s.getField("m")).alias("centroid"),
        )
    )


def ivf_probe_assign(
    emb_df: DataFrame,
    centroid_df: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``nprobe`` max-cosine centroids per vector (multi-probe IVF):
    one broadcast of the centroid table, a per-id rank window, rows with
    ``probe`` 1..nprobe. Same plan shape as the probe-1 assignment — the
    probe count only changes how many ranked rows survive."""
    c = F.broadcast(centroid_df)
    scored = emb_df.join(c).withColumn(
        "sim", F.round(cosine_sim(F.col(vec_col), F.col("centroid")), 6) + F.lit(0.0)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("probe", F.row_number().over(w))
        .where(F.col("probe") <= nprobe)
        .select(
            F.col(id_col),
            F.col("centroid_id").alias("assigned_centroid"),
            "sim",
            "probe",
        )
    )


def ivf_assign(
    emb_df: DataFrame,
    centroid_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (IVF list build).
    Centroids broadcast; one pass over the corpus, no shuffle of vectors."""
    return ivf_probe_assign(emb_df, centroid_df, 1, id_col, vec_col).select(
        id_col, "assigned_centroid", "sim"
    )


def knn_ivf(
    emb_df: DataFrame,
    query_df: DataFrame,
    centroid_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k with IVF: queries search only the corpus vectors assigned
    to the query's ``nprobe`` nearest centroids. Recall < 1 by design
    (probe truncation); raising ``nprobe`` recovers boundary queries whose
    true neighbors sit just across a Voronoi edge, at nprobe× candidate
    cost — candidates stay |corpus|·nprobe/n_centroids per query, and the
    probed lists are disjoint (a corpus vector lives in exactly one list)
    so no dedup step is needed."""
    assign = ivf_assign(emb_df, centroid_df, id_col, vec_col).select(
        id_col, "assigned_centroid"
    )
    corpus = emb_df.join(assign, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("assigned_centroid").alias("c_cluster"),
    )
    q_assign = ivf_probe_assign(query_df, centroid_df, nprobe, id_col, vec_col)
    q = F.broadcast(
        query_df.join(q_assign.select(id_col, "assigned_centroid"), id_col).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("assigned_centroid").alias("q_cluster"),
        )
    )
    scored = (
        corpus.join(
            q,
            (F.col("c_cluster") == F.col("q_cluster"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("sim", F.round(cosine_sim(F.col("q_vec"), F.col("c_vec")), 4) + F.lit(0.0))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane (SimHash-style) LSH over embeddings
# ---------------------------------------------------------------------------
def rhp_planes(dim: int, n_planes: int, seed: str = "rhp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, derived per-component from
    md5 — NOT engine RNG, so Spark and the DuckDB oracle share the exact
    same planes as plain float literals. Components are uniform in [-1, 1];
    for sign-of-dot-product LSH the component distribution only shifts the
    collision-probability curve, it does not break the ANN contract."""
    import hashlib

    planes = []
    for p in range(n_planes):
        comp = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}_{p}_{d}".encode()).hexdigest()[:8]
            comp.append(round(int(h, 16) / 0xFFFFFFFF * 2.0 - 1.0, 6))
        planes.append(comp)
    return planes


def rhp_signature(vec_col, planes: list[list[float]], bits_per_band: int) -> list:
    """Banded sign-bit signature of a vector: one integer bucket id per
    band, band b = bits [b·k, (b+1)·k). Sign bits come from the ROUNDED
    dot product (6 dp) so the boundary decision is engine-portable.
    Pure array expressions — JVM-side, no UDF."""
    n_bands = len(planes) // bits_per_band
    bands = []
    for b in range(n_bands):
        acc = F.lit(0)
        for i in range(bits_per_band):
            plane = planes[b * bits_per_band + i]
            lit_plane = F.array(*[F.lit(v) for v in plane])
            bit = (F.round(_dot(vec_col, lit_plane), 6) >= 0).cast("int")
            acc = acc + bit * F.lit(2**i)
        bands.append(acc.alias(f"band_{b}"))
    return bands


def rhp_near_dup_pairs(
    emb_df: DataFrame,
    n_planes: int = 12,
    bits_per_band: int = 6,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs via banded random-hyperplane LSH + exact cosine
    verify — the embedding analogue of MinHash-LSH for text (band match ⇒
    candidate; multiple bands recover the recall a single long signature
    loses). The all-pairs product never materializes: candidates are built
    per band by a groupBy on the band bucket (same machinery as MinHash's
    ``_bucket_pairs``), unioned, de-duplicated, then verified.

    Scale shape: 2 narrow shuffles (bucket groupBys) + one broadcast-free
    self-join ON PRECOMPUTED bucket ids; per-band bucket count 2^bits keeps
    bucket sizes ~n/2^bits, the knob to retune as n grows.
    """
    from dataquality_ml_spark.operators.dedup import _bucket_pairs

    planes = rhp_planes(64, n_planes)
    n_bands = n_planes // bits_per_band
    sig = emb_df.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("nrm"),
        *rhp_signature(F.col(vec_col), planes, bits_per_band),
    )
    # consumed once per band for candidates + once for verify, all inside
    # one query: EAGER, because a lazy checkpoint read by concurrent
    # subtrees races and recomputes (see drift.py's shared projection); a
    # local checkpoint, not .cache(), so no CacheManager entry outlives
    # the call
    sig = sig.localCheckpoint(eager=True)

    cand = None
    for b in range(n_bands):
        pairs_b = _bucket_pairs(
            sig.select(id_col, F.col(f"band_{b}").alias("bucket")), "bucket", id_col
        ).select("id_a", "id_b")
        cand = pairs_b if cand is None else cand.unionAll(pairs_b)
    cand = cand.distinct()

    a = sig.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b_side = sig.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        cand.join(a, "id_a")
        .join(b_side, "id_b")
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b")), 4)
            + F.lit(0.0),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


def cluster_pair_sims(
    members: DataFrame,
    threshold: float,
    cluster_col: str = "cluster",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 2048,
    sub_blocks: int = 1,
) -> DataFrame:
    """All intra-cluster cosine pairs >= threshold, one BLAS GEMM per
    cluster instead of one interpreted fold per pair — the vectorized form
    of the near-dup verification step (~10x over expression-eval dots).

    Arrow-batched ``applyInPandas`` keyed by cluster: one shuffle of the
    narrow (id, vec) rows, then each cluster's similarity matrix is
    computed block-row-wise (``block`` rows x cluster GEMM) so peak memory
    is O(block * n) not O(n^2).

    ``sub_blocks`` = B > 1 is the fat-cluster escape hatch: each member
    hashes into one of B sub-blocks and every (i <= j) sub-block pair
    becomes its own task — within-block groups enumerate their upper
    triangle, cross-block groups enumerate only cross pairs, so each
    unordered pair is produced exactly once. A task now holds at most
    2·n/B rows (shuffle volume grows B×: each row joins B groups). Pick
    B so n/B rows of vectors fit one task; result is bit-identical to
    B = 1 (asserted in tests).

    Rounds to 4 dp with -0.0 canonicalization — same contract as the SQL
    expression path, so the DuckDB oracle stays the correctness gate.
    """
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})

    def _gemm_pairs(ids, m, nrm, ids_b=None, m_b=None, nrm_b=None):
        """Upper-triangle pairs within (ids, m), or all cross pairs
        against (ids_b, m_b), id_a < id_b, block-row bounded."""
        cross = ids_b is not None
        if not cross:
            ids_b, m_b, nrm_b = ids, m, nrm
        out = []
        n = len(ids)
        for lo in range(0, n if cross else n - 1, block):
            hi = min(lo + block, n)
            s = (m[lo:hi] @ m_b.T) / np.outer(nrm[lo:hi], nrm_b)
            s = np.round(s, 4) + 0.0
            rows, cols = np.nonzero(s >= threshold)
            if not cross:
                keep = cols > rows + lo  # strict upper triangle
                rows, cols = rows[keep], cols[keep]
            if len(rows):
                a, b = ids[rows + lo], ids_b[cols]
                if cross:  # orient by id; ids are distinct across blocks
                    a, b = np.minimum(a, b), np.maximum(a, b)
                out.append(
                    pd.DataFrame(
                        {"id_a": a, "id_b": b, "cos_sim": s[rows, cols]}
                    )
                )
        return out

    def _prep(pdf):
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        return ids, m, np.sqrt(np.einsum("ij,ij->i", m, m))

    narrow = members.select(cluster_col, id_col, vec_col)
    schema = "id_a long, id_b long, cos_sim double"

    if sub_blocks <= 1:

        def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) < 2:
                return empty
            out = _gemm_pairs(*_prep(pdf))
            return pd.concat(out) if out else empty

        return narrow.groupBy(cluster_col).applyInPandas(_pairs, schema)

    B = sub_blocks
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B))
    base = narrow.withColumn("_blk", blk)
    parts = []
    for i in range(B):
        for j in range(i, B):
            parts.append(
                base.where(F.col("_blk").isin(i, j)).withColumn(
                    "_grp", F.lit(f"{i}:{j}")
                )
            )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)

    # no type hints: pyspark's eval-type inference warns on a partially
    # annotated (key, pdf) signature; the two-arg form is detected by arity
    def _pairs_salted(key, pdf):
        i, j = (int(x) for x in key[1].split(":"))
        if i == j:
            if len(pdf) < 2:
                return empty
            out = _gemm_pairs(*_prep(pdf))
        else:
            left = pdf[pdf["_blk"] == i]
            right = pdf[pdf["_blk"] == j]
            if not len(left) or not len(right):
                return empty
            out = _gemm_pairs(*_prep(left), *_prep(right))
        return pd.concat(out) if out else empty

    return allp.groupBy(cluster_col, "_grp").applyInPandas(
        _pairs_salted, schema
    )


def _sq_dist(vec_col, cent: list[float]):
    """Squared euclidean distance to a literal centroid — JVM-side fold."""
    lit = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(
            vec_col, lit, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans_fit(
    emb_df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> list[list[float]]:
    """Distributed Lloyd k-means over an array<float> column, returning the
    trained centroids (the IVF coarse quantizer's codebook).

    Deterministic throughout — engine-portable init (the k vectors with
    the smallest Knuth hash of their id, a reproducible pseudo-random
    draw) and fixed iteration count — so the whole fit is expressible as
    unrolled SQL and oracle-checkable, unlike seeded-random inits.

    Scale shape per iteration: assignment is a narrow scan (k literal-
    centroid distance folds per row, argmin via least/when — no join, no
    shuffle); the update is posexplode to (cluster, dim, value) rows and
    one map-side-combinable avg keyed by (cluster, dim) — shuffle volume
    k*dim rows AFTER partial agg, independent of corpus size. Centroids
    (k x dim doubles) live on the driver between iterations — they are
    model parameters, not data.
    """
    h = (F.col(id_col).cast("bigint") * F.lit(2654435761)) % F.lit(4294967296)
    init = (
        emb_df.select(F.col(id_col), F.col(vec_col))
        .where(F.col(vec_col).isNotNull())  # a null vector can't seed a centroid
        .withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r[vec_col]] for r in init]
    for _ in range(iters):
        # cluster + vector in ONE projection — assigning then joining back
        # on the id would shuffle the vectors the scan already had in hand
        assigned = kmeans_assign(emb_df, cents, id_col, vec_col, keep_vec=True)
        mean = F.avg(F.col("val").cast("double"))
        if round_dp is not None:
            # rounded means make the centroids bit-identical across engines
            # (summation order differs between Spark and the oracle)
            mean = F.round(mean, round_dp)
        rows = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(mean.alias("m"))
            .collect()
        )
        new = {c: dict() for c in range(len(cents))}
        for r in rows:
            new[r["cluster"]][r["pos"]] = r["m"]
        cents = [
            [new[c][p] for p in sorted(new[c])] if new[c] else cents[c]
            for c in range(len(cents))
        ]
    return cents


def kmeans_assign(
    emb_df: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cluster) for the nearest centroid — argmin over k literal
    distance expressions, ties to the lowest centroid id. Narrow scan,
    zero shuffle; codegen keeps all k folds in one stage. ``keep_vec``
    carries the vector through (the fit loop's centroid update reads it
    directly instead of joining back on the id)."""
    dists = [_sq_dist(F.col(vec_col), c) for c in cents]
    # F.least requires >= 2 columns; a single centroid is trivially best
    best = F.least(*dists) if len(dists) > 1 else dists[0]
    cluster = F.lit(len(cents) - 1)
    for j in range(len(cents) - 2, -1, -1):
        cluster = F.when(dists[j] == best, F.lit(j)).otherwise(cluster)
    cols = [F.col(id_col), cluster.alias("cluster")]
    if keep_vec:
        cols.append(F.col(vec_col))
    return emb_df.select(*cols)


def kmeans_probe_assign(
    emb_df: DataFrame,
    cents: list[list[float]],
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``nprobe`` nearest centroids per vector by squared euclidean
    distance — multi-probe coarse assignment for IVF-PQ. Still a narrow
    zero-shuffle scan: the k literal distance folds land in an array of
    (dist, cluster) structs, ``array_sort`` orders them (distance asc,
    cluster asc on ties — the same determinism as ``kmeans_assign``'s
    lowest-index tie-break), and a slice+posexplode emits one row per
    probed cluster with ``probe`` 1..nprobe."""
    structs = F.array(
        *[
            F.struct(
                _sq_dist(F.col(vec_col), c).alias("d"), F.lit(j).alias("c")
            )
            for j, c in enumerate(cents)
        ]
    )
    top = F.slice(F.array_sort(structs), 1, nprobe)
    return emb_df.select(
        F.col(id_col), F.posexplode_outer(top).alias("p", "e")
    ).select(
        F.col(id_col),
        F.col("e.c").alias("cluster"),
        (F.col("p") + 1).alias("probe"),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's fine quantizer) — the canonical 100 TB
# memory-reduction step for ANN: a d-dim float vector (d·4 bytes) becomes m
# uint8 codes (m bytes), and distances are computed against the codes via a
# per-query lookup table (ADC), never against the raw vectors.
# ---------------------------------------------------------------------------
def pq_train(
    emb_df: DataFrame,
    m: int = 2,
    k: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 6,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: split the vector into ``m`` contiguous
    sub-vectors and run deterministic Lloyd k-means on each (Jégou et al.,
    TPAMI'11 construction). Returns
    ``codebooks[s][c] = centroid c of subspace s``.

    Deterministic end to end (hash-smallest init, fixed iterations, rounded
    means), so the whole train+encode+search pipeline is expressible as
    unrolled SQL and oracle-checkable — same contract as ``kmeans_fit``.

    FUSED (VERDICT r3 item 4): all m subspaces train in the SAME pass —
    one init collect (the k hash-smallest rows seed every subspace, since
    slicing changes neither ids nor hashes), then per Lloyd iteration ONE
    corpus scan computes every subspace's argmin code (the ``pq_encode``
    expression against the current codebooks) and ONE posexplode +
    map-side-combined avg keyed by (subspace, cluster, dim) updates all
    codebooks — shuffle volume k·dim rows after partial agg. The previous
    shape (m sequential ``kmeans_fit`` runs) scanned the corpus m·iters
    times; at production m=8-16 that is 8-16× this scan cost for
    bit-identical output (same init rows, same argmin ties-to-lowest, same
    rounded means).
    """
    probe = emb_df.select(vec_col).first()
    if probe is None or probe[0] is None:
        raise ValueError("pq_train needs at least one non-null vector")
    dim = len(probe[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    h = (F.col(id_col).cast("bigint") * F.lit(2654435761)) % F.lit(4294967296)
    init = (
        emb_df.select(F.col(id_col), F.col(vec_col))
        .where(F.col(vec_col).isNotNull())  # a null vector can't seed a codebook
        .withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    cbs = [
        [[float(x) for x in r[vec_col][s * sub : (s + 1) * sub]] for r in init]
        for s in range(m)
    ]
    for _ in range(iters):
        # The m argmin code expressions must evaluate ONCE PER ROW, so they
        # ride INSIDE the generator input: each vector element zips with its
        # subspace's code (codes → array_repeat(sub) → flatten aligns them),
        # and the whole payload is one expression the generator consumes.
        # (Selecting codes as a sibling column of posexplode LOOKS right but
        # the optimizer collapses the projection through the Generate,
        # re-evaluating all m·k interpreted distance folds per EXPLODED row
        # — measured 2× slower than the sequential trainer it replaces.)
        clusters_rep = F.flatten(
            F.transform(
                _pq_code_array(vec_col, cbs), lambda c: F.array_repeat(c, sub)
            )
        )
        payload = F.zip_with(
            F.col(vec_col),
            clusters_rep,
            lambda v, c: F.struct(v.alias("val"), c.alias("cluster")),
        )
        # cheap null guard BEFORE the generator (plain posexplode would drop
        # null rows too, but its inferred size()>0 filter re-evaluates the
        # whole payload expression — the dedup.py 13× trap); matches
        # kmeans_fit, where plain posexplode drops null vectors
        ex = emb_df.where(F.col(vec_col).isNotNull()).select(
            F.posexplode_outer(payload).alias("pos", "e")
        )
        mean = F.avg(F.col("val").cast("double"))
        if round_dp is not None:
            mean = F.round(mean, round_dp)
        rows = (
            ex.select(
                F.expr(f"pos div {sub}").alias("s"),
                F.col("e.cluster").alias("cluster"),
                (F.col("pos") % sub).alias("spos"),
                F.col("e.val").alias("val"),
            )
            .groupBy("s", "cluster", "spos")
            .agg(mean.alias("m"))
            .collect()
        )
        new: dict = {(s, c): {} for s in range(m) for c in range(k)}
        for r in rows:
            new[(r["s"], r["cluster"])][r["spos"]] = r["m"]
        cbs = [
            [
                [got[p] for p in sorted(got)] if (got := new[(s, c)]) else cbs[s][c]
                for c in range(k)
            ]
            for s in range(m)
        ]
    return cbs


def _pq_code_array(vec_col: str, codebooks: list[list[list[float]]]):
    """Array of per-subspace argmin codeword indexes — ``m`` sets of
    literal-centroid distance folds, argmin via least/when with ties to
    the lowest code (the ``kmeans_assign`` shape). Pure codegen
    expressions; shared by the encode pass and the fused trainer."""
    sub = len(codebooks[0][0])
    code_cols = []
    for s, cb in enumerate(codebooks):
        sl = F.slice(F.col(vec_col), s * sub + 1, sub)
        dists = [_sq_dist(sl, c) for c in cb]
        best = F.least(*dists)
        code = F.lit(len(cb) - 1)
        for j in range(len(cb) - 2, -1, -1):
            code = F.when(dists[j] == best, F.lit(j)).otherwise(code)
        code_cols.append(code)
    return F.array(*code_cols)


def pq_encode(
    emb_df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes): per subspace, the argmin-distance codeword index.
    Narrow scan, zero shuffle, no UDF; at 100 TB this is the compression
    pass whose output (m bytes/vector) is what you persist and search."""
    return emb_df.select(
        F.col(id_col), _pq_code_array(vec_col, codebooks).alias("codes")
    )


def pq_adc_topk(
    query_df: DataFrame,
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: approximate
    ``||q − x||² ≈ Σ_s ||q_s − codebook[s][code_s(x)]||²``.

    Plan shape: per query, a LUT of (subspace, code) → rounded partial
    distance is built from the BROADCAST query relation joined to the m·k
    literal centroids (tiny: |queries|·m·k rows); the code table explodes
    to (neighbor, subspace, code) rows — linear in corpus — and
    broadcast-joins the LUT; one groupBy(query, neighbor) sums the m
    partials. The raw corpus vectors are never touched at search time,
    which is the entire point of PQ at 100 TB.

    Guard (VERDICT r3): the broadcast LUT is |queries|·m·k rows — bounded
    by the QUERY set, never the corpus. Keep query batches to what a
    broadcast holds (~10M rows at production m=16, k=256 is ~2.4k
    queries/GB); for larger query volumes, chunk the query set and union
    the per-chunk results rather than letting one LUT exceed the
    broadcast threshold.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cent_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.lit(c).alias("c"),
                F.array(*[F.lit(float(x)) for x in codebooks[s][c]]).alias("cent"),
            )
            for s in range(m)
            for c in range(len(codebooks[s]))
        ]
    )
    q = query_df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qslice = F.slice(F.col("qv"), F.col("e.s") * sub + 1, sub)
    pd_ = F.aggregate(
        F.zip_with(
            qslice,
            F.col("e.cent"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = q.select(
        "query_id", "qv", F.explode(cent_structs).alias("e")
    ).select(
        "query_id",
        F.col("e.s").alias("s"),
        F.col("e.c").alias("c"),
        F.round(pd_, 6).alias("pd"),
    )
    ex = codes_df.select(
        F.col(id_col).alias("neighbor_id"), F.posexplode("codes").alias("s", "c")
    )
    scored = (
        ex.join(F.broadcast(lut), ["s", "c"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pd"), 4).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .orderBy("query_id", "rank")
    )


def ivf_pq_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ composed ANN — the production shape at 100 TB: a coarse
    quantizer (``kmeans_fit`` centroids) restricts each query to its
    ``nprobe`` inverted lists, and within those lists distances are ADC
    sums over PQ codes. The corpus contributes only (id, cluster, m codes)
    — a few bytes per vector; raw vectors appear in NO join. Recall < 1 by
    construction (probe truncation + PQ approximation); the exact
    brute-force operators are the recall baseline, and ``nprobe`` > 1
    recovers boundary queries at nprobe× candidate cost (probed lists are
    disjoint, so the LUT join needs no dedup).

    Plan shape: coarse assignment is a narrow literal-centroid scan (no
    shuffle); the search joins the exploded code table to a broadcast
    (query × nprobe × m·k) LUT filtered by cluster equality, then one
    groupBy(query, neighbor) sums the m partials and a per-query window
    takes the top-k.
    """
    assign = kmeans_assign(emb_df, coarse_cents, id_col, vec_col)
    codes = pq_encode(emb_df, codebooks, id_col, vec_col).join(assign, id_col)
    return ivf_pq_search_codes(
        codes, query_df, coarse_cents, codebooks, topk, id_col, vec_col, nprobe
    )


def ivf_pq_search_codes(
    codes_df: DataFrame,
    query_df: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Search a PERSISTED code table — the encode-once / search-many face
    of ivf_pq_topk (identical semantics; ivf_pq_topk delegates here after
    encoding).  ``codes_df`` carries (id, codes array<int>, cluster) — the
    few-bytes-per-vector corpus index a production deployment stores;
    the raw corpus is not touched at search time at all."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes = codes_df
    q_assign = kmeans_probe_assign(query_df, coarse_cents, nprobe, id_col, vec_col)

    cent_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.lit(c).alias("c"),
                F.array(*[F.lit(float(x)) for x in codebooks[s][c]]).alias("cent"),
            )
            for s in range(m)
            for c in range(len(codebooks[s]))
        ]
    )
    q = query_df.join(q_assign.select(id_col, "cluster"), id_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("cluster").alias("q_cluster"),
    )
    pd_ = F.aggregate(
        F.zip_with(
            F.slice(F.col("qv"), F.col("e.s") * sub + 1, sub),
            F.col("e.cent"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = q.select("query_id", "qv", "q_cluster", F.explode(cent_structs).alias("e")).select(
        "query_id",
        "q_cluster",
        F.col("e.s").alias("s"),
        F.col("e.c").alias("c"),
        F.round(pd_, 6).alias("pd"),
    )
    ex = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("cluster"),
        F.posexplode("codes").alias("s", "c"),
    )
    scored = (
        ex.join(
            F.broadcast(lut),
            (ex["s"] == lut["s"])
            & (ex["c"] == lut["c"])
            & (ex["cluster"] == lut["q_cluster"]),
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pd"), 4).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .orderBy("query_id", "rank")
    )


def ivf_pq_refine_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    topk: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ with an exact refine step — the full production ANN shape
    (the FAISS refine-index pattern, Jégou et al. TPAMI'11 §V): the
    compressed ADC search produces a ``shortlist``-sized candidate set per
    query, then TRUE cosine similarity re-ranks ONLY those candidates and
    keeps ``topk``. PQ's quantization error decides shortlist membership
    but never the final ordering, so ranking is exact within the probed
    lists at shortlist/|corpus| of the exact-search cost.

    Scale shape: the search half is :func:`ivf_pq_topk` unchanged (raw
    vectors in no join). The refine half touches raw vectors for exactly
    |queries|·shortlist rows: the shortlist BROADCASTS to the corpus scan
    (broadcast hash join keyed by id — no corpus shuffle), and the query
    vectors ride a second broadcast. Nothing unbounded moves.
    """
    short = ivf_pq_topk(
        emb_df,
        query_df,
        coarse_cents,
        codebooks,
        topk=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        nprobe=nprobe,
    ).select("query_id", "neighbor_id")
    return _exact_refine(short, emb_df, query_df, topk, id_col, vec_col)


def _exact_refine(
    short: DataFrame,
    emb_df: DataFrame,
    query_df: DataFrame,
    topk: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared exact re-rank half of :func:`ivf_pq_refine_topk` and
    ``ANNIndex.search(refine=)``: true cosine over the (query_id,
    neighbor_id) shortlist only — raw vectors join for exactly
    |queries|·shortlist rows via two broadcasts, never a corpus shuffle."""
    cand = emb_df.join(
        F.broadcast(short), emb_df[id_col] == F.col("neighbor_id")
    ).select("query_id", "neighbor_id", F.col(vec_col).alias("c_vec"))
    q = F.broadcast(
        query_df.select(F.col(id_col).alias("__qid"), F.col(vec_col).alias("q_vec"))
    )
    scored = (
        cand.join(q, F.col("query_id") == F.col("__qid"))
        .withColumn(
            "sim", F.round(cosine_sim(F.col("q_vec"), F.col("c_vec")), 4) + F.lit(0.0)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .orderBy("query_id", "rank")
    )


def semdedup(
    emb_df: DataFrame,
    cents: list[list[float]],
    tau: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
) -> DataFrame:
    """Semantic deduplication over an embedding column — the SemDeDup
    recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster with k-means, then
    prune within each cluster every vector whose cosine similarity to a
    retained clustermate reaches ``tau``.

    ``keep`` picks the retained representative's priority order:
    - ``"min_id"`` — lowest id survives (simplest deterministic choice).
    - ``"centroid_far"`` — the paper's rule: LOWEST cosine similarity to
      the assigned cluster centroid survives (keep the least-typical
      example; ties broken by id). The similarity is a zero-shuffle
      literal-centroid expression, rounded 6 dp so the priority order is
      engine-portable.

    Grouping deviates from the paper for determinism and oracle-
    checkability: a one-pass witness rule — x is removed iff SOME
    earlier-priority y in its cluster has cos(x, y) >= tau — rather than
    the transitive closure, so a chain a~b~c with a!~c drops both b and
    c. For closure-grouped resolution compose ``cluster_pair_sims`` with
    ``graph.connected_components`` + ``graph.dedup_clusters`` instead.

    Scale shape: assignment is the zero-shuffle literal-centroid scan;
    pairs come from ``cluster_pair_sims`` (one shuffle keyed by cluster,
    one GEMM per cluster, pair space never materializes as rows below
    ``tau``); the witness agg and the final left join are keyed by the
    vector id. At web scale k grows with the corpus (the paper uses 50k
    clusters) precisely so each GEMM stays task-sized — k is the knob,
    the plan shape is unchanged. Null vectors pass through kept (they
    carry no semantics to compare).

    Output: one row per input vector — (id, cluster, kept, dup_of) where
    ``dup_of`` is the highest-priority witness that evicted it (null if
    kept).
    """
    if keep not in ("min_id", "centroid_far"):
        raise ValueError(f"unknown keep policy: {keep!r}")
    assign = kmeans_assign(emb_df, cents, id_col, vec_col, keep_vec=True)
    members = assign.where(F.col(vec_col).isNotNull())
    pairs = cluster_pair_sims(
        members, threshold=tau, cluster_col="cluster",
        id_col=id_col, vec_col=vec_col,
    )
    if keep == "min_id":
        witness = pairs.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    else:
        # priority = (cos to own centroid asc, id asc); orient each
        # unordered pair by priority, then the victim's witness is its
        # highest-priority evictor
        csim = F.lit(None).cast("double")
        for j, c in enumerate(cents):
            lit = F.array(*[F.lit(float(x)) for x in c])
            csim = F.when(
                F.col("cluster") == j,
                F.round(cosine_sim(F.col(vec_col), lit), 6) + F.lit(0.0),
            ).otherwise(csim)
        prio = members.select(
            F.col(id_col).alias("_pid"), csim.alias("_csim")
        )
        pa = prio.select(
            F.col("_pid").alias("id_a"), F.col("_csim").alias("_csim_a")
        )
        pb = prio.select(
            F.col("_pid").alias("id_b"), F.col("_csim").alias("_csim_b")
        )
        oriented = (
            pairs.join(pa, "id_a")
            .join(pb, "id_b")
            .select(
                F.when(
                    F.struct(F.col("_csim_a"), F.col("id_a"))
                    < F.struct(F.col("_csim_b"), F.col("id_b")),
                    F.struct(
                        F.col("id_b").alias("victim"),
                        F.col("id_a").alias("witness"),
                        F.col("_csim_a").alias("wcsim"),
                    ),
                )
                .otherwise(
                    F.struct(
                        F.col("id_a").alias("victim"),
                        F.col("id_b").alias("witness"),
                        F.col("_csim_b").alias("wcsim"),
                    )
                )
                .alias("o")
            )
            .select("o.victim", "o.witness", "o.wcsim")
        )
        witness = (
            oriented.groupBy("victim")
            .agg(F.min(F.struct("wcsim", "witness")).alias("_w"))
            .select(
                F.col("victim").alias("id_b"),
                F.col("_w.witness").alias("dup_of"),
            )
        )
    return (
        assign.select(id_col, "cluster")
        .join(witness.withColumnRenamed("id_b", id_col), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def embedding_profile(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Embedding-column health profile — the pre-indexing data-quality
    gate of an ANN/semantic-dedup pipeline: a collapsed dimension (zero
    variance), a scale-drifted dimension, or a burst of zero/null vectors
    silently destroys recall long before any search metric notices.

    One row per dimension: n, mean, sample std, min, max, frac_zero —
    plus a final row with ``pos = -1`` profiling the L2 NORM distribution
    across vectors (its frac_zero = the zero-vector fraction; its n
    counts non-null vectors, so ``n(pos=-1) < n(pos=0)`` never happens
    and null vectors surface as the gap vs ``emb_df.count()``).

    Scale shape: posexplode to (pos, val) then one map-side-combinable
    agg keyed by pos — shuffle volume is dims x partitions partials,
    independent of corpus size; the norm row is a narrow JVM fold plus a
    single-row agg. No UDF anywhere.
    """
    r = lambda c: F.round(c, round_dp)  # noqa: E731
    dims = (
        emb_df.select(F.posexplode(vec_col).alias("pos", "v"))
        .select("pos", F.col("v").cast("double").alias("v"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r(F.avg("v")).alias("mean"),
            r(F.coalesce(F.stddev_samp("v"), F.lit(0.0))).alias("std"),
            r(F.min("v")).alias("min"),
            r(F.max("v")).alias("max"),
            r(F.avg((F.col("v") == 0.0).cast("double"))).alias("frac_zero"),
        )
    )
    norms = (
        emb_df.where(F.col(vec_col).isNotNull())
        .select(_norm(F.col(vec_col)).alias("v"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            r(F.avg("v")).alias("mean"),
            r(F.coalesce(F.stddev_samp("v"), F.lit(0.0))).alias("std"),
            r(F.min("v")).alias("min"),
            r(F.max("v")).alias("max"),
            r(F.avg((F.col("v") == 0.0).cast("double"))).alias("frac_zero"),
        )
        .select(F.lit(-1).alias("pos"), "n", "mean", "std", "min", "max", "frac_zero")
    )
    return dims.unionByName(norms)


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection + int8 embedding quantization
# ---------------------------------------------------------------------------


def jl_signs(in_dim: int, out_dim: int, seed: str = "jl") -> list[list[int]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003 sign variant of
    Johnson–Lindenstrauss), one row per OUTPUT component.  Signs come from
    md5 parity — not engine RNG — so Spark and the DuckDB oracle share the
    exact matrix as integer literals (same device as ``rhp_planes``)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}_{j}_{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "jl",
    in_dim: int | None = None,
) -> DataFrame:
    """Project embeddings to ``out_dim`` dims: y_j = (1/√out_dim)·Σ s_ij·x_i.
    Distance-preserving in expectation (JL lemma) — the cheap pre-filter
    dimension cut before ANN indexing when the raw dim is large.

    The matrix rides in the plan as ±1 literals (no side input, no join);
    each output component is an independent dot product, so the expression
    stays flat — no nested re-expansion (the winnowing lesson).  Components
    rounded to 6 dp for engine portability.

    Output: (id, proj array<double>).
    """
    if in_dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("jl_project: empty input")
        in_dim = first["d"]
    signs = jl_signs(in_dim, out_dim, seed)
    import math

    inv = 1.0 / math.sqrt(out_dim)
    comps = [
        F.round(
            _dot(F.col(vec_col), F.array(*[F.lit(float(s)) for s in row])) * inv, 6
        )
        for row in signs
    ]
    return df.select(F.col(id_col), F.array(*comps).alias("proj"))


def int8_scales(
    df: DataFrame, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension symmetric absmax scales — one posexplode + groupBy(pos)
    aggregation; the collected result is dim-many floats (model parameters).
    Rounded to 6 dp so the quantization grid is engine-portable."""
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("v").cast("double"))).alias("s"))
        .orderBy("pos")
        .collect()
    )
    return [round(r["s"], 6) for r in rows]


def quantize_int8(
    df: DataFrame,
    scales: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-dimension int8 quantization: code = round(x/s·127),
    clamped to [-127, 127]; a zero-scale (dead) dimension encodes 0.  The
    4×-smaller codes are what a 100 TB vector corpus ships to an ANN index;
    ``dequant_mae`` reports the per-row reconstruction error so drift in
    quantization loss is monitorable.

    Scales ride as literals (broadcast-equivalent); the pass is one narrow
    zip_with — no shuffle, no UDF.
    """
    lit_scales = F.array(*[F.lit(float(s)) for s in scales])
    codes = F.zip_with(
        F.col(vec_col),
        lit_scales,
        lambda x, s: F.when(s == 0.0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.round(x.cast("double") / s * 127).cast("int")),
            )
        )
        .cast("int"),
    )
    q = df.select(F.col(id_col), F.col(vec_col), codes.alias("codes"))
    err = F.round(
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.zip_with(
                    F.col("codes"),
                    lit_scales,
                    lambda c, s: c.cast("double") * s / 127.0,
                ),
                lambda x, r: F.abs(x.cast("double") - r),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.size(vec_col),
        6,
    )
    return q.select(id_col, "codes", err.alias("dequant_mae"))


def hard_negatives(
    emb_df: DataFrame,
    anchor_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor, the
    top-k most-similar corpus vectors carrying a DIFFERENT label — the
    near-boundary negatives that drive metric-learning losses (triplet /
    InfoNCE), as opposed to uninformative random negatives.

    Same 100 TB shape as ``knn_bruteforce``: anchors broadcast, corpus
    streams through a broadcast nested-loop join (never shuffled), rank
    window partitions by anchor.  Similarity rounded 4 dp + id tie-break
    for engine-portable ranking.
    """
    a = F.broadcast(
        anchor_df.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("a_vec"),
            F.col(label_col).alias("anchor_label"),
        )
    )
    c = emb_df.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("neg_label"),
    )
    scored = (
        c.join(a, F.col("neg_label") != F.col("anchor_label"))
        .withColumn(
            "sim", F.round(cosine_sim(F.col("a_vec"), F.col("c_vec")), 4) + F.lit(0.0)
        )
        .select("anchor_id", "anchor_label", "neg_id", "neg_label", "sim")
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("anchor_id", "rank")
    )


def label_positives(
    emb_df: DataFrame,
    anchor_df: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """The positive-mining twin of ``hard_negatives``: for each anchor,
    the top-k most-similar corpus vectors carrying the SAME label
    (excluding the anchor itself) — the in-class nearest neighbors a
    triplet/InfoNCE loss pairs against the mined negatives.  Identical
    100 TB shape: anchors broadcast, corpus streams, 4dp-rounded sim +
    id tie-break for engine-portable ranks."""
    a = F.broadcast(
        anchor_df.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("a_vec"),
            F.col(label_col).alias("anchor_label"),
        )
    )
    c = emb_df.select(
        F.col(id_col).alias("pos_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("pos_label"),
    )
    scored = (
        c.join(
            a,
            (F.col("pos_label") == F.col("anchor_label"))
            & (F.col("pos_id") != F.col("anchor_id")),
        )
        .withColumn(
            "sim", F.round(cosine_sim(F.col("a_vec"), F.col("c_vec")), 4) + F.lit(0.0)
        )
        .select("anchor_id", "anchor_label", "pos_id", "pos_label", "sim")
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), F.asc("pos_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("anchor_id", "rank")
    )


def triplet_manifest(
    emb_df: DataFrame,
    anchor_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-training triplet manifest: per anchor, the hardest
    in-class positive (rank-1 same-label neighbor) and the hardest
    out-of-class negative (rank-1 ``hard_negatives``), plus
    ``margin`` = pos_sim − neg_sim — the per-triplet difficulty a
    curriculum or margin-based loss filters on (margin ≤ 0 means the
    negative currently sits closer than the positive: the exact
    triplets metric learning needs).  One inner join of two bounded
    rank-1 relations on the anchor id."""
    pos = label_positives(emb_df, anchor_df, k=1, id_col=id_col,
                          vec_col=vec_col, label_col=label_col).select(
        "anchor_id", "anchor_label", "pos_id", F.col("sim").alias("pos_sim")
    )
    neg = hard_negatives(emb_df, anchor_df, k=1, id_col=id_col,
                         vec_col=vec_col, label_col=label_col).select(
        "anchor_id", "neg_id", F.col("sim").alias("neg_sim")
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "anchor_label",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 4).alias("margin"),
    ).orderBy("anchor_id")


def assignment_distances(
    emb_df: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist2): squared euclidean distance of every vector to
    its assigned (nearest) coarse centroid — the quantization-error signal
    an IVF health check monitors.  Same narrow literal-centroid scan as
    ``kmeans_assign``; zero shuffle."""
    emb_df = emb_df.where(F.col(vec_col).isNotNull())
    dists = [_sq_dist(F.col(vec_col), c) for c in cents]
    best = F.least(*dists) if len(dists) > 1 else dists[0]
    cluster = F.lit(len(cents) - 1)
    for j in range(len(cents) - 2, -1, -1):
        cluster = F.when(dists[j] == best, F.lit(j)).otherwise(cluster)
    return emb_df.select(
        F.col(id_col), cluster.alias("cluster"), best.alias("dist2")
    )


class ANNIndex:
    """Persistable IVF-PQ index artifact: coarse centroids + PQ codebooks +
    search config in one JSON document (the FittedDetector/BPETokenizer
    never-drift-apart pattern), with the corpus code table as a DataFrame
    the caller persists as parquet.

    Lifecycle: ``build`` (train coarse + PQ on the corpus) → ``encode``
    (corpus → (id, codes, cluster), a few bytes per vector) → persist the
    codes + ``save`` the JSON → later sessions ``load`` + ``search`` the
    code table without ever touching raw corpus vectors.

    Incremental maintenance (the daily-append corpus shape): ``append``
    encodes a NEW batch under the frozen quantizers and unions it into the
    code table — no retrain, no re-encode of the existing corpus — while
    ``fit_distance_profile`` (at build time) + ``drift_report`` (per
    batch) monitor the assignment-distance distribution with PSI so the
    pipeline knows WHEN the frozen quantizers have drifted enough to
    warrant a rebuild (PSI ≳ 0.2, the usual reading).
    """

    def __init__(
        self,
        coarse_cents: list[list[float]],
        codebooks: list[list[list[float]]],
        nprobe: int = 1,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dist_profile: dict | None = None,
    ):
        self.coarse_cents = coarse_cents
        self.codebooks = codebooks
        self.nprobe = nprobe
        self.id_col = id_col
        self.vec_col = vec_col
        self.dist_profile = dist_profile

    @classmethod
    def build(
        cls,
        emb_df: DataFrame,
        n_clusters: int = 4,
        m: int = 2,
        k: int = 4,
        iters: int = 1,
        nprobe: int = 1,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "ANNIndex":
        cents = kmeans_fit(emb_df, k=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col)
        books = pq_train(emb_df, m=m, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
        return cls(cents, books, nprobe, id_col, vec_col)

    def encode(self, emb_df: DataFrame) -> DataFrame:
        """(id, codes, cluster) — the persistable corpus index."""
        assign = kmeans_assign(emb_df, self.coarse_cents, self.id_col, self.vec_col)
        return pq_encode(emb_df, self.codebooks, self.id_col, self.vec_col).join(
            assign, self.id_col
        )

    def append(self, codes_df: DataFrame, new_emb_df: DataFrame) -> DataFrame:
        """Encode a new batch under the FROZEN quantizers and union it into
        the code table — incremental index maintenance without retraining.
        The existing corpus contributes only its (id, codes, cluster) rows;
        raw vectors of old data are never touched."""
        return codes_df.unionByName(self.encode(new_emb_df))

    def fit_distance_profile(self, emb_df: DataFrame, bins: int = 8) -> dict:
        """Record the build-time assignment-distance distribution:
        (lo=0, hi=rounded max dist², per-bin proportions).  Stored in the
        artifact so later batches can be drift-checked without the build
        corpus.  One narrow scan + one ≤bins-row aggregation."""
        from dataquality_ml_spark.operators.drift import _bin_props

        d = assignment_distances(emb_df, self.coarse_cents, self.id_col, self.vec_col)
        hi = float(d.agg(F.round(F.max("dist2"), 6)).first()[0] or 0.0)
        if hi <= 0.0:
            hi = 1.0
        props = {
            r["bin"]: r["p_ref"]
            for r in _bin_props(d, "dist2", 0.0, hi, bins, "p_ref").collect()
        }
        self.dist_profile = {
            "lo": 0.0,
            "hi": hi,
            "bins": bins,
            "p_ref": [props.get(b, 0.0) for b in range(bins)],
        }
        return self.dist_profile

    def drift_report(self, new_emb_df: DataFrame) -> DataFrame:
        """PSI of a new batch's assignment-distance distribution against
        the stored build-time profile — the retrain trigger.  Output:
        (bin, p_ref, p_cur, psi_term, psi_total), psi_total repeated per
        row; PSI ≳ 0.2 = the frozen quantizers no longer fit the data."""
        from dataquality_ml_spark.operators.drift import EPS, _bin_props

        if self.dist_profile is None:
            raise ValueError("fit_distance_profile was never run on this index")
        p = self.dist_profile
        spark = new_emb_df.sparkSession
        d = assignment_distances(
            new_emb_df, self.coarse_cents, self.id_col, self.vec_col
        )
        cur = _bin_props(d, "dist2", p["lo"], p["hi"], p["bins"], "p_cur")
        ref = local_frame(
            spark,
            [(b, float(pr)) for b, pr in enumerate(p["p_ref"])],
            "bin int, p_ref double",
        )
        joined = (
            ref.join(cur, "bin", "left")
            .select(
                "bin",
                "p_ref",
                F.coalesce("p_cur", F.lit(0.0)).alias("p_cur"),
            )
        )
        pr = F.greatest(F.col("p_ref"), F.lit(EPS))
        pc = F.greatest(F.col("p_cur"), F.lit(EPS))
        term = (pc - pr) * F.log(pc / pr)
        w = Window.partitionBy()
        return (
            joined.withColumn("psi_term", term)
            .withColumn("psi_total", F.sum("psi_term").over(w))
            .orderBy("bin")
        )

    def drift_timeline(self, emb_df: DataFrame, period) -> DataFrame:
        """Vector-drift TIMELINE (round 9, VERDICT r8 item 6): PSI of
        every period's assignment-distance distribution against the
        STORED build-time profile — WHEN the embedding distribution
        moved, not just whether (``drift_report`` is the single-batch
        face; ``drift.psi_timeline`` is the scalar-column face with the
        earliest period as reference — here the reference is the FROZEN
        artifact profile, so appends never shift the baseline).

        ``period`` is a Column expression (e.g. an append-batch id).
        ONE scan: the narrow literal-centroid distance expression feeds
        groupBy(period, bin), collapsing the corpus to ≤ |periods|·bins
        count rows; the spine join, per-period totals, frozen-reference
        join, and the PSI sum all run on that bounded relation. Output:
        (period, psi, n), one row per period — the retrain scheduler
        reads the first period whose PSI crosses the alarm line (≳0.2).
        """
        from dataquality_ml_spark.operators.drift import EPS, _bucket

        if self.dist_profile is None:
            raise ValueError("fit_distance_profile was never run on this index")
        p = self.dist_profile
        spark = emb_df.sparkSession
        emb = emb_df.where(F.col(self.vec_col).isNotNull())
        dists = [_sq_dist(F.col(self.vec_col), c) for c in self.coarse_cents]
        best = F.least(*dists) if len(dists) > 1 else dists[0]
        counts = (
            emb.select(period.alias("period"), best.alias("dist2"))
            .groupBy(
                "period",
                _bucket(F.col("dist2"), p["lo"], p["hi"], p["bins"]).alias("bin"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        periods = counts.select("period").distinct()
        spine = periods.crossJoin(
            spark.range(p["bins"]).select(F.col("id").cast("int").alias("bin"))
        )
        tot = Window.partitionBy("period")  # ≤ |periods|·bins rows — bounded
        props = (
            spine.join(counts, ["period", "bin"], "left")
            .select("period", "bin", F.coalesce("n", F.lit(0)).alias("n"))
            .withColumn("n_tot", F.sum("n").over(tot))
            .withColumn("p_cur", F.col("n") / F.col("n_tot"))
        )
        ref = local_frame(
            spark,
            [(b, float(pr)) for b, pr in enumerate(p["p_ref"])],
            "bin int, p_ref double",
        )
        prc = F.greatest(F.col("p_ref"), F.lit(EPS))
        pcc = F.greatest(F.col("p_cur"), F.lit(EPS))
        return (
            props.join(F.broadcast(ref), "bin")
            .groupBy("period")
            .agg(
                F.sum((pcc - prc) * F.log(pcc / prc)).alias("psi"),
                F.max("n_tot").alias("n"),
            )
            .orderBy("period")
        )

    def search(
        self, codes_df: DataFrame, query_df: DataFrame, topk: int = 5,
        nprobe: int | None = None,
        refine: int | None = None,
        emb_df: DataFrame | None = None,
    ) -> DataFrame:
        """ADC search over the code table; with ``refine=N`` (round 10,
        VERDICT r9 item 3) the ADC pass produces an N-sized shortlist per
        query and TRUE cosine over ``emb_df`` (the raw-vector relation,
        required) re-ranks it down to ``topk`` — the same exact-refine
        step as :func:`ivf_pq_refine_topk`, so quantization error decides
        shortlist membership but never the final ordering. Raw vectors
        are touched for exactly |queries|·N rows (broadcast joins)."""
        short = ivf_pq_search_codes(
            codes_df,
            query_df,
            self.coarse_cents,
            self.codebooks,
            refine if refine is not None else topk,
            self.id_col,
            self.vec_col,
            nprobe if nprobe is not None else self.nprobe,
        )
        if refine is None:
            return short
        if refine < topk:
            raise ValueError(
                f"ANNIndex.search: refine={refine} shortlist is smaller "
                f"than topk={topk}"
            )
        if emb_df is None:
            raise ValueError(
                "ANNIndex.search: refine= needs emb_df (the raw-vector "
                "relation to re-rank the shortlist against)"
            )
        return _exact_refine(
            short.select("query_id", "neighbor_id"),
            emb_df, query_df, topk, self.id_col, self.vec_col,
        )

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {
                    "coarse_cents": self.coarse_cents,
                    "codebooks": self.codebooks,
                    "nprobe": self.nprobe,
                    "id_col": self.id_col,
                    "vec_col": self.vec_col,
                    "dist_profile": self.dist_profile,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "ANNIndex":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls(
            d["coarse_cents"], d["codebooks"], d["nprobe"], d["id_col"],
            d["vec_col"], d.get("dist_profile"),
        )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    query_col: str = "query_id",
    cand_col: str = "neighbor_id",
    rank_col: str = "rank",
    k_const: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion [Cormack, Clarke & Buettcher 2009] of two
    ranked candidate lists per query — the standard hybrid-retrieval
    combiner (lexical ⊕ vector):

        rrf(d) = Σ_systems 1 / (k_const + rank_system(d))

    Candidates outside a system's list contribute 0 for that system (the
    practical top-N variant — no full corpus rank needed).  Input
    relations carry (query_col, cand_col, rank_col); output is the
    fused top-``topk`` per query with both source ranks kept for audit.

    Determinism: ranks are integers, 1/(k+r) is one IEEE division, the
    two terms add in fixed order, and the fused rank breaks ties on the
    candidate id — bit-stable across engines for the DuckDB replay.

    100 TB shape: both inputs are already bounded (top-N per query), so
    the fusion join + window touch O(|queries|·N) rows regardless of
    corpus size; the expensive part is PRODUCING the inputs (kNN / LSH /
    lexical top-N), each of which has its own scale path in this module.
    """
    ra = a.select(
        F.col(query_col), F.col(cand_col), F.col(rank_col).alias("rank_a")
    )
    rb = b.select(
        F.col(query_col), F.col(cand_col), F.col(rank_col).alias("rank_b")
    )
    fused = (
        ra.join(rb, [query_col, cand_col], "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(k_const) + F.col("rank_a")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(k_const) + F.col("rank_b")), F.lit(0.0)
                ),
                6,
            )
            + F.lit(0.0),
        )
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(cand_col)
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= topk)
        .select(
            query_col, cand_col, "rank_a", "rank_b", "rrf_score", "fused_rank"
        )
        .orderBy(query_col, "fused_rank")
    )


def silhouette_centroid(
    emb_df: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster — the k-means
    quality score that says whether the coarse quantizer's clusters are
    real structure or arbitrary cuts: per point a = distance to its own
    centroid, b = distance to the nearest OTHER centroid,
    s = (b − a)/max(a, b) ∈ [−1, 1]; report (cluster, n,
    mean_silhouette). The O(n·k) centroid form of the O(n²) classic —
    the only silhouette that survives 100 TB.

    Same narrow literal-centroid scan as ``kmeans_assign`` (argmin over
    squared distances — sqrt is monotone, so the assignment is
    identical), zero shuffle before the final ≤k-row aggregation. A
    point sitting exactly on two centroids scores 0.
    """
    emb_df = emb_df.where(F.col(vec_col).isNotNull())
    d2 = [_sq_dist(F.col(vec_col), c) for c in cents]
    best2 = F.least(*d2) if len(d2) > 1 else d2[0]
    cluster = F.lit(len(cents) - 1)
    for j in range(len(cents) - 2, -1, -1):
        cluster = F.when(d2[j] == best2, F.lit(j)).otherwise(cluster)
    a = F.sqrt(best2)
    # least() skips the NULL own-cluster slot; k >= 2 guarantees a value
    b = F.least(*[F.when(F.lit(j) != cluster, F.sqrt(d2[j])) for j in range(len(d2))])
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    return (
        emb_df.select(cluster.alias("cluster"), s.alias("__s"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__s").alias("mean_silhouette"),
        )
    )


def truncated_recall(
    emb_df: DataFrame,
    query_df: DataFrame,
    dims: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: recall@k of
    exact cosine top-k computed on the FIRST ``dims`` coordinates against
    the full-vector top-k, per query — the measured answer to "can we
    ship the 16-dim prefix and cut the ANN index 4×?". Both sides use
    :func:`knn_bruteforce`'s rounded-sim deterministic ranking.

    Eval-scale operator (broadcast queries × corpus scans, like
    ``ivf_recall_at_k``): run it on a query SAMPLE to decide the
    truncation, not on the full corpus as a production searcher.
    """
    full = knn_bruteforce(emb_df, query_df, k=k, id_col=id_col, vec_col=vec_col)
    cut = emb_df.select(id_col, F.slice(F.col(vec_col), 1, dims).alias(vec_col))
    qcut = query_df.select(id_col, F.slice(F.col(vec_col), 1, dims).alias(vec_col))
    trunc = knn_bruteforce(cut, qcut, k=k, id_col=id_col, vec_col=vec_col)
    hits = full.join(trunc, ["query_id", "neighbor_id"], "left_semi")
    return (
        full.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_full"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            (
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_full")
            ).alias("recall"),
        )
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact population covariance of the embedding components — the
    upper triangle (i ≤ j, 1-based) as (i, j, cov): the anisotropy
    audit behind "do my embeddings actually use the space" that the
    per-dimension profile can't see (a strong common direction inflates
    every cosine similarity and silently compresses ANN score ranges —
    Ethayarajh 2019). Feeds :func:`embedding_effective_rank`.

    Scale shape: per-partition Gram matrices via ``mapInPandas`` — one
    BLAS ``Mᵀ·M`` per Arrow batch, so each partition emits exactly
    d(d+1)/2 narrow rows (i, j, partial Σxy, partial Σx, partial Σy,
    partial n) regardless of row count — then ONE groupBy on the (i, j)
    key reduces across partitions. cov = Σxy/n − (Σx/n)(Σy/n),
    population form. (A d + d(d+1)/2 wide aggregation was tried first:
    at d=64 its 2 145 aggregate expressions blow up codegen — 17 s for
    2 000 rows; this form measures sub-second on the same input.)
    """
    import numpy as np

    # d from the FIRST NON-NULL row (a null first row made F.size return
    # null and int() raise); rows whose length differs from d then RAISE
    # inside the Gram kernel instead of silently dropping — a ragged
    # embedding column is corruption, and dropping it would diverge from
    # any engine that unnests each row's actual length.
    base = df.where(F.col(vec_col).isNotNull())
    first = base.select(F.size(vec_col).alias("d")).first()
    if first is None:
        return local_frame(df.sparkSession, [], "i int, j int, cov double")
    d = int(first["d"])

    def _gram(batches):
        import pandas as pd

        G = np.zeros((d, d))
        s = np.zeros(d)
        n = 0
        for pdf in batches:
            vecs = [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            if vecs:
                lens = {v.shape[0] for v in vecs}
                if lens != {d}:
                    raise ValueError(
                        "embedding_covariance: mixed-length vectors — "
                        f"expected d={d}, saw lengths {sorted(lens - {d})}"
                    )
                M = np.vstack(vecs)
                G += M.T @ M
                s += M.sum(axis=0)
                n += M.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": (iu + 1).astype("int32"),
                "j": (ju + 1).astype("int32"),
                "pxy": G[iu, ju],
                "sx": s[iu],
                "sy": s[ju],
                "n": np.full(len(iu), n, dtype="int64"),
            }
        )

    parts = base.select(vec_col).mapInPandas(
        _gram, "i int, j int, pxy double, sx double, sy double, n long"
    )
    agg = parts.groupBy("i", "j").agg(
        F.sum("pxy").alias("pxy"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("n").alias("n"),
    )
    return agg.select(
        "i",
        "j",
        (
            F.col("pxy") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
        ).alias("cov"),
    )


def embedding_effective_rank(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Effective rank of the embedding covariance — erank = exp(H(λ̂))
    over the normalized eigenvalue distribution (Roy & Vetterli 2007):
    ONE number for "how many directions the embeddings really occupy".
    erank ≈ d is healthy; erank ≪ d means the space collapsed (bad
    contrastive training, over-quantization) and every downstream
    similarity search is operating in a much smaller space than paid
    for. Returns one row: (d, total_var, effective_rank,
    top_eig_share).

    The covariance comes from :func:`embedding_covariance`'s
    per-partition partial Grams (mapInPandas → one (i, j) groupBy);
    the d×d eigendecomposition is driver-side numpy
    over the bounded matrix (not SQL-expressible — this operator is
    rows-only gated, with the covariance input itself hash-gated).
    """
    import numpy as np

    cells = embedding_covariance(df, vec_col).collect()
    if not cells:
        raise ValueError("embedding_effective_rank: empty embedding column")
    d = max(r["j"] for r in cells)
    cov = np.zeros((d, d))
    for r in cells:
        cov[r["i"] - 1, r["j"] - 1] = r["cov"]
        cov[r["j"] - 1, r["i"] - 1] = r["cov"]
    eig = np.linalg.eigvalsh(cov)
    eig = np.clip(eig, 0.0, None)
    tot = float(eig.sum())
    if tot <= 0:
        erank, top_share = 0.0, None
    else:
        p = eig / tot
        nz = p[p > 0]
        erank = float(np.exp(-(nz * np.log(nz)).sum()))
        top_share = float(eig.max() / tot)
    return local_frame(
        df.sparkSession,
        [(d, tot, erank, top_share)],
        "d int, total_var double, effective_rank double, top_eig_share double",
    )


def ranking_quality(
    exact: DataFrame, approx: DataFrame, k: int
) -> DataFrame:
    """NDCG@k + MRR of an approximate neighbor ranking against the
    exact baseline — the graded complement to recall@k (which only
    counts membership): NDCG says whether the ANN index returns the
    right neighbors in the right ORDER (rank-1 misses cost
    log-discounted mass; a tail swap barely registers), and MRR says
    where the single best neighbor landed. Graded relevance is the
    exact list's reversed rank (rel = k+1−rank_exact, 0 for anything
    outside the exact top-k — the standard Järvelin-Kekäläinen DCG with
    log2 discount).

    Inputs are the ranked relations the knn operators already emit
    ((query_id, neighbor_id, rank)); output one row per query:
    (query_id, dcg, idcg, ndcg, mrr). IDCG comes from the exact list
    itself, so ndcg = 1 iff the approx list reproduces the exact
    ordering. Shape: two equi-joins on (query_id, neighbor_id) + two
    grouped sums over ≤k rows per query — broadcast-sized all the way.

    Both inputs are materialized when the DataFrame is built — one eager
    checkpoint job each, none for an input that already is materialized
    (a checkpointed frame or a ``local_frame`` table).
    """
    from dataquality_ml_spark.operators.relational import materialize

    if k < 1:
        raise ValueError(f"ranking_quality: k must be >= 1, got {k}")
    # `exact` feeds THREE plan branches below (dcg's relevance join, idcg,
    # mrr) and `approx` two (dcg, mrr) — without a checkpoint every branch
    # re-runs the entire upstream knn pipeline (scan + assignment + rank
    # window). Both relations are bounded at ≤ |queries|·k rows, so the
    # persist is trivial; EAGER because several joins inside ONE query
    # race a lazy checkpoint and recompute upstream anyway.
    exact = materialize(exact, caller="ranking_quality", eager=True)
    approx = materialize(approx, caller="ranking_quality", eager=True)
    rel = exact.select(
        "query_id",
        "neighbor_id",
        (F.lit(k + 1) - F.col("rank")).cast("double").alias("rel"),
        F.col("rank").alias("rank_e"),
    )
    dcg = (
        approx.join(rel, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0.0))
                / F.log2(F.col("rank") + 1)
            ).alias("dcg")
        )
    )
    idcg = rel.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("rank_e") + 1)).alias("idcg")
    )
    mrr = (
        rel.where(F.col("rank_e") == 1)
        .join(
            approx.select(
                "query_id", "neighbor_id", F.col("rank").alias("rank_a")
            ),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.coalesce(F.max(F.lit(1.0) / F.col("rank_a")), F.lit(0.0)).alias(
                "mrr"
            )
        )
    )
    return (
        idcg.join(dcg, "query_id", "left")
        .join(mrr, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            "idcg",
            (F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg")).alias(
                "ndcg"
            ),
            F.coalesce(F.col("mrr"), F.lit(0.0)).alias("mrr"),
        )
    )


def mmd_linear(
    x_df: DataFrame,
    y_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sigma2: float = 1.0,
) -> DataFrame:
    """Linear-time MMD² two-sample test between two embedding sets
    (Gretton et al. 2012, §6) — the KERNEL drift test for embedding
    columns: per-dimension profiles and centroid drift miss a
    distribution change that preserves means; MMD with an RBF kernel
    k(a,b) = exp(−‖a−b‖²/2σ²) is sensitive to ANY moment. The
    linear-time estimator averages
    h = k(x₁,x₂) + k(y₁,y₂) − k(x₁,y₂) − k(x₂,y₁) over disjoint
    quadruples, so cost is O(m·d) — not the O(m²·d) Gram matrix — and
    h's sample variance gives an asymptotically normal z-score directly
    (no permutation loop). Returns one row:
    (n_quads, mmd2, se, z); z ≳ 3 ⇒ the two sets differ.

    Determinism + scale: pairing aligns the i-th smallest ``id_col`` of
    each set — ranks come from the DISTRIBUTED exclusive prefix sum
    (the Gini ranking engine), NOT a global window; quadruples join on
    the pair index (equi-joins only). Extra rows past the shorter set
    drop out of the alignment join, and a trailing odd pair drops out
    of the quadruple join — both documented truncations of the
    published estimator. ``sigma2`` is an explicit bandwidth (no median
    heuristic — keep it frozen like any other monitoring reference).
    """
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    if sigma2 <= 0:
        raise ValueError(f"mmd_linear: sigma2 must be > 0, got {sigma2}")

    def _ranked(df, out_vec):
        base = df.where(
            F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
        ).select(F.col(id_col).alias("__id"), F.col(vec_col).alias(out_vec))
        return exclusive_prefix_sum(
            base.withColumn("__one", F.lit(1)), "__id", "__one", out="__r"
        ).select("__r", out_vec)

    def _sqd(a, b):
        return F.aggregate(
            F.zip_with(
                a, b, lambda p, q: (p.cast("double") - q.cast("double"))
                * (p.cast("double") - q.cast("double"))
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def _k(a, b):
        return F.exp(-_sqd(a, b) / F.lit(2.0 * float(sigma2)))

    pairs = _ranked(x_df, "vx").join(_ranked(y_df, "vy"), "__r")
    t1 = pairs.where(F.col("__r") % 2 == 0).select(
        (F.col("__r") / 2).cast("bigint").alias("q"),
        F.col("vx").alias("x1"),
        F.col("vy").alias("y1"),
    )
    t2 = pairs.where(F.col("__r") % 2 == 1).select(
        ((F.col("__r") - 1) / 2).cast("bigint").alias("q"),
        F.col("vx").alias("x2"),
        F.col("vy").alias("y2"),
    )
    h = (
        _k(F.col("x1"), F.col("x2"))
        + _k(F.col("y1"), F.col("y2"))
        - _k(F.col("x1"), F.col("y2"))
        - _k(F.col("x2"), F.col("y1"))
    )
    quads = t1.join(t2, "q").select(h.alias("h"))
    se = F.sqrt(F.var_samp("h") / F.count(F.lit(1)))
    # z is NULL when Var(h) = 0 (e.g. x == y elementwise: every h is
    # exactly 0) — an undefined test statistic, not an error
    return quads.agg(
        F.count(F.lit(1)).alias("n_quads"),
        F.avg("h").alias("mmd2"),
        se.alias("se"),
        F.when(F.var_samp("h") > 0, F.avg("h") / se).alias("z"),
    )
