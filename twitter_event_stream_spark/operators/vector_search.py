"""Vectorized similarity-search operators (the performance path for K4/K5).

``knn_topk`` is the engine's high-throughput brute-force cosine top-k:
the candidate corpus is collected once into a dense float64 matrix and
broadcast; probes stream through ``mapInPandas`` where each Arrow batch is a
single BLAS matrix-multiply. ~100× faster than per-pair JVM higher-order
functions at fixture scale (BASELINE.md knn row).

Scale posture (100 TB): a broadcastable candidate matrix is the *block*
primitive, not the whole corpus. At cluster scale the corpus is bucketed
first (IVF coarse quantizer or the random-projection LSH of
``q_llm_ann_lsh``) and this operator runs per bucket — probes join only
their bucket's block. The driver-side ``collect`` below is therefore bounded
by design (one bucket), and the exact-contract HASH variant
(``q_llm_knn_cosine``) stays JVM-side for oracle bit-parity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_event_stream_spark.fsio import data_file_count


def knn_topk(
    spark: SparkSession,
    candidates: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k of each probe row against the candidate block.

    Returns (probe_id, cand_id, sim, rn); excludes self-matches.
    """
    cand_pd = (
        candidates.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .toPandas()
    )
    if len(cand_pd) == 0:  # empty candidate block -> empty result
        return probes.sparkSession.createDataFrame(
            [], "probe_id long, cand_id long, sim double, rn int"
        )
    ids = cand_pd[id_col].to_numpy()
    mat = np.asarray(cand_pd[vec_col].tolist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def topk_batches(batches):
        c_ids, c_mat, c_norms = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p_ids = pdf[id_col].to_numpy()
            p_mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            p_norms = np.linalg.norm(p_mat, axis=1)
            # zero-norm vectors have no cosine direction: guard the divide
            # (0/0 NaN would otherwise win argpartition, NaN > all) and
            # exclude those pairs explicitly, same discipline as
            # embed_neardup_blocked's verify
            p_zero = p_norms == 0.0
            c_zero = c_norms == 0.0
            sims = (p_mat @ c_mat.T) / (
                np.where(p_zero, 1.0, p_norms)[:, None]
                * np.where(c_zero, 1.0, c_norms)[None, :]
            )
            sims[p_zero, :] = -np.inf
            sims[:, c_zero] = -np.inf
            # NaN/Inf embedding components (corrupt upstream features)
            # produce non-finite sims that would BYPASS the == -inf
            # exclusion below and sort unpredictably in argpartition —
            # mask them with the same sentinel as the zero-norm pairs
            sims[~np.isfinite(sims)] = -np.inf
            # exclude self-matches by id; -inf marks every excluded pair,
            # and excluded pairs are FILTERED from the output rather than
            # assumed to occupy exactly one top slot — probes disjoint
            # from the candidate block have no self-match, so the old
            # kk = min(k, n-1) silently returned k-1 neighbors for them
            # (and zero for a single-candidate block)
            self_mask = p_ids[:, None] == c_ids[None, :]
            sims[self_mask] = -np.inf
            kk = min(k + 1, sims.shape[1])
            top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = []
            for i in range(len(p_ids)):
                order = top[i][np.lexsort((c_ids[top[i]], -sims[i, top[i]]))]
                rank = 0
                for j in order:
                    if sims[i, j] == -np.inf or rank >= k:
                        continue
                    rank += 1
                    rows.append((int(p_ids[i]), int(c_ids[j]), float(sims[i, j]), rank))
            yield pd.DataFrame(rows, columns=["probe_id", "cand_id", "sim", "rn"])

    return (
        probes.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(
            topk_batches, "probe_id long, cand_id long, sim double, rn int"
        )
    )


def knn_bench_query(spark: SparkSession, sf_dir: str, n_probes: int = 100) -> DataFrame:
    """The BASELINE.md knn shape: n-probe cosine top-5 over the whole
    embeddings table, on the vectorized path."""
    from twitter_event_stream_spark.tables import table

    e = table(spark, sf_dir, "embeddings")
    return knn_topk(
        spark, e, e.filter(F.col("vec_id") < n_probes), k=5
    )


def _sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Pairwise squared distances via the matmul identity
    ``|x-c|² = |x|² + |c|² - 2x·c`` — O(rows × cells) memory. The naive
    3-D broadcast ``(X[:,None,:] - C[None,:,:])**2`` materializes
    rows × cells × dims float64s, which with AUTO cell counts is
    rows×cells×64×8B — tens of GB at ~1M vectors (the exact regime
    auto-sizing targets) vs ~tens of MB for this form."""
    d2 = (
        (X * X).sum(axis=1)[:, None]
        + (C * C).sum(axis=1)[None, :]
        - 2.0 * (X @ C.T)
    )
    np.maximum(d2, 0.0, out=d2)  # clamp matmul rounding below zero
    return d2


def _lloyd(X: np.ndarray, n_cells: int, seed: int, iters: int = 10) -> np.ndarray:
    """Seeded Lloyd k-means on an in-memory sample (the coarse-quantizer
    trainer). Deterministic: seeded init, pure numpy updates; empty cells
    keep their previous centroid."""
    rng = np.random.default_rng(seed)
    centers = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = _sq_dists(X, centers).argmin(axis=1)
        for c in range(len(centers)):
            members = X[assign == c]
            if len(members):
                centers[c] = members.mean(axis=0)
    return centers


#: Auto-sized quantizers target this many vectors per cell: per-cell work
#: (an O(cell²) gram matrix for the blocked near-dup; a per-probe candidate
#: list for topk) stays CONSTANT as the corpus grows, which is what makes
#: both operators ~linear at 10×/100× — a FIXED n_cells silently turns them
#: quadratic (cell occupancy grows with n). 256²·8B ≈ 0.5 MB per cell
#: matrix: far below executor memory, large enough to keep BLAS efficient.
TARGET_CELL_ROWS = 256

#: Corpus size past which the driver-side training sample stops dominating
#: the cell count (64k sample / 4-points-per-cell = 16k cells = ~4M vectors
#: at TARGET_CELL_ROWS occupancy) — beyond it the quantizer trains
#: DISTRIBUTED (MLlib k-means||) so cell occupancy stays constant at any
#: corpus size. Callers can force either branch with ``distributed=``.
DISTRIBUTED_TRAIN_ROWS = 4_000_000


def _lloyd_distributed(valid, n_cells: int, seed: int) -> np.ndarray:
    """Distributed coarse-quantizer training: seeded MLlib k-means|| over
    the FULL corpus (no driver-side sample). Same contract as
    :func:`_lloyd` — a (n_cells, dim) float64 centroid matrix — so both
    branches feed the identical Arrow-batched assignment path. The fit is
    one MLlib job (k-means|| init + ≤10 Lloyd iterations, all
    executor-side partial aggregations); the only driver-side data is the
    centroid matrix itself, which is exactly what gets broadcast anyway."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = valid.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        )
    )
    model = KMeans(
        k=n_cells, seed=seed, maxIter=10, initMode="k-means||"
    ).fit(feats)
    return np.asarray(model.clusterCenters(), dtype=np.float64)


def _train_quantizer(
    spark, vectors, n_cells: int | None, seed: int, distributed: bool | None = None
):
    """Train the coarse quantizer on a bounded deterministic sample and
    broadcast the centroid matrix (shared by ivf_topk and
    embed_neardup_blocked). Returns ``None`` for an empty corpus — callers
    short-circuit to an empty typed result instead of clustering nothing.
    ``n_cells=None`` auto-sizes to ``max(8, n / TARGET_CELL_ROWS)`` using
    the count this function already takes for the training sample —
    identical to the old fixed 8 for corpora below ~2k vectors (every
    fixture scale), scaling cell count linearly beyond."""
    valid = vectors.select("vec_id", "embedding").filter(
        F.col("embedding").isNotNull()
    )
    # ONE pass folds the corpus count and (for small corpora) the whole
    # training sample (r17, guide §1.2 — the old separate count() was a
    # second full scan): the Observation counts every valid row while the
    # same job collects the first 4096 rows by vec_id. Whenever n < 4096,
    # step = max(1, n // sample_target) is provably 1 (sample_target >=
    # 2048 below), so the old modulo sample selected ALL valid rows with a
    # non-null vec_id ordered by vec_id — exactly this prefix — and the
    # centroids are bit-identical with one Spark job instead of two. For
    # n >= 4096 the prefix is discarded (a few MB) and the modulo sample
    # runs as before — same two scans the old code paid, since the sample
    # predicate needs n first. The observe sits ABOVE the isNotNull
    # embedding filter but BELOW the vec_id filter, so the count matches
    # the old valid.count() while the prefix matches the old sample's
    # null-id exclusion.
    from pyspark.sql import Observation

    obs = Observation()
    prefix_pdf = (
        valid.observe(obs, F.count(F.lit(1)).alias("n"))
        .filter(F.col("vec_id").isNotNull())
        .orderBy("vec_id")
        .limit(4096)
        .toPandas()
    )
    n = int(obs.get["n"])
    if n == 0:
        return None
    if n_cells is None:
        n_cells = max(8, -(-n // TARGET_CELL_ROWS))
    if distributed is None:
        distributed = n > DISTRIBUTED_TRAIN_ROWS
    if distributed:
        return spark.sparkContext.broadcast(
            _lloyd_distributed(valid, min(n_cells, n), seed)
        )
    # Sampled branch: the training sample must dominate the cell count
    # (>= 4 points/cell, faiss-style) but stay a bounded driver-side
    # collect: 64k rows × 64 dims ≈ 32 MB. Auto-sizing therefore holds
    # cell occupancy constant up to ~4M vectors; past that this branch's
    # sample would become the binding constraint and occupancy would grow
    # again — which is exactly when ``distributed`` auto-flips to the
    # MLlib k-means|| branch above (r8, closing the r6/r7 documented gap).
    sample_target = min(65536, max(2048, 4 * n_cells))
    # enforce the >=4 points/cell invariant even when the 64k sample cap
    # binds — clamping to sample_target itself would let every sampled
    # point become its own centroid (degenerate quantizer) at huge n
    n_cells = min(n_cells, sample_target // 4)
    if n < 4096:
        # step would be 1 (n // sample_target == 0 for every reachable
        # sample_target >= 2048): the modulo sample IS the ordered prefix
        # the observe job already collected — zero additional jobs.
        train_pdf = prefix_pdf
    else:
        step = max(1, n // sample_target)
        # the modulo sample is size-bounded only for ids uniform mod step;
        # ids allocated with a stride sharing a factor with step would
        # select far more (worst case the whole corpus) into the driver —
        # the limit is a hard cap that is a no-op in the uniform case.
        # orderBy before the limit makes the cap a TakeOrdered: when it
        # binds, the retained sample (and hence the seeded Lloyd init,
        # which indexes by ROW position) is still a pure function of the
        # data, not of partition layout — an unordered limit keeps
        # "bounded" but loses "deterministic" exactly in the
        # adversarial-stride case the cap exists for.
        train_pdf = (
            valid.filter(F.col("vec_id") % step == 0)
            .orderBy("vec_id")
            .limit(2 * sample_target)
            .toPandas()
        )
    if len(train_pdf) == 0 and n > 0:
        # sparse/adversarial vec_ids can dodge the modulo sample entirely;
        # fall back to a deterministic bounded TakeOrdered sample
        train_pdf = valid.orderBy("vec_id").limit(sample_target).toPandas()
    if len(train_pdf) == 0:
        return None
    X = np.asarray(train_pdf["embedding"].tolist(), dtype=np.float64)
    n_cells = min(n_cells, len(X))
    return spark.sparkContext.broadcast(_lloyd(X, n_cells, seed))


def _cell_assign(df, bc, n_probe: int):
    """Arrow-batched centroid assignment: each row lands in its ``n_probe``
    nearest cells (1 → inverted-list assignment, >1 → multi-probe
    replication). Clamps to the trained center count, so a degenerate
    corpus (fewer sampled vectors than probe cells) degrades to fewer
    probes instead of a length-mismatch crash."""

    def run(batches):
        cm = bc.value
        k = min(n_probe, len(cm))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            d2 = _sq_dists(mat, cm)  # O(batch × cells), not × dims
            if k == 1:
                out = pdf[["vec_id", "embedding"]].copy()
                out["cell"] = d2.argmin(axis=1).astype("int32")
            else:
                cells = np.argsort(d2, axis=1)[:, :k]
                out = pdf.loc[pdf.index.repeat(k)].copy()
                out["cell"] = cells.ravel().astype("int32")
            yield out[["vec_id", "embedding", "cell"]]

    return (
        df.select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
        .mapInPandas(run, "vec_id long, embedding array<float>, cell int")
    )


def _dot(x: str, y: str):
    """Double-widened HOF dot product of two array<float> columns — the
    oracle-parity arithmetic every JVM-side cosine shares."""
    return F.expr(
        f"aggregate(zip_with(transform({x}, v -> CAST(v AS DOUBLE)),"
        f" transform({y}, v -> CAST(v AS DOUBLE)), (v, w) -> v * w),"
        " 0D, (acc, v) -> acc + v)"
    )


def _cosine_prenormed(a_col: str, b_col: str, a_norm: str, b_norm: str):
    """JVM-side cosine between two array<float> columns with the two L2
    norms read from per-row columns (``sqrt(_dot(v, v))``, computed in the
    projections BELOW the pair join — guide §2.3/§4: interpreted HOF folds
    cost per element, and a norm is a pure function of one row, so
    computing it once per ROW instead of once per candidate PAIR drops 2
    of the 3 folds each pair used to pay; the expression tree per value is
    unchanged, so sims are bit-identical — r16). A zero-norm side yields
    NULL (no cosine direction) via ``nullif`` — under Spark 4's default
    ANSI mode a bare divide would instead abort the whole job on the first
    zero-norm vector; NULL sims sink below every real neighbor in the
    descending top-k window."""
    return _dot(a_col, b_col) / F.nullif(
        F.col(a_norm) * F.col(b_norm), F.lit(0.0)
    )


def ivf_topk(
    spark: SparkSession,
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe_cells: int = 2,
    seed: int = 42,
    distributed: bool | None = None,
) -> DataFrame:
    """IVF approximate nearest neighbors — the 100 TB path for cosine top-k.

    Coarse quantizer: seeded Lloyd iterations over a *bounded deterministic
    sample* of the corpus (the faiss discipline — quantizer training never
    needs the full data, ~2k vectors suffice for a handful of cells), then
    every vector is assigned to its nearest centroid by an Arrow-batched
    argmin on the executors → one inverted-list cell per vector (a
    *bounded, broadcastable* block). Each probe searches only its
    ``n_probe_cells`` nearest cells, and each cell's block fits the
    ``knn_topk`` broadcast primitive. Recall is tunable via n_probe_cells
    (engine test bounds it). Training on a sample instead of a
    distributed ML fit cut the fixture-scale build from ~3.5 s to ~0.5 s
    with identical recall bounds. ``n_cells`` defaults to AUTO (r6):
    cell count scales with the corpus (``n / TARGET_CELL_ROWS``), holding
    per-probe candidate volume at ~TARGET_CELL_ROWS·n_probe_cells rows
    however large the corpus — a fixed cell count instead makes every
    probe's candidate list grow linearly with n. Identical to the old
    fixed 8 below ~2k vectors (every fixture scale). ``distributed``
    picks the quantizer-training branch (None = auto at
    DISTRIBUTED_TRAIN_ROWS); recall bounds are pinned through BOTH
    branches in tests/test_infra.py.
    """
    bc = _train_quantizer(spark, vectors, n_cells, seed, distributed)
    if bc is None:  # empty corpus -> empty result, same schema
        return spark.createDataFrame(
            [], "probe_id long, cand_id long, sim double, rn int"
        )
    assigned = _cell_assign(vectors, bc, 1)
    probe_cells = _cell_assign(probes, bc, n_probe_cells)

    # Per-cell brute force: join probes to their cells' candidates. Norms
    # are per-ROW columns computed below the join (guide §2.3: hoist
    # invariant work out of the pair product) — each pair then pays one
    # HOF fold (the cross dot) instead of three; bit-identical sims.
    p = probe_cells.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        "cell",
        F.sqrt(_dot("embedding", "embedding")).alias("pn"),
    )
    c = assigned.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        "cell",
        F.sqrt(_dot("embedding", "embedding")).alias("cn"),
    )
    sims = (
        p.join(c, "cell")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            _cosine_prenormed("pv", "cv", "pn", "cn").alias("sim"),
        )
        .filter(F.col("sim").isNotNull())  # zero-norm pairs: no direction
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "cand_id", F.round("sim", 4).alias("sim"), "rn")
    )


def embed_neardup_blocked(
    spark: SparkSession,
    vectors: DataFrame,
    threshold: float = 0.3,
    n_cells: int | None = None,
    n_probe_cells: int = 3,
    seed: int = 42,
    distributed: bool | None = None,
) -> DataFrame:
    """IVF-cell-blocked embedding near-duplicate pairs — the deployable
    scale form of the label-blocked ``q_llm_embed_neardup`` stand-in.

    Same coarse quantizer as :func:`ivf_topk` (seeded Lloyd on a bounded
    sample); every vector is REPLICATED into its ``n_probe_cells`` nearest
    cells, then each cell verifies its own block with ONE BLAS gram-matrix
    multiply in ``applyInPandas`` — the same vectorized discipline as
    ``knn_topk``; an earlier self-join + per-pair JVM-HOF cosine spent
    ~3 interpreted 64-element folds per candidate pair and ran ~50× slower
    at bench scale. Multi-probe replication is the recall lever: two
    vectors whose similarity straddles a cell boundary still meet in one
    of their shared probe cells; a pair sharing several cells is verified
    per cell (BLAS-cheap) and deduped on the id pair afterwards. Executor
    memory per task is the O(n_cell²) per-cell similarity matrix — cell
    count is the knob that bounds it, exactly the bound the candidate
    volume already relies on; the only shuffle is the hash partition on
    the cell key (engine test pins recall vs the exact pair set and a
    cartesian-free plan). ``n_cells`` defaults to AUTO (r6):
    ``n / TARGET_CELL_ROWS`` so cell occupancy — and with it per-task
    memory AND total gram-matrix work — stays constant as the corpus
    grows; a fixed cell count makes this operator silently quadratic at
    10×/100× (cells fatten with n), the exact failure the 10× scale probe
    measures. Identical to the old fixed 8 at every fixture scale.
    ``distributed`` picks the quantizer branch (None = auto past
    DISTRIBUTED_TRAIN_ROWS, where the sampled trainer's occupancy bound
    breaks)."""
    bc = _train_quantizer(spark, vectors, n_cells, seed, distributed)
    if bc is None:  # empty corpus -> empty result, same schema
        return spark.createDataFrame([], "a_id long, b_id long, sim double")
    assigned = _cell_assign(vectors, bc, n_probe_cells)

    def verify_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "sim": []}).astype(
                {"a_id": "int64", "b_id": "int64", "sim": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        # a zero-norm embedding has no cosine direction: excluding its pairs
        # is intentional, so mask explicitly instead of letting 0/0 NaNs
        # (plus executor-log divide warnings) do it implicitly
        zero = nrm == 0.0
        sims = (mat @ mat.T) / np.outer(
            np.where(zero, 1.0, nrm), np.where(zero, 1.0, nrm)
        )
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = (sims[iu, ju] >= threshold) & ~zero[iu] & ~zero[ju]
        ai, bi = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "a_id": np.minimum(ai, bi),
                "b_id": np.maximum(ai, bi),
                "sim": sims[iu[keep], ju[keep]],
            }
        )

    pairs = assigned.groupBy("cell").applyInPandas(
        verify_cell, "a_id long, b_id long, sim double"
    )
    return pairs.dropDuplicates(["a_id", "b_id"]).select(
        "a_id", "b_id", F.round("sim", 4).alias("sim")
    )


def write_ivf_index(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    n_cells: int | None = None,
    seed: int = 42,
    distributed: bool | None = None,
) -> None:
    """Persist an IVF index: train the coarse quantizer once, then write
    ``centroids`` (cell id + centroid vector) and ``cells`` (the corpus,
    PARTITIONED BY cell) as parquet. Build-once/probe-many is how ANN
    actually deploys — :func:`ivf_topk` retrains and reassigns on every
    call, which is right for one-shot queries and wasteful for a served
    index. Partitioning the corpus by cell turns every later probe into a
    pruned scan: only the probed cells' files are read (dynamic partition
    pruning through the cell join; pinned by test). Same seeded trainer as
    ivf_topk, so a rebuilt index reproduces bit-identically.

    Layout: the centroid+cells tree lives in a version dir ``<path>/_v-*``
    named by a ``_current-<n>`` pointer file (fsio.resolve_data_dir), the
    streaming-ingest spill stays beside it at ``<path>/ingest``, and every
    publish — this build, a rebuild, a cell compaction — is a single
    pointer-file create (fsio.publish_version), atomic on local, HDFS and
    S3A alike. The build runs under the maintenance lease (r11): live
    ingest fails fast, a concurrent maintenance op is refused, and
    in-flight batches abort at their commit fence via the generation
    bump."""
    from twitter_event_stream_spark.fsio import (
        maintenance_lease,
        publish_version,
    )

    bc = _train_quantizer(spark, vectors, n_cells, seed, distributed)
    if bc is None:
        raise ValueError("cannot index an empty corpus")
    with maintenance_lease(spark, path, "write_ivf_index"):
        publish_version(
            spark, path, lambda t: _write_ivf_tree(spark, vectors, bc, t)
        )


def _write_ivf_tree(
    spark: SparkSession, vectors: DataFrame, bc, target: str
) -> None:
    """Write one IVF version's payload into ``target``: the trained
    centroid matrix ``bc`` as ``centroids`` and ``vectors`` assigned to
    their nearest cell as the cell-partitioned ``cells`` tree."""
    cm = bc.value
    spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cm)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.parquet(f"{target}/centroids")
    _cell_assign(vectors, bc, 1).write.partitionBy("cell").parquet(
        f"{target}/cells"
    )


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    k: int = 5,
    n_probe_cells: int = 2,
) -> DataFrame:
    """Cosine top-k against a PERSISTED IVF index (:func:`write_ivf_index`)
    — no quantizer training, no corpus reassignment: read the centroid
    matrix (one tiny file), assign probes to their ``n_probe_cells``
    nearest cells Arrow-batched, and join against the cell-partitioned
    corpus; the join key is the partition column, so only the probed
    cells' parquet files are scanned. Identical ranking arithmetic to
    :func:`ivf_topk` (same JVM-side cosine, same tiebreak), so a fresh
    build probed with the same parameters returns the identical result —
    pinned by test.

    The pointer is resolved ONCE per probe (r11): centroids and cells
    come from the same version directory, so a rebuild flipping
    mid-probe cannot pair old centroids with new cell assignments; the
    swap's grace window keeps the resolved version readable
    for ONE maintenance cycle — a probe outliving two back-to-back swaps
    (e.g. rebuild then compact) can have its resolved version evicted
    mid-read and fails LOUDLY (FileNotFoundException), never silently;
    schedule maintenance passes apart by more than the longest probe, or
    re-run the evicted probe."""
    from twitter_event_stream_spark.fsio import resolve_data_dir

    cur = resolve_data_dir(spark, path)
    bc = _stored_centroid_bc(spark, cur)
    probe_cells = _cell_assign(probes, bc, n_probe_cells)
    corpus = read_ivf_cells(spark, path, data_dir=cur)
    # per-row norms below the join, exactly like ivf_topk (bit-identical
    # sims, 1 HOF fold per pair instead of 3 — guide §2.3)
    p = probe_cells.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        "cell",
        F.sqrt(_dot("embedding", "embedding")).alias("pn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        "cell",
        F.sqrt(_dot("embedding", "embedding")).alias("cn"),
    )
    sims = (
        p.join(c, "cell")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            _cosine_prenormed("pv", "cv", "pn", "cn").alias("sim"),
        )
        .filter(F.col("sim").isNotNull())
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "cand_id", F.round("sim", 4).alias("sim"), "rn")
    )


def _stored_centroid_bc(spark: SparkSession, data_dir: str):
    """Broadcast of a persisted index's centroid matrix (cell-ordered) —
    the one tiny read every stored-quantizer operation shares.
    ``data_dir`` is the RESOLVED version dir (fsio.resolve_data_dir), so a
    caller reads centroids and cells from one version."""
    cent_pdf = (
        spark.read.parquet(f"{data_dir}/centroids").orderBy("cell").toPandas()
    )
    cm = np.asarray(cent_pdf["centroid"].tolist(), dtype=np.float64)
    return spark.sparkContext.broadcast(cm)


def _read_pending(spark: SparkSession, path: str, ids: list[int]) -> DataFrame:
    """One scan relation over the given committed ingest batches — shared
    by the reader and the absorber so the spill layout can't drift."""
    return (
        spark.read.option("basePath", f"{path}/ingest")
        .parquet(*[f"{path}/ingest/batch={i}" for i in ids])
        .select("vec_id", "embedding", "cell")
    )


def read_ivf_cells(
    spark: SparkSession, path: str, data_dir: str | None = None
) -> DataFrame:
    """Every VISIBLE vector of a persisted IVF index: the absorbed cell
    tree plus all COMMITTED streaming-ingest batches (X123 spill area,
    ``<path>/ingest/batch=<id>`` — only manifested batches, same X117
    commit rule as the text-corpus sink). With nothing pending this
    returns the plain ``cells`` scan unchanged — same plan, same dynamic
    partition pruning — so batch-only deployments never pay for the
    streaming seam. Pending batches are cell-partitioned too (one scan
    relation via ``basePath``), so a probe's cell join prunes their files
    the same way; the spill stays small because :func:`absorb_ingested`
    folds it into the main tree on the maintenance cadence.

    ``data_dir`` lets a caller pin the RESOLVED version directory it
    already holds (r11 snapshot coherence): a probe that resolved the
    pointer once reads centroids AND cells from that same version even if
    a rebuild flips the pointer mid-probe. The ingest spill is always
    read from the ROOT — it lives beside the versions."""
    from twitter_event_stream_spark.fsio import (
        manifested_batch_ids,
        resolve_data_dir,
    )

    if data_dir is None:
        data_dir = resolve_data_dir(spark, path)
    cells = spark.read.parquet(f"{data_dir}/cells")
    ids = manifested_batch_ids(spark, f"{path}/ingest")
    if not ids:
        return cells
    return cells.select("vec_id", "embedding", "cell").unionByName(
        _read_pending(spark, path, ids)
    )


def _retire_ingest_batches(fs, hpath, path: str, ids) -> None:
    """Retire consumed streaming-ingest batches with a ONE-CYCLE GRACE
    window (r13 — the concurrent soak lane caught an in-flight probe
    404ing mid-read): deleting a batch's manifest makes it invisible to
    every NEW :func:`read_ivf_cells` listing, but a probe whose plan
    snapshotted the manifest list just before this pass still reads the
    batch's FILES — deleting the data dir in the same breath fails that
    probe loudly (FAILED_READ_FILE), the exact hazard the pointer swap's
    previous-version retention already covers for the cell tree.

    The grace is MARKER-BASED (r13 second review pass): each consumed
    batch's manifest is RENAMED to a dot-prefixed retirement marker
    (``_manifests/.retired-<id>.json`` — invisible to the manifest
    listing, so the batch is gone from every new reader at that instant),
    and a pass reclaims only dirs a PREVIOUS pass marked — they have had
    a full maintenance cycle. A dir is therefore deleted ONLY when its
    publisher's manifest once existed and was retired: a just-published,
    NOT-yet-manifested in-flight dir (vector_ingest_batch publishes the
    dir, then fences, then manifests) is never swept — sweeping
    unmanifested dirs as "orphans" would race the publish-to-manifest
    window and leave a committed manifest pointing at deleted data, a
    permanently poisoned index. The cost of that safety: a batch dir
    whose publisher crashed between publish and manifest leaks (it is
    invisible to all manifested readers — the pre-r13 status quo; the
    same holds for any dir with neither manifest nor marker, whatever
    its origin — reclaiming UNMARKED dirs is exactly the publish-race
    this design exists to avoid, so they stay).

    Crash windows converge: marker-rename is atomic per batch; a crash
    mid-pass leaves some batches manifested (re-absorbed as a no-op via
    the anti-join) and some marked (reclaimed next pass). Storage cost:
    one cycle of micro-batch spill, bounded. Shared by
    :func:`absorb_ingested` and :func:`rebuild_ivf_index` so the
    retirement rule cannot drift."""
    mdir = f"{path}/ingest/_manifests"
    try:
        children = list(fs.listStatus(hpath(mdir)))
    except Exception as e:
        # ONLY a genuinely absent spill area is ignorable; a transient
        # listing failure must not silently skip reclamation every pass
        # and unbound the "one cycle of spill" promise (r13 review)
        if "FileNotFoundException" in str(e):
            children = []
        else:
            raise
    live = set(ids)
    for st in children:
        # defense-in-depth against a manifest that landed AFTER the
        # caller's id listing (the publisher's post-manifest re-check is
        # the real fence, r13): the fresh listing in hand also counts as
        # live, at zero extra RPCs
        name = st.getPath().getName()
        if name.startswith("batch-") and name.endswith(".json"):
            try:
                live.add(int(name[len("batch-"):-len(".json")]))
            except ValueError:
                pass
    for st in children:
        name = st.getPath().getName()
        if not (name.startswith(".retired-") and name.endswith(".json")):
            continue
        try:
            bid = int(name[len(".retired-"):-len(".json")])
        except ValueError:
            continue
        if bid in live:
            # a STALE marker coexisting with a live manifest: the id was
            # re-published (checkpoint reset / reused id) after an
            # earlier retirement. The fresh publish is being consumed by
            # THIS pass — deleting the dir now would give it zero grace
            # (r13 third review pass); the re-mark below resets its
            # grace cycle instead.
            continue
        # marked by a previous pass: the grace cycle has elapsed
        fs.delete(hpath(f"{path}/ingest/batch={bid}"), True)
        fs.delete(st.getPath(), False)
    from twitter_event_stream_spark.fsio import manifest_path

    has_consolidated = any(
        st.getPath().getName().startswith("consolidated-")
        for st in children
    )
    for i in ids:
        marker = hpath(f"{mdir}/.retired-{i:09d}.json")
        src_manifest = hpath(manifest_path(f"{path}/ingest", i))
        # clear a stale same-id marker first: rename refuses an occupied
        # destination on HDFS, and a silently-failed rename would leave
        # the batch manifested (and re-absorbed) forever — which is also
        # why the rename's verdict is CHECKED (r13 third review pass)
        fs.delete(marker, False)
        try:
            renamed = fs.rename(src_manifest, marker)
        except Exception:
            renamed = False  # local FS throws (not returns False) on a
            # missing source — fold to the same verdict path
        if not renamed:
            try:
                gone = not fs.exists(src_manifest)
            except Exception:
                gone = False
            if gone and not has_consolidated:
                # the publisher's post-manifest re-check retracted this
                # manifest concurrently (the DESIGNED race, r13 fourth
                # pass): the vectors are already folded into the tree and
                # the publisher's retried batch anti-joins to a no-op —
                # so the batch DIR would otherwise end with no manifest
                # AND no marker, leaking forever. Write the marker
                # ourselves: the dir gets its grace cycle and the next
                # pass reclaims it (r13 review).
                out = fs.create(marker, True)
                out.close()
                continue
            raise IOError(
                f"could not retire ingest manifest batch-{i:09d}.json "
                f"under {mdir} — if the spill's manifests were "
                "consolidated, the id has no per-batch file to retire "
                "(consolidate_manifests must not run on a vector-ingest "
                "spill); the batch stays visible until repaired"
            )


def absorb_ingested(spark: SparkSession, path: str) -> dict:
    """Fold committed streaming-ingest batches (X123) into the main cell
    tree — the maintenance half of the streaming seam, run quiesced like
    compaction (X119): append the pending vectors to ``<path>/cells``
    (cell partitions, existing files untouched), then retire each batch by
    renaming its manifest to a retirement marker (invisible to every NEW
    :func:`read_ivf_cells` listing) while KEEPING its data dir for one
    maintenance cycle — an IN-FLIGHT probe whose plan snapshotted the
    manifest list just before this pass keeps reading files that still
    exist (r13, caught by the concurrent soak lane; the same one-cycle
    grace the pointer swap gives the previous cell-tree version). Dirs a
    previous pass marked retired are reclaimed on the next pass; see
    :func:`_retire_ingest_batches` for why only MARKED dirs are ever
    swept.

    Idempotent across its crash window (r9 ADVICE): the append anti-joins
    the pending vec_ids against the cells the pending batches touch (the
    partition filter prunes the scan to exactly those cell directories, so
    the check never reads the whole tree; per-cell occupancy is bounded by
    TARGET_CELL_ROWS-scale auto-sizing, so the anti-join's build side is
    micro-batch-sized). A crash AFTER the append but BEFORE the manifest
    deletes therefore re-runs to a no-op append — without the anti-join a
    re-run would append the same vectors a second time, permanently
    duplicating them in the main tree (neither rebuild nor compaction
    dedups), and duplicate candidates would displace legitimate neighbors
    in top-k results. Between the crash and the re-run the affected
    vectors ARE visible twice through :func:`read_ivf_cells` (cells ∪
    still-manifested pending) — transient, bounded to the crashed window.
    Follow with :func:`compact_ivf_cells` when the append pushed file
    counts up.

    Runs under the index's maintenance lease (r10 — mechanical quiescing):
    concurrent maintenance ops are refused, and live ingest handlers fail
    fast while the lease is held instead of publishing a batch this fold
    could race.

    Returns ``{"batches_absorbed", "vectors_absorbed"}`` —
    ``vectors_absorbed`` counts vectors actually appended, so a pure
    crash-recovery re-run reports 0."""
    from twitter_event_stream_spark.fsio import (
        _fs,
        maintenance_lease,
        manifested_batch_ids,
        resolve_data_dir,
    )

    with maintenance_lease(spark, path, "absorb_ingested"):
        cur = resolve_data_dir(spark, path)
        ids = manifested_batch_ids(spark, f"{path}/ingest")
        if not ids:
            # still sweep grace-expired orphan dirs: a quiesced stream
            # must not leave the last retired batches on disk forever
            fs, hpath = _fs(spark, path)
            _retire_ingest_batches(fs, hpath, path, [])
            return {"batches_absorbed": 0, "vectors_absorbed": 0}
        # dedup WITHIN the pending set too: a producer redelivering the
        # same vec_id across trigger boundaries lands it in two pending
        # batches (identical rows — deterministic assignment), and a plain
        # fold would append it twice; one copy survives (r10)
        pending = _read_pending(spark, path, ids).dropDuplicates(["vec_id"])
        touched = [r.cell for r in pending.select("cell").distinct().collect()]
        already = (
            spark.read.parquet(f"{cur}/cells")
            .filter(F.col("cell").isin(touched))
            .select("vec_id")
        )
        new = pending.join(already, "vec_id", "left_anti")
        n = new.count()
        if n:
            new.write.mode("append").partitionBy("cell").parquet(
                f"{cur}/cells"
            )
        fs, hpath = _fs(spark, path)
        _retire_ingest_batches(fs, hpath, path, ids)
        return {"batches_absorbed": len(ids), "vectors_absorbed": n}


def append_ivf_index(spark: SparkSession, new_vectors: DataFrame, path: str) -> None:
    """Grow a persisted IVF index (X114) WITHOUT retraining — the missing
    half of the build-once/probe-many story (r8 verdict "What's missing"
    #2; the text-dedup twin, write_simhash_index, had ``mode="append"``
    from day one): assign the new vectors against the STORED centroids and
    append to the cell partitions. Parquet append only adds files, so
    existing cells' files are untouched (pinned by test) and concurrent
    probes keep reading a consistent index; :func:`ivf_topk_indexed` sees
    the appended vectors on its next read with the identical ranking
    arithmetic.

    The quantizer is deliberately frozen: recall depends on probing the
    cells nearest a query, and that only degrades when the data
    distribution DRIFTS from the trained centroids — appended mass then
    piles into few cells. Monitor with :func:`ivf_index_stats` and rebuild
    (``write_ivf_index``, a full retrain + rewrite) when occupancy skew
    exceeds ~4× the mean or any probed cell outgrows executor memory —
    the same re-train rule of thumb FAISS documents for IVF lists.

    FENCED and IDEMPOTENT (r11) — the batch-append twin of the streaming
    ingest protocol (X126), because an unfenced append racing a
    maintenance swap is a silent loss in BOTH directions: the appended
    files land in a version directory the swap retires (rows gone), and a
    mid-rebuild append tears the rebuild's input between its two actions.
    So: fail fast while the maintenance lease is held; anti-join the
    assignment against the vec_ids already present in the touched cells
    (partition-pruned), so only missing vectors append; and re-check the
    maintenance GENERATION after the append — maintenance that overlapped
    this call raises :class:`fsio.MaintenanceLeaseHeld` instead of
    returning as if the rows were durable, and the caller's retry
    converges to exactly-once through the same anti-join."""
    from twitter_event_stream_spark.fsio import (
        assert_no_maintenance,
        maintenance_generation,
        resolve_data_dir,
    )

    gen0 = maintenance_generation(spark, path)
    assert_no_maintenance(spark, path)
    # one resolve (r11): assign against the SAME version's centroids the
    # append lands in — two separate resolves could span a rebuild flip
    cur = resolve_data_dir(spark, path)
    bc = _stored_centroid_bc(spark, cur)
    assigned = _cell_assign(new_vectors.dropDuplicates(["vec_id"]), bc, 1)
    assigned.persist()
    try:
        touched = [
            r.cell for r in assigned.select("cell").distinct().collect()
        ]
        already = (
            spark.read.parquet(f"{cur}/cells")
            .filter(F.col("cell").isin(touched))
            .select("vec_id")
        )
        fresh = assigned.join(already, "vec_id", "left_anti")
        fresh.write.mode("append").partitionBy("cell").parquet(
            f"{cur}/cells"
        )
    finally:
        assigned.unpersist()
    # spaced_read (r13): this verdict certifies the append as durable
    assert_no_maintenance(spark, path, generation=gen0, spaced_read=True)


def rebuild_ivf_index(
    spark: SparkSession,
    path: str,
    n_cells: int | None = None,
    seed: int = 42,
    distributed: bool | None = None,
) -> dict:
    """The drift rebuild that :func:`ivf_index_stats` skew points at, made
    executable: retrain the quantizer over every VISIBLE vector (absorbed
    cells plus committed streaming-ingest batches), write a complete
    fresh centroid+cells tree into a staged version dir, and publish it
    with one pointer flip (:func:`fsio.publish_version`). Centroids and
    cells flip together — a probe never pairs old centroids with new
    cell assignments: :func:`ivf_topk_indexed` resolves the pointer once
    and reads both from that single version, which the swap's grace
    window keeps readable.

    Runs under the index's maintenance lease (r10): ingest handlers FAIL
    FAST while the lease is held (fsio.assert_no_maintenance), so no
    batch publishes between the visible-set snapshot and the flip, and a
    second concurrent maintenance op is refused. After the flip the
    consumed ingest batches are retired through the shared
    one-cycle-grace rule (r13, :func:`_retire_ingest_batches` —
    manifests now, data dirs next pass). A crash before the flip leaves
    the live index untouched (the half-written stage is swept by the
    next publish); a crash between the flip and the retire leaves the
    consumed batches transiently visible TWICE through
    :func:`read_ivf_cells` (fresh cells already hold their vectors) —
    the same bounded at-least-once window :func:`absorb_ingested`
    documents for its own crash, and the next absorb/rebuild converges it
    to exactly-once. Deterministic: same visible vectors + seed reproduce
    the same index as a fresh :func:`write_ivf_index` build (pinned by
    test).

    Returns ``{"n_vectors", "n_cells_before", "n_cells_after",
    "pending_batches_consumed"}``."""
    from twitter_event_stream_spark.fsio import (
        _fs,
        maintenance_lease,
        manifested_batch_ids,
        publish_version,
        resolve_data_dir,
    )

    with maintenance_lease(spark, path, "rebuild_ivf_index"):
        cur = resolve_data_dir(spark, path)
        vectors = read_ivf_cells(spark, path, data_dir=cur).select(
            "vec_id", "embedding"
        )
        n = vectors.count()
        n_before = spark.read.parquet(f"{cur}/centroids").count()
        pending_ids = manifested_batch_ids(spark, f"{path}/ingest")
        bc = _train_quantizer(spark, vectors, n_cells, seed, distributed)
        if bc is None:
            raise ValueError("cannot index an empty corpus")
        publish_version(
            spark, path, lambda t: _write_ivf_tree(spark, vectors, bc, t)
        )
        fs, hpath = _fs(spark, path)
        # one-cycle grace retirement, shared with absorb (r13): the
        # manifests go now, the data dirs on the next pass — an
        # in-flight probe reading the consumed batches keeps its files
        _retire_ingest_batches(fs, hpath, path, pending_ids)
        return {
            "n_vectors": n,
            "n_cells_before": n_before,
            "n_cells_after": len(bc.value),
            "pending_batches_consumed": len(pending_ids),
        }


def ivf_index_stats(spark: SparkSession, path: str) -> DataFrame:
    """Occupancy report for a persisted IVF index — the signal that decides
    when :func:`append_ivf_index` growth demands a rebuild. One row per
    TRAINED cell (empty cells included, so a collapsing quantizer is
    visible): vector count, occupancy fraction, and the skew ratio
    n_vectors / mean-occupancy; ``max(skew)`` ≳ 4 is the documented
    rebuild trigger. Output is n_cells rows — driver-safe at any corpus
    size; the only corpus-wide work is one count aggregation pushed to the
    cell partitioning. Counts every VISIBLE vector — committed
    streaming-ingest batches included — so the rebuild signal can't lag
    behind a continuously-ingesting deployment."""
    from twitter_event_stream_spark.fsio import resolve_data_dir

    cur = resolve_data_dir(spark, path)  # one resolve: coherent snapshot
    cells = read_ivf_cells(spark, path, data_dir=cur)
    trained = spark.read.parquet(f"{cur}/centroids").select("cell")
    occ = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    full = (
        trained.join(occ, "cell", "left")
        .select("cell", F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"))
    )
    tot = full.agg(
        F.sum("n_vectors").alias("_tot"), F.avg("n_vectors").alias("_mean")
    )
    return (
        full.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("_tot"), 6).alias("frac"),
            F.round(F.col("n_vectors") / F.col("_mean"), 4).alias("skew"),
        )
        .orderBy("cell")
    )


def compact_ivf_cells(
    spark: SparkSession,
    path: str,
    files_per_cell: int = 1,
) -> dict:
    """Compact a persisted IVF index's cell partitions (X114) down to
    ``files_per_cell`` parquet files per cell — the maintenance half of
    the append path (X119, the vector twin of
    ``corpus_full.compact_band_rows``). :func:`append_ivf_index` only ever
    ADDS files, and probe latency follows the FILE count of the probed
    cells (listing + footer reads per file), so a daily-append deployment
    drifts toward thousands of tiny files per cell. Compaction rewrites
    the same vectors (content equality, bit-identical probe results, and
    unchanged occupancy stats pinned by test) clustered by cell — one
    shuffle, each cell in one writer task — into a fresh version dir
    beside a byte-exact COPY of the untouched centroids file, published
    by one pointer flip (:func:`fsio.publish_version`), so the quantizer
    and every cell assignment are exactly preserved. Runs under the
    index's maintenance lease (r10): a streaming append racing the
    publish fails fast at its next batch instead of landing files in the
    retired version, and a concurrent maintenance op is refused.

    Returns ``{"files_before", "files_after"}``; trigger on
    :func:`fsio.data_file_count` growth, and note compaction is NOT the
    drift rebuild — occupancy skew still calls for
    :func:`rebuild_ivf_index` (full retrain) per :func:`ivf_index_stats`."""
    from twitter_event_stream_spark.fsio import (
        copy_dir,
        maintenance_lease,
        publish_version,
        resolve_data_dir,
    )

    with maintenance_lease(spark, path, "compact_ivf_cells"):
        cur = resolve_data_dir(spark, path)
        cells_dir = f"{cur}/cells"
        before = data_file_count(spark, cells_dir)
        cells = spark.read.parquet(cells_dir)
        if files_per_cell <= 1:
            df = cells.repartition("cell")
        else:
            df = (
                cells.withColumn(
                    "_salt",
                    F.pmod(F.xxhash64("vec_id"), F.lit(files_per_cell)),
                )
                .repartition("cell", "_salt")
                .drop("_salt")
            )

        def _write_to(target: str) -> None:
            df.write.partitionBy("cell").parquet(f"{target}/cells")
            copy_dir(spark, f"{cur}/centroids", f"{target}/centroids")

        staged = publish_version(spark, path, _write_to)
        return {
            "files_before": before,
            "files_after": data_file_count(spark, f"{staged}/cells"),
        }
