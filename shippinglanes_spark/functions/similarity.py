"""SURVEY §2.9 — similarity search over `embeddings`.

Two execution strategies, picked by role:

- `sim_cosine_pairs`: exact pairwise threshold join, pure DataFrame
  (self-join + higher-order dot product). Correctness-first; at 100 TB
  the same query runs behind an LSH band-bucket pre-join (minhash.py)
  that prunes the candidate set before this exact re-rank.
- `sim_knn`: brute-force top-1 neighbor as a *broadcast block-matmul*:
  the smaller side (the index) is broadcast as a dense numpy matrix and
  each partition of the probe side computes its rows' top-k locally in
  one vectorized mapInPandas pass — the standard scalable shape for
  brute-force ANN (no O(n²) shuffle, Arrow-batched, NumPy BLAS inner
  loop). Scale path beyond memory: IVF partitioning or LSH bucketing.
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import functions as F

from ..io import table
from ..registry import register


MAX_INDEX_ROWS = 2_000_000  # ~1 GB at 64-d float64: broadcast-index ceiling

# One broadcast per (application, fixture dir): the index is immutable, so
# repeated sim_* calls reuse the already-shipped matrix instead of paying
# collect + broadcast again.
_INDEX_CACHE: dict = {}


def _broadcast_index(spark, sf_dir):
    """Collect the embedding table once as a row-normalized float64 matrix
    and broadcast it (ids sorted ascending). The dense-index half of the
    broadcast block-matmul pattern shared by the sim_* operators.

    Driver materialization is inherent to a *broadcast* index; the
    explicit row cap fails fast (instead of OOMing) when the table has
    outgrown the pattern — past it, use ivf_knn / sim_ann_lsh, the
    partitioned strategies."""
    import numpy as np

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _INDEX_CACHE.get(key)
    if cached is not None:
        return cached
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    if n > MAX_INDEX_ROWS:
        raise ValueError(
            f"embedding table has {n} rows > MAX_INDEX_ROWS={MAX_INDEX_ROWS}; "
            "the broadcast block-matmul index no longer fits — use the "
            "IVF (ivf_knn) or LSH (sim_ann_lsh) partitioned search paths"
        )
    local = e.toPandas().sort_values("vec_id")
    ids = np.asarray(local["vec_id"], dtype=np.int64)
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in local["embedding"]])
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sc = spark.sparkContext
    out = (e, sc.broadcast(ids), sc.broadcast(mat_n))
    _INDEX_CACHE[key] = out
    return out


def _embedding_matrix(batch):
    """The ``embedding`` list column of an Arrow RecordBatch as a float64
    (rows, dim) matrix. Uniform widths with no null list or element
    reshape the flat values zero-copy, value for value equal to the
    per-row form (float32 -> float64 widening is exact); ragged or null
    rows take the per-row ``np.asarray`` form itself."""
    import numpy as np

    col = batch.column("embedding")
    off = col.offsets.to_numpy()
    widths = np.diff(off)
    if (
        len(widths)
        and (widths == widths[0]).all()
        and not col.null_count
        and not col.values.null_count
    ):
        flat = col.values.to_numpy(zero_copy_only=False)
        return flat[off[0] : off[-1]].reshape(len(widths), widths[0]).astype(np.float64)
    return np.asarray([np.asarray(v, dtype=np.float64) for v in col.to_pylist()])


# The mapInArrow kernels call _embedding_matrix on the workers, whose import
# path need not hold this package (a driver-supplied session), so this
# module's functions travel by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


@register(
    "sim_cosine_pairs",
    section="2.9",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e,
                 SQRT(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
          FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.3
    """,
    notes="threshold on the ROUNDed value on both sides so borderline pairs can't flip",
)
def sim_cosine_pairs(spark, sf_dir):
    """All pairs with cosine >= 0.3, via broadcast block-matmul: each
    partition of the probe side matmuls against the broadcast index and
    emits only its above-threshold (id_a < id_b) pairs. ~100x faster than
    a self-join with interpreted higher-order lambdas, and the same shape
    that runs behind an LSH candidate filter at 100 TB.

    The result equals the per-row form's bit-for-bit; the exactness
    argument at each step:
    - probe side split into work-sized tasks (fan_out_scaled) so the
      dense GEMM parallelizes — row-local math, split-invariant;
    - mapInArrow over the zero-copy batch matrix (_embedding_matrix);
    - ROUND applied only to SURVIVING entries: np.round(x, 4) is
      rint(x * 1e4) / 1e4, and rint (ties-to-even) >= 3000 iff
      x * 1e4 >= 2999.5 — so the full-matrix rint+divide collapses to
      one multiply+compare, with the kept entries rounded identically."""
    import numpy as np

    from ..core import fan_out_scaled

    e, b_ids, b_mat = _broadcast_index(spark, sf_dir)

    def pairs(batches):
        import numpy as np
        import pyarrow as pa

        idx_ids = b_ids.value
        idx = b_mat.value
        for batch in batches:
            q = _embedding_matrix(batch)
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            y = (q @ idx.T) * 1e4
            qids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            keep = (y >= 2999.5) & (qids[:, None] < idx_ids[None, :])
            qi, ii = np.nonzero(keep)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[qi], type=pa.int64()),
                    pa.array(idx_ids[ii], type=pa.int64()),
                    pa.array(np.rint(y[qi, ii]) / 1e4, type=pa.float64()),
                ],
                names=["id_a", "id_b", "cos"],
            )

    return fan_out_scaled(e).mapInArrow(
        pairs, schema="id_a long, id_b long, cos double"
    )


@register(
    "sim_knn",
    section="2.9",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e,
                 SQRT(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
          FROM v),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
          FROM n a JOIN n b ON a.vec_id <> b.vec_id)
    SELECT id_a AS vec_id, id_b AS nn_id, ROUND(cos, 4) AS sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                ORDER BY cos DESC, id_b) AS rn FROM p)
    WHERE rn = 1
    """,
    notes="broadcast block-matmul brute force; ties broken by smallest neighbor id",
)
def sim_knn(spark, sf_dir):
    import numpy as np

    # Index ids are sorted ascending, so numpy argmax's lowest-index
    # tie-break equals the oracle's ORDER BY cos DESC, id_b ASC.
    # The probe side is split into work-sized tasks so the dense GEMM
    # parallelizes (argmax is row-local, so the split cannot change any
    # row); each Arrow batch becomes one matrix (_embedding_matrix).
    e, b_ids, b_mat = _broadcast_index(spark, sf_dir)

    from ..core import fan_out_scaled

    def top1(batches):
        import numpy as np
        import pyarrow as pa

        idx_ids = b_ids.value
        idx = b_mat.value
        for batch in batches:
            q = _embedding_matrix(batch)
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ idx.T  # (batch, n_index) dense similarity block
            qids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            self_mask = qids[:, None] == idx_ids[None, :]
            sims[self_mask] = -np.inf
            best = sims.argmax(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids, type=pa.int64()),
                    pa.array(idx_ids[best], type=pa.int64()),
                    pa.array(
                        np.round(sims[np.arange(len(best)), best], 4),
                        type=pa.float64(),
                    ),
                ],
                names=["vec_id", "nn_id", "sim"],
            )

    return fan_out_scaled(e).mapInArrow(
        top1, schema="vec_id long, nn_id long, sim double"
    )


@register(
    "sim_knn_topk",
    section="2.9",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e,
                 SQRT(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
          FROM v),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
          FROM n a JOIN n b ON a.vec_id <> b.vec_id)
    SELECT id_a AS vec_id, id_b AS nn_id, ROUND(cos, 4) AS sim,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
               ORDER BY cos DESC, id_b) AS rn FROM p)
    WHERE rn <= 3
    """,
    notes="top-3 neighbors per vector; same broadcast block-matmul, "
    "lexicographic (sim desc, id asc) tie-break on both sides",
)
def sim_knn_topk(spark, sf_dir):
    import numpy as np

    K = 3
    e, b_ids, b_mat = _broadcast_index(spark, sf_dir)

    def topk(batches):
        idx_ids = b_ids.value
        idx = b_mat.value
        for pdf in batches:
            q = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ idx.T
            qids = np.asarray(pdf["vec_id"], dtype=np.int64)
            sims[qids[:, None] == idx_ids[None, :]] = -np.inf
            # exact order: sim desc, then neighbor id asc (ids are sorted,
            # lexsort is stable)
            order = np.lexsort((np.broadcast_to(idx_ids, sims.shape), -sims), axis=1)
            top = order[:, :K]
            rows = np.repeat(qids, K)
            cols = top.ravel()
            yield pd.DataFrame(
                {
                    "vec_id": rows,
                    "nn_id": idx_ids[cols],
                    "sim": np.round(sims[np.repeat(np.arange(len(qids)), K), cols], 4),
                    "rank": np.tile(np.arange(1, K + 1, dtype=np.int32), len(qids)),
                }
            )

    return e.mapInPandas(
        topk, schema="vec_id long, nn_id long, sim double, rank int"
    )


MAX_FIT_ROWS = 100_000  # centroid-fit sample cap: bounds driver memory


def ivf_knn(spark, emb, n_clusters: int = 16, n_probe: int = 4, k: int = 1):
    """IVF-partitioned approximate kNN: the beyond-broadcast scale path.

    Build: cosine-k-means centroids fitted on a *bounded deterministic
    sample* (<= MAX_FIT_ROWS rows reach the driver, regardless of table
    size); only the (n_clusters x dim) centroid matrix is broadcast.
    Assign: every vector gets its nearest-centroid list id distributedly
    (mapInPandas against the broadcast centroids — no full-table collect).
    Search: each query fans out to its n_probe nearest lists; a cogrouped
    per-list GEMM scores queries only against that list's members, and a
    keyed window takes the global top-k from the per-list top-ks (the
    global top-k over probed lists is contained in their union). The
    shuffle is keyed on list id, so cost scales with list occupancy, not
    n². Recall vs exact kNN is asserted in tests/test_similarity.py.
    """
    import numpy as np

    from pyspark.sql import Window

    base = emb.select("vec_id", "embedding")

    # --- build: sample-fit centroids (driver sees <= MAX_FIT_ROWS rows) ---
    n_total = base.count()
    frac = min(1.0, MAX_FIT_ROWS / max(n_total, 1))
    sample = base.sample(False, frac, seed=42).limit(MAX_FIT_ROWS).toPandas()
    sample = sample.sort_values("vec_id")
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    rng = np.random.RandomState(42)
    cent = mat_n[rng.choice(len(mat_n), size=min(n_clusters, len(mat_n)), replace=False)]
    for _ in range(5):
        assign = (mat_n @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = mat_n[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / np.linalg.norm(m)
    b_cent = spark.sparkContext.broadcast(cent)

    # --- assign: distributed list assignment + probe fan-out ---
    def assign_and_probe(batches):
        cent_ = b_cent.value
        for pdf in batches:
            q = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            scores = q @ cent_.T
            home = scores.argmax(axis=1).astype(np.int32)
            probes = np.argsort(-scores, axis=1)[:, :n_probe].astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": np.asarray(pdf["vec_id"], dtype=np.int64),
                    "emb_n": list(q),
                    "list_id": home,
                    "probes": list(probes),
                }
            )

    assigned = base.mapInPandas(
        assign_and_probe,
        schema="vec_id long, emb_n array<double>, list_id int, probes array<int>",
    )
    # both cogroup sides (members + probe fan-out) read `assigned`; without
    # a materialization barrier each side re-runs the assignment pass
    # (mapInPandas has no exchange for Catalyst to reuse)
    assigned = assigned.localCheckpoint()
    members = assigned.select("list_id", F.col("vec_id").alias("m_id"), "emb_n")
    queries = assigned.select(
        "vec_id", F.col("emb_n").alias("q_emb"),
        F.explode("probes").alias("list_id"),
    )

    # --- search: per-list GEMM via cogrouped applyInPandas ---
    def score_list(qdf: pd.DataFrame, mdf: pd.DataFrame) -> pd.DataFrame:
        if qdf.empty or mdf.empty:
            return pd.DataFrame({"vec_id": [], "nn_id": [], "sim": []}).astype(
                {"vec_id": "int64", "nn_id": "int64", "sim": "float64"}
            )
        qm = np.vstack(qdf["q_emb"].to_numpy())
        mm = np.vstack(mdf["emb_n"].to_numpy())
        qids = qdf["vec_id"].to_numpy()
        mids = mdf["m_id"].to_numpy()
        sims = qm @ mm.T
        sims[qids[:, None] == mids[None, :]] = -np.inf  # exclude self
        out_v, out_n, out_s = [], [], []
        kk = min(k, sims.shape[1])
        for row in range(len(qids)):
            order = np.lexsort((mids, -sims[row]))[:kk]
            for j in order:
                if np.isfinite(sims[row, j]):
                    out_v.append(qids[row])
                    out_n.append(mids[j])
                    out_s.append(float(sims[row, j]))
        return pd.DataFrame({"vec_id": out_v, "nn_id": out_n, "sim": out_s})

    per_list = (
        queries.groupBy("list_id")
        .cogroup(members.groupBy("list_id"))
        .applyInPandas(score_list, schema="vec_id long, nn_id long, sim double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return (
        per_list.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("vec_id", "nn_id", F.round("sim", 4).alias("sim"))
    )


@register(
    "sim_knn_ivf",
    section="2.9",
    oracle=None,
    notes="IVF(16 lists, probe 4) approximate top-1; recall vs exact kNN "
    "asserted in tests/test_similarity.py",
)
def sim_knn_ivf(spark, sf_dir):
    return ivf_knn(spark, table(spark, sf_dir, "embeddings"))


def pq_knn(spark, emb, m: int = 8, ksub: int = 256, k: int = 1):
    """Product-quantization approximate kNN: the compressed-index path.

    Build: split the d-dim space into `m` subspaces and fit `ksub`
    codewords per subspace with k-means on a bounded deterministic
    sample (<= MAX_FIT_ROWS rows reach the driver). Encode: every
    vector compresses distributedly (mapInPandas against the broadcast
    codebooks) to m uint8 codes — 8 bytes instead of 256/512, a 32-64x
    smaller index, which is the point: the broadcast that stops fitting
    as raw floats keeps fitting as codes. Search: classic ADC — each
    probe batch builds one (m x ksub) lookup table of query-subvector x
    codeword dot products, and scores the whole index with m gathers;
    the reconstructed-vector norm (exact from the codes, since subspaces
    concatenate) turns the dot into a cosine. Recall vs exact kNN is
    asserted in tests/test_similarity.py."""
    import numpy as np

    base = emb.select("vec_id", "embedding")

    # --- build: sample-fit per-subspace codebooks ---
    n_total = base.count()
    frac = min(1.0, MAX_FIT_ROWS / max(n_total, 1))
    sample = base.sample(False, frac, seed=42).limit(MAX_FIT_ROWS).toPandas()
    sample = sample.sort_values("vec_id")
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    d = mat.shape[1]
    dsub = d // m
    rng = np.random.RandomState(42)
    books = []
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cb = sub[rng.choice(len(sub), size=min(ksub, len(sub)), replace=False)].copy()
        sub_sq = (sub**2).sum(axis=1, keepdims=True)
        for _ in range(8):
            # ||a-b||^2 = ||a||^2 - 2ab + ||b||^2 via matmul: ~50x the
            # broadcast-subtract formulation at fit size (argmin is
            # translation-invariant, the constant ||a||^2 term included
            # only for clarity)
            d2 = sub_sq - 2.0 * (sub @ cb.T) + (cb**2).sum(axis=1)[None, :]
            assign = d2.argmin(axis=1)
            # vectorized centroid update: the 256-way per-centroid mask
            # loop cost ~0.9 s of single-threaded driver time per build
            # (ksub x iters x m = 16k O(n) masks); scatter-add + bincount
            # is one O(n) pass per iteration
            counts = np.bincount(assign, minlength=len(cb))
            sums = np.zeros_like(cb)
            np.add.at(sums, assign, sub)
            nz = counts > 0
            cb[nz] = sums[nz] / counts[nz, None]
        books.append(cb)
    b_books = spark.sparkContext.broadcast(np.asarray(books))

    # --- encode: distributed compression to m codes per vector ---
    def encode(batches):
        bks = b_books.value
        for pdf in batches:
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                cb = bks[j]
                d2 = -2.0 * (sub @ cb.T) + (cb**2).sum(axis=1)[None, :]
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": np.asarray(pdf["vec_id"], dtype=np.int64),
                 "codes": list(codes)}
            )

    encoded = base.mapInPandas(encode, schema="vec_id long, codes array<int>")

    # --- index: broadcast the COMPRESSED representation (m bytes/vector) ---
    local = encoded.toPandas().sort_values("vec_id")
    idx_ids = np.asarray(local["vec_id"], dtype=np.int64)
    idx_codes = np.vstack(local["codes"].to_numpy()).astype(np.int32)
    bks = np.asarray(books)
    # exact reconstructed norms from the codes (subspaces concatenate)
    sub_norm2 = (bks**2).sum(axis=2)  # (m, ksub)
    recon_norm = np.sqrt(
        sum(sub_norm2[j][idx_codes[:, j]] for j in range(m))
    )
    sc = spark.sparkContext
    b_ids = sc.broadcast(idx_ids)
    b_codes = sc.broadcast(idx_codes)
    b_norm = sc.broadcast(recon_norm)

    # --- search: ADC, m gathers per probe batch ---
    def top1(batches):
        bks_ = b_books.value
        ids_ = b_ids.value
        codes_ = b_codes.value
        norm_ = b_norm.value
        for pdf in batches:
            q = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            acc = np.zeros((len(q), len(ids_)))
            for j in range(m):
                lut = q[:, j * dsub : (j + 1) * dsub] @ bks_[j].T  # (Q, ksub)
                acc += lut[:, codes_[:, j]]
            sims = acc / norm_[None, :]
            qids = np.asarray(pdf["vec_id"], dtype=np.int64)
            sims[qids[:, None] == ids_[None, :]] = -np.inf
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": qids,
                    "nn_id": ids_[best],
                    "sim": np.round(sims[np.arange(len(best)), best], 4),
                }
            )

    return base.mapInPandas(top1, schema="vec_id long, nn_id long, sim double")


@register(
    "sim_knn_pq",
    section="2.9",
    oracle=None,
    notes="product-quantization approximate top-1 (m=8 subspaces x 256 "
    "codewords, ADC search over the 32x-compressed broadcast index); "
    "recall vs exact kNN asserted in tests/test_similarity.py",
)
def sim_knn_pq(spark, sf_dir):
    return pq_knn(spark, table(spark, sf_dir, "embeddings"))


@register(
    "emb_hard_negatives",
    section="2.9",
    oracle="""
    WITH v AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    n AS (SELECT vec_id, label, e,
                 SQRT(list_aggregate(list_transform(e, x -> x * x), 'sum'))
                   AS nrm
          FROM v),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, b.label AS neg_label,
                 list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
          FROM n a JOIN n b
            ON a.vec_id <> b.vec_id AND a.label <> b.label)
    SELECT id_a AS vec_id, id_b AS hard_neg_id, neg_label,
           ROUND(cos, 4) AS sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                    ORDER BY cos DESC, id_b) AS rn FROM p)
    WHERE rn = 1
    """,
    notes="hard-negative mining for contrastive/retrieval training: each "
    "vector's MOST similar OTHER-LABEL vector — the negative that "
    "actually teaches the model. Same broadcast block-matmul as "
    "sim_knn, with the label mask applied inside the scoring batch "
    "(labels ride in the broadcast index); at corpus scale the "
    "candidate set comes from the ANN index (sim_knn_ivf/pq) and the "
    "label filter is unchanged",
)
def emb_hard_negatives(spark, sf_dir):
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    idx = emb.select("vec_id", "label", "embedding").toPandas()
    idx = idx.sort_values("vec_id")
    ids = idx["vec_id"].to_numpy(dtype=np.int64)
    labels = idx["label"].to_numpy(dtype=np.int64)
    mat = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in idx["embedding"]]
    )
    if len(mat) > MAX_INDEX_ROWS:
        raise ValueError(
            f"index {len(mat)} rows > MAX_INDEX_ROWS={MAX_INDEX_ROWS}; "
            "use the ANN candidate path"
        )
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_labels = spark.sparkContext.broadcast(labels)
    b_mat = spark.sparkContext.broadcast(mat)

    def mine(batches):
        import pandas as pd

        iids, ilab, imat = b_ids.value, b_labels.value, b_mat.value
        for pdf in batches:
            q = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ imat.T
            qids = np.asarray(pdf["vec_id"], dtype=np.int64)
            qlab = np.asarray(pdf["label"], dtype=np.int64)
            mask = (qids[:, None] == iids[None, :]) | (
                qlab[:, None] == ilab[None, :]
            )
            sims[mask] = -np.inf
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": qids,
                    "hard_neg_id": iids[best],
                    "neg_label": ilab[best],
                    "sim": np.round(sims[np.arange(len(best)), best], 4),
                }
            )

    return emb.select("vec_id", "label", "embedding").mapInPandas(
        mine,
        schema="vec_id long, hard_neg_id long, neg_label long, sim double",
    )


@register(
    "sim_mmr_rerank",
    section="2.9",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e,
                 SQRT(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
          FROM v
          WHERE SQRT(list_aggregate(list_transform(e, x -> x * x), 'sum')) > 0),
    q AS (SELECT * FROM n WHERE vec_id % 101 = 0),
    rel AS (SELECT q.vec_id AS qid, b.vec_id AS nid,
                   ROUND(list_inner_product(q.e, b.e) / (q.nrm * b.nrm), 4) AS s
            FROM q JOIN n b ON b.vec_id <> q.vec_id),
    sh AS (SELECT qid, nid, s FROM (
             SELECT qid, nid, s, ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY s DESC, nid) AS rn FROM rel)
           WHERE rn <= 20),
    ps AS (SELECT a.qid, a.nid AS na, b.nid AS nb,
                  ROUND(list_inner_product(x.e, y.e) / (x.nrm * y.nrm), 4) AS s
           FROM sh a JOIN sh b ON a.qid = b.qid AND a.nid < b.nid
           JOIN n x ON x.vec_id = a.nid JOIN n y ON y.vec_id = b.nid),
    sel1 AS (SELECT qid, nid, s FROM (
               SELECT qid, nid, s, ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY s DESC, nid) AS rn FROM sh)
             WHERE rn = 1),
    p2 AS (SELECT c.qid, c.nid, c.s,
                  MAX(ps.s) AS pen
           FROM sh c JOIN sel1 p ON p.qid = c.qid AND p.nid <> c.nid
           JOIN ps ON ps.qid = c.qid
                  AND ((ps.na = c.nid AND ps.nb = p.nid)
                    OR (ps.na = p.nid AND ps.nb = c.nid))
           GROUP BY 1, 2, 3),
    sel2 AS (SELECT qid, nid, s FROM (
               SELECT qid, nid, s, ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY s - pen DESC, nid) AS rn FROM p2)
             WHERE rn = 1),
    s12 AS (SELECT qid, nid FROM sel1 UNION ALL SELECT qid, nid FROM sel2),
    p3 AS (SELECT c.qid, c.nid, c.s, MAX(ps.s) AS pen
           FROM sh c JOIN s12 p ON p.qid = c.qid
           JOIN ps ON ps.qid = c.qid
                  AND ((ps.na = c.nid AND ps.nb = p.nid)
                    OR (ps.na = p.nid AND ps.nb = c.nid))
           WHERE NOT EXISTS (SELECT 1 FROM s12 z
                             WHERE z.qid = c.qid AND z.nid = c.nid)
           GROUP BY 1, 2, 3),
    sel3 AS (SELECT qid, nid, s FROM (
               SELECT qid, nid, s, ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY s - pen DESC, nid) AS rn FROM p3)
             WHERE rn = 1),
    s13 AS (SELECT * FROM s12 UNION ALL SELECT qid, nid FROM sel3),
    p4 AS (SELECT c.qid, c.nid, c.s, MAX(ps.s) AS pen
           FROM sh c JOIN s13 p ON p.qid = c.qid
           JOIN ps ON ps.qid = c.qid
                  AND ((ps.na = c.nid AND ps.nb = p.nid)
                    OR (ps.na = p.nid AND ps.nb = c.nid))
           WHERE NOT EXISTS (SELECT 1 FROM s13 z
                             WHERE z.qid = c.qid AND z.nid = c.nid)
           GROUP BY 1, 2, 3),
    sel4 AS (SELECT qid, nid, s FROM (
               SELECT qid, nid, s, ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY s - pen DESC, nid) AS rn FROM p4)
             WHERE rn = 1),
    s14 AS (SELECT * FROM s13 UNION ALL SELECT qid, nid FROM sel4),
    p5 AS (SELECT c.qid, c.nid, c.s, MAX(ps.s) AS pen
           FROM sh c JOIN s14 p ON p.qid = c.qid
           JOIN ps ON ps.qid = c.qid
                  AND ((ps.na = c.nid AND ps.nb = p.nid)
                    OR (ps.na = p.nid AND ps.nb = c.nid))
           WHERE NOT EXISTS (SELECT 1 FROM s14 z
                             WHERE z.qid = c.qid AND z.nid = c.nid)
           GROUP BY 1, 2, 3),
    sel5 AS (SELECT qid, nid, s FROM (
               SELECT qid, nid, s, ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY s - pen DESC, nid) AS rn FROM p5)
             WHERE rn = 1),
    allsel AS (SELECT qid, nid, s, 1 AS rnk FROM sel1
               UNION ALL SELECT qid, nid, s, 2 FROM sel2
               UNION ALL SELECT qid, nid, s, 3 FROM sel3
               UNION ALL SELECT qid, nid, s, 4 FROM sel4
               UNION ALL SELECT qid, nid, s, 5 FROM sel5)
    SELECT qid AS vec_id, CAST(rnk AS BIGINT) AS rnk,
           nid AS sel_id, s AS rel
    FROM allsel
    """,
    notes="Maximal-marginal-relevance re-rank (lambda = 0.5, k = 5 over "
    "a top-20 relevance shortlist) — the diversity-aware selection "
    "every RAG retrieval stack runs after ANN: greedily pick the "
    "candidate maximizing rel - max_sim_to_already_picked. The greedy "
    "loop is per-probe-local (k x shortlist numpy ops inside one "
    "mapInPandas pass over the broadcast index — the iteration never "
    "touches the cluster), so 'iterative' costs nothing distributed. "
    "The oracle UNROLLS all five greedy steps as chained CTEs over "
    "the same ROUND(cos,4)+id tie-break sims, certifying the greedy "
    "semantics step by step. Shortlist-then-rerank is also the 100 TB "
    "shape: MMR over a 20-item list is O(k*20) per query regardless "
    "of corpus size",
)
def sim_mmr_rerank(spark, sf_dir):
    K, SHORT = 5, 20
    e, b_ids, b_mat = _broadcast_index(spark, sf_dir)
    probes = e.where(F.col("vec_id") % 101 == 0)

    def mmr(batches):
        import numpy as np
        import pandas as pd

        ids = b_ids.value
        full = b_mat.value
        for pdf in batches:
            q = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            rel_all = np.round(qn @ full.T, 4)
            qids = np.asarray(pdf["vec_id"], dtype=np.int64)
            out = []
            for i, qid in enumerate(qids):
                mask = ids != qid
                cand_ids = ids[mask]
                rel = rel_all[i][mask]
                order = np.lexsort((cand_ids, -rel))[:SHORT]
                sids, srel = cand_ids[order], rel[order]
                svecs = full[mask][order]
                pair = np.round(svecs @ svecs.T, 4)
                chosen: list[int] = []
                for rnk in range(1, min(K, len(sids)) + 1):
                    best_j, best_key = -1, None
                    for j in range(len(sids)):
                        if j in chosen:
                            continue
                        pen = max((pair[j, c] for c in chosen), default=0.0)
                        key = (-(srel[j] - pen), sids[j])
                        if best_key is None or key < best_key:
                            best_j, best_key = j, key
                    chosen.append(best_j)
                    out.append((qid, rnk, int(sids[best_j]), float(srel[best_j])))
            yield pd.DataFrame(
                out, columns=["vec_id", "rnk", "sel_id", "rel"]
            )

    return probes.select("vec_id", "embedding").mapInPandas(
        mmr, schema="vec_id long, rnk long, sel_id long, rel double"
    )


# ---------------------------------------------------------------------------
# sim_maxsim — ColBERT-style late-interaction retrieval
# ---------------------------------------------------------------------------

_MS_QMOD = 125  # query set: vec_id % _MS_QMOD == 0 ...
_MS_QMAX = 100_000  # ... below this id bound: the query WORKLOAD is
# fixed (a bounded id range covers every fixture SF), only the
# CANDIDATE corpus grows with data — so MaxSim cost is queries x
# corpus, linear in data, matching how late interaction deploys
# (a bounded query stream against a growing index)
_MS_QCAP = 10_000  # fail-fast cap on the driver-side query workload
# (the id bound above keeps it <= _MS_QMAX/_MS_QMOD = 800 by design;
# the cap catches a workload-definition change, never fires in normal use)
_MS_CHUNKS = 4  # 64-d embedding read as 4 "token vectors"...
_MS_DIM = 16  # ...of 16 dims each
_MS_TOPK = 3


@register(
    "sim_maxsim",
    section="2.9",
    oracle=f"""
    WITH tok AS (
      SELECT vec_id, label, u.t AS t,
             list_transform(
               embedding[(u.t * {_MS_DIM} + 1):(u.t * {_MS_DIM} + {_MS_DIM})],
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS tv
      FROM embeddings, (SELECT UNNEST([0, 1, 2, 3]) AS t) u),
    q AS (SELECT * FROM tok
          WHERE vec_id % {_MS_QMOD} = 0 AND vec_id < {_MS_QMAX}),
    c AS (SELECT * FROM tok
          WHERE vec_id % {_MS_QMOD} <> 0 OR vec_id >= {_MS_QMAX}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.t AS qt,
             MAX(CAST(list_inner_product(q.tv, c.tv) AS BIGINT)) AS mx
      FROM q JOIN c ON q.label = c.label
      GROUP BY 1, 2, 3),
    score AS (
      SELECT query_id, cand_id, CAST(SUM(mx) AS BIGINT) AS maxsim
      FROM dots GROUP BY 1, 2),
    rk AS (
      SELECT query_id, cand_id, maxsim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY maxsim DESC, cand_id)
                  AS BIGINT) AS rank
      FROM score)
    SELECT query_id, rank, cand_id, maxsim
    FROM rk WHERE rank <= {_MS_TOPK}
    ORDER BY query_id, rank
    """,
    notes=f"ColBERT-style late-interaction retrieval: each 64-d "
    f"embedding is read as {_MS_CHUNKS} 'token vectors' of {_MS_DIM} "
    f"dims, micro-quantized (FLOOR(x*1e6) — float32->double is exact, "
    f"the multiply is one shared IEEE op), and the MaxSim score is "
    f"sum over QUERY tokens of max over CANDIDATE tokens of the "
    f"integer dot product — exact BIGINTs end to end (|x|<=5e5 micro "
    f"units keeps a 16-dot under 4e12, the 4-term sum under 2e13). "
    f"Queries are vec_id % {_MS_QMOD} == 0; candidates the same "
    f"coarse label (rerank-within-bucket, exactly how late "
    f"interaction deploys behind an ANN candidate generator); top-"
    f"{_MS_TOPK} per query, ties by cand_id. The multi-vector member "
    f"of the §2.9 ladder: sim_knn scores one dot per pair, MaxSim "
    f"scores token alignments",
)
def sim_maxsim(spark, sf_dir):
    """Broadcast the (tiny) query token tensors; each candidate
    partition scores its rows against every same-label query in one
    vectorized int64 einsum and emits only its LOCAL top-k per query
    (partial top-k, the TakeOrderedAndProject discipline), so the
    global window ranks k x partitions rows per query, never the
    corpus. At 100 TB the candidate side streams map-side; only the
    query tensor set must fit in a broadcast."""
    import numpy as np

    e = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    q = e.where(
        ((F.col("vec_id") % _MS_QMOD) == 0) & (F.col("vec_id") < _MS_QMAX)
    )
    # Fenced driver-side materialization (see tests/test_driver_fence.py):
    # the id bound pins the workload at <= _MS_QMAX/_MS_QMOD rows at ANY
    # corpus scale, and the cap fails fast (instead of OOMing the
    # driver) if the workload definition ever loses that bound — the
    # _broadcast_index MAX_INDEX_ROWS discipline.
    nq = q.count()
    if nq > _MS_QCAP:
        raise ValueError(
            f"sim_maxsim query workload has {nq} rows > _MS_QCAP={_MS_QCAP}; "
            "the broadcast query-tensor pattern no longer fits — shrink "
            "the workload bound or move to a bucketed query-side join"
        )
    qrows = q.toPandas()

    def tensor(v):
        arr = np.asarray(v, dtype=np.float64)
        return np.floor(arr * 1e6).astype(np.int64).reshape(_MS_CHUNKS, _MS_DIM)

    by_label: dict = {}
    for _, row in qrows.iterrows():
        by_label.setdefault(int(row["label"]), []).append(
            (int(row["vec_id"]), tensor(row["embedding"]))
        )
    bq = spark.sparkContext.broadcast(by_label)
    topk = _MS_TOPK
    qmod = _MS_QMOD
    qmax = _MS_QMAX
    chunks, dim = _MS_CHUNKS, _MS_DIM

    def score(batches):
        import numpy as np
        import pandas as pd

        queries = bq.value
        for pdf in batches:
            out_q, out_c, out_s = [], [], []
            labels = pdf["label"].astype(int)
            for lab in labels.unique():
                qs = queries.get(int(lab))
                if not qs:
                    continue
                sub = pdf[labels == lab]
                cids = np.asarray(sub["vec_id"], dtype=np.int64)
                keep = (cids % qmod != 0) | (cids >= qmax)
                if not keep.any():
                    continue
                cids = cids[keep]
                mats = np.stack(
                    [
                        np.floor(np.asarray(v, dtype=np.float64) * 1e6)
                        .astype(np.int64)
                        .reshape(chunks, dim)
                        for v in sub["embedding"][keep]
                    ]
                )
                for qid, qt in qs:
                    # dots[c, i, j] = qt[i] . mats[c, j]
                    dots = np.einsum("ik,cjk->cij", qt, mats)
                    scores = dots.max(axis=2).sum(axis=1)
                    order = np.lexsort((cids, -scores))[:topk]
                    out_q.extend([qid] * len(order))
                    out_c.extend(cids[order].tolist())
                    out_s.extend(scores[order].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "maxsim": out_s}
            )

    from pyspark.sql import Window

    partial = e.mapInPandas(
        score, schema="query_id long, cand_id long, maxsim long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("cand_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= topk)
        .select("query_id", "rank", "cand_id", "maxsim")
        .orderBy("query_id", "rank")
    )
