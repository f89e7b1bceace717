"""Similarity search over embedding columns (``array<float>``).

Two paths, per the 100 TB design brief:
- **Brute-force cosine top-k** — the exact baseline. One broadcast of the
  probe vector, one map-side cosine per row (JVM ``aggregate``/``zip_with``
  expressions — no Python in the row path), then ``TakeOrderedAndProject``
  (per-partition top-k, never a global sort).
- **IVF (inverted-file) top-k** — the scale path: vectors are assigned to
  coarse centroids once (an O(n·C) map pass, cacheable); a probe scans only
  the ``nprobe`` nearest clusters, cutting the scan by ~C/nprobe. Centroids
  come from an MLlib KMeans fit over L2-normalized vectors (spherical
  approximation: Euclidean KMeans on unit vectors optimizes the same
  objective as max-cosine assignment), seeded for determinism.

All double math is sequential left-fold (``aggregate``), matching the
element order the DuckDB oracle uses, and similarities are rounded before
ranking with a vec_id tiebreak so top-k boundaries are engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import content_stamp

# Sequential left-fold dot product / norm over array<double> columns —
# bit-identical to DuckDB's list_sum(list_transform(...)) evaluation order.
def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )


def _to_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def cosine_expr(a: str, b: str) -> F.Column:
    """NULL on a zero-norm operand (try_divide): ANSI Spark would throw
    DIVIDE_BY_ZERO on an all-zero embedding while DuckDB's x/0 yields
    NULL — try_divide matches the oracle, and every consumer filters or
    thresholds NULL cosines identically on both sides."""
    dot = _dot(a, b)
    na = F.sqrt(_dot(a, a))
    nb = F.sqrt(_dot(b, b))
    return F.try_divide(dot, na * nb)


def quant6(col: F.Column) -> F.Column:
    """Floor-quantize a similarity to 1e-6 — deterministic across engines
    on bit-identical doubles (round() is not, at half boundaries); floor
    toward -inf is also sign-safe for negative cosines."""
    return F.floor(col * 1000000.0) / 1000000.0


# Dimension-agnostic on purpose: a hardcoded range(1, 65) would silently
# truncate the dot product if the driver regenerates embeddings at a
# different dim (DuckDB treats out-of-range list indexes as NULL and
# list_sum skips NULLs — no error, just wrong cosines). The Spark side
# (aggregate/zip_with) is length-driven already; len(va) keeps parity.
SQL_COSINE = (
    "list_sum(list_transform(range(1, len(va)+1), i -> va[i] * vb[i]))"
    " / (sqrt(list_sum(list_transform(range(1, len(va)+1), i -> va[i] * va[i])))"
    " * sqrt(list_sum(list_transform(range(1, len(vb)+1), i -> vb[i] * vb[i]))))"
)


def brute_force_topk(
    embeddings: DataFrame, probe_vec_id: int, k: int = 10
) -> DataFrame:
    """Exact cosine top-k for one probe vector (excluding itself)."""
    emb = embeddings.select(
        "vec_id", _to_double("embedding").alias("v")
    )
    probe = emb.filter(F.col("vec_id") == probe_vec_id).select(
        F.col("v").alias("pv")
    )
    # Loud failure parity with ivf_topk: a stale/typo'd probe id would
    # otherwise cross-join against zero rows and come back silently
    # empty. An EMPTY corpus is different — no probe can exist and the
    # top-k over nothing is legitimately nothing.
    if probe.limit(1).count() == 0:
        if embeddings.limit(1).count() == 0:
            return emb.select(
                "vec_id", F.lit(0.0).cast("double").alias("cosine")
            )
        raise ValueError(f"probe vec_id {probe_vec_id} not found")
    scored = (
        emb.filter(F.col("vec_id") != probe_vec_id)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            quant6(cosine_expr("v", "pv")).alias("cosine"),
        )
        # zero-norm vectors score NULL (cosine_expr) — drop them HERE,
        # mirrored by the oracle's IS NOT NULL wrapper, instead of
        # trusting both engines' null-ordering defaults to agree
        .filter(F.col("cosine").isNotNull())
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def two_stage_topk(scored: DataFrame, key_col: str, k: int) -> DataFrame:
    """Distributed top-k per key WITHOUT shuffling every scored row into a
    window: stage 1 keeps a per-(key, input-partition) top-k via
    ``array_sort + slice`` over grouped structs (state ≤ partition rows,
    output ≤ k per group); stage 2 merges the ≤ k·P partials per key.
    Only k·P candidate structs per key ever cross an exchange — a single
    ``row_number`` window would shuffle the full scored set instead.

    ``scored`` must have columns (key_col, vec_id, cosine). Struct sort is
    ascending field-by-field, so (-cosine, vec_id) ascending == cosine
    descending with a deterministic vec_id tie-break."""
    cand = F.struct(
        (-F.col("cosine")).alias("nc"),
        F.col("vec_id").alias("vec_id"),
        F.col("cosine").alias("cosine"),
    )
    partial = (
        scored.withColumn("part", F.spark_partition_id())
        .groupBy(key_col, "part")
        .agg(F.slice(F.array_sort(F.collect_list(cand)), 1, k).alias("top"))
    )
    merged = partial.groupBy(key_col).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("top"))), 1, k
        ).alias("top")
    )
    return merged.select(key_col, F.explode("top").alias("e")).select(
        key_col, "e.vec_id", "e.cosine"
    )


def _train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    train_cap: int = 100_000,
):
    """Fit IVF coarse centroids (spherical KMeans over L2-normalized
    vectors — unit vectors make Euclidean KMeans equivalent to max-cosine
    clustering). Returns a numpy ``(n_centroids, dim)`` array of unit
    centroids; at production scale the fit is run once and persisted, not
    per query.

    The quantizer trains DRIVER-SIDE on a bounded, deterministic sample
    (first ``train_cap`` vectors by id — ``orderBy+limit`` compiles to
    ``TakeOrderedAndProject``, not a full sort) with spherical Lloyd
    iterations in numpy — exactly how FAISS trains IVF coarse quantizers
    (a sample of ~30-256 vectors per centroid; full-corpus distributed
    fits buy no pruning quality and cost one Spark job per Lloyd
    iteration). The collect here is capped by ``train_cap`` BY
    CONSTRUCTION — it is a sample-train, never a corpus materialization.

    Returns ``(centroids, sample_rows)`` — the sample rides along so a
    caller that also needs a vector lookup (ivf_topk's probe) reuses the
    one collect instead of duplicating the training recipe."""
    sample = (
        emb.orderBy("vec_id").limit(train_cap).select("vec_id", "v").collect()
    )
    return _lloyd([r["v"] for r in sample], n_centroids, seed), sample


def _lloyd(vectors, n_centroids: int, seed: int):
    """Spherical Lloyd iterations over raw vectors → unit-norm centroids
    (numpy ``(n_centroids, dim)``)."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    X = X / norms
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(10):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        cn[cn == 0.0] = 1.0
        C = C / cn
    return C


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    train_cap: int = 100_000,
) -> DataFrame:
    """DataFrame view of :func:`_train_centroids` — tiny (cid, cv), meant
    to be broadcast when a join-shaped consumer needs it."""
    C, _ = _train_centroids(emb, n_centroids, seed, train_cap)
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(C)]
    return emb.sparkSession.createDataFrame(
        centers, "cid int, cv array<double>"
    )


def _fold_dot(a, b) -> float:
    """Sequential left-fold dot product — bit-identical to the JVM
    ``aggregate(zip_with(...))`` expression (numpy's pairwise/SIMD
    summation can differ in the last ulp, which matters because cluster
    choice compares quant6-floored cosines)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


#: Trained coarse quantizers, keyed by (corpus_key, n_centroids, seed).
#: An IVF index is a PERSISTED artifact in any real deployment (FAISS
#: writes it to disk; a 100 TB corpus trains it once per ingest, not per
#: query) — re-fitting per probe would be the wrong design at any scale.
#: Opt-in via ``corpus_key`` because a DataFrame alone can't tell the
#: engine whether its underlying corpus changed — build the key with
#: :func:`corpus_cache_key` so a regenerated corpus invalidates it.
_CENTROID_CACHE: dict = {}


def clear_centroid_cache() -> None:
    """Drop every cached coarse quantizer (test/maintenance hook)."""
    _CENTROID_CACHE.clear()


def corpus_cache_key(path: str, label: str = "") -> str | None:
    """Build a ``corpus_key`` bound to the on-disk corpus CONTENT, not
    just its path: the corpus's :func:`catalog.content_stamp` (every
    member file's, for a directory, Hive-partitioned subdirectories
    included) is folded in, so regenerating a fixture in place retrains
    the quantizer instead of silently serving stale centroids (a
    long-lived bench/pytest process would otherwise never notice).
    ``None`` when the path has no stamp (missing, or an object store:
    a deployment there would fold in the listing's ETags) — the index
    callers then train uncached."""
    stamp = content_stamp(path)
    return None if stamp is None else repr((label or path, stamp))


def ivf_topk(
    embeddings: DataFrame,
    probe_vec_id: int,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    corpus_key: str | None = None,
) -> DataFrame:
    """IVF-pruned cosine top-k: assign every vector to its max-cosine
    centroid, search only the probe's ``nprobe`` best clusters.

    Plan shape (the scale story): centroids and the probe vector are tiny
    and known driver-side, so assignment + scoring is ONE Arrow-batched
    ``mapInPandas`` pass over the corpus — per batch, one numpy matmul
    ``V @ Cᵀ`` scores every vector against every centroid, ``argmax``
    picks the assigned cluster (first occurrence = lowest cid, the same
    tie-break as the previous window-rank formulation), rows outside the
    probe's clusters are dropped INSIDE the batch (so only candidates
    cross back over Arrow), and ``TakeOrderedAndProject`` takes the
    top-k. No row explosion, no shuffle, no repeated assignment subplan —
    the previous formulation (16× crossJoin + per-vec_id window rank,
    executed once per consuming branch) cost 3 shuffled jobs where this
    costs one scan. (A pure-JVM variant with centroids as literal arrays
    was measured 3× slower: Catalyst analysis of the 1024-literal
    expression tree per invocation dominates at any data size.) The
    training sample doubles as the probe-vector lookup when the probe id
    falls inside it.
    """
    import math

    import numpy as np

    # A NULL vector is a missing embedding: it can neither train the
    # quantizer (np.asarray over a sample containing None is
    # inhomogeneous — the round-13 file-layout axis's all-NULL-column
    # part file crashed exactly there) nor score in the batch matmul —
    # excluded from the index outright, matching the brute-force path
    # where a NULL embedding's cosine is NULL and filtered.
    emb = embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id", _to_double("embedding").alias("v")
    )
    if emb.limit(1).count() == 0:
        # empty corpus: nothing to train on, nothing to search — the
        # index build is a no-op and the result relation is empty
        return emb.select(
            "vec_id",
            F.lit(0.0).cast("double").alias("cosine"),
            F.lit(0).cast("int").alias("cid"),
        )
    ckey = (corpus_key, n_centroids, seed) if corpus_key else None
    pv = None
    if ckey is not None and ckey in _CENTROID_CACHE:
        C = _CENTROID_CACHE[ckey]
    else:
        # One recipe, one collect: _train_centroids owns the sampling
        # contract and hands back the sample for the probe lookup below.
        C, sample = _train_centroids(emb, n_centroids, seed)
        if ckey is not None:
            _CENTROID_CACHE[ckey] = C
        pv = next(
            (
                [float(x) for x in r["v"]]
                for r in sample
                if r["vec_id"] == probe_vec_id
            ),
            None,
        )
    if pv is None:  # probe outside the deterministic training sample
        probe_rows = (
            emb.filter(F.col("vec_id") == probe_vec_id).select("v").collect()
        )
        if not probe_rows:
            raise ValueError(f"probe vec_id {probe_vec_id} not found")
        pv = [float(x) for x in probe_rows[0]["v"]]

    # Probe→cluster ranking, driver-side with left-fold math so the quant6
    # floors land exactly where the JVM expression would put them.
    pn = math.sqrt(_fold_dot(pv, pv))
    ranked = []
    for cid, c in enumerate(C):
        cos = _fold_dot(pv, c) / pn  # centroids are unit-norm
        ranked.append((math.floor(cos * 1000000.0) / 1000000.0, cid))
    ranked.sort(key=lambda t: (-t[0], t[1]))
    probe_cids = np.asarray(
        [cid for _, cid in ranked[:nprobe]], dtype=np.int64
    )

    CT = np.ascontiguousarray(np.asarray(C, dtype=np.float64).T)
    pv_np = np.asarray(pv, dtype=np.float64)
    pv_norm = float(np.linalg.norm(pv_np))
    probe_id = probe_vec_id

    # Numeric-drift contract (deliberate, documented): the PROBE-side
    # cluster ranking above uses sequential left-fold math so nprobe
    # selection is stable against the JVM-expression formulation this
    # operator evolved from. The CORPUS-side batch scorer below uses
    # numpy matmul, whose pairwise/SIMD summation can differ from a
    # left-fold in the last ulp — at a quant6 floor boundary that can
    # flip a vector's cluster assignment or final-rank tie. This is
    # within the key's contract: IVF results are rows-only (approximate
    # by design, no hash oracle) and recall-tested with tolerance; a
    # fold-consistent batch reduction would cost the vectorization that
    # makes this the scale path (python-loop folds per row, ~100×).
    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            nv = np.linalg.norm(V, axis=1)
            nv[nv == 0.0] = 1.0
            cscores = np.floor(
                (V @ CT) / nv[:, None] * 1000000.0
            ) / 1000000.0
            cid = cscores.argmax(axis=1)  # first max = lowest cid
            keep = np.isin(cid, probe_cids) & (
                pdf["vec_id"].to_numpy() != probe_id
            )
            cosine = (
                np.floor((V @ pv_np) / (nv * pv_norm) * 1000000.0)
                / 1000000.0
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "cosine": cosine[keep],
                    "cid": cid[keep].astype("int32"),
                }
            )

    return (
        emb.mapInPandas(score_batches, "vec_id long, cosine double, cid int")
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


# --------------------------------------------------------------------- PQ

#: Trained PQ codebooks, keyed by (corpus_key, m, ksub, seed) — the same
#: persisted-index contract as _CENTROID_CACHE (see its comment).
_PQ_CACHE: dict = {}


def clear_pq_cache() -> None:
    """Drop every cached PQ codebook (test/maintenance hook)."""
    _PQ_CACHE.clear()


def _train_pq_codebooks(emb, m: int, ksub: int, seed: int, train_cap: int):
    """Fit product-quantization codebooks FAISS-style: L2-normalize the
    training vectors, split the dimension into ``m`` contiguous
    subspaces, and run plain-L2 Lloyd per subspace (``ksub`` centroids
    each). Same bounded driver-side sample-train contract as
    :func:`_train_centroids` — at 100 TB the codebooks are a persisted
    index artifact trained once per ingest, a few KB in size.

    Returns ``(codebooks, sample)``: numpy ``(m, ksub, dim//m)`` plus the
    training sample rows for probe-vector reuse."""
    import numpy as np

    sample = (
        emb.orderBy("vec_id").limit(train_cap).select("vec_id", "v").collect()
    )
    X = np.asarray([r["v"] for r in sample], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    X = X / norms
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)]
        for _ in range(10):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, : len(C)] = C
        if len(C) < ksub:  # degenerate tiny corpus: pad with copies
            books[j, len(C):] = C[0]
    return books, sample


def pq_topk(
    embeddings: DataFrame,
    probe_vec_id: int,
    k: int = 10,
    m: int = 16,
    ksub: int = 64,
    refine: int = 8,
    seed: int = 7,
    corpus_key: str | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k with asymmetric-distance scoring
    and exact re-ranking — the memory-bound scale path of the similarity
    family (brute force → IVF prunes *rows*, PQ compresses *bytes*).

    Plan shape: ONE Arrow-batched ``mapInPandas`` pass over the corpus
    (same no-shuffle shape as :func:`ivf_topk`). Per batch: vectors are
    L2-normalized, each subvector is assigned its nearest codebook entry
    (the 8-bit code a persisted PQ index would store — a 64-dim float
    corpus compresses 32:1 to 8 bytes/vector), the approximate cosine is
    ``sum_j LUT[j][code_j]`` where the lookup table is the probe's dot
    products against every codebook entry (m·ksub values, built
    driver-side), and only each batch's approximate top ``k*refine``
    candidates — WITH their exact cosines, computed while the full
    vectors are still in memory — cross back over Arrow. Globally:
    narrow to the best ``k*refine`` by approximate score, then rank by
    exact cosine (TakeOrderedAndProject, no global sort). Defaults are
    the measured-recall configuration for 64-dim corpora (16 subspaces
    x 64 centroids, i.e. 16:1 compression, recall@10 = 1.0 at sf0.1);
    coarser codebooks degrade sharply on near-uniform random data.

    Approximation contract (rows-only, like IVF): batch-side numpy
    pairwise/SIMD summation may differ from a JVM left-fold in the last
    ulp — tolerated BY DESIGN here, because PQ scores are lossy by
    construction and the key is recall-tested, never hash-compared
    (the ivf_topk tolerance note applies verbatim)."""
    import numpy as np

    # NULL vectors excluded for the same reason as ivf_topk (missing
    # embedding: untrainable, unscorable — see the note there).
    emb = embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id", _to_double("embedding").alias("v")
    )
    if emb.limit(1).count() == 0:
        # empty corpus: no codebooks to train, nothing to search
        return emb.select(
            "vec_id", F.lit(0.0).cast("double").alias("cosine")
        )
    ckey = (corpus_key, m, ksub, seed) if corpus_key else None
    pv = None
    if ckey is not None and ckey in _PQ_CACHE:
        books = _PQ_CACHE[ckey]
    else:
        books, sample = _train_pq_codebooks(emb, m, ksub, seed, 100_000)
        if ckey is not None:
            _PQ_CACHE[ckey] = books
        pv = next(
            (
                [float(x) for x in r["v"]]
                for r in sample
                if r["vec_id"] == probe_vec_id
            ),
            None,
        )
    if pv is None:
        probe_rows = (
            emb.filter(F.col("vec_id") == probe_vec_id).select("v").collect()
        )
        if not probe_rows:
            raise ValueError(f"probe vec_id {probe_vec_id} not found")
        pv = [float(x) for x in probe_rows[0]["v"]]

    pv_np = np.asarray(pv, dtype=np.float64)
    pn = np.linalg.norm(pv_np)
    pn = pn if pn else 1.0
    pv_unit = pv_np / pn
    dsub = len(pv) // m
    # ADC lookup table: LUT[j][c] = <probe_unit_sub_j, codebook[j][c]>.
    lut = np.einsum(
        "jd,jcd->jc", pv_unit.reshape(m, dsub), books
    )  # (m, ksub)
    n_cand = k * refine
    probe_id = probe_vec_id

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            nv = np.linalg.norm(V, axis=1)
            nv[nv == 0.0] = 1.0
            Vn = V / nv[:, None]
            Vs = Vn.reshape(len(V), m, dsub)
            # codes[i,j] = nearest codebook entry of subvector j
            # (||s-c||² = ||s||² - 2<s,c> + ||c||²; argmin over c)
            codes = np.empty((len(V), m), dtype=np.int64)
            for j in range(m):
                d2 = (
                    -2.0 * (Vs[:, j, :] @ books[j].T)
                    + (books[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            approx = lut[np.arange(m)[None, :], codes].sum(axis=1)
            mask = pdf["vec_id"].to_numpy() != probe_id
            idx = np.flatnonzero(mask)
            if len(idx) > n_cand:
                top = idx[np.argpartition(-approx[idx], n_cand - 1)[:n_cand]]
            else:
                top = idx
            exact = (
                np.floor((Vn[top] @ pv_unit) * 1000000.0) / 1000000.0
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[top],
                    "approx": approx[top],
                    "cosine": exact,
                }
            )

    scored = emb.mapInPandas(
        score_batches, "vec_id long, approx double, cosine double"
    )
    candidates = scored.orderBy(
        F.col("approx").desc(), F.col("vec_id")
    ).limit(n_cand)
    return (
        candidates.orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
        .select("vec_id", "cosine")
    )
