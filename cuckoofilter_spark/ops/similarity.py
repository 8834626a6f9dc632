"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce``: exact top-k neighbors for a query set.
  The query matrix is broadcast; each partition computes a local
  numpy matmul top-k (one Arrow pass, no per-row Python), then a
  window takes the global top-k — the classic map-side top-k + final
  reduce, linear shuffle in candidates (num_queries * k per partition).
- ``lsh_topk``: the scale path — signed-random-projection LSH buckets
  shrink the candidate set before the same exact re-scoring.
- ``embedding_neardup_pairs``: all pairs above a cosine threshold via
  the same LSH blocking (near-dup detection for training corpora).

All projections seeded -> deterministic. Ties broken by vec_id.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from ..kernels.hashing import U64, splitmix64
from ..sketch.udaf import drop_archive_finders


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.maximum(n, 1e-12)


def cosine_topk_bruteforce(
    spark: SparkSession,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k: (q_id, vec_id, cos) with rank <= k.

    Self-queries (same id) are not excluded; callers filter if needed.
    """
    qrows = queries.select(q_id_col, q_vec_col).collect()
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = _normalize(np.array([np.asarray(r[1], dtype=np.float64) for r in qrows]))
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    out_schema = T.StructType([
        T.StructField("q_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_archive_finders()
        ids, qm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vid = pdf[id_col].to_numpy(dtype=np.int64)
            mat = _normalize(np.vstack([np.asarray(v, dtype=np.float64)
                                        for v in pdf[vec_col]]))
            sims = qm @ mat.T  # (nq, nv)
            kk = min(k, mat.shape[0])
            # per query: local top-k by (cos desc, vec_id asc)
            ordkey = np.lexsort((vid[None, :].repeat(len(ids), 0), -sims), axis=1)[:, :kk]
            rows = {
                "q_id": np.repeat(ids, kk),
                "vec_id": vid[ordkey].reshape(-1),
                "cos": np.take_along_axis(sims, ordkey, axis=1).reshape(-1),
            }
            yield pd.DataFrame(rows)

    local = emb.select(id_col, vec_col).mapInPandas(local_topk, out_schema)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", F.round("cos", 4).alias("cos"), "rnk")
    )


def srp_signature_col(vec_col, dim: int, nbits: int = 16, seed: int = 0x5EED):
    """Signed-random-projection signature as a pandas-UDF Column factory.

    Returns (udf, planes): the caller may reuse ``planes`` to hash query
    vectors driver-side with the identical projection.
    """
    h = splitmix64(np.arange(nbits * dim, dtype=np.uint64) + U64(seed))
    planes = ((h.astype(np.float64) / 2.0**64) * 2.0 - 1.0).reshape(nbits, dim)

    @F.pandas_udf(T.LongType())
    def sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_archive_finders()
        bitpos = np.arange(nbits, dtype=np.uint64)
        for s in it:
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in s]) if len(s) else np.zeros((0, dim))
            proj = mat @ planes.T > 0  # (n, nbits)
            vals = (proj.astype(np.uint64) << bitpos[None, :]).sum(axis=1).astype(np.int64)
            yield pd.Series(vals)

    return sig, planes


def _srp_planes(dim: int, rows: int, seed: int) -> np.ndarray:
    """(rows, dim) deterministic pseudo-random hyperplanes — a pure
    function of (seed, dim, rows), so workers can materialize them
    lazily from the first batch's vector length and still agree
    bit-for-bit with a driver-side construction."""
    h = splitmix64(np.arange(rows * dim, dtype=np.uint64) + U64(seed))
    return ((h.astype(np.float64) / 2.0**64) * 2.0 - 1.0).reshape(rows, dim)


def srp_band_signatures(vec_col, dim: int | None, nbits: int, bands: int,
                        seed: int = 0x5EED):
    """Per-band SRP signatures as an ``array<long>`` pandas-UDF factory.

    Unlike ``srp_signature_col`` (one packed long, so nbits*bands <= 64),
    this emits ``bands`` independent ``nbits``-bit signatures, so band
    width and band count scale independently — the band-OR LSH
    construction needs wide bands (low collision rate) AND many bands
    (recall), which together exceed 64 bits. One numpy matmul + bit-pack
    per Arrow batch.

    ``dim=None`` defers plane construction to the first Arrow batch on
    each worker (planes are a pure function of seed/dim/shape, see
    ``_srp_planes``) — no driver-side ``first()`` job just to read the
    vector length.
    """
    planes0 = None if dim is None else _srp_planes(dim, bands * nbits, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_archive_finders()
        planes = planes0
        bitpos = np.arange(nbits, dtype=np.uint64)
        for s in it:
            if not len(s):
                yield pd.Series([], dtype=object)
                continue
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in s])
            if planes is None:
                planes = _srp_planes(mat.shape[1], bands * nbits, seed)
            proj = (mat @ planes.T > 0).reshape(len(s), bands, nbits)
            vals = ((proj.astype(np.uint64) << bitpos[None, None, :])
                    .sum(axis=2).astype(np.int64))
            yield pd.Series(list(vals))

    return sig


def lsh_topk(
    spark: SparkSession,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 12,
    max_hamming: int = 2,
    dim: int | None = None,
    seed: int = 0x5EED,
) -> DataFrame:
    """Approximate cosine top-k: SRP-bucket candidates within
    ``max_hamming`` signature bits of the query, exact re-score.

    Candidate volume shrinks ~2^-nbits * sum_{i<=h} C(nbits,i) per
    query vs brute force; recall measured in tests against
    cosine_topk_bruteforce.
    """
    qrows = queries.collect()
    q_ids = np.array([r["q_id"] for r in qrows], dtype=np.int64)
    q_mat = np.vstack([np.asarray(r["q_vec"], dtype=np.float64) for r in qrows])
    if dim is None:
        # queries are collected anyway (broadcast side) — read the
        # vector length there instead of running a first() job on emb
        dim = q_mat.shape[1]
    sig_udf, planes = srp_signature_col("embedding", dim, nbits, seed)
    emb_s = emb.withColumn("sig", sig_udf("embedding"))
    q_sig = ((q_mat @ planes.T > 0).astype(np.uint64)
             << np.arange(nbits, dtype=np.uint64)[None, :]).sum(axis=1).astype(np.int64)

    # enumerate all signatures within hamming radius (driver-side, small)
    from itertools import combinations

    def ball(s: int) -> list[int]:
        out = [s]
        for h in range(1, max_hamming + 1):
            for bits in combinations(range(nbits), h):
                flip = 0
                for i in bits:
                    flip |= 1 << i
                out.append(s ^ flip)
        return out

    probe = spark.createDataFrame(
        [(int(q), int(s2), [float(x) for x in q_mat[i] / max(np.linalg.norm(q_mat[i]), 1e-12)])
         for i, q in enumerate(q_ids) for s2 in set(ball(int(q_sig[i])))],
        "q_id long, sig long, q_norm array<double>")

    cand = emb_s.join(F.broadcast(probe), "sig")
    cos = (
        F.aggregate(F.zip_with("embedding", "q_norm", lambda a, b: a * b),
                    F.lit(0.0), lambda acc, x: acc + x)
        / F.greatest(F.sqrt(F.aggregate(F.transform("embedding", lambda a: a * a),
                                        F.lit(0.0), lambda acc, x: acc + x)), F.lit(1e-12))
    )
    scored = cand.select("q_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", F.round("cos", 4).alias("cos"), "rnk")
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int,
    seed: int = 0x5EED,
    sample: int = 4096,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Seeded spherical k-means coarse quantizer for IVF.

    Trains driver-side on a DETERMINISTIC sample (the ``sample`` vectors
    with smallest xxhash64(id) — order-independent, one
    TakeOrderedAndProject), so two runs and two cluster sizes produce
    identical centroids. Returns (k, dim) L2-normalized centroids.

    Scale shape: the training sample is O(sample x dim) driver bytes; k
    and sample are knobs independent of corpus size (IVF training on a
    sample is the standard construction).
    """
    rows = (emb.select(vec_col)
            .orderBy(F.xxhash64(id_col, F.lit(seed)))
            .limit(sample).collect())
    x = _normalize(np.array([np.asarray(r[0], dtype=np.float64) for r in rows]))
    k = min(k, x.shape[0])
    cent = x[:k].copy()  # deterministic init: first k by hash order
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(k):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(axis=0)
            else:  # reseed empty cluster deterministically
                cent[c] = x[(c * 2654435761) % x.shape[0]]
        cent = _normalize(cent)
    return cent


def ivf_assign_col(spark: SparkSession, centroids: np.ndarray, vec_col):
    """int Column: index of the nearest (max-dot) centroid — the IVF
    cell id. Centroids ride a broadcast; assignment is one numpy matmul
    per Arrow batch."""
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf(T.IntegerType())
    def cell(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_archive_finders()
        cent = bc.value
        for s in it:
            if not len(s):
                yield pd.Series([], dtype="int32")
                continue
            mat = _normalize(np.vstack([np.asarray(v, dtype=np.float64)
                                        for v in s]))
            yield pd.Series((mat @ cent.T).argmax(axis=1).astype(np.int32))

    return cell(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def ivf_topk(
    spark: SparkSession,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 64,
    nprobe: int = 4,
    seed: int = 0x5EED,
) -> DataFrame:
    """IVF approximate cosine top-k: coarse k-means quantizer, probe the
    ``nprobe`` nearest cells per query, exact re-score inside them.

    The scale path complementary to ``lsh_topk``: candidates per query
    ~ nprobe/n_cells of the corpus regardless of dimension, and the
    inverted lists are just a partitioning column — at rest they map to
    a partitioned/bucketed table so a query touches only its cells'
    files (partition pruning). A query vector present in the corpus is
    always found (its own cell is its nearest centroid, which is probed
    first) — the guarantee the entry-contract oracle checks.
    """
    cent = kmeans_centroids(emb, n_cells, seed=seed)
    cells = emb.withColumn("cell", ivf_assign_col(spark, cent, "embedding"))

    qrows = queries.collect()
    q_ids = np.array([r["q_id"] for r in qrows], dtype=np.int64)
    q_mat = _normalize(np.vstack([np.asarray(r["q_vec"], dtype=np.float64)
                                  for r in qrows]))
    sims = q_mat @ cent.T
    # stable sort: on exact float ties probe_cells[:, 0] must equal the
    # assignment argmax (lowest index wins in both), or the self-hit
    # guarantee the oracle encodes breaks data-dependently
    probe_cells = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    probe = spark.createDataFrame(
        [(int(q), int(c), [float(x) for x in q_mat[i]])
         for i, q in enumerate(q_ids) for c in probe_cells[i]],
        "q_id long, cell int, q_norm array<double>")

    cand = cells.join(F.broadcast(probe), "cell")
    cos = (
        F.aggregate(F.zip_with("embedding", "q_norm", lambda a, b: a * b),
                    F.lit(0.0), lambda acc, x: acc + x)
        / F.greatest(F.sqrt(F.aggregate(F.transform("embedding", lambda a: a * a),
                                        F.lit(0.0), lambda acc, x: acc + x)),
                     F.lit(1e-12))
    )
    scored = cand.select("q_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", F.round("cos", 4).alias("cos"), "rnk")
    )


def neardup_band_rows(
    emb: DataFrame,
    nbits: int,
    bands: int,
    seed: int = 0x5EED,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, band, sig) rows for the band-OR LSH blocking — the
    exploded per-band signature table ``embedding_neardup_pairs`` joins
    on. Exposed so tests can measure candidate volume directly."""
    sig_udf = srp_band_signatures(vec_col, dim, nbits, bands, seed)
    return (emb.select(F.col(id_col).alias("vec_id"),
                       sig_udf(vec_col).alias("bs"))
            .select("vec_id", F.posexplode("bs").alias("band", "sig")))


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    nbits: int = 12,
    bands: int = 16,
    seed: int = 0x5EED,
    dim: int | None = None,
) -> DataFrame:
    """Vec pairs (a < b) with cosine >= threshold, banded-LSH blocked.

    Standard multi-band OR construction: ``bands`` independent SRP
    signatures of ``nbits`` bits each; a pair is a candidate if ANY band
    collides, then candidates are exact-verified (so precision is exact;
    RECALL is probabilistic). Miss probability for a pair at angle theta
    is ``(1 - p^nbits)^bands`` with ``p = 1 - theta/pi``: at the default
    16 bands x 12 bits, ~0.5% at cos 0.95 and ~1e-6 at cos 0.99. Raise
    ``bands`` for higher recall (cost linear in bands, candidate rate
    unchanged per band).

    Band width is the SCALE knob: a random pair collides with
    probability ~2^-nbits per band, so expected background candidates
    are ~bands * 2^-nbits * n^2/2 — at 12-bit bands that is n^2/512,
    vs n^2/8 at the round-2 6-bit default, whose candidate volume was
    only a constant factor off the all-pairs join (60s at sf0.1).
    Never narrow the bands to buy recall; add bands instead.

    Scale shape: only (vec_id, band, sig) rows enter the quadratic
    self-join; candidate id pairs are deduped FIRST and embeddings are
    joined back per-id for the exact verify — vectors never ride the
    candidate exchange (round-1 shuffled full arrays through
    dropDuplicates).
    """
    from .dedup import _scoped_cache, bucket_self_join_pairs

    # persisted: one signature-UDF pass feeds the oversized-bucket probe
    # and both self-join sides (3 scans); rows are 3 ints each —
    # scoped so repeat calls in one session don't pin caches forever
    exploded = _scoped_cache(
        "embedding_neardup", neardup_band_rows(emb, nbits, bands, seed, dim))
    cand = (bucket_self_join_pairs(exploded, ["band", "sig"], doc_col="vec_id")
            .select(F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")))
    va = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    pairs = cand.join(va, "vec_a").join(vb, "vec_b")
    dot = F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return (pairs.select("vec_a", "vec_b",
                         F.round(dot / F.greatest(norm(F.col("ea")) * norm(F.col("eb")),
                                                  F.lit(1e-12)), 4).alias("cos"))
            .where(F.col("cos") >= threshold))


def embedding_centroids(emb: DataFrame, vec_col: str, group_col: str,
                        scale: int = 1_000_000) -> DataFrame:
    """Per-group centroid and dispersion of an embedding column, in
    integer micro-units — the coarse-quantizer statistics an IVF index
    maintains per cell (and a per-source/per-cluster drift monitor for
    multimodal corpora).

    Returns one row per (group, dim):

      n_vecs, centroid_micro = sum(round(x * scale)) div n, and
      var_micro2 = (n * sum(xm^2) - sum(xm)^2) div n^2 — the
      population variance of the quantized coordinates.

    A NULL coordinate still counts toward its cell's n_vecs but adds 0
    to the sums, so it pulls the centroid toward 0 (the DuckDB oracle
    counts it the same way). A NULL or empty vector adds no row.

    Engine-reproducibility: float sums are order-dependent (Spark's
    partial aggregation order is nondeterministic), so each coordinate
    is quantized ONCE to an integer (round of the same IEEE double in
    any engine; Spark's HALF_UP == DuckDB's round-half-away-from-zero
    on doubles) and every aggregate/division after that is exact
    integer arithmetic, final div truncating toward zero in both
    engines, outputs back in int64.

    The hot aggregation stays pure int64 codegen (a DECIMAL(38) sum is
    a per-row BigDecimal object op — measured 10x slower at 64M
    coords): sum(xm) fits int64 even at 10^12 rows x |xm|<=1e6, and
    sum(xm^2) is decomposed into hi = sum((xm*xm) div 2^20) and
    lo = sum((xm*xm) % 2^20) — hi <= n * |xm|^2 / 2^20 and
    lo < n * 2^20 both fit int64 past 10^12 rows — recombined exactly
    in decimal only for the final |groups| x dims cells. ANSI mode
    raises (never wraps) on |x| beyond ~3e3 * (1e6/scale), the one
    domain bound.

    Plan shape: posexplode_outer (outer: Catalyst infers a
    size(arr)>0 filter under a plain explode and PUSHES the whole
    array expression below the aggregate for computed vectors — the
    CLAUDE.md InferFiltersFromGenerate trap; the cheap dim-not-null
    filter after the generate restores inner semantics) -> ONE hash
    aggregate on (group, dim) with map-side partials; the shuffle
    carries only (group, dim, count, three int64 sums) per partition —
    vectors never cross an exchange. At 10^12 vectors the exchange is
    |groups| x dims x partitions partial rows, independent of n.
    """
    reserved = {"dim", "_x", "_xm", "n_vecs", "_sx", "_sq", "_sr"}
    if group_col.lower() in reserved or vec_col.lower() in reserved:
        raise ValueError(
            f"embedding_centroids: column names {sorted(reserved)} are "
            f"reserved (case-insensitive) — rename {group_col!r}/{vec_col!r}")
    xm = F.round(F.col("_x").cast("double") * F.lit(float(scale))) \
          .cast("long")
    exploded = (emb.select(F.col(group_col),
                           F.posexplode_outer(vec_col).alias("dim", "_x"))
                .where(F.col("dim").isNotNull())
                .withColumn("_xm", xm))
    agg = (exploded.groupBy(group_col, "dim")
           .agg(F.count(F.lit(1)).alias("n_vecs"),
                F.sum("_xm").alias("_sx"),
                F.sum(F.expr("(_xm * _xm) div 1048576")).alias("_sq"),
                F.sum(F.expr("(_xm * _xm) % 1048576")).alias("_sr")))
    d38 = "CAST(1048576 AS DECIMAL(38,0))"
    return agg.select(
        group_col, F.col("dim").cast("long").alias("dim"),
        "n_vecs",
        F.expr("CAST(_sx div n_vecs AS BIGINT)").alias("centroid_micro"),
        # divisor squared in decimal too: long*long n_vecs^2 would
        # overflow at n > ~3e9 per cell, inside the stated envelope
        F.expr(f"CAST((n_vecs * ({d38} * _sq + _sr) "
               "- CAST(_sx AS DECIMAL(38,0)) * _sx) "
               "div (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs) AS BIGINT)")
        .alias("var_micro2"))
