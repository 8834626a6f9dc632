"""Deduplication operator family for training-data pipelines.

Four tiers, cheapest first:

1. **exact_dedup** — hash-groupBy on a content fingerprint. Pure
   built-ins; one shuffle on the md5 key; survives any scale (the
   fingerprint groupBy is the same shape as distinct()).
2. **jaccard_pairs_exact** — exact n-gram (shingle) Jaccard >= tau via
   shingle-explode + self-join. The *oracle* path: quadratic in docs
   sharing a shingle; use only at verification scale or as the
   LSH-candidate verifier.
3. **minhash_lsh_pairs** — the scale path: k MinHash values from
   JVM-side xxhash64 shingle hashes (numpy row-min inside one Arrow
   UDF), banded LSH bucketing, candidate pairs verified with exact
   Jaccard via array_intersect/array_union (JVM built-ins). Shuffle is
   bands*docs rows of (int, long) — linear in corpus.
4. **simhash_pairs** — 64-bit SimHash + banded Hamming blocking,
   verified with bit_count(xor) <= max_distance. Linear shuffle.

All random projections are seeded; every operator is deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels.hashing import U64, splitmix64
from ..sketch.udaf import worker_prologue
from .text import words

_MERSENNE = (1 << 61) - 1

# bounded cached generations per operator: a long-lived session (the
# driver gate runs ~40 queries in one) would otherwise pin a new cached
# signature table per call forever
import threading as _threading

_CACHE_LOCK = _threading.Lock()
_LAST_CACHED: dict[str, list] = {}
_CACHE_GENERATIONS = 2  # keep 2 so "build A, build B, collect A" stays cached


def _scoped_cache(tag: str, df: DataFrame) -> DataFrame:
    """Cache ``df``, unpersisting all but the newest
    ``_CACHE_GENERATIONS`` caches for ``tag``.

    An evicted plan stays CORRECT if still unmaterialized — it just
    recomputes uncached; keeping two generations covers the common
    compose-then-collect pattern without unbounded growth."""
    with _CACHE_LOCK:
        gens = _LAST_CACHED.setdefault(tag, [])
        gens.append(df)
        evict = gens[:-_CACHE_GENERATIONS]
        del gens[:-_CACHE_GENERATIONS]
    for old in evict:
        try:
            old.unpersist()
        except Exception:
            pass
    return df.cache()


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (whitespace-normalized) docs:
    (keep_id = min doc id, dup_cnt) per distinct content."""
    from .text import doc_fingerprint

    return (
        df.select(F.col(id_col).alias("doc"), doc_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc").alias("keep_id"), F.count("*").alias("dup_cnt"))
        .select("keep_id", "dup_cnt")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, window: int = 3) -> DataFrame:
    """(doc, shingles: array<string>) — distinct word-window md5 shingles.

    The word array is materialized in a sub-select first: shingling is a
    per-element lambda, and lambdas re-evaluate captured expressions per
    element — shingling directly over ``words(text)`` re-splits the text
    O(n) times per doc (9s -> 1s on 5000 docs at sf0.1)."""
    from .text import shingles_from_words, words

    w = df.select(F.col(id_col).alias("doc"), words(text_col).alias("W"))
    # same single-scan-task gate as word_gram_hashes: a small or
    # single-row-group input serializes the shingling into one task;
    # many-split corpus inputs skip the exchange entirely
    target = df.sparkSession.sparkContext.defaultParallelism
    if w.rdd.getNumPartitions() < min(8, target):
        w = w.repartition(target, "doc")
    return w.select("doc", F.array_distinct(
        shingles_from_words("W", window)).alias("shingles"))


def jaccard_pairs_exact(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.8, window: int = 3) -> DataFrame:
    """All doc pairs (a < b) with shingle-set Jaccard >= threshold.

    Exact: shingle explode -> self-join on shingle -> per-pair overlap
    vs set sizes. This is the verification-scale baseline the LSH path
    is measured against.
    """
    sets = shingle_sets(df, id_col, text_col, window)
    sizes = sets.select("doc", F.size("shingles").alias("sz"))
    # explode_OUTER: plain explode lets InferFiltersFromGenerate push a
    # size(shingles)>0 predicate below the exchange, re-running the
    # whole shingle build in the serial scan task (see word_gram_hashes);
    # a NULL sh row (empty doc) never matches the self-join key
    ex = sets.select("doc", F.explode_outer("shingles").alias("sh"))
    # pin the join's parallelism: the shingle rows LOOK small to AQE
    # (it coalesces them to ~1 partition) but the self-join output is
    # quadratic within shingle groups — an explicit hash repartition on
    # the join key keeps the blow-up spread across tasks
    nparts = ex.sparkSession.sparkContext.defaultParallelism
    ex = ex.repartition(nparts, "sh")
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def bucket_self_join_pairs(banded: DataFrame, keys: list[str],
                           doc_col: str = "doc", cap: int = 2048) -> DataFrame:
    """Distinct unordered pairs (doc_a < doc_b) of rows sharing a bucket
    (equal values on ``keys``), with a bound on per-task quadratic work.

    A degenerate bucket (e.g. thousands of near-empty docs sharing a
    shingle) makes the naive self-join quadratic inside ONE task. Here
    any bucket larger than ``cap`` is salted into G = ceil(n/cap) groups
    by doc hash, and the join runs per (group_i <= group_j) cell — the
    blocked form of the same join: identical output, per-task work
    <= cap^2, replication factor <= G per row for the few big buckets.
    Buckets <= cap take the G=1 path, which is the plain join.

    Well-behaved data (no bucket over ``cap`` — the common case for
    16-bit simhash bands and banded MinHash buckets) short-circuits to
    the plain equi-self-join: the oversized-bucket check is one eager
    aggregation pass, and skipping the salting machinery saves a
    broadcast join plus two explode(sequence) projections per side
    (round 2 ran them unconditionally; simhash_pairs paid 4.2s -> 23.6s
    for buckets that were never oversized). Callers with an expensive
    ``banded`` derivation should persist it first — both paths scan it
    more than once.
    """
    sizes = banded.groupBy(*keys).agg(F.count("*").alias("_n")).where(
        F.col("_n") > cap)
    if not sizes.take(1):  # eager probe; empty -> no degenerate buckets
        a = banded.select(*keys, F.col(doc_col).alias("_da"))
        b = banded.select(*keys, F.col(doc_col).alias("_db"))
        return (a.join(b, keys)
                .where(F.col("_da") < F.col("_db"))
                .select(F.col("_da").alias("doc_a"),
                        F.col("_db").alias("doc_b"))
                .distinct())
    # NB: Spark column resolution is case-insensitive — group-count and
    # group-id columns need distinct spellings, not _G/_g
    b = (banded.join(F.broadcast(sizes), keys, "left")
         .withColumn("_ngrp", F.coalesce(
             F.ceil(F.col("_n") / cap).cast("int"), F.lit(1)))
         .withColumn("_grp",
                     F.pmod(F.xxhash64(doc_col), F.col("_ngrp")).cast("int")))
    # left covers cells (g, j >= g); right covers cells (i <= g, g):
    # each unordered pair lands in exactly one (i, j) cell (twice when
    # i == j, deduped by distinct below)
    left = b.select(*keys, F.col(doc_col).alias("_da"),
                    F.col("_grp").alias("_gi"),
                    F.explode(F.sequence(F.col("_grp"),
                                         F.col("_ngrp") - 1)).alias("_gj"))
    right = b.select(*keys, F.col(doc_col).alias("_db"),
                     F.explode(F.sequence(F.lit(0), F.col("_grp"))).alias("_gi"),
                     F.col("_grp").alias("_gj"))
    return (left.join(right, [*keys, "_gi", "_gj"])
            .where(F.col("_da") != F.col("_db"))
            .select(F.least("_da", "_db").alias("doc_a"),
                    F.greatest("_da", "_db").alias("doc_b"))
            .distinct())


def _minhash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    h = splitmix64(np.arange(2 * num_hashes, dtype=np.uint64) + U64(seed))
    a = (h[:num_hashes] % U64(_MERSENNE - 1) + U64(1)).astype(np.uint64)
    b = (h[num_hashes:] % U64(_MERSENNE)).astype(np.uint64)
    return a, b


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64, window: int = 3,
                       seed: int = 0x5EED) -> DataFrame:
    """(doc, shingle_hashes: array<long>, sig: array<long>).

    Shingle hashing is JVM-side (xxhash64 over md5 shingles); the
    k-way min runs as one vectorized numpy pass per Arrow batch.
    """
    a_params, b_params = _minhash_params(num_hashes, seed)

    sets = shingle_sets(df, id_col, text_col, window).select(
        "doc",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingle_hashes"),
    )

    k = num_hashes

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        worker_prologue()
        # flattened offsets formulation: ONE (k x shingles) broadcast pass
        # per chunk + minimum.reduceat at doc boundaries, instead of a
        # Python loop dispatching numpy per document — short-doc corpora
        # were per-doc-dispatch-bound. Chunked so the permuted-hash
        # matrix stays ~16 MB (k=64 x 32k shingles x 8 B).
        for s in it:
            n = len(s)
            if not n:
                yield pd.Series([], dtype=object)
                continue
            lens = np.fromiter((len(a) for a in s), dtype=np.int64, count=n)
            flat = (np.concatenate([np.asarray(a, dtype=np.int64) for a in s])
                    if int(lens.sum()) else np.empty(0, dtype=np.int64))
            x = flat.view(np.uint64) % U64(_MERSENNE)
            bounds = np.concatenate(([0], np.cumsum(lens)))
            out = np.full((n, k), _MERSENNE, dtype=np.int64)
            lo_doc = 0
            while lo_doc < n:
                hi_doc = lo_doc
                while (hi_doc < n
                       and bounds[hi_doc + 1] - bounds[lo_doc] <= (1 << 15)):
                    hi_doc += 1
                hi_doc = max(hi_doc, lo_doc + 1)
                seg = x[bounds[lo_doc]:bounds[hi_doc]]
                if hi_doc == lo_doc + 1 and seg.size > (1 << 15):
                    # one huge doc: sub-chunk ITS shingles too — taking
                    # it whole would allocate a k x shingles matrix with
                    # no byte budget (a 2M-shingle outlier = 1 GB per
                    # worker, the CLAUDE.md pad-matrix trap); minima
                    # combine associatively across sub-chunks
                    m = np.full(k, _MERSENNE, dtype=np.uint64)
                    for lo in range(0, seg.size, 1 << 15):
                        sub = seg[lo:lo + (1 << 15)]
                        perm = (a_params[:, None] * sub[None, :]
                                + b_params[:, None]) % U64(_MERSENNE)
                        np.minimum(m, perm.min(axis=1), out=m)
                    out[lo_doc] = m.astype(np.int64)
                    lo_doc = hi_doc
                    continue
                perm = (a_params[:, None] * seg[None, :]
                        + b_params[:, None]) % U64(_MERSENNE)
                starts = (bounds[lo_doc:hi_doc] - bounds[lo_doc])
                # reduceat over NONEMPTY docs' starts only: they are
                # strictly increasing and in-range, and each segment is
                # exactly that doc's shingles (empty docs contribute no
                # elements). Clamping a trailing empty doc's start to
                # seg.size-1 instead would truncate the preceding doc's
                # reduction by one element.
                ne = np.flatnonzero(lens[lo_doc:hi_doc] > 0)
                if seg.size:
                    mins = np.minimum.reduceat(
                        perm, starts[ne], axis=1).T
                    out[lo_doc + ne] = mins.astype(np.int64)
                lo_doc = hi_doc
            yield pd.Series(list(out))

    return sets.withColumn("sig", sig_udf("shingle_hashes"))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.8, num_hashes: int = 64,
                      bands: int = 16, window: int = 3,
                      seed: int = 0x5EED) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with exact Jaccard.

    bands=16 x rows=4 at k=64: P(candidate) = 1-(1-j^4)^16 — >99.5%
    recall at j>=0.8. Candidates are verified exactly (array_intersect /
    array_union on shingle-hash sets), so precision is exact; only
    recall depends on the banding. Output matches jaccard_pairs_exact
    up to LSH recall.
    """
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}: the "
            "trailing num_hashes % bands signature rows would be paid "
            "for but silently dropped from every band")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, window, seed)
    sigs = _scoped_cache("minhash_lsh",
                         sigs.select("doc", "shingle_hashes", "sig"))

    banded = sigs.select(
        "doc",
        # explode_OUTER: suppresses the inferred size()>0 filter that
        # would re-evaluate the whole band-hash array once more per row
        # (the array is sequence-length bands, never empty)
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(F.slice("sig", bi * rows_per_band + 1, rows_per_band),
                               F.lit(seed)).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")

    cand = bucket_self_join_pairs(banded, ["band", "bucket"])

    sa = sigs.select(F.col("doc").alias("doc_a"), F.col("shingle_hashes").alias("sh_a"))
    sb = sigs.select(F.col("doc").alias("doc_b"), F.col("shingle_hashes").alias("sh_b"))
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# memoized pair graphs: (params) -> (session id, input plan hash, pairs df).
# One entry per parameter set; a changed input plan or a new session
# rebuilds (the old cached df dies with its session / scoped cache).
_PAIR_GRAPH_MEMO: dict[tuple, tuple[int, int, DataFrame]] = {}


def near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                   threshold: float = 0.8, num_hashes: int = 64,
                   bands: int = 16, window: int = 3,
                   seed: int = 0x5EED) -> DataFrame:
    """The SHARED near-dup pair graph: ``minhash_lsh_pairs`` computed
    once per (input, parameters) and cached, returned as the same
    DataFrame object on every later call in the session.

    At 100 TB the pair graph is the expensive artifact (shingle +
    signature + band join over the whole corpus); cluster resolution
    (``connected_components``), keeper selection (``pick_canonical``)
    and the cross-source leakage matrix all consume the SAME graph, so
    a pipeline computes it once and fans out. Memo key = parameters +
    the input's ANALYZED-plan semantic hash (two reads of the same
    parquet path hash equal; a different corpus or filter rebuilds) +
    the session id (a cached df must not outlive its session).
    """
    key = (id_col, text_col, threshold, num_hashes, bands, window, seed)
    sess = id(df.sparkSession)
    plan_hash = int(df._jdf.queryExecution().analyzed().semanticHash())
    with _CACHE_LOCK:
        hit = _PAIR_GRAPH_MEMO.get(key)
        if hit is not None and hit[0] == sess and hit[1] == plan_hash:
            return hit[2]
    pairs = _scoped_cache(
        "near_dup_pairs",
        minhash_lsh_pairs(df, id_col, text_col, threshold=threshold,
                          num_hashes=num_hashes, bands=bands,
                          window=window, seed=seed))
    with _CACHE_LOCK:
        _PAIR_GRAPH_MEMO[key] = (sess, plan_hash, pairs)
    return pairs


def connected_components(pairs: DataFrame, ids: DataFrame,
                         id_col: str = "doc",
                         a_col: str = "doc_a", b_col: str = "doc_b",
                         max_iters: int = 12) -> DataFrame:
    """Cluster resolution over a near-dup pair graph: every id gets
    ``cluster_id`` = the MIN id of its connected component (the
    canonical keeper a dedup pipeline retains).

    Iterative min-label propagation: each round every vertex takes the
    minimum label among itself and its neighbors; converges in
    O(component diameter) rounds. Near-dup components from banded LSH
    are clique-ish (diameter ~2), so 2-4 rounds settle real data;
    ``max_iters`` bounds adversarial chains. Each round is one
    join + one groupBy-min (two shuffles) over the EDGE list — linear in
    pairs, never materializing components in one task — with an eager
    localCheckpoint per round so the plan does not deepen.

    The fixpoint is verified per round with one count; iteration stops
    as soon as no label changes (so the result is the true component
    minimum whenever convergence happens within ``max_iters``, which a
    final changed==0 assertion guarantees).
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    # seed labels from ids UNION pair endpoints: an endpoint missing
    # from ids would otherwise first appear inside a round's `new`
    # frame, where the `changed` inner join vs the OLD labels cannot
    # see it — the loop could declare a fixpoint one round early with
    # wrong labels (and emit rows for vertices the caller never listed)
    labels = (ids.select(F.col(id_col).alias("v"))
              .union(edges.select("src"))
              .distinct()
              .select("v", F.col("v").alias("label"))
              .localCheckpoint(eager=True))
    for _ in range(max_iters):
        via = (edges.join(labels, edges["src"] == labels["v"])
               .select(F.col("dst").alias("v"), "label"))
        new = (labels.union(via).groupBy("v")
               .agg(F.min("label").alias("label"))).localCheckpoint(eager=True)
        changed = (new.alias("n").join(labels.alias("o"), "v")
                   .where(F.col("n.label") != F.col("o.label")).count())
        # superseded rounds' checkpoint blocks are reclaimed by the
        # ContextCleaner once this reference drops (localCheckpoint blocks
        # are RDD-level; DataFrame.unpersist would not touch them)
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(f"components did not converge in {max_iters} rounds")
    return labels.select(F.col("v").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def pick_canonical(clusters: DataFrame, meta: DataFrame, id_col: str,
                   quality_col: str) -> DataFrame:
    """Representative selection per near-dup cluster: the doc a dedup
    pipeline KEEPS — highest ``quality_col``, ties to the smallest id.

    ``clusters`` is ``connected_components`` output (``doc_id``,
    ``cluster_id``); ``meta`` carries ``id_col`` + ``quality_col``.
    Returns one row per cluster: ``cluster_id``, ``keeper_id``,
    ``keeper_quality``, ``n_docs`` (cluster size).

    Plan shape: one equi-join on the id, then one AGGREGATE on the
    cluster — the arg-max is a ``min(struct(-quality, id))`` (compiles
    to a SortAggregate with a map-side partial_min; struct min has no
    hash form), NOT a row_number window, so a million-doc boilerplate
    cluster reduces to one struct per task map-side instead of sorting
    all its rows in one window task.
    """
    j = clusters.join(
        meta.select(F.col(id_col).alias("doc_id"),
                    F.col(quality_col).alias("_q")), "doc_id")
    return (j.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min(F.struct((-F.col("_q")).alias("_nq"),
                                F.col("doc_id").alias("_id"))).alias("_b"))
            .select("cluster_id",
                    F.col("_b._id").alias("keeper_id"),
                    (-F.col("_b._nq")).alias("keeper_quality"),
                    "n_docs"))


def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       seed: int = 0x5EED) -> DataFrame:
    """(doc, simhash: long) — 64-bit SimHash over word hashes.

    The word hash is the cross-engine md5-LE64 (ops.text.md5hex_to_le64,
    == DuckDB md5_number_upper), salted with the seed, so a SQL oracle
    can reproduce the signatures bit-exactly. The md5 hex array is
    materialized in a sub-select BEFORE the per-element u64 conversion
    (lambda-captured expressions re-evaluate per element)."""
    from .text import md5hex_to_le64

    salt = f"#sim{seed}"
    hexes = df.select(
        F.col(id_col).alias("doc"),
        # NULL text = empty doc (signature 0), same convention as every
        # other text operator — an un-coalesced NULL propagates through
        # transform() and crashes the pandas UDF on a None cell
        F.transform(words(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda w: F.md5(F.concat(w, F.lit(salt)))).alias("hx"))
    tokens = hexes.select(
        "doc", F.transform("hx", md5hex_to_le64).alias("wh"))

    @F.pandas_udf(T.LongType())
    def sim_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        worker_prologue()
        # flattened offsets formulation: one (shingles x 64) bit matrix
        # per chunk + add.reduceat at doc boundaries (votes), instead of
        # per-doc numpy dispatch; chunked at 256k word hashes (~16 MB of
        # int8 bits)
        bitpos = np.arange(64, dtype=np.uint64)
        for s in it:
            n = len(s)
            out = np.zeros(n, dtype=np.int64)
            if not n:
                yield pd.Series(out)
                continue
            lens = np.fromiter((len(a) for a in s), dtype=np.int64, count=n)
            flat = (np.concatenate([np.asarray(a, dtype=np.int64) for a in s])
                    if int(lens.sum()) else np.empty(0, dtype=np.int64))
            x = flat.view(np.uint64)
            bounds = np.concatenate(([0], np.cumsum(lens)))
            lo_doc = 0
            while lo_doc < n:
                hi_doc = lo_doc
                while (hi_doc < n
                       and bounds[hi_doc + 1] - bounds[lo_doc] <= (1 << 18)):
                    hi_doc += 1
                hi_doc = max(hi_doc, lo_doc + 1)
                seg = x[bounds[lo_doc]:bounds[hi_doc]]
                if seg.size:
                    bits = ((seg[:, None] >> bitpos[None, :]) & U64(1)) \
                        .astype(np.int8)
                    signed = (2 * bits - 1).astype(np.int32)
                    starts = bounds[lo_doc:hi_doc] - bounds[lo_doc]
                    # nonempty starts only — see sig_udf: a clamped
                    # trailing empty doc would drop the last token-hash
                    # row from the preceding doc's vote sum
                    ne = np.flatnonzero(lens[lo_doc:hi_doc] > 0)
                    votes = np.add.reduceat(signed, starts[ne], axis=0)
                    sims = np.bitwise_or.reduce(
                        (votes > 0).astype(np.uint64) << bitpos[None, :],
                        axis=1).view(np.int64)
                    out[lo_doc + ne] = sims
                lo_doc = hi_doc
            yield pd.Series(out)

    return tokens.withColumn("simhash", sim_udf("wh")).select("doc", "simhash")


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_distance: int = 3, seed: int = 0x5EED) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_distance.

    Pigeonhole blocking: split 64 bits into max_distance+1 bands; any
    pair within distance d shares at least one identical band. Verify
    with bit_count(a ^ b) (JVM built-in).
    """
    nbands = max_distance + 1
    width = 64 // nbands
    mask = (1 << width) - 1
    # persisted: the signature UDF pass feeds the bucket-size probe, both
    # self-join sides, and the hamming verify rejoin — 4 scans otherwise
    sigs = _scoped_cache("simhash_pairs",
                         simhash_signatures(df, id_col, text_col, seed))
    # static unroll: nbands is a python int, so each band's shift is a literal
    bands_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftrightunsigned(F.col("simhash"), b * width)
                 .bitwiseAND(F.lit(mask)).alias("block"))
        for b in range(nbands)
    ])
    banded = (sigs.select("doc", F.explode(bands_arr).alias("bb"))
              .select("doc", "bb.band", "bb.block"))
    # candidate ids via the capped bucket join, then rejoin signatures by
    # id for the hamming verify (ids-only through the quadratic exchange)
    cand = bucket_self_join_pairs(banded, ["band", "block"])
    xa = sigs.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("sim_a"))
    xb = sigs.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("sim_b"))
    return (
        cand.join(xa, "doc_a").join(xb, "doc_b")
        .select("doc_a", "doc_b",
                F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"))
        .where(F.col("hamming") <= max_distance)
    )


def word_gram_hashes(df: DataFrame, id_col: str, text_col: str,
                     k: int = 8) -> DataFrame:
    """(doc, h): 62-bit md5-LE64 ids of every word ``k``-gram, one row
    per gram position — the shared gram pipeline of
    cross_doc_duplicate_grams and contamination_check. Cross-engine:
    == DuckDB ``md5_number_upper & (2^62-1)`` of the space-joined gram
    (the winnowing mask — a >= 2^63 value can't CAST to BIGINT). Docs
    with < k words contribute their whole text as one gram; NULL text
    = empty doc. Per-row array transforms only (the word and gram
    arrays are materialized in their own sub-selects — lambda-captured
    expressions re-evaluate per element) + one explode; no Python.
    """
    from .text import md5hex_to_le64, words

    w = df.select(F.col(id_col).alias("doc"),
                  words(F.coalesce(F.col(text_col), F.lit(""))).alias("W"))
    # hashing parallelism comes from input splits at corpus scale; a
    # small/single-row-group file scans as ONE task and would serialize
    # the whole md5 pipeline — spread by doc only in that case (the
    # gate makes this a no-op exactly when the exchange would be
    # expensive: many-split inputs are already parallel)
    target = df.sparkSession.sparkContext.defaultParallelism
    if w.rdd.getNumPartitions() < min(8, target):
        w = w.repartition(target, "doc")
    n = F.size("W")
    grams = w.select(
        "doc",
        F.when(n >= k, F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice("W", i + 1, k)),
        )).otherwise(F.array(F.concat_ws(" ", F.col("W")))).alias("G"))
    mask = (1 << 62) - 1
    # md5 runs on EXPLODED rows, aliased in its own projection: inside a
    # transform lambda, md5hex_to_le64's 8 byte-extracts would each
    # re-evaluate the captured F.md5(g) — 8 digests per gram (measured
    # ~6x the stage wall); on a flat projection the repeated reference
    # is one attribute / one codegen subexpression.
    # explode_OUTER because plain explode makes InferFiltersFromGenerate
    # push a size(G)>0 predicate below the exchange — re-running the
    # whole split/transform/concat gram build in the (serial) scan task
    # (measured 3.4s -> 0.4s at sf0.1); G is never empty (the else
    # branch always yields one gram), so outer == inner here
    ex = grams.select("doc", F.explode_outer("G").alias("g"))
    hx = ex.select("doc", F.md5("g").alias("x"))
    return hx.select(
        "doc", md5hex_to_le64(F.col("x")).bitwiseAND(F.lit(mask)).alias("h"))


def cross_doc_duplicate_grams(df: DataFrame, id_col: str, text_col: str,
                              k: int = 5, min_docs: int = 2) -> DataFrame:
    """Per-document cross-corpus duplicate-span accounting — the signal
    behind exact-substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): for each doc, how
    many of its word ``k``-grams also appear in >= ``min_docs`` - 1
    OTHER documents, i.e. content shared verbatim across the corpus
    (boilerplate, licenses, mirrored pages) that doc-level dedup
    misses.

    Returns ``(doc, n_grams, dup_grams, dup_frac_e6)`` with the
    duplicated-gram fraction as an exact integer micro-rate.

    Gram identity is the cross-engine md5-LE64 of the space-joined gram
    (== DuckDB md5_number_upper), so a SQL oracle reproduces it
    bit-exactly; docs with < k words contribute their whole text as one
    gram (same convention as winnowing); NULL text = empty doc.

    Scale shape (all linear, the canonical substring-dedup dataflow):
    per-row gram hashing via materialized-array transforms (no Python,
    no shuffle), ONE explode of 8-byte hashes + doc ids, then pure
    HASH AGGREGATES — no window anywhere. Round 3 computed the
    min_docs=2 case as min/max over a ``Window.partitionBy(h)``: two
    exchanges, but a boilerplate gram appearing in millions of docs
    serializes its whole group into ONE WindowExec task (spills, and
    single-task wall time). This form replaces it:

    1. partial: ``groupBy(doc, h).count()`` — the hot gram's rows are
       spread across docs, so every task's groups stay small and
       map-side combine compacts repeats within a doc;
    2. ``groupBy(h).count()`` over the (doc, h) pairs — partial
       aggregation pre-combines the hot key per map task, so the final
       reducer sees at most one row per upstream partition (the salted
       two-level shape, with the map-side combine as the salt);
    3. one linear join of the (doc, h, c) pairs against the
       >= min_docs gram set (AQE skew-split applies; each row matches
       exactly once), and a doc-keyed final aggregate.

    A suffix-array formulation finds arbitrary-length spans but needs
    a global sort of every token position; fixed-k gram matching is
    the standard distributed relaxation (any shared span of >= 2k-1
    words is guaranteed to share a full k-gram at every alignment
    window).
    """
    ex = word_gram_hashes(df, id_col, text_col, k)
    # (doc, h) pre-aggregate: bounds every later stage by DISTINCT
    # pairs, and no single key is hot (doc spreads the boilerplate gram)
    pairs = ex.groupBy("doc", "h").agg(F.count("*").alias("c"))
    # rows are distinct per (doc, h), so count(*) == countDistinct(doc)
    # without the expand
    shared = (pairs.groupBy("h")
              .agg(F.count("*").alias("ndocs"))
              .where(F.col("ndocs") >= min_docs)
              .select("h", F.lit(True).alias("shared")))
    return (pairs.join(shared, "h", "left")
            .groupBy("doc")
            .agg(F.sum("c").alias("n_grams"),
                 F.coalesce(F.sum(F.when(F.col("shared"), F.col("c"))),
                            F.lit(0)).alias("dup_grams"))
            .withColumn("dup_frac_e6",
                        F.expr("dup_grams * 1000000L DIV n_grams")))


def contamination_check(train_df: DataFrame, test_df: DataFrame,
                        id_col: str, text_col: str, k: int = 8,
                        kind: str = "xor_sharded") -> DataFrame:
    """Benchmark decontamination: per EVAL doc, the fraction of its
    word ``k``-grams that appear verbatim anywhere in the TRAIN corpus
    (the n-gram overlap rule used to decontaminate training data
    against eval benchmarks).

    The train-side gram set is held as one of this library's AMQ
    filters (``kind`` — any ``sketch.api.build_filter`` family): at
    corpus scale the exact gram set is too large to broadcast exactly,
    while an xor filter costs ~9.84 bits per distinct gram and probes
    exchange-free. Guarantees: NO false negatives (a contaminated gram
    is never missed — the safety direction for decontamination); false
    positives bounded by the family's eps, so the reported fraction is
    a tight upper bound.

    The default family is the SHARDED xor build: each key shard's peel
    (xorfilter.h:122-279) runs inside its own groupBy(shard) task, so
    the driver never materializes the distinct gram set — a 100-TB
    train corpus has ~10^10-10^11 distinct 8-grams, far past any
    driver collect. Single-blob kinds (plain ``xor``) remain available
    for small train sets.

    Returns ``(doc, n_grams, amq_hit_grams, amq_frac_e6)``.
    """
    from ..sketch.api import build_filter, contains_col

    spark = train_df.sparkSession
    # no .distinct() pre-pass: every build path dedupes inside its own
    # shard tasks (sharded builds np.unique per shard; the driver-peel
    # path dedupes in distinct_keys_u64) — a distinct() here would be a
    # second full shuffle of the same gram set
    train_grams = word_gram_hashes(train_df, id_col, text_col, k).select("h")
    filt = build_filter(train_grams, "h", kind=kind)
    probed = word_gram_hashes(test_df, id_col, text_col, k) \
        .withColumn("hit", contains_col(spark, filt, "h"))
    return (probed.groupBy("doc")
            .agg(F.count("*").alias("n_grams"),
                 F.sum(F.col("hit").cast("long")).alias("amq_hit_grams"))
            .withColumn("amq_frac_e6",
                        F.expr("amq_hit_grams * 1000000L DIV n_grams")))


def _slot_multipliers(k: int, seed: int = 0x5EED) -> tuple[list[int], list[int]]:
    """Deterministic odd 31-bit multiplier pairs for the MinHash slot
    permutations — a pure-Python splitmix64 stream so the SQL oracle
    (which inlines the same constants) needs no numpy. Odd multipliers
    are invertible mod 2^61, making each half-map injective."""
    mask64 = (1 << 64) - 1
    x = seed & mask64

    def nxt() -> int:
        nonlocal x
        x = (x + 0x9E3779B97F4A7C15) & mask64
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask64
        return z ^ (z >> 31)

    a = [(nxt() & ((1 << 31) - 1)) | 1 for _ in range(k)]
    b = [(nxt() & ((1 << 31) - 1)) | 1 for _ in range(k)]
    return a, b


def group_minhash_similarity(df: DataFrame, group_col: str, text_col: str,
                             num_hashes: int = 32, window: int = 3) -> DataFrame:
    """Corpus-level similarity matrix: estimated shingle-set Jaccard
    between every pair of groups (sources/languages/snapshots) from one
    MinHash signature per group — the "which crawls/sources are
    near-copies of each other" diagnostic a mixing pipeline runs before
    deciding what to deduplicate at source granularity.

    Each shingle is hashed ONCE with the cross-engine md5-LE64 and
    masked to 62 bits; signature slot i is min over the per-slot
    permutation g_i(h) = ((lo31 * A_i) & M61) XOR ((hi31 * B_i) & M61)
    on the 31-bit halves of h — odd multipliers make each half map
    bijective, products of 31-bit values stay far inside int64 (ANSI
    mode throws on overflow), and every operator (*, &, xor) exists
    with identical semantics in DuckDB, so a SQL oracle derives the
    identical signatures. P[slot matches] = Jaccard, so matches/k
    estimates it (reported as ``jaccard_e6`` = matches * 1e6 DIV k, an
    exact integer both engines derive identically). min is associative
    + commutative, so the signature is a mergeable sketch: partial
    mins combine map-side and across corpus increments the same way
    the HLL/MG registers do.

    Scale shape: ONE aggregation pass over the shingle stream (one md5
    per shingle, then k cheap integer permutations with map-side
    partial min combine — no explode by slot, no shuffle of per-slot
    rows); everything downstream operates on |groups| rows. The pair
    join is an inequality self-join of the signature table —
    |groups|^2/2 pairs, broadcast-sized for any realistic source
    count. (A first cut salted the md5 per slot — 32 md5 + hex-decode
    chains per shingle; measured 15.1 s vs ~2 s for the same answer
    shape at sf0.1.)
    """
    from .text import md5hex_to_le64

    k = int(num_hashes)
    sets = shingle_sets(df, group_col, text_col, window)
    ex = (sets.select(F.col("doc").alias("grp"),
                      F.explode_outer("shingles").alias("gh"))
          .where(F.col("gh").isNotNull()))
    # md5 OF the shingle's hex id (not a hex decode of it): this is
    # what DuckDB's md5_number_upper(gh) computes, so the oracle can
    # replay the signature with one builtin
    h = md5hex_to_le64(F.md5(F.col("gh"))).bitwiseAND(F.lit((1 << 62) - 1))
    # exact integer split (shift, never float division: h > 2^53)
    hashed = ex.select("grp", h.bitwiseAND(F.lit((1 << 31) - 1)).alias("_lo"),
                       F.shiftright(h, 31).alias("_hi"))
    a_mul, b_mul = _slot_multipliers(k)
    m61 = (1 << 61) - 1
    # min over the multiset == min over the set: no distinct pre-pass
    sig = hashed.groupBy("grp").agg(*[
        F.min((F.col("_lo") * F.lit(a_mul[i])).bitwiseAND(F.lit(m61))
              .bitwiseXOR((F.col("_hi") * F.lit(b_mul[i]))
                          .bitwiseAND(F.lit(m61)))).alias(f"m{i}")
        for i in range(k)])
    a, b = sig.alias("a"), sig.alias("b")
    matches = None
    for i in range(k):
        t = F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    return (a.join(F.broadcast(b), F.col("a.grp") < F.col("b.grp"))
            .select(F.col("a.grp").alias("src_a"),
                    F.col("b.grp").alias("src_b"),
                    matches.cast("long").alias("matches"))
            .withColumn("jaccard_e6",
                        F.expr(f"matches * 1000000L DIV {k}"))
            .orderBy("src_a", "src_b"))
