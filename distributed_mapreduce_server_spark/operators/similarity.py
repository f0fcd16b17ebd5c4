"""Similarity search over embedding columns (SURVEY.md §2.4).

- sim_cosine_topk: exact brute-force top-k for a small query set —
  the query vectors broadcast to every partition, candidates stream
  through once, a per-query heap (TakeOrdered via window rank) picks
  k. This is the correctness baseline and is already 100 TB-shaped
  for small query sets: one scan, no shuffle of the candidate side.
- sim_lsh_ann: random-hyperplane LSH buckets -> candidates only
  compare within their bucket. Deterministic md5-seeded hyperplanes
  so results are reproducible across runs and engines.
- sim_ivf_ann / emb_pq_quantize / sim_pq_adc_ann: the IVF + product-
  quantization serving stack (broadcast codebooks, Arrow-batch numpy
  kernels, grid-rounded selection for full value parity).
- sim_knn_join: all-pairs top-k join on the shared blocked cogroup
  grid (blocked.py) — local top-k per cell bounds the shuffle.
- emb_* analytics: centroids, dim stats, covariance, PCA, k-means,
  int8 quantization, backfill coverage and the mapInPandas
  batch-inference backfill stage (emb_encode_backfill).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from distributed_mapreduce_server_spark.catalog import (
    load_tables,
    register_refresh_hook,
)
from distributed_mapreduce_server_spark.functions import cosine_sim, fround, fround_np

# Trained-codebook memo (VERDICT r11 task 3): Lloyd training is
# deterministic per (corpus, recipe), so within one session every
# re-train of the same codebook is pure waste — a full bench/drive
# pass was re-running the identical coarse training 5+ times across
# the routed/IVF/PQ families. Same contract as catalog._plan_cache:
# keyed (applicationId, sf_dir, kind), the owning SparkSession rides
# along and is identity-compared on every hit (a spark.newSession()
# must retrain — its broadcasts/jobs belong to a different session),
# and sf_dir contents are assumed immutable for the app's lifetime
# (catalog.refresh_tables() clears this cache via the registered
# hook). Values are the bounded driver-side (ids, matrix) numpy
# pairs — K·d doubles, never corpus-sized.
_CODEBOOK_CACHE: dict[tuple[str, str, str], tuple] = {}

# kind -> number of ACTUAL trainings (test instrumentation: the memo
# tests assert one training per codebook per (session, sf_dir)).
CODEBOOK_TRAIN_COUNTS: dict[str, int] = {}


def _codebook_memo(spark: SparkSession, sf_dir: str, kind: str, builder):
    """Return the memoized trained codebook for (session, sf_dir,
    kind), invoking ``builder`` exactly once per key. force_distributed
    callers must BYPASS this memo (they exist to pin the two training
    paths result-identical and must really train)."""
    key = (spark.sparkContext.applicationId, str(sf_dir), kind)
    hit = _CODEBOOK_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    CODEBOOK_TRAIN_COUNTS[kind] = CODEBOOK_TRAIN_COUNTS.get(kind, 0) + 1
    pair = builder()
    _CODEBOOK_CACHE[key] = (spark, pair)
    return pair


def release_codebook_caches() -> None:
    """Drop every memoized trained codebook — the refresh_tables()
    analog for the codebook layer (and invoked BY refresh_tables via
    the registered hook). Call directly to bound driver memory in a
    very long session touching many sf_dirs."""
    _CODEBOOK_CACHE.clear()


register_refresh_hook(release_codebook_caches)

N_QUERIES = 5
TOP_K = 10
N_PLANES = 6
N_TABLES = 4
EMB_DIM = 64


def _collect_matrix(df, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Bounded driver fetch of (ids, matrix) sorted by id - for
    codebooks and query sets ONLY (fixed size at any corpus scale;
    never call on a corpus-sized frame)."""
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[id_col])
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return ids, mat


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for query vectors (vec_id < 5)."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    return _cosine_topk(emb, F.col("embedding")).orderBy("query_id", "rank")


def _cosine_topk(emb: DataFrame, vec: "F.Column") -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rank) exact top-TOP_K by cosine
    of ``vec`` (any vector expression over ``embedding``) for the
    query vectors (vec_id < N_QUERIES): the query set broadcasts
    against one corpus scan, a per-query window keeps k."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), vec.alias("qe")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), vec.alias("ce")
    )
    scored = broadcast(q).crossJoin(c).withColumn(
        "cos_sim", fround(cosine_sim(F.col("qe"), F.col("ce")), 4)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _hyperplanes(table: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5(table|plane|dim):
    components in [-1, 1], reproducible everywhere."""
    planes = []
    for j in range(N_PLANES):
        row = []
        for d in range(EMB_DIM):
            h = int(hashlib.md5(f"{table}|{j}|{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: L=4 independent 6-bit hash
    tables (the standard recall lever — a neighbor is found if ANY
    table buckets it with the query) with Hamming-1 multi-probe on the
    query side (7 probes per table — costs probes, not index space),
    exact rerank over the deduplicated candidates. Rows-only check
    (approximate recall by design); tests assert recall against the
    exact top-k.

    Scale shape: candidates partition by (table, bucket) — the
    inverted index; each query touches ~L*(1+n_planes)/2^n_planes of
    the corpus instead of all of it, tunable via N_TABLES/N_PLANES.
    """
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]

    def bucket(col, table: int):
        bits = []
        for j, plane in enumerate(_hyperplanes(table)):
            pl = F.array(*[F.lit(x) for x in plane])
            dot = F.aggregate(
                F.zip_with(col, pl, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            # sign decided on the ROUNDED dot (6 dp, half-away): ±1e-16
            # fold-order noise rounds to ±0.0 in BOTH engines, so the
            # bucket bit — and therefore the candidate SET — is
            # engine-reproducible, which is what lets this ANN path
            # carry a full value oracle (round 4).
            bits.append(F.when(fround(dot, 6) >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    tables = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), bucket(F.col("embedding"), t).alias("bucket"))
            for t in range(N_TABLES)
        ]
    )
    with_bucket = emb.select("vec_id", "embedding", F.explode(tables).alias("tb")).select(
        "vec_id", "embedding", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)]
    )
    q = with_bucket.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "tbl",
        F.explode(probes).alias("qb"),
    )
    c = with_bucket.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("tbl").alias("ctbl"),
        F.col("bucket").alias("cb"),
    )
    cand = (
        broadcast(q)
        .join(c, (F.col("tbl") == F.col("ctbl")) & (F.col("qb") == F.col("cb")))
        .select("query_id", "qe", "neighbor_id", "ce")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("cos_sim", fround(cosine_sim(F.col("qe"), F.col("ce")), 4))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


N_CENTROIDS = 16
N_PROBE = 4


def _centroid_assign(
    emb: DataFrame, centroids, n_best: int, with_rank: bool = False
) -> DataFrame:
    """(vec_id, centroid_id) for each vector's ``n_best`` nearest
    centroids by cosine (rounded, centroid_id tie-break — deterministic
    across engines). ``centroids`` is either a (vec_id, embedding)
    DataFrame or an already-collected ``(ids, matrix)`` numpy pair
    (dedup's trained routing codebook arrives pre-collected).
    ``with_rank=True`` adds the 1-based ``crank``
    column (the probe width at which this centroid enters the
    vector's probe set — dedup_routed_probe_sweep folds every width
    from one assignment pass).

    Vectorized like dedup's pair kernel: the (tiny) codebook matrix is
    broadcast, each Arrow batch of vectors scores all centroids in one
    numpy matmul (a per-pair array-lambda crossJoin runs interpreted at
    ~35 us/pair — the assignment alone was >1 s at sf0.1). Matmul
    reassociation stays ~1e-15 from the oracle's sequential fold, far
    below the 1e-4 rounding grid."""
    import numpy as np
    import pandas as pd

    if isinstance(centroids, tuple):
        cen_ids, cen_mat = centroids
    else:
        cen_ids, cen_mat = _collect_matrix(centroids)
    cen_norms = np.sqrt((cen_mat * cen_mat).sum(axis=1))
    # broadcast lifetime = the returned plan's; ContextCleaner reclaims it.
    bc = emb.sparkSession.sparkContext.broadcast((cen_ids, cen_mat, cen_norms))

    def blocks(batches):
        ids_b, mat_b, norms_b = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
            raw = (a_mat @ mat_b.T) / np.outer(a_norms, norms_b)
            # DuckDB ROUND semantics (scaled half-away-from-zero);
            # np.round is banker's at scaled .5 ties
            cos = fround_np(raw)
            out_vec, out_cen, out_rank = [], [], []
            for i in range(len(a_ids)):
                # row_number() over (cos desc, centroid_id asc)
                top = np.lexsort((ids_b, -cos[i]))[:n_best]
                out_vec.extend([a_ids[i]] * len(top))
                out_cen.extend(ids_b[top])
                out_rank.extend(range(1, len(top) + 1))
            out = {"vec_id": out_vec, "centroid_id": out_cen}
            if with_rank:
                out["crank"] = out_rank
            yield pd.DataFrame(out)

    schema = "vec_id long, centroid_id long" + (
        ", crank long" if with_rank else ""
    )
    return emb.select("vec_id", "embedding").mapInPandas(blocks, schema)


# Driver fast path bound for codebook training (the BPE-trainer
# take(limit+1) pattern, same figure as dedup.ROUTE_TRAIN_LIMIT):
# 65536 x 64-dim doubles = 32 MiB. Below it the whole corpus trains
# in numpy on the driver; above it the distributed per-round loop
# runs — result-identical on the 1e-4/1e-6 grids.
CODEBOOK_TRAIN_LIMIT = 65536


def _lloyd_rounds_np(ids, mat, corpus, iters: int):
    """Driver-side cosine-Lloyd rounds: (1e-4-rounded cosine argmax,
    1e-6-rounded mean update) over the full in-memory corpus. Shares
    the exact quantization grid with the distributed mapInPandas
    kernel, so both paths land on the same fixed points. Clusters
    that win no vectors drop out (both engines: the group simply has
    no rows)."""
    import numpy as np

    corpus_norms = np.sqrt((corpus * corpus).sum(axis=1))
    for _ in range(iters):
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = fround_np((corpus @ mat.T) / np.outer(corpus_norms, norms))
        best = cos.argmax(axis=1)  # first-max == smallest-cid tie-break
        k, d = mat.shape
        sums = np.zeros((k, d))
        counts = np.zeros(k, dtype=np.int64)
        np.add.at(sums, best, corpus)
        np.add.at(counts, best, 1)
        live = np.nonzero(counts)[0]
        ids = ids[live]
        mat = fround_np(sums[live] / counts[live, None], 6)
    return ids, mat


def _train_cosine_codebook(
    spark: SparkSession,
    emb: DataFrame,
    init_max_id: int,
    iters: int,
    train_limit: int = CODEBOOK_TRAIN_LIMIT,
    force_distributed: bool = False,
):
    """Train a fixed-K cosine-Lloyd codebook over the (vec_id,
    embedding) frame ``emb``, returning the bounded (ids, matrix)
    numpy pair `_centroid_assign` broadcasts. Init = the corpus rows
    with vec_id < ``init_max_id``; K is fixed (dead clusters drop).

    Deterministic end to end: per round each Arrow batch scores all
    K centroids in one numpy matmul, rounds cosines to the 1e-4 grid
    (fround_np — ties break to the smallest cid, argmax-first =
    ROW_NUMBER cid ASC in the oracle), and emits K·d partial
    (sum, count) rows; means are fround(·, 6) so the update lands on
    a grid ~9 orders above the engines' sum-order noise.

    Scale shape: per round ONE corpus scan (no vector shuffle — the
    shuffle carries ≤ K·d partial rows per task), one K·d-row driver
    collect. Nothing grows with n. Corpora ≤ ``train_limit`` vectors
    train on the driver in one numpy loop (take(limit+1) is the size
    check AND the data — the BPE-trainer pattern);
    ``force_distributed`` pins the two paths result-identical in
    tests. Shared by dedup's routing codebook (dedup._route_codebook)
    and the IVF coarse quantizer (_ivf_codebook)."""
    import numpy as np

    if not force_distributed:
        head = emb.take(train_limit + 1)
        if len(head) <= train_limit:
            head.sort(key=lambda r: r["vec_id"])
            corpus_ids = np.array([r["vec_id"] for r in head], dtype=np.int64)
            corpus = np.array([r["embedding"] for r in head], dtype=np.float64)
            init = corpus_ids < init_max_id
            return _lloyd_rounds_np(corpus_ids[init], corpus[init], corpus, iters)
    ids, mat = _collect_matrix(emb.filter(F.col("vec_id") < init_max_id))
    dim = mat.shape[1]
    for _ in range(iters):
        norms = np.sqrt((mat * mat).sum(axis=1))
        bc = spark.sparkContext.broadcast((ids, mat, norms))

        def partials(batches):
            import pandas as pd

            ids_b, mat_b, norms_b = bc.value
            k, d = mat_b.shape
            for pdf in batches:
                if pdf.empty:
                    continue
                a = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                an = np.sqrt((a * a).sum(axis=1))
                cos = fround_np((a @ mat_b.T) / np.outer(an, norms_b))
                # ids_b is sorted ascending, so argmax's first-max
                # convention == smallest-cid tie-break
                best = cos.argmax(axis=1)
                sums = np.zeros((k, d))
                counts = np.zeros(k, dtype=np.int64)
                np.add.at(sums, best, a)
                np.add.at(counts, best, 1)
                live = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "cid": np.repeat(ids_b[live], d),
                        "pos": np.tile(np.arange(d, dtype=np.int64), len(live)),
                        "s": sums[live].ravel(),
                        "c": np.repeat(counts[live], d),
                    }
                )

        rows = (
            emb.mapInPandas(partials, "cid long, pos long, s double, c long")
            .groupBy("cid", "pos")
            .agg(fround(F.sum("s") / F.sum("c"), 6).alias("m"))
            .collect()
        )
        by_cid: dict = {}
        for r in rows:
            by_cid.setdefault(r["cid"], [0.0] * dim)[r["pos"]] = r["m"]
        ids = np.array(sorted(by_cid), dtype=np.int64)
        mat = np.array([by_cid[c] for c in sorted(by_cid)], dtype=np.float64)
    return ids, mat


IVF_TRAIN_ITERS = 2


def _ivf_codebook(spark: SparkSession, sf_dir: str):
    """The TRAINED coarse quantizer every IVF-family operator routes
    on (round 10 — previously a fixed vec_id 5..20 stand-in): Lloyd
    over the candidate corpus (vec_id >= N_QUERIES) seeded from the
    former stand-in rows, via the shared quantized-grid trainer. The
    DuckDB twin is similarity_oracles._ivf_codebook_ctes (the
    dedup_semantic_routed unrolled-Lloyd composition). Memoized per
    (session, sf_dir) — every IVF-family operator shares ONE
    training."""

    def build():
        emb = load_tables(spark, sf_dir, register_views=False)[
            "embeddings"
        ].select("vec_id", "embedding")
        cand = emb.filter(F.col("vec_id") >= N_QUERIES)
        return _train_cosine_codebook(
            spark, cand, N_QUERIES + N_CENTROIDS, IVF_TRAIN_ITERS
        )

    return _codebook_memo(
        spark,
        sf_dir,
        f"ivf_coarse[K={N_CENTROIDS},i={IVF_TRAIN_ITERS},lim={CODEBOOK_TRAIN_LIMIT}]",
        build,
    )


def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: inverted-file buckets by nearest centroid, probe
    the query's 4 nearest lists, exact rerank inside them.

    The codebook is TRAINED (cosine Lloyd, _ivf_codebook) yet fully
    deterministic — quantized-grid rounds make the fit reproducible,
    so the operator keeps a full value-parity DuckDB oracle (the
    oracle unrolls the training rounds as CTEs) — unusual for ANN. At
    100 TB the candidate side is partitioned BY centroid_id (the
    inverted file); a query touches nprobe/nlist of the data instead
    of all of it.
    """
    return _ivf_topk(spark, sf_dir, N_PROBE)


def _ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int, centroids=None
) -> DataFrame:
    """sim_ivf_ann's body with the probe width as a parameter — shared
    by the registry operator (nprobe = N_PROBE) and the
    sim_ivf_nprobe_sweep tuning curve (which trains the codebook once
    and passes it to every width)."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    if centroids is None:
        centroids = _ivf_codebook(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") >= N_QUERIES)
    q = emb.filter(F.col("vec_id") < N_QUERIES)

    cand_buckets = _centroid_assign(cand, centroids, 1).withColumnsRenamed(
        {"vec_id": "neighbor_id"}
    )
    q_probes = _centroid_assign(q, centroids, nprobe).withColumnsRenamed({"vec_id": "query_id"})

    qe = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    ce = cand.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    pairs = (
        broadcast(q_probes)
        .join(cand_buckets, "centroid_id")
        .join(broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            fround(cosine_sim(F.col("qe"), F.col("ce")), 4).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in long form (label, dim, centroid):
    posexplode the embedding column and average per (label, dim). One
    map-side-combined shuffle of 64 partial sums per label per task —
    the building block for k-means / IVF codebook training at scale
    (never materializes vectors on the driver)."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(fround(F.avg(F.col("x").cast("double")), 4).alias("centroid"))
        .orderBy("label", "dim")
    )


def emb_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-tightness diagnostic: per-label vector count and the L2
    norm of the mean vector. Unit-norm inputs make the centroid norm
    exactly the average pairwise-alignment of the class (||c|| close
    to 1 = tight cluster, close to 0 = random). Same single-shuffle
    shape as emb_centroids, then a 640-row fold."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    sums = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("c"), F.count("*").alias("n"))
    )
    return (
        sums.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            fround(F.sqrt(F.sum(F.col("c") * F.col("c"))), 4).alias("centroid_norm"),
        )
        .orderBy("label")
    )


def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the storage/serving compression step (4x smaller vectors, fast
    int dot products). Per vector: scale = max|x| / 127, q_i =
    round(x_i / scale). Everything is array expressions in codegen;
    the verified output is one summary row per vector (scale + exact
    moments of the quantized values), so the oracle checks every q_i
    arithmetically without shipping a 100 TB long-form table through
    the compare."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    q = F.when(
        amax > 0,
        F.transform("embedding", lambda x: fround(x.cast("double") * 127 / F.col("amax"))),
    ).otherwise(F.transform("embedding", lambda x: F.lit(0.0)))
    return (
        emb.select("vec_id", "embedding", amax.alias("amax"))
        .select("vec_id", "amax", q.cast("array<int>").alias("q"))
        .select(
            "vec_id",
            fround(F.col("amax") / 127, 6).alias("scale"),
            F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
            F.aggregate(
                "q", F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
            ).alias("q_l1"),
            F.array_min("q").alias("q_min"),
            F.array_max("q").alias("q_max"),
        )
        .orderBy("vec_id")
    )


def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution statistics over the embedding corpus
    (mean / population stddev / min / max / L2 energy per dim) — the
    whitening & normalization table computed before building an index
    or quantizer. Same single posexplode + map-side-combined shuffle
    as emb_centroids: 64 partial rows per task regardless of corpus
    size, never a vector on the driver."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    x = F.col("x").cast("double")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            fround(F.avg(x), 4).alias("mean"),
            fround(F.stddev_pop(x), 4).alias("std"),
            fround(F.min(x), 4).alias("vmin"),
            fround(F.max(x), 4).alias("vmax"),
            fround(F.sum(x * x), 4).alias("energy"),
        )
        .orderBy("dim")
    )


KMEANS_K = 8
KMEANS_ITERS = 5


def _kmeans_fit(spark: SparkSession, sf_dir: str, k: int, iters: int):
    """Lloyd's k-means over the embedding corpus, DataFrame-iterative
    (the real codebook builder behind sim_ivf_ann's deterministic
    stand-in).

    Per round: assignment is a broadcast of the K x dim centroid table
    against the corpus (one scan, no shuffle of the vectors); the
    update is a posexplode + map-side-combined avg per (cluster, dim)
    — 64*K partial rows per task regardless of corpus size — then a
    K-row array rebuild. Centroids persist each round so lineage stays
    flat (same pattern as dedup_clusters). Returns (assignments,
    centroids); assignments = (vec_id, cid, dist_sq) under the FINAL
    centroids (one closing assign pass, materialized while those
    centroids are still persisted — an assignment built from an
    earlier round would recompute the whole unpersisted chain).

    Quantization discipline (round 7, the q_graph_bfs_levels recipe
    applied to Lloyd): centroid means are fround(., 6) after every
    update and distances fround(., 6) before the argmin — so the loop
    is a fixed-point iteration on a 1e-6 grid that a DuckDB
    unrolled-CTE oracle reproduces exactly (engine sum-order noise is
    ~1e-15, nine orders below the grid). The distance column returned
    IS the rounded one, so downstream WCSS sums quantized values in
    both engines.
    """
    from pyspark.sql.window import Window

    emb = (
        load_tables(spark, sf_dir, register_views=False)["embeddings"]
        .select("vec_id", "embedding")
        .persist()
    )
    emb.count()
    # deterministic init: the first K vectors by vec_id
    centroids = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cen"),
    )
    centroids = centroids.persist()
    centroids.count()

    def dist_sq():
        d = F.zip_with("embedding", "cen", lambda x, c: (x.cast("double") - c) ** 2)
        return fround(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x), 6)

    def assign(cen_df):
        w = Window.partitionBy("vec_id").orderBy("dist_sq", "cid")
        return (
            emb.crossJoin(broadcast(cen_df))
            .withColumn("dist_sq", dist_sq())
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cid", "dist_sq", "embedding")
        )

    for _ in range(iters):
        assigned = assign(centroids)
        new_centroids = (
            assigned.select("cid", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(fround(F.avg(F.col("x").cast("double")), 6).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("cen"))
            .persist()
        )
        new_centroids.count()
        centroids.unpersist()
        centroids = new_centroids
    # closing assignment under the FINAL (still-persisted) centroids;
    # the loop's `assigned` references centroids already unpersisted.
    assignments = assign(centroids).select("vec_id", "cid", "dist_sq").persist()
    assignments.count()
    emb.unpersist()
    return assignments, centroids


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering summary: per-cluster size and within-cluster
    sum of squares after KMEANS_ITERS Lloyd rounds. Iterative and
    float-accumulation-dependent, so rows-only at the driver gate;
    tests assert the algorithmic invariants (partition completeness,
    monotone WCSS, fixed-point assignment) instead."""
    assignments, centroids = _kmeans_fit(spark, sf_dir, KMEANS_K, KMEANS_ITERS)
    out = assignments.groupBy("cid").agg(
        F.count("*").alias("n_vectors"),
        fround(F.sum("dist_sq"), 2).alias("wcss"),
    )
    out = out.persist()
    out.count()
    # K summary rows stay cached; the big intermediates are released.
    assignments.unpersist()
    centroids.unpersist()
    return out.orderBy("cid")


def _cov_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding corpus in
    long form (i <= j, population covariance, plus the row's mu_i so
    PCA can rebuild the mean vector from the same frame) — the PCA /
    ZCA-whitening input that pairs with emb_dim_stats' per-dim moments.

    Scale shape: each Arrow batch folds into one 64x64 partial Gram
    matrix via numpy matmul (the same kernel as _centroid_assign), so
    the shuffle carries ~2k rows PER PARTITION regardless of corpus
    size — never a row per (vector, dim-pair). Means arrive by
    broadcast-joining the 64-row moment frame onto the pair totals;
    no driver collect, no cross join. Matmul reassociation stays
    ~1e-15 of the oracle's fold, far below the 1e-5 rounding grid.
    """
    import numpy as np
    import pandas as pd

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]

    def gram(batches):
        acc = None
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is None:
            return
        iu = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {"i": (iu[0] + 1).astype("int32"), "j": (iu[1] + 1).astype("int32"), "s": acc[iu]}
        )

    pair_sums = (
        emb.select("embedding")
        .mapInPandas(gram, "i int, j int, s double")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )
    means = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(F.avg(F.col("x").cast("double")).alias("mu"), F.count("*").alias("n"))
    )
    mi = means.select(F.col("dim").alias("i"), F.col("mu").alias("mu_i"), "n")
    mj = means.select(F.col("dim").alias("j"), F.col("mu").alias("mu_j"))
    return (
        pair_sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            fround(F.col("s") / F.col("n") - F.col("mu_i") * F.col("mu_j"), 5).alias("cov"),
            "mu_i",
        )
        .orderBy("i", "j")
    )


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix (registry view of
    _cov_enriched without the means column)."""
    return _cov_enriched(spark, sf_dir).select("i", "j", "cov")


PCA_K = 2


def _pca_fit(spark: SparkSession, sf_dir: str):
    """Driver-side spectral solve over the 64x64 covariance matrix
    (fixed size regardless of corpus — the only driver-sized object in
    the PCA pipeline). Returns (components dim x PCA_K leading-first,
    mean vector, descending eigenvalues, 4dp covariance trace). One
    collect serves the matrix, the mean vector (mu_i rides on every
    row; row (i, i) pins dim i's mean) and the trace."""
    import numpy as np

    from distributed_mapreduce_server_spark.functions import fround_scalar

    cov_rows = _cov_enriched(spark, sf_dir).collect()
    dim = max(r["j"] for r in cov_rows)
    C = np.zeros((dim, dim))
    means = np.zeros(dim)
    trace = 0.0
    for r in cov_rows:
        C[r["i"] - 1, r["j"] - 1] = r["cov"]
        C[r["j"] - 1, r["i"] - 1] = r["cov"]
        means[r["i"] - 1] = r["mu_i"]
        if r["i"] == r["j"]:
            trace += r["cov"]
    vals, vecs = np.linalg.eigh(C)  # ascending
    top = vecs[:, ::-1][:, :PCA_K]  # top-K components, leading first
    return top, means, vals[::-1][:PCA_K], fround_scalar(trace, 4)


def _pca_project_df(spark: SparkSession, sf_dir: str, comp, means) -> DataFrame:
    """Project every embedding onto the fitted components: the
    (comp, means) pair broadcasts and each Arrow batch projects with
    one numpy matmul."""
    import numpy as np
    import pandas as pd

    bc = spark.sparkContext.broadcast((comp, means))

    def project(batches):
        cmp_, mu = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64) - mu
            p = m @ cmp_
            out = {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64)}
            for k in range(cmp_.shape[1]):
                out[f"pc{k + 1}"] = np.round(p[:, k], 6)
            yield pd.DataFrame(out)

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    schema = "vec_id long, " + ", ".join(
        f"pc{k + 1} double" for k in range(comp.shape[1])
    )
    return emb.select("vec_id", "embedding").mapInPandas(project, schema)


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the top-PCA_K principal components — the
    dimensionality-reduction step after emb_covariance: whitening,
    visualization, or a compact pre-index embedding.

    Scale shape: the spectral solve runs on the DRIVER (_pca_fit,
    bounded 64x64), then the k projection vectors broadcast and every
    Arrow batch projects with one numpy matmul (_pca_project_df).
    Rows-only at the gate: eigenvector SIGN (and order under equal
    eigenvalues) is LAPACK-specific, so the signed coordinates cannot
    be oracle-hashed; everything sign-INVARIANT about the solve is
    oracle-gated by emb_pca_invariants instead.
    """
    comp, means, _vals, _trace = _pca_fit(spark, sf_dir)
    return _pca_project_df(spark, sf_dir, comp, means).orderBy("vec_id")


def emb_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated PCA trust row (VERDICT r10 task 5): the
    sign-invariant contract of the spectral solve, verified per
    component k against live data —

    - mean_zero: projections of mean-centered data average to 0;
    - var_matches_eigenvalue: POPULATION variance of the projected
      data equals the k-th eigenvalue of the covariance matrix (the
      Rayleigh identity; tolerance 1e-3 covers the 1e-5 grid the
      matrix entries are rounded on, spectral perturbation <= 64·5e-6);
    - orthonormal: unit norm and <= 1e-9 dot with every other
      component;
    - variance_ordered: component variances descend;
    - cov_trace: the covariance trace (total variance budget), the
      one NUMERIC column DuckDB recomputes independently from the
      parquet — same 5dp-entry/4dp-sum rounding as the Spark side.

    The booleans are computed from the live solve and pinned TRUE by
    the oracle, so a broken eigh / projection / covariance fails the
    driver's hash gate, not just a local pytest; emb_pca_project's
    EXPECTED_ROWS_ONLY entry then covers ONLY the eigenvector
    sign/order ambiguity."""
    comp, means, vals, trace = _pca_fit(spark, sf_dir)
    proj = _pca_project_df(spark, sf_dir, comp, means)
    aggs = []
    for k in range(1, PCA_K + 1):
        aggs += [
            F.avg(f"pc{k}").alias(f"mean{k}"),
            F.var_pop(f"pc{k}").alias(f"var{k}"),
        ]
    stats = proj.agg(*aggs).collect()[0]
    gram = comp.T @ comp
    rows = []
    for k in range(1, PCA_K + 1):
        ortho = abs(gram[k - 1, k - 1] - 1.0) <= 1e-9 and all(
            abs(gram[k - 1, j]) <= 1e-9 for j in range(PCA_K) if j != k - 1
        )
        ordered = (
            k == PCA_K or stats[f"var{k}"] >= stats[f"var{k + 1}"] - 1e-9
        )
        rows.append(
            (
                k,
                bool(abs(stats[f"mean{k}"]) <= 1e-4),
                bool(abs(stats[f"var{k}"] - float(vals[k - 1])) <= 1e-3),
                bool(ortho),
                bool(ordered),
                float(trace),
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, mean_zero boolean, var_matches_eigenvalue boolean,"
        " orthonormal boolean, variance_ordered boolean, cov_trace double",
    ).orderBy("component")


def emb_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-backfill coverage audit: per document source, how many
    docs have an embedding row (doc_id == vec_id) and the coverage
    fraction — the monitoring table a pipeline watches while an
    embedding backfill crawls a 100 TB corpus (dedup_semantic_keep
    documents the partial-coverage semantics this audit quantifies).

    Scale shape: a key-partitioned left join of ids only (no text, no
    vectors cross the shuffle) followed by a map-side-combined
    aggregation down to one row per source."""
    tables = load_tables(spark, sf_dir, register_views=False)
    docs = tables["documents"].select("doc_id", "source")
    emb_ids = tables["embeddings"].select(
        F.col("vec_id").alias("doc_id"), F.lit(True).alias("embedded")
    )
    return (
        docs.join(emb_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("embedded").alias("n_embedded"),
        )
        .select(
            "source",
            "n_docs",
            "n_embedded",
            fround(F.col("n_embedded") / F.col("n_docs"), 4).alias("coverage"),
        )
        .orderBy("source")
    )


PQ_M = 8  # subspaces (64 dims -> 8 x 8)
PQ_SUB_DIM = EMB_DIM // PQ_M


PQ_TRAIN_ITERS = 2


def _pq_lloyd_np(ids, mat, corpus, iters: int):
    """Driver-side per-subspace L2 Lloyd: per round and subspace m,
    assignment = argmin over 1e-4-rounded squared sub-distance (ties
    to the lowest cid — ids sorted ascending, argmin-first), update =
    1e-6-rounded sub-vector mean; a sub-cluster that wins no vectors
    KEEPS its previous centroid (K stays fixed so the stitched
    (PQ_K x EMB_DIM) matrix shape — block m holds subspace m's
    codebook — survives training)."""
    import numpy as np

    for _ in range(iters):
        new = mat.copy()
        for m in range(PQ_M):
            lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
            diff = corpus[:, None, lo:hi] - mat[None, :, lo:hi]
            d = fround_np((diff * diff).sum(axis=2))
            best = d.argmin(axis=1)
            sums = np.zeros((len(ids), PQ_SUB_DIM))
            counts = np.zeros(len(ids), dtype=np.int64)
            np.add.at(sums, best, corpus[:, lo:hi])
            np.add.at(counts, best, 1)
            live = counts > 0
            new[live, lo:hi] = fround_np(sums[live] / counts[live, None], 6)
        mat = new
    return ids, mat


def _pq_codebook(
    emb: DataFrame, force_distributed: bool = False, sf_dir: str | None = None
):
    """The TRAINED per-subspace PQ codebook (round 10 — previously the
    fixed vec_id 5..20 stand-in): PQ_TRAIN_ITERS rounds of L2 Lloyd
    per subspace over the FULL corpus (the encoder encodes every
    vector), seeded from the former stand-in rows. ONE definition
    shared by the encoder (emb_pq_quantize) and every ADC serving
    scan, so they can never disagree on the codebook.

    Returns the same (ids, stitched matrix) pair as before — block m
    of each row is subspace m's centroid — so every downstream
    lo:hi-slicing kernel is untouched. Deterministic via the
    quantized-grid discipline (1e-4 distances before argmin, 1e-6
    means, keep-previous on empty) -> the oracles unroll the rounds
    as CTEs (similarity_oracles._pq_codebook_ctes).

    Scale shape mirrors _train_cosine_codebook: driver numpy loop
    under CODEBOOK_TRAIN_LIMIT (take(limit+1) = size check AND data);
    above it, per round ONE corpus scan emitting ≤ PQ_K·EMB_DIM
    partial (sum, count) rows per task and a bounded driver collect.
    Callers that derive ``emb`` straight from load_tables pass
    ``sf_dir`` so the training memoizes per (session, sf_dir);
    force_distributed (the path-equality tests) always retrains.
    """
    spark = emb.sparkSession
    if sf_dir is not None and not force_distributed:
        # i/lim ride in the key like K does (ADVICE r12): a sweep that
        # retunes the training constants must never see a stale book.
        return _codebook_memo(
            spark,
            sf_dir,
            f"pq[M={PQ_M},K={PQ_K},i={PQ_TRAIN_ITERS},lim={CODEBOOK_TRAIN_LIMIT}]",
            lambda: _pq_codebook(emb, force_distributed),
        )
    import numpy as np

    base = emb.select("vec_id", "embedding")
    if not force_distributed:
        head = base.take(CODEBOOK_TRAIN_LIMIT + 1)
        if len(head) <= CODEBOOK_TRAIN_LIMIT:
            head.sort(key=lambda r: r["vec_id"])
            corpus_ids = np.array([r["vec_id"] for r in head], dtype=np.int64)
            corpus = np.array([r["embedding"] for r in head], dtype=np.float64)
            init = (corpus_ids >= N_QUERIES) & (corpus_ids < N_QUERIES + PQ_K)
            return _pq_lloyd_np(
                corpus_ids[init], corpus[init], corpus, PQ_TRAIN_ITERS
            )
    ids, mat = _collect_matrix(
        base.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
    )
    for _ in range(PQ_TRAIN_ITERS):
        bc = spark.sparkContext.broadcast(mat)

        def partials(batches):
            import pandas as pd

            mat_b = bc.value
            k = mat_b.shape[0]
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                out_pos, out_ci, out_s, out_c = [], [], [], []
                for m in range(PQ_M):
                    lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
                    diff = x[:, None, lo:hi] - mat_b[None, :, lo:hi]
                    d = fround_np((diff * diff).sum(axis=2))
                    best = d.argmin(axis=1)
                    sums = np.zeros((k, PQ_SUB_DIM))
                    counts = np.zeros(k, dtype=np.int64)
                    np.add.at(sums, best, x[:, lo:hi])
                    np.add.at(counts, best, 1)
                    live = np.nonzero(counts)[0]
                    out_ci.append(np.repeat(live, PQ_SUB_DIM))
                    out_pos.append(
                        np.tile(np.arange(lo, hi, dtype=np.int64), len(live))
                    )
                    out_s.append(sums[live].ravel())
                    out_c.append(np.repeat(counts[live], PQ_SUB_DIM))
                if out_ci:
                    yield pd.DataFrame(
                        {
                            "ci": np.concatenate(out_ci),
                            "pos": np.concatenate(out_pos),
                            "s": np.concatenate(out_s),
                            "c": np.concatenate(out_c),
                        }
                    )

        rows = (
            base.mapInPandas(partials, "ci long, pos long, s double, c long")
            .groupBy("ci", "pos")
            .agg(fround(F.sum("s") / F.sum("c"), 6).alias("m"))
            .collect()
        )
        new = mat.copy()  # keep-previous on empty sub-clusters
        for r in rows:
            new[r["ci"], r["pos"]] = r["m"]
        mat = new
    return ids, mat


PQ_K = 16  # centroids per sub-codebook -> 4-bit codes


def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the storage side of IVF-PQ ANN: each
    vector splits into PQ_M subspaces, and each subspace is encoded as
    the id of its nearest sub-codebook centroid (PQ_K=16 -> 4-bit
    codes, a 64x compression of a float32 vector). Output per vector:
    the PQ code word plus the reconstruction error — the quantization
    audit a serving index is sized against.

    Like sim_ivf_ann, the codebook is TRAINED (per-subspace L2 Lloyd,
    _pq_codebook, round 10) yet fully deterministic via the
    quantized-grid discipline, which keeps the whole operator
    reproducible -> FULL value parity (the oracle unrolls the
    training rounds), rare for a quantizer. Scale shape: the codebook is broadcast
    (PQ_K x EMB_DIM — fixed at any corpus size), each Arrow batch
    scores all subspaces with numpy broadcasting, nothing corpus-
    sized on the driver. Distances are rounded to the 1e-4 grid
    BEFORE the argmin (ties break to the lower centroid id) so the
    selection is stable across engines — the _centroid_assign
    pattern."""
    import numpy as np
    import pandas as pd

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    cen_ids, cen_mat = _pq_codebook(emb, sf_dir=sf_dir)
    bc = spark.sparkContext.broadcast((cen_ids, cen_mat))

    def blocks(batches):
        ids_c, cen = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = {"vec_id": vids}
            err = np.zeros(len(vids))
            for m in range(PQ_M):
                lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
                diff = x[:, None, lo:hi] - cen[None, :, lo:hi]
                d = (diff * diff).sum(axis=2)
                # DuckDB ROUND semantics before argmin: selection must
                # not depend on sub-1e-4 float noise
                d = fround_np(d)
                best = np.argmin(d, axis=1)  # first min = lowest cid
                out[f"code{m}"] = ids_c[best].astype(np.int32)
                err += d[np.arange(len(vids)), best]
            out["recon_err"] = fround_np(err)
            yield pd.DataFrame(out)

    schema = (
        "vec_id long, "
        + ", ".join(f"code{m} int" for m in range(PQ_M))
        + ", recon_err double"
    )
    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(blocks, schema)
        .orderBy("vec_id")
    )


def sim_pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN — the serving-side half of IVF-PQ: queries score
    candidates by Asymmetric Distance Computation (a per-query lookup
    table of subspace distances to every sub-centroid; a candidate's
    distance is 8 table lookups summed over its PQ code — no float
    vector is ever touched at query time). Top-10 per query by ADC
    distance.

    Fully deterministic given the deterministic codebook (distances
    rounded to the 1e-4 grid before argmin/sum, ties to the lower
    id), so this ANN variant carries a FULL value-parity oracle.
    Scale shape: the LUT is PQ_M x PQ_K doubles per query — built
    once from the bounded query set and broadcast; the candidate side
    streams through the same Arrow kernel that encodes it, so the
    scan reads codes-only state at serving time in a real index.

    Recall caveat (measured, not hidden): on this corpus's
    near-random vectors, 4-bit codes are quantization-limited even
    with the TRAINED per-subspace codebook (round 10) — 64 dims of
    noise cannot be summarized by 8x4 bits, which is what PQ does to
    unstructured data. Trained recalls are committed in SURVEY §2.4;
    a production index additionally ranks within IVF probe lists
    (sim_ivfpq_ann); the operator here verifies the ADC machinery
    itself, exactly."""
    import numpy as np
    import pandas as pd

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    _, cen_mat = _pq_codebook(emb, sf_dir=sf_dir)
    q_ids, q_mat = _collect_matrix(emb.filter(F.col("vec_id") < N_QUERIES))

    # LUT[q, m, j] = rounded squared distance from query q's subspace
    # m to sub-centroid j — fixed size (|Q| x 8 x 16) at any corpus
    lut = np.zeros((len(q_ids), PQ_M, PQ_K))
    for m in range(PQ_M):
        lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
        diff = q_mat[:, None, lo:hi] - cen_mat[None, :, lo:hi]
        lut[:, m, :] = fround_np((diff * diff).sum(axis=2))
    bc = spark.sparkContext.broadcast((cen_mat, q_ids, lut))

    def blocks(batches):
        cen, qids, tab = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # encode (same kernel as emb_pq_quantize), then ADC-score
            # all queries against the batch via LUT gathers
            adc = np.zeros((len(qids), len(vids)))
            for m in range(PQ_M):
                lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
                diff = x[:, None, lo:hi] - cen[None, :, lo:hi]
                d = fround_np((diff * diff).sum(axis=2))
                codes = np.argmin(d, axis=1)
                adc += tab[:, m, :][:, codes]
            adc = fround_np(adc)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(vids)),
                    "neighbor_id": np.tile(vids, len(qids)),
                    "adc_dist": adc.reshape(-1),
                }
            )

    cand = emb.filter(F.col("vec_id") >= N_QUERIES).select("vec_id", "embedding")
    scored = cand.mapInPandas(blocks, "query_id long, neighbor_id long, adc_dist double")
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


def sim_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the two serving halves composed the way a
    production index (FAISS IVFPQ) ships them: the coarse quantizer
    routes every candidate into its nearest IVF list (sim_ivf_ann's
    assignment), queries probe their N_PROBE nearest lists, and
    INSIDE the probed lists candidates are scored by PQ-ADC over
    their code words (sim_pq_adc_ann's LUT kernel) — no float vector
    is touched at query time, and only nprobe/nlist of the corpus is
    scanned per query. This is the ``by_residual=False`` IVFPQ
    variant (codes encode raw vectors, not list residuals), which is
    a real FAISS option and what keeps the operator fully
    deterministic -> FULL value-parity oracle, like both parents.

    Scale shape: candidate codes+list-ids partition BY centroid_id
    (the inverted file); the query LUT is |Q| x PQ_M x PQ_K doubles —
    bounded at any corpus size — broadcast to the Arrow kernel; the
    probe join is an equi-join on centroid_id whose fan-out is list
    size, never the corpus. Recall carries both parents' documented
    caveats (untrained stand-in codebooks on near-random vectors);
    the machinery — routing, probing, encode, ADC — is verified
    exactly."""
    import numpy as np
    import pandas as pd

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    centroids = _ivf_codebook(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") >= N_QUERIES)
    q = emb.filter(F.col("vec_id") < N_QUERIES)

    cand_buckets = _centroid_assign(cand, centroids, 1).withColumnsRenamed(
        {"vec_id": "neighbor_id"}
    )
    q_probes = _centroid_assign(q, centroids, N_PROBE).withColumnsRenamed(
        {"vec_id": "query_id"}
    )

    # ADC lookup table from the bounded query set (sim_pq_adc_ann's
    # construction, shared rounding discipline)
    _, cen_mat = _pq_codebook(emb, sf_dir=sf_dir)
    q_ids, q_mat = _collect_matrix(q)
    lut = np.zeros((len(q_ids), PQ_M, PQ_K))
    for m in range(PQ_M):
        lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
        diff = q_mat[:, None, lo:hi] - cen_mat[None, :, lo:hi]
        lut[:, m, :] = fround_np((diff * diff).sum(axis=2))
    qpos = {int(v): i for i, v in enumerate(q_ids)}
    bc = spark.sparkContext.broadcast((cen_mat, qpos, lut))

    # candidates restricted to probed lists BEFORE any scoring — the
    # IVF pruning is the point; each candidate sits in exactly one
    # list and probes are distinct, so pairs are already unique
    ce = cand.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    pairs = (
        broadcast(q_probes)
        .join(cand_buckets, "centroid_id")
        .select("query_id", "neighbor_id")
        .join(ce, "neighbor_id")
    )

    def blocks(batches):
        cen, qix, tab = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qi = np.array([qix[int(v)] for v in pdf["query_id"]], dtype=np.int64)
            adc = np.zeros(len(pdf))
            for m in range(PQ_M):
                lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
                diff = x[:, None, lo:hi] - cen[None, :, lo:hi]
                d = fround_np((diff * diff).sum(axis=2))
                codes = np.argmin(d, axis=1)  # first min = lowest cid
                adc += tab[qi, m, codes]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    "adc_dist": fround_np(adc),
                }
            )

    scored = pairs.mapInPandas(
        blocks, "query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


def _recall_at_k(spark: SparkSession, sf_dir: str, label_ddl: str, arms) -> DataFrame:
    """recall@k of every (label value, arm frame) in ``arms`` against
    the exact cosine top-k, one row per arm: n_returned, n_hits and
    recall_at_k = |arm ∩ exact top-k| / |exact top-k|, ordered by the
    label column ``label_ddl`` declares. The exact top-k is built and
    persisted once for the whole loop; each arm is consumed as it is
    yielded and its intersection is a top-k-sized join (|Q|·k rows)."""
    from distributed_mapreduce_server_spark.functions import fround_scalar

    key = ["query_id", "neighbor_id"]
    exact = sim_cosine_topk(spark, sf_dir).select(*key).persist()
    n_exact = exact.count()
    rows = []
    for name, arm in arms:
        got = arm.select(*key).persist()
        n_ret = got.count()
        n_hit = got.join(exact, key, "left_semi").count()
        got.unpersist()
        rows.append((name, n_ret, n_hit, fround_scalar(n_hit / n_exact, 4)))
    exact.unpersist()
    return spark.createDataFrame(
        rows, f"{label_ddl}, n_returned bigint, n_hits bigint, recall_at_k double"
    ).orderBy(label_ddl.split()[0])


def sim_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall harness: every approximate serving arm (Hamming/BQ,
    IVF, IVF-PQ, LSH, full-scan PQ-ADC) scored against the exact
    cosine top-k by _recall_at_k. Every arm is deterministic, so the
    DuckDB twin re-runs each arm's own oracle SQL as a CTE and
    intersects: the eval can never drift from the operators it
    evaluates."""
    arms = [
        ("hamming", sim_hamming_ann),
        ("ivf", sim_ivf_ann),
        ("ivfpq", sim_ivfpq_ann),
        ("lsh", sim_lsh_ann),
        ("pq_adc", sim_pq_adc_ann),
    ]
    return _recall_at_k(
        spark, sf_dir, "arm string", ((n, fn(spark, sf_dir)) for n, fn in arms)
    )


# all-pairs k-NN join: neighbors kept per vector (block count B is
# adaptive, blocked.BLOCK_TARGET_ROWS rows per block)
KNN_K = 5


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs k-NN JOIN: every vector's top-5 most-similar other
    vectors by cosine — the batch kernel behind SemDedup-style
    clustering, embedding-graph construction, and retrieval-index
    bootstrapping (sim_cosine_topk answers a small query SET; this
    answers it for the WHOLE corpus).

    Scale shape: vectors hash into B adaptive blocks; each unordered
    block pair is one cogrouped applyInPandas task that computes its
    cos sub-matrix (numpy matmul) and emits only each vector's LOCAL
    top-k within that cell — so the shuffle out of the kernel is
    <= k rows per (vector, cell), i.e. k*B per vector, never the n^2
    score matrix. A final per-vector window merges the partial top-ks.
    Per-task memory is two n/B-row blocks; B trades task count
    against replication exactly like the dedup matmul
    (dedup.py:_blocked_cosine_pairs). The n^2 flop count is the
    operator's exact semantics; the approximate regime (IVF/LSH/PQ)
    lives in the sim_*_ann family.

    Determinism: scores are rounded to the 1e-4 grid half-away (DuckDB
    ROUND semantics) BEFORE local selection AND the local selection
    uses the same (cos desc, nbr_id asc) order as the final window, so
    a tied global top-k member can never be dropped by a cell. The
    grid scaffold is shared with the dedup matmul via blocked.py.
    """
    import numpy as np
    import pandas as pd

    from distributed_mapreduce_server_spark.operators.blocked import (
        blocked_cosine_grid,
    )

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]

    def _local_topk(ids_from: np.ndarray, ids_to: np.ndarray, cos: np.ndarray):
        """Per row of ``cos``: the <=k best (cos desc, id asc) columns.
        One C-level lexsort over the whole cell — no per-row Python
        loop; ties at the k boundary resolve by id, matching the
        final merge window, so a global top-k member always
        survives its cell."""
        k = min(KNN_K, cos.shape[1])
        order = np.lexsort((np.broadcast_to(ids_to, cos.shape), -cos), axis=-1)[:, :k]
        top_cos = np.take_along_axis(cos, order, axis=1)
        keep = (top_cos > -np.inf).reshape(-1)  # drop masked self-pairs
        return pd.DataFrame(
            {
                "vec_id": np.repeat(ids_from, k)[keep],
                "nbr_id": ids_to[order].reshape(-1)[keep],
                "cos_sim": top_cos.reshape(-1)[keep],
            }
        )

    def cell(diagonal, a_ids, b_ids, cos):
        if diagonal:
            cos = cos.copy()
            cos[a_ids[:, None] == b_ids[None, :]] = -np.inf
            return _local_topk(a_ids, b_ids, cos)
        return pd.concat(
            [_local_topk(a_ids, b_ids, cos), _local_topk(b_ids, a_ids, cos.T)],
            ignore_index=True,
        )

    from distributed_mapreduce_server_spark.catalog import table_row_count

    cand = blocked_cosine_grid(
        spark, emb, None, cell, "vec_id long, nbr_id long, cos_sim double",
        n_hint=table_row_count(sf_dir, "embeddings"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("nbr_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "nbr_id", "cos_sim", "rank")
        .orderBy("vec_id", "rank")
    )


# deterministic fake encoder: output dim and the re-encode tail size
# (newest docs re-embedded after a model refresh)
ENC_DIM = 8
EMB_REFRESH_TAIL = 100


def emb_encode_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding BACKFILL inference — the pipeline stage emb_coverage
    audits and dedup_semantic_keep consumes: encode every document
    that is missing an embedding row, plus re-encode the newest
    EMB_REFRESH_TAIL docs (the shard a model refresh re-embeds).
    Output is long-form (doc_id, dim, val).

    Scale shape: the backfill set comes from one ids-only
    key-partitioned left join (flag null = missing) + a 1-row
    broadcast max-id cutoff; encoding runs in mapInPandas — Arrow
    batches stream through the Python worker with NO shuffle, memory
    bounded by spark.sql.execution.arrow.maxRecordsPerBatch, perfectly
    parallel across input splits. That is exactly the production
    batch-inference shape; swapping the hash kernel below for a real
    model forward pass (ONNX/torch session per worker, reused across
    batches) changes nothing about the plan. The deterministic
    stand-in — val(d) = (md5_u60(text|'|'|d) % 2001 - 1000)/1000 —
    exists so the whole stage carries a FULL value oracle (DuckDB
    reproduces md5 bit-for-bit), like the multimodal decode fake
    (multimodal.py).
    """
    import pandas as pd

    tables = load_tables(spark, sf_dir, register_views=False)
    docs = tables["documents"].select("doc_id", "text")
    have = tables["embeddings"].select(
        F.col("vec_id").alias("doc_id"), F.lit(True).alias("has_emb")
    )
    cut = docs.agg((F.max("doc_id") - (EMB_REFRESH_TAIL - 1)).alias("tail_from"))
    backfill = (
        docs.join(have, "doc_id", "left")
        .crossJoin(broadcast(cut))
        .filter(F.col("has_emb").isNull() | (F.col("doc_id") >= F.col("tail_from")))
        .select("doc_id", "text")
    )

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, dims, vals = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                for d in range(1, ENC_DIM + 1):
                    h = int(hashlib.md5(f"{text}|{d}".encode()).hexdigest()[:15], 16)
                    ids.append(did)
                    dims.append(d)
                    vals.append((h % 2001 - 1000) / 1000.0)
            yield pd.DataFrame({"doc_id": ids, "dim": dims, "val": vals})

    return (
        backfill.mapInPandas(encode, "doc_id long, dim int, val double")
        .orderBy("doc_id", "dim")
    )


RANGE_SEARCH_T = 0.3


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search: every corpus neighbor within similarity >=
    RANGE_SEARCH_T of each query vector — the radius-query twin of
    sim_cosine_topk (retrieval wants top-k; dedup/matching wants
    "everything this close", where the result size is data-dependent).
    Same scale shape as top-k: broadcast the bounded query set, scan
    the corpus once, emit only threshold survivors — no ranking
    window at all, so the plan is scan + broadcast join + filter. The
    threshold compares the ROUNDED score (fround 4) in both engines,
    so the boundary cannot flip on a sub-rounding ulp.
    """
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    return (
        broadcast(q)
        .crossJoin(c)
        .withColumn("cos_sim", fround(cosine_sim(F.col("qe"), F.col("ce")), 4))
        .filter(F.col("cos_sim") >= RANGE_SEARCH_T)
        .select("query_id", "neighbor_id", "cos_sim")
        .orderBy("query_id", "neighbor_id")
    )


MMR_QUERY_ID = 0
MMR_CANDIDATES = 30
MMR_K = 10
MMR_LAMBDA = 0.7
MMR_ONE_MINUS_LAMBDA = 0.3  # explicit literal: 1 - 0.7 != 0.3 in doubles


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    from the top-MMR_CANDIDATES cosine hits for the query vector,
    greedily select MMR_K results maximizing
    0.7·rel(d) − 0.3·max_{s∈selected} sim(d, s) — relevance with a
    diversity penalty, the standard serving-side re-rank after ANN.

    Scale shape: candidate generation is the distributed part (one
    broadcast-query corpus scan + sort-limit top-30, exactly
    sim_cosine_topk's plan). The greedy loop then runs driver-side
    over the CANDIDATE SET ONLY — a bounded MMR_CANDIDATES-row
    collect, constant at any corpus scale. Both rel and pairwise
    sims are rounded to 4 dp before selection with vec_id
    tie-breaks, and the pairwise cosines are computed dot-then-divide
    (same FP operation order as the oracle's dot/(|x||y|), NOT
    normalize-then-matmul) so the greedy path is engine-reproducible;
    the oracle unrolls the same 10 steps as sequential CTEs."""
    import numpy as np

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    q = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select(F.col("embedding").alias("qe"))
    c = emb.filter(F.col("vec_id") != MMR_QUERY_ID).select("vec_id", "embedding")
    cand = (
        broadcast(q)
        .crossJoin(c)
        .select(
            "vec_id",
            "embedding",
            fround(cosine_sim(F.col("qe"), F.col("embedding")), 4).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
    )
    rows = cand.collect()  # bounded: MMR_CANDIDATES rows
    rows.sort(key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    rel = {r["vec_id"]: r["rel"] for r in rows}
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    sim = fround_np((mat @ mat.T) / np.outer(norms, norms), 4)

    idx = {v: i for i, v in enumerate(ids)}
    selected: list[int] = []
    remaining = set(ids)
    picks = []
    while len(selected) < MMR_K and remaining:
        if not selected:
            # first pick: pure relevance
            best = max(remaining, key=lambda v: (rel[v], -v))
        else:
            sel_idx = [idx[s] for s in selected]

            def score(v: int) -> float:
                return (
                    MMR_LAMBDA * rel[v]
                    - MMR_ONE_MINUS_LAMBDA * float(np.max(sim[idx[v], sel_idx]))
                )

            best = max(remaining, key=lambda v: (score(v), -v))
        selected.append(best)
        remaining.discard(best)
        picks.append((len(selected), best, rel[best]))
    return spark.createDataFrame(picks, "mmr_rank int, vec_id bigint, rel double").orderBy(
        "mmr_rank"
    )


MATRYOSHKA_DIM = 16


def sim_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: for each query, how
    much of the full-dimension cosine top-k survives when vectors are
    truncated to the first MATRYOSHKA_DIM dims (the MRL serving
    trade-off: 4x less memory/bandwidth per vector vs recall). Emits
    per-query overlap and recall@k between the two rankings.

    Plan shape: both rankings are the sim_cosine_topk plan
    (_cosine_topk); the truncated arm scans SLICED arrays, so at scale
    the column reader feeds 4x fewer bytes into the kernel; the
    overlap join is k-vs-k per query."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    full = _cosine_topk(emb, F.col("embedding"))
    trunc = _cosine_topk(emb, F.slice(F.col("embedding"), 1, MATRYOSHKA_DIM))
    counts = (
        full.select("query_id", "neighbor_id")
        .join(trunc.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("integer").alias("n_overlap"))
    )
    # left join from the query list so a fully-divergent ranking still
    # reports its query with recall 0 instead of silently vanishing
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(F.col("vec_id").alias("query_id"))
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0))
    return (
        queries.join(counts, "query_id", "left")
        .select(
            "query_id",
            n_overlap.cast("integer").alias("n_overlap"),
            fround(n_overlap / F.lit(float(TOP_K)), 2).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _sign_words(col: "F.Column") -> tuple["F.Column", "F.Column"]:
    """Pack a 64-dim vector's sign bits into two 32-bit words
    (MSB-first fold acc*2 + bit — variable-shift-free, identical
    integer arithmetic in DuckDB's weighted list_sum twin)."""

    def word(start: int):
        bits = F.transform(
            F.slice(col, start, 32), lambda x: (x > 0).cast("bigint")
        )
        return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, b: acc * 2 + b)

    return word(1), word(33)


def emb_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit binary quantization (sign bits): each 64-dim float vector
    compressed to two 32-bit words — 256 bytes -> 8, the cheapest
    serving representation below int8 (emb_quantize) and PQ
    (emb_pq_quantize). Pure codegen column expressions; exact integer
    output so the oracle is bit-perfect, no rounding discipline
    needed."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    hi, lo = _sign_words(F.col("embedding"))
    return (
        emb.select(
            "vec_id",
            hi.alias("sig_hi"),
            lo.alias("sig_lo"),
            (F.bit_count(hi) + F.bit_count(lo)).cast("integer").alias("n_pos_dims"),
        )
        .orderBy("vec_id")
    )


def _hamming_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, hamming) over the binary signatures —
    the shared scoring frame behind sim_hamming_ann (direct top-k)
    and sim_bq_rerank (shortlist stage): broadcast query signatures x
    one 8-byte-signature scan, popcount-of-XOR distance."""
    sigs = emb_binary_quantize(spark, sf_dir).select("vec_id", "sig_hi", "sig_lo")
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_hi").alias("q_hi"),
        F.col("sig_lo").alias("q_lo"),
    )
    c = sigs.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "sig_hi", "sig_lo"
    )
    dist = (
        F.bit_count(F.col("q_hi").bitwiseXOR(F.col("sig_hi")))
        + F.bit_count(F.col("q_lo").bitwiseXOR(F.col("sig_lo")))
    ).cast("integer")
    return broadcast(q).crossJoin(c).select("query_id", "neighbor_id", dist.alias("hamming"))


HAMMING_TOP_K = 10


def sim_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the binary-quantized vectors: top-k by Hamming
    distance between sign signatures (popcount of XOR) — the serving
    scan that pairs with emb_binary_quantize. The whole query is
    integer-only (no float ties anywhere): broadcast 5-query
    signature set x one signature scan, per-query top-k via window
    rank with id tie-break. At scale the candidate side reads 8-byte
    signatures instead of 256-byte vectors — a 32x scan-bandwidth
    cut, which is the entire point of binary quantization."""
    scored = _hamming_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("integer"))
        .filter(F.col("rank") <= HAMMING_TOP_K)
        .select("query_id", "neighbor_id", "hamming", "rank")
        .orderBy("query_id", "rank")
    )


BQ_SHORTLIST = 50


def sim_bq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real binary-quantization serving pattern: Hamming shortlist
    (top BQ_SHORTLIST signatures per query — the 8-byte scan), then
    EXACT cosine rerank of only those candidates against the full
    float vectors (the 256-byte reads drop from corpus-sized to
    shortlist-sized). Both stages are deterministic (integer distance
    + id tie-break; rounded cosine + id tie-break), so unlike most
    two-stage ANN this carries a full value-parity oracle."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    wham = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    shortlist = (
        _hamming_scored(spark, sf_dir)
        .withColumn("hrank", F.row_number().over(wham))
        .filter(F.col("hrank") <= BQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qv_id"), F.col("embedding").alias("qe")
    )
    cv = emb.select(F.col("vec_id").alias("cv_id"), F.col("embedding").alias("ce"))
    scored = (
        shortlist.join(broadcast(qv), F.col("query_id") == F.col("qv_id"))
        .join(cv, F.col("neighbor_id") == F.col("cv_id"))
        .select(
            "query_id",
            "neighbor_id",
            fround(cosine_sim(F.col("qe"), F.col("ce")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("integer"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report: assign every vector to its nearest IVF
    centroid (the deterministic codebook sim_ivf_ann uses) and score
    each cluster's label PURITY — majority-label fraction + distinct
    labels — against the embeddings' ground-truth label column. The
    measurement that decides whether a codebook is good enough to
    route by. Assignment is the vectorized broadcast-codebook kernel;
    purity is max_by over per-(cluster, label) counts — two tiny aggs
    above one corpus pass."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    centroids = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    )
    assigned = _centroid_assign(emb, centroids, 1).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    per_label = assigned.groupBy("centroid_id", "label").agg(
        F.count("*").alias("n")
    )
    return (
        per_label.groupBy("centroid_id")
        .agg(
            F.sum("n").alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
            F.max_by(F.col("label"), F.struct(F.col("n"), -F.col("label"))).alias(
                "majority_label"
            ),
            fround(F.max("n") / F.sum("n"), 4).alias("purity"),
        )
        .orderBy("centroid_id")
    )


NORM_OUTLIER_SIGMA = 2.5


def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm outliers: vectors whose L2 norm sits more than
    NORM_OUTLIER_SIGMA·σ from the corpus mean — the 30-second sanity gate before any
    index build (a batch of zero vectors or exploded norms from a bad
    encoder checkpoint shows up here first; the ANN arms all assume
    roughly calibrated norms).

    Scale shape: the norm is a per-row sequential array fold (same
    left-to-right order as the oracle's list_sum — bit-comparable,
    the cosine_sim contract); (μ, σ) reduce to a 1-row broadcast
    joined back, exactly the q_events_anomaly shape — no window over
    the corpus, two passes, nothing vector-sized on the driver."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    norms = emb.select("vec_id", "label", norm.alias("norm"))
    stats = norms.agg(
        F.avg("norm").alias("mu"), F.stddev_samp("norm").alias("sigma")
    )
    return (
        norms.crossJoin(F.broadcast(stats))
        .filter(F.abs(F.col("norm") - F.col("mu")) > NORM_OUTLIER_SIGMA * F.col("sigma"))
        .select(
            "vec_id",
            "label",
            fround("norm", 4).alias("norm"),
            fround((F.col("norm") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
        )
        .orderBy("vec_id")
    )


def emb_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class centroid geometry: L2 distance and cosine between
    every pair of label centroids — the class-separability map read
    next to emb_label_coherence (tight classes whose centroids sit on
    top of each other are still unseparable; this is the between-class
    half of that diagnostic).

    Scale shape: one map-side-combined shuffle to the (label × dim)
    centroid frame (the emb_centroids kernel — nothing vector-sized
    on the driver), then all pair arithmetic runs on the K·64-row
    aggregate. Centroids are rounded to 4 dp BEFORE the pair math in
    both engines, so the distance sums start from identical inputs."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    c = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(fround(F.avg(F.col("x").cast("double")), 4).alias("c"))
    )
    norms = c.groupBy("label").agg(F.sum(F.col("c") * F.col("c")).alias("ss"))
    a = c.select(F.col("label").alias("la"), "pos", F.col("c").alias("ca"))
    b = c.select(F.col("label").alias("lb"), "pos", F.col("c").alias("cb"))
    pairs = (
        a.join(b, "pos")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))).alias("d2"),
        )
    )
    return (
        pairs.join(norms.select(F.col("label").alias("la"), F.col("ss").alias("ssa")), "la")
        .join(norms.select(F.col("label").alias("lb"), F.col("ss").alias("ssb")), "lb")
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            fround(F.sqrt("d2"), 6).alias("l2_dist"),
            fround(
                F.col("dot") / (F.sqrt("ssa") * F.sqrt("ssb")), 6
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


IVF_SWEEP_PROBES = (1, 2, 4, 8)


def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@k vs probe width for
    IVF_SWEEP_PROBES — the table an ANN operator reads to pick nprobe
    (latency grows ~linearly with probes; recall saturates), extending
    sim_ann_eval's single-point IVF row to the whole dial. Every
    point is the SAME deterministic IVF arm (_ivf_topk, one memoized
    codebook) at a different width, so the sweep carries a full
    composed oracle like sim_ann_eval."""
    return _recall_at_k(
        spark,
        sf_dir,
        "nprobe int",
        ((p, _ivf_topk(spark, sf_dir, p)) for p in IVF_SWEEP_PROBES),
    )


KNN_OUTLIER_SIGMA = 1.5


def emb_outlier_knn_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN-distance outliers (round 8): vectors whose similarity to
    their KNN_K-th nearest neighbor sits more than KNN_OUTLIER_SIGMA·σ
    BELOW the corpus mean — the density-based isolation score
    (Ramaswamy et al. 2000's k-distance, in cosine form) that catches
    lone mis-embedded points emb_norm_outliers' norm gate cannot (a
    bad vector with a perfectly calibrated norm still lands far from
    everything). The contamination gate an embedding corpus runs
    before semantic dedup trusts its neighborhoods.

    Scale shape: rides sim_knn_join's blocked cogroup grid verbatim
    (<= k·B rows per vector out of the kernel, never the n² matrix);
    the k-th-neighbor slice is one filter on the merged rank, (μ, σ)
    reduce to a 1-row broadcast joined back — the emb_norm_outliers
    shape. knn_sim is rounded to the 1e-4 grid inside the join in
    BOTH engines, so the stats see identical multisets; σ is
    stddev_samp like the norm gate. KNN_OUTLIER_SIGMA = 1.5 keeps the
    result non-vacuous at sf0.001/0.01/0.1 (this corpus's k-NN sims
    concentrate tightly, so 2.5σ would select zero rows)."""
    # the k-th-NN slice feeds BOTH the stats aggregate and the filter
    # spine; without the eager persist the blocked-grid Arrow pass
    # would run twice (ReuseExchange does not dedupe repeated
    # subtrees) — persist, materialize the small outlier result
    # through the cache, then release
    kth = (
        sim_knn_join(spark, sf_dir)
        .filter(F.col("rank") == KNN_K)
        .select("vec_id", F.col("cos_sim").alias("knn_sim"))
        .persist()
    )
    kth.count()
    stats = kth.agg(
        F.avg("knn_sim").alias("__mu"), F.stddev_samp("knn_sim").alias("__sigma")
    )
    out = (
        kth.crossJoin(F.broadcast(stats))
        .filter(F.col("knn_sim") < F.col("__mu") - KNN_OUTLIER_SIGMA * F.col("__sigma"))
        .select(
            "vec_id",
            "knn_sim",
            fround((F.col("knn_sim") - F.col("__mu")) / F.col("__sigma"), 4).alias("z"),
        )
        .localCheckpoint(eager=True)
    )
    kth.unpersist()
    return out.orderBy("vec_id")


def sim_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (round 8) — FAISS's default
    ``by_residual=True`` IVFPQ, completing sim_ivfpq_ann's
    by_residual=False variant: PQ codes encode (vector − its coarse
    centroid), and each query builds a PER-PROBED-LIST lookup table
    from (query − that list's centroid). Residual encoding is why
    production IVFPQ tolerates coarse routing — the PQ codebook only
    has to cover the residual ball around each list center, not the
    whole space.

    Scale shape — one step closer to the serving index than the
    parent: candidate codes are encoded ONCE into the inverted file
    (neighbor_id, centroid_id, 8 4-bit codes) by an Arrow kernel, so
    the probe join ships ~8 B codes per candidate instead of the
    256 B float vector, and the scoring kernel is pure LUT lookups
    (the |Q| x N_CENTROIDS x PQ_M x PQ_K table — bounded at any
    corpus size — rides one broadcast). Probe fan-out is list size,
    never the corpus. Deterministic end-to-end (rounded subspace
    distances before every argmin, lowest-cid ties) -> FULL
    value-parity oracle like both parents."""
    import numpy as np
    import pandas as pd

    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    centroids = _ivf_codebook(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") >= N_QUERIES)
    q = emb.filter(F.col("vec_id") < N_QUERIES)

    cand_buckets = _centroid_assign(cand, centroids, 1).withColumnsRenamed(
        {"vec_id": "neighbor_id"}
    )
    q_probes = _centroid_assign(q, centroids, N_PROBE).withColumnsRenamed(
        {"vec_id": "query_id"}
    )

    _, cb_mat = _pq_codebook(emb, sf_dir=sf_dir)
    g_ids, g_mat = centroids
    gpos = {int(v): i for i, v in enumerate(g_ids)}
    q_ids, q_mat = _collect_matrix(q)
    qpos = {int(v): i for i, v in enumerate(q_ids)}
    # LUT[qi, gi, m, cid] = round(|| (q - g)_m - cb_cid_m ||^2, 4)
    lut = np.zeros((len(q_ids), len(g_ids), PQ_M, PQ_K))
    for gi in range(len(g_ids)):
        qres = q_mat - g_mat[gi][None, :]
        for m in range(PQ_M):
            lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
            diff = qres[:, None, lo:hi] - cb_mat[None, :, lo:hi]
            lut[:, gi, m, :] = fround_np((diff * diff).sum(axis=2))
    bc = spark.sparkContext.broadcast((cb_mat, g_mat, gpos, qpos, lut))

    enc_in = cand_buckets.join(
        cand.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
    )

    def encode(batches):
        cb, g, gix, _, _ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            gi = np.array([gix[int(v)] for v in pdf["centroid_id"]], dtype=np.int64)
            r = x - g[gi]
            codes = np.zeros((len(pdf), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                lo, hi = m * PQ_SUB_DIM, (m + 1) * PQ_SUB_DIM
                diff = r[:, None, lo:hi] - cb[None, :, lo:hi]
                d = fround_np((diff * diff).sum(axis=2))
                codes[:, m] = np.argmin(d, axis=1)  # first min = lowest cid
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    "centroid_id": pdf["centroid_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    inverted_file = enc_in.mapInPandas(
        encode, "neighbor_id long, centroid_id long, codes array<int>"
    )
    pairs = broadcast(q_probes).join(inverted_file, "centroid_id")

    def adc_blocks(batches):
        _, _, gix, qix, tab = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            qi = np.array([qix[int(v)] for v in pdf["query_id"]], dtype=np.int64)
            gi = np.array([gix[int(v)] for v in pdf["centroid_id"]], dtype=np.int64)
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            adc = np.zeros(len(pdf))
            for m in range(PQ_M):
                adc += tab[qi, gi, m, codes[:, m]]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    "adc_dist": fround_np(adc),
                }
            )

    scored = pairs.mapInPandas(
        adc_blocks, "query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
        .orderBy("query_id", "rank")
    )


def emb_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list BALANCE audit (round 8): per-centroid list
    size, corpus share, and imbalance factor (list size / mean list
    size) — the routing-skew report an IVF deployment reads before
    trusting nprobe latency (one hot list = every probe of it scans a
    disproportionate corpus slice; empty lists are wasted codebook
    capacity, and they ARE emitted here, zero-size rows included).
    Completes the IVF tooling arc: build (emb_kmeans/_centroid_assign)
    -> recall (sim_ann_eval, sim_ivf_nprobe_sweep) -> skew (this).

    Scale shape: one broadcast-codebook Arrow assignment pass over
    the corpus into a partial-agg count — N_CENTROIDS result rows;
    totals reduce to a 1-row broadcast. Nothing corpus-sized moves."""
    emb = load_tables(spark, sf_dir, register_views=False)["embeddings"]
    centroids = _ivf_codebook(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") >= N_QUERIES)
    sizes = (
        _centroid_assign(cand, centroids, 1)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_vectors"))
    )
    # the codebook is a bounded driver-side (ids, matrix) pair; its id
    # column seeds the zero-size rows (dead-at-train clusters dropped,
    # so the live K can be < N_CENTROIDS)
    cen_ids = spark.createDataFrame(
        [(int(i),) for i in centroids[0]], "centroid_id long"
    )
    sizes = (
        cen_ids.join(sizes, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("n_vectors", F.lit(0)).cast("bigint").alias("n_vectors"),
        )
    )
    # totals come from the parquet FOOTER, not a second aggregation of
    # the assignment subtree: every candidate lands in exactly one
    # list, so sum(n_vectors) == n_candidates by construction — a
    # tot-agg cross-join would re-run the corpus assignment pass
    # (ReuseExchange does not dedupe repeated subtrees)
    from distributed_mapreduce_server_spark.catalog import table_row_count

    n_cand = table_row_count(sf_dir, "embeddings") - N_QUERIES
    avg = n_cand / len(centroids[0])
    return sizes.select(
        "centroid_id",
        "n_vectors",
        fround(F.col("n_vectors") / F.lit(float(n_cand)), 6).alias("share"),
        fround(F.col("n_vectors") / F.lit(float(avg)), 4).alias("imbalance"),
    ).orderBy("centroid_id")
