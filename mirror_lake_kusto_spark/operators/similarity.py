"""Similarity search over embedding columns (array<float>).

Three paths, per the north-star contract:

- brute-force cosine top-k: the exactness baseline.  Implemented as a
  vectorized numpy matmul inside ``mapInPandas`` — the query matrix is
  tiny and broadcast to every partition; the corpus streams through in
  Arrow batches.  Per-row work is O(dim x n_queries); no cross join is
  materialized.
- LSH-bucketed ANN (random hyperplanes): a scale path.  Signatures
  are computed JVM-side from a fixed seeded projection matrix; probing
  a bucket (and optionally its neighbors) bounds the candidate set.
- IVF (inverted-file) ANN: the classic coarse-quantizer scale path
  (inverted-file indexing per Sivic & Zisserman 2003; the IVF-flat
  design popularized by FAISS, Johnson et al. 2017).
  Spherical-k-means centroids train on a driver-side sample; the
  corpus is assigned to clusters in one narrow map (cluster = natural
  bucket key for a persisted index); queries probe only their n_probe
  nearest clusters via a broadcast equi-join.

At 100 TB the corpus never collects to the driver; only query vectors /
the projection matrix (a few KB) do.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, Tuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


#: (key, pdf) -> pdf hints of an ``applyInPandas`` function, from which
#: pyspark infers the grouped-map eval type.  Set as objects, because
#: this module postpones annotations; a ``key`` without a hint makes
#: pyspark warn "Cannot infer the eval type from type hints" per call.
_GROUPED_MAP_HINTS = {
    "key": Tuple[Any, ...],
    "pdf": pd.DataFrame,
    "return": pd.DataFrame,
}


def _with_cols(df: DataFrame, extra: list[tuple[str, str]]):
    """df's schema plus typed columns, as a StructType — never string
    surgery on simpleString(), which breaks on names needing quoting."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    out = StructType(list(df.schema.fields))
    for name, ddl in extra:
        out = out.add(name, _parse_datatype_string(ddl))
    return out


#: driver budget for collected query vectors: every search here
#: BROADCASTS the query matrix to executors, so the query side must be
#: small by design — 100k × 768-dim float64 is already ~600 MB.  A
#: "query" frame that is accidentally the whole corpus must fail
#: loudly, not OOM the driver.
MAX_QUERY_VECTORS = 100_000


def _partial_topk(col: np.ndarray, cids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the batch-local top-k by the global total order
    (score desc, cand_id asc) — identical output to
    ``np.lexsort((cids, -col))[:k]`` but O(n + t log t), where t is k
    plus the candidates TIED with the k-th score: argpartition finds
    the k-th score, the cut widens to every candidate tied with it
    (ties are COMMON under PQ — few codebooks collapse many vectors to
    identical ADC scores), and only that prefix is lexsorted
    (round-11 advice: the full n-log-n lexsort per query per batch was
    a measurable regression on large corpora)."""
    n = len(col)
    take = min(k, n)
    if n > 4 * take:
        head = np.argpartition(-col, take - 1)[:take]
        keep = np.flatnonzero(col >= col[head].min())
    else:
        keep = np.arange(n)
    order = np.lexsort((cids[keep], -col[keep]))[:take]
    return keep[order]


def _collect_queries(
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    max_queries: int = MAX_QUERY_VECTORS,
):
    rows = (
        query_df.select(id_col, vec_col).limit(max_queries + 1).collect()
    )
    if not rows:
        # a legitimately-empty query batch searches for nothing and
        # finds nothing — only the OVERFLOW case below is an error
        return (
            np.empty(0, dtype=np.int64),
            np.empty((0, 0), dtype=np.float64),
            np.empty(0, dtype=np.float64),
        )
    if len(rows) > max_queries:
        raise ValueError(
            f"query frame exceeds {max_queries} vectors — the query "
            "side is collected to the driver and broadcast, so it must "
            "stay small; for corpus-scale all-pairs use the dedup "
            "pair operators (cosine_pairs), or raise max_queries "
            "explicitly if the driver really has the memory"
        )
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qmat = np.array([r[1] for r in rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    return qids, qmat, qnorm


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_queries: int = MAX_QUERY_VECTORS,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Output: (query_id, cand_id, cos_sim) with a deterministic
    (rounded-sim desc, cand_id asc) ranking.  Partial top-k runs
    inside each Arrow batch (k rows per query per batch survive), so
    the final window sorts only ~k x n_batches x n_queries rows.
    """
    spark = corpus.sparkSession
    qids, qmat, qnorm = _collect_queries(queries, id_col, vec_col, max_queries=max_queries)
    if not len(qids):  # empty query batch: nothing to search for
        return spark.createDataFrame(
            [], "query_id bigint, cand_id bigint, cos_sim double"
        )
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_q, norm_q = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            cand = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            norms = np.linalg.norm(cand, axis=1)
            sims = (cand @ mat_q.T) / np.outer(
                np.where(norms == 0, 1.0, norms), np.where(norm_q == 0, 1.0, norm_q)
            )
            out = []
            for j, qid in enumerate(ids_q):
                col = np.round(sims[:, j], round_digits)
                # deterministic (sim desc, cand_id asc) even on ties:
                # a plain argpartition keeps an ARBITRARY k of tied
                # candidates, so results would vary with Arrow batch
                # boundaries — this is the exactness oracle, it must
                # not
                top = _partial_topk(col, cids, k)
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "cand_id": cids[top],
                            "cos_sim": col[top],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = corpus.mapInPandas(
        score, "query_id bigint, cand_id bigint, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )


# Fixed seeded random hyperplanes (dim x n_planes), generated once.
def _projection_matrix(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes))


def _cosine_sim_expr(vec_col: str, qvec_col: str, round_digits: int = 6):
    """JVM-side cosine between two array columns (zip_with dot product
    over normalized magnitudes) — no Python in the scoring hot path."""
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col(qvec_col).cast("array<double>"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sq = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.col(c).cast("array<double>"),
            F.lit(0.0),
            lambda acc, v: acc + v * v,
        )
    )

    def safe(n):
        # zero vectors score 0, matching every numpy path's
        # norm==0 -> 1.0 convention (and avoiding ANSI divide-by-zero)
        return F.when(n == 0, F.lit(1.0)).otherwise(n)

    return F.round(
        dot / (safe(sq(vec_col)) * safe(sq(qvec_col))), round_digits
    )


def lsh_bucket_ids(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 12, seed: int = 42
) -> DataFrame:
    """Attach a random-hyperplane LSH bucket id (sign bits packed into
    a long).  Projection happens in numpy over Arrow batches."""
    planes = _projection_matrix(dim, n_planes, seed)
    spark = df.sparkSession
    bp = spark.sparkContext.broadcast(planes)
    schema = _with_cols(df, [("bucket", "bigint")])

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat = bp.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            signs = (vecs @ mat) > 0
            bucket = np.zeros(len(pdf), dtype=np.int64)
            for i in range(mat.shape[1]):
                bucket |= signs[:, i].astype(np.int64) << i
            out = pdf.copy()
            out["bucket"] = bucket
            yield out

    return df.mapInPandas(project, schema)


def lsh_bucket_ids_multi(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
) -> DataFrame:
    """Attach ``n_tables`` independent random-hyperplane bucket ids
    (one per hash table) as an array<bigint> column ``buckets`` —
    classic multi-table LSH (Indyk & Motwani 1998; Gionis et al. 1999):
    each table uses its own ``n_planes`` hyperplanes, and a candidate
    matches if ANY table agrees.  One matmul per Arrow batch computes
    all tables' sign bits at once."""
    planes = _projection_matrix(dim, n_planes * n_tables, seed)
    spark = df.sparkSession
    bp = spark.sparkContext.broadcast(planes)
    schema = _with_cols(df, [("buckets", "array<bigint>")])

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat = bp.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            signs = (vecs @ mat) > 0  # (rows, n_planes*n_tables)
            buckets = np.zeros((len(pdf), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for i in range(n_planes):
                    buckets[:, t] |= (
                        signs[:, t * n_planes + i].astype(np.int64) << i
                    )
            out = pdf.copy()
            out["buckets"] = list(buckets)
            yield out

    return df.mapInPandas(project, schema)


def cosine_topk_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: a
    corpus row is a candidate for a query iff they share a bucket in
    ANY of the ``n_tables`` hash tables; candidates are scored exactly
    (JVM-side cosine) and top-k'd.

    Recall < 1 by construction — the exactness oracle is
    cosine_topk_bruteforce, and tests pin recall@10 >= 0.8 on the
    embeddings fixture.  Scale shape: the exploded (table, bucket)
    index is n_tables x corpus rows (the standard multi-table LSH
    space cost); queries broadcast; the only shuffle is the candidate
    dedup.  Tune (n_planes up, n_tables down) as corpora get more
    clustered — the defaults are sized for near-uniform embeddings,
    the hardest case."""
    cb = lsh_bucket_ids_multi(
        corpus, vec_col, dim, n_planes, n_tables, seed
    ).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cvec"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    qb = lsh_bucket_ids_multi(
        queries, vec_col, dim, n_planes, n_tables, seed
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"], "inner")
        .select("query_id", "cand_id", "_cvec", "_qvec")
        .dropDuplicates(["query_id", "cand_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        cand.select(
            "query_id",
            "cand_id",
            _cosine_sim_expr("_cvec", "_qvec").alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    n_blocks: int = 8,
    broadcast_rows: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup), EXACT.

    Default path — block-matrix self-join (1-bucket-theta blocking,
    Okcan & Riedewald, SIGMOD'11): every row hashes to one of
    ``n_blocks`` blocks; each unordered block pair (i <= j) is one
    reduce group; inside a group a single numpy matmul scores block i
    against block j.  The corpus NEVER collects to the driver and no
    cartesian join is materialized: shuffle volume is N x n_blocks
    rows, per-group work (N/n_blocks)^2 dot products, parallelism
    n_blocks(n_blocks+1)/2 groups.  At 100 TB pick n_blocks so a block
    (N/n_blocks rows x dim doubles) fits executor memory.

    ``broadcast_rows=n`` opts into the small-corpus path (driver
    collects the matrix and broadcasts it) — only taken when a count
    proves the corpus is within the bound; otherwise the block path
    runs.  Exactness is identical on both paths.
    """
    if broadcast_rows is not None and df.count() <= broadcast_rows:
        return _cosine_pairs_broadcast(
            df, threshold, id_col, vec_col, round_digits
        )
    B = int(n_blocks)
    blocks = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).withColumn("_blk", F.pmod(F.hash(F.col("_id")), F.lit(B)).cast("int"))
    # Group keys encoded as gi*B+gj.  A row in block b serves as the
    # LEFT side of pairs (b, j), j=b..B-1 (diagonal included), and as
    # the RIGHT side of pairs (i, b), i=0..b-1.
    as_left = F.transform(
        F.sequence(F.col("_blk"), F.lit(B - 1)),
        lambda j: F.col("_blk") * B + j,
    )
    as_right = F.when(
        F.col("_blk") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("_blk") - 1),
            lambda i: i * B + F.col("_blk"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    grouped = blocks.withColumn(
        "_gk", F.explode(F.concat(as_left, as_right))
    )

    def block_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id1": pd.Series(dtype="int64"),
                "id2": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        gi, gj = divmod(int(key[0]), B)
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        unit = mat / np.where(norms == 0, 1.0, norms)[:, None]
        if gi == gj:
            sims = unit @ unit.T
            li, ri = np.where(sims >= threshold)
            keep = ids[li] < ids[ri]
            id1, id2 = ids[li][keep], ids[ri][keep]
            sim = sims[li, ri][keep]
        else:
            amask = pdf["_blk"].to_numpy() == gi
            if not amask.any() or amask.all():
                return empty  # one side of the block pair is empty
            aids, bids = ids[amask], ids[~amask]
            sims = unit[amask] @ unit[~amask].T
            li, ri = np.where(sims >= threshold)
            id1 = np.minimum(aids[li], bids[ri])
            id2 = np.maximum(aids[li], bids[ri])
            sim = sims[li, ri]
        if not len(id1):
            return empty
        return pd.DataFrame(
            {"id1": id1, "id2": id2, "cos_sim": np.round(sim, round_digits)}
        )

    block_pairs.__annotations__ = _GROUPED_MAP_HINTS
    return grouped.groupBy("_gk").applyInPandas(
        block_pairs, "id1 bigint, id2 bigint, cos_sim double"
    )


def _cosine_pairs_broadcast(
    df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """Small-corpus path: collect + broadcast the full matrix, score
    each Arrow batch against it with one matmul.  Driver-bounded by the
    caller's ``broadcast_rows`` check — never the default."""
    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms = np.where(norms == 0, 1.0, norms)
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat, all_norms = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cand = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cn = np.linalg.norm(cand, axis=1)
            cn = np.where(cn == 0, 1.0, cn)
            sims = (cand @ all_mat.T) / np.outer(cn, all_norms)
            li, ri = np.where(sims >= threshold)
            keep = cids[li] < all_ids[ri]
            yield pd.DataFrame(
                {
                    "id1": cids[li][keep],
                    "id2": all_ids[ri][keep],
                    "cos_sim": np.round(sims[li, ri][keep], round_digits),
                }
            )

    return df.mapInPandas(score, "id1 bigint, id2 bigint, cos_sim double")


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the classic coarse-quantizer scale path
# ---------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means centroids trained on a deterministic sample.

    Only the sample (<= ``sample`` rows, a few MB) collects to the
    driver; Lloyd iterations run in numpy.  Centroids are L2-normalized
    so assignment-by-dot-product == assignment-by-cosine.
    """
    rows = corpus.select(vec_col).orderBy(id_col).limit(sample).collect()
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat = mat / np.where(norms == 0, 1.0, norms)
    rng = np.random.default_rng(seed)
    # greedy k-means++ init (Arthur & Vassilvitskii 2007; the greedy
    # multi-trial variant sklearn defaults to): D^2-weighted candidate
    # seeds, keeping per step the candidate that minimizes total
    # potential — spreads centroids across true clusters without
    # chasing outliers the way plain D^2 sampling does
    k_eff = min(n_clusters, len(mat))
    first = int(rng.integers(len(mat)))
    chosen = [first]
    d2 = np.maximum(1.0 - mat @ mat[first], 0.0)  # cosine distance
    trials = 8
    for _ in range(1, k_eff):
        total = d2.sum()
        if total <= 0:
            cands = rng.integers(len(mat), size=trials)
        else:
            cands = rng.choice(len(mat), p=d2 / total, size=trials)
        best, best_d2, best_pot = None, None, None
        for cd in cands:
            nd2 = np.minimum(d2, np.maximum(1.0 - mat @ mat[int(cd)], 0.0))
            pot = nd2.sum()
            if best_pot is None or pot < best_pot:
                best, best_d2, best_pot = int(cd), nd2, pot
        chosen.append(best)
        d2 = best_d2
    cent = mat[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                cent[c] = m / (n if n else 1.0)
    return cent


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: np.ndarray, n_assign: int = 1
) -> DataFrame:
    """Attach the ``n_assign`` nearest-centroid (by cosine) cluster ids
    as an array<int> column ``clusters``.  n_assign=1 is classic IVF;
    n_assign>1 is redundant (spilled) assignment — each vector is
    indexed under its top-a clusters, trading a x index size for
    recall on corpora with weak cluster structure.  The centroid matrix
    (n_clusters x dim, KBs) broadcasts; vectors stream through in Arrow
    batches — at 100 TB this is one narrow map over the corpus."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    schema = _with_cols(df, [("clusters", "array<int>")])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        a = min(n_assign, len(cent))
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(vecs, axis=1, keepdims=True)
            vecs = vecs / np.where(n == 0, 1.0, n)
            sims = vecs @ cent.T
            top = np.argsort(-sims, axis=1)[:, :a].astype(np.int32)
            out = pdf.copy()
            out["clusters"] = list(top)
            yield out

    return df.mapInPandas(assign, schema)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    n_assign: int = 1,
    seed: int = 42,
    max_queries: int = MAX_QUERY_VECTORS,
    materialize: bool = True,
) -> DataFrame:
    """IVF approximate top-k: score each query only against the
    ``n_probe`` clusters nearest its vector — candidate volume drops to
    ~n_probe/n_clusters of the corpus.  ``n_assign>1`` indexes each
    corpus vector under its top-a clusters (redundant assignment),
    which buys recall on weakly-clustered corpora for a x index size.
    Recall < 1 by construction; the exactness oracle is
    cosine_topk_bruteforce, and tests pin recall@10 floors.

    Scale shape: corpus assignment is one narrow map (cluster becomes
    the natural partition/bucket key for a persisted index); the probe
    list is a broadcast equi-join on cluster, so no shuffle of the
    corpus is ever needed.

    ``materialize=True`` (default) persists the coarse-assignment
    frame for the duration of the call (recompute protection) and
    localCheckpoint-materializes the (bounded: <= |queries| x k rows)
    result so the cache releases inside the call; ``materialize=False``
    returns the LAZY plan and caches NOTHING — for plan inspection
    (test_plans pins the broadcast probe join) or callers composing
    further before collecting, who own their caching decisions.
    """
    spark = corpus.sparkSession
    qids, qmat, qnorm = _collect_queries(queries, id_col, vec_col, max_queries=max_queries)
    if not len(qids):  # empty query batch: nothing to search for
        return spark.createDataFrame(
            [], "query_id bigint, cand_id bigint, cos_sim double"
        )
    cent = ivf_centroids(
        corpus, vec_col, id_col, n_clusters=n_clusters, seed=seed
    )
    assigned = ivf_assign(corpus, vec_col, cent, n_assign=n_assign).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cvec"),
        F.explode("clusters").alias("cluster"),
    )
    # eagerly persist the coarse-assignment frame: the probe join +
    # top-k window otherwise re-run the Python assignment stage on
    # recompute, the source of this query's r7-documented heavy-tail
    # variance (isolated shots 3-41s on identical code).  KB-per-row
    # metadata + vectors; the same eager-persist idiom as the MinHash
    # signature frame.  The result is localCheckpoint-materialized
    # below, so the cache lives only for this call (r10 review: don't
    # leak cached blocks across repeated calls in one session).  The
    # lazy path (materialize=False) persists NOTHING — it hands back a
    # plan the caller composes and collects on their own terms, and a
    # cache with no returned handle could only be released by nuking
    # the whole session's caches (round-11 review).
    if materialize:
        assigned = assigned.persist()
        assigned.count()
    qunit = qmat / np.where(qnorm[:, None] == 0, 1.0, qnorm[:, None])
    order = np.argsort(-(qunit @ cent.T), axis=1)[:, :n_probe]
    probe_rows = [
        (int(qid), int(c), [float(x) for x in qmat[i]])
        for i, qid in enumerate(qids)
        for c in order[i]
    ]
    probes = spark.createDataFrame(
        probe_rows, "query_id bigint, cluster int, _qvec array<double>"
    )
    joined = assigned.join(F.broadcast(probes), "cluster", "inner")
    if n_assign > 1:
        joined = joined.dropDuplicates(["query_id", "cand_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    out = (
        joined.select(
            "query_id",
            "cand_id",
            _cosine_sim_expr("_cvec", "_qvec").alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )
    if not materialize:
        return out  # lazy plan; caller owns the assignment cache
    # materialize the (bounded: <= |queries| x k rows) result and cut
    # its lineage so the coarse-assignment cache can be released here
    # rather than accumulating until LRU eviction (round-10 review)
    out = out.localCheckpoint(eager=True)
    assigned.unpersist()
    return out


# ---------------------------------------------------------------------------
# Embedding quantization — the storage path for 100 TB vector corpora
# ---------------------------------------------------------------------------


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: q[i] =
    round(127 * v[i] / max|v|), stored with its ``scale`` (max|v|/127)
    for dequantization — 4x smaller than float32 at <1% cosine error on
    unit-scale embeddings (the standard SQ8 storage format, e.g.
    FAISS's ScalarQuantizer).  Pure JVM expressions — no Python in the
    path; composes with any downstream operator via dequantize_int8."""
    absmax = F.array_max(
        F.transform(F.col(vec_col).cast("array<double>"), lambda x: F.abs(x))
    )
    safe = F.when(absmax == 0, F.lit(1.0)).otherwise(absmax)
    return df.withColumn("_absmax", safe).select(
        *df.columns,
        (F.col("_absmax") / F.lit(127.0)).alias(f"{out_col}_scale"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * 127.0 / F.col("_absmax")).cast("tinyint"),
        ).alias(out_col),
    )


def dequantize_int8(
    df: DataFrame, q_col: str = "q", out_col: str = "embedding_dq"
) -> DataFrame:
    """Inverse of quantize_int8: v[i] ~= q[i] * scale."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col),
            lambda x: x.cast("double") * F.col(f"{q_col}_scale"),
        ),
    )


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    n_codes: int = 256,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector is split
    into ``m`` subspaces and each subspace gets its own ``n_codes``-
    entry k-means codebook, so a d-dim float32 vector stores as m bytes
    (d=128, m=8: 64x smaller).  Like IVF training, only a deterministic
    ``sample`` collects to the driver; Lloyd iterations run in numpy.
    Returns (m, n_codes, d/m) — KBs, broadcast to encoders."""
    rows = corpus.select(vec_col).orderBy(id_col).limit(sample).collect()
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, min(n_codes, len(mat)), dsub))
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        k_eff = min(n_codes, len(sub))
        cent = sub[rng.choice(len(sub), size=k_eff, replace=False)].copy()
        for _ in range(iters):
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin drops ||x||^2
            # (BLAS matmul instead of an (n, k, dsub) broadcast temp —
            # ~10x less driver time and allocation per Lloyd step)
            c2 = (cent**2).sum(axis=1)
            assign = np.argmin(c2[None, :] - 2.0 * (sub @ cent.T), axis=1)
            sums = np.zeros_like(cent)
            np.add.at(sums, assign, sub)
            counts = np.bincount(assign, minlength=k_eff)
            nz = counts > 0
            cent[nz] = sums[nz] / counts[nz, None]
        books[s] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-byte PQ code (nearest codeword per subspace).
    Codebooks broadcast (KBs); vectors stream through Arrow batches —
    one narrow map over the corpus, the 100 TB encode shape."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    schema = _with_cols(df, [(out_col, "array<int>")])

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        m, _, dsub = books.shape
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for s in range(m):
                sub = vecs[:, s * dsub : (s + 1) * dsub]
                # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2; argmin drops ||x||^2
                dots = sub @ books[s].T
                c2 = (books[s] ** 2).sum(axis=1)
                codes[:, s] = np.argmin(c2[None, :] - 2 * dots, axis=1)
            out = pdf.copy()
            out[out_col] = list(codes)
            yield out

    return df.mapInPandas(encode, schema)


def pq_decode(
    df: DataFrame,
    codebooks: np.ndarray,
    code_col: str = "pq_code",
    out_col: str = "embedding_pq",
) -> DataFrame:
    """Reconstruct the quantized vector (codeword concatenation)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    schema = _with_cols(df, [(out_col, "array<double>")])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        m = books.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf[code_col].to_numpy())
            rec = np.concatenate(
                [books[s][codes[:, s]] for s in range(m)], axis=1
            )
            out = pdf.copy()
            out[out_col] = list(rec)
            yield out

    return df.mapInPandas(decode, schema)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    round_digits: int = 6,
    max_queries: int = MAX_QUERY_VECTORS,
    codebooks: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation
    (ADC): each query precomputes an (m x n_codes) table of subspace
    dot products against the codebooks, and a candidate's score is m
    table lookups summed — no float vectors are touched at query time,
    so the scan reads m BYTES per vector instead of d floats.  The
    exactness anchor is cosine_topk_bruteforce; tests pin recall@k.

    Norms use the reconstructed codewords (||x~||), matching what a
    PQ-only index can know.  Per-batch partial top-k like bruteforce.

    ``codebooks`` (m, n_codes, d/m) overrides the k-means training —
    data-derived seed codebooks make the whole encode/ADC pipeline
    replayable by a SQL oracle (similarity_pq_voronoi)."""
    spark = corpus.sparkSession
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(
            corpus, vec_col, id_col, m=m, n_codes=n_codes, seed=seed
        )
    )
    encoded = pq_encode(corpus, books, vec_col).select(id_col, "pq_code")
    qids, qmat, qnorm = _collect_queries(queries, id_col, vec_col, max_queries=max_queries)
    if not len(qids):  # empty query batch: nothing to search for
        return spark.createDataFrame(
            [], "query_id bigint, cand_id bigint, cos_sim double"
        )
    dsub = books.shape[2]
    # (n_queries, m, n_codes) dot tables + per-code squared norms
    tables = np.stack(
        [
            qmat[:, s * dsub : (s + 1) * dsub] @ books[s].T
            for s in range(books.shape[0])
        ],
        axis=1,
    )
    code_sq = np.stack([(books[s] ** 2).sum(axis=1) for s in range(books.shape[0])])
    bq = spark.sparkContext.broadcast((qids, qnorm, tables, code_sq))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, norm_q, tab, csq = bq.value
        n_sub = tab.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["pq_code"].to_numpy())
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            sub_idx = np.arange(n_sub)
            # reconstructed norms: sum of codeword sq-norms per vector
            rec_norm = np.sqrt(csq[sub_idx[None, :], codes].sum(axis=1))
            rec_norm = np.where(rec_norm == 0, 1.0, rec_norm)
            out = []
            for j, qid in enumerate(ids_q):
                dots = tab[j][sub_idx[None, :], codes].sum(axis=1)
                qn = norm_q[j] if norm_q[j] != 0 else 1.0
                col = np.round(dots / (rec_norm * qn), round_digits)
                # deterministic (sim desc, cand_id asc) even on ties —
                # and PQ ties are COMMON (few codebooks collapse many
                # vectors to identical codes, hence identical ADC
                # scores): argpartition alone kept an ARBITRARY k of a
                # tied group, so the batch-level prune could drop the
                # very candidate the final (desc, id asc) window would
                # rank inside top-k.  Same fix as
                # cosine_topk_bruteforce.
                top = _partial_topk(col, cids, k)
                out.append(
                    pd.DataFrame(
                        {"query_id": qid, "cand_id": cids[top], "cos_sim": col[top]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = encoded.mapInPandas(
        score, "query_id bigint, cand_id bigint, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    n_assign: int = 1,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    round_digits: int = 6,
    max_queries: int = MAX_QUERY_VECTORS,
) -> DataFrame:
    """IVF-PQ: the composed FAISS-style index — the IVF coarse
    quantizer restricts each query to its ``n_probe`` nearest clusters,
    and candidates inside them are scored from their m-byte PQ codes by
    ADC table lookups.  At 100 TB the scan touches ~n_probe/n_clusters
    of the corpus and reads m bytes per touched vector: both the
    candidate count AND the bytes-per-candidate shrink, which is why
    this is the standard billion-vector serving shape.

    Exactness anchor: cosine_topk_bruteforce (tests pin recall@k).
    Index build = two narrow maps (assign, encode); queries broadcast
    their probe list and ADC tables; no corpus shuffle."""
    spark = corpus.sparkSession
    cent = ivf_centroids(
        corpus, vec_col, id_col, n_clusters=n_clusters, seed=seed
    )
    books = train_pq_codebooks(
        corpus, vec_col, id_col, m=m, n_codes=n_codes, seed=seed
    )
    indexed = pq_encode(
        ivf_assign(corpus, vec_col, cent, n_assign=n_assign), books, vec_col
    ).select(
        F.col(id_col).alias("cand_id"),
        "pq_code",
        F.explode("clusters").alias("cluster"),
    )

    qids, qmat, qnorm = _collect_queries(queries, id_col, vec_col, max_queries=max_queries)
    if not len(qids):  # empty query batch: nothing to search for
        return spark.createDataFrame(
            [], "query_id bigint, cand_id bigint, cos_sim double"
        )
    qunit = qmat / np.where(qnorm[:, None] == 0, 1.0, qnorm[:, None])
    probe_order = np.argsort(-(qunit @ cent.T), axis=1)[:, :n_probe]
    probes = spark.createDataFrame(
        [
            (int(qid), int(c))
            for i, qid in enumerate(qids)
            for c in probe_order[i]
        ],
        "query_id bigint, cluster int",
    )
    dsub = books.shape[2]
    tables = np.stack(
        [
            qmat[:, s * dsub : (s + 1) * dsub] @ books[s].T
            for s in range(books.shape[0])
        ],
        axis=1,
    )
    code_sq = np.stack([(books[s] ** 2).sum(axis=1) for s in range(books.shape[0])])
    qpos = {int(qid): i for i, qid in enumerate(qids)}
    bq = spark.sparkContext.broadcast((qpos, qnorm, tables, code_sq))

    joined = indexed.join(F.broadcast(probes), "cluster", "inner")
    if n_assign > 1:
        joined = joined.dropDuplicates(["query_id", "cand_id"])
    joined = joined.select("query_id", "cand_id", "pq_code")

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos, norm_q, tab, csq = bq.value
        n_sub = tab.shape[1]
        sub_idx = np.arange(n_sub)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["pq_code"].to_numpy())
            rec_norm = np.sqrt(csq[sub_idx[None, :], codes].sum(axis=1))
            rec_norm = np.where(rec_norm == 0, 1.0, rec_norm)
            j = pdf["query_id"].map(pos).to_numpy(dtype=np.int64)
            dots = np.take_along_axis(
                tab[j], codes[:, :, None], axis=2
            ).squeeze(2).sum(axis=1)
            qn = np.where(norm_q[j] == 0, 1.0, norm_q[j])
            out = pdf[["query_id", "cand_id"]].copy()
            out["cos_sim"] = np.round(dots / (rec_norm * qn), round_digits)
            yield out

    scored = joined.mapInPandas(
        score, "query_id bigint, cand_id bigint, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )


def hybrid_search_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 50,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: BM25 keyword top-k fused with embedding-cosine
    top-k by reciprocal-rank fusion ``rrf = sum_r 1/(rrf_k + rank_r)``
    — the standard two-tower + lexical ensemble for corpus search.

    Scale posture: each retriever reduces to its own top-k FIRST
    (TakeOrdered — no global sort materialization), so the rank window
    and the fusion join only ever see 2k rows regardless of corpus
    size.  Ranks are assigned over scores ROUNDED to 4 decimals with
    the id as tiebreak, making the ranking reproducible across engines
    and runs (float ulp noise cannot flip adjacent ranks).

    The query vector rides along as a broadcast 1-row frame — cosine
    scoring is the JVM zip_with expression, no Python, no collect.
    """
    from .text import bm25_search

    w_rank = Window.orderBy(F.desc("_rscore"), F.col(id_col))

    bm_top = (
        bm25_search(docs, query_terms, id_col=id_col, text_col=text_col)
        .select(id_col, F.round("score", 4).alias("_rscore"))
        .orderBy(F.desc("_rscore"), F.col(id_col))
        .limit(k)
        .select(id_col, F.row_number().over(w_rank).alias("_rank_bm"))
    )
    qrows = (
        embeddings.filter(F.col(vec_id_col) == query_vec_id)
        .select(vec_col)
        .limit(2)
        .collect()
    )
    if len(qrows) != 1:
        raise ValueError(
            f"query_vec_id {query_vec_id!r} matched {len(qrows)} "
            "embedding rows — hybrid search needs exactly one query "
            "vector (a silent fallback would rank by BM25 alone)"
        )
    # the validated row IS the query vector: a local 1-row frame skips
    # the second embeddings scan the broadcast build would otherwise
    # pay (r12, guide §2.4)
    from pyspark.sql.types import StructField, StructType

    qvec = embeddings.sparkSession.createDataFrame(
        [qrows[0]],
        StructType(
            [StructField("_qvec", embeddings.schema[vec_col].dataType)]
        ),
    )
    cos_top = (
        embeddings.crossJoin(F.broadcast(qvec))
        .select(
            F.col(vec_id_col).alias(id_col),
            _cosine_sim_expr(vec_col, "_qvec", 4).alias("_rscore"),
        )
        .orderBy(F.desc("_rscore"), F.col(id_col))
        .limit(k)
        .select(id_col, F.row_number().over(w_rank).alias("_rank_cos"))
    )
    contrib = lambda r: F.when(  # noqa: E731
        F.col(r).isNotNull(), F.lit(1.0) / (rrf_k + F.col(r))
    ).otherwise(F.lit(0.0))
    return (
        bm_top.join(cos_top, id_col, "full_outer")
        .select(
            id_col,
            F.round(contrib("_rank_bm") + contrib("_rank_cos"), 6).alias(
                "rrf_score"
            ),
        )
        .orderBy(F.desc("rrf_score"), F.col(id_col))
    )


def cosine_topk_mmr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 50,
    lambda_: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = MAX_QUERY_VECTORS,
) -> DataFrame:
    """Diversified top-k: Maximal Marginal Relevance re-ranking of the
    exact cosine candidate pool (Carbonell & Goldstein 1998).

    Stage 1 is the existing distributed brute-force top-``pool`` per
    query (corpus streams through Arrow batches, never shuffles).
    Stage 2 reattaches candidate vectors and runs the greedy MMR loop
    — pick argmax of ``lambda*relevance - (1-lambda)*max_sim_to_
    selected`` — per query inside one Arrow group: O(k * pool * dim)
    numpy per query, driver-free, and the group holds ``pool`` rows,
    not the corpus.  Deterministic: ties break on cand_id.

    Output: (query_id, cand_id, cos_sim, mmr_rank) with mmr_rank in
    1..k.
    """
    pool_df = cosine_topk_bruteforce(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col,
        max_queries=max_queries,
    )
    cand = pool_df.join(
        corpus.select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("_vec"),
        ),
        "cand_id",
    )

    out_schema = (
        "query_id long, cand_id long, cos_sim double, mmr_rank long"
    )

    def mmr(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cos_sim", "cand_id"], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.array(pdf["_vec"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        rel = pdf["cos_sim"].to_numpy()
        n = len(pdf)
        chosen: list[int] = []
        # NaN = "nothing selected yet": the first round scores by pure
        # relevance; afterwards the TRUE max-sim applies even when
        # negative (a -1.0 sentinel clamped at 0 would penalize
        # anti-correlated candidates the Carbonell-Goldstein formula
        # rewards)
        max_sim = np.full(n, np.nan)
        remaining = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            diversity = np.where(np.isnan(max_sim), 0.0, max_sim)
            score = np.where(
                np.array([not c for c in remaining]),
                -np.inf,
                lambda_ * rel - (1 - lambda_) * diversity,
            )
            # deterministic tie-break: numpy argmax takes the FIRST
            # max, and rows are pre-sorted by (rel desc, cand_id asc)
            pick = int(np.argmax(score))
            chosen.append(pick)
            remaining[pick] = False
            sims = unit @ unit[pick]
            max_sim = np.where(
                np.isnan(max_sim), sims, np.maximum(max_sim, sims)
            )
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[chosen].to_numpy(),
                "cand_id": pdf["cand_id"].iloc[chosen].to_numpy(),
                "cos_sim": rel[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1),
            }
        )

    mmr.__annotations__ = _GROUPED_MAP_HINTS
    return (
        cand.groupBy("query_id")
        .applyInPandas(mmr, out_schema)
        .orderBy("query_id", "mmr_rank")
    )


def binarize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "bits"
) -> DataFrame:
    """Sign-bit quantization: pack 64 dimensions per BIGINT word
    (bit j of word w set iff ``vec[64w + j] > 0``) — a 32x memory
    reduction over float32 that preserves angular neighborhoods
    (Charikar hyperplane-LSH with axis-aligned planes).  Pure JVM
    array expressions; the fold uses bitwise OR, never ``+``, so the
    sign bit cannot trip ANSI overflow."""
    e = F.col(vec_col)
    words = F.expr(
        f"""
        transform(
          sequence(0, CAST((size({vec_col}) + 63) DIV 64 - 1 AS INT)),
          __w -> aggregate(
            sequence(0, 63), 0L,
            (__acc, __j) -> CASE
              WHEN __w * 64 + __j < size({vec_col})
                   AND element_at({vec_col}, __w * 64 + __j + 1) > 0
              THEN __acc | shiftleft(1L, __j)
              ELSE __acc END))
        """
    )
    return df.withColumn(out_col, words)


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest neighbors under HAMMING distance between the
    sign-bit packed codes — the binary-quantization scan path: the
    corpus streams as packed BIGINT words (32x smaller than float32),
    the distance is ``bit_count(xor)`` per word (pure JVM, SIMD-class
    popcount), and the small query frame broadcasts.  Deterministic
    ties: (distance, corpus id).  At 100 TB the scan cost is bound by
    the packed bytes, not the raw vectors; use as a first-stage
    filter and rerank survivors with exact cosine."""
    cb = binarize_embeddings(corpus, vec_col).select(
        F.col(id_col), F.col("bits")
    )
    qb = binarize_embeddings(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("bits").alias("q_bits")
    )
    dist = F.expr(
        "aggregate(zip_with(bits, q_bits, "
        "(__l, __r) -> bit_count(__l ^ __r)), 0, "
        "(__a, __v) -> __a + __v)"
    )
    scored = cb.join(F.broadcast(qb)).withColumn("hamming", dist)
    w = Window.partitionBy("q_id").orderBy("hamming", id_col)
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("q_id", id_col, F.col("hamming").cast("int").alias("hamming"))
    )


def hamming_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The canonical two-stage binary-quantization retrieval: Hamming
    top-m over the packed codes (cheap popcount scan) narrows to m
    candidates per query, then EXACT cosine reranks the survivors to
    top-k.  At 100 TB the float vectors are touched only for the
    m × |queries| candidate rows — the full corpus streams as packed
    bits."""
    if not k <= m:
        raise ValueError(f"rerank needs k <= m, got k={k} m={m}")
    cand = hamming_topk(corpus, queries, m, id_col, vec_col)
    cvec = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    qvec = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qvec")
    )
    scored = (
        cand.join(cvec, id_col)
        .join(F.broadcast(qvec), "q_id")
        .select(
            "q_id",
            id_col,
            _cosine_sim_expr("_cvec", "_qvec").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), id_col)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("q_id", id_col, "cos_sim")
    )
