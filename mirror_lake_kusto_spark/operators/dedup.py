"""Deduplication operators for LLM training-data pipelines.

Four families, all pure DataFrame programs designed for 100 TB:

- exact:    group on a 256-bit content hash; only the hash + doc id
            shuffle, never the payload.
- n-gram Jaccard (exact): inverted-index self-join on shingles — the
            shuffle is (shingle, id) pairs, quadratic only within a
            shingle's posting list, never a global cross join.
- MinHash + LSH: fixed seeded affine permutations over xxhash64
            shingle hashes; band signatures bucket-join candidates,
            which are then exact-verified.  Linear shuffle volume.
            (Broder 1997 min-wise resemblance; banding analysis per
            Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3.)
- SimHash:  64-bit signature; banded equi-join finds hamming<=k
            candidates without a cross join (Charikar 2002 similarity
            estimation; Manku et al. 2007 near-dup detection).

The reference has no dedup beyond arg_max last-writer-wins
(Kusto/DatabaseGateway.cs:93); these extend that surface per the
north-star contract (BASELINE.json).

Performance note (measured, not guessed): tokenize -> shingle -> hash
-> signature MUST be materialized as separate projections.  Inlining
them into one expression tree makes Catalyst re-evaluate the whole
chain once per signature lane (codegen subexpression elimination does
not cross higher-order-function lambda boundaries) — a 64-lane MinHash
then tokenizes every document ~200x.  Multi-referenced non-trivial
aliases block the CollapseProject rule, so each stage below is computed
exactly once per row.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.storagelevel import StorageLevel

# 31-bit Mersenne prime: affine perms stay in 62 bits -> no ANSI overflow.
_MERSENNE_P = (1 << 31) - 1

# Fixed seeds -> deterministic signatures across runs/engines.
_MINHASH_A = [(i * 2654435761 + 1) % _MERSENNE_P for i in range(1, 65)]
_MINHASH_B = [(i * 40503 + 7) % _MERSENNE_P for i in range(1, 65)]


def content_hash(col: Column | str) -> Column:
    """256-bit content hash for exact dedup grouping."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest id per exact content group.

    Groups on sha2(text) so the shuffle key is 32 bytes regardless of
    document size; the representative text rides along as an aggregate
    (all values within a group are identical by construction).
    """
    return (
        df.withColumn("_h", content_hash(text_col))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias(id_col),
            F.first(text_col).alias(text_col),
            F.count("*").alias("n_copies"),
        )
        .drop("_h")
    )


def _shingles_from_tokens(toks_col: str, n: int) -> Column:
    """Distinct word n-grams from a materialized token-array column.
    Texts shorter than n words yield an empty array (sequence(0, -1)
    would count DOWN, so the short case is guarded explicitly).

    Gram construction is array_join(slice(toks, i+1, n)) — ONE slice
    per gram.  The per-element shape (n element_at calls + concat_ws
    inside the transform lambda) runs interpreted per reference and
    measured 4.4x slower at n=5; slice+join does the same work in one
    evaluator call (split() never yields nulls, and both forms skip
    nulls identically anyway)."""
    toks = F.col(toks_col)
    cnt = F.size(toks) - (n - 1)
    return F.when(
        cnt > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), cnt - 1),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, as a single
    expression (JVM-side only).  Prefer _shingled() inside operators —
    it stages tokenization into its own projection (see module note)."""
    toks = F.split(F.col(text_col), " ")
    cnt = F.size(toks) - (n - 1)
    return F.when(
        cnt > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), cnt - 1),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


_SPREAD_BARRIERS = (
    "Aggregate",
    "Join",
    "Window",
    "Sort",
    "Distinct",
    "Repartition",
    "Deduplicate",
    "GlobalLimit",
)


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism when the scan
    under-parallelizes (a small corpus in one parquet file — possibly
    a single row group, which no file-split config can open in
    parallel — would otherwise hash/shingle serially on one core).  A
    well-partitioned 100 TB input passes through untouched — no
    shuffle is added.

    Frames that already contain a shuffle-introducing node pass
    through WITHOUT the partition probe: under AQE,
    ``df.rdd.getNumPartitions()`` materializes the intermediate query
    stages — i.e. it EXECUTES the upstream aggregation just to count
    partitions (measured: one full extra execution of the pipeline's
    exact-dedup per call, r13) — and their post-shuffle parallelism is
    AQE's job (coalescePartitions.minPartitionSize keeps it honest).
    The probe is only taken for scan-shaped plans, where building the
    RDD runs no jobs."""
    target = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().analyzed().toString()
    if any(b in plan for b in _SPREAD_BARRIERS):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh) with tokenize and shingle as separate projections."""
    return _spread(df).select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("_toks")
    ).select("id", _shingles_from_tokens("_toks", n).alias("sh"))


def minhash_signature(text_col: str, n: int = 3, k: int = 64) -> Column:
    """k-wide MinHash signature over word-n-gram shingles, as a single
    column expression: sig[i] = min over shingles of
    (a_i * xxhash64(shingle) + b_i) mod p.

    One ``transform`` over the lane indices with the seed vectors as
    array literals — the shingle hashes are referenced once, so this
    composes with a materialized hash column without re-evaluation.
    """
    base = F.transform(
        word_shingles(text_col, n), lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P))
    )
    return _sig_from_hashes(base, k)


def _sig_from_hashes(hashes: Column, k: int) -> Column:
    a_vec = F.array(*[F.lit(a) for a in _MINHASH_A[:k]])
    b_vec = F.array(*[F.lit(b) for b in _MINHASH_B[:k]])
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                hashes,
                lambda h: F.pmod(
                    F.element_at(a_vec, i + 1) * h + F.element_at(b_vec, i + 1),
                    F.lit(_MERSENNE_P),
                ),
            )
        ),
    )


@functools.lru_cache(maxsize=8)
def _sig_udf(k: int):
    """numpy twin of ``_sig_from_hashes`` — IDENTICAL math ((a*h+b) mod
    p, min over shingles; all values < 2^62, no int64 overflow), Arrow-
    batched.  Nested higher-order-function lambdas run interpreted in
    Catalyst (no codegen across lambda boundaries), so the k x |sh|
    affine sweep is ~5x cheaper as one vectorized matrix op per doc;
    ``test_minhash_sig_udf_matches_expression`` pins the equivalence.
    Empty shingle sets yield all-null lanes, exactly like array_min
    over an empty array."""
    A = np.asarray(_MINHASH_A[:k], dtype=np.int64)[:, None]
    B = np.asarray(_MINHASH_B[:k], dtype=np.int64)[:, None]

    @F.pandas_udf("array<long>")
    def sig(hsh: pd.Series) -> pd.Series:
        out = []
        none_sig = [None] * k
        for arr in hsh:
            if arr is None or len(arr) == 0:
                out.append(none_sig)
                continue
            h = np.asarray(arr, dtype=np.int64)[None, :]
            out.append(((A * h + B) % _MERSENNE_P).min(axis=1).tolist())
        return pd.Series(out)

    return sig


#: leading ids per pair-expansion row: a K-wide group spreads its
#: K²/2 pair emission across ceil(K/C) rows of ≤ C*K pairs each
_PAIR_CHUNK = 64


def _chunk_rows(grouped: DataFrame, star_over: int | None) -> DataFrame:
    """(ids, _j) pair-expansion rows: ceil(K/C) per K-member group,
    but ONE for a star group (wider than ``star_over``) — it emits
    O(K) pairs from a single row, and chunking it would only ship
    ceil(K/C) copies of its id array through the repartition."""
    ids = F.col("ids")
    last_chunk = F.floor((F.size(ids) - 1) / _PAIR_CHUNK).cast("int")
    if star_over is not None:
        last_chunk = F.when(F.size(ids) <= star_over, last_chunk).otherwise(0)
    return grouped.select(
        "ids", F.explode(F.sequence(F.lit(0), last_chunk)).alias("_j")
    )


def _pairs_from_groups(
    grouped: DataFrame,
    star_over: int | None = None,
    drop_over: int | None = None,
) -> DataFrame:
    """(id1 < id2) pairs from a frame holding a SORTED member-id array
    column ``ids`` per group — the shared candidate-generation shape of
    every inverted-index dedup here (LSH buckets, shingle posting
    lists).  Pairs are emitted by a JVM array expression, no self-join,
    no window:

    - groups wider than ``star_over`` switch from all-pairs to a STAR
      on the minimum id (adversarial near-dup clusters stay O(width));
    - groups wider than ``drop_over`` are dropped entirely (stopword-
      frequency posting lists excluded from candidate generation).

    An explicit repartition spreads the group rows first — AQE
    otherwise coalesces the small aggregate to 1-2 partitions and
    serializes the quadratic expansion.

    The all-pairs expansion is CHUNKED (r13, guide §2.5): one
    K-member group previously emitted its K²/2 pairs from a single
    row — a single-key quadratic no AQE skew setting can split; the
    r13 skew probe (tools/probe_ngram_skew.py, one 3000-member
    near-dup family) measured the expansion stage at max/median
    task = 14.3x.  Each group now explodes into ceil(K/C) (ids, _j)
    rows first, and row _j emits only the pairs whose LEFT id sits in
    slice [_j*C, _j*C+C) — ≤ C*K pairs per row, spread by the
    repartition; every pair is still emitted exactly once.  Groups at
    or under C (the overwhelming majority — capped LSH buckets,
    collapsed posting lists) produce exactly one chunk row, so the
    common path only pays one extra int column."""
    if drop_over is not None:
        grouped = grouped.filter(F.size("ids") <= drop_over)
    C = _PAIR_CHUNK
    ids = F.col("ids")
    grouped = _chunk_rows(grouped, star_over).repartition(
        grouped.sparkSession.sparkContext.defaultParallelism
    )
    j0 = F.col("_j") * C
    chunk_pairs = F.flatten(
        F.transform(
            F.slice(ids, j0 + 1, C),
            lambda x, i: F.transform(
                F.slice(ids, j0 + i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    if star_over is not None:
        star = F.transform(
            F.slice(ids, 2, F.size(ids)),
            lambda y: F.struct(
                F.element_at(ids, 1).alias("id1"), y.alias("id2")
            ),
        )
        pair_expr = F.when(F.size(ids) <= star_over, chunk_pairs).otherwise(
            star
        )
    else:
        pair_expr = chunk_pairs
    return grouped.select(F.explode(pair_expr).alias("p")).select(
        "p.id1", "p.id2"
    )


#: broadcast the verification arrays only below this measured size —
#: comfortably inside executor memory and far from Spark's 8 GiB
#: broadcast cap
_VERIFY_BROADCAST_BYTES = 1 << 30


def _verify_join(
    cand: DataFrame,
    hashed: DataFrame,
    threshold: float,
    stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of (id1, id2) candidates against the
    per-doc sorted xxhash64 shingle arrays in ``hashed`` (id, hsh).

    Join-strategy choice is made from MEASURED stats, not planner
    estimates (which undercount array payloads badly — a 10x scale
    probe watched an estimated-small side build an 8.7 GiB broadcast
    and die at the 8 GiB cap):

    - when the whole array side measures under ~1 GiB, BROADCAST it:
      candidate volume is typically many times the doc count, and
      map-side verification avoids shuffling two array copies per
      candidate pair (measured 3.7x on a 40M-candidate corpus);
    - otherwise force SORT-MERGE on the id keys — linear, spill-safe,
      never a surprise broadcast build.

    ``stats`` = (n_docs, total_hashes) when the caller already ran the
    materializing aggregate (both operators fold it into their eager
    persist pass — no extra job); otherwise one aggregate over
    ``hashed`` (which must then be cheap to re-scan)."""
    if stats is None:
        stats = hashed.agg(F.count("*"), F.sum(F.size("hsh"))).first()
    n_docs, tot = stats
    # 8 bytes per hash + ~3x JVM object/row overhead + per-row slack
    est_bytes = (tot or 0) * 24 + n_docs * 64
    small = est_bytes < _VERIFY_BROADCAST_BYTES
    v1 = hashed.select(F.col("id").alias("id1"), F.col("hsh").alias("hs1"))
    v2 = hashed.select(F.col("id").alias("id2"), F.col("hsh").alias("hs2"))
    if small:
        v1, v2 = F.broadcast(v1), F.broadcast(v2)
    else:
        v1, v2 = v1.hint("merge"), v2.hint("merge")
    # |A∪B| = |A| + |B| - |A∩B| (hash arrays are sets, and both the
    # operator and its DuckDB oracle already lean on collision-free
    # hashing for |A∩B| itself): ONE array_intersect hash build per
    # pair instead of intersect + union — the verify stage is the
    # candidate-volume hot loop (513 CPU-s at the 10x corpus, r13).
    # The threshold filter runs on the materialized _i/_n arithmetic,
    # never on an expression containing the intersect, so predicate
    # pushdown cannot duplicate the expensive build (guide §4.4).
    paired = (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("hs1", "hs2")).alias("_i"),
            (F.size("hs1") + F.size("hs2")).alias("_n"),
        )
    )
    return (
        paired.withColumn(
            "jaccard",
            F.round(F.col("_i") / (F.col("_n") - F.col("_i")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    k: int = 64,
    bands: int = 32,
    max_bucket_width: int | None = None,
    eager_index: bool = True,
) -> DataFrame:
    """MinHash LSH candidate generation + exact Jaccard verification.

    bands x rows = k; a pair is a candidate if any band of the
    signature collides (bucket equi-join — linear shuffle).  Candidates
    are then exact-verified so the output contains no false positives;
    with 32 bands of 2 rows, recall at J>=0.5 is 1-(1-0.25)^32 ~ 0.9999.

    ``max_bucket_width`` bounds the quadratic term under adversarial
    skew: a cluster of near-identical documents collides in EVERY band,
    making one bucket O(cluster^2).  Buckets wider than the cap switch
    from all-pairs to a STAR pattern — every member pairs with the
    bucket's minimum id only — so candidate volume per bucket is
    O(width) while every member of a pathological near-dup cluster is
    still verified against the cluster representative.  Buckets at or
    under the cap are unaffected (exact all-pairs).

    The (id, shingles, signature) frame is persisted (memory-and-disk):
    it feeds the bucket join AND both sides of the verification join,
    and signatures are exactly the thing LSH precomputes once at scale.

    ``eager_index`` is retained for API compatibility but has NO
    effect since the verification join started choosing its strategy
    from measured stats: the stats aggregate materializes the
    persisted frame up front in every case (results were always
    identical either way; only the old lazy-first-consumer timing
    behavior is gone).
    """
    if bands <= 0 or k % bands:
        raise ValueError(
            f"bands ({bands}) must divide k ({k}) — otherwise band "
            "hashes are built from empty/truncated signature slices "
            "and every document collides in every band"
        )
    rows = k // bands
    # verification runs on the RAW xxhash64 shingle sets, not the
    # strings: |A∩B| and |A∪B| are identical under a collision-free
    # hash, and int64 arrays are ~4x cheaper to persist and shuffle
    # than the string shingles (collisions at corpus scale: ~n²/2⁶⁴ —
    # the mod-p reduction is applied ONLY inside the signature math,
    # where the 2³¹ space would otherwise inflate intersections).
    # Documents with no shingles (shorter than n words) are dropped:
    # they have no content to near-dup against, and their all-null
    # signatures would otherwise collide in every band.  The emptiness
    # test is staged on the TOKEN count (size(sh) > 0 ⟺ size(toks)
    # >= n by construction): a filter on `sh` itself gets pushdown-
    # copied below _spread's round-robin exchange WITH the whole
    # interpreted shingle lambda, serializing the shingle pass onto
    # the unspread scan — measured 29 s of a 38 s query at the 10x
    # corpus (r13; the same pathology r12 fixed in decontaminate).
    # The token-count predicate pushes down as split+size only.
    sh = (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), " ").alias("_toks"),
        )
        .filter(F.size("_toks") >= n)
        .select("id", _shingles_from_tokens("_toks", n).alias("sh"))
        .select(
            "id",
            F.array_sort(
                F.transform("sh", lambda s: F.xxhash64(s))
            ).alias("hsh"),
        )
        .select(
            "id",
            "hsh",
            _sig_udf(k)(
                F.transform(
                    "hsh", lambda h: F.pmod(h, F.lit(_MERSENNE_P))
                )
            ).alias("sig"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # The signature frame is ALWAYS materialized up front now: `sh`
    # has three consumers (the bucket build and both sides of the
    # verification join) — independent stages the scheduler runs
    # CONCURRENTLY, and a cold persist gives no cross-stage locking:
    # concurrent stages each recompute the uncached partitions
    # (shingle -> minhash), measured as erratic 2-10x swings at sf0.1.
    # The materializing pass doubles as the verify-side size probe
    # (n_docs, total hashes) — the join-strategy decision needs those
    # stats at plan time anyway, so eager_index is retained only for
    # API compatibility (results were always identical either way).
    stats = tuple(sh.agg(F.count("*"), F.sum(F.size("hsh"))).first())
    band_cols = [
        F.hash(F.slice("sig", i * rows + 1, rows), F.lit(i)).alias("band_hash")
        for i in range(bands)
    ]
    buckets = sh.select(
        "id",
        F.posexplode(F.array(*[F.struct(c.alias("h")) for c in band_cols])).alias(
            "band", "bh"
        ),
    ).select("id", "band", F.col("bh.h").alias("band_hash"))
    # ONE aggregation per (band, bucket): collect the sorted member-id
    # array, then generate candidate pairs as a JVM array expression —
    # no window pass, no bucket self-join.  The shuffle is the same
    # (band_hash, id) volume the join shape moved, but pairs within a
    # bucket are emitted by a single task from an in-memory array,
    # which is exactly the bucket-local quadratic the LSH cap bounds.
    grouped = buckets.groupBy("band", "band_hash").agg(
        F.array_sort(F.collect_list("id")).alias("ids")
    )
    # (measured, not guessed: collapsing identical bucket arrays
    # across bands before expansion — grouped.select("ids").distinct()
    # — costs a full exchange of the bucket arrays and only saves
    # duplicate 16-byte pair rows the downstream .distinct() removes
    # anyway; net +0.5 s at sf0.1, ~neutral at 10x.  The ngram path
    # keeps the collapse because there identical posting lists arise
    # per-SHINGLE — hundreds per near-dup family.)
    cand = _pairs_from_groups(grouped, star_over=max_bucket_width).distinct()
    return _verify_join(cand, sh.select("id", "hsh"), threshold, stats=stats)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via a PREFIX-FILTERED inverted
    index (the AllPairs/PPJoin prefix principle — Bayardo et al.
    WWW'07, Xiao et al. WWW'08, both public):

    under any global token order, two sets with Jaccard >= t must
    share a token among each set's first ``|d| - ceil(t * |d|) + 1``
    tokens.  Ordering tokens by ASCENDING document frequency therefore
    lets candidate generation index only each document's RAREST
    shingles — the stopword/boilerplate shingles whose posting lists
    explode quadratically never enter the index at all.  Candidates
    are verified on their full xxhash64 shingle sets, so every
    returned jaccard is exact (no false positives, ever).

    Recall contract, by mode:

    - ``max_doc_frequency=None`` (default): GUARANTEED complete — the
      prefix theorem ensures every pair at the threshold is a
      candidate.  (The earlier bound-and-verify design could miss a
      pair whose every shared shingle was hot.)
    - ``max_doc_frequency=N``: prefix posting lists wider than N are
      additionally dropped, trading a bounded quadratic term for a
      WEAKER recall contract: a pair is missed iff every prefix token
      it shares is hot.  NOTE this is incomparable to (not stronger
      than) the old cap contract ("missed iff every shared token
      anywhere is hot") — a pair whose shared rare tokens all rank
      outside its prefixes is found by the old rule but not this one.
      In practice near-dups share rare shingles, rare shingles rank
      FIRST in prefixes, and the exactness oracle stays green; use
      None when completeness is contractual.

    Scale shape: df-count and prefix selection are linear shuffles;
    the per-doc rank window is hash-partitioned on the doc id; the
    only quadratic term is within a single PREFIX posting list, and
    identical posting lists are collapsed before pair expansion
    (duplicate-heavy corpora produce hundreds of identical lists per
    near-dup family).  All pair x doc joins are sort-merge — planner
    size estimates undercount array payloads, and a 10x scale probe
    watched one "small" side build an 8.7 GiB broadcast and die.
    """
    from pyspark.sql import Window

    # sh feeds the prefix index, the size sides, and both verify
    # sides — persist + materialize ONCE (the deterministic-eager
    # lesson from the LSH path)
    sh = (
        _shingled(df, id_col, text_col, n)
        .withColumn("sh_size", F.size("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the materializing pass doubles as the verify-side size probe
    stats = tuple(sh.agg(F.count("*"), F.sum("sh_size")).first())
    posting = sh.select(
        "id", "sh_size", F.explode("sh").alias("shingle")
    )
    dfreq = posting.groupBy("shingle").agg(F.count("*").alias("df"))
    # relaxed by the final filter's round-to-4 half-width: a pair with
    # true jaccard in [threshold - 5e-5, threshold) rounds INTO the
    # threshold downstream, so the prefix length must not exclude it
    t = threshold - 0.00005
    rank_w = Window.partitionBy("id").orderBy("df", "shingle")
    pref = (
        posting.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(
            F.col("rn")
            <= F.col("sh_size") - F.ceil(F.lit(t) * F.col("sh_size")) + 1
        )
    )
    if max_doc_frequency is not None:
        pref = pref.filter(F.col("df") <= max_doc_frequency)
    grouped = pref.groupBy("shingle").agg(
        F.array_sort(F.collect_list("id")).alias("ids")
    )
    # posting-list collapse (inverted-index stripe compression):
    # identical member arrays emit their pairs once, not once per
    # shingle
    cand = _pairs_from_groups(
        grouped.filter(F.size("ids") >= 2).select("ids").distinct()
    ).distinct()
    # RAW 64-bit hashes: the mod-p space (2^31) would produce
    # ~|A||B|/2^31 spurious intersections on large shingle sets,
    # breaking the "exact jaccard" contract near the threshold
    hashed = sh.select(
        "id",
        F.array_sort(F.transform("sh", lambda s: F.xxhash64(s))).alias(
            "hsh"
        ),
    )
    return _verify_join(cand, hashed, threshold, stats=stats)


def simhash64(text_col: str) -> Column:
    """64-bit SimHash over word hashes: sum per-bit +/-1 contributions
    of each token's xxhash64, take the sign bit-vector.  Single-column
    form; simhash_pairs stages the token hashing separately.
    """
    hashes = F.transform(
        F.array_distinct(F.split(F.col(text_col), " ")), lambda t: F.xxhash64(t)
    )
    return _simhash_from_hashes(hashes)


def _simhash_from_hashes(hashes: Column) -> Column:
    bits = [
        F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
            )
            > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    out = F.lit(0).cast("long")
    for i, bit in enumerate(bits):
        out = out + F.shiftleft(bit, i)
    return out


def simhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs over an md5-derived 64-bit token hash —
    the CROSS-ENGINE-DETERMINISTIC variant of :func:`simhash_pairs`.

    ``simhash_pairs`` hashes tokens with Spark's xxhash64, which no
    other engine reproduces, so its output can only be rows-only
    checked.  This variant derives the 64 token-hash bits from the
    LOWER 8 bytes of ``md5(token)`` read little-endian — exactly
    DuckDB's ``md5_number_lower`` — so an independent SQL engine can
    re-derive every signature, band, candidate and hamming distance
    bit-for-bit (the ``dedup_simhash_md5`` oracle does).  Tie rule:
    a zero bit-sum rounds UP (bit = 1).

    Same scale shape as simhash_pairs: banded LSH on 4x16-bit slices
    (never all-pairs; pigeonhole-exact for max_hamming < 4), exact
    ``bit_count(xor)`` verification on candidates.  Everything is
    JVM-side expressions — per-token md5 + byte slicing, 64
    conditional sums, band equi-join — no Python in the plan.
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("t"),
    )
    h = F.md5(F.col("t"))
    # digest bytes 8..15 little-endian == DuckDB md5_number_lower:
    # byte k of the value is hex chars (17+2k, 18+2k) of the digest
    tb = toks.select(
        "id",
        *[
            F.conv(F.substring(h, 17 + 2 * k, 2), 16, 10)
            .cast("int")
            .alias(f"b{k}")
            for k in range(8)
        ],
    )
    sums = tb.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col(f"b{i // 8}"), i % 8)
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"s{i}")
            for i in range(64)
        ]
    )
    sig_expr = None
    for i in range(64):
        bit = F.shiftleft((F.col(f"s{i}") >= 0).cast("long"), i)
        sig_expr = bit if sig_expr is None else sig_expr.bitwiseOR(bit)
    sigs = sums.select("id", sig_expr.alias("sig"))
    return _sig_banded_pairs(sigs, max_hamming)



def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Banded LSH on 16-bit slices of the signature: any pair within
    hamming k < bands must share at least one exact band (pigeonhole),
    so the equi-join on (band, slice) finds all candidates when
    max_hamming < bands ... for max_hamming >= bands this is a
    high-recall heuristic; candidates are exact-verified via
    bit_count(xor).
    """
    sigs = (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(F.split(F.col(text_col), " ")).alias("_toks"),
        )
        .select(
            "id", F.transform("_toks", lambda t: F.xxhash64(t)).alias("_th")
        )
        .select("id", _simhash_from_hashes(F.col("_th")).alias("sig"))
    )
    return _sig_banded_pairs(sigs, max_hamming, bands)


def _sig_banded_pairs(
    sigs: DataFrame, max_hamming: int, bands: int = 4
) -> DataFrame:
    """Shared banded-LSH core over ``(id, sig)`` 64-bit signatures:
    explode into ``bands`` equal slices, equi-join on (band, slice)
    (pigeonhole-complete for hamming < bands), exact-verify candidates
    with ``bit_count(xor)``.  Both SimHash front-ends (xxhash64-fast
    and md5-oracle-checkable) produce the same signature shape and
    share this tail.

    The (id, sig) frame is persisted and materialized eagerly: it
    feeds BOTH sides of the band self-join, and without the cache the
    whole signature computation (per-token hashing + the 64-term
    bit-sum aggregate) ran twice — the planner does not recognize the
    two sides as a reusable exchange (r12, guide §2.4; the same
    deterministic-eager lesson as the MinHash path).  16 bytes a row,
    so the cache is metadata-scale at any corpus size."""
    from pyspark.storagelevel import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()  # materialize before the two concurrent consumers
    width = 64 // bands
    slices = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("sig", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("slice"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("id", "sig", "b.band", "b.slice")
    a = slices.alias("a")
    b = slices.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def cluster_components(
    pairs: DataFrame,
    id_a: str = "id1",
    id_b: str = "id2",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    ``(id, cluster_id)`` where ``cluster_id`` is the smallest id
    reachable through the pairs — the canonical representative every
    fuzzy-dedup pipeline needs after pair generation (keep one doc per
    cluster, drop the rest).

    Min-label propagation with ADAPTIVE pointer jumping: each round
    takes the per-node minimum of own and neighbor labels over the
    edge list; from round 3 on, a shortcut ``label <- label[label]``
    (one self-join on the label id) is added, halving the remaining
    distance to the component minimum per round.  Dedup graphs are
    overwhelmingly tiny cliques (diameter 1-2, converge in 2 rounds —
    measured: the unconditional jump doubled round cost for nothing),
    but a long near-dup CHAIN (boilerplate drift across a crawl) still
    converges in O(log diameter) rounds once jumping engages.  Every
    round is pure joins over the PAIRS (never the corpus), shuffling
    O(edges).  The loop stops as soon as an iteration changes nothing
    and fails loudly past ``max_iter`` rather than returning a
    half-converged labeling.
    """
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .persist()
    )
    # Eager: the union reads `pairs` twice and every round reads
    # `edges`; a lazy persist lets the first round's stages recompute
    # the whole upstream (LSH chain) concurrently — materialize ONCE,
    # deterministically, before iterating.
    edges.count()
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    try:
        for it in range(max_iter):
            nbr = (
                edges.join(labels, edges.b == labels.id)
                .groupBy("a")
                .agg(F.min("label").alias("nbr_label"))
            )
            stepped = labels.join(nbr, labels.id == nbr.a, "left").select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            if it >= 2:
                # still unconverged after 2 rounds -> a deep component;
                # engage pointer jumping (label <- label[label]; labels
                # are node ids, so the lookup is one self-join)
                jump = stepped.select(
                    F.col("id").alias("label"), F.col("label").alias("_jump")
                )
                stepped = stepped.join(jump, "label", "left").select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("_jump", "label")
                    ).alias("label"),
                )
            new_labels = stepped.persist()
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                # localCheckpoint materializes the result and cuts the
                # iterative lineage, so the working persist can be
                # RELEASED here — otherwise every call leaks one cached
                # frame into executor storage for the session lifetime
                out = labels.select(
                    "id", F.col("label").alias("cluster_id")
                ).localCheckpoint(eager=True)
                return out
        raise RuntimeError(
            f"cluster_components did not converge in {max_iter} iterations"
        )
    finally:
        edges.unpersist()
        labels.unpersist()
